"""Ad-hoc SQL entry point (SURVEY.md §3 lifecycle, entry point b).

The reference delegates its entire query layer to BigQuery SQL — "each
data analysis question is separately queried on a daily basis"
(`/root/reference/README.md:15-24`). This module is that surface: the
fixture tables registered as views and queries expressed as
``spark.sql(...)`` text rather than DataFrame calls, planned by the
same Catalyst pipeline (pushdown/pruning/join selection apply
identically — SQL and DataFrame code meet in the same logical plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ug_dwh_etl_spark.functions.urls import url_levels_sql
from ug_dwh_etl_spark.plans.reference_pipelines import URL_SPARK
from ug_dwh_etl_spark.queries.macros import URL_DUCK
from ug_dwh_etl_spark.queries.registry import register, table

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register every fixture table as a temp view so users can run
    arbitrary ``spark.sql`` over them (the warehouse catalog surface;
    in production this is a real metastore/catalog, not temp views)."""
    for name in tables:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def run_sql(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(sql)


# --- dashboard shape: daily history rollup (the reference's per-day
#     pre-computed query tables, README.md:15) -------------------------------
_DAILY_SQL_SPARK = """
    SELECT date_format(o_orderdate, 'yyyy-MM-dd') AS day,
           o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS daily_total
    FROM orders
    GROUP BY day, o_orderpriority
"""

_DAILY_SQL_DUCKDB = """
    SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
           o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS daily_total
    FROM orders
    GROUP BY day, o_orderpriority
"""


@register("sql_adhoc_daily_orders", _DAILY_SQL_DUCKDB)
def sql_adhoc_daily_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = run_sql(spark, sf_dir, _DAILY_SQL_SPARK)
    return df.withColumn("daily_total", df.daily_total.cast("double"))


# --- dashboard shape: per-directory URL rollup (the content ⋈ inlinks
#     analysis the reference comments at sf_html_data.py:20) -----------------
# documents.source is a plain label ('src1'); build the crawl-style URL
# the reference splits (sf_html_data.py:109-115) and roll up by its
# directory (lang) and first page level (source label).
_DOC_URL = "'https://example.com/' || lang || '/' || source || '/index.html'"

_DIR_SPARK = f"""
    WITH lv AS (
      SELECT {', '.join(url_levels_sql(_DOC_URL, dialect='spark')[:3])},
             n_chars
      FROM documents)
    SELECT root, directory, page_level1, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM lv
    GROUP BY root, directory, page_level1
"""

_DIR_DUCKDB = f"""
    WITH lv AS (
      SELECT {', '.join(url_levels_sql(_DOC_URL, dialect='duckdb')[:3])},
             n_chars
      FROM documents)
    SELECT root, directory, page_level1, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM lv
    GROUP BY root, directory, page_level1
"""


@register("sql_adhoc_directory_rollup", _DIR_DUCKDB)
def sql_adhoc_directory_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_sql(spark, sf_dir, _DIR_SPARK)


# --- dashboard shape: latest-rank-per-url time series (history table
#     keyed by crawl_date, Audisto/audisto.py:147-159) -----------------------
_TREND_SPARK = """
    WITH hist AS (
      SELECT o_custkey,
             date_format(o_orderdate, 'yyyy-MM-dd') AS day,
             o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders)
    SELECT o_custkey, day AS latest_day,
           ROUND(o_totalprice, 2) AS latest_total
    FROM hist WHERE rn = 1
"""

_TREND_DUCKDB = """
    WITH hist AS (
      SELECT o_custkey,
             strftime(o_orderdate, '%Y-%m-%d') AS day,
             o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders)
    SELECT o_custkey, day AS latest_day,
           ROUND(o_totalprice, 2) AS latest_total
    FROM hist WHERE rn = 1
"""


@register("sql_adhoc_latest_snapshot", _TREND_DUCKDB)
def sql_adhoc_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_sql(spark, sf_dir, _TREND_SPARK)


_RECURSIVE_SQL = """
    WITH RECURSIVE anc(node, anc, depth) AS (
      SELECT n_nationkey, n_nationkey, 0 FROM nation
      UNION ALL
      SELECT a.node, CAST(FLOOR(a.anc / 2.0) AS INT), a.depth + 1
      FROM anc a WHERE a.anc > 0
    )
    SELECT node, CAST(MAX(depth) AS BIGINT) AS depth_to_root
    FROM anc GROUP BY node
"""


@register("sql_recursive_hierarchy", _RECURSIVE_SQL)
def sql_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): walk a synthetic
    parent-of hierarchy (parent(k) = floor(k/2), rooted at 0) to each
    node's depth — the org-chart / BOM-explosion query shape. Iteration
    count is bounded by tree depth (log n), each step a self-join the
    engine unions breadth-first; the identical SQL runs on both
    engines."""
    return run_sql(spark, sf_dir, _RECURSIVE_SQL)


# --- SQL-defined macro functions (Spark 4 SQL UDFs, Catalyst-inlined) ----------
#
# The expression-macro library (functions/) exposed to the ad-hoc SQL
# entry point as CREATE TEMPORARY FUNCTION ... RETURN <expression>: the
# body is inlined into the plan (no UDF call boundary, full codegen +
# pushdown), so dashboard authors writing plain SQL get the engine's
# derived-column semantics (C1 url levels, C10 locale decimal, C12
# lenient int) without importing Python.

SQL_MACROS = (
    "CREATE OR REPLACE TEMPORARY FUNCTION url_root(u STRING) RETURNS STRING "
    "RETURN element_at(split(u, '/'), 3)",
    "CREATE OR REPLACE TEMPORARY FUNCTION url_directory(u STRING) RETURNS STRING "
    "RETURN element_at(split(u, '/'), 4)",
    "CREATE OR REPLACE TEMPORARY FUNCTION url_page_level(u STRING, j INT) RETURNS STRING "
    "RETURN element_at(split(u, '/'), j + 4)",
    "CREATE OR REPLACE TEMPORARY FUNCTION locale_decimal(s STRING) RETURNS DOUBLE "
    "RETURN CAST(replace(replace(s, '.', ''), ',', '.') AS DOUBLE)",
    "CREATE OR REPLACE TEMPORARY FUNCTION lenient_int(s STRING) RETURNS BIGINT "
    "RETURN COALESCE(TRY_CAST(s AS BIGINT), 0)",
)


def register_sql_macros(spark: SparkSession) -> None:
    for ddl in SQL_MACROS:
        spark.sql(ddl)


@register(
    "sql_macro_rollup",
    f"""
    SELECT string_split(address, '/')[3] AS root,
           string_split(address, '/')[4] AS directory,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT {URL_DUCK} AS address FROM documents)
    GROUP BY root, directory
    """,
)
def sql_macro_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_sql_macros(spark)
    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT url_root(address) AS root,
               url_directory(address) AS directory,
               COUNT(*) AS n
        FROM (SELECT {URL_SPARK} AS address FROM documents)
        GROUP BY root, directory
        """
    )


# --- Spark 4 SQL pipe syntax -------------------------------------------------
@register(
    "sql_pipe_syntax",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's SQL PIPE syntax (`FROM t |> WHERE … |> AGGREGATE …`) —
    the linear query-writing surface SQL analysts migrate to; each |>
    stage lowers into the SAME Catalyst logical plan as the classic
    spelling (the oracle here IS that classic spelling), so pushdown,
    pruning and join selection are identical. API-coverage proof that
    the ad-hoc entry point accepts both dialects."""
    df = run_sql(
        spark,
        sf_dir,
        """
        FROM orders
        |> WHERE o_orderstatus = 'F'
        |> AGGREGATE COUNT(*) AS n_orders,
                     SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS total
           GROUP BY o_orderpriority
        """,
    )
    return df.select(
        "o_orderpriority", "n_orders", df.total.cast("double").alias("total")
    )


# --- parameterized SQL (named placeholders) ----------------------------------
_PARAM_THRESHOLD = 450000.0


@register(
    "sql_parameterized",
    f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_big,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
    FROM orders
    WHERE o_totalprice > {_PARAM_THRESHOLD}
    GROUP BY o_orderpriority
    """,
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (`spark.sql(sql, args={...})`): the
    injection-safe way a dashboard passes user inputs — the parameter
    binds as a typed literal in the plan (constant-folded, filter still
    pushed to the scan), never string concatenation. The oracle inlines
    the same literal."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_big,
               CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
        FROM orders
        WHERE o_totalprice > :threshold
        GROUP BY o_orderpriority
        """,
        args={"threshold": _PARAM_THRESHOLD},
    )


# --- correlated LATERAL subquery: per-row dependent top-k ------------------------
_LATERAL_SQL = """
    SELECT c_custkey, c_mktsegment, o.o_orderkey, o.o_totalprice
    FROM customer,
    LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_custkey = c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) AS o
    WHERE c_custkey % 100 = 0
"""


@register("sql_lateral_top_orders", _LATERAL_SQL)
def sql_lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery — the per-row dependent-subquery
    join (each customer's top-2 orders) that SQL:2016 users reach for
    before they learn the window-rank rewrite, run VERBATIM on both
    engines: the identical statement text is the Spark query and the
    oracle (the strongest ANSI-parity statement the ad-hoc layer makes;
    same contract as sql_recursive_hierarchy). Catalyst decorrelates
    the LATERAL into the same rank-window/join plan you'd write by
    hand, so the feature costs nothing at scale — and the deterministic
    ORDER BY ... LIMIT inside the lateral keeps both engines' top-2
    identical."""
    return run_sql(spark, sf_dir, _LATERAL_SQL)
