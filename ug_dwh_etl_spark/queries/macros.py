"""Expression-macro queries: the reference's scalar surface (SURVEY.md
§2.10 C1-C14, §2.3-§2.4) exercised over the synthetic tables.

Each query builds reference-shaped inputs from the fixture columns
(documents.source as URL material, orders/lineitem for dates and money)
and applies the macro library — every one a native Column expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ug_dwh_etl_spark.functions.dates import days_between, to_day
from ug_dwh_etl_spark.functions.numeric import fill_cast, lenient_int, locale_decimal
from ug_dwh_etl_spark.functions.text import bool_label, concat_ws_skipnull, regex_case, rlike_any
from ug_dwh_etl_spark.functions.urls import url_levels
from ug_dwh_etl_spark.plans.reference_pipelines import PIC_RE, URL_SPARK, doc_ext
from ug_dwh_etl_spark.queries.registry import register, table

# The oracle spelling of plans.reference_pipelines.URL_SPARK.
URL_DUCK = "'https://www.example.com/' || lang || '/' || source || '/p' || doc_id::VARCHAR"


# --- C1: url_levels — the signature macro ------------------------------------
@register(
    "macro_url_levels",
    f"""
    SELECT doc_id,
           string_split(u, '/')[3] AS root,
           string_split(u, '/')[4] AS directory,
           string_split(u, '/')[5] AS page_level1,
           string_split(u, '/')[6] AS page_level2,
           string_split(u, '/')[7] AS page_level3,
           string_split(u, '/')[8] AS page_level4
    FROM (SELECT doc_id, {URL_DUCK} AS u FROM documents)
    """,
)
def macro_url_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").withColumn("u", F.expr(URL_SPARK))
    return docs.select("doc_id", *url_levels("u").values())


# --- C2+C3: picture regex + bool→label (doctype split input) -----------------
@register(
    "macro_doctype_label",
    f"""
    SELECT doc_id, address,
           CASE WHEN regexp_matches(address, '(?i)\\.(jpg|jpeg|png|gif|webp|svg|bmp|ico)$')
                THEN 'Picture' ELSE 'HTML' END AS doctype
    FROM (
      SELECT doc_id,
             {URL_DUCK} ||
             CASE doc_id % 4 WHEN 0 THEN '.jpg' WHEN 1 THEN '.PNG'
                             WHEN 2 THEN '.html' ELSE '.pdf' END AS address
      FROM documents)
    """,
)
def macro_doctype_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        table(spark, sf_dir, "documents")
        .withColumn("address", F.concat(F.expr(URL_SPARK), doc_ext()))
    )
    is_pic = rlike_any("address", [PIC_RE])
    return docs.select("doc_id", "address", bool_label(is_pic, "Picture", "HTML").alias("doctype"))


# --- C4: 3-way regex CASE (website_type shape) -------------------------------
@register(
    "macro_website_type",
    """
    SELECT doc_id, source,
           CASE WHEN regexp_matches(source, '^src[0-9]$')  THEN 'Internal'
                WHEN regexp_matches(source, '^src1[0-9]$') THEN 'Whitelabel'
                ELSE 'External' END AS website_type
    FROM documents
    """,
)
def macro_website_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    wt = regex_case(
        "source",
        [("^src[0-9]$", "Internal"), ("^src1[0-9]$", "Whitelabel")],
        "External",
    )
    return docs.select("doc_id", "source", wt.alias("website_type"))


# --- C5: timestamp → day truncation + month formatting -----------------------
@register(
    "macro_dates_truncate",
    """
    SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
           COUNT(*) AS n,
           strftime(MIN(o_orderdate), '%Y-%m-%d') AS first_day
    FROM orders
    GROUP BY order_month
    """,
)
def macro_dates_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return (
        orders.withColumn("order_month", F.date_format("o_orderdate", "yyyy-MM"))
        .groupBy("order_month")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.date_format(F.min(to_day("o_orderdate")), "yyyy-MM-dd").alias("first_day"),
        )
    )


# --- C10: German-locale decimal parse ----------------------------------------
# Build '<qty>,25' and '1.<qty in 3 digits>,50' shaped strings from
# l_quantity (integral 1..50) so both engines parse identical inputs.
@register(
    "macro_locale_decimal",
    """
    SELECT ROUND(SUM(CAST(REPLACE(REPLACE(simple, '.', ''), ',', '.') AS DOUBLE)), 2)  AS sum_simple,
           ROUND(SUM(CAST(REPLACE(REPLACE(grouped, '.', ''), ',', '.') AS DOUBLE)), 2) AS sum_grouped
    FROM (
      SELECT CAST(l_quantity AS BIGINT)::VARCHAR || ',25' AS simple,
             '1.' || lpad(CAST(l_quantity AS BIGINT)::VARCHAR, 3, '0') || ',50' AS grouped
      FROM lineitem)
    """,
)
def macro_locale_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("bigint").cast("string")
    built = li.select(
        F.concat(qty, F.lit(",25")).alias("simple"),
        F.concat(F.lit("1."), F.lpad(qty, 3, "0"), F.lit(",50")).alias("grouped"),
    )
    return built.agg(
        F.round(F.sum(locale_decimal("simple").cast("double")), 2).alias("sum_simple"),
        F.round(F.sum(locale_decimal("grouped").cast("double")), 2).alias("sum_grouped"),
    )


# --- C12: lenient numeric cast -------------------------------------------------
@register(
    "macro_lenient_int",
    """
    SELECT o_orderpriority,
           CAST(SUM(COALESCE(TRY_CAST(o_orderpriority AS BIGINT), 0)) AS BIGINT) AS raw_casts,
           CAST(SUM(COALESCE(TRY_CAST(regexp_extract(o_orderpriority, '^([0-9]+)', 1) AS BIGINT), 0)) AS BIGINT)
             AS digit_casts
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def macro_lenient_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.sum(lenient_int("o_orderpriority")).alias("raw_casts"),
        F.sum(lenient_int(F.regexp_extract("o_orderpriority", "^([0-9]+)", 1))).alias(
            "digit_casts"
        ),
    )


# --- C13: fill-null + cast (intended semantics of the reference bug) ----------
@register(
    "macro_fill_cast",
    """
    SELECT ROUND(SUM(COALESCE(TRY_CAST(v AS DOUBLE), 0.0)), 2) AS filled_sum,
           COUNT(*) AS n
    FROM (SELECT CASE WHEN l_linenumber % 3 = 0 THEN NULL
                      ELSE l_extendedprice::VARCHAR END AS v
          FROM lineitem)
    """,
)
def macro_fill_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    v = F.when(F.col("l_linenumber") % 3 == 0, F.lit(None)).otherwise(
        F.col("l_extendedprice").cast("string")
    )
    return li.select(v.alias("v")).agg(
        F.round(F.sum(fill_cast("v")), 2).alias("filled_sum"),
        F.count(F.lit(1)).alias("n"),
    )


# --- C8: NULL-skipping delimited concat ----------------------------------------
@register(
    "macro_concat_ws_skipnull",
    """
    SELECT c_custkey,
           concat_ws(', ', c_name,
                     CASE WHEN c_nationkey % 2 = 0 THEN c_mktsegment END,
                     CASE WHEN c_nationkey % 3 = 0 THEN 'vip' END) AS joined
    FROM customer
    """,
)
def macro_concat_ws_skipnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    seg = F.when(F.col("c_nationkey") % 2 == 0, F.col("c_mktsegment"))
    vip = F.when(F.col("c_nationkey") % 3 == 0, F.lit("vip"))
    return cust.select(
        "c_custkey",
        concat_ws_skipnull(", ", [F.col("c_name"), seg, vip]).alias("joined"),
    )


# --- C11: date difference (booking lead-time shape) ------------------------------
@register(
    "macro_days_between",
    """
    SELECT o_orderpriority,
           ROUND(AVG(DATE_DIFF('day', o_orderdate::DATE, l_shipdate::DATE)), 6) AS avg_lead_days,
           MAX(DATE_DIFF('day', o_orderdate::DATE, l_shipdate::DATE)) AS max_lead_days
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def macro_days_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    lead = days_between("l_shipdate", "o_orderdate")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.avg(lead), 6).alias("avg_lead_days"),
            F.max(lead).alias("max_lead_days"),
        )
    )


# --- P1/P7: regex projection + name normalization --------------------------------
# Regex column-keep is planner-side name resolution; exercised here by
# selecting the l_* metric columns by pattern and emitting normalized names.
@register(
    "macro_regex_projection",
    """
    SELECT l_orderkey AS orderkey,
           ROUND(l_quantity, 2) AS quantity,
           ROUND(l_extendedprice, 2) AS extendedprice,
           ROUND(l_discount, 2) AS discount,
           ROUND(l_tax, 2) AS tax
    FROM lineitem WHERE l_linenumber = 1
    """,
)
def macro_regex_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re

    li = table(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1)
    keep = re.compile(r"^l_(orderkey|quantity|extendedprice|discount|tax)$")
    cols = [c for c in li.columns if keep.match(c)]
    projected = li.select(*cols)
    renamed = projected.toDF(*[c.removeprefix("l_") for c in projected.columns])
    return renamed.select(
        "orderkey",
        F.round("quantity", 2).alias("quantity"),
        F.round("extendedprice", 2).alias("extendedprice"),
        F.round("discount", 2).alias("discount"),
        F.round("tax", 2).alias("tax"),
    )


# --- URL canonicalization (crawl-dedup normalizer) -----------------------------
def _canon_sql() -> str:
    from ug_dwh_etl_spark.functions.urls import sql_url_canonicalize

    messy = """CASE doc_id % 4
      WHEN 0 THEN 'HTTPS://WWW.Example.COM/dir/d' || (doc_id // 4)::VARCHAR
      WHEN 1 THEN 'https://www.example.com/dir/d' || (doc_id // 4)::VARCHAR
                  || '?utm_source=news&utm_campaign=x&gclid=abc'
      WHEN 2 THEN 'https://www.example.com/dir/d' || (doc_id // 4)::VARCHAR
                  || '/#section-2'
      ELSE 'https://www.example.com//dir//d' || (doc_id // 4)::VARCHAR END"""
    return f"""
    WITH c AS (
      SELECT doc_id // 4 AS grp, {sql_url_canonicalize(messy)} AS canon
      FROM documents)
    SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_variants,
           CAST(COUNT(DISTINCT canon) AS BIGINT) AS n_canonical,
           MIN(canon) AS canonical
    FROM c GROUP BY grp HAVING COUNT(*) = 4
    """


@register("macro_url_canonicalize", _canon_sql())
def macro_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization for crawl dedup (functions/urls.py
    url_canonicalize): four deterministic messy variants of each
    logical URL — cased authority, utm/gclid tracking params, trailing
    slash + fragment, doubled path slashes — must collapse to ONE
    canonical form per group (n_canonical = 1 for every full group,
    enforced by the oracle comparison). The normalizer is nested
    regexp_replace, pure codegen, the pre-join key hygiene an SEO crawl
    warehouse applies before any cross-crawl URL comparison."""
    from ug_dwh_etl_spark.functions.urls import url_canonicalize

    docs = table(spark, sf_dir, "documents")
    base = F.concat(F.lit("/dir/d"), (F.col("doc_id") / 4).cast("long").cast("string"))
    messy = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("HTTPS://WWW.Example.COM"), base),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit("https://www.example.com"),
                base,
                F.lit("?utm_source=news&utm_campaign=x&gclid=abc"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("https://www.example.com"), base, F.lit("/#section-2")),
        )
        .otherwise(
            F.concat(
                F.lit("https://www.example.com//dir//d"),
                (F.col("doc_id") / 4).cast("long").cast("string"),
            )
        )
    )
    c = docs.select(
        (F.col("doc_id") / 4).cast("long").alias("grp"),
        url_canonicalize(messy).alias("canon"),
    )
    return (
        c.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.count_distinct(F.col("canon")).alias("n_canonical"),
            F.min("canon").alias("canonical"),
        )
        .filter(F.col("n_variants") == 4)
    )
