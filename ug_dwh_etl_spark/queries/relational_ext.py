"""Extended relational coverage (SURVEY.md §2.5-§2.9): min-per-group,
set operations, grouping sets, range join, moving-average frames, full
outer join, pivot, lateral explode, scalar subquery.

These fill the query-layer surface the reference delegates to BigQuery
(`README.md:15-24`) beyond the first relational batch."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from ug_dwh_etl_spark.queries.mlfit import part_revenue
from ug_dwh_etl_spark.queries.registry import register, table
from ug_dwh_etl_spark.queries.streaming import BENFORD_ORACLE
from ug_dwh_etl_spark.session import conf_scope


# --- min/max-per-group (TPC-H Q2 shape: correlated subquery → window) ---------
@register(
    "minmax_priciest_part_per_brand",
    """
    SELECT p_brand, p_partkey, ROUND(p_retailprice, 2) AS price
    FROM (
      SELECT p_brand, p_partkey, p_retailprice,
             ROW_NUMBER() OVER (PARTITION BY p_brand
                                ORDER BY p_retailprice DESC, p_partkey) AS rn
      FROM part)
    WHERE rn = 1
    """,
)
def minmax_priciest_part_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        part.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_brand", "p_partkey", F.round("p_retailprice", 2).alias("price"))
    )


# --- set operations -------------------------------------------------------------
@register(
    "setop_nations_cust_and_supp",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def setop_nations_cust_and_supp(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.intersect(supp)


@register(
    "setop_nations_cust_only",
    """
    SELECT DISTINCT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT DISTINCT s_nationkey FROM supplier WHERE s_acctbal > 5000
    """,
)
def setop_nations_cust_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    # supplier side thinned so EXCEPT is non-empty at every scale factor
    cust = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 5000)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return cust.distinct().exceptAll(supp.distinct())


# --- GROUPING SETS with grouping_id ---------------------------------------------
@register(
    "agg_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS grp,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               grouping_id(l_returnflag, l_linestatus) AS grp,
               COUNT(*) AS n,
               ROUND(SUM(l_quantity), 2) AS sum_qty
        FROM v_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


# --- range join: follow-up events within 5 minutes ------------------------------
@register(
    "join_range_followups",
    """
    SELECT a.user_id, CAST(COUNT(*) AS BIGINT) AS n_followups
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 5 MINUTE
    GROUP BY a.user_id
    """,
)
def join_range_followups(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("user_id", "ts")
    a, b = ev.alias("a"), ev.alias("b")
    cond = (
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 5 MINUTES"))
    )
    return (
        a.join(b, cond)
        .groupBy(F.col("a.user_id").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_followups"))
    )


# --- moving average over a row frame --------------------------------------------
@register(
    "window_moving_avg_spend",
    """
    SELECT o_custkey, o_orderkey,
           ROUND(AVG(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_avg
    FROM orders
    """,
)
def window_moving_avg_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.avg("o_totalprice").over(w), 4).alias("moving_avg"),
    )


# --- full outer join ------------------------------------------------------------
@register(
    "join_full_outer_coverage",
    """
    SELECT COALESCE(has_cust, FALSE) AS has_cust,
           COALESCE(has_supp, FALSE) AS has_supp,
           CAST(COUNT(*) AS BIGINT) AS n_nations
    FROM (
      SELECT n_nationkey,
             MAX(c.c_custkey IS NOT NULL) AS has_cust,
             MAX(s.s_suppkey IS NOT NULL) AS has_supp
      FROM nation n
      LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
      LEFT JOIN supplier s ON s.s_nationkey = n.n_nationkey
      GROUP BY n_nationkey)
    GROUP BY 1, 2
    """,
)
def join_full_outer_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = table(spark, sf_dir, "nation")
    cust = table(spark, sf_dir, "customer")
    supp = table(spark, sf_dir, "supplier")
    per_nation = (
        nation.join(cust, cust.c_nationkey == nation.n_nationkey, "left")
        .join(supp, supp.s_nationkey == nation.n_nationkey, "full_outer")
        .groupBy("n_nationkey")
        .agg(
            F.max(F.col("c_custkey").isNotNull()).alias("has_cust"),
            F.max(F.col("s_suppkey").isNotNull()).alias("has_supp"),
        )
        .filter(F.col("n_nationkey").isNotNull())
    )
    return per_nation.groupBy(
        F.coalesce("has_cust", F.lit(False)).alias("has_cust"),
        F.coalesce("has_supp", F.lit(False)).alias("has_supp"),
    ).agg(F.count(F.lit(1)).alias("n_nations"))


# --- pivot (explicit value list for deterministic columns) ----------------------
@register(
    "pivot_status_by_priority",
    """
    SELECT o_orderpriority,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS BIGINT) AS F,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0) AS BIGINT) AS O,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0) AS BIGINT) AS P
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["F", "O", "P"])
    )


# --- lateral explode (UDTF-shape: one row in, N out) ----------------------------
@register(
    "lateral_explode_type_words",
    """
    SELECT word, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split(p_type, ' ')) AS word FROM part)
    GROUP BY word
    """,
)
def lateral_explode_type_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = table(spark, sf_dir, "part")
    return (
        part.select(F.explode(F.split("p_type", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- scalar subquery: orders above the global average ---------------------------
@register(
    "scalar_subquery_above_avg",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_above
    FROM orders
    WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
    GROUP BY o_orderpriority
    """,
)
def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    avg_df = orders.agg(F.avg("o_totalprice").alias("global_avg"))
    return (
        orders.crossJoin(F.broadcast(avg_df))
        .filter(F.col("o_totalprice") > F.col("global_avg"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_above"))
    )


# --- ntile: equal-frequency bucketing (distribution dashboards) -----------------
@register(
    "window_ntile_quartiles",
    """
    SELECT quartile, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(c_acctbal), 2) AS lo, ROUND(MAX(c_acctbal), 2) AS hi
    FROM (
      SELECT NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile, c_acctbal
      FROM customer)
    GROUP BY quartile
    """,
)
def window_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile with a unique (value, key) ordering so bucket assignment is
    deterministic across engines — computed as a DISTRIBUTED rank
    (operators/ranking.py: range-repartition, per-partition row_number,
    broadcast prior-partition offsets) plus the closed-form NTILE bucket
    formula, so no single-partition window ever sees the table. The
    only remaining global window is the offsets running sum over the
    per-partition-counts relation (rows = shuffle partitions)."""
    from ug_dwh_etl_spark.operators.ranking import (
        global_row_number,
        ntile_from_rank,
    )

    cust = table(spark, sf_dir, "customer").select("c_acctbal", "c_custkey")
    ranked = global_row_number(
        cust, ["c_acctbal", "c_custkey"], out="i", total_out="n_total"
    )
    return (
        ranked.select(
            ntile_from_rank(F.col("i"), F.col("n_total"), 4).alias("quartile"),
            "c_acctbal",
        )
        .groupBy("quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("c_acctbal"), 2).alias("lo"),
            F.round(F.max("c_acctbal"), 2).alias("hi"),
        )
    )


# --- exact FACT-scale deciles via the distributed rank --------------------------
@register(
    "agg_exact_deciles_orders",
    """
    SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(o_totalprice), 2) AS lo, ROUND(MAX(o_totalprice), 2) AS hi,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS revenue
    FROM (
      SELECT NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile,
             o_totalprice
      FROM orders)
    GROUP BY decile
    """,
)
def agg_exact_deciles_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT equal-frequency deciles over the orders FACT table — the
    distribution cut approx_percentile can't promise (exact bucket
    populations, exact boundary rows) computed WITHOUT a fact-sized
    single-partition window: the distributed two-pass rank
    (operators/ranking.py — range-repartition on (price, orderkey),
    per-partition row_number, broadcast prior-partition offsets) plus
    the closed-form NTILE formula. window_ntile_quartiles proves the
    same shape on a dimension table; this one is registered
    specifically as the FACT-scale witness — at 100 TB the plan is
    identical: one range shuffle, one pid-local window, a
    shuffle-partitions-sized broadcast."""
    from ug_dwh_etl_spark.operators.ranking import (
        global_row_number,
        ntile_from_rank,
    )

    o = table(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    ranked = global_row_number(
        o, ["o_totalprice", "o_orderkey"], out="i", total_out="n_total"
    )
    return (
        ranked.select(
            ntile_from_rank(F.col("i"), F.col("n_total"), 10).alias("decile"),
            "o_totalprice",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("revenue"),
        )
    )


# --- exact per-group percentiles at fact scale -----------------------------------
@register(
    "agg_exact_group_percentiles",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(quantile_disc(l_extendedprice, 0.25) AS DOUBLE), 2) AS p25,
           ROUND(CAST(quantile_disc(l_extendedprice, 0.50) AS DOUBLE), 2) AS p50,
           ROUND(CAST(quantile_disc(l_extendedprice, 0.75) AS DOUBLE), 2) AS p75,
           ROUND(CAST(quantile_disc(l_extendedprice, 0.99) AS DOUBLE), 2) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_exact_group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group percentiles (p25/p50/p75/p99 of extendedprice by
    returnflag) over the FACT table — what approx_percentile
    approximates, computed exactly with NO per-group value collection:
    one distributed global rank over the (group, value, tiebreak) total
    order (operators/ranking.py — group is the range prefix, so each
    group occupies a contiguous rank span), the group's rank base and
    size from one tiny groupBy, and the quantile rows selected by
    within-group rank ceil(q·n) — DuckDB quantile_disc's exact indexing
    (verified per group; at q=0.5 it coincides with the lower-median
    floor((n−1)/2) form the stream_user_median_tws twin uses). Ties
    land on the same sorted index, hence the same value, whatever the
    tiebreak order. Cost at
    100 TB: one range shuffle + one pid window + two broadcast joins —
    group count and targets are metadata-sized."""
    from ug_dwh_etl_spark.operators.ranking import global_row_number

    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"),
        F.col("l_extendedprice").alias("v"),
        "l_orderkey",
        "l_linenumber",
    )
    ranked = global_row_number(
        li, ["g", "v", "l_orderkey", "l_linenumber"], out="i"
    )
    groups = ranked.groupBy("g").agg(
        F.min("i").alias("i0"), F.count(F.lit(1)).alias("n")
    )
    qs = [("p25", 0.25), ("p50", 0.50), ("p75", 0.75), ("p99", 0.99)]
    targets = groups.select(
        "g",
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("q"),
                        (
                            F.col("i0")
                            + F.ceil(F.lit(frac) * F.col("n"))
                            - 1
                        ).alias("ti"),
                    )
                    for name, frac in qs
                ]
            )
        ).alias("t"),
    ).select(
        F.col("g").alias("tg"),
        "n",
        F.col("t.q").alias("q"),
        F.col("t.ti").alias("ti"),
    )
    hits = ranked.join(
        F.broadcast(targets),
        (F.col("i") == F.col("ti")) & (F.col("g") == F.col("tg")),
    ).select(F.col("tg").alias("g"), "n", "q", "v")
    return hits.groupBy("g").agg(
        F.max("n").alias("n"),
        *[
            F.round(F.max(F.when(F.col("q") == name, F.col("v"))), 2).alias(name)
            for name, _ in qs
        ],
    ).select(
        F.col("g").alias("l_returnflag"), "n", "p25", "p50", "p75", "p99"
    )


# --- percent_rank: top-percentile selection -------------------------------------
@register(
    "window_percent_rank_top",
    """
    SELECT c_custkey, ROUND(c_acctbal, 2) AS bal, ROUND(pr, 6) AS pr
    FROM (
      SELECT c_custkey, c_acctbal,
             PERCENT_RANK() OVER (ORDER BY c_acctbal DESC, c_custkey) AS pr
      FROM customer)
    WHERE pr <= 0.01
    """,
)
def window_percent_rank_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-percentile selection via the DISTRIBUTED rank
    (operators/ranking.py) — percent_rank is (rank-1)/(n-1) given a
    total order with no ties (the unique c_custkey tiebreak), so the
    exact global rank plus the carried total count reproduce
    PERCENT_RANK() without a single-partition window over the table."""
    from ug_dwh_etl_spark.operators.ranking import global_row_number

    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    ranked = global_row_number(
        cust,
        [F.desc("c_acctbal"), F.asc("c_custkey")],
        out="i",
        total_out="n_total",
    )
    pr = F.when(
        F.col("n_total") > 1,
        (F.col("i") - 1) / (F.col("n_total") - 1),
    ).otherwise(F.lit(0.0))
    return (
        ranked.select(
            "c_custkey",
            F.round("c_acctbal", 2).alias("bal"),
            F.round(pr, 6).alias("pr"),
        )
        .filter(F.col("pr") <= 0.01)
    )


# --- statistical moments: stddev / correlation / covariance ---------------------
@register(
    "agg_stats_moments",
    """
    SELECT l_returnflag,
           ROUND(AVG(l_quantity), 4) AS qty_avg,
           ROUND(STDDEV_SAMP(l_quantity), 4) AS qty_sd,
           ROUND(CORR(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 2) AS qty_price_cov
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment aggregates (variance/correlation dashboards). Both
    engines use numerically stable one-pass merges; rounding absorbs the
    partition-order ulp drift. Fully parallel partial aggregation."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.avg("l_quantity"), 4).alias("qty_avg"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("qty_sd"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("qty_price_cov"),
    )


# --- null-safe equality join (<=> / IS NOT DISTINCT FROM) -----------------------
@register(
    "join_null_safe",
    """
    WITH a AS (
      SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_custkey END AS k
      FROM orders),
    b AS (
      SELECT CASE WHEN c_custkey % 89 = 0 THEN NULL ELSE c_custkey END AS k
      FROM customer)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN a.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_pairs
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality (`<=>`): NULL keys match each other instead of
    dropping out — and Spark still plans it as a hash equi-join (EqualNullSafe
    is a valid equi-join key), not a nested loop."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    a = orders.select(
        F.when(F.col("o_orderkey") % 97 == 0, None)
        .otherwise(F.col("o_custkey"))
        .alias("ak")
    )
    b = cust.select(
        F.when(F.col("c_custkey") % 89 == 0, None)
        .otherwise(F.col("c_custkey"))
        .alias("bk")
    )
    return a.join(b, a.ak.eqNullSafe(b.bk)).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("ak").isNull(), 1).otherwise(0)).alias("null_pairs"),
    )


# --- unpivot / melt (stack) ------------------------------------------------------
@register(
    "unpivot_lineitem_metrics",
    """
    SELECT metric, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(SUM(CAST(val AS DECIMAL(14,2))), 2) AS DOUBLE) AS total
    FROM (
      SELECT 'quantity' AS metric, l_quantity AS val FROM lineitem
      UNION ALL SELECT 'extendedprice', l_extendedprice FROM lineitem
      UNION ALL SELECT 'tax', l_tax FROM lineitem)
    GROUP BY metric
    """,
)
def unpivot_lineitem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot via ``stack`` — one scan emitting 3 rows per
    input row (the SQL UNION-ALL form rescans the table per metric; the
    stack form reads it once, which is the difference at 100 TB)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.expr(
                "stack(3, 'quantity', l_quantity,"
                " 'extendedprice', l_extendedprice,"
                " 'tax', l_tax) AS (metric, val)"
            )
        )
        .groupBy("metric")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("val").cast("decimal(14,2)")), 2)
            .cast("double")
            .alias("total"),
        )
    )


# --- array aggregation (collect_list made deterministic) ------------------------
@register(
    "agg_collect_sorted",
    """
    SELECT c_mktsegment,
           array_to_string(list_sort(list(DISTINCT c_nationkey)), ',') AS nations,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation: the nation set per market segment as a sorted,
    joined array — ``collect_set`` alone is partition-order-
    nondeterministic, so every engine-portable use sorts before
    presenting. Map-side partial collect keeps the shuffle proportional
    to distinct values, not rows."""
    cust = table(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.array_join(F.sort_array(F.collect_set("c_nationkey")), ",").alias("nations"),
        F.count(F.lit(1)).alias("n_customers"),
    )


# --- histogram via width_bucket -------------------------------------------------
@register(
    "agg_histogram",
    """
    SELECT LEAST(CAST(FLOOR(o_totalprice / 50000) AS BIGINT) + 1, 13) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi
    FROM orders
    GROUP BY bucket
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram (width_bucket) — single scan, one tiny
    shuffle of 12 partial buckets per task; the dashboard distribution
    plot at any scale."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.width_bucket("o_totalprice", F.lit(0), F.lit(600000), F.lit(12)).alias(
                "bucket"
            ),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


# --- fuzzy matching via edit distance -------------------------------------------
@register(
    "fuzzy_match_parts",
    """
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_type = b.p_type
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def fuzzy_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching: edit-distance pairs, blocked on
    (brand, type) so the quadratic distance computation runs only inside
    blocking groups — the standard record-linkage shape (blocking key →
    in-block pairwise scoring), same discipline as the LSH dedup path."""
    part = table(spark, sf_dir, "part")
    a = part.select(
        F.col("p_partkey").alias("id_a"),
        F.col("p_brand").alias("brand"),
        F.col("p_type").alias("type"),
        F.col("p_name").alias("name_a"),
    )
    b = part.select(
        F.col("p_partkey").alias("id_b"),
        F.col("p_brand").alias("brand"),
        F.col("p_type").alias("type"),
        F.col("p_name").alias("name_b"),
    )
    return (
        a.join(b, ["brand", "type"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.levenshtein("name_a", "name_b").cast("long").alias("dist"),
        )
        .filter(F.col("dist") <= 3)
    )


# --- single-scan column profiling (warehouse data-profiling surface) -------------
@register(
    "profile_orders_columns",
    """
    WITH agg AS (
      SELECT COUNT(*) AS n_rows,
             COUNT(o_orderpriority) AS nn_prio,
             CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS nd_prio,
             MIN(o_orderpriority) AS min_prio, MAX(o_orderpriority) AS max_prio,
             COUNT(o_orderstatus) AS nn_status,
             CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS nd_status,
             MIN(o_orderstatus) AS min_status, MAX(o_orderstatus) AS max_status,
             COUNT(o_totalprice) AS nn_price,
             CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS nd_price,
             CAST(MIN(o_totalprice) AS VARCHAR) AS min_price,
             CAST(MAX(o_totalprice) AS VARCHAR) AS max_price
      FROM orders
    )
    SELECT col_name, n_rows, n_nonnull, n_distinct, min_val, max_val
    FROM (
      SELECT 'o_orderpriority' AS col_name, n_rows, nn_prio AS n_nonnull,
             nd_prio AS n_distinct, min_prio AS min_val, max_prio AS max_val
      FROM agg
      UNION ALL
      SELECT 'o_orderstatus', n_rows, nn_status, nd_status, min_status, max_status
      FROM agg
      UNION ALL
      SELECT 'o_totalprice', n_rows, nn_price, nd_price, min_price, max_price
      FROM agg)
    """,
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling: per-column row/non-null/distinct counts and
    min/max, computed in ONE scan (a single wide aggregate, then a
    metadata-only unpivot of the 1-row result) — the schema-drift and
    quality dashboard a warehouse runs nightly over every table. All
    values surface as strings so heterogeneous columns stack; at 100 TB
    swap COUNT(DISTINCT x) for approx_count_distinct, same shape."""
    orders = table(spark, sf_dir, "orders")
    agg = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_orderpriority").alias("nn_prio"),
        F.count_distinct("o_orderpriority").alias("nd_prio"),
        F.min("o_orderpriority").alias("min_prio"),
        F.max("o_orderpriority").alias("max_prio"),
        F.count("o_orderstatus").alias("nn_status"),
        F.count_distinct("o_orderstatus").alias("nd_status"),
        F.min("o_orderstatus").alias("min_status"),
        F.max("o_orderstatus").alias("max_status"),
        F.count("o_totalprice").alias("nn_price"),
        F.count_distinct("o_totalprice").alias("nd_price"),
        F.min("o_totalprice").cast("string").alias("min_price"),
        F.max("o_totalprice").cast("string").alias("max_price"),
    )
    rows = [
        ("o_orderpriority", "nn_prio", "nd_prio", "min_prio", "max_prio"),
        ("o_orderstatus", "nn_status", "nd_status", "min_status", "max_status"),
        ("o_totalprice", "nn_price", "nd_price", "min_price", "max_price"),
    ]
    parts = [
        agg.select(
            F.lit(name).alias("col_name"),
            F.col("n_rows"),
            F.col(nn).alias("n_nonnull"),
            F.col(nd).alias("n_distinct"),
            F.col(mn).cast("string").alias("min_val"),
            F.col(mx).cast("string").alias("max_val"),
        )
        for name, nn, nd, mn, mx in rows
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --- dense_rank: nth-distinct-value ranking --------------------------------------
@register(
    "window_dense_rank_days",
    """
    SELECT DISTINCT o_orderpriority,
           strftime(o_orderdate, '%Y-%m-%d') AS day, dr
    FROM (
      SELECT o_orderpriority, o_orderdate,
             CAST(DENSE_RANK() OVER (PARTITION BY o_orderpriority
                                     ORDER BY o_orderdate) AS BIGINT) AS dr
      FROM orders)
    WHERE dr <= 5
    """,
)
def window_dense_rank_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 5 DISTINCT order dates per priority class via dense_rank —
    the rank family member the rest of the window coverage lacks (rank
    leaves gaps on ties, dense_rank doesn't; many orders share a date,
    so the two genuinely differ here). Ordering by a duplicated key is
    safe because dense_rank assigns equal ranks to equal keys — no
    tie-break column needed, unlike row_number."""
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_orderdate")
    return (
        orders.select(
            "o_orderpriority",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"),
            F.dense_rank().over(w).cast("long").alias("dr"),
        )
        .filter(F.col("dr") <= 5)
        .distinct()
    )


# --- bag-semantics set ops (INTERSECT ALL / EXCEPT ALL) --------------------------
def _nation_name_bags(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The nation name of every customer and of every supplier, as two
    bags for the bag-semantics set operations."""
    nation = table(spark, sf_dir, "nation")
    cust = (
        table(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name")
    )
    supp = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("n_name")
    )
    return cust, supp


@register(
    "setop_nation_bag_overlap",
    """
    SELECT n_name FROM (
      SELECT n.n_name FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      INTERSECT ALL
      SELECT n.n_name FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    )
    """,
)
def setop_nation_bag_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (bag semantics): each nation name survives
    min(customer-side count, supplier-side count) times — the
    multiplicity-preserving variant the distinct-set `intersect`
    coverage lacks. Spark plans both ALL variants as an aggregate of
    per-side counts, not a pairwise join — one shuffle per side at any
    scale."""
    cust, supp = _nation_name_bags(spark, sf_dir)
    return cust.intersectAll(supp)


@register(
    "setop_nation_bag_excess",
    """
    SELECT n_name FROM (
      SELECT n.n_name FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      EXCEPT ALL
      SELECT n.n_name FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    )
    """,
)
def setop_nation_bag_excess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL: customer-side multiplicity minus supplier-side
    multiplicity per nation (floor 0) — e.g. 40 customers and 3
    suppliers in GERMANY leaves 37 rows."""
    cust, supp = _nation_name_bags(spark, sf_dir)
    return cust.exceptAll(supp)


# --- ratio-to-report: share of the region total per nation -----------------------
@register(
    "window_revenue_share",
    """
    WITH nat AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY region, nation
    )
    SELECT region, nation,
           CAST(rev AS DOUBLE) AS revenue,
           ROUND(CAST(rev AS DOUBLE)
                 / CAST(SUM(rev) OVER (PARTITION BY region) AS DOUBLE), 6)
             AS region_share
    FROM nat
    """,
)
def window_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of its region's order
    revenue — the percent-of-total column every dashboard table wants.
    Revenue sums as DECIMAL (order-independent across engines and
    partitionings); the share window runs over the 25-row aggregate,
    not the fact table, so its single-partition-per-region cost is
    nil at any fact scale. nation/region broadcast; orders⋈customer is
    a key shuffle (customer is NOT broadcastable at warehouse scale —
    AQE may still promote it at small SFs)."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    nat = (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    )
    w = Window.partitionBy("region")
    return nat.select(
        "region",
        "nation",
        F.col("rev").cast("double").alias("revenue"),
        F.round(
            F.col("rev").cast("double") / F.sum("rev").over(w).cast("double"), 6
        ).alias("region_share"),
    )


# --- RANGE frame over time: trailing-7-day spend ---------------------------------
@register(
    "window_trailing_7d_spend",
    """
    WITH daily AS (
      SELECT o_custkey, o_orderdate AS day,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      FROM orders GROUP BY o_custkey, day
    )
    SELECT o_custkey, strftime(day, '%Y-%m-%d') AS day,
           CAST(spend AS DOUBLE) AS spend,
           CAST(SUM(spend) OVER (
             PARTITION BY o_custkey
             ORDER BY date_diff('day', DATE '1970-01-01', day)
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS trailing_7d
    FROM daily
    """,
)
def window_trailing_7d_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-DAY spend per customer via a RANGE frame keyed on
    epoch-day — the time-based window the ROWS-frame coverage
    (window_moving_avg_spend) can't express: order days are sparse, so
    'last 7 rows' and 'last 7 days' genuinely differ. Both engines
    range over the same integer day key; money stays DECIMAL inside
    the frame sum (order-independent), cast at the edge."""
    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        "o_custkey", F.col("o_orderdate").alias("day")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.datediff("day", F.lit("1970-01-01").cast("date")))
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "o_custkey",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("spend").cast("double").alias("spend"),
        F.sum("spend").over(w).cast("double").alias("trailing_7d"),
    )


# --- cume_dist + nth_value (completing the statistical window family) -----------
@register(
    "window_cume_dist_nth",
    """
    SELECT o_orderpriority, o_orderkey,
           ROUND(CUME_DIST() OVER w, 6) AS cd,
           NTH_VALUE(o_orderkey, 3) OVER w AS third_key
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_cume_dist_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cume_dist (fraction of partition at-or-below each row) and
    nth_value over the default running frame — the remaining members of
    the statistical window family (rank/dense_rank/ntile/percent_rank
    are covered elsewhere). The unique (price, orderkey) ordering keeps
    both engines' tie handling identical."""
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderpriority",
        "o_orderkey",
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.nth_value("o_orderkey", 3).over(w).alias("third_key"),
    )


# --- winsorized (outlier-clipped) aggregate -----------------------------------
@register(
    "winsorize_order_totals",
    """
    WITH cuts AS (
      SELECT o_orderpriority,
             quantile_cont(o_totalprice, 0.05) AS p05,
             quantile_cont(o_totalprice, 0.95) AS p95
      FROM orders GROUP BY o_orderpriority)
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(MAX(c.p05), 4) AS p05,
           ROUND(MAX(c.p95), 4) AS p95,
           ROUND(AVG(o.o_totalprice), 4) AS raw_mean,
           ROUND(AVG(LEAST(GREATEST(o.o_totalprice, c.p05), c.p95)), 4)
             AS winsorized_mean
    FROM orders o JOIN cuts c USING (o_orderpriority)
    GROUP BY o.o_orderpriority
    """,
)
def winsorize_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier-robust mean via winsorization: clip each order's total to
    its priority group's [p05, p95] before averaging — the standard
    data-cleaning step before loss-weighting or price modeling.

    Two passes over orders, both shuffling on the 5-value priority key;
    the per-group cutpoints (5 rows) broadcast back onto the scan, so at
    100 TB the clip is a free map stage after one small agg. Exact
    interpolated percentiles (Spark `percentile` == DuckDB
    `quantile_cont`)."""
    orders = table(spark, sf_dir, "orders")
    cuts = orders.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.05)").alias("p05"),
        F.expr("percentile(o_totalprice, 0.95)").alias("p95"),
    )
    clipped = F.least(F.greatest(F.col("o_totalprice"), F.col("p05")), F.col("p95"))
    return (
        orders.join(F.broadcast(cuts), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.max("p05"), 4).alias("p05"),
            F.round(F.max("p95"), 4).alias("p95"),
            F.round(F.avg("o_totalprice"), 4).alias("raw_mean"),
            F.round(F.avg(clipped), 4).alias("winsorized_mean"),
        )
    )


# --- RFM segmentation ---------------------------------------------------------
@register(
    "customer_rfm_segments",
    """
    WITH ref AS (SELECT MAX(o_orderdate) AS ref_date FROM orders),
    rfm AS (
      SELECT o_custkey,
             date_diff('day', MAX(o_orderdate),
                       (SELECT ref_date FROM ref)) AS recency_days,
             COUNT(*) AS frequency,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY o_custkey),
    cuts AS (
      SELECT quantile_cont(recency_days, 0.25) AS r1,
             quantile_cont(recency_days, 0.50) AS r2,
             quantile_cont(recency_days, 0.75) AS r3,
             quantile_cont(frequency, 0.25) AS f1,
             quantile_cont(frequency, 0.50) AS f2,
             quantile_cont(frequency, 0.75) AS f3,
             quantile_cont(monetary, 0.25) AS m1,
             quantile_cont(monetary, 0.50) AS m2,
             quantile_cont(monetary, 0.75) AS m3
      FROM rfm)
    SELECT CASE WHEN recency_days <= r1 THEN 4 WHEN recency_days <= r2 THEN 3
                WHEN recency_days <= r3 THEN 2 ELSE 1 END AS r_score,
           CASE WHEN frequency <= f1 THEN 1 WHEN frequency <= f2 THEN 2
                WHEN frequency <= f3 THEN 3 ELSE 4 END AS f_score,
           CASE WHEN monetary <= m1 THEN 1 WHEN monetary <= m2 THEN 2
                WHEN monetary <= m3 THEN 3 ELSE 4 END AS m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(AVG(monetary), 2) AS avg_monetary
    FROM rfm, cuts
    GROUP BY r_score, f_score, m_score
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency/Frequency/Monetary segmentation: per-customer RFM vector,
    quartile-scored against GLOBAL percentile cutpoints, rolled up to
    segment counts.

    Deliberately NOT ntile(): a global ntile is a single-partition sort
    (the classic scale killer). Quartile boundaries come from one
    percentile aggregate (9 scalars, broadcast), so scoring is a map
    stage and the only shuffles are groupBy(custkey) and the final tiny
    segment rollup — the same plan at 1000x the customers. Ties share a
    bucket (principled for RFM; ntile would split them arbitrarily)."""
    orders = table(spark, sf_dir, "orders")
    ref = orders.agg(F.max("o_orderdate").alias("ref_date"))
    rfm = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("monetary"),
        )
        .join(F.broadcast(ref))
        .select(
            F.datediff("ref_date", "last_order").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    cuts = rfm.agg(
        *[
            F.expr(f"percentile({c}, {q})").alias(f"{c[0]}{i}")
            for c in ("recency_days", "frequency", "monetary")
            for i, q in ((1, 0.25), (2, 0.50), (3, 0.75))
        ]
    )

    def score(col: str, prefix: str, ascending: bool):
        c1, c2, c3 = (F.col(f"{prefix}{i}") for i in (1, 2, 3))
        v = F.col(col)
        if ascending:
            return (
                F.when(v <= c1, 1).when(v <= c2, 2).when(v <= c3, 3).otherwise(4)
            )
        return F.when(v <= c1, 4).when(v <= c2, 3).when(v <= c3, 2).otherwise(1)

    return (
        rfm.join(F.broadcast(cuts))
        .select(
            score("recency_days", "r", ascending=False).alias("r_score"),
            score("frequency", "f", ascending=True).alias("f_score"),
            score("monetary", "m", ascending=True).alias("m_score"),
            "monetary",
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("monetary"), 2).alias("avg_monetary"),
        )
    )


# --- equi-depth histogram (quantile buckets) ------------------------------------
@register(
    "agg_equidepth_histogram",
    """
    WITH cuts AS (
      SELECT quantile_cont(o_totalprice, 0.125) AS c1,
             quantile_cont(o_totalprice, 0.250) AS c2,
             quantile_cont(o_totalprice, 0.375) AS c3,
             quantile_cont(o_totalprice, 0.500) AS c4,
             quantile_cont(o_totalprice, 0.625) AS c5,
             quantile_cont(o_totalprice, 0.750) AS c6,
             quantile_cont(o_totalprice, 0.875) AS c7
      FROM orders)
    SELECT CASE WHEN o_totalprice <= c1 THEN 1 WHEN o_totalprice <= c2 THEN 2
                WHEN o_totalprice <= c3 THEN 3 WHEN o_totalprice <= c4 THEN 4
                WHEN o_totalprice <= c5 THEN 5 WHEN o_totalprice <= c6 THEN 6
                WHEN o_totalprice <= c7 THEN 7 ELSE 8 END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi
    FROM orders, cuts
    GROUP BY bucket
    """,
)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile-bucket) histogram — the distribution summary
    optimizers and data-skipping statistics actually store. Boundaries
    come from one exact-percentile aggregate (7 scalars, broadcast back);
    the bucketing pass is a map stage — no single-partition ntile sort,
    same plan at any scale."""
    orders = table(spark, sf_dir, "orders")
    qs = [0.125, 0.250, 0.375, 0.500, 0.625, 0.750, 0.875]
    cuts = orders.agg(
        *[F.expr(f"percentile(o_totalprice, {q})").alias(f"c{i+1}") for i, q in enumerate(qs)]
    )
    v = F.col("o_totalprice")
    bucket = F.when(v <= F.col("c1"), 1)
    for i in range(2, 8):
        bucket = bucket.when(v <= F.col(f"c{i}"), i)
    bucket = bucket.otherwise(8)
    return (
        orders.join(F.broadcast(cuts))
        .select(bucket.alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


# --- correlation / regression aggregate family ----------------------------------
@register(
    "agg_regression_price_qty",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS covar,
           ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_regression_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corr/covar/regr_* aggregate family — price-vs-quantity linear
    fit per return flag, the profiling step behind any pricing or
    anomaly model. All five are single-pass mergeable aggregates
    (partial Welford-style moments map-side), so the plan is the same
    one-shuffle shape as a SUM at any scale."""
    li = table(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.corr(q, p), 6).alias("corr_qty_price"),
        F.round(F.covar_samp(q, p), 4).alias("covar"),
        F.round(F.regr_slope(p, q), 4).alias("slope"),
        F.round(F.regr_intercept(p, q), 4).alias("intercept"),
        F.round(F.regr_r2(p, q), 6).alias("r2"),
    )


# --- grouped-map Pandas UDF: per-group OLS fit ---------------------------------
@register(
    "fit_price_trend_pandas",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(regr_slope(o_totalprice,
                            date_diff('day', DATE '1995-01-01',
                                      CAST(o_orderdate AS DATE))), 6) AS slope,
           ROUND(regr_intercept(o_totalprice,
                                date_diff('day', DATE '1995-01-01',
                                          CAST(o_orderdate AS DATE))), 4)
             AS intercept
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def fit_price_trend_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group model fit via ``applyInPandas`` (grouped-map Pandas
    UDF): each priority's order-price-over-time OLS line fitted with a
    numpy kernel — the canonical 'fit a small model per key' shape
    (per-entity forecasts, per-segment calibration) where the model
    library only speaks numpy/pandas.

    The kernel computes the same covariance-ratio closed form as SQL's
    regr_slope, so the oracle is the BUILT-IN aggregate — the escape
    hatch is proven against the relational algebra it escapes from. One
    shuffle on the group key; each group's frame must fit one executor
    (5 groups here; at scale the key is chosen so groups are bounded —
    else you fall back to the built-in aggregates)."""
    import numpy as np
    import pandas as pd

    orders = table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("double")
        .alias("x"),
        F.col("o_totalprice").alias("y"),
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["x"].to_numpy()
        y = pdf["y"].to_numpy()
        mx, my = x.mean(), y.mean()
        # covariance-ratio closed form == SQL regr_slope
        slope = float(((x - mx) * (y - my)).sum() / ((x - mx) ** 2).sum())
        return pd.DataFrame(
            {
                "o_orderpriority": [pdf["o_orderpriority"].iloc[0]],
                "n": [len(pdf)],
                "slope": [round(slope, 6)],
                "intercept": [round(my - slope * mx, 4)],
            }
        )

    return orders.groupBy("o_orderpriority").applyInPandas(
        fit, "o_orderpriority string, n long, slope double, intercept double"
    )


# --- market-basket co-occurrence: item-item similarity -------------------------
@register(
    "copurchase_top_pairs",
    """
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    f AS (SELECT p, COUNT(*) AS n FROM op GROUP BY p),
    pairs AS (
      SELECT a.p AS p1, b.p AS p2, COUNT(*) AS n_ab
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p),
    top AS (SELECT p1, p2, n_ab FROM pairs ORDER BY n_ab DESC, p1, p2 LIMIT 20)
    SELECT p1, p2, n_ab, fa.n AS n1, fb.n AS n2,
           ROUND(n_ab / sqrt(fa.n * 1.0 * fb.n), 6) AS cosine,
           ROUND(n_ab / (fa.n + fb.n - n_ab * 1.0), 6) AS jaccard
    FROM top JOIN f fa ON fa.p = top.p1 JOIN f fb ON fb.p = top.p2
    """,
)
def copurchase_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item co-occurrence (market-basket) similarity: parts bought
    together in one order, scored by cosine and Jaccard over order sets.
    Scale shape: the pair expansion is the order-key self-join whose
    fan-out is bounded by lines-per-order squared (~tens, never corpus-
    quadratic — the same bounded-blocking argument as the LSH bucket
    join); dedup to DISTINCT (order, part) first so multi-line parts
    don't inflate counts. The part-frequency relation joins AFTER the
    top-k, as a 20-row broadcast probe into it — at 100 TB f is
    parts-sized and must never be the broadcast side."""
    li = table(spark, sf_dir, "lineitem")
    op = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    f = op.groupBy("p").agg(F.count(F.lit(1)).alias("n"))
    a = op.select(F.col("o"), F.col("p").alias("p1"))
    b = op.select(F.col("o").alias("o2"), F.col("p").alias("p2"))
    pairs = (
        a.join(b, (F.col("o") == F.col("o2")) & (F.col("p1") < F.col("p2")))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    top = pairs.orderBy(F.desc("n_ab"), F.asc("p1"), F.asc("p2")).limit(20)
    fa = f.select(F.col("p").alias("_pa"), F.col("n").alias("n1"))
    fb = f.select(F.col("p").alias("_pb"), F.col("n").alias("n2"))
    return (
        fa.join(F.broadcast(top), F.col("_pa") == F.col("p1"))
        .join(fb, F.col("_pb") == F.col("p2"))
        .select(
            "p1",
            "p2",
            "n_ab",
            "n1",
            "n2",
            F.round(F.col("n_ab") / F.sqrt(F.col("n1") * 1.0 * F.col("n2")), 6).alias(
                "cosine"
            ),
            F.round(
                F.col("n_ab") / (F.col("n1") + F.col("n2") - F.col("n_ab") * 1.0), 6
            ).alias("jaccard"),
        )
    )


# min orders a part must appear in before it can enter the pair join —
# shared by the Spark plan and the oracle so the capped twin is exact
_COP_MIN_SUP = 30


def _supported_pairs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``(op, qual, pairs)``: the distinct (order ``o``, part ``p``)
    rows, each part in at least ``_COP_MIN_SUP`` orders with its order
    count ``n``, and every pair ``p1 < p2`` of those parts with the
    count ``n_ab`` of orders holding both."""
    li = table(spark, sf_dir, "lineitem")
    op = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    f = op.groupBy("p").agg(F.count(F.lit(1)).alias("n"))
    qual = f.filter(F.col("n") >= _COP_MIN_SUP)
    # parts-sized (never orders-sized) and support-filtered: broadcast
    # the qualifying ids into the semi-join so the (order, part) table
    # is pruned map-side with no extra shuffle of op
    opq = op.join(F.broadcast(qual.select("p")), "p", "semi")
    a = opq.select(F.col("o"), F.col("p").alias("p1"))
    b = opq.select(F.col("o").alias("o2"), F.col("p").alias("p2"))
    pairs = (
        a.join(b, (F.col("o") == F.col("o2")) & (F.col("p1") < F.col("p2")))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    return op, qual, pairs


@register(
    "copurchase_capped",
    f"""
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    f AS (SELECT p, COUNT(*) AS n FROM op GROUP BY p),
    qual AS (SELECT p, n FROM f WHERE n >= {_COP_MIN_SUP}),
    opq AS (SELECT op.o, op.p FROM op JOIN qual ON qual.p = op.p),
    pairs AS (
      SELECT a.p AS p1, b.p AS p2, COUNT(*) AS n_ab
      FROM opq a JOIN opq b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p),
    top AS (SELECT p1, p2, n_ab FROM pairs ORDER BY n_ab DESC, p1, p2 LIMIT 20)
    SELECT p1, p2, n_ab, fa.n AS n1, fb.n AS n2,
           ROUND(n_ab / sqrt(fa.n * 1.0 * fb.n), 6) AS cosine,
           ROUND(n_ab / (fa.n + fb.n - n_ab * 1.0), 6) AS jaccard
    FROM top JOIN qual fa ON fa.p = top.p1 JOIN qual fb ON fb.p = top.p2
    """,
)
def copurchase_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-support-capped twin of ``copurchase_top_pairs``: parts in
    fewer than {_COP_MIN_SUP} orders are dropped BEFORE the pair
    self-join (broadcast semi-join of the qualifying-part ids — same
    cut as the df-cap in dedup_ngram_jaccard_capped). The long tail of
    rare parts is most of the pair volume but can never reach the
    top-k, so the cap cuts the dominant cost term while the uncapped
    baseline keeps the exact statistic; the oracle applies the
    identical support filter, so this twin is exact too. At sf0.01 the
    median part support is 30 — the filter genuinely removes ~half the
    parts (SCALE.md measures the growth cut at 16x)."""
    _, qual, pairs = _supported_pairs(spark, sf_dir)
    top = pairs.orderBy(F.desc("n_ab"), F.asc("p1"), F.asc("p2")).limit(20)
    fa = qual.select(F.col("p").alias("_pa"), F.col("n").alias("n1"))
    fb = qual.select(F.col("p").alias("_pb"), F.col("n").alias("n2"))
    return (
        fa.join(F.broadcast(top), F.col("_pa") == F.col("p1"))
        .join(fb, F.col("_pb") == F.col("p2"))
        .select(
            "p1",
            "p2",
            "n_ab",
            "n1",
            "n2",
            F.round(F.col("n_ab") / F.sqrt(F.col("n1") * 1.0 * F.col("n2")), 6).alias(
                "cosine"
            ),
            F.round(
                F.col("n_ab") / (F.col("n1") + F.col("n2") - F.col("n_ab") * 1.0), 6
            ).alias("jaccard"),
        )
    )


# --- 2-D skyline (Pareto frontier): price x recency ----------------------------
@register(
    "skyline_orders",
    """
    WITH o AS (SELECT o_orderkey, o_totalprice AS price, o_orderdate AS d FROM orders),
    m AS (SELECT date_trunc('month', d) AS mo, MAX(price) AS mp FROM o GROUP BY mo),
    suf AS (
      SELECT mo,
             MAX(mp) OVER (ORDER BY mo DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS later_max
      FROM m),
    cand AS (
      SELECT o.* FROM o JOIN suf ON date_trunc('month', o.d) = suf.mo
      WHERE suf.later_max IS NULL OR o.price > suf.later_max),
    pts AS (SELECT DISTINCT price, d FROM cand),
    sk AS (
      SELECT price, d,
             MAX(d) OVER (ORDER BY price DESC, d DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS seen
      FROM pts)
    SELECT c.o_orderkey, ROUND(c.price, 2) AS price,
           strftime(c.d, '%Y-%m-%d') AS order_date
    FROM cand c JOIN sk ON sk.price = c.price AND sk.d = c.d
    WHERE sk.seen IS NULL OR sk.d > sk.seen
    """,
)
def skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of orders on (totalprice max, recency max): an
    order is kept iff no other order is >= on both axes and > on one.
    Scale design — skylines decompose, so dominate-prune FIRST with a
    month-bucket suffix-max: a ~month-count relation (tiny window) maps
    each row's 'best price in any strictly later month'; rows beaten by
    it are dominated and die map-side against the broadcast. The exact
    cummax skyline window then runs over only the survivors (at most
    the rows that outprice every later month — frontier-sized, not
    table-sized), and duplicates of a frontier point all surface via the
    join-back. 100 TB cost: one groupBy(month) + one broadcast filter +
    a window over a tiny candidate set."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.col("o_orderdate").alias("d"),
    )
    m = (
        o.groupBy(F.date_trunc("month", "d").alias("mo"))
        .agg(F.max("price").alias("mp"))
    )
    wm = Window.orderBy(F.desc("mo")).rowsBetween(Window.unboundedPreceding, -1)
    suf = m.select("mo", F.max("mp").over(wm).alias("later_max"))
    cand = (
        o.join(F.broadcast(suf), F.date_trunc("month", F.col("d")) == F.col("mo"))
        .filter(F.col("later_max").isNull() | (F.col("price") > F.col("later_max")))
        .select("o_orderkey", "price", "d")
    )
    pts = cand.select("price", "d").distinct()
    ws = Window.orderBy(F.desc("price"), F.desc("d")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    sk = (
        pts.select("price", "d", F.max("d").over(ws).alias("seen"))
        .filter(F.col("seen").isNull() | (F.col("d") > F.col("seen")))
        .select(F.col("price").alias("_sp"), F.col("d").alias("_sd"))
    )
    return (
        cand.join(
            F.broadcast(sk),
            (F.col("price") == F.col("_sp")) & (F.col("d") == F.col("_sd")),
        )
        .select(
            "o_orderkey",
            F.round("price", 2).alias("price"),
            F.date_format("d", "yyyy-MM-dd").alias("order_date"),
        )
    )


# --- chi-squared independence: nation x market segment -------------------------
@register(
    "customer_nation_segment_chi2",
    """
    WITH obs AS (
      SELECT c_nationkey AS nk, c_mktsegment AS seg, COUNT(*) AS o
      FROM customer GROUP BY nk, seg),
    rows_m AS (SELECT nk, SUM(o) AS rn FROM obs GROUP BY nk),
    cols_m AS (SELECT seg, SUM(o) AS cn FROM obs GROUP BY seg),
    tot AS (SELECT SUM(o) AS n FROM obs),
    ex AS (
      SELECT o.nk, o.seg, o.o, (r.rn * 1.0 * c.cn) / t.n AS e
      FROM obs o JOIN rows_m r USING (nk) JOIN cols_m c USING (seg), tot t)
    SELECT ROUND(SUM((o - e) * (o - e) / e), 4) AS chi2,
           CAST(((SELECT COUNT(*) FROM rows_m) - 1)
                * ((SELECT COUNT(*) FROM cols_m) - 1) AS BIGINT) AS dof,
           ROUND(sqrt(SUM((o - e) * (o - e) / e)
                      / ((SELECT n FROM tot)
                         * LEAST((SELECT COUNT(*) FROM rows_m) - 1,
                                 (SELECT COUNT(*) FROM cols_m) - 1))), 6)
             AS cramers_v
    FROM ex
    """,
)
def customer_nation_segment_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence test between two categoricals (nation x
    market segment) + Cramer's V effect size — the categorical-drift /
    feature-association screen of a data-quality suite. Plan: ONE
    corpus-wide groupBy builds the contingency table (|nations x
    segments| rows); margins and the total are tiny re-aggregations of
    it, joined back as broadcasts — the statistic's cost is the single
    contingency shuffle no matter the table size."""
    cust = table(spark, sf_dir, "customer")
    obs = cust.groupBy(
        F.col("c_nationkey").alias("nk"), F.col("c_mktsegment").alias("seg")
    ).agg(F.count(F.lit(1)).alias("o"))
    rows_m = obs.groupBy("nk").agg(F.sum("o").alias("rn"))
    cols_m = obs.groupBy("seg").agg(F.sum("o").alias("cn"))
    tot = obs.agg(F.sum("o").alias("n"))
    nr = rows_m.agg(F.count(F.lit(1)).alias("nr"))
    nc = cols_m.agg(F.count(F.lit(1)).alias("nc"))
    ex = (
        obs.join(F.broadcast(rows_m), "nk")
        .join(F.broadcast(cols_m), "seg")
        .crossJoin(F.broadcast(tot))
        .withColumn("e", F.col("rn") * 1.0 * F.col("cn") / F.col("n"))
    )
    chi = ex.agg(
        F.sum((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")).alias(
            "chi2_raw"
        ),
        F.first("n").alias("n"),
    )
    return (
        chi.crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nc))
        .select(
            F.round("chi2_raw", 4).alias("chi2"),
            ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"),
            F.round(
                F.sqrt(
                    F.col("chi2_raw")
                    / (F.col("n") * F.least(F.col("nr") - 1, F.col("nc") - 1))
                ),
                6,
            ).alias("cramers_v"),
        )
    )


# --- runtime Bloom-filter join pruning -----------------------------------------
def bloom_pruned_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy plan for join_bloom_pruned, factored out so the plan
    test can assert on it while the bloom confs are active."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderstatus") == "F")
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    return (
        j.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
        )
    )


_BLOOM_CONFS = {
    # the injection needs a shuffle join — locally every dim fits the
    # 64MB broadcast threshold, so disable broadcast for this plan the
    # way a 100 TB orders-side never would broadcast at all
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    # local fixture scans sit far under the 10GB application-side
    # default; at production scale the defaults fire on their own
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
}


@register(
    "join_bloom_pruned",
    """
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           COUNT(*) AS n_lines,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
    GROUP BY month
    """,
)
def join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning (Spark 3.3+'s row-level runtime
    filter): the selective predicate on orders builds a bloom filter of
    surviving o_orderkeys, and Catalyst injects
    might_contain(xxhash64(l_orderkey)) into the LINEITEM SCAN — the big
    side is pruned before the join shuffle, the same idea as a
    broadcast semi-join but without needing the dim collected. At 100 TB
    this fires on default thresholds; locally the thresholds are scoped
    down (and broadcast disabled) for the duration of this query only —
    the plan executes eagerly under those confs via localCheckpoint, so
    the session's broadcast behavior is untouched for everyone else.
    Bloom false positives only let extra rows REACH the join, which
    drops them — the result is exact, hence the plain-join oracle.
    The injected filter is plan-asserted in tests/test_pushdown.py."""
    with conf_scope(spark, _BLOOM_CONFS):
        return bloom_pruned_join_frame(spark, sf_dir).localCheckpoint(eager=True)


# --- gaps-and-islands: merge overlapping per-customer order windows ------------
@register(
    "orders_coverage_islands",
    """
    WITH iv AS (
      SELECT o_custkey, o_orderdate AS s, o_orderdate + INTERVAL 30 DAY AS e
      FROM orders),
    marked AS (
      SELECT o_custkey, s, e,
             CASE WHEN s > MAX(e) OVER (PARTITION BY o_custkey ORDER BY s, e
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  OR MAX(e) OVER (PARTITION BY o_custkey ORDER BY s, e
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  THEN 1 ELSE 0 END AS new_island
      FROM iv),
    grp AS (
      SELECT o_custkey, s, e,
             SUM(new_island) OVER (PARTITION BY o_custkey ORDER BY s, e
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
      FROM marked),
    islands AS (
      SELECT o_custkey, island, MIN(s) AS island_start, MAX(e) AS island_end
      FROM grp GROUP BY o_custkey, island)
    SELECT o_custkey AS custkey,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(date_diff('day', island_start, island_end)) AS BIGINT)
             AS covered_days
    FROM islands GROUP BY o_custkey
    """,
)
def orders_coverage_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval merging: each order opens a 30-day
    activity window; overlapping windows per customer merge into
    maximal covered 'islands' (n_islands + total covered days per
    customer). The scale-right plan is pure window algebra — an island
    starts where the start exceeds the running max of all previous ends
    — so the ONLY corpus shuffle is the per-customer sort; the naive
    alternative (interval-overlap self-join + transitive closure) is
    quadratic per key and needs the component machinery for what a
    running max gives for free. Same pattern merges IP-block ranges,
    sensor uptime windows, and validity intervals in SCD tables."""
    iv = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("s"),
        F.date_add(F.to_date("o_orderdate"), 30).alias("e"),
    )
    w_prev = (
        Window.partitionBy("o_custkey")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("o_custkey")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = iv.withColumn("prev_max_e", F.max("e").over(w_prev)).withColumn(
        "new_island",
        F.when(
            F.col("prev_max_e").isNull() | (F.col("s") > F.col("prev_max_e")), 1
        ).otherwise(0),
    )
    grp = marked.withColumn("island", F.sum("new_island").over(w_run))
    islands = grp.groupBy("o_custkey", "island").agg(
        F.min("s").alias("island_start"), F.max("e").alias("island_end")
    )
    return islands.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.datediff("island_end", "island_start")).cast("long").alias("covered_days"),
    )


# --- running MEDIAN in a window (order-statistic frame agg) --------------------
@register(
    "window_running_median_price",
    """
    SELECT o_custkey, o_orderkey,
           CAST(floor(median(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100 + 0.5)
             AS BIGINT) AS running_median_cents
    FROM orders WHERE o_custkey % 10 = 0
    """,
)
def window_running_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running MEDIAN of each customer's order prices — the
    order-statistic window the sum/avg family can't express (robust
    'typical spend so far', insensitive to one huge order). Spark's
    exact `percentile(x, 0.5)` runs as a window aggregate with
    continuous interpolation, the same semantics as DuckDB's `median`;
    the result is emitted as explicit floor(x*100 + 0.5) CENTS because
    engine round() rules diverge on exact .xx5 doubles (observed at
    295969.915) while the floor arithmetic is bit-identical.
    Cost model: per-frame O(n log n) buffering inside each partition —
    fine because frames are per-customer (bounded); a running median
    over an UNPARTITIONED window would buffer the table and is the
    shape to refuse at scale. The residue filter keeps the oracle
    comparison set small while every customer's math is complete."""
    orders = table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 10 == 0)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    med = F.expr("percentile(o_totalprice, 0.5)").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.floor(med * 100 + 0.5).cast("long").alias("running_median_cents"),
    )


# --- incremental JOIN-view maintenance (bilinear delta rule) --------------------
@register(
    "ivm_join_view",
    """
    SELECT c_nationkey AS nationkey,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
    """,
)
def ivm_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained JOIN view, proven against the direct
    join: orders and customer are each split into a materialized 'old'
    half and a newly-arrived delta (orders by date, customers by key
    parity — both sides change, so all three delta terms are
    exercised), the view refreshes via Δ(A⋈B) = ΔA⋈B_old ∪ A_old⋈ΔB ∪
    ΔA⋈ΔB (operators/ivm.py), and the refreshed view's per-nation
    rollup must equal the oracle's full re-join. Refresh cost at scale
    is the point: every delta term has a |Δ|-sized side, so maintaining
    a 100 TB join view tracks arrival rate, not view size — the join
    analogue of a monoid rollup's per-delta merge."""
    from ug_dwh_etl_spark.operators.ivm import refresh_join_view

    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    a_old = orders.filter(F.col("o_orderdate") < "1995-01-01")
    a_delta = orders.filter(F.col("o_orderdate") >= "1995-01-01")
    b_old = cust.filter(F.col("o_custkey") % 2 == 0)
    b_delta = cust.filter(F.col("o_custkey") % 2 == 1)
    view = refresh_join_view(a_old, a_delta, b_old, b_delta, "o_custkey")
    return view.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("revenue"),
    )


# --- Poisson bootstrap: distributed confidence intervals ------------------------
_BOOT_B = 32
# Poisson(1) CDF thresholds (identical literals in both engines) — a
# uniform u maps to the resample multiplicity k = #thresholds below u
_POIS_CDF = (
    "0.367879441171",
    "0.735758882343",
    "0.919698602929",
    "0.981011843124",
    "0.996340153173",
    "0.999405815182",
)

# Per-replicate uniforms come from ONE md5 seed per row pushed through
# B integer permutations ((seed*a_r + b_r) mod P)/P — the MinHash-perm
# discipline (operators/hashing.py: a < 2^20 so seed*a < 2^52, no int64
# overflow under ANSI mode). One hash per row instead of one per
# (row, replicate) — md5 WAS 32/33rds of this query's scan cost.
_BOOT_P = 4294967311  # = hashing.MINHASH_PRIME
_boot_rng = __import__("random").Random(20241031)
_BOOT_COEFFS = [
    (_boot_rng.randrange(1, 1 << 20) | 1, _boot_rng.randrange(0, _BOOT_P))
    for _ in range(_BOOT_B)
]
_BOOT_VALUES_SQL = ", ".join(
    f"({r}, {a}, {b})" for r, (a, b) in enumerate(_BOOT_COEFFS)
)


def _boot_weight_sql(u: str) -> str:
    return " + ".join(f"CASE WHEN {u} >= {c} THEN 1 ELSE 0 END" for c in _POIS_CDF)


@register(
    "sample_bootstrap_ci",
    f"""
    WITH seeds AS (
      SELECT o_totalprice,
             ('0x' || substr(md5(o_orderkey::VARCHAR || '|boot'), 1, 15))::BIGINT
               % {_BOOT_P} AS seed
      FROM orders),
    reps AS (
      SELECT o_totalprice, c.r,
             ((seed * c.a + c.b) % {_BOOT_P}) / {_BOOT_P}.0 AS u
      FROM seeds, (VALUES {_BOOT_VALUES_SQL}) AS c(r, a, b)),
    weighted AS (
      SELECT r, o_totalprice, {_boot_weight_sql('u')} AS w FROM reps),
    means AS (
      SELECT r, SUM(w * o_totalprice) / SUM(w) AS m
      FROM weighted GROUP BY r HAVING SUM(w) > 0)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_replicates,
           ROUND(AVG(m), 4) AS boot_mean,
           ROUND(quantile_cont(m, 0.025), 4) AS ci_lo,
           ROUND(quantile_cont(m, 0.975), 4) AS ci_hi
    FROM means
    """,
)
def sample_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap: the distributed-systems way to bootstrap a
    statistic over data too big to resample — instead of drawing n rows
    with replacement (a shuffle per replicate), every row draws its own
    Poisson(1) multiplicity per replicate from a DETERMINISTIC hash
    uniform, which converges to the multinomial bootstrap for large n.
    All {_BOOT_B} replicates compute in ONE scan (one md5 seed per row,
    B integer permutations exploded map-side) and one partial-aggregated
    groupBy(r); the CI is an exact percentile over B driver-sized rows.
    Deterministic hashing makes the 'random' replicates engine-exact,
    so the whole CI matches the oracle to the rounding digit."""
    orders = table(spark, sf_dir, "orders")
    from ug_dwh_etl_spark.operators.hashing import md5_long

    seed = F.pmod(
        md5_long(F.concat(F.col("o_orderkey").cast("string"), F.lit("|boot"))),
        F.lit(_BOOT_P),
    )
    coeffs = F.array(
        *[
            F.struct(
                F.lit(r).alias("r"), F.lit(a).alias("a"), F.lit(b).alias("b")
            )
            for r, (a, b) in enumerate(_BOOT_COEFFS)
        ]
    )
    reps = (
        orders.select("o_totalprice", seed.alias("seed"))
        .select("o_totalprice", "seed", F.explode(coeffs).alias("c"))
        .select(
            "o_totalprice",
            F.col("c.r").alias("r"),
            (
                F.pmod(
                    F.col("seed") * F.col("c.a") + F.col("c.b"),
                    F.lit(_BOOT_P),
                )
                / F.lit(float(_BOOT_P))
            ).alias("u"),
        )
    )
    w = sum(
        (F.when(F.col("u") >= float(c), 1).otherwise(0) for c in _POIS_CDF),
        F.lit(0),
    )
    means = reps.withColumn("w", w).groupBy("r").agg(
        F.sum("w").alias("sw"),
        F.sum(F.col("w") * F.col("o_totalprice")).alias("swx"),
    ).filter(F.col("sw") > 0).select("r", (F.col("swx") / F.col("sw")).alias("m"))
    return means.agg(
        F.count(F.lit(1)).alias("n_replicates"),
        F.round(F.avg("m"), 4).alias("boot_mean"),
        F.round(F.expr("percentile(m, 0.025)"), 4).alias("ci_lo"),
        F.round(F.expr("percentile(m, 0.975)"), 4).alias("ci_hi"),
    )


# --- conditional-restart running sum (segmented windows) ------------------------
@register(
    "window_spend_between_bigorders",
    """
    WITH seg AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
             SUM(CASE WHEN o_totalprice > 400000 THEN 1 ELSE 0 END)
               OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seg_id
      FROM orders),
    run AS (
      SELECT o_custkey, o_orderkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2)))
               OVER (PARTITION BY o_custkey, COALESCE(seg_id, 0)
                     ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS spend_since_big
      FROM seg)
    SELECT o_custkey, o_orderkey,
           CAST(spend_since_big AS DOUBLE) AS spend_since_big
    FROM run WHERE o_custkey % 20 = 0
    """,
)
def window_spend_between_bigorders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running spend that RESETS after each big order (>400k): the
    conditional-restart running total, solved with the segment-id
    trick — a prior-rows count of reset events becomes the extra
    partition key for the inner running sum. Two stacked windows over
    ONE user-keyed sort (both windows share the (custkey, date) order,
    so Catalyst plans a single exchange+sort); the naive per-row
    'scan backwards to the last reset' is quadratic per key. Same
    pattern meters usage between plan upgrades, rainfall between dry
    spells, balance since last settlement."""
    orders = table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 20 == 0)
    w_prev = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seg = orders.withColumn(
        "seg_id",
        F.coalesce(
            F.sum(F.when(F.col("o_totalprice") > 400000, 1).otherwise(0)).over(w_prev),
            F.lit(0),
        ),
    )
    w_run = (
        Window.partitionBy("o_custkey", "seg_id")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return seg.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w_run)
        .cast("double")
        .alias("spend_since_big"),
    )


# --- declarative data contract over orders --------------------------------------
@register(
    "dq_contract_orders",
    """
    WITH agg AS (
      SELECT COUNT(*) = COUNT(o_orderkey) AND COUNT(*) = COUNT(DISTINCT o_orderkey)
               AS pk_unique_not_null,
             MIN(o_totalprice) > 0 AS price_positive,
             MAX(o_totalprice) < 1000000 AS price_below_cap,
             MIN(o_orderdate) >= DATE '1992-01-01'
               AND MAX(o_orderdate) <= DATE '1998-12-31' AS dates_in_range,
             COUNT(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 END) = 0
               AS status_in_domain,
             COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) = 0 AS fk_not_null
      FROM orders)
    SELECT * FROM (
      SELECT 'pk_unique_not_null' AS constraint_name,
             pk_unique_not_null AS passed FROM agg
      UNION ALL SELECT 'price_positive', price_positive FROM agg
      UNION ALL SELECT 'price_below_cap', price_below_cap FROM agg
      UNION ALL SELECT 'dates_in_range', dates_in_range FROM agg
      UNION ALL SELECT 'status_in_domain', status_in_domain FROM agg
      UNION ALL SELECT 'fk_not_null', fk_not_null FROM agg)
    """,
)
def dq_contract_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data contract on the orders table — primary-key
    uniqueness, value bounds, date range, enum domain, FK non-null —
    validated in ONE aggregate pass (operators.quality.contract_check:
    every rule is an aggregate expression in the same agg, so adding
    rules costs expressions, not scans). The schema-contract gate that
    runs before a 100 TB table is published to consumers; wire the
    output into plans/pipeline.Gate to make failures block."""
    from ug_dwh_etl_spark.operators.quality import contract_check

    orders = table(spark, sf_dir, "orders")
    rules = [
        (
            "pk_unique_not_null",
            (F.count(F.lit(1)) == F.count("o_orderkey"))
            & (F.count(F.lit(1)) == F.count_distinct(F.col("o_orderkey"))),
        ),
        ("price_positive", F.min("o_totalprice") > 0),
        ("price_below_cap", F.max("o_totalprice") < 1000000),
        (
            "dates_in_range",
            (F.min(F.to_date("o_orderdate")) >= F.lit("1992-01-01").cast("date"))
            & (F.max(F.to_date("o_orderdate")) <= F.lit("1998-12-31").cast("date")),
        ),
        (
            "status_in_domain",
            F.count(
                F.when(~F.col("o_orderstatus").isin("F", "O", "P"), F.lit(1))
            )
            == 0,
        ),
        ("fk_not_null", F.count(F.when(F.col("o_custkey").isNull(), F.lit(1))) == 0),
    ]
    return contract_check(orders, rules)


# --- ABC (Pareto) classification of parts by revenue ---------------------------
@register(
    "parts_abc_analysis",
    """
    WITH rev AS (
      SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS r
      FROM lineitem GROUP BY l_partkey),
    ranked AS (
      SELECT l_partkey, r,
             SUM(r) OVER (ORDER BY r DESC, l_partkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_r,
             SUM(r) OVER () AS tot_r
      FROM rev),
    classed AS (
      SELECT CASE WHEN cum_r <= 0.5 * tot_r THEN 'A'
                  WHEN cum_r <= 0.8 * tot_r THEN 'B'
                  ELSE 'C' END AS abc_class, r
      FROM ranked)
    SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(ROUND(SUM(r), 2) AS DOUBLE) AS revenue,
           ROUND(SUM(r) / MAX(CAST((SELECT SUM(r) FROM rev) AS DOUBLE)), 6)
             AS revenue_share
    FROM classed GROUP BY abc_class
    """,
)
def parts_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification: parts ranked by revenue, class A =
    the head covering 50% of cumulative revenue, B to 80%, C the tail —
    the inventory-management 80/20 cut. DECIMAL cumulative sums keep
    class boundaries order-exact across engines (a double running sum
    flips boundary rows). The cumulative sum is the DISTRIBUTED running
    sum (operators/ranking.py global_running_sum — range-repartition on
    the revenue order, partitioned local sums, broadcast prior-partition
    subtotals): the part rollup is data-sized at 100 TB and never
    serializes through one window task."""
    from ug_dwh_etl_spark.operators.ranking import global_running_sum

    ranked = global_running_sum(
        part_revenue(spark, sf_dir),
        [F.desc("r"), F.asc("l_partkey")],
        "r",
        out="cum_r",
        total_out="tot_r",
    ).select("r", "cum_r", "tot_r")
    classed = ranked.select(
        F.when(F.col("cum_r") <= F.col("tot_r") * 0.5, "A")
        .when(F.col("cum_r") <= F.col("tot_r") * 0.8, "B")
        .otherwise("C")
        .alias("abc_class"),
        "r",
        "tot_r",
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(F.sum("r"), 2).cast("double").alias("revenue"),
        F.round(F.sum("r") / F.max(F.col("tot_r").cast("double")), 6).alias(
            "revenue_share"
        ),
    )


# --- Benford first-digit audit (fraud/anomaly DQ screen) ------------------------
@register("dq_benford_totalprice", BENFORD_ORACLE)
def dq_benford_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the classic
    fabricated-data / ingestion-anomaly screen (a pipeline that
    duplicates, truncates, or synthesizes amounts shifts the leading
    digit distribution long before aggregates look wrong). First digit
    is taken from the INTEGER part's decimal string (floor→bigint→
    substr), not via log10, so engines can't disagree at power-of-ten
    boundaries; expected shares are ln(1+1/d)/ln(10). One map-side-
    combined 9-group aggregate + a broadcast scalar total — scan-bound
    at any scale."""
    orders = table(spark, sf_dir, "orders")
    digits = orders.select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    obs = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = obs.agg(F.sum("n").alias("t"))
    return obs.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        F.round(F.col("n") / F.col("t"), 6).alias("observed_share"),
        F.round(
            F.log(F.lit(1) + F.lit(1.0) / F.col("digit")) / F.log(F.lit(10.0)), 6
        ).alias("benford_share"),
    )


# --- mutual information between two categorical columns -------------------------
@register(
    "customer_mi_segment_nation",
    """
    WITH j AS (SELECT c_nationkey AS nk, c_mktsegment AS seg FROM customer),
    tot AS (SELECT COUNT(*) * 1.0 AS t FROM j),
    px AS (SELECT nk, COUNT(*) AS nx FROM j GROUP BY nk),
    py AS (SELECT seg, COUNT(*) AS ny FROM j GROUP BY seg),
    pxy AS (SELECT nk, seg, COUNT(*) AS nxy FROM j GROUP BY nk, seg),
    mi AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
                  SUM((nxy / t) * ln(nxy * t / (nx * ny))) AS mi
           FROM pxy JOIN px USING (nk) JOIN py USING (seg), tot),
    hx AS (SELECT -SUM((nx / t) * ln(nx / t)) AS hx FROM px, tot),
    hy AS (SELECT -SUM((ny / t) * ln(ny / t)) AS hy FROM py, tot)
    SELECT n_cells, ROUND(mi, 6) AS mi_nats,
           ROUND(hx, 6) AS h_nation_nats, ROUND(hy, 6) AS h_segment_nats,
           ROUND(mi / sqrt(hx * hy), 6) AS nmi
    FROM mi, hx, hy
    """,
)
def customer_mi_segment_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between nation and market segment,
    with both marginal entropies and sqrt-normalized NMI — the
    model-free dependence screen that complements the chi2 test
    (customer_nation_segment_chi2): chi2 answers "is there ANY
    association"; MI quantifies HOW MANY bits the pair shares, the
    quantity feature-selection and leakage audits rank by. Three
    cell-count aggregates (all map-side combined, category-sized
    outputs) + broadcast scalar total; the log-ratio sum runs on the
    125-cell joint relation. All counts are exact; the float log sums
    round at 6dp (engine partial-agg order, house rule)."""
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nk"), F.col("c_mktsegment").alias("seg")
    )
    tot = cust.agg((F.count(F.lit(1)) * 1.0).alias("t"))
    px = cust.groupBy("nk").agg(F.count(F.lit(1)).alias("nx"))
    py = cust.groupBy("seg").agg(F.count(F.lit(1)).alias("ny"))
    pxy = cust.groupBy("nk", "seg").agg(F.count(F.lit(1)).alias("nxy"))
    mi = (
        pxy.join(px, "nk")
        .join(F.broadcast(py), "seg")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum(
                (F.col("nxy") / F.col("t"))
                * F.log(F.col("nxy") * F.col("t") / (F.col("nx") * F.col("ny")))
            ).alias("mi"),
        )
    )
    hx = px.crossJoin(F.broadcast(tot)).agg(
        (-F.sum((F.col("nx") / F.col("t")) * F.log(F.col("nx") / F.col("t")))).alias(
            "hx"
        )
    )
    hy = py.crossJoin(F.broadcast(tot)).agg(
        (-F.sum((F.col("ny") / F.col("t")) * F.log(F.col("ny") / F.col("t")))).alias(
            "hy"
        )
    )
    return (
        mi.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .select(
            "n_cells",
            F.round("mi", 6).alias("mi_nats"),
            F.round("hx", 6).alias("h_nation_nats"),
            F.round("hy", 6).alias("h_segment_nats"),
            F.round(F.col("mi") / F.sqrt(F.col("hx") * F.col("hy")), 6).alias("nmi"),
        )
    )


# --- association rules (confidence / lift) over the capped pair set ------------
@register(
    "copurchase_rules",
    f"""
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    nn AS (SELECT COUNT(DISTINCT o) AS n_orders FROM op),
    f AS (SELECT p, COUNT(*) AS n FROM op GROUP BY p),
    qual AS (SELECT p, n FROM f WHERE n >= {_COP_MIN_SUP}),
    opq AS (SELECT op.o, op.p FROM op JOIN qual ON qual.p = op.p),
    pairs AS (
      SELECT a.p AS p1, b.p AS p2, COUNT(*) AS n_ab
      FROM opq a JOIN opq b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p),
    rules AS (
      SELECT p1 AS antecedent, p2 AS consequent, n_ab FROM pairs
      UNION ALL
      SELECT p2, p1, n_ab FROM pairs),
    scored AS (
      SELECT antecedent, consequent, n_ab,
             fa.n AS n_a, fb.n AS n_b,
             n_ab * 1.0 / fa.n AS conf,
             n_ab * 1.0 * n_orders / (fa.n * 1.0 * fb.n) AS lift
      FROM rules
        JOIN qual fa ON fa.p = antecedent
        JOIN qual fb ON fb.p = consequent
        CROSS JOIN nn)
    SELECT antecedent, consequent, CAST(n_ab AS BIGINT) AS n_ab,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           ROUND(conf, 6) AS confidence, ROUND(lift, 6) AS lift
    FROM scored
    ORDER BY ROUND(lift, 6) DESC, antecedent, consequent LIMIT 20
    """,
)
def copurchase_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed association rules over the min-support co-purchase
    pairs: confidence P(b|a) = n_ab/n_a and lift
    P(a,b)/(P(a)P(b)) = n_ab·N/(n_a·n_b), top-20 by lift — the
    market-basket statistic behind 'frequently bought together'
    recommendations, built on copurchase_capped's support-pruned pair
    relation (the min-support cut is exactly the Apriori antimonotone
    prune: a rule can't beat the threshold its itemsets miss). Each
    undirected pair fans into the two directed rules batch-side. The
    ranking key is ROUNDED lift with (antecedent, consequent)
    tiebreaks; pair-relation cost is the same bounded
    per-order fan-out as the parent query."""
    op, qual, pairs = _supported_pairs(spark, sf_dir)
    nn = op.agg(F.countDistinct("o").alias("n_orders"))
    rules = pairs.select(
        F.col("p1").alias("antecedent"), F.col("p2").alias("consequent"), "n_ab"
    ).unionByName(
        pairs.select(
            F.col("p2").alias("antecedent"), F.col("p1").alias("consequent"), "n_ab"
        )
    )
    fa = qual.select(F.col("p").alias("antecedent"), F.col("n").alias("n_a"))
    fb = qual.select(F.col("p").alias("consequent"), F.col("n").alias("n_b"))
    scored = (
        rules.join(F.broadcast(fa), "antecedent")
        .join(F.broadcast(fb), "consequent")
        .crossJoin(F.broadcast(nn))
        .select(
            "antecedent",
            "consequent",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(F.col("n_ab") * 1.0 / F.col("n_a"), 6).alias("confidence"),
            F.round(
                F.col("n_ab") * 1.0 * F.col("n_orders")
                / (F.col("n_a") * 1.0 * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.desc(F.round(F.col("lift"), 6)), F.asc("antecedent"), F.asc("consequent")
    ).limit(20)


# --- exact weighted median per group -------------------------------------------
@register(
    "agg_weighted_median",
    """
    WITH w AS (
      SELECT l_suppkey AS s, l_extendedprice AS v,
             SUM(CAST(l_quantity AS DECIMAL(18,2)))
               OVER (PARTITION BY l_suppkey
                     ORDER BY l_extendedprice, l_orderkey, l_linenumber
                     ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(CAST(l_quantity AS DECIMAL(18,2)))
               OVER (PARTITION BY l_suppkey) AS tw
      FROM lineitem)
    SELECT s AS suppkey, MIN(v) AS wmedian_price,
           CAST(COUNT(*) AS BIGINT) AS n_crossing
    FROM w WHERE cw >= tw / 2 GROUP BY s
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact QUANTITY-WEIGHTED median price per supplier: sort each
    supplier's lines by price, take the first value whose running
    weight crosses half the total — the robust 'typical transacted
    price' that unweighted median misses (a 50-unit line should count
    50x a 1-unit line). percentile/median aggregates can't take
    weights, so this is the canonical windowed rewrite. Weights sum in
    DECIMAL — the running and total sums must be EXACT or the crossing
    row (and thus the answer) flips at engine float-order whim.
    Windows are partitioned per supplier (bounded frames, parallel);
    the group key is deliberately high-cardinality — the same query
    keyed by a 3-value flag would serialize each third of the table
    through one reducer, the shape to refuse at 100 TB (bin-histogram
    quantiles are the rewrite there)."""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    wt = F.col("l_quantity").cast("decimal(18,2)")
    wo = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wp = Window.partitionBy("l_suppkey")
    w = li.select(
        F.col("l_suppkey").alias("s"),
        F.col("l_extendedprice").alias("v"),
        F.sum(wt).over(wo).alias("cw"),
        F.sum(wt).over(wp).alias("tw"),
    )
    return (
        w.filter(F.col("cw") >= F.col("tw") / 2)
        .groupBy(F.col("s").alias("suppkey"))
        .agg(
            F.min("v").alias("wmedian_price"),
            F.count(F.lit(1)).alias("n_crossing"),
        )
    )


# --- functional-dependency audit ------------------------------------------------
@register(
    "dq_functional_dependency",
    """
    WITH checks AS (
      SELECT 'p_name->p_brand' AS fd, p_name AS det, p_brand AS dep FROM part
      UNION ALL
      SELECT 'p_name->p_type', p_name, p_type FROM part
      UNION ALL
      SELECT 'p_brand->p_type', p_brand, p_type FROM part),
    per_det AS (
      SELECT fd, det, COUNT(DISTINCT dep) AS n_dep, COUNT(*) AS n_rows
      FROM checks GROUP BY fd, det)
    SELECT fd, CAST(COUNT(*) AS BIGINT) AS n_determinants,
           CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS violating_determinants,
           CAST(SUM(CASE WHEN n_dep > 1 THEN n_rows ELSE 0 END) AS BIGINT)
             AS violating_rows,
           ROUND(SUM(CASE WHEN n_dep > 1 THEN n_rows ELSE 0 END) * 1.0
                 / SUM(n_rows), 6) AS violation_rate
    FROM per_det GROUP BY fd
    """,
)
def dq_functional_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit: for each candidate FD X→Y, how many
    determinant values map to MORE than one dependent value, and what
    row fraction they cover — the schema-inference / dirty-dimension
    screen (a 'brand determines type' rule that holds at 99.9% is a
    normalization opportunity; one that suddenly degrades is an ingest
    bug). The three candidates union into one relation so the whole
    audit is a single two-level aggregation (per-determinant distinct
    count, then per-FD rollup) — adding candidates adds scan width,
    not passes. Exact integer counts; rate rounds at 6dp."""
    part = table(spark, sf_dir, "part")

    def c(fd: str, det: str, dep: str) -> DataFrame:
        return part.select(
            F.lit(fd).alias("fd"),
            F.col(det).alias("det"),
            F.col(dep).alias("dep"),
        )

    checks = (
        c("p_name->p_brand", "p_name", "p_brand")
        .unionByName(c("p_name->p_type", "p_name", "p_type"))
        .unionByName(c("p_brand->p_type", "p_brand", "p_type"))
    )
    per_det = checks.groupBy("fd", "det").agg(
        F.countDistinct("dep").alias("n_dep"), F.count(F.lit(1)).alias("n_rows")
    )
    viol = F.sum(F.when(F.col("n_dep") > 1, F.col("n_rows")).otherwise(0))
    return per_det.groupBy("fd").agg(
        F.count(F.lit(1)).alias("n_determinants"),
        F.sum(F.when(F.col("n_dep") > 1, 1).otherwise(0))
        .cast("long")
        .alias("violating_determinants"),
        viol.cast("long").alias("violating_rows"),
        F.round(viol * 1.0 / F.sum("n_rows"), 6).alias("violation_rate"),
    )


# --- Gini concentration of customer revenue --------------------------------------
@register(
    "customer_activation_wilson",
    """
    WITH act AS (
      SELECT c.c_nationkey AS nationkey,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(CASE WHEN EXISTS (
               SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_active
      FROM customer c GROUP BY nationkey),
    w AS (
      SELECT nationkey, n_customers, n_active,
             n_active / n_customers::DOUBLE AS p,
             1.96 AS z, n_customers::DOUBLE AS n
      FROM act)
    SELECT nationkey, n_customers, n_active,
           ROUND(p, 6) AS rate,
           ROUND((p + z*z/(2*n) - z * sqrt(p*(1-p)/n + z*z/(4*n*n)))
                 / (1 + z*z/n), 6) AS wilson_lo,
           ROUND((p + z*z/(2*n) + z * sqrt(p*(1-p)/n + z*z/(4*n*n)))
                 / (1 + z*z/n), 6) AS wilson_hi
    FROM w
    """,
)
def customer_activation_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer activation rate (has ≥1 order) per nation with a Wilson
    95% interval — the small-sample-honest CI the normal approximation
    gets wrong near 0/1 or low n, i.e. the statistic a dashboard should
    show instead of a bare rate when nations differ 100× in size. One
    semi-join flag + per-nation aggregate; the interval is post-agg
    scalar arithmetic (sqrt is IEEE-correctly-rounded on both engines,
    so rounded endpoints match exactly)."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").select("o_custkey").distinct()
    flagged = cust.join(
        orders.withColumnRenamed("o_custkey", "c_custkey").withColumn(
            "_has", F.lit(1)
        ),
        "c_custkey",
        "left",
    )
    act = flagged.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.when(F.col("_has").isNotNull(), 1).otherwise(0)).alias("n_active"),
    )
    p = F.col("n_active") / F.col("n_customers")
    n = F.col("n_customers").cast("double")
    z = F.lit(1.96)
    half = z * F.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
    denom = 1 + z * z / n
    return act.select(
        "nationkey",
        "n_customers",
        "n_active",
        F.round(p, 6).alias("rate"),
        F.round((p + z * z / (2 * n) - half) / denom, 6).alias("wilson_lo"),
        F.round((p + z * z / (2 * n) + half) / denom, 6).alias("wilson_hi"),
    )


@register(
    "customer_gini",
    """
    WITH rev AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
      FROM orders GROUP BY o_custkey),
    ranked AS (
      SELECT y, ROW_NUMBER() OVER (ORDER BY y, o_custkey) AS i FROM rev)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(2.0 * SUM(i * y) / (COUNT(*) * SUM(y))
                 - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
    FROM ranked
    """,
)
def customer_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration across customers —
    the one-number inequality summary behind parts_abc_analysis'
    cumulative-share classes (G = 2·Σi·yᵢ/(n·Σy) − (n+1)/n over
    ascending-sorted revenues). Revenue sums stay DECIMAL end-to-end so
    the rank weighting is exact (no float partial-agg order); the rank
    over the per-customer rollup is the DISTRIBUTED two-pass rank
    (operators/ranking.py — range-repartition + local row_number +
    broadcast offsets), because 'per-customer' is still data-sized at
    100 TB and must never serialize through one window task."""
    from ug_dwh_etl_spark.operators.ranking import global_row_number

    rev = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("y"))
    )
    ranked = global_row_number(rev, ["y", "o_custkey"], out="i").select(
        "y", "i"
    )
    n = F.count(F.lit(1))
    return ranked.agg(
        n.cast("long").alias("n_customers"),
        F.round(
            2.0 * F.sum(F.col("i") * F.col("y")) / (n * F.sum("y"))
            - (n + 1.0) / n,
            6,
        ).alias("gini"),
    )


# --- binned interval join: the range-join scale path ------------------------------
@register(
    "join_range_binned",
    """
    SELECT a.user_id, CAST(COUNT(*) AS BIGINT) AS n_followups
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 5 MINUTE
    GROUP BY a.user_id
    """,
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME 5-minute follow-up count as join_range_followups,
    computed as a BINNED interval join: each timestamp maps to a
    5-minute bin, the left side probes (its bin, next bin) via a
    2-element explode, the join is pure EQUI on (user_id, bin), and the
    exact range predicate filters after the match. Why it exists: the
    plain spelling's range predicate can't hash — inside one join key
    every left row meets every right row (per-key quadratic), which is
    fine for bounded per-user activity but melts on a hot key. Binning
    caps each probe at two bins, so cost is Σ per-(key, bin)² — bounded
    by DENSITY (events per 5 minutes), not by a key's total history.
    Identical results by construction (both registered against the
    same oracle text); 2× row duplication on the build side is the
    entire overhead."""
    ev = table(spark, sf_dir, "events").select("user_id", "ts")
    bin_len = 300  # seconds
    b = ev.select(
        "user_id",
        F.col("ts").alias("b_ts"),
        (F.unix_timestamp("ts") / bin_len).cast("long").alias("bin"),
    )
    a = ev.select(
        "user_id",
        F.col("ts").alias("a_ts"),
        F.explode(
            F.array(
                (F.unix_timestamp("ts") / bin_len).cast("long"),
                (F.unix_timestamp("ts") / bin_len).cast("long") + 1,
            )
        ).alias("bin"),
    )
    return (
        a.join(b, ["user_id", "bin"])
        .filter(
            (F.col("b_ts") > F.col("a_ts"))
            & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 5 MINUTES"))
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_followups"))
    )


# --- primary-key uniqueness audit across the warehouse ---------------------------
_PK_COLS = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey",),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey", "l_linenumber"),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


def _pk_audit_sql() -> str:
    selects = []
    for t, cols in _PK_COLS.items():
        key = ", ".join(cols)
        selects.append(
            f"""SELECT '{t}' AS table_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT ({key})) AS BIGINT) AS n_keys,
           CAST(COUNT(*) - COUNT(DISTINCT ({key})) AS BIGINT) AS dup_rows,
           CAST(COUNT(*) = COUNT(DISTINCT ({key})) AS BOOLEAN) AS is_unique
    FROM {t}"""
        )
    return "\n    UNION ALL ".join(selects)


@register("dq_primary_key_audit", _pk_audit_sql())
def dq_primary_key_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit over every warehouse table in one
    result: row count vs distinct declared-key count per table (the
    composite (orderkey, linenumber) for lineitem) — the first DQ gate
    any ingest runs (dq_contract_orders checks VALUES; this checks
    IDENTITY, the precondition for every keyed merge and dedup
    decision upstream). One scan + one map-side-combinable distinct per
    table, outputs are 10 rows, and at 100 TB each distinct is the
    same shuffle its table's dedup would pay anyway — run it as the
    cheap pre-flight before those jobs."""
    out = None
    for t, cols in _PK_COLS.items():
        df = table(spark, sf_dir, t)
        key = F.struct(*[F.col(c) for c in cols])
        row = df.agg(
            F.lit(t).alias("table_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(key).alias("n_keys"),
            (F.count(F.lit(1)) - F.countDistinct(key)).alias("dup_rows"),
            (F.count(F.lit(1)) == F.countDistinct(key)).alias("is_unique"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# --- foreign-key referential-integrity audit --------------------------------------
# (child table, fk column(s)) -> (parent table, pk column(s))
_FK_EDGES = (
    ("nation", ("n_regionkey",), "region", ("r_regionkey",)),
    ("customer", ("c_nationkey",), "nation", ("n_nationkey",)),
    ("supplier", ("s_nationkey",), "nation", ("n_nationkey",)),
    ("orders", ("o_custkey",), "customer", ("c_custkey",)),
    ("lineitem", ("l_orderkey",), "orders", ("o_orderkey",)),
    ("lineitem", ("l_partkey",), "part", ("p_partkey",)),
    ("lineitem", ("l_suppkey",), "supplier", ("s_suppkey",)),
)


def _fk_audit_sql() -> str:
    selects = []
    for child, fk, parent, pk in _FK_EDGES:
        fkc, pkc = ", ".join(fk), ", ".join(pk)
        selects.append(
            f"""SELECT '{child}.{fk[0]}' AS fk,
           '{parent}' AS parent_table,
           CAST(COUNT(*) AS BIGINT) AS n_child_rows,
           CAST(SUM(CASE WHEN NOT EXISTS (
                  SELECT 1 FROM {parent} p WHERE ({pkc}) = ({fkc}))
                THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
           CAST(SUM(CASE WHEN NOT EXISTS (
                  SELECT 1 FROM {parent} p WHERE ({pkc}) = ({fkc}))
                THEN 1 ELSE 0 END) = 0 AS BOOLEAN) AS is_consistent
    FROM {child}"""
        )
    return "\n    UNION ALL ".join(selects)


@register("dq_foreign_key_audit", _fk_audit_sql())
def dq_foreign_key_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit for every declared FK edge of the
    star schema in one 7-row result: orphaned child rows per edge
    (child keys with no parent) — the companion to
    dq_primary_key_audit (that one proves parent identity; this proves
    the edges the join layer relies on). Each edge is a LEFT ANTI join
    counted — at 100 TB the parent side is the key column only, and
    dim-sized parents broadcast, so the audit costs one pass per fact
    edge with no wide shuffles; Spark and DuckDB agree on NOT-EXISTS
    null semantics because the anti-join is on key equality."""
    out = None
    for child, fk, parent, pk in _FK_EDGES:
        c = table(spark, sf_dir, child)
        p = table(spark, sf_dir, parent).select(
            *[F.col(k).alias(f"__p{i}") for i, k in enumerate(pk)]
        )
        cond = None
        for i, k in enumerate(fk):
            e = F.col(k) == F.col(f"__p{i}")
            cond = e if cond is None else cond & e
        orphans = c.join(p, cond, "left_anti").agg(
            F.count(F.lit(1)).alias("n_orphans")
        )
        total = c.agg(F.count(F.lit(1)).alias("n_child_rows"))
        row = total.crossJoin(orphans).select(
            F.lit(f"{child}.{fk[0]}").alias("fk"),
            F.lit(parent).alias("parent_table"),
            "n_child_rows",
            "n_orphans",
            (F.col("n_orphans") == 0).alias("is_consistent"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# --- customer LTV curve by account age --------------------------------------------
_LTV_MONTHS = 24


@register(
    "customer_ltv_curve",
    f"""
    WITH first_o AS (
      SELECT o_custkey, MIN(o_orderdate) AS first_dt FROM orders GROUP BY o_custkey),
    rev AS (
      SELECT o.o_custkey,
             LEAST(CAST(date_diff('month',
                                  date_trunc('month', f.first_dt),
                                  date_trunc('month', o.o_orderdate)) AS BIGINT),
                   {_LTV_MONTHS - 1}) AS m,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS r
      FROM orders o JOIN first_o f ON f.o_custkey = o.o_custkey
      GROUP BY o.o_custkey, m),
    grid AS (
      SELECT f.o_custkey, s.m, COALESCE(rev.r, 0) AS r
      FROM first_o f
      CROSS JOIN (SELECT unnest(range(0, {_LTV_MONTHS})) AS m) s
      LEFT JOIN rev ON rev.o_custkey = f.o_custkey AND rev.m = s.m),
    cum AS (
      SELECT o_custkey, m,
             SUM(r) OVER (PARTITION BY o_custkey ORDER BY m) AS cum_r
      FROM grid)
    SELECT CAST(m AS INT) AS month_age,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(AVG(cum_r::DOUBLE), 4) AS avg_cum_revenue
    FROM cum GROUP BY m
    """,
)
def customer_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average cumulative revenue per customer by account age (months
    since first order, capped at {_M}) — the LTV curve that prices
    acquisition and decides retention spend, and the revenue-weighted
    generalization of events_cohort_retention. Months with no purchase
    carry the running total forward, so each customer is densified onto
    a {_M}-row month spine (a broadcast cross join — output is
    customers×{_M}, linear) and cumulated with a per-customer window;
    revenue stays DECIMAL until the final averaging. Everything is
    keyed by customer: no global windows, no driver loops.""".replace(
        "{_M}", str(_LTV_MONTHS)
    )
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders")
    first_o = orders.groupBy("o_custkey").agg(F.min("o_orderdate").alias("first_dt"))
    rev = (
        orders.join(first_o, "o_custkey")
        .select(
            "o_custkey",
            F.least(
                F.months_between(
                    F.date_trunc("month", "o_orderdate"),
                    F.date_trunc("month", "first_dt"),
                ).cast("long"),
                F.lit(_LTV_MONTHS - 1),
            ).alias("m"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
        )
        .groupBy("o_custkey", "m")
        .agg(F.sum("p").alias("r"))
    )
    spine = orders.sparkSession.range(_LTV_MONTHS).select(F.col("id").alias("m"))
    grid = (
        first_o.select("o_custkey")
        .crossJoin(F.broadcast(spine))
        .join(rev, ["o_custkey", "m"], "left")
        .select(
            "o_custkey",
            "m",
            F.coalesce(F.col("r"), F.lit(0).cast("decimal(18,2)")).alias("r"),
        )
    )
    w = Window.partitionBy("o_custkey").orderBy("m")
    cum = grid.select("o_custkey", "m", F.sum("r").over(w).alias("cum_r"))
    return cum.groupBy(F.col("m").cast("int").alias("month_age")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.avg(F.col("cum_r").cast("double")), 4).alias("avg_cum_revenue"),
    )


# --- freshness audit ---------------------------------------------------------------
@register(
    "dq_freshness_audit",
    """
    WITH marks AS (
      SELECT 'orders' AS table_name, MAX(o_orderdate) AS latest FROM orders
      UNION ALL SELECT 'lineitem', MAX(l_shipdate) FROM lineitem
      UNION ALL SELECT 'events', MAX(ts) FROM events),
    anchor AS (SELECT MAX(latest) AS now_ts FROM marks)
    SELECT m.table_name,
           CAST(m.latest AS TIMESTAMP) AS latest,
           CAST(date_diff('day', m.latest, a.now_ts) AS BIGINT) AS staleness_days,
           CAST(date_diff('day', m.latest, a.now_ts) > 30 AS BOOLEAN) AS stale
    FROM marks m, anchor a
    """,
)
def dq_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness audit across the time-bearing tables: each table's
    latest watermark vs the warehouse-wide newest timestamp, flagged
    past a 30-day staleness budget — the DQ gate that catches a dead
    ingest BEFORE downstream queries silently compute on old data (the
    reference's crawl pipelines re-append daily; a table whose max
    crawl_date stops moving is exactly this alarm). One MAX per table
    (metadata-cheap under parquet statistics) + a 3-row rollup."""
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    ev = table(spark, sf_dir, "events")
    marks = (
        orders.agg(
            F.lit("orders").alias("table_name"),
            F.max(F.col("o_orderdate").cast("timestamp")).alias("latest"),
        )
        .unionByName(
            li.agg(
                F.lit("lineitem").alias("table_name"),
                F.max(F.col("l_shipdate").cast("timestamp")).alias("latest"),
            )
        )
        .unionByName(
            ev.agg(F.lit("events").alias("table_name"), F.max("ts").alias("latest"))
        )
    )
    anchor = marks.agg(F.max("latest").alias("now_ts"))
    stale_days = F.datediff(F.to_date("now_ts"), F.to_date("latest")).cast("long")
    return marks.crossJoin(F.broadcast(anchor)).select(
        "table_name",
        "latest",
        stale_days.alias("staleness_days"),
        (stale_days > 30).alias("stale"),
    )


# --- open-order backlog aging --------------------------------------------------------
@register(
    "orders_backlog_aging",
    """
    WITH anchor AS (SELECT MAX(o_orderdate) AS now_dt FROM orders),
    open_o AS (
      SELECT o_orderkey, o_totalprice,
             date_diff('day', o_orderdate, (SELECT now_dt FROM anchor)) AS age_days
      FROM orders WHERE o_orderstatus = 'O')
    SELECT CASE WHEN age_days < 90 THEN '0-89'
                WHEN age_days < 365 THEN '90-364'
                WHEN age_days < 730 THEN '365-729'
                ELSE '730+' END AS age_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS open_value
    FROM open_o GROUP BY age_bucket
    """,
)
def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging: orders still in status 'O', bucketed by
    age against the newest order date (the as-of anchor), with the
    decimal-exact open value per bucket — the operations staple that
    says how much committed revenue is stuck and for how long. One
    pushed-filter scan + a broadcast anchor scalar + a 4-row rollup;
    the status filter reaches the parquet scan so at 100 TB only the
    open slice is read where the table is status-partitioned."""
    orders = table(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("now_dt"))
    aged = (
        orders.filter(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(anchor))
        .select(
            F.datediff(F.to_date("now_dt"), F.to_date("o_orderdate")).alias("age_days"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
        )
    )
    bucket = (
        F.when(F.col("age_days") < 90, "0-89")
        .when(F.col("age_days") < 365, "90-364")
        .when(F.col("age_days") < 730, "365-729")
        .otherwise("730+")
    )
    return aged.groupBy(bucket.alias("age_bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("p"), 2).cast("double").alias("open_value"),
    )


# --- exact per-group mode ----------------------------------------------------------
@register(
    "agg_mode_returnflag",
    """
    WITH c AS (
      SELECT l_returnflag, o_orderpriority, COUNT(*) AS n
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY l_returnflag, o_orderpriority),
    pick AS (
      SELECT o_orderpriority, l_returnflag AS mode_returnflag, n,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY n DESC, l_returnflag ASC) AS rn
      FROM c)
    SELECT o_orderpriority, mode_returnflag, CAST(n AS BIGINT) AS n_lines
    FROM pick WHERE rn = 1
    """,
)
def agg_mode_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact MODE per group — the most frequent return flag per order
    priority with a deterministic (count DESC, value ASC) tie-break —
    the categorical central-tendency aggregate Spark has no built-in
    for. Spelled as count + min-of-struct argmax (the same
    sort-free trick as label_propagation's per-node pick): two
    map-side-combinable aggregations over group×value state, never a
    per-group sort or collect — at 100 TB the state is
    |priorities|×|flags|, constant."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    c = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority", "l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    picked = c.groupBy("o_orderpriority").agg(
        F.min(F.struct((-F.col("n")).alias("nn"), F.col("l_returnflag"))).alias("m")
    )
    return picked.select(
        "o_orderpriority",
        F.col("m.l_returnflag").alias("mode_returnflag"),
        (-F.col("m.nn")).cast("long").alias("n_lines"),
    )


@register(
    "orders_calendar_heatmap",
    """
    SELECT CAST(isodow(o_orderdate) AS BIGINT) AS iso_dow,
           CAST(month(o_orderdate) AS BIGINT) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS revenue
    FROM orders
    GROUP BY iso_dow, month
    """,
)
def orders_calendar_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar seasonality grid: order count and decimal-exact revenue
    by (ISO weekday 1-7, month 1-12) — the 84-cell heatmap behind
    staffing/capacity dashboards and the seasonal feature table a
    demand model joins. Engine note: Spark's dayofweek() is
    1=Sunday while DuckDB's isodow() is 1=Monday, so the Spark side
    derives ISO day as weekday()+1 — calendar off-by-ones are exactly
    the cross-engine bug class these oracles exist to catch. One
    partial-aggregated shuffle onto an 84-key space."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            (F.weekday("o_orderdate") + 1).cast("long").alias("iso_dow"),
            F.month("o_orderdate").cast("long").alias("month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("revenue"),
        )
    )


# --- incremental LEFT-OUTER view maintenance (the flip rule) --------------------
@register(
    "ivm_left_outer_view",
    """
    SELECT COALESCE(c_nationkey, -1) AS nationkey,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS revenue
    FROM orders LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 0) c
      ON o_custkey = c_custkey
    GROUP BY COALESCE(c_nationkey, -1)
    """,
)
def ivm_left_outer_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained LEFT-OUTER join view, proven against
    the direct outer join: beyond ivm_join_view's bilinear terms, the
    outer view needs the FLIP rule — a NULL-padded row retracts when
    ΔB delivers its key's first match (operators/ivm.py,
    refresh_left_outer_view). The B side keeps only positive-balance
    customers so genuinely unmatched orders survive to the final view
    (nationkey -1 bucket) — the padded slice is real data, not an
    artifact of the split. Both bases split (orders by date, customers
    by key parity), so every term fires: kept-padded, flipped,
    new-left-matched and new-left-padded."""
    from ug_dwh_etl_spark.operators.ivm import refresh_left_outer_view

    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select("c_custkey", "c_nationkey")
    )
    a_old = orders.filter(F.col("o_orderdate") < "1995-01-01")
    a_delta = orders.filter(F.col("o_orderdate") >= "1995-01-01")
    b_old = cust.filter(F.col("c_custkey") % 2 == 0)
    b_delta = cust.filter(F.col("c_custkey") % 2 == 1)
    view = refresh_left_outer_view(
        a_old, a_delta, b_old, b_delta, "o_custkey", "c_custkey"
    )
    return view.groupBy(
        F.coalesce(F.col("c_nationkey"), F.lit(-1)).alias("nationkey")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("revenue"),
    )


# --- snapshot diff / CDC audit ----------------------------------------------------
# Deterministic two-snapshot fixture from one table (the repo's masking
# convention, cf. dq_impute_group_median): "yesterday" lacks the
# orderkey%20==0 rows and still carries the pre-upgrade priority on
# orderkey%7==0 rows; "today" lacks the %20==10 rows. Both engines
# derive the identical snapshots, so the OPERATOR under test — the
# row-fingerprint diff — is what's compared.


@register(
    "dq_snapshot_diff",
    """
    WITH old AS (
      SELECT o_orderkey AS k,
             md5(concat_ws('|', o_orderstatus,
                           CASE WHEN o_orderkey % 7 = 0 THEN '5-LOW'
                                ELSE o_orderpriority END,
                           o_orderdate)) AS fp
      FROM orders WHERE o_orderkey % 20 <> 0),
    new AS (
      SELECT o_orderkey AS k,
             md5(concat_ws('|', o_orderstatus, o_orderpriority, o_orderdate)) AS fp
      FROM orders WHERE o_orderkey % 20 <> 10),
    d AS (
      SELECT CASE WHEN old.fp IS NULL THEN 'added'
                  WHEN new.fp IS NULL THEN 'removed'
                  WHEN old.fp <> new.fp THEN 'changed'
                  ELSE 'unchanged' END AS change_type
      FROM old FULL OUTER JOIN new ON old.k = new.k),
    c AS (SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n
          FROM d GROUP BY change_type)
    SELECT change_type, n,
           ROUND(n * 1.0 / (SELECT SUM(n) FROM c), 6) AS share
    FROM c
    """,
)
def dq_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT DIFF / CDC audit: classify every key across two table
    snapshots as added / removed / changed / unchanged by comparing ONE
    row fingerprint per side (md5 over the delimiter-joined business
    columns) instead of N column equalities — the audit a daily
    `if_exists="replace"` snapshot feed needs before trusting the swap
    (the reference replaces dimension snapshots blind,
    `sf_html_data.py:185`, `sf_inlink_bulk_data.py:104`; this is the
    guard that catches a 40%-changed upstream before it goes live).

    Scale: one full-outer hash join on the key with map-side-combined
    class counts — linear, no window; fingerprints keep the shuffled
    comparison payload at 32 bytes per row no matter how wide the
    table. Strings-only fingerprint input: cross-engine md5 equality
    needs identical bytes, and double->string formatting is not
    contract-stable across engines (numeric columns would first be cast
    to fixed-scale decimals in production)."""
    orders = table(spark, sf_dir, "orders")
    old_prio = F.when(F.col("o_orderkey") % 7 == 0, F.lit("5-LOW")).otherwise(
        F.col("o_orderpriority")
    )
    old = orders.filter(F.col("o_orderkey") % 20 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.md5(F.concat_ws("|", F.col("o_orderstatus"), old_prio, F.col("o_orderdate")))
        .alias("fp_old"),
    )
    new = orders.filter(F.col("o_orderkey") % 20 != 10).select(
        F.col("o_orderkey").alias("k"),
        F.md5(
            F.concat_ws(
                "|", F.col("o_orderstatus"), F.col("o_orderpriority"), F.col("o_orderdate")
            )
        ).alias("fp_new"),
    )
    d = old.join(new, "k", "full_outer").select(
        F.when(F.col("fp_old").isNull(), "added")
        .when(F.col("fp_new").isNull(), "removed")
        .when(F.col("fp_old") != F.col("fp_new"), "changed")
        .otherwise("unchanged")
        .alias("change_type")
    )
    c = d.groupBy("change_type").agg(F.count(F.lit(1)).alias("n"))
    tot = c.agg(F.sum("n").alias("t"))
    return c.crossJoin(F.broadcast(tot)).select(
        "change_type",
        "n",
        F.round(F.col("n") * 1.0 / F.col("t"), 6).alias("share"),
    )


# --- Neyman allocation: the stratified-sampling DESIGN step ------------------------
_NEYMAN_BUDGET = 1000


@register(
    "sample_neyman_allocation",
    f"""
    WITH s AS (
      SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n_pop,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sm,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))
                 * CAST(o_totalprice AS DECIMAL(18,2))) AS ssq
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1),
    v AS (
      SELECT segment, n_pop,
             sqrt((CAST(ssq AS DOUBLE)
                   - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE) / n_pop) / n_pop)
               AS sd
      FROM s),
    t AS (SELECT SUM(n_pop * sd) AS z FROM v)
    SELECT segment, n_pop, ROUND(sd, 4) AS sd,
           ROUND(n_pop * sd / z, 6) AS alloc_share,
           CAST(floor({_NEYMAN_BUDGET} * n_pop * sd / z + 0.5) AS BIGINT)
             AS n_sample
    FROM v CROSS JOIN t
    """,
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEYMAN (optimal) ALLOCATION for stratified sampling: split a
    fixed sample budget across strata proportionally to N_h * sigma_h —
    variable strata get more of the budget than proportional allocation
    would give, minimizing the stratified estimator's variance for the
    budget (the design step BEFORE sample_stratified draws rows; a
    100 TB corpus survey plans its draw exactly like this). One grouped
    aggregate per stratum: counts and DECIMAL-EXACT sum + sum-of-squares
    (order-independent; the only doubles are the final sd and shares),
    then the 5-row allocation math against the broadcast normalizer.
    Integer sample sizes use explicit floor(x + 0.5) so both engines
    round identically."""
    orders = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    s = (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_pop"),
            F.sum(dec).alias("sm"),
            F.sum(dec * dec).alias("ssq"),
        )
    )
    d = lambda c: c.cast("double")  # noqa: E731
    v = s.select(
        "segment",
        "n_pop",
        F.sqrt(
            (d(F.col("ssq")) - d(F.col("sm")) * d(F.col("sm")) / F.col("n_pop"))
            / F.col("n_pop")
        ).alias("sd"),
    )
    t = v.agg(F.sum(F.col("n_pop") * F.col("sd")).alias("z"))
    return v.crossJoin(F.broadcast(t)).select(
        "segment",
        "n_pop",
        F.round("sd", 4).alias("sd"),
        F.round(F.col("n_pop") * F.col("sd") / F.col("z"), 6).alias("alloc_share"),
        F.floor(
            F.lit(_NEYMAN_BUDGET) * F.col("n_pop") * F.col("sd") / F.col("z") + 0.5
        )
        .cast("long")
        .alias("n_sample"),
    )


@register(
    "ivm_count_distinct_view",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
    FROM events
    WHERE (event_id % 10 <> 0 AND event_id % 7 <> 0) OR event_id % 10 = 0
    GROUP BY event_type
    """,
)
def ivm_count_distinct_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) view maintained under INSERTS AND DELETES — the
    retraction case plain distinct-count views cannot handle (dropping
    an occurrence only drops the count when it was the last one). State
    is the multiplicity relation M(event_type, user_id, mult)
    (operators/ivm.py:refresh_count_distinct_multiplicity); the delta
    here is a day's ingest (+1 per event with event_id % 10 == 0) plus
    a GDPR-style purge (-1 per base event with event_id % 7 == 0), and
    a refresh merges the delta's grouped sums onto M by key —
    O(|delta|) shuffle regardless of base size, with over-deletes
    surfaced rather than clamped. The ORACLE computes the distinct
    counts directly over the post-delta multiset, so the gate proves
    maintained == recomputed. Completes the IVM family: join view,
    left-outer view (NULL-flip retractions), rollup MV, count-distinct
    (multiplicity retractions)."""
    from ug_dwh_etl_spark.operators.ivm import (
        count_distinct_view,
        refresh_count_distinct_multiplicity,
    )
    from ug_dwh_etl_spark.queries.registry import read_events

    ev = read_events(spark, sf_dir).select("event_id", "event_type", "user_id")
    base = ev.filter(F.col("event_id") % 10 != 0)
    m_old = base.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("mult")
    )
    inserts = ev.filter(F.col("event_id") % 10 == 0).select(
        "event_type", "user_id", F.lit(1).alias("dmult")
    )
    deletes = base.filter(F.col("event_id") % 7 == 0).select(
        "event_type", "user_id", F.lit(-1).alias("dmult")
    )
    m_new = refresh_count_distinct_multiplicity(
        m_old, inserts.unionByName(deletes), "event_type", "user_id"
    )
    return count_distinct_view(m_new, "event_type")


@register(
    "stream_cdc_count_distinct",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
    FROM events
    WHERE (event_id % 10 <> 0 AND event_id % 7 <> 0) OR event_id % 10 = 0
    GROUP BY event_type
    """,
)
def stream_cdc_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ivm_count_distinct_view: the CDC feed
    maintains the multiplicity state as an append-only DELTA LOG
    (O(batch) per micro-batch, no state rewrite — the LSM shape), and
    the view folds base + log at read time. The fold is commutative,
    so micro-batch arrival order cannot matter; SAME oracle as the
    batch twin (streaming/jobs.py:stream_cdc_count_distinct)."""
    from ug_dwh_etl_spark.streaming.jobs import stream_cdc_count_distinct

    return stream_cdc_count_distinct(spark, sf_dir)


# --- cross-table reconciliation: the header-vs-lines invariant ----------------------


@register(
    "dq_reconciliation_totals",
    """
    WITH rec AS (
      SELECT l_orderkey AS k,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))
                 * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
               AS recomputed
      FROM lineitem GROUP BY 1),
    j AS (
      SELECT o.o_orderkey,
             CAST(o.o_totalprice AS DECIMAL(18,2)) AS header_total,
             rec.recomputed,
             CASE WHEN rec.recomputed IS NULL THEN 'no_lines'
                  WHEN ABS(CAST(rec.recomputed - CAST(o.o_totalprice AS DECIMAL(18,2))
                            AS DOUBLE)) < 0.01 THEN 'match'
                  WHEN ABS(CAST(rec.recomputed - CAST(o.o_totalprice AS DECIMAL(18,2))
                            AS DOUBLE))
                       < CAST(o.o_totalprice AS DOUBLE) * 0.01 THEN 'small_drift'
                  ELSE 'mismatch' END AS klass
      FROM orders o LEFT JOIN rec ON rec.k = o.o_orderkey)
    SELECT klass, CAST(COUNT(*) AS BIGINT) AS n,
           -- drift accumulates as EXACT decimal (order-independent),
           -- double only at the edge
           CAST(ROUND(SUM(ABS(COALESCE(recomputed - header_total,
                                       CAST(0 AS DECIMAL(18,2))))), 2)
                AS DOUBLE) AS total_abs_drift
    FROM j GROUP BY klass
    """,
)
def dq_reconciliation_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-TABLE RECONCILIATION: recompute each order header's total
    from its lines (extendedprice x (1+tax) x (1-discount), the TPC-H
    pricing identity) in EXACT decimals and classify every order as
    match / small_drift (<1% of header) / mismatch / no_lines — the
    header-vs-detail invariant audit every warehouse load needs before
    trusting either table (the reference loads bookings headers and
    crawl details through separate pipelines with nothing checking they
    agree). One grouped decimal aggregate over lines + one left join to
    headers, both shuffles on the order key; classification thresholds
    compare exact-decimal differences cast to double only inside ABS
    (no half-cent rounding ambiguity because nothing is rounded before
    comparison)."""
    li = table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    one = F.lit(1).cast("decimal(18,2)")
    rec = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.sum(
            dec("l_extendedprice")
            * (one + dec("l_tax"))
            * (one - dec("l_discount"))
        ).alias("recomputed")
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", dec("o_totalprice").alias("header_total")
    )
    diff = (F.col("recomputed") - F.col("header_total")).cast("double")
    j = o.join(rec, o["o_orderkey"] == rec["k"], "left").select(
        "header_total",
        "recomputed",
        F.when(F.col("recomputed").isNull(), "no_lines")
        .when(F.abs(diff) < 0.01, "match")
        .when(
            F.abs(diff) < F.col("header_total").cast("double") * 0.01,
            "small_drift",
        )
        .otherwise("mismatch")
        .alias("klass"),
    )
    zero = F.lit(0).cast("decimal(18,2)")
    return j.groupBy("klass").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(
                F.abs(
                    F.coalesce(
                        F.col("recomputed") - F.col("header_total"), zero
                    )
                )
            ),
            2,
        )
        .cast("double")
        .alias("total_abs_drift"),
    )


@register(
    "dq_column_profile",
    """
    WITH a AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(o_orderkey) AS BIGINT) AS nn_k,
             CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS nd_k,
             CAST(COUNT(o_custkey) AS BIGINT) AS nn_c,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS nd_c,
             CAST(COUNT(o_orderstatus) AS BIGINT) AS nn_s,
             CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS nd_s,
             CAST(COUNT(o_totalprice) AS BIGINT) AS nn_t,
             CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS nd_t,
             CAST(COUNT(o_orderdate) AS BIGINT) AS nn_d,
             CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS nd_d,
             CAST(COUNT(o_orderpriority) AS BIGINT) AS nn_p,
             CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS nd_p
      FROM orders)
    SELECT c.col, c.n_nonnull, c.n_distinct,
           ROUND((a.n - c.n_nonnull) * 1.0 / a.n, 6) AS null_share,
           ROUND(c.n_distinct * 1.0 / a.n, 6) AS distinct_ratio,
           c.n_distinct = a.n AS is_unique_key
    FROM a, LATERAL (VALUES
      ('o_orderkey', nn_k, nd_k), ('o_custkey', nn_c, nd_c),
      ('o_orderstatus', nn_s, nd_s), ('o_totalprice', nn_t, nd_t),
      ('o_orderdate', nn_d, nd_d), ('o_orderpriority', nn_p, nd_p))
      AS c(col, n_nonnull, n_distinct)
    """,
)
def dq_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLE PROFILING in one pass: per column, non-null count, exact
    distinct count, null share, distinct ratio, and the unique-key
    verdict — the first query anyone runs against an unfamiliar feed
    (the reference ingests inferred-schema CSVs blind; this is the
    profile that would catch a broken extract before the load). ONE
    aggregate computes all 12 statistics (Spark plans multi-distinct
    aggregates via expand — still a single scan), then the wide row
    unpivots to column-per-row form. At 100 TB swap exact distinct for
    approx_count_distinct per profile run, same shape. All-integer
    output plus two exact-ratio roundings — no float surface."""
    o = table(spark, sf_dir, "orders")
    cols = [
        "o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority",
    ]
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        aggs.append(F.count(F.col(c)).alias(f"nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"nd_{c}"))
    a = o.agg(*aggs)
    stack_expr = ", ".join(f"'{c}', nn_{c}, nd_{c}" for c in cols)
    long = a.selectExpr(
        "n",
        f"stack({len(cols)}, {stack_expr}) AS (col, n_nonnull, n_distinct)",
    )
    return long.select(
        "col",
        "n_nonnull",
        "n_distinct",
        F.round((F.col("n") - F.col("n_nonnull")) * 1.0 / F.col("n"), 6).alias(
            "null_share"
        ),
        F.round(F.col("n_distinct") * 1.0 / F.col("n"), 6).alias(
            "distinct_ratio"
        ),
        (F.col("n_distinct") == F.col("n")).alias("is_unique_key"),
    )
