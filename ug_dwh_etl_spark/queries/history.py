"""History-table monitoring queries — the Website-Monitoring dashboard
shape over the reference's append-with-crawl_date model
(`README.md:17-24`; history appends at `sf_html_data.py:178`,
`Audisto/audisto.py:159,167`).

The reference builds daily per-URL history precisely so the SQL layer can
ask "what appeared / disappeared / changed since yesterday". Both engines
derive the SAME deterministic two-crawl history from ``documents``:

- crawl 2026-01-01: every doc except ``doc_id % 17 = 3`` (these are
  "new" tomorrow), metric = n_chars;
- crawl 2026-01-02: every doc except ``doc_id % 13 = 5`` (these were
  "lost"), metric bumped +50 where ``doc_id % 7 = 0`` ("changed").

At 100 TB the history table is partitioned by ``crawl_date``
(`sinks/writers.py append_history`), so both queries prune to exactly the
two snapshot partitions before the address-keyed shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from ug_dwh_etl_spark.plans.reference_pipelines import URL_SPARK
from ug_dwh_etl_spark.queries.macros import URL_DUCK
from ug_dwh_etl_spark.queries.registry import QUERIES, register, table


_HIST_DUCK = f"""
    c1 AS (SELECT {URL_DUCK} AS address, '2026-01-01' AS crawl_date,
                  n_chars::BIGINT AS metric
           FROM documents WHERE doc_id % 17 <> 3),
    c2 AS (SELECT {URL_DUCK} AS address, '2026-01-02' AS crawl_date,
                  (n_chars + CASE WHEN doc_id % 7 = 0 THEN 50 ELSE 0 END)::BIGINT AS metric
           FROM documents WHERE doc_id % 13 <> 5)
"""


def _crawls(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    docs = table(spark, sf_dir, "documents").withColumn("address", F.expr(URL_SPARK))
    c1 = docs.filter(F.col("doc_id") % 17 != 3).select(
        "address",
        F.lit("2026-01-01").alias("crawl_date"),
        F.col("n_chars").cast("long").alias("metric"),
    )
    c2 = docs.filter(F.col("doc_id") % 13 != 5).select(
        "address",
        F.lit("2026-01-02").alias("crawl_date"),
        (
            F.col("n_chars") + F.when(F.col("doc_id") % 7 == 0, 50).otherwise(0)
        ).cast("long").alias("metric"),
    )
    return c1, c2


@register(
    "history_url_churn",
    f"""
    WITH {_HIST_DUCK}
    SELECT address, status FROM (
      SELECT COALESCE(c2.address, c1.address) AS address,
             CASE WHEN c1.address IS NULL THEN 'new'
                  WHEN c2.address IS NULL THEN 'lost'
                  WHEN c1.metric <> c2.metric THEN 'changed'
                  ELSE 'same' END AS status
      FROM c1 FULL OUTER JOIN c2 ON c1.address = c2.address)
    WHERE status <> 'same'
    """,
)
def history_url_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New / lost / changed URLs between consecutive crawls: one full
    outer join on the URL key. Both sides shuffle-partition on address;
    with the history parquet partitioned by crawl_date this reads exactly
    two partitions regardless of history depth."""
    c1, c2 = _crawls(spark, sf_dir)
    j = c1.alias("c1").join(c2.alias("c2"), F.col("c1.address") == F.col("c2.address"), "full")
    status = (
        F.when(F.col("c1.address").isNull(), "new")
        .when(F.col("c2.address").isNull(), "lost")
        .when(F.col("c1.metric") != F.col("c2.metric"), "changed")
        .otherwise("same")
    )
    return (
        j.select(
            F.coalesce(F.col("c2.address"), F.col("c1.address")).alias("address"),
            status.alias("status"),
        )
        .filter(F.col("status") != "same")
    )


@register(
    "history_metric_delta",
    f"""
    WITH {_HIST_DUCK},
    hist AS (SELECT * FROM c1 UNION ALL SELECT * FROM c2)
    SELECT address, crawl_date, metric, metric - prev AS delta
    FROM (
      SELECT address, crawl_date, metric,
             LAG(metric) OVER (PARTITION BY address ORDER BY crawl_date) AS prev
      FROM hist)
    WHERE prev IS NOT NULL AND metric <> prev
    """,
)
def history_metric_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-URL change detection via lag over crawl_date (SURVEY.md §2.7 —
    the time-series query the history tables exist for). One shuffle on
    the partition key; the filter on ``prev`` drops first-appearance
    rows."""
    c1, c2 = _crawls(spark, sf_dir)
    hist = c1.unionByName(c2)
    w = Window.partitionBy("address").orderBy("crawl_date")
    return (
        hist.withColumn("prev", F.lag("metric").over(w))
        .filter(F.col("prev").isNotNull() & (F.col("metric") != F.col("prev")))
        .select("address", "crawl_date", "metric", (F.col("metric") - F.col("prev")).alias("delta"))
    )


# Every day between the first and last order date, and the priority
# keys to fill it for: the grid both gap-filling oracles left-join to.
_DAY_SPINE_SQL = """bounds AS (
      SELECT MIN(CAST(o_orderdate AS DATE)) AS d0, MAX(CAST(o_orderdate AS DATE)) AS d1
      FROM orders),
    spine AS (
      SELECT UNNEST(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM bounds),
    keys AS (SELECT DISTINCT o_orderpriority FROM orders)"""


@register(
    "history_gap_fill",
    f"""
    WITH {_DAY_SPINE_SQL},
    obs AS (
      SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
             MAX(o_totalprice) AS day_max
      FROM orders GROUP BY 1, 2)
    SELECT k.o_orderpriority, strftime(s.day, '%Y-%m-%d') AS day,
           ROUND(LAST_VALUE(o.day_max IGNORE NULLS) OVER (
             PARTITION BY k.o_orderpriority ORDER BY s.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS filled_max
    FROM keys k
      CROSS JOIN spine s
      LEFT JOIN obs o ON o.o_orderpriority = k.o_orderpriority AND o.day = s.day
    """,
)
def history_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine gap fill + forward fill — the resample operator a daily
    append-history table needs when a crawl is skipped (the reference's
    cron model guarantees nothing on failure days).

    Spine = ``sequence(min_day, max_day)`` exploded (distributed after
    explode, no driver loop), cross-joined with the tiny key dim, left
    join of the observed daily aggregate, then ``last(ignorenulls)`` over
    an unbounded-preceding row frame. At 100 TB the spine side is trivially
    small (days x keys); only the observation agg shuffles, and the final
    window re-uses the same (key, day) partitioning."""
    orders = table(spark, sf_dir, "orders").withColumn(
        "day", F.to_date("o_orderdate")
    )
    obs = orders.groupBy("o_orderpriority", "day").agg(
        F.max("o_totalprice").alias("day_max")
    )
    bounds = orders.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = bounds.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day")
    ).select(F.col("day").cast("date").alias("day"))
    keys = orders.select("o_orderpriority").distinct()
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        keys.crossJoin(spine)
        .join(obs, ["o_orderpriority", "day"], "left")
        .select(
            "o_orderpriority",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round(F.last("day_max", ignorenulls=True).over(w), 2).alias("filled_max"),
        )
    )


# The two crawls as one history, cut to the rows where an address's
# metric changed: the versions both SCD2 oracles read.
_SCD_CHANGES_SQL = f"""{_HIST_DUCK},
    hist AS (SELECT * FROM c1 UNION ALL SELECT * FROM c2),
    flagged AS (
      SELECT address, metric, crawl_date AS valid_from,
             LAG(metric) OVER w AS prev_metric
      FROM hist
      WINDOW w AS (PARTITION BY address ORDER BY crawl_date)
    ),
    changes AS (
      SELECT address, metric, valid_from FROM flagged
      WHERE prev_metric IS NULL OR metric <> prev_metric
    )"""


@register(
    "history_scd2",
    f"""
    WITH {_SCD_CHANGES_SQL}
    SELECT address, metric, valid_from,
           COALESCE(LEAD(valid_from) OVER w2, '9999-12-31') AS valid_to,
           LEAD(valid_from) OVER w2 IS NULL AS is_current
    FROM changes
    WINDOW w2 AS (PARTITION BY address ORDER BY valid_from)
    """,
)
def history_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 view over the append history: one row per (address,
    metric-version) with valid_from/valid_to/is_current, suppressing
    no-change snapshots — the versioned-dimension read the reference's
    daily append model implies but its BigQuery layer must rebuild per
    query. One shuffle on the entity key; both window functions share
    the same (address, crawl_date) sort."""
    c1, c2 = _crawls(spark, sf_dir)
    hist = c1.unionByName(c2)
    w = Window.partitionBy("address").orderBy("crawl_date")
    changes = (
        hist.select(
            "address",
            "metric",
            F.col("crawl_date").alias("valid_from"),
            F.lag("metric").over(w).alias("prev_metric"),
        )
        .filter(
            F.col("prev_metric").isNull()
            | (F.col("metric") != F.col("prev_metric"))
        )
        .drop("prev_metric")
    )
    # valid_to comes from the NEXT CHANGE, not the next observation: an
    # unchanged re-crawl must extend the current version, not end it
    # with no successor (which would make the entity vanish from any
    # as-of read at or after that re-crawl)
    w2 = Window.partitionBy("address").orderBy("valid_from")
    nxt = F.lead("valid_from").over(w2)
    return changes.select(
        "address",
        "metric",
        "valid_from",
        F.coalesce(nxt, F.lit("9999-12-31")).alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@register(
    "history_interpolate",
    f"""
    WITH {_DAY_SPINE_SQL},
    obs AS (
      -- decimal-sum parity: SUM(DECIMAL) is exact and order-independent
      -- on both engines; one double division then yields bit-identical
      -- day averages (AVG(DOUBLE) would not — partial-agg order differs)
      SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS day_avg
      FROM orders GROUP BY 1, 2),
    grid AS (
      SELECT k.o_orderpriority, s.day, o.day_avg
      FROM keys k CROSS JOIN spine s
        LEFT JOIN obs o ON o.o_orderpriority = k.o_orderpriority AND o.day = s.day),
    ext AS (
      SELECT o_orderpriority, day, day_avg,
             LAST_VALUE(day_avg IGNORE NULLS) OVER wb AS pv,
             LAST_VALUE(CASE WHEN day_avg IS NOT NULL THEN day END IGNORE NULLS)
               OVER wb AS pd,
             FIRST_VALUE(day_avg IGNORE NULLS) OVER wf AS nv,
             FIRST_VALUE(CASE WHEN day_avg IS NOT NULL THEN day END IGNORE NULLS)
               OVER wf AS nd
      FROM grid
      WINDOW wb AS (PARTITION BY o_orderpriority ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY o_orderpriority ORDER BY day
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT o_orderpriority, strftime(day, '%Y-%m-%d') AS day,
           day_avg IS NOT NULL AS observed,
           -- quantize through DECIMAL(28,10) before the 4-dp round:
           -- ROUND(DOUBLE, 4) itself differs between engines at
           -- .xxxX4999.. boundaries (float-multiply vs exact-decimal
           -- rounding); the decimal hop makes both rounds exact
           CAST(ROUND(CAST(CASE
             WHEN day_avg IS NOT NULL THEN day_avg
             WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
               pv + (nv - pv) * date_diff('day', pd, day)
                    / date_diff('day', pd, nd)
             ELSE COALESCE(pv, nv) END AS DECIMAL(28,10)), 4) AS DOUBLE) AS value
    FROM ext
    """,
)
def history_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine LINEAR interpolation — the resample mode gap-fill's
    forward-fill can't give: missing days take the straight line between
    the surrounding observations (flat extrapolation at the edges).

    Same scale shape as history_gap_fill (tiny spine x keys grid, one
    observation agg shuffle) plus one extra window pass in the opposite
    frame direction; both windows share the (key, day) partitioning so
    the sort is paid once."""
    orders = table(spark, sf_dir, "orders").withColumn("day", F.to_date("o_orderdate"))
    obs = orders.groupBy("o_orderpriority", "day").agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("day_avg")
    )
    bounds = orders.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = bounds.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day")
    ).select(F.col("day").cast("date").alias("day"))
    keys = orders.select("o_orderpriority").distinct()
    grid = keys.crossJoin(spine).join(obs, ["o_orderpriority", "day"], "left")
    wb = (
        Window.partitionBy("o_orderpriority")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("o_orderpriority")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("day_avg").isNotNull(), F.col("day"))
    ext = grid.select(
        "o_orderpriority",
        "day",
        "day_avg",
        F.last("day_avg", ignorenulls=True).over(wb).alias("pv"),
        F.last(obs_day, ignorenulls=True).over(wb).alias("pd"),
        F.first("day_avg", ignorenulls=True).over(wf).alias("nv"),
        F.first(obs_day, ignorenulls=True).over(wf).alias("nd"),
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * F.datediff(
        "day", "pd"
    ) / F.datediff("nd", "pd")
    value = (
        F.when(F.col("day_avg").isNotNull(), F.col("day_avg"))
        .when(F.col("pv").isNotNull() & F.col("nv").isNotNull(), interp)
        .otherwise(F.coalesce("pv", "nv"))
    )
    return ext.select(
        "o_orderpriority",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("day_avg").isNotNull().alias("observed"),
        # decimal hop before the round — see the oracle's comment
        F.round(value.cast("decimal(28,10)"), 4).cast("double").alias("value"),
    )


_ASOF_DATE = "2026-01-02"


@register(
    "history_asof_read",
    f"""
    WITH {_SCD_CHANGES_SQL},
    scd AS (
      SELECT address, metric, valid_from,
             COALESCE(LEAD(valid_from) OVER w2, '9999-12-31') AS valid_to
      FROM changes
      WINDOW w2 AS (PARTITION BY address ORDER BY valid_from)
    )
    SELECT address, metric
    FROM scd
    WHERE valid_from <= '{_ASOF_DATE}' AND valid_to > '{_ASOF_DATE}'
    """,
)
def history_asof_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel over the SCD2 dimension: the table AS OF a date —
    ``valid_from <= d < valid_to`` against the versioned relation
    history_scd2 builds. The query side of the SCD2 pair: a snapshot of
    entity state at any past date without storing daily snapshots.
    The probe date is the SECOND crawl day, which exercises the
    unchanged-re-observation case: an address re-crawled with the same
    metric must still be visible (its version extends), not vanish.
    String-date interval comparison is exact (ISO dates sort
    lexicographically); at scale the versioned table is partitioned by
    valid_from range so the as-of filter prunes partitions."""
    scd = QUERIES["history_scd2"].fn(spark, sf_dir)
    return scd.filter(
        (F.col("valid_from") <= _ASOF_DATE) & (F.col("valid_to") > _ASOF_DATE)
    ).select("address", "metric")


# --- additive time-series decomposition: trend + monthly seasonality ----------
@register(
    "history_seasonal_decompose",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
      FROM orders GROUP BY d),
    xy AS (SELECT d, y, CAST(datediff('day', DATE '1992-01-01', d) AS DOUBLE) AS x
           FROM daily),
    fit AS (SELECT regr_slope(y, x) AS a, regr_intercept(y, x) AS b FROM xy)
    SELECT EXTRACT(month FROM d) AS month,
           COUNT(*) AS n_days,
           ROUND(AVG(y - (a * x + b)), 2) AS seasonal,
           ROUND(ANY_VALUE(a), 4) AS trend_slope
    FROM xy, fit
    GROUP BY month
    """,
)
def history_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive decomposition of the daily revenue series: OLS trend
    (regr_slope/intercept — single-pass distributive aggregates) plus
    month-of-year seasonal indices as the mean detrended value. The
    decimal daily sum keeps the series itself order-exact; the OLS
    moments are doubles, so outputs round at 2/4 dp (ulp-level
    partial-agg order differences, the house float rule). Plan: one
    groupBy(day) — the series relation — then a 1-row broadcast fit and
    a 12-row seasonal aggregate; nothing downstream of the daily rollup
    touches corpus-sized data."""
    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("d")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("y")
    )
    xy = daily.select(
        "d", "y", F.datediff("d", F.lit("1992-01-01")).cast("double").alias("x")
    )
    fit = xy.agg(
        F.expr("regr_slope(y, x)").alias("a"),
        F.expr("regr_intercept(y, x)").alias("b"),
    )
    return (
        xy.crossJoin(F.broadcast(fit))
        .groupBy(F.month("d").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(
                F.avg(F.col("y") - (F.col("a") * F.col("x") + F.col("b"))), 2
            ).alias("seasonal"),
            F.round(F.first("a"), 4).alias("trend_slope"),
        )
    )


@register(
    "history_theil_sen",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
      FROM orders GROUP BY d),
    xy AS (SELECT CAST(datediff('day', DATE '1992-01-01', d) AS DOUBLE) AS x, y
           FROM daily),
    slopes AS (
      SELECT (b.y - a.y) / (b.x - a.x) AS s
      FROM xy a JOIN xy b ON b.x > a.x
      WHERE ('0x' || substr(md5((CAST(a.x AS BIGINT) * 100000
                                 + CAST(b.x AS BIGINT))::VARCHAR), 1, 8))::BIGINT
            % 20 = 0),
    fit AS (SELECT quantile_cont(s, 0.5) AS slope FROM slopes)
    SELECT ROUND(slope, 6) AS slope_per_day,
           ROUND((SELECT quantile_cont(y - slope * x, 0.5) FROM xy, fit), 2)
             AS intercept,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM slopes) AS n_slopes
    FROM fit
    """,
)
def history_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUBSAMPLED Theil-Sen robust trend of daily revenue: the median
    of a deterministic-hash 5% subsample of pairwise slopes (and the
    median-residual intercept) — immune to the outlier days that drag
    the OLS fit (history_seasonal_decompose's trend) around. The pair
    join runs on the DAY-cardinality series (scale-invariant: the date
    span, not the corpus, sets it), and the hash subsample is the
    standard bounded-cost Theil-Sen variant — it caps the exact-median
    buffer at ~150k values (measured 18.6s → ~2s at sf0.1 vs the full
    2.9M-pair median) while the estimator keeps its breakdown
    robustness. The probe side is repartitioned so the nested-loop
    pair scan parallelizes. Both engines take continuous medians of
    identical double sets, rounded at the house 6/2 digits."""
    from ug_dwh_etl_spark.operators.hashing import md5_long

    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("y")
    )
    xy = daily.select(
        F.datediff("d", F.lit("1992-01-01").cast("date")).cast("double").alias("x"),
        "y",
    )
    # repartition the broadcast-probe side so the nested-loop pair scan
    # parallelizes across cores instead of one task
    a = xy.repartition(32).select(F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = xy.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    keep = (
        md5_long(
            (F.col("xa").cast("long") * 100000 + F.col("xb").cast("long")).cast(
                "string"
            ),
            8,
        )
        % 20
        == 0
    )
    slopes = (
        a.join(b, F.col("xb") > F.col("xa"))
        .filter(keep)
        .select(((F.col("yb") - F.col("ya")) / (F.col("xb") - F.col("xa"))).alias("s"))
    )
    fit = slopes.agg(
        F.expr("percentile(s, 0.5)").alias("slope"),
        F.count(F.lit(1)).alias("n_slopes"),
    )
    resid = xy.crossJoin(F.broadcast(fit)).agg(
        F.expr("percentile(y - slope * x, 0.5)").alias("intercept")
    )
    return fit.crossJoin(F.broadcast(resid)).select(
        F.round("slope", 6).alias("slope_per_day"),
        F.round("intercept", 2).alias("intercept"),
        F.col("n_slopes").cast("long").alias("n_slopes"),
    )


@register(
    "join_temporal_scd2_tiers",
    """
    WITH seq AS (
      SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders),
    changes AS (
      SELECT o_custkey,
             CASE WHEN rn = 10 THEN 'gold'
                  WHEN rn = 5 THEN 'silver'
                  ELSE 'bronze' END AS tier,
             o_orderdate AS valid_from
      FROM seq WHERE rn IN (1, 5, 10)),
    dim AS (
      SELECT o_custkey, tier, valid_from,
             COALESCE(LEAD(valid_from) OVER (PARTITION BY o_custkey
                                             ORDER BY valid_from, tier),
                      DATE '9999-12-31') AS valid_to
      FROM changes),
    joined AS (
      SELECT d.tier, s.o_totalprice
      FROM seq s JOIN dim d
        ON s.o_custkey = d.o_custkey
       AND s.o_orderdate >= d.valid_from AND s.o_orderdate < d.valid_to)
    SELECT tier, COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS revenue
    FROM joined GROUP BY tier
    """,
)
def join_temporal_scd2_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-SCD2 temporal join — the versioned-dimension lookup every
    warehouse needs: each order joins the loyalty-tier version VALID AT
    ITS DATE (tier changes when a customer's 5th/10th order arrives,
    built as a derived SCD2 dim with valid_from/valid_to), then revenue
    rolls up by tier-as-of-order-time. Plan shape: the dim is
    per-customer-tiny, so the temporal predicate rides the custkey
    equi-join (band filter after the hash match — never a range-only
    join); both the dim build and the fact sort share one custkey
    shuffle. Date-grain versioning assigns a threshold-crossing day's
    orders to the new tier on both engines identically (documented
    intra-day limit of date-valid dims)."""
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = orders.select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_totalprice",
        F.row_number().over(w).alias("rn"),
    )
    changes = seq.filter(F.col("rn").isin(1, 5, 10)).select(
        "o_custkey",
        F.when(F.col("rn") == 10, "gold")
        .when(F.col("rn") == 5, "silver")
        .otherwise("bronze")
        .alias("tier"),
        F.col("o_orderdate").alias("valid_from"),
    )
    w2 = Window.partitionBy("o_custkey").orderBy("valid_from", "tier")
    dim = changes.select(
        F.col("o_custkey").alias("d_custkey"),
        "tier",
        "valid_from",
        F.coalesce(
            F.lead("valid_from").over(w2), F.lit("9999-12-31").cast("date")
        ).alias("valid_to"),
    )
    joined = seq.join(
        dim,
        (seq["o_custkey"] == dim["d_custkey"])
        & (seq["o_orderdate"] >= dim["valid_from"])
        & (seq["o_orderdate"] < dim["valid_to"]),
    )
    return joined.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("revenue"),
    )


# --- Holt double-exponential smoothing (level + trend) forecast ----------------
@register(
    "history_holt_forecast",
    """
    WITH RECURSIVE monthly AS (
      SELECT c_nationkey AS nk, date_trunc('month', o_orderdate) AS m,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY nk, m),
    series AS (
      SELECT nk, x, ROW_NUMBER() OVER (PARTITION BY nk ORDER BY m) AS rn
      FROM monthly),
    rec AS (
      SELECT nk, rn, x AS l, CAST(0.0 AS DOUBLE) AS b FROM series WHERE rn = 1
      UNION ALL
      SELECT s.nk, s.rn,
             0.5 * s.x + 0.5 * (r.l + r.b),
             0.3 * ((0.5 * s.x + 0.5 * (r.l + r.b)) - r.l) + 0.7 * r.b
      FROM rec r JOIN series s ON s.nk = r.nk AND s.rn = r.rn + 1),
    fin AS (SELECT nk, MAX(rn) AS mx FROM rec GROUP BY nk)
    SELECT r.nk AS nationkey, CAST(f.mx AS BIGINT) AS n_months,
           ROUND(r.l, 4) AS level, ROUND(r.b, 4) AS trend,
           ROUND(r.l + r.b, 4) AS forecast_1,
           ROUND(r.l + 3 * r.b, 4) AS forecast_3
    FROM rec r JOIN fin f ON f.nk = r.nk AND r.rn = f.mx
    """,
)
def history_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (alpha=0.5, beta=0.3) over each
    nation's monthly revenue series, emitting the final (level, trend)
    state and 1/3-month-ahead forecasts — the coupled recursion
    (l_t depends on b_{t-1} and vice versa) that no closed-form window
    rewrite covers, unlike the geometric-weight EWMA in
    events_user_ewma. The recursion runs as a per-key fold:
    collect_list the series per nation (bounded: months-per-key, not
    corpus-sized), array_sort, then one codegen'd `aggregate` lambda
    carrying a 2-double state — per-series state is CONSTANT and
    series are independent, so 100 TB of raw orders reduce to a
    (keys x months) relation in the one real shuffle, and the fold
    adds nothing. The decimal monthly sum makes the series itself
    bit-exact, so both engines fold identical IEEE sequences
    (oracle = genuine recursive CTE); outputs round at 4dp. l1=x1,
    b1=0 initialization, per Hyndman & Athanasopoulos (fpp3 §8.2)."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    monthly = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.date_trunc("month", "o_orderdate").alias("m"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("x")
        )
    )
    ser = monthly.groupBy("nk").agg(
        F.expr("transform(array_sort(collect_list(struct(m, x))), s -> s.x)").alias(
            "xs"
        )
    )
    fold = F.expr(
        "aggregate(slice(xs, 2, size(xs) - 1),"
        " named_struct('l', element_at(xs, 1), 'b', cast(0.0 as double)),"
        " (acc, x) -> named_struct("
        "   'l', 0.5 * x + 0.5 * (acc.l + acc.b),"
        "   'b', 0.3 * ((0.5 * x + 0.5 * (acc.l + acc.b)) - acc.l) + 0.7 * acc.b))"
    )
    return ser.select(
        F.col("nk").alias("nationkey"),
        F.size("xs").cast("long").alias("n_months"),
        fold.alias("st"),
    ).select(
        "nationkey",
        "n_months",
        F.round(F.col("st.l"), 4).alias("level"),
        F.round(F.col("st.b"), 4).alias("trend"),
        F.round(F.col("st.l") + F.col("st.b"), 4).alias("forecast_1"),
        F.round(F.col("st.l") + 3 * F.col("st.b"), 4).alias("forecast_3"),
    )


# --- Holt-Winters additive seasonal smoothing ----------------------------------
# alpha/beta/gamma literals appear VERBATIM in both engines' recursions;
# the l_t expression is repeated inline (not aliased) in both so the
# IEEE evaluation order is identical everywhere it is consumed.
_HW_A, _HW_B, _HW_G = 0.3, 0.1, 0.2


# The monthly series, the classical level/trend/season seed and the
# level/trend/season step that both Holt-Winters oracles recurse on.
# _HW_SEED_SQL ends inside the ``seed`` CTE's SELECT list, after its ``s``
# column: the caller may add columns and closes the CTE with ``)``.
# _HW_STEP_SQL is the recursive step's SELECT list with no FROM: the
# caller may add columns and writes the FROM.
_HW_SEED_SQL = """monthly AS (
      SELECT date_trunc('month', o_orderdate) AS m,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS xd
      FROM orders GROUP BY m),
    series AS (SELECT x, xd, ROW_NUMBER() OVER (ORDER BY m) AS rn FROM monthly),
    l0 AS (SELECT CAST(SUM(xd) AS DOUBLE) / 12.0 AS l FROM series WHERE rn <= 12),
    b0 AS (SELECT (CAST(SUM(CASE WHEN rn BETWEEN 13 AND 24 THEN xd END) AS DOUBLE) / 12.0
                   - CAST(SUM(CASE WHEN rn <= 12 THEN xd END) AS DOUBLE) / 12.0) / 12.0 AS b
           FROM series WHERE rn <= 24),
    seed AS (
      SELECT 12 AS rn,
             (SELECT l FROM l0) AS l,
             (SELECT b FROM b0) AS b,
             (SELECT LIST(x - (SELECT l FROM l0) ORDER BY rn)
              FROM series WHERE rn <= 12) AS s"""
_HW_STEP_SQL = f"""sr.rn,
             {_HW_A} * (sr.x - r.s[1]) + {1 - _HW_A} * (r.l + r.b),
             {_HW_B} * (({_HW_A} * (sr.x - r.s[1]) + {1 - _HW_A} * (r.l + r.b)) - r.l)
               + {1 - _HW_B} * r.b,
             list_concat(r.s[2:12],
               [{_HW_G} * (sr.x - ({_HW_A} * (sr.x - r.s[1])
                                   + {1 - _HW_A} * (r.l + r.b)))
                + {1 - _HW_G} * r.s[1]])"""


def _hw_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The monthly revenue series ``xs`` with the Holt-Winters seed state
    ``l0``/``b0``/``s0`` that both Holt-Winters queries fold from."""
    orders = table(spark, sf_dir, "orders")
    monthly = orders.groupBy(F.date_trunc("month", "o_orderdate").alias("m")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("xd")
    )
    ser = monthly.groupBy().agg(
        F.expr("array_sort(collect_list(struct(m, xd)))").alias("sx")
    ).select(
        F.expr("transform(sx, s -> CAST(s.xd AS DOUBLE))").alias("xs"),
        F.expr("transform(sx, s -> s.xd)").alias("xsd"),
    )
    # decimal partial sums -> deterministic init level/trend
    return ser.select(
        "xs",
        F.expr(
            "CAST(aggregate(slice(xsd, 1, 12), CAST(0 AS DECIMAL(28,2)),"
            " (a, v) -> CAST(a + v AS DECIMAL(28,2))) AS DOUBLE) / 12.0"
        ).alias("l0"),
        F.expr(
            "(CAST(aggregate(slice(xsd, 13, 12), CAST(0 AS DECIMAL(28,2)),"
            " (a, v) -> CAST(a + v AS DECIMAL(28,2))) AS DOUBLE) / 12.0"
            " - CAST(aggregate(slice(xsd, 1, 12), CAST(0 AS DECIMAL(28,2)),"
            " (a, v) -> CAST(a + v AS DECIMAL(28,2))) AS DOUBLE) / 12.0) / 12.0"
        ).alias("b0"),
    ).select(
        "xs",
        "l0",
        "b0",
        F.expr("transform(slice(xs, 1, 12), x -> x - l0)").alias("s0"),
    )


# One Holt-Winters step of the fold state ``acc`` on month ``x``: the
# level, trend and season fields of the next ``named_struct``.
_HW_LNEW = f"{_HW_A} * (x - element_at(acc.s, 1)) + {1 - _HW_A} * (acc.l + acc.b)"
_HW_FOLD_STEP = (
    f"   'l', {_HW_LNEW},"
    f"   'b', {_HW_B} * (({_HW_LNEW}) - acc.l) + {1 - _HW_B} * acc.b,"
    f"   's', concat(slice(acc.s, 2, 11),"
    f"        array({_HW_G} * (x - ({_HW_LNEW})) + {1 - _HW_G} * element_at(acc.s, 1)))"
)


@register(
    "history_holt_winters",
    f"""
    WITH RECURSIVE {_HW_SEED_SQL}),
    rec AS (
      SELECT rn, l, b, s FROM seed
      UNION ALL
      SELECT {_HW_STEP_SQL}
      FROM rec r JOIN series sr ON sr.rn = r.rn + 1),
    fin AS (SELECT MAX(rn) AS mx FROM rec)
    SELECT CAST(f.mx AS BIGINT) AS n_months,
           ROUND(r.l, 4) AS level, ROUND(r.b, 4) AS trend,
           ROUND(r.s[1], 4) AS season_next,
           ROUND(r.l + r.b + r.s[1], 4) AS forecast_1,
           ROUND(r.l + 12 * r.b + r.s[12], 4) AS forecast_12
    FROM rec r JOIN fin f ON r.rn = f.mx
    """,
)
def history_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal smoothing (alpha=0.3, beta=0.1,
    gamma=0.2, season m=12) over the global monthly revenue series —
    the seasonal completion of the forecasting family (Holt trend,
    seasonal decomposition, sNaive backtest). Classical initialization
    (fpp3 §8.3): l_12 = mean of year 1, b_12 = year-over-year monthly
    growth, s_i = x_i − l_12; then the coupled 14-number recursion
    (level, trend, 12 seasonals) folds months 13.. in order.

    Scale shape identical to history_holt_forecast: 100 TB of orders
    reduce to the month rollup in the one real shuffle (decimal sums →
    bit-exact doubles), the series collect is months-sized, and the
    fold is a codegen'd `aggregate` lambda carrying a constant-size
    state struct — the oracle runs the same arithmetic as a genuine
    recursive CTE, so every IEEE intermediate matches."""
    prep = _hw_prep(spark, sf_dir)
    fold = F.expr(
        "aggregate(slice(xs, 13, size(xs) - 12),"
        " named_struct('l', l0, 'b', b0, 's', s0),"
        " (acc, x) -> named_struct("
        f"{_HW_FOLD_STEP}))"
    )
    return prep.select(F.size("xs").cast("long").alias("n_months"), fold.alias("st")).select(
        "n_months",
        F.round(F.col("st.l"), 4).alias("level"),
        F.round(F.col("st.b"), 4).alias("trend"),
        F.round(F.expr("element_at(st.s, 1)"), 4).alias("season_next"),
        F.round(F.col("st.l") + F.col("st.b") + F.expr("element_at(st.s, 1)"), 4).alias(
            "forecast_1"
        ),
        F.round(
            F.col("st.l") + 12 * F.col("st.b") + F.expr("element_at(st.s, 12)"), 4
        ).alias("forecast_12"),
    )


@register(
    "history_holt_winters_backtest",
    f"""
    WITH RECURSIVE {_HW_SEED_SQL},
             CAST(0.0 AS DOUBLE) AS e),
    rec AS (
      SELECT rn, l, b, s, e FROM seed
      UNION ALL
      SELECT {_HW_STEP_SQL},
             r.e + ABS(sr.x - (r.l + r.b + r.s[1]))
      FROM rec r JOIN series sr ON sr.rn = r.rn + 1),
    fin AS (SELECT MAX(rn) AS mx FROM rec),
    hw AS (SELECT r.e AS err_hw, f.mx AS n FROM rec r JOIN fin f ON r.rn = f.mx),
    -- the snaive error must fold LEFT-TO-RIGHT like the Spark lambda:
    -- a hash-join SUM reorders double additions and the cents floor
    -- can land one ulp across a .5 boundary (observed at sf0.01)
    sn AS (SELECT LIST(x ORDER BY rn) AS lx FROM series),
    sne AS (SELECT list_reduce(
              [ABS(lx[i] - lx[i-12]) FOR i IN generate_series(13, len(lx))],
              (a, b) -> a + b) AS err_sn
            FROM sn)
    SELECT CAST(n - 12 AS BIGINT) AS n_evaluated,
           CAST(FLOOR(err_hw / (n - 12) * 100 + 0.5) AS BIGINT) AS mae_hw_cents,
           CAST(FLOOR(err_sn / (n - 12) * 100 + 0.5) AS BIGINT) AS mae_snaive_cents,
           ROUND(err_hw / err_sn, 6) AS mase
    FROM hw CROSS JOIN sne
    """,
)
def history_holt_winters_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-sample one-step-ahead backtest of the Holt-Winters model: at
    every month 13..n the PRE-update state forecasts l+b+s[1] and the
    absolute error accumulates inside the same fold; MASE divides the
    HW MAE by the seasonal-naive MAE over the identical window — the
    falsifiability audit for history_holt_winters (a MASE ≥ 1 model is
    not worth its state). Both error sums fold in a fixed order on
    identical IEEE sequences, so the oracle's recursive CTE matches
    bit-for-bit before the cents floor."""
    prep = _hw_prep(spark, sf_dir)
    fold = F.expr(
        "aggregate(slice(xs, 13, size(xs) - 12),"
        " named_struct('l', l0, 'b', b0, 's', s0, 'e', CAST(0.0 AS DOUBLE)),"
        " (acc, x) -> named_struct("
        f"{_HW_FOLD_STEP},"
        "    'e', acc.e + abs(x - (acc.l + acc.b + element_at(acc.s, 1)))))"
    )
    snaive = F.expr(
        "aggregate(sequence(13, size(xs)), CAST(0.0 AS DOUBLE),"
        " (a, i) -> a + abs(element_at(xs, i) - element_at(xs, i - 12)))"
    )
    n_eval = F.size("xs") - 12
    return prep.select(
        fold.alias("st"), snaive.alias("err_sn"), n_eval.alias("n_eval")
    ).select(
        F.col("n_eval").cast("long").alias("n_evaluated"),
        F.floor(F.col("st.e") / F.col("n_eval") * 100 + 0.5)
        .cast("long")
        .alias("mae_hw_cents"),
        F.floor(F.col("err_sn") / F.col("n_eval") * 100 + 0.5)
        .cast("long")
        .alias("mae_snaive_cents"),
        F.round(F.col("st.e") / F.col("err_sn"), 6).alias("mase"),
    )


# --- rolling-origin backtest: naive vs seasonal-naive baselines ----------------
@register(
    "history_backtest_snaive",
    """
    WITH monthly AS (
      SELECT date_trunc('month', o_orderdate) AS m,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
      FROM orders GROUP BY m),
    lagged AS (
      SELECT m, x,
             LAG(x, 1) OVER (ORDER BY m) AS f_naive,
             LAG(x, 12) OVER (ORDER BY m) AS f_snaive
      FROM monthly)
    SELECT 'naive' AS model, CAST(COUNT(f_naive) AS BIGINT) AS n_evaluated,
           CAST(FLOOR(AVG(ABS(x - f_naive)) * 100 + 0.5) AS BIGINT) AS mae_cents,
           ROUND(AVG(ABS(x - f_naive) / x) * 100, 4) AS mape_pct,
           CAST(FLOOR(AVG(x - f_naive) * 100 + 0.5) AS BIGINT) AS bias_cents
    FROM lagged WHERE f_naive IS NOT NULL
    UNION ALL
    SELECT 'snaive', CAST(COUNT(f_snaive) AS BIGINT),
           CAST(FLOOR(AVG(ABS(x - f_snaive)) * 100 + 0.5) AS BIGINT),
           ROUND(AVG(ABS(x - f_snaive) / x) * 100, 4),
           CAST(FLOOR(AVG(x - f_snaive) * 100 + 0.5) AS BIGINT)
    FROM lagged WHERE f_snaive IS NOT NULL
    """,
)
def history_backtest_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest of the two standard forecast BASELINES
    every model must beat — naive (last month) and seasonal-naive
    (same month last year) — over the monthly revenue series: MAE,
    MAPE, and signed bias per model (MAE/bias in explicit cents — the
    floor(x*100+0.5) spelling — because the averages land on exact
    .xx5 doubles where engine round() rules diverge). This is the evaluation harness
    for history_holt_forecast/history_seasonal_decompose: a forecast
    operator without a measured baseline is unfalsifiable. The lag
    windows run on the MONTH-rollup relation (months, not orders —
    ~1200 rows for a century), so the unpartitioned ORDER BY is
    metadata-sized, same justification as history_seasonal_decompose;
    the corpus-sized work is the one decimal-sum groupBy(month)."""
    orders = table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("x")
    )
    w = Window.orderBy("m")
    lagged = monthly.select(
        "x",
        F.lag("x", 1).over(w).alias("f_naive"),
        F.lag("x", 12).over(w).alias("f_snaive"),
    )

    def side(fc: str, label: str) -> DataFrame:
        f = F.col(fc)
        return lagged.filter(f.isNotNull()).agg(
            F.lit(label).alias("model"),
            F.count(f).alias("n_evaluated"),
            F.floor(F.avg(F.abs(F.col("x") - f)) * 100 + 0.5)
            .cast("long")
            .alias("mae_cents"),
            F.round(F.avg(F.abs(F.col("x") - f) / F.col("x")) * 100, 4).alias(
                "mape_pct"
            ),
            F.floor(F.avg(F.col("x") - f) * 100 + 0.5).cast("long").alias("bias_cents"),
        )

    return side("f_naive", "naive").unionByName(side("f_snaive", "snaive"))


# --- SCD Type 3: current + previous value in one row --------------------------
@register(
    "history_scd3",
    f"""
    WITH {_HIST_DUCK},
    hist AS (SELECT * FROM c1 UNION ALL SELECT * FROM c2),
    ranked AS (
      SELECT address, metric, crawl_date,
             ROW_NUMBER() OVER w AS rn,
             LEAD(metric) OVER w AS prev_metric,
             LEAD(crawl_date) OVER w AS prev_date
      FROM hist
      WINDOW w AS (PARTITION BY address ORDER BY crawl_date DESC)
    )
    SELECT address,
           metric AS current_metric,
           prev_metric,
           crawl_date AS current_from,
           CAST(prev_metric IS NOT NULL AND metric <> prev_metric AS BOOLEAN)
             AS changed
    FROM ranked WHERE rn = 1
    """,
)
def history_scd3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 3 over the crawl history: one row per entity carrying
    the CURRENT metric and the immediately-previous one side by side —
    the cheap "what changed since last crawl" dimension shape (the
    reference's daily re-crawl consumers ask exactly this), completing
    the history family next to Type 2 (history_scd2's validity
    intervals) and the as-of reads. One descending window per entity,
    top row kept: linear in history rows, output entity-sized; at
    100 TB the window partitions by the same address key every history
    operator shuffles on."""
    from pyspark.sql import Window

    c1, c2 = _crawls(spark, sf_dir)
    hist = c1.unionByName(c2)
    w = Window.partitionBy("address").orderBy(F.desc("crawl_date"))
    ranked = hist.select(
        "address",
        "metric",
        "crawl_date",
        F.row_number().over(w).alias("rn"),
        F.lead("metric").over(w).alias("prev_metric"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "address",
        F.col("metric").alias("current_metric"),
        "prev_metric",
        F.col("crawl_date").alias("current_from"),
        (
            F.col("prev_metric").isNotNull()
            & (F.col("metric") != F.col("prev_metric"))
        ).alias("changed"),
    )


# --- bitemporal as-of: what did we BELIEVE at T about the state at V ----------------
# Version fixture from one table: every order's v1 is recorded on its
# order date; orders with o_orderkey % 7 == 0 get a v2 CORRECTION
# (price + 10.00, same valid_from — a restatement) recorded 30 days
# later. Two transaction-time snapshots over one valid-time cutoff
# show the restatement landing: the early snapshot still believes v1
# for corrections not yet recorded; the late snapshot believes v2.
_BT_VALID = "1995-07-01"
_BT_SNAPSHOTS = ("1995-08-01", "1998-01-01")


@register(
    "history_bitemporal_asof",
    f"""
    WITH v1 AS (
      SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS valid_from,
             CAST(o_orderdate AS DATE) AS tx_date, 1 AS version,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price,
             o_orderstatus AS status
      FROM orders),
    v2 AS (
      SELECT k, valid_from, tx_date + INTERVAL 30 DAY AS tx_date,
             2 AS version, price + CAST(10.00 AS DECIMAL(18,2)) AS price,
             status
      FROM v1 WHERE k % 7 = 0),
    versions AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2),
    snapshots AS (SELECT unnest({list(_BT_SNAPSHOTS)}) AS t),
    elig AS (
      SELECT s.t, v.k, v.version, v.price, v.status
      FROM snapshots s JOIN versions v
        ON v.tx_date <= CAST(s.t AS DATE)
       AND v.valid_from <= DATE '{_BT_VALID}'),
    pick AS (SELECT t, k, MAX(version) AS mv FROM elig GROUP BY t, k),
    cur AS (
      SELECT e.t, e.status, e.price
      FROM elig e JOIN pick p
        ON p.t = e.t AND p.k = e.k AND p.mv = e.version)
    SELECT t AS snapshot_t, status AS o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(price), 2) AS DOUBLE) AS revenue
    FROM cur GROUP BY 1, 2
    """,
)
def history_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITEMPORAL as-of read: reconstruct what the warehouse BELIEVED
    at transaction time T about the state at valid time V — the audit
    question an append-with-corrections history table must answer (the
    reference's daily appends record tx time implicitly as crawl_date;
    restatements make the two time axes diverge). Per (snapshot, key):
    the max-version row among those recorded by T and valid by V; the
    early snapshot still carries pre-correction prices, the late one
    the restated ones — same keys, different belief. Cost shape: the
    snapshot join is a broadcast against a 2-row relation, the picker
    is one grouped MAX + an equi-join back (no window over the fact),
    and money stays decimal until the rounded edge. The correction is
    +10.00 exactly (no multiplicative restatement: a x0.9 correction
    lands on .xx5 third decimals where cross-engine double rounding
    diverges — the fill_cast divergence note, SURVEY §5)."""
    o = table(spark, sf_dir, "orders")
    v1 = o.select(
        F.col("o_orderkey").alias("k"),
        F.to_date("o_orderdate").alias("valid_from"),
        F.to_date("o_orderdate").alias("tx_date"),
        F.lit(1).alias("version"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    v2 = v1.filter(F.col("k") % 7 == 0).select(
        "k",
        "valid_from",
        F.date_add("tx_date", 30).alias("tx_date"),
        F.lit(2).alias("version"),
        (F.col("price") + F.lit(10.00).cast("decimal(18,2)")).alias("price"),
        "status",
    )
    versions = v1.unionByName(v2)
    snaps = spark.createDataFrame([(t,) for t in _BT_SNAPSHOTS], "t string")
    elig = versions.join(
        F.broadcast(snaps),
        (F.col("tx_date") <= F.to_date("t"))
        & (F.col("valid_from") <= F.lit(_BT_VALID).cast("date")),
    ).select("t", "k", "version", "price", "status")
    pick = (
        elig.groupBy("t", "k")
        .agg(F.max("version").alias("mv"))
        .withColumnsRenamed({"t": "_pt", "k": "_pk"})
    )
    cur = elig.join(
        pick,
        (F.col("t") == F.col("_pt"))
        & (F.col("k") == F.col("_pk"))
        & (F.col("version") == F.col("mv")),
    ).select("t", "status", "price")
    return cur.groupBy(F.col("t").alias("snapshot_t"), F.col("status").alias("o_orderstatus")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("price"), 2).cast("double").alias("revenue"),
    )
