"""Event-stream queries (batch semantics over the events fixture).

The streaming module (`ug_dwh_etl_spark.streaming`) runs the same logic
incrementally with Trigger.AvailableNow; these batch twins give the
driver an exact DuckDB oracle for the stateful shapes (windowed agg,
sessionization, dedup) per SURVEY.md §2.11.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from ug_dwh_etl_spark.queries.registry import register, table


# --- JSON extraction from the props payload ---------------------------------
@register(
    "events_json_extract",
    """
    SELECT event_type,
           ROUND(AVG(CAST(props->>'$.k' AS BIGINT)), 6) AS avg_k,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.round(F.avg(k), 6).alias("avg_k"),
        F.count(F.lit(1)).alias("n"),
    )


# --- tumbling window aggregate (batch twin of the streaming job) -------------
@register(
    "events_hourly_tumbling",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM events
    GROUP BY window_start, event_type
    """,
)
def events_hourly_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    # F.window() start on an hour boundary == date_trunc('hour') — the
    # same aggregation Structured Streaming runs with a watermark.
    # Decimal-sum parity rule: sum as DECIMAL(18,2) (order-independent
    # across partial aggs), round+cast double only at the edge.
    win = F.window("ts", "1 hour")
    return (
        ev.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type", "n", "total_value",
        )
    )


# --- sessionization: 30-minute inactivity gap --------------------------------
SESSIONIZE_ORACLE = """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR date_diff('second', LAG(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
    FROM flagged GROUP BY user_id
    """


@register("events_sessionize", SESSIONIZE_ORACLE)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    new_session = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        ev.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
    )


# --- dedup on event_id (batch twin of dropDuplicatesWithinWatermark) ---------
@register(
    "events_dedup_count",
    """
    SELECT COUNT(DISTINCT event_id) AS n_unique, COUNT(*) AS n_rows
    FROM events
    """,
)
def events_dedup_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.agg(
        F.countDistinct("event_id").alias("n_unique"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# --- top users by activity (orderBy+limit over an aggregate) -----------------
@register(
    "events_top_users",
    """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY n_events DESC, user_id
    LIMIT 25
    """,
)
def events_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(25)
    )


# --- sliding window (2h width, 1h slide): each event lands in 2 windows ------
SLIDING_2H_ORACLE = """
    WITH expanded AS (
      SELECT date_trunc('hour', ts) AS ws, event_type, value FROM events
      UNION ALL
      SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS ws, event_type, value
      FROM events)
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM expanded GROUP BY window_start, event_type
    """


@register("events_sliding_2h", SLIDING_2H_ORACLE)
def events_sliding_2h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.window(width=2h, slide=1h); the oracle unrolls the 2-window
    membership as a UNION ALL of the two shifted hourly buckets."""
    ev = table(spark, sf_dir, "events")
    win = F.window("ts", "2 hours", "1 hour")
    return (
        ev.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type", "n", "total_value",
        )
    )


@register(
    "events_variant_parse",
    """
    SELECT event_type,
           CAST(SUM(CAST(props->>'k' AS INT)) AS BIGINT) AS sum_k,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def events_variant_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion via the VARIANT type (Spark 4):
    ``parse_json`` once into a binary variant, then typed path access
    with ``variant_get`` — the shredded-JSON path that avoids
    re-parsing the JSON string per extracted field (vs
    ``get_json_object``, proven in ``events_json_extract``)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.expr("variant_get(parse_json(props), '$.k', 'int')").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("k").cast("bigint").alias("sum_k"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "events_funnel",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id)
    SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_click,
           CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchase
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged funnel conversion: users whose first view is followed by a
    click, then a purchase, in event-time order. Three chained
    aggregate+join stages, all keyed on user_id — one logical shuffle
    key throughout, so the exchanges line up and reuse."""
    ev = table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    nv = v.agg(F.count(F.lit(1)).alias("n_view"))
    nc = c.agg(F.count(F.lit(1)).alias("n_click"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_purchase"))
    return nv.crossJoin(nc).crossJoin(np_)


# --- weekly cohort retention (the classic append-history dashboard query) -----
@register(
    "events_cohort_retention",
    """
    WITH activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week FROM events
    ),
    firstseen AS (
      SELECT user_id, MIN(act_week) AS cohort_week FROM activity GROUP BY user_id
    )
    SELECT strftime(f.cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', f.cohort_week, a.act_week) // 7 AS BIGINT)
             AS week_offset,
           COUNT(*) AS n_users
    FROM activity a JOIN firstseen f USING (user_id)
    GROUP BY 1, 2
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort = week of a user's first event; retention = distinct users
    from that cohort active k weeks later. Both engines truncate weeks
    to Monday; the offset divides a day-diff of two week-truncated
    dates, so it is exact (never a boundary-crossing count). activity
    and firstseen share the user_id shuffle key, so the self-join reuses
    one exchange; at 100 TB the DISTINCT is the only full-data pass and
    is partial-aggregated map-side."""
    ev = table(spark, sf_dir, "events")
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("act_week")
    ).distinct()
    firstseen = activity.groupBy("user_id").agg(
        F.min("act_week").alias("cohort_week")
    )
    return (
        activity.join(firstseen, "user_id")
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            F.expr("datediff(act_week, cohort_week) div 7").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# --- new vs returning users per day + cumulative reach ------------------------
@register(
    "events_new_vs_returning",
    """
    WITH daily AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    firstday AS (
      SELECT user_id, MIN(day) AS first_day FROM daily GROUP BY user_id
    ),
    per_day AS (
      SELECT d.day,
             COUNT(*) AS n_active,
             CAST(SUM(CASE WHEN d.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new
      FROM daily d JOIN firstday f USING (user_id)
      GROUP BY d.day
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, n_active, n_new,
           CAST(SUM(n_new) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_users
    FROM per_day
    """,
)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users split into new (first-ever day) vs returning,
    plus cumulative distinct reach — computed as a running sum of new
    users, because COUNT(DISTINCT) OVER a cumulative frame is
    unsupported (and unscalable) in both engines. The running sum runs
    over the tiny per-day aggregate, so the single-partition window is
    ~365 rows/year regardless of fact size."""
    ev = table(spark, sf_dir, "events")
    daily = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    firstday = daily.groupBy("user_id").agg(F.min("day").alias("first_day"))
    per_day = (
        daily.join(firstday, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum(
                F.when(F.col("day") == F.col("first_day"), 1).otherwise(0)
            ).alias("n_new"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_active",
        "n_new",
        F.sum("n_new").over(w).alias("cum_users"),
    )


# --- per-group z-score outliers (data-quality monitoring) ---------------------
@register(
    "events_value_outliers",
    """
    WITH stats AS (
      SELECT event_type, AVG(value) AS mu, STDDEV_SAMP(value) AS sigma
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, ROUND(e.value, 2) AS value,
           ROUND((e.value - s.mu) / s.sigma, 4) AS z
    FROM events e JOIN stats s USING (event_type)
    WHERE s.sigma > 0 AND ABS((e.value - s.mu) / s.sigma) > 3.0
    """,
)
def events_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outliers (|z| > 3): the anomaly screen a
    monitoring dashboard runs over the append history. The per-group
    moment table is tiny (one row per event type), so it broadcasts and
    the fact table is scanned exactly once — same shape at 100 TB."""
    ev = table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter((F.col("sigma") > 0) & (F.abs(z) > 3.0))
        .select(
            "event_id",
            "event_type",
            F.round("value", 2).alias("value"),
            F.round(z, 4).alias("z"),
        )
    )


# --- multi-granularity time rollup (hour + day from ONE scan) -----------------
@register(
    "events_rollup_hour_day",
    """
    WITH b AS (
      SELECT date_trunc('day', ts) AS day, date_trunc('hour', ts) AS hr,
             value
      FROM events
    )
    SELECT CASE WHEN hr IS NOT NULL THEN 'hour' ELSE 'day' END AS grain,
           strftime(day, '%Y-%m-%d') AS day,
           COALESCE(strftime(hr, '%Y-%m-%d %H:%M:%S'), '') AS bucket,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM b
    GROUP BY ROLLUP (day, hr)
    HAVING day IS NOT NULL
    """,
)
def events_rollup_hour_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly AND daily aggregates of the event stream from one scan via
    ROLLUP(day, hour) — the continuous-aggregate cascade a time-series
    store maintains as separate tables, as one partial-aggregated
    shuffle. The grand-total row is dropped (HAVING day IS NOT NULL);
    grain labels which level a row belongs to. At 100 TB this is the
    nightly rollup an incremental delta merge would maintain — same
    shape, and the day level prunes to touched partitions."""
    ev = table(spark, sf_dir, "events")
    b = ev.select(
        F.date_trunc("day", "ts").alias("day"),
        F.date_trunc("hour", "ts").alias("hr"),
        "value",
    )
    return (
        b.rollup("day", "hr")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .filter(F.col("day").isNotNull())
        .select(
            F.when(F.col("hr").isNotNull(), "hour").otherwise("day").alias("grain"),
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce(
                F.date_format("hr", "yyyy-MM-dd HH:mm:ss"), F.lit("")
            ).alias("bucket"),
            "n",
            "total_value",
        )
    )


# --- MapType: JSON props as a map column, exploded --------------------------------
@register(
    "events_props_map_explode",
    """
    WITH kv AS (SELECT unnest(json_keys(props)) AS key, props FROM events)
    SELECT key, COUNT(*) AS n,
           ROUND(AVG(CAST(json_extract_string(props, '$.' || key) AS BIGINT)), 6)
             AS avg_v
    FROM kv GROUP BY key
    """,
)
def events_props_map_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The semi-structured payload as a first-class MapType:
    from_json into map<string,bigint>, exploded to (key, value) rows,
    aggregated per key — schema-on-read over payloads whose key set
    drifts (vs. the fixed-schema get_json_object path in
    events_json_extract). Explode-of-map is a narrow row expansion; the
    per-key aggregate is one partial-aggregated shuffle on a key space
    that's tiny by construction."""
    ev = table(spark, sf_dir, "events")
    kv = ev.select(
        F.explode(F.from_json("props", "map<string,bigint>")).alias("key", "value")
    )
    return kv.groupBy("key").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("avg_v"),
    )


# --- time-weighted average value per event type -------------------------------
@register(
    "events_time_weighted_value",
    """
    WITH g AS (
      SELECT event_type, value,
             date_diff('second', ts,
                       LEAD(ts) OVER (PARTITION BY event_type
                                      ORDER BY ts, event_id)) AS gap_s
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(gap_s) AS BIGINT) AS n_intervals,
           ROUND(SUM(value * gap_s) / SUM(gap_s), 4) AS twap
    FROM g WHERE gap_s IS NOT NULL AND gap_s > 0
    GROUP BY event_type
    """,
)
def events_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per event type: each reading is
    weighted by how long it was current (gap to the next event in the
    same series) — the correct mean for irregularly sampled series,
    where the plain AVG over-weights bursts. One window pass for the
    lead + one aggregate; at 100 TB the window partitions by series key
    so state is per-key-ordered, never global."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gap = F.lead(F.col("ts").cast("long")).over(w) - F.col("ts").cast("long")
    g = ev.select("event_type", "value", gap.alias("gap_s")).filter(
        F.col("gap_s").isNotNull() & (F.col("gap_s") > 0)
    )
    return g.groupBy("event_type").agg(
        F.count("gap_s").alias("n_intervals"),
        F.round(F.sum(F.col("value") * F.col("gap_s")) / F.sum("gap_s"), 4).alias(
            "twap"
        ),
    )


# --- robust outliers: median absolute deviation ------------------------------
@register(
    "events_value_outliers_mad",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_id, e.event_type, e.value, m.med,
             ABS(e.value - m.med) AS adev
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_id, d.event_type, ROUND(d.value, 2) AS value,
           ROUND((d.value - d.med) / (1.4826 * m.mad), 4) AS robust_z
    FROM dev d JOIN mad m USING (event_type)
    WHERE m.mad > 0 AND ABS((d.value - d.med) / (1.4826 * m.mad)) > 3.5
    """,
)
def events_value_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly screen via median absolute deviation (robust_z =
    (x - median) / (1.4826·MAD)) — survives the heavy-tailed
    distributions that inflate stddev and mute the plain z-score
    (events_value_outliers). Two grouped exact-percentile passes; both
    per-type tables are one-row-per-type and broadcast, so the fact
    table streams through twice with no wide shuffle. At 100 TB swap
    the exact median for approx_percentile — same plan, bounded
    memory."""
    ev = table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    rz = (F.col("value") - F.col("med")) / (F.lit(1.4826) * F.col("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter((F.col("mad") > 0) & (F.abs(rz) > 3.5))
        .select(
            "event_id",
            "event_type",
            F.round("value", 2).alias("value"),
            F.round(rz, 4).alias("robust_z"),
        )
    )


# --- DAU / trailing-7-day WAU ------------------------------------------------
@register(
    "events_dau_wau",
    """
    WITH daily AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM daily)
    SELECT strftime(d.day, '%Y-%m-%d') AS day,
           CAST(COUNT(DISTINCT CASE WHEN a.day = d.day THEN a.user_id END)
                AS BIGINT) AS dau,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS wau
    FROM days d
      JOIN daily a ON a.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
    GROUP BY d.day
    """,
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily and trailing-7-day distinct actives (DAU/WAU) — the
    headline engagement metrics. COUNT(DISTINCT) can't run in a sliding
    window, so each day joins the (tiny, broadcast) day spine against
    the deduped (day, user) activity within its trailing week and
    re-counts distinct — the standard rewrite. Work scales with
    activity x 7, not activity x days; the distinct pre-aggregation is
    the only full-data pass."""
    ev = table(spark, sf_dir, "events")
    daily = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    days = daily.select("day").distinct()
    joined = daily.alias("a").join(
        F.broadcast(days.alias("d")),
        (F.col("a.day") >= F.date_sub(F.col("d.day"), 6))
        & (F.col("a.day") <= F.col("d.day")),
    )
    return (
        joined.groupBy(F.col("d.day").alias("d_day"))
        .agg(
            F.count_distinct(
                F.when(F.col("a.day") == F.col("d.day"), F.col("a.user_id"))
            ).alias("dau"),
            F.count_distinct("a.user_id").alias("wau"),
        )
        .select(F.date_format("d_day", "yyyy-MM-dd").alias("day"), "dau", "wau")
    )


# --- seasonal anomaly detection: hour-of-day baseline ---------------------------
# Each hour's count against its hour-of-day baseline, z-score > 2
# flagged: the answer of the batch and the stream anomaly oracles.
HOURLY_ZSCORE_SELECT = """SELECT strftime(h.hr, '%Y-%m-%d %H:%M:%S') AS hour_start,
           h.n,
           ROUND(b.mu, 6) AS expected,
           ROUND(CASE WHEN b.sigma > 0 THEN (h.n - b.mu) / b.sigma END, 6) AS zscore,
           COALESCE(b.sigma > 0 AND ABS((h.n - b.mu) / b.sigma) > 2.0, FALSE)
             AS is_anomaly
    FROM hourly h JOIN baseline b USING (hod)"""


@register(
    "events_hourly_anomaly",
    f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hr, hour(ts) AS hod,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY hr, hod),
    baseline AS (
      SELECT hod, AVG(n) AS mu,
             COALESCE(STDDEV_SAMP(n), 0.0) AS sigma,
             COUNT(*) AS n_days
      FROM hourly GROUP BY hod)
    {HOURLY_ZSCORE_SELECT}
    """,
)
def events_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly flags: each hour's event count compared
    against the mean/stddev of the SAME hour-of-day across the whole
    horizon (the diurnal baseline), z-score > 2 flagged. Two aggregates:
    hourly counts (one shuffle), then a 24-row baseline joined back by
    broadcast — at any scale the baseline side stays 24 rows."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hr"), F.hour("ts").alias("hod")
    ).agg(F.count(F.lit(1)).alias("n"))
    baseline = hourly.groupBy("hod").agg(
        F.avg("n").alias("mu"),
        F.coalesce(F.stddev_samp("n"), F.lit(0.0)).alias("sigma"),
        F.count(F.lit(1)).alias("n_days"),
    )
    z = F.when(F.col("sigma") > 0, (F.col("n") - F.col("mu")) / F.col("sigma"))
    return hourly.join(F.broadcast(baseline), "hod").select(
        F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        "n",
        F.round("mu", 6).alias("expected"),
        F.round(z, 6).alias("zscore"),
        F.coalesce((F.col("sigma") > 0) & (F.abs(z) > 2.0), F.lit(False)).alias(
            "is_anomaly"
        ),
    )


# --- exponentially-weighted moving average per user ---------------------------
_EWMA_ALPHA = 0.3

# shared with the streaming twin (stream_user_ewma): the closed-form SQL
# is the oracle for BOTH the batch window pass and the stateful
# streaming recursion
EWMA_ORACLE = f"""
    WITH seq AS (
      SELECT user_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM events)
    SELECT user_id,
           CAST(MAX(n) AS BIGINT) AS n_events,
           ROUND(SUM(CASE WHEN rn = 1
                          THEN power({1 - _EWMA_ALPHA}, n - 1) * value
                          ELSE {_EWMA_ALPHA}
                               * power({1 - _EWMA_ALPHA}, n - rn) * value
                     END), 4) AS ewma
    FROM seq GROUP BY user_id
    """


@register("events_user_ewma", EWMA_ORACLE)
def events_user_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final exponentially-weighted moving average of `value` per user
    (alpha=0.3, event-time order, event_id tiebreak).

    The recursion e_j = a*x_j + (1-a)*e_(j-1) is replaced by its closed
    form — each row's weight a*(1-a)^(n-rn) (and (1-a)^(n-1) for the
    seed) depends only on the row's position, so the whole thing is one
    window pass plus one groupBy: no iterative loop, no UDF, and the
    per-user sort is bounded by the user's own event count at any scale.
    """
    a = _EWMA_ALPHA
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("n"),
    )
    weight = F.when(
        F.col("rn") == 1, F.pow(F.lit(1 - a), F.col("n") - 1)
    ).otherwise(F.lit(a) * F.pow(F.lit(1 - a), F.col("n") - F.col("rn")))
    return seq.groupBy("user_id").agg(
        F.max("n").alias("n_events"),
        F.round(F.sum(weight * F.col("value")), 4).alias("ewma"),
    )


# --- MAD-based robust outlier audit -------------------------------------------
@register(
    "events_value_mad",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type),
    mad AS (
      SELECT e.event_type, MAX(m.med) AS med,
             quantile_cont(ABS(e.value - m.med), 0.5) AS mad
      FROM events e JOIN med m USING (event_type)
      GROUP BY e.event_type)
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MAX(d.med), 6) AS median_value,
           ROUND(MAX(d.mad), 6) AS mad,
           CAST(SUM(CASE WHEN d.mad > 0
                          AND ABS(e.value - d.med) / (1.4826 * d.mad) > 3.0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e JOIN mad d USING (event_type)
    GROUP BY e.event_type
    """,
)
def events_value_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier audit per event type — the
    robust sibling of z-score flagging (a handful of giant values can't
    inflate the threshold the way they inflate a stddev).

    Three passes, all shuffling on the 5-value event_type key, with the
    per-type medians (5 rows) broadcast between them; MAD is scaled by
    the normal-consistency constant 1.4826 so the >3 threshold reads as
    'beyond ~3 sigma under normality'."""
    ev = table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.expr("percentile(value, 0.5)").alias("med"))
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("med").alias("med"),
            F.expr("percentile(abs(value - med), 0.5)").alias("mad"),
        )
    )
    is_out = (
        (F.col("mad") > 0)
        & (F.abs(F.col("value") - F.col("med")) / (1.4826 * F.col("mad")) > 3.0)
    ).cast("long")
    return (
        ev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.max("med"), 6).alias("median_value"),
            F.round(F.max("mad"), 6).alias("mad"),
            F.sum(is_out).alias("n_outliers"),
        )
    )


# --- per-row as-of join with tolerance (pandas merge_asof semantics) ----------
@register(
    "asof_event_latest_order",
    """
    WITH u AS (
      SELECT o_custkey AS k, o_orderdate AS t, 0 AS tag,
             NULL::BIGINT AS event_id, o_orderkey
      FROM orders
      UNION ALL
      SELECT user_id, ts, 1, event_id, NULL::BIGINT FROM events),
    carried AS (
      SELECT k, t, tag, event_id,
             last_value(o_orderkey IGNORE NULLS) OVER w AS asof_orderkey,
             last_value(CASE WHEN tag = 0 THEN t END IGNORE NULLS)
               OVER w AS asof_t
      FROM u
      WINDOW w AS (PARTITION BY k ORDER BY t, tag, o_orderkey
                   ROWS UNBOUNDED PRECEDING))
    SELECT event_id,
           k AS user_id,
           CASE WHEN date_diff('day', asof_t::DATE, t::DATE) <= 90
                THEN asof_orderkey END AS asof_orderkey,
           CASE WHEN date_diff('day', asof_t::DATE, t::DATE) <= 90
                THEN CAST(date_diff('day', asof_t::DATE, t::DATE) AS BIGINT)
           END AS gap_days
    FROM carried WHERE tag = 1
    """,
)
def asof_event_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-EVENT as-of join: each event picks the user's latest order on
    or before the event timestamp, counted only within a 90-day
    tolerance (pandas merge_asof semantics, SURVEY.md §2.5 as-of). The
    union-tag window form — one shuffle on the key, each row touched
    once, no lookback-window row explosion."""
    from ug_dwh_etl_spark.operators.joins import merge_asof

    ev = table(spark, sf_dir, "events")
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate", "o_orderkey"
    )
    out = merge_asof(
        ev,
        orders,
        key="user_id",
        left_time="ts",
        right_time="o_orderdate",
        left_vals=["event_id"],
        right_vals=["o_orderkey"],
        tolerance_days=90,
    )
    return out.select(
        "event_id",
        F.col("_k").alias("user_id"),
        F.col("asof_o_orderkey").alias("asof_orderkey"),
        F.datediff(F.to_date("_t"), F.to_date("asof_t")).cast("long").alias("gap_days"),
    )


# --- event-type transition matrix ---------------------------------------------
TRANSITION_MATRIX_ORACLE = """
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events)
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(COUNT(*)::DOUBLE / SUM(COUNT(*)) OVER (PARTITION BY event_type), 6)
             AS prob
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """


@register("events_transition_matrix", TRANSITION_MATRIX_ORACLE)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next_type | type), the behavioral fingerprint behind
    next-action prediction and bot detection. One window shuffle on
    user_id, one 25-cell aggregate; the row-normalizing window runs on
    the 25-row result — free at any corpus scale."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    counts = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    total = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(total), 6).alias("prob"),
    )


# --- exact heavy hitters (phi = 1/125 frequent-items threshold) ---------------
@register(
    "events_heavy_hitters",
    """
    WITH t AS (SELECT COUNT(*) AS total FROM events),
    g AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id)
    SELECT user_id, cnt, ROUND(cnt / (total * 1.0), 6) AS share
    FROM g, t
    WHERE cnt * 125 > total
    """,
)
def events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phi-heavy-hitters (phi = 0.8%): users whose event count
    exceeds total/125. The filter compares integers (cnt*125 > total) so
    the threshold has no float edge. Plan: one map-side-combined groupBy
    on user_id plus a broadcast 1-row total — the output is at most
    1/phi = 125 rows BY DEFINITION regardless of corpus size, which is
    what makes this the exact gold standard that the sketched
    alternatives (freqItems / count-min) are tested against in
    tests/test_operators.py."""
    ev = table(spark, sf_dir, "events")
    total = ev.agg(F.count(F.lit(1)).alias("total"))
    g = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        g.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * 125 > F.col("total"))
        .select(
            "user_id",
            "cnt",
            F.round(F.col("cnt") / (F.col("total") * 1.0), 6).alias("share"),
        )
    )


# --- sequential pattern match: view -> purchase within 30 min -----------------
@register(
    "events_pattern_view_to_purchase",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_type,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_p
      FROM events),
    v AS (
      SELECT user_id, ts, next_p,
             next_p IS NOT NULL AND next_p <= ts + INTERVAL 30 MINUTE AS conv
      FROM flagged WHERE event_type = 'view')
    SELECT user_id,
           COUNT(*) AS n_views,
           COUNT(CASE WHEN conv THEN 1 END) AS n_converted,
           ROUND(AVG(CASE WHEN conv
                          THEN epoch_us(next_p) - epoch_us(ts) END) / 1000000.0,
                 3) AS avg_latency_s
    FROM v GROUP BY user_id
    """,
)
def events_pattern_view_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequential pattern (a view followed by a
    purchase within 30 minutes, same user) WITHOUT a range self-join:
    one per-user event-time sort carries a forward-looking MIN window
    ('first purchase strictly after me'), so the whole match is a single
    user_id shuffle + linear pass — at 100 TB this replaces the
    per-user-quadratic range join (cf. join_range_followups, which keeps
    that shape deliberately) with O(events) work. Latency math sticks to
    integer microseconds (unix_micros/epoch_us) so both engines agree
    exactly; ties break on event_id, matching the oracle's ORDER BY."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    next_p = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ts"))
    ).over(w)
    v = (
        ev.withColumn("next_p", next_p)
        .filter(F.col("event_type") == "view")
        .withColumn(
            "conv",
            F.col("next_p").isNotNull()
            & (F.col("next_p") <= F.col("ts") + F.expr("INTERVAL 30 MINUTES")),
        )
    )
    lat_us = F.unix_micros("next_p") - F.unix_micros("ts")
    return v.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_views"),
        F.count(F.when(F.col("conv"), F.lit(1))).alias("n_converted"),
        F.round(F.avg(F.when(F.col("conv"), lat_us)) / 1000000.0, 3).alias(
            "avg_latency_s"
        ),
    )


# --- differential-privacy demo: Laplace-noised release of grouped counts -------
@register(
    "events_dp_noisy_counts",
    """
    WITH g AS (SELECT event_type, COUNT(*) AS n_true FROM events GROUP BY event_type),
    u AS (
      SELECT event_type, n_true,
             (('0x' || substr(md5(event_type || '|dp'), 1, 8))::BIGINT + 0.5)
               / 4294967296.0 - 0.5 AS up
      FROM g)
    SELECT event_type, n_true,
           ROUND(n_true + (-1.0) * SIGN(up) * LN(1.0 - 2.0 * ABS(up)), 3)
             AS n_noisy
    FROM u
    """,
)
def events_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace mechanism (sensitivity 1, epsilon 1 -> b=1) over grouped
    counts via inverse-CDF sampling of a DETERMINISTIC hash uniform —
    'random' noise that is reproducible across runs, engines, and
    partitionings, the same auditability trick as corpus_weighted_sample.
    The +0.5 offset keeps u strictly inside (0,1) so ln never sees 0.
    Plan: pure post-aggregation arithmetic on the group-count rows —
    the noise costs nothing at any scale. (A production release would
    key the hash on a secret salt and drop n_true; both columns are kept
    here so the oracle proves the mechanism end-to-end.)"""
    ev = table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_true"))
    u = (
        F.conv(F.substring(F.md5(F.concat(F.col("event_type"), F.lit("|dp"))), 1, 8), 16, 10)
        .cast("long")
        + 0.5
    ) / F.lit(4294967296.0) - 0.5
    noise = F.lit(-1.0) * F.signum(u) * F.log(1.0 - 2.0 * F.abs(u))
    return g.select(
        "event_type", "n_true", F.round(F.col("n_true") + noise, 3).alias("n_noisy")
    )


# --- user-journey mining: most common 3-step event paths ----------------------
@register(
    "events_top_paths",
    """
    WITH seq AS (
      SELECT user_id, list(event_type ORDER BY ts, event_id) AS t
      FROM events GROUP BY user_id),
    grams AS (
      SELECT t[i] || '>' || t[i+1] || '>' || t[i+2] AS path
      FROM (SELECT t, unnest(generate_series(1, len(t) - 2)) AS i FROM seq
            WHERE len(t) >= 3)),
    counts AS (SELECT path, COUNT(*) AS n FROM grams GROUP BY path)
    SELECT path, n, rnk FROM (
      SELECT path, n, ROW_NUMBER() OVER (ORDER BY n DESC, path) AS rnk
      FROM counts)
    WHERE rnk <= 10
    """,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Journey mining: the corpus's most frequent ordered 3-step event
    paths — the multi-step generalization of the 1-step transition
    matrix (events_transition_matrix). Plan: one user_id shuffle builds
    each user's time-ordered type sequence (array_sort on (ts, event_id,
    type) structs — per-user arrays are session-sized, NOT corpus-
    sized), the 3-gram explode is narrow row expansion, and the path
    count is a partial-aggregated groupBy over a tiny key space
    (|types|^3). Top-10 via TakeOrderedAndProject; the rank window runs
    over 10 rows."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    seq = (
        ev.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("s")
        )
        .select(F.expr("transform(s, x -> x.event_type)").alias("t"))
        .filter(F.size("t") >= 3)
    )
    grams = seq.select(
        F.explode(F.sequence(F.lit(1), F.size("t") - 2)).alias("i"), "t"
    ).selectExpr("concat(t[i-1], '>', t[i], '>', t[i+1]) AS path")
    counts = grams.groupBy("path").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.desc("n"), F.asc("path")).limit(10)
    w = Window.orderBy(F.col("n").desc(), "path")
    return top.select("path", "n", F.row_number().over(w).alias("rnk"))


# --- distribution drift: PSI between the stream's two time halves -------------
@register(
    "events_drift_psi",
    """
    WITH b AS (
      SELECT epoch_us(MIN(ts)) AS lo,
             (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid
      FROM events),
    bucketed AS (
      SELECT CASE WHEN epoch_us(ts) <= mid THEN 'ref' ELSE 'cur' END AS half,
             LEAST(9, GREATEST(0, CAST(FLOOR(value / 100.0) AS INTEGER))) AS bucket
      FROM events, b),
    counts AS (
      SELECT bucket,
             SUM(CASE WHEN half = 'ref' THEN 1 ELSE 0 END) AS nr,
             SUM(CASE WHEN half = 'cur' THEN 1 ELSE 0 END) AS nc
      FROM bucketed GROUP BY bucket),
    tot AS (SELECT SUM(nr) AS tr, SUM(nc) AS tc FROM counts),
    frac AS (
      SELECT bucket,
             GREATEST(nr * 1.0 / tr, 0.0001) AS p,
             GREATEST(nc * 1.0 / tc, 0.0001) AS q
      FROM counts, tot)
    SELECT bucket, ROUND(p, 6) AS p_ref, ROUND(q, 6) AS p_cur,
           ROUND((q - p) * LN(q / p), 6) AS psi_term
    FROM frac
    """,
)
def events_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second time
    halves of the value distribution — the standard ML-serving drift
    monitor (PSI > 0.2 = retrain signal), per fixed bucket so the
    contributions are auditable. Plan: one scan buckets every event
    map-side against the broadcast time boundary; the PSI math runs on
    the 10-row bucket relation. The 1e-4 floor is the standard
    zero-count guard and keeps LN defined on both engines."""
    ev = table(spark, sf_dir, "events")
    b = ev.agg(
        F.unix_micros(F.min("ts")).alias("lo"),
        ((F.unix_micros(F.min("ts")) + F.unix_micros(F.max("ts"))) / F.lit(2))
        .cast("long")
        .alias("mid"),
    )
    bucketed = ev.crossJoin(F.broadcast(b)).select(
        F.when(F.unix_micros("ts") <= F.col("mid"), F.lit("ref"))
        .otherwise(F.lit("cur"))
        .alias("half"),
        F.least(
            F.lit(9),
            F.greatest(F.lit(0), F.floor(F.col("value") / 100.0).cast("int")),
        ).alias("bucket"),
    )
    counts = bucketed.groupBy("bucket").agg(
        F.sum(F.when(F.col("half") == "ref", 1).otherwise(0)).alias("nr"),
        F.sum(F.when(F.col("half") == "cur", 1).otherwise(0)).alias("nc"),
    )
    tot = counts.agg(F.sum("nr").alias("tr"), F.sum("nc").alias("tc"))
    frac = counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.greatest(F.col("nr") * 1.0 / F.col("tr"), F.lit(0.0001)).alias("p"),
        F.greatest(F.col("nc") * 1.0 / F.col("tc"), F.lit(0.0001)).alias("q"),
    )
    return frac.select(
        "bucket",
        F.round("p", 6).alias("p_ref"),
        F.round("q", 6).alias("p_cur"),
        F.round((F.col("q") - F.col("p")) * F.log(F.col("q") / F.col("p")), 6).alias(
            "psi_term"
        ),
    )


ATTRIBUTION_LAST_TOUCH_ORACLE = """
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type, value,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN ts END IGNORE NULLS)
               OVER w AS touch_ts,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
               OVER w AS touch_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT CASE WHEN touch_ts IS NOT NULL
                     AND touch_ts >= ts - INTERVAL 7 DAY
                THEN touch_type ELSE 'direct' END AS channel,
           COUNT(*) AS n_purchases,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM seq WHERE event_type = 'purchase'
    GROUP BY channel
    """


@register("events_attribution_last_touch", ATTRIBUTION_LAST_TOUCH_ORACLE)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the user's
    most recent preceding NON-purchase event within a 7-day lookback
    ('direct' if none) — the marketing-analytics workhorse the events
    table exists for. One window pass per user (last(...) ignoreNulls
    over an unbounded-to-1-preceding frame carries the latest touch
    forward), then a 5-ish-key rollup: the only corpus shuffle is the
    user_id sort the window needs, same budget as sessionization. The
    touch timestamp and type are carried as TWO ignore-null last()
    columns computed in the same frame, so the plan stays one Window
    operator — no self-join against the touch relation."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.select(
        "user_id",
        "ts",
        "event_type",
        "value",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("ts")), ignorenulls=True
        )
        .over(w)
        .alias("touch_ts"),
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        )
        .over(w)
        .alias("touch_type"),
    )
    channel = F.when(
        F.col("touch_ts").isNotNull()
        & (F.col("touch_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS")),
        F.col("touch_type"),
    ).otherwise(F.lit("direct"))
    return (
        seq.filter(F.col("event_type") == "purchase")
        .groupBy(channel.alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
    )


_KMV_K = 64
_KMV_DOM = float(1 << 60)


@register(
    "sketch_kmv_overlap",
    f"""
    WITH va AS (SELECT DISTINCT ('0x' || substr(md5(user_id::VARCHAR || '|kmv'), 1, 15))::BIGINT AS h
                FROM events WHERE event_type = 'view'),
    vb AS (SELECT DISTINCT ('0x' || substr(md5(user_id::VARCHAR || '|kmv'), 1, 15))::BIGINT AS h
                FROM events WHERE event_type = 'purchase'),
    ska AS (SELECT h FROM va ORDER BY h LIMIT {_KMV_K}),
    skb AS (SELECT h FROM vb ORDER BY h LIMIT {_KMV_K}),
    sku AS (SELECT h FROM (SELECT h FROM va UNION SELECT h FROM vb) ORDER BY h LIMIT {_KMV_K}),
    st AS (
      SELECT 'a' AS sk, COUNT(*) AS c, MAX(h) AS kth FROM ska
      UNION ALL SELECT 'b', COUNT(*), MAX(h) FROM skb
      UNION ALL SELECT 'u', COUNT(*), MAX(h) FROM sku),
    card AS (
      SELECT sk, c, CASE WHEN c < {_KMV_K} THEN c * 1.0
                         ELSE ({_KMV_K} - 1) * {_KMV_DOM} / kth END AS est
      FROM st),
    est AS (
      SELECT (SELECT est FROM card WHERE sk = 'a') AS est_a,
             (SELECT est FROM card WHERE sk = 'b') AS est_b,
             (SELECT est FROM card WHERE sk = 'u') AS est_u,
             (SELECT COUNT(*) FROM sku
              WHERE h IN (SELECT h FROM ska) AND h IN (SELECT h FROM skb))
               * 1.0 / (SELECT c FROM card WHERE sk = 'u') AS j_est,
             (SELECT COUNT(*) FROM va WHERE h IN (SELECT h FROM vb)) AS exact_overlap
    )
    SELECT CAST(ROUND(est_a) AS BIGINT) AS est_viewers,
           CAST(ROUND(est_b) AS BIGINT) AS est_purchasers,
           ROUND(j_est, 6) AS est_jaccard,
           CAST(ROUND(j_est * est_u) AS BIGINT) AS est_overlap,
           CAST(exact_overlap AS BIGINT) AS exact_overlap,
           ROUND(ABS(j_est * est_u - exact_overlap) / exact_overlap, 4) AS rel_err
    FROM est
    """,
)
def sketch_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation with K-MINIMUM-VALUES sketches (the
    theta-sketch family): the k smallest deterministic 60-bit hashes of
    each cohort's distinct user ids ARE the sketch; cardinality is
    (k-1)/kth-min (normalized), and the intersection comes from how
    many of the union-sketch's members sit in both cohort sketches
    (J_est = that count / |union sketch|, |A∩B| ≈ J_est · |A∪B|_est).
    A sketch of fewer than k hashes holds its whole cohort, so its
    cardinality is that count, exactly (the standard KMV rule, Beyer et
    al., SIGMOD 2007, and the one the stream twin applies).

    The 100 TB story: each sketch is a per-partition partial top-k
    (TakeOrderedAndProject — no shuffle of the cohort, k·8 bytes over
    the wire per partition) and sketches MERGE by taking the k smallest
    of a union — audience overlap across 50 cohorts costs 50 sketch
    scans, not 50² distinct-joins. Everything downstream of the top-ks
    runs on 64-row broadcast frames. Hashes are the same md5-truncation
    both engines compute, so estimates AND the audited exact overlap
    match the oracle bit-for-bit."""
    ev = table(spark, sf_dir, "events")

    def hashes(etype: str) -> DataFrame:
        from ug_dwh_etl_spark.operators.hashing import md5_long

        return (
            ev.filter(F.col("event_type") == etype)
            .select(
                md5_long(
                    F.concat(F.col("user_id").cast("string"), F.lit("|kmv"))
                ).alias("h")
            )
            .distinct()
        )

    va, vb = hashes("view"), hashes("purchase")
    ska = va.orderBy("h").limit(_KMV_K)
    skb = vb.orderBy("h").limit(_KMV_K)
    sku = va.union(vb).distinct().orderBy("h").limit(_KMV_K)
    n = F.count(F.lit(1))
    card = F.when(n < _KMV_K, n.cast("double")).otherwise(
        F.lit((_KMV_K - 1) * _KMV_DOM) / F.max("h")
    )
    est_a = ska.agg(card.alias("est_a"))
    est_b = skb.agg(card.alias("est_b"))
    est_u = sku.agg(card.alias("est_u"), n.alias("n_u"))
    j_est = (
        sku.join(F.broadcast(ska), "h", "semi")
        .join(F.broadcast(skb), "h", "semi")
        .agg(n.alias("n_both"))
    )
    exact = va.join(vb, "h", "semi").agg(
        F.count(F.lit(1)).alias("exact_overlap")
    )
    row = (
        est_a.crossJoin(F.broadcast(est_b))
        .crossJoin(F.broadcast(est_u))
        .crossJoin(F.broadcast(j_est))
        .crossJoin(F.broadcast(exact))
        .withColumn("j_est", F.col("n_both") / F.col("n_u"))
    )
    return row.select(
        F.round("est_a").cast("long").alias("est_viewers"),
        F.round("est_b").cast("long").alias("est_purchasers"),
        F.round("j_est", 6).alias("est_jaccard"),
        F.round(F.col("j_est") * F.col("est_u")).cast("long").alias("est_overlap"),
        F.col("exact_overlap").cast("long").alias("exact_overlap"),
        F.round(
            F.abs(F.col("j_est") * F.col("est_u") - F.col("exact_overlap"))
            / F.col("exact_overlap"),
            4,
        ).alias("rel_err"),
    )


# --- HyperLogLog (Flajolet et al. 2007) -----------------------------------------
# m = 64 registers (b = 6): register j = h % 64, rho = leftmost-1
# position of the remaining 54-bit word, computed EXACTLY via the binary
# string length (bin(w) has floor(log2 w)+1 chars in BOTH engines — no
# float log at any point). The indicator sum uses the integer identity
# 2^-M = 2^(55-M) / 2^55, so SUM(shiftleft(1L, 55 - M)) is an exact
# BIGINT (64 terms <= 2^55 -> < 2^62); the only float ops are one
# division and the alpha constant, identical IEEE doubles both engines.
# Small-range (linear-counting) correction when E <= 2.5m and zero
# registers exist — the user_id scope lands in that branch (150 users,
# ~6 empty registers), the event_id scope exercises the raw estimator.
_HLL_M = 64
_HLL_ALPHA_SQL = "(0.7213 / (1.0 + 1.079 / 64.0))"
_HLL_POW55 = 1 << 55  # 2^55, the fixed-point scale of the register sum


def _hll_reg_sql(val_expr: str, extra_group: str = "") -> str:
    """CTE body: per-register max-rho over md5-hashed values. The 100 TB
    shape is ONE map-side-combined groupBy over (group, j<=64) — the
    sketch is 64 rows per group no matter how many input rows fold in."""
    g = f"{extra_group}, " if extra_group else ""
    h = f"('0x' || substr(md5({val_expr} || '|hll'), 1, 15))::BIGINT"
    return (
        f"SELECT {g}{h} % {_HLL_M} AS j, "
        f"MAX(CASE WHEN {h} // {_HLL_M} = 0 THEN 55 "
        f"ELSE 55 - length(bin({h} // {_HLL_M})) END) AS mreg "
        f"FROM events GROUP BY {g}({h} % {_HLL_M})"
    )


_HLL_EST_SQL = f"""
      CASE WHEN {_HLL_ALPHA_SQL} * 4096.0 * {_HLL_POW55}.0 / s <= 160.0 AND v > 0
           THEN 64.0 * ln(64.0 / v)
           ELSE {_HLL_ALPHA_SQL} * 4096.0 * {_HLL_POW55}.0 / s END"""


def _hll_registers(df: DataFrame, val: F.Column, *groups: str) -> DataFrame:
    """Spark twin of _hll_reg_sql: (groups..., j, mreg) register relation."""
    from ug_dwh_etl_spark.operators.hashing import md5_long

    h = md5_long(F.concat(val.cast("string"), F.lit("|hll")))
    w = F.expr(f"h div {_HLL_M}")
    rho = F.when(w == 0, F.lit(55)).otherwise(
        F.lit(55) - F.length(F.bin(w))
    )
    return (
        df.select(*groups, h.alias("h"))
        .select(*groups, F.pmod("h", F.lit(_HLL_M)).alias("j"), rho.alias("rho"))
        .groupBy(*groups, "j")
        .agg(F.max("rho").alias("mreg"))
    )


def _hll_estimate(spark: SparkSession, regs: DataFrame) -> DataFrame:
    """Fold a 64-row register relation into the 1-row (est, v) frame —
    zero registers materialized via the broadcast 64-row spine."""
    spine = spark.range(_HLL_M).select(F.col("id").alias("j"))
    full = spine.join(F.broadcast(regs), "j", "left").select(
        F.coalesce("mreg", F.lit(0)).alias("mreg")
    )
    sums = full.agg(
        F.sum(F.expr("shiftleft(1L, 55 - mreg)")).alias("s"),
        F.sum(F.when(F.col("mreg") == 0, 1).otherwise(0)).alias("v"),
    )
    alpha = 0.7213 / (1.0 + 1.079 / 64.0)
    raw = F.lit(alpha) * F.lit(4096.0) * F.lit(float(_HLL_POW55)) / F.col("s")
    est = F.when(
        (raw <= 160.0) & (F.col("v") > 0),
        F.lit(64.0) * F.log(F.lit(64.0) / F.col("v")),
    ).otherwise(raw)
    return sums.select(est.alias("est"), F.col("v").cast("long").alias("zero_regs"))


@register(
    "sketch_hll_cardinality",
    f"""
    WITH spine AS (SELECT range AS j FROM range({_HLL_M})),
    r_ev AS ({_hll_reg_sql("event_id::VARCHAR")}),
    r_us AS ({_hll_reg_sql("user_id::VARCHAR")}),
    f_ev AS (SELECT spine.j, COALESCE(r_ev.mreg, 0) AS mreg FROM spine LEFT JOIN r_ev ON spine.j = r_ev.j),
    f_us AS (SELECT spine.j, COALESCE(r_us.mreg, 0) AS mreg FROM spine LEFT JOIN r_us ON spine.j = r_us.j),
    s_ev AS (SELECT SUM(1::BIGINT << (55 - mreg)) AS s, SUM(CASE WHEN mreg = 0 THEN 1 ELSE 0 END) AS v FROM f_ev),
    s_us AS (SELECT SUM(1::BIGINT << (55 - mreg)) AS s, SUM(CASE WHEN mreg = 0 THEN 1 ELSE 0 END) AS v FROM f_us),
    e_ev AS (SELECT {_HLL_EST_SQL} AS est, v FROM s_ev),
    e_us AS (SELECT {_HLL_EST_SQL} AS est, v FROM s_us),
    x AS (SELECT COUNT(DISTINCT event_id) AS x_ev, COUNT(DISTINCT user_id) AS x_us FROM events)
    SELECT 'event_id' AS scope, ROUND(e.est, 4) AS est,
           CAST(x.x_ev AS BIGINT) AS exact,
           ROUND(ABS(e.est - x.x_ev) / x.x_ev, 6) AS rel_err,
           CAST(e.v AS BIGINT) AS zero_regs
    FROM e_ev e, x
    UNION ALL
    SELECT 'user_id', ROUND(e.est, 4), CAST(x.x_us AS BIGINT),
           ROUND(ABS(e.est - x.x_us) / x.x_us, 6), CAST(e.v AS BIGINT)
    FROM e_us e, x
    """,
)
def sketch_hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL cardinality over two scopes: event_id (high cardinality, raw
    estimator) and user_id (small range — exercises the linear-counting
    correction). Audited against the exact distinct counts. At 100 TB
    each sketch is one map-side-combined groupBy folding the whole scan
    into 64 rows; nothing downstream of it touches data-sized relations."""
    ev = table(spark, sf_dir, "events")

    def one(scope: str, val: str) -> DataFrame:
        est = _hll_estimate(spark, _hll_registers(ev, F.col(val)))
        exact = ev.agg(F.countDistinct(val).alias("exact"))
        return (
            est.crossJoin(F.broadcast(exact))
            .select(
                F.lit(scope).alias("scope"),
                F.round("est", 4).alias("est"),
                F.col("exact").cast("long").alias("exact"),
                F.round(F.abs(F.col("est") - F.col("exact")) / F.col("exact"), 6).alias(
                    "rel_err"
                ),
                "zero_regs",
            )
        )

    return one("event_id", "event_id").unionAll(one("user_id", "user_id"))


@register(
    "sketch_hll_daily_merge",
    f"""
    WITH spine AS (SELECT range AS j FROM range({_HLL_M})),
    rd AS ({_hll_reg_sql("event_id::VARCHAR", "date_trunc('day', ts)")}),
    merged AS (SELECT j, MAX(mreg) AS mreg FROM rd GROUP BY j),
    f AS (SELECT spine.j, COALESCE(merged.mreg, 0) AS mreg FROM spine LEFT JOIN merged ON spine.j = merged.j),
    sums AS (SELECT SUM(1::BIGINT << (55 - mreg)) AS s, SUM(CASE WHEN mreg = 0 THEN 1 ELSE 0 END) AS v FROM f),
    e AS (SELECT {_HLL_EST_SQL} AS est, v FROM sums),
    x AS (SELECT COUNT(DISTINCT event_id) AS exact,
                 COUNT(DISTINCT date_trunc('day', ts)) AS n_days FROM events),
    sk AS (SELECT COUNT(*) AS sketch_rows FROM rd)
    SELECT ROUND(e.est, 4) AS est_union,
           CAST(x.exact AS BIGINT) AS exact_union,
           ROUND(ABS(e.est - x.exact) / x.exact, 6) AS rel_err,
           CAST(x.n_days AS BIGINT) AS n_days,
           CAST(sk.sketch_rows AS BIGINT) AS sketch_rows
    FROM e, x, sk
    """,
)
def sketch_hll_daily_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL MERGEABILITY — the property that makes the sketch the 100 TB
    distinct-count answer: per-day 64-register sketches (the nightly
    artifact a warehouse stores per partition) merge by register-wise
    MAX into the sketch of the union, so a month-over-any-window distinct
    query reads days x 64 rows, never the raw events. Audited against
    the exact distinct over the union; sketch_rows records the merge
    input size."""
    ev = table(spark, sf_dir, "events")
    rd = _hll_registers(
        ev.withColumn("d", F.date_trunc("day", "ts")), F.col("event_id"), "d"
    )
    merged = rd.groupBy("j").agg(F.max("mreg").alias("mreg"))
    est = _hll_estimate(spark, merged)
    x = ev.agg(
        F.countDistinct("event_id").alias("exact"),
        F.countDistinct(F.date_trunc("day", "ts")).alias("n_days"),
    )
    sk = rd.agg(F.count(F.lit(1)).alias("sketch_rows"))
    return (
        est.crossJoin(F.broadcast(x))
        .crossJoin(F.broadcast(sk))
        .select(
            F.round("est", 4).alias("est_union"),
            F.col("exact").cast("long").alias("exact_union"),
            F.round(F.abs(F.col("est") - F.col("exact")) / F.col("exact"), 6).alias(
                "rel_err"
            ),
            F.col("n_days").cast("long").alias("n_days"),
            F.col("sketch_rows").cast("long").alias("sketch_rows"),
        )
    )


@register(
    "events_cusum_changepoint",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY day),
    stats AS (SELECT AVG(n) AS mu FROM daily),
    cusum AS (
      SELECT day, n,
             SUM(n - mu) OVER (ORDER BY day
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS c
      FROM daily, stats)
    SELECT strftime(day, '%Y-%m-%d') AS day, n,
           ROUND(c, 6) + 0.0 AS cusum,  -- +0.0 normalizes IEEE -0.0
           COALESCE(ABS(c) = (SELECT MAX(ABS(c)) FROM cusum), FALSE)
             AS is_changepoint
    FROM cusum
    """,
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection over the daily event-count series:
    the running sum of deviations from the global mean peaks (in
    absolute value) at the most likely level-shift day — the standard
    first-pass answer to 'when did traffic change?'. Plan: a daily
    rollup (one shuffle), a 1-row mean broadcast, and a running sum
    over the DAYS series — the window is date-cardinality-sized, so
    the single-partition frame holds years of days, not events; the
    peak is a second 1-row broadcast back onto the series."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    mu = daily.agg(F.avg("n").alias("mu"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cusum = daily.crossJoin(F.broadcast(mu)).withColumn(
        "c", F.sum(F.col("n") - F.col("mu")).over(w)
    )
    peak = cusum.agg(F.max(F.abs(F.col("c"))).alias("peak"))
    return cusum.crossJoin(F.broadcast(peak)).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n",
        (F.round("c", 6) + F.lit(0.0)).alias("cusum"),
        F.coalesce(F.abs(F.col("c")) == F.col("peak"), F.lit(False)).alias(
            "is_changepoint"
        ),
    )


@register(
    "events_survival_km",
    """
    WITH signup AS (
      SELECT user_id, MIN(ts) AS s FROM events WHERE event_type = 'signup'
      GROUP BY user_id),
    conv AS (
      SELECT su.user_id,
             MIN(CASE WHEN e.event_type = 'purchase' AND e.ts > su.s
                      THEN date_diff('day', su.s, e.ts) END) AS t_event
      FROM signup su LEFT JOIN events e ON e.user_id = su.user_id
      GROUP BY su.user_id, su.s),
    horizon AS (SELECT MAX(CAST(ts AS DATE)) AS maxd FROM events),
    obs AS (
      SELECT user_id,
             COALESCE(t_event,
                      date_diff('day', s, (SELECT maxd FROM horizon))) AS t,
             t_event IS NOT NULL AS converted
      FROM conv JOIN signup USING (user_id)),
    risk AS (
      SELECT t AS t_days,
             CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS leaving
      FROM obs GROUP BY t),
    riskx AS (
      SELECT t_days, d,
             (SELECT COUNT(*) FROM obs)
               - COALESCE(SUM(leaving) OVER (ORDER BY t_days
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM risk),
    km AS (
      SELECT t_days, d, n_risk,
             SUM(LN(CASE WHEN 1.0 - d * 1.0 / n_risk > 0
                         THEN 1.0 - d * 1.0 / n_risk ELSE 1.0 END))
               OVER (ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS logS,
             MIN(1.0 - d * 1.0 / n_risk)
               OVER (ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS minf
      FROM riskx WHERE d > 0)
    SELECT t_days, CAST(n_risk AS BIGINT) AS n_risk, d,
           CASE WHEN minf = 0 THEN 0.0 ELSE ROUND(EXP(logS), 6) END AS survival
    FROM km
    """,
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival over time-to-first-purchase after signup
    (right-censored at the observation horizon): S(t) = Π(1 - d_i/n_i)
    over event days, computed as exp of a running sum of logs — the
    product-over-ordered-groups trick that turns the KM product into
    pure window algebra. The risk table is day-cardinality-sized, so
    the ordered windows run on a tiny series (same argument as CUSUM);
    the only corpus-scale work is the per-user first-signup /
    first-purchase rollup. The canonical churn/retention statistic done
    engine-exact (shared LN/EXP, rounded at 6)."""
    ev = table(spark, sf_dir, "events")
    signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s"))
    )
    conv = (
        signup.join(ev, "user_id", "left")
        .groupBy("user_id", "s")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") > F.col("s")),
                    F.datediff(F.to_date("ts"), F.to_date("s")),
                )
            ).alias("t_event")
        )
    )
    horizon = ev.agg(F.max(F.to_date("ts")).alias("maxd"))
    obs = conv.crossJoin(F.broadcast(horizon)).select(
        "user_id",
        F.coalesce(
            F.col("t_event"), F.datediff(F.col("maxd"), F.to_date("s"))
        ).alias("t"),
        F.col("t_event").isNotNull().alias("converted"),
    )
    n_total = obs.agg(F.count(F.lit(1)).alias("n_total"))
    risk = obs.groupBy(F.col("t").alias("t_days")).agg(
        F.sum(F.when(F.col("converted"), 1).otherwise(0)).alias("d"),
        F.count(F.lit(1)).alias("leaving"),
    )
    w_prev = Window.orderBy("t_days").rowsBetween(Window.unboundedPreceding, -1)
    w_run = Window.orderBy("t_days").rowsBetween(Window.unboundedPreceding, 0)
    km = (
        risk.crossJoin(F.broadcast(n_total))
        .withColumn(
            "n_risk",
            F.col("n_total") - F.coalesce(F.sum("leaving").over(w_prev), F.lit(0)),
        )
        .filter(F.col("d") > 0)
    )
    # recompute the running log-product on the d>0 rows only, matching
    # the oracle's WHERE d > 0 placement before its window
    # last-event-day edge: d == n_risk makes the factor 0 — ln(0) is an
    # error in DuckDB and a silent NULL in Spark, so both engines log a
    # guarded factor and pin survival to 0 once the running min hits it
    factor = 1.0 - F.col("d") / F.col("n_risk")
    km = km.withColumn(
        "logS",
        F.sum(F.log(F.when(factor > 0, factor).otherwise(F.lit(1.0)))).over(w_run),
    ).withColumn("minf", F.min(factor).over(w_run))
    return km.select(
        "t_days",
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("d"),
        F.when(F.col("minf") == 0, F.lit(0.0))
        .otherwise(F.round(F.exp("logS"), 6))
        .alias("survival"),
    )


_CMS_W = 256  # buckets per row
_CMS_D = 4  # independent hash rows


@register(
    "sketch_cms_user_counts",
    f"""
    WITH exact AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY user_id),
    cells AS (
      SELECT r,
             ('0x' || substr(md5(user_id::VARCHAR || '|cms' || r::VARCHAR), 1, 8))::BIGINT
               % {_CMS_W} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events, (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS r)
      GROUP BY r, bucket),
    est AS (
      SELECT e.user_id, e.n,
             MIN(cells.c) AS n_est
      FROM exact e
        JOIN cells ON cells.bucket =
          ('0x' || substr(md5(e.user_id::VARCHAR || '|cms' || cells.r::VARCHAR), 1, 8))::BIGINT
            % {_CMS_W}
      GROUP BY e.user_id, e.n)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN n_est >= n THEN 1 ELSE 0 END) AS BIGINT)
             AS n_never_underestimates,
           CAST(MAX(n_est - n) AS BIGINT) AS max_overestimate,
           ROUND(AVG(n_est - n), 4) AS avg_overestimate
    FROM est
    """,
)
def sketch_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-MIN sketch audit: a {_CMS_D}x{_CMS_W} counter grid
    (deterministic md5 bucket hashes) estimates every user's event
    count as the min over its {_CMS_D} cells; the audit row proves the
    CMS guarantee on real data — NEVER underestimates, bounded
    overestimate. The sketch build is one grouped count over (row,
    bucket): {_CMS_D}*{_CMS_W} cells of state no matter how many
    events or users — the fixed-memory frequency sketch you hold per
    partition and MERGE by cell-wise addition at 100 TB (the grid is a
    monoid, so it also drops into a per-delta incremental merge).
    Probing joins the tiny grid back by the same hash."""
    ev = table(spark, sf_dir, "events")
    from ug_dwh_etl_spark.operators.hashing import md5_long

    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))

    def bucket(uid_col, r_col):
        return (
            md5_long(
                F.concat(
                    uid_col.cast("string"), F.lit("|cms"), r_col.cast("string")
                ),
                8,
            )
            % _CMS_W
        )

    rows = ev.select(
        "user_id", F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("r")
    )
    cells = (
        rows.withColumn("bucket", bucket(F.col("user_id"), F.col("r")))
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    probes = exact.select(
        "user_id", "n", F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("r")
    ).withColumn("bucket", bucket(F.col("user_id"), F.col("r")))
    est = (
        probes.join(F.broadcast(cells), ["r", "bucket"])
        .groupBy("user_id", "n")
        .agg(F.min("c").alias("n_est"))
    )
    return est.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("n_est") >= F.col("n"), 1).otherwise(0))
        .cast("long")
        .alias("n_never_underestimates"),
        F.max(F.col("n_est") - F.col("n")).cast("long").alias("max_overestimate"),
        F.round(F.avg(F.col("n_est") - F.col("n")), 4).alias("avg_overestimate"),
    )


_AMS_K = 16


@register(
    "sketch_ams_f2",
    f"""
    WITH signs AS (
      SELECT user_id, est,
             CASE WHEN ('0x' || substr(md5(user_id::VARCHAR || '|ams'
                                           || est::VARCHAR), 1, 8))::BIGINT % 2 = 0
                  THEN 1 ELSE -1 END AS sgn,
             n
      FROM (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY user_id),
           (SELECT unnest(generate_series(0, {_AMS_K - 1})) AS est)),
    sketches AS (
      SELECT est, SUM(sgn * n) AS z FROM signs GROUP BY est),
    exact AS (
      SELECT SUM(n * n) AS f2
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY user_id))
    SELECT CAST(ROUND(quantile_cont(z * z, 0.5)) AS BIGINT) AS f2_est,
           CAST(f2 AS BIGINT) AS f2_exact,
           ROUND(ABS(quantile_cont(z * z, 0.5) - f2) / f2, 4) AS rel_err
    FROM sketches, exact
    GROUP BY f2
    """,
)
def sketch_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS (Alon-Matias-Szegedy) second-moment sketch: {_AMS_K}
    independent ±1 hash signs turn F2 = Σ n_k² — the self-join size /
    skew indicator — into the median of squared signed sums, each a
    single distributive aggregate. The sketch is {_AMS_K} longs of
    state, mergeable by addition, so the self-join-size estimate for a
    100 TB key column costs one scan and no join; the audit row carries
    the exact F2 and relative error. Deterministic signs make the
    estimate itself engine-exact."""
    ev = table(spark, sf_dir, "events")
    from ug_dwh_etl_spark.operators.hashing import md5_long

    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    signs = counts.select(
        "user_id",
        "n",
        F.explode(F.sequence(F.lit(0), F.lit(_AMS_K - 1))).alias("est"),
    ).withColumn(
        "sgn",
        F.when(
            md5_long(
                F.concat(
                    F.col("user_id").cast("string"),
                    F.lit("|ams"),
                    F.col("est").cast("string"),
                ),
                8,
            )
            % 2
            == 0,
            1,
        ).otherwise(-1),
    )
    sketches = signs.groupBy("est").agg(F.sum(F.col("sgn") * F.col("n")).alias("z"))
    exact = counts.agg(F.sum(F.col("n") * F.col("n")).alias("f2"))
    med = sketches.agg(F.expr("percentile(z * z, 0.5)").alias("f2_med"))
    return med.crossJoin(F.broadcast(exact)).select(
        F.round("f2_med").cast("long").alias("f2_est"),
        F.col("f2").cast("long").alias("f2_exact"),
        F.round(F.abs(F.col("f2_med") - F.col("f2")) / F.col("f2"), 4).alias(
            "rel_err"
        ),
    )


@register(
    "events_funnel_ordered",
    """
    WITH s AS (SELECT user_id, MIN(ts) AS t_signup FROM events
               WHERE event_type = 'signup' GROUP BY user_id),
    v AS (SELECT e.user_id, MIN(e.ts) AS t_view
          FROM events e JOIN s ON e.user_id = s.user_id
          WHERE e.event_type = 'view' AND e.ts > s.t_signup
            AND e.ts <= s.t_signup + INTERVAL 7 DAY
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'purchase' AND e.ts > v.t_view
            AND e.ts <= v.t_view + INTERVAL 7 DAY
          GROUP BY e.user_id)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM s) AS n_signup,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_viewed,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_purchased,
           ROUND((SELECT COUNT(*) FROM v) * 1.0
                 / (SELECT COUNT(*) FROM s), 6) AS view_rate,
           ROUND((SELECT COUNT(*) FROM p) * 1.0
                 / GREATEST((SELECT COUNT(*) FROM v), 1), 6) AS purchase_rate
    """,
)
def events_funnel_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRICTLY ORDERED funnel with per-step horizons: signup → first
    view within 7 days AFTER it → first purchase within 7 days after
    THAT view. Unlike the unordered stage-count funnel (events_funnel),
    each step anchors on the previous step's timestamp, which is the
    semantics product analytics actually wants. Three per-user MIN
    rollups chained by key joins — every shuffle is user-keyed and each
    stage's relation only shrinks; no window over the raw event
    sequence is needed because each step's anchor is a MIN under a
    predicate on the prior anchor."""
    ev = table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    v = (
        ev.join(s, "user_id")
        .filter(
            (F.col("event_type") == "view")
            & (F.col("ts") > F.col("t_signup"))
            & (F.col("ts") <= F.col("t_signup") + F.expr("INTERVAL 7 DAYS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = (
        ev.join(v, "user_id")
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + F.expr("INTERVAL 7 DAYS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    ns = s.agg(F.count(F.lit(1)).alias("n_signup"))
    nv = v.agg(F.count(F.lit(1)).alias("n_viewed"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_purchased"))
    return (
        ns.crossJoin(F.broadcast(nv))
        .crossJoin(F.broadcast(np_))
        .select(
            "n_signup",
            "n_viewed",
            "n_purchased",
            F.round(F.col("n_viewed") / F.col("n_signup"), 6).alias("view_rate"),
            F.round(
                F.col("n_purchased") / F.greatest(F.col("n_viewed"), F.lit(1)), 6
            ).alias("purchase_rate"),
        )
    )


@register(
    "sketch_ams_join_size",
    f"""
    WITH va AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events
                WHERE event_type = 'view' GROUP BY user_id),
    vb AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events
           WHERE event_type = 'purchase' GROUP BY user_id),
    ests AS (SELECT unnest(generate_series(0, {_AMS_K - 1})) AS est),
    za AS (
      SELECT est, SUM(CASE WHEN ('0x' || substr(md5(user_id::VARCHAR || '|ams'
                                                    || est::VARCHAR), 1, 8))::BIGINT % 2 = 0
                           THEN n ELSE -n END) AS z
      FROM va, ests GROUP BY est),
    zb AS (
      SELECT est, SUM(CASE WHEN ('0x' || substr(md5(user_id::VARCHAR || '|ams'
                                                    || est::VARCHAR), 1, 8))::BIGINT % 2 = 0
                           THEN n ELSE -n END) AS z
      FROM vb, ests GROUP BY est),
    exact AS (
      SELECT SUM(va.n * vb.n) AS jsz FROM va JOIN vb USING (user_id))
    SELECT CAST(ROUND(quantile_cont(za.z * zb.z, 0.5)) AS BIGINT) AS join_size_est,
           CAST(jsz AS BIGINT) AS join_size_exact,
           ROUND(ABS(quantile_cont(za.z * zb.z, 0.5) - jsz) / jsz, 4) AS rel_err
    FROM za JOIN zb USING (est), exact
    GROUP BY jsz
    """,
)
def sketch_ams_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE classic AMS application: estimate a join's output size
    WITHOUT running the join. The view⋈purchase per-user join's
    cardinality is the inner product Σ_u views(u)·purchases(u), and
    the median of z_A·z_B over {_AMS_K} shared-sign sketches estimates
    it from two independent single scans — each side's sketch is
    {_AMS_K} longs, mergeable, computable side-by-side with ingest.
    This is the number a planner (or a capacity review) wants BEFORE
    committing a 100 TB × 100 TB join; the audit row carries the exact
    size and relative error, and shared deterministic signs make the
    estimate engine-exact."""
    ev = table(spark, sf_dir, "events")
    from ug_dwh_etl_spark.operators.hashing import md5_long

    def sketch(etype: str) -> DataFrame:
        counts = (
            ev.filter(F.col("event_type") == etype)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        signed = counts.select(
            "user_id",
            "n",
            F.explode(F.sequence(F.lit(0), F.lit(_AMS_K - 1))).alias("est"),
        ).withColumn(
            "zn",
            F.when(
                md5_long(
                    F.concat(
                        F.col("user_id").cast("string"),
                        F.lit("|ams"),
                        F.col("est").cast("string"),
                    ),
                    8,
                )
                % 2
                == 0,
                F.col("n"),
            ).otherwise(-F.col("n")),
        )
        return signed.groupBy("est").agg(F.sum("zn").alias("z"))

    za = sketch("view").withColumnRenamed("z", "za")
    zb = sketch("purchase").withColumnRenamed("z", "zb")
    prod = za.join(zb, "est").select((F.col("za") * F.col("zb")).alias("p"))
    med = prod.agg(F.expr("percentile(p, 0.5)").alias("est_sz"))
    va = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("na"))
    )
    vb = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("nb"))
    )
    exact = va.join(vb, "user_id").agg(
        F.sum(F.col("na") * F.col("nb")).alias("jsz")
    )
    return med.crossJoin(F.broadcast(exact)).select(
        F.round("est_sz").cast("long").alias("join_size_est"),
        F.col("jsz").cast("long").alias("join_size_exact"),
        F.round(F.abs(F.col("est_sz") - F.col("jsz")) / F.col("jsz"), 4).alias(
            "rel_err"
        ),
    )


@register(
    "events_stickiness",
    """
    WITH mau AS (
      SELECT date_trunc('month', ts) AS mo,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
      FROM events GROUP BY mo),
    dau AS (
      SELECT date_trunc('month', ts) AS mo,
             CAST(ts AS DATE) AS day,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
      FROM events GROUP BY mo, day),
    avg_dau AS (SELECT mo, AVG(dau) AS avg_dau FROM dau GROUP BY mo)
    SELECT strftime(m.mo, '%Y-%m') AS month, m.mau,
           ROUND(a.avg_dau, 4) AS avg_dau,
           ROUND(a.avg_dau / m.mau, 6) AS stickiness
    FROM mau m JOIN avg_dau a USING (mo)
    """,
)
def events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per month — the engagement ratio every
    product dashboard carries next to the DAU/WAU series
    (events_dau_wau). Two distinct-count rollups (day grain and month
    grain) joined on the month-cardinality relation; both distincts are
    user-keyed hash aggregates, nothing window-shaped."""
    ev = table(spark, sf_dir, "events")
    mo = F.date_trunc("month", F.col("ts")).alias("mo")
    mau = ev.groupBy(mo).agg(F.count_distinct("user_id").alias("mau"))
    dau = ev.groupBy(
        mo, F.to_date("ts").alias("day")
    ).agg(F.count_distinct("user_id").alias("dau"))
    avg_dau = dau.groupBy("mo").agg(F.avg("dau").alias("avg_dau"))
    return mau.join(avg_dau, "mo").select(
        F.date_format("mo", "yyyy-MM").alias("month"),
        "mau",
        F.round("avg_dau", 4).alias("avg_dau"),
        F.round(F.col("avg_dau") / F.col("mau"), 6).alias("stickiness"),
    )


# --- autocorrelation function over the hourly series ---------------------------
_ACF_LAGS = (1, 2, 3, 6, 12, 24)


def _acf_oracle() -> str:
    lag_cols = ",\n             ".join(
        f"LAG(x, {l}) OVER w AS l{l}" for l in _ACF_LAGS
    )
    pair_selects = "\n      UNION ALL ".join(
        f"SELECT {l} AS lag, x, l{l} AS xl FROM lagged" for l in _ACF_LAGS
    )
    return f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, COUNT(*) * 1.0 AS x
      FROM events GROUP BY h),
    lagged AS (
      SELECT h, x,
             {lag_cols}
      FROM hourly WINDOW w AS (ORDER BY h)),
    pairs AS (
      {pair_selects})
    SELECT lag, CAST(COUNT(xl) AS BIGINT) AS n_pairs,
           ROUND(corr(x, xl), 4) AS acf
    FROM pairs WHERE xl IS NOT NULL GROUP BY lag
    """


@register("events_autocorrelation", _acf_oracle())
def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the hourly event-count series at lags
    {1,2,3,6,12,24} — the periodicity detector (a daily cycle shows as
    a spike at lag 24) that decides whether a seasonal model
    (history_seasonal_decompose, snaive) applies at all. The
    corpus-sized work is one groupBy(hour) rollup; the lag windows and
    corr aggregates run on the HOURLY relation (~9k rows/year at any
    data scale), so the unpartitioned ORDER BY is series-sized —
    same justification as history_backtest_snaive. corr is a
    single-pass distributive moment aggregate; 4dp round absorbs
    partial-agg float order."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        (F.count(F.lit(1)) * 1.0).alias("x")
    )
    w = Window.orderBy("h")
    lagged = hourly.select(
        "x", *[F.lag("x", l).over(w).alias(f"l{l}") for l in _ACF_LAGS]
    )
    pairs = None
    for l in _ACF_LAGS:
        p = lagged.select(
            F.lit(l).alias("lag"), "x", F.col(f"l{l}").alias("xl")
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    return (
        pairs.filter(F.col("xl").isNotNull())
        .groupBy("lag")
        .agg(
            F.count("xl").alias("n_pairs"),
            F.round(F.corr("x", "xl"), 4).alias("acf"),
        )
    )


# --- Ljung-Box portmanteau test: is the series white noise? ----------------------
_LB_LAGS = 6
_LB_CHI2_95 = 12.5916  # chi-squared 0.95 critical value, df = 6


def _ljung_box_oracle() -> str:
    lag_cols = ",\n             ".join(
        f"LAG(c, {k}) OVER w AS c{k}" for k in range(1, _LB_LAGS + 1)
    )
    r_selects = "\n      UNION ALL ".join(
        f"SELECT {k} AS k, SUM(c * c{k}) / (SELECT d FROM denom) AS r"
        f" FROM lagged WHERE c{k} IS NOT NULL"
        for k in range(1, _LB_LAGS + 1)
    )
    return f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, COUNT(*) * 1.0 AS x
      FROM events GROUP BY h),
    stats AS (SELECT COUNT(*) AS n, AVG(x) AS m FROM hourly),
    cent AS (SELECT h, x - (SELECT m FROM stats) AS c FROM hourly),
    denom AS (SELECT SUM(c * c) AS d FROM cent),
    lagged AS (
      SELECT c,
             {lag_cols}
      FROM cent WINDOW w AS (ORDER BY h)),
    rk AS ({r_selects})
    SELECT (SELECT CAST(n AS BIGINT) FROM stats) AS n_obs,
           {_LB_LAGS} AS n_lags,
           ROUND((SELECT n FROM stats) * ((SELECT n FROM stats) + 2)
                 * SUM(r * r / ((SELECT n FROM stats) - k)), 4) AS q_stat,
           CAST((SELECT n FROM stats) * ((SELECT n FROM stats) + 2)
                 * SUM(r * r / ((SELECT n FROM stats) - k)) > {_LB_CHI2_95}
                AS BOOLEAN) AS reject_white_noise
    FROM rk
    """


@register("events_ljung_box", _ljung_box_oracle())
def events_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau statistic on the hourly event-count series:
    Q = n(n+2)·Σ_k r_k²/(n−k) over lags 1..6, against the χ²(6) 95%
    critical value — the formal "is there ANY autocorrelation" gate that
    upgrades events_autocorrelation's per-lag eyeballing into a single
    accept/reject decision (run before fitting the seasonal/Holt models:
    white noise → don't). The corpus-sized work is one groupBy(hour)
    rollup; mean/denominator are broadcast scalars and the lag windows
    run on the hourly relation (~9k rows/year at ANY data scale), so the
    unpartitioned ORDER BY is series-sized — same justification as
    events_autocorrelation."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        (F.count(F.lit(1)) * 1.0).alias("x")
    )
    stats = hourly.agg(
        F.count(F.lit(1)).alias("n"), F.avg("x").alias("m")
    )
    cent = hourly.crossJoin(F.broadcast(stats)).select(
        "h", "n", (F.col("x") - F.col("m")).alias("c")
    )
    denom = cent.agg(F.sum(F.col("c") * F.col("c")).alias("d"))
    w = Window.orderBy("h")
    lagged = cent.select(
        "n", "c", *[F.lag("c", k).over(w).alias(f"c{k}") for k in range(1, _LB_LAGS + 1)]
    )
    rk = None
    for k in range(1, _LB_LAGS + 1):
        p = (
            lagged.filter(F.col(f"c{k}").isNotNull())
            .groupBy()
            .agg(
                F.lit(k).alias("k"),
                F.first("n").alias("n"),
                F.sum(F.col("c") * F.col(f"c{k}")).alias("num"),
            )
        )
        rk = p if rk is None else rk.unionByName(p)
    q = F.sum(
        (F.col("num") / F.col("d")) * (F.col("num") / F.col("d")) / (F.col("n") - F.col("k"))
    ) * F.first("n") * (F.first("n") + 2)
    return (
        rk.crossJoin(F.broadcast(denom))
        .groupBy()
        .agg(
            F.first("n").cast("long").alias("n_obs"),
            F.lit(_LB_LAGS).alias("n_lags"),
            F.round(q, 4).alias("q_stat"),
            (q > _LB_CHI2_95).alias("reject_white_noise"),
        )
    )


# --- position-based (U-shaped) attribution ---------------------------------------
@register(
    "events_attribution_position",
    """
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS j
      FROM events),
    touches AS (SELECT * FROM seq WHERE event_type <> 'purchase'),
    purch AS (SELECT user_id, j FROM seq WHERE event_type = 'purchase'),
    tj AS (
      SELECT t.user_id, t.j, t.event_type, t.ts, t.event_id
      FROM touches t JOIN purch p ON p.user_id = t.user_id AND p.j = t.j),
    ranked AS (
      SELECT event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, j ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id, j) AS n
      FROM tj)
    SELECT event_type AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           ROUND(SUM(CASE WHEN n = 1 THEN 1.0
                          WHEN n = 2 THEN 0.5
                          WHEN rn = 1 OR rn = n THEN 0.4
                          ELSE 0.2 / (n - 2) END), 4) AS credit
    FROM ranked GROUP BY event_type
    """,
)
def events_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped, 40/20/40) multi-touch attribution:
    every purchase's credit splits across the non-purchase touches of
    its journey (the touches since the user's previous purchase) —
    first and last touch 0.4 each, middles share 0.2; degenerate
    journeys collapse to 1.0 / 0.5+0.5. The journey id is a running
    purchase count (one window over the user's ordered stream — the
    same partitioned-sequence shape as events_sessionize), touches
    join their closing purchase on (user, journey) — an equi-join that
    only keeps CONVERTED journeys — and the rank/size windows are
    per-journey. Everything is keyed by user and journey: no
    self-joins, no driver loops, linear in events at 100 TB. The model
    complements events_attribution_last_touch (same journey algebra,
    different credit kernel)."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    wj = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .over(wj)
        .alias("j"),
    ).withColumn("j", F.coalesce("j", F.lit(0)))
    touches = seq.filter(F.col("event_type") != "purchase")
    purch = seq.filter(F.col("event_type") == "purchase").select("user_id", "j")
    tj = touches.join(purch, ["user_id", "j"])
    wp = Window.partitionBy("user_id", "j").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id", "j")
    ranked = tj.select(
        "event_type",
        F.row_number().over(wp).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    credit = (
        F.when(F.col("n") == 1, 1.0)
        .when(F.col("n") == 2, 0.5)
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), 0.4)
        .otherwise(F.lit(0.2) / (F.col("n") - 2))
    )
    return ranked.groupBy(F.col("event_type").alias("channel")).agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.round(F.sum(credit), 4).alias("credit"),
    )


# --- difference-in-differences uplift --------------------------------------------
@register(
    "events_uplift_did",
    """
    WITH b AS (
      SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid FROM events),
    cells AS (
      SELECT CASE WHEN user_id % 2 = 1 THEN 'treat' ELSE 'control' END AS grp,
             CASE WHEN epoch_us(ts) <= mid THEN 'pre' ELSE 'post' END AS period,
             SUM(value) AS sv, COUNT(*) AS n
      FROM events, b GROUP BY grp, period)
    SELECT
      CAST(SUM(n) AS BIGINT) AS n_events,
      ROUND(MAX(CASE WHEN grp = 'treat' AND period = 'pre' THEN sv / n END), 6)
        AS treat_pre,
      ROUND(MAX(CASE WHEN grp = 'treat' AND period = 'post' THEN sv / n END), 6)
        AS treat_post,
      ROUND(MAX(CASE WHEN grp = 'control' AND period = 'pre' THEN sv / n END), 6)
        AS control_pre,
      ROUND(MAX(CASE WHEN grp = 'control' AND period = 'post' THEN sv / n END), 6)
        AS control_post,
      ROUND(MAX(CASE WHEN grp = 'treat' AND period = 'post' THEN sv / n END)
            - MAX(CASE WHEN grp = 'treat' AND period = 'pre' THEN sv / n END)
            - (MAX(CASE WHEN grp = 'control' AND period = 'post' THEN sv / n END)
               - MAX(CASE WHEN grp = 'control' AND period = 'pre' THEN sv / n END)),
            6) AS did_estimate
    FROM cells
    """,
)
def events_uplift_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences uplift estimate: users split into a
    deterministic treatment/control pair (id parity — stands in for an
    experiment assignment column), the timeline into pre/post halves at
    the observed midpoint (broadcast scalar, the events_drift_psi
    pattern), and the causal-read effect on mean event value is
    (ΔT) − (ΔC) — the panel-data estimator that nets out both group
    level differences and the common time trend. One scan into a
    4-cell aggregate, then a single-row pivot: scan-bound at 100 TB,
    no shuffles beyond the 4-row partial-agg merge."""
    ev = table(spark, sf_dir, "events")
    b = ev.agg(
        ((F.unix_micros(F.min("ts")) + F.unix_micros(F.max("ts"))) / 2)
        .cast("long")
        .alias("mid")
    )
    cells = (
        ev.crossJoin(F.broadcast(b))
        .select(
            F.when(F.col("user_id") % 2 == 1, "treat").otherwise("control").alias("grp"),
            F.when(F.unix_micros("ts") <= F.col("mid"), "pre")
            .otherwise("post")
            .alias("period"),
            "value",
        )
        .groupBy("grp", "period")
        .agg(F.sum("value").alias("sv"), F.count(F.lit(1)).alias("n"))
    )

    def cell(g: str, p: str):
        return F.max(
            F.when(
                (F.col("grp") == g) & (F.col("period") == p),
                F.col("sv") / F.col("n"),
            )
        )

    return cells.agg(
        F.sum("n").cast("long").alias("n_events"),
        F.round(cell("treat", "pre"), 6).alias("treat_pre"),
        F.round(cell("treat", "post"), 6).alias("treat_post"),
        F.round(cell("control", "pre"), 6).alias("control_pre"),
        F.round(cell("control", "post"), 6).alias("control_post"),
        F.round(
            cell("treat", "post")
            - cell("treat", "pre")
            - (cell("control", "post") - cell("control", "pre")),
            6,
        ).alias("did_estimate"),
    )


# --- forward as-of join (merge_asof direction='forward') -------------------------
@register(
    "asof_event_next_purchase",
    """
    WITH u AS (
      SELECT user_id AS k, ts AS t, 1 AS tag,
             NULL::BIGINT AS event_id, event_id AS purchase_id
      FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, ts, 0, event_id, NULL::BIGINT
      FROM events WHERE event_type <> 'purchase'),
    carried AS (
      SELECT k, t, tag, event_id,
             first_value(purchase_id IGNORE NULLS) OVER w AS next_purchase_id,
             first_value(CASE WHEN tag = 1 THEN t END IGNORE NULLS)
               OVER w AS next_t
      FROM u
      WINDOW w AS (PARTITION BY k ORDER BY t, tag, purchase_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT event_id,
           k AS user_id,
           CASE WHEN date_diff('day', t::DATE, next_t::DATE) <= 7
                THEN next_purchase_id END AS next_purchase_id,
           CASE WHEN date_diff('day', t::DATE, next_t::DATE) <= 7
                THEN CAST(date_diff('day', t::DATE, next_t::DATE) AS BIGINT)
           END AS lead_days
    FROM carried WHERE tag = 0
    """,
)
def asof_event_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event FORWARD as-of join: each non-purchase event picks the
    user's earliest purchase ON OR AFTER its timestamp within a 7-day
    tolerance — the 'did this touch convert, and how fast' lookup
    (pandas merge_asof direction='forward'), completing the as-of
    family next to the backward asof_event_latest_order. Same union-tag
    single-window shape run over the FOLLOWING frame: one shuffle on
    the key, each row touched once, no lookahead-window explosion."""
    from ug_dwh_etl_spark.operators.joins import merge_asof_forward

    ev = table(spark, sf_dir, "events")
    touches = ev.filter(F.col("event_type") != "purchase")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("purchase_id")
    )
    out = merge_asof_forward(
        touches,
        purchases,
        key="user_id",
        left_time="ts",
        right_time="p_ts",
        left_vals=["event_id"],
        right_vals=["purchase_id"],
        tolerance_days=7,
    )
    return out.select(
        "event_id",
        F.col("_k").alias("user_id"),
        F.col("asof_purchase_id").alias("next_purchase_id"),
        F.datediff(F.to_date("asof_t"), F.to_date("_t")).cast("long").alias("lead_days"),
    )


# --- nearest as-of join (merge_asof direction='nearest') -------------------------
@register(
    "asof_event_nearest_purchase",
    """
    WITH u AS (
      SELECT user_id AS k, ts AS t, 1 AS is_purchase,
             NULL::BIGINT AS event_id, event_id AS purchase_id
      FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, ts, 0, event_id, NULL::BIGINT
      FROM events WHERE event_type <> 'purchase'),
    carried AS (
      SELECT k, t, is_purchase, event_id,
             last_value(purchase_id IGNORE NULLS) OVER wb AS b_id,
             last_value(CASE WHEN is_purchase = 1 THEN t END IGNORE NULLS)
               OVER wb AS b_t,
             first_value(purchase_id IGNORE NULLS) OVER wf AS f_id,
             first_value(CASE WHEN is_purchase = 1 THEN t END IGNORE NULLS)
               OVER wf AS f_t
      FROM u
      WINDOW
        wb AS (PARTITION BY k ORDER BY t, is_purchase DESC, purchase_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wf AS (PARTITION BY k ORDER BY t, is_purchase, purchase_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
    tol AS (
      SELECT event_id, k, t,
             CASE WHEN date_diff('day', b_t::DATE, t::DATE) <= 7
                  THEN b_id END AS b_id,
             CASE WHEN date_diff('day', b_t::DATE, t::DATE) <= 7
                  THEN b_t END AS b_t,
             CASE WHEN date_diff('day', t::DATE, f_t::DATE) <= 7
                  THEN f_id END AS f_id,
             CASE WHEN date_diff('day', t::DATE, f_t::DATE) <= 7
                  THEN f_t END AS f_t
      FROM carried WHERE is_purchase = 0)
    SELECT event_id, k AS user_id,
           CASE WHEN b_t IS NOT NULL AND (f_t IS NULL OR
                     epoch_us(t) - epoch_us(b_t) <= epoch_us(f_t) - epoch_us(t))
                THEN b_id ELSE f_id END AS nearest_purchase_id,
           CASE WHEN b_t IS NOT NULL AND (f_t IS NULL OR
                     epoch_us(t) - epoch_us(b_t) <= epoch_us(f_t) - epoch_us(t))
                THEN CAST(date_diff('day', t::DATE, b_t::DATE) AS BIGINT)
                ELSE CAST(date_diff('day', t::DATE, f_t::DATE) AS BIGINT)
           END AS gap_days
    FROM tol
    """,
)
def asof_event_nearest_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event NEAREST as-of join: each non-purchase event picks the
    user's closest purchase in EITHER direction within a 7-day
    tolerance, ties to the earlier one (pandas merge_asof
    direction='nearest') — 'which conversion is this touch about',
    without assuming the touch preceded it. Completes the as-of family
    (backward asof_event_latest_order, forward
    asof_event_next_purchase): two union-tag window passes + one
    co-partitioned join-back, all shuffling once on user_id, never a
    range-join explosion. gap_days is signed (negative = purchase
    before the event)."""
    from ug_dwh_etl_spark.operators.joins import merge_asof_nearest

    ev = table(spark, sf_dir, "events")
    touches = ev.filter(F.col("event_type") != "purchase")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("purchase_id")
    )
    out = merge_asof_nearest(
        touches,
        purchases,
        key="user_id",
        left_time="ts",
        right_time="p_ts",
        left_vals=["event_id"],
        right_vals=["purchase_id"],
        tolerance_days=7,
    )
    return out.select(
        "event_id",
        F.col("_k").alias("user_id"),
        F.col("asof_purchase_id").alias("nearest_purchase_id"),
        F.datediff(F.to_date("asof_t"), F.to_date("_t")).cast("long").alias("gap_days"),
    )


# --- Markov entropy rate of the event stream -------------------------------------
@register(
    "events_entropy_rate",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events),
    trans AS (
      SELECT event_type AS f, next_type AS t, COUNT(*) AS n
      FROM seq WHERE next_type IS NOT NULL GROUP BY f, t),
    nf AS (SELECT f, SUM(n) AS nf FROM trans GROUP BY f),
    tot AS (SELECT SUM(n) AS total FROM trans)
    SELECT CAST(COUNT(DISTINCT tr.f) AS BIGINT) AS n_states,
           ROUND(-SUM((tr.n * 1.0 / (SELECT total FROM tot))
                      * log2(tr.n * 1.0 / nf.nf)), 6) AS entropy_rate_bits,
           ROUND(log2(COUNT(DISTINCT tr.f) * 1.0), 6) AS max_entropy_bits
    FROM trans tr JOIN nf ON nf.f = tr.f
    """,
)
def events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the user event stream modeled as the order-1
    Markov chain behind events_transition_matrix: H = −Σ_{f,t}
    (n_{ft}/N)·log₂(n_{ft}/n_f) bits per step, next to the log₂|S|
    ceiling — how predictable the next action is (the stream-level
    analogue of text_char_entropy, and the statistic that says whether
    sequence features carry signal for a recommender/conversion model
    at all). The corpus-sized work is the per-user LEAD window +
    transition count; everything downstream is |S|²-sized with the
    grand total a broadcast scalar."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    seq = ev.select(
        "event_type",
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("next_type"),
    )
    trans = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("f"), F.col("next_type").alias("t"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    nf = trans.groupBy("f").agg(F.sum("n").alias("nf"))
    tot = trans.agg(F.sum("n").alias("total"))
    joined = trans.join(F.broadcast(nf), "f").crossJoin(F.broadcast(tot))
    n_states = F.countDistinct("f")
    return joined.agg(
        n_states.cast("long").alias("n_states"),
        F.round(
            -F.sum(
                (F.col("n") * 1.0 / F.col("total"))
                * F.log2(F.col("n") * 1.0 / F.col("nf"))
            ),
            6,
        ).alias("entropy_rate_bits"),
        F.round(F.log2(n_states * 1.0), 6).alias("max_entropy_bits"),
    )


# --- Bloom filter false-positive-rate audit ---------------------------------------
_BLOOM_BITS = 1 << 16  # m
_BLOOM_K = 3  # hash functions (md5 slices, cross-engine identical)


def _bloom_bit_sql(expr: str, j: int) -> str:
    # j-th hash = a disjoint 8-hex-digit md5 slice, mod m
    return (
        f"(('0x' || substr(md5({expr}), {1 + 8 * j}, 8))::BIGINT % {_BLOOM_BITS})"
    )


@register(
    "sketch_bloom_fpr",
    f"""
    WITH members AS (SELECT DISTINCT c_custkey AS key FROM customer),
    bits AS (
      SELECT DISTINCT bit FROM (
        {" UNION ALL ".join(f"SELECT {_bloom_bit_sql('key::VARCHAR', j)} AS bit FROM members" for j in range(_BLOOM_K))}
      )),
    probes AS (
      SELECT key + 10000000 AS probe FROM members),
    hits AS (
      SELECT probe,
             {" + ".join(f"(CASE WHEN {_bloom_bit_sql('probe::VARCHAR', j)} IN (SELECT bit FROM bits) THEN 1 ELSE 0 END)" for j in range(_BLOOM_K))}
               AS k_hit
      FROM probes)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM members) AS n_members,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS bits_set,
           CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(CASE WHEN k_hit = {_BLOOM_K} THEN 1 ELSE 0 END) AS BIGINT)
             AS false_positives,
           ROUND(SUM(CASE WHEN k_hit = {_BLOOM_K} THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS measured_fpr,
           ROUND(pow(1.0 - pow(1.0 - 1.0 / {_BLOOM_BITS},
                               {_BLOOM_K} * (SELECT COUNT(*) FROM members)),
                     {_BLOOM_K}), 6) AS theoretical_fpr
    FROM hits
    """,
)
def sketch_bloom_fpr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter false-positive-rate audit, completing the sketch
    family (HLL, KMV, CMS, AMS): build an m={_M}-bit / k={_K}-hash
    filter over the customer keys (hashes = disjoint md5 slices,
    identical in both engines), probe with a key set DISJOINT from the
    members, and report the measured FPR next to the closed-form
    (1−(1−1/m)^{{kn}})^k — the calibration that sizes the runtime
    bloom-pruned join (join_bloom_pruned) before trusting it at
    100 TB. The filter is a distinct bit relation (≤m rows, mergeable
    across partitions exactly like the production bitset); probing is
    a broadcast semi-join per hash — scan-bound, no state beyond m
    bits.""".replace("{_M}", str(_BLOOM_BITS)).replace("{_K}", str(_BLOOM_K))
    cust = table(spark, sf_dir, "customer")
    members = cust.select(F.col("c_custkey").alias("key")).distinct()

    def bit(col, j):
        return F.conv(F.substring(F.md5(col.cast("string")), 1 + 8 * j, 8), 16, 10).cast(
            "long"
        ) % _BLOOM_BITS

    bits = None
    for j in range(_BLOOM_K):
        b = members.select(bit(F.col("key"), j).alias("bit"))
        bits = b if bits is None else bits.unionByName(b)
    bits = bits.distinct()
    probes = members.select((F.col("key") + 10_000_000).alias("probe"))
    hits = probes
    for j in range(_BLOOM_K):
        pb = bits.select(F.col("bit").alias(f"b{j}"))
        hits = hits.join(
            F.broadcast(pb), bit(F.col("probe"), j) == F.col(f"b{j}"), "left"
        ).select(*hits.columns, F.col(f"b{j}").isNotNull().cast("int").alias(f"h{j}"))
    k_hit = sum(F.col(f"h{j}") for j in range(_BLOOM_K))
    fp = F.sum(F.when(k_hit == _BLOOM_K, 1).otherwise(0))
    # closed-form FPR with n as an in-plan scalar (no driver count):
    # (1 - (1 - 1/m)^(k·n))^k
    theo = F.pow(
        1.0 - F.pow(F.lit(1.0 - 1.0 / _BLOOM_BITS), _BLOOM_K * F.col("n_members")),
        float(_BLOOM_K),
    )
    return (
        hits.crossJoin(F.broadcast(bits.agg(F.count(F.lit(1)).alias("bits_set"))))
        .crossJoin(F.broadcast(members.agg(F.count(F.lit(1)).alias("n_members"))))
        .groupBy()
        .agg(
            F.first("n_members").cast("long").alias("n_members"),
            F.first("bits_set").cast("long").alias("bits_set"),
            F.count(F.lit(1)).alias("n_probes"),
            fp.cast("long").alias("false_positives"),
            F.round(fp * 1.0 / F.count(F.lit(1)), 6).alias("measured_fpr"),
            F.round(F.first(theo), 6).alias("theoretical_fpr"),
        )
    )


# --- peak session concurrency (interval sweep) --------------------------------------
_CONC_GAP_MIN = 30


@register(
    "events_peak_concurrency",
    f"""
    WITH seq AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id))
                  > {_CONC_GAP_MIN} * 60 * 1000000 OR LAG(ts) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events),
    sess AS (
      SELECT user_id, MIN(ts) AS s_start, MAX(ts) AS s_end
      FROM (SELECT user_id, ts,
                   SUM(is_start) OVER (PARTITION BY user_id
                                       ORDER BY ts) AS sid
            FROM seq)
      GROUP BY user_id, sid),
    endpoints AS (
      SELECT s_start AS t, 1 AS delta FROM sess
      UNION ALL SELECT s_end, -1 FROM sess),
    sweep AS (
      SELECT t, SUM(delta) OVER (ORDER BY t, delta DESC
                                 ROWS UNBOUNDED PRECEDING) AS live
      FROM endpoints)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sess) AS n_sessions,
           CAST(MAX(live) AS BIGINT) AS peak_concurrency,
           MIN(t) FILTER (WHERE live = (SELECT MAX(live) FROM sweep)) AS peak_ts
    FROM sweep
    """,
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions: sessionize per user (30-minute gap —
    ``_CONC_GAP_MIN`` — the events_sessionize rule), then run the classic +1/−1 interval
    sweep over session endpoints — the capacity-planning number (how
    many sessions were EVER live at once, and when). The sweep's
    running sum is a TWO-LEVEL DISTRIBUTED PREFIX SUM (the
    text_pack_sequences sharding pattern adapted to a globally-ordered
    sweep): endpoints shard by calendar day — day shards partition the
    global (t, delta) order, so per-shard prefix sums compose — each
    shard runs a PARTITIONED running sum, and the carried-in offset per
    shard is the running total of PRIOR shards' deltas, computed over
    the day-aggregated relation (rows = distinct days, never
    data-sized) and broadcast back onto the shards. No unpartitioned
    WindowExec ever touches the endpoint relation, so the sweep
    parallelizes across days at any scale. Ties process +1 before −1 so
    touching sessions count as overlapping — identical in both
    engines."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = _CONC_GAP_MIN * 60 * 1_000_000
    seq = ev.select(
        "user_id",
        "ts",
        F.when(
            F.lag("ts").over(wu).isNull()
            | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wu)) > gap_us),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    sess = (
        seq.select(
            "user_id",
            "ts",
            F.sum("is_start")
            .over(Window.partitionBy("user_id").orderBy("ts"))
            .alias("sid"),
        )
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    endpoints = sess.select(F.col("s_start").alias("t"), F.lit(1).alias("delta")).unionByName(
        sess.select(F.col("s_end").alias("t"), F.lit(-1).alias("delta"))
    )
    # two-level prefix sum: day shards partition the (t, delta DESC)
    # global order, so local running sums + prior-shard offsets ARE the
    # global running sum — and every window below is partitioned (local
    # sweep) or over the tiny day-aggregated relation (offsets).
    sharded = endpoints.withColumn("shard", F.date_trunc("day", F.col("t")))
    wlocal = (
        Window.partitionBy("shard")
        .orderBy(F.col("t"), F.desc("delta"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = sharded.select(
        "shard", "t", F.sum("delta").over(wlocal).alias("local_live")
    )
    woff = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        sharded.groupBy("shard")
        .agg(F.sum("delta").alias("shard_tot"))
        .select(
            "shard",
            F.coalesce(F.sum("shard_tot").over(woff), F.lit(0)).alias("off"),
        )
    )
    sweep = local.join(F.broadcast(offsets), "shard").select(
        "t", (F.col("local_live") + F.col("off")).alias("live")
    )
    n_sessions = sess.agg(F.count(F.lit(1)).alias("n_sessions"))
    peak = sweep.agg(F.max("live").alias("peak"))
    return (
        sweep.crossJoin(F.broadcast(peak))
        .crossJoin(F.broadcast(n_sessions))
        .groupBy()
        .agg(
            F.first("n_sessions").cast("long").alias("n_sessions"),
            F.first("peak").cast("long").alias("peak_concurrency"),
            F.min(F.when(F.col("live") == F.col("peak"), F.col("t"))).alias("peak_ts"),
        )
    )


# --- A/B experiment readout: two-proportion z-test -------------------------------
# Shared arm/conversion definition: BOTH the z-test and the power
# readout must describe the SAME experiment, so the assignment rule
# (user_id parity), the converter rule (>= _AB_CONV_MIN purchases) and
# the 2-row pivot exist exactly once for the SQL oracles and once for
# the Spark side.
_AB_CONV_MIN = 12

_AB_CTES = """assign AS (
      SELECT user_id, user_id % 2 AS arm,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  >= {m} THEN 1 ELSE 0 END AS conv
      FROM events GROUP BY user_id, arm),
    arms AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(conv) AS BIGINT) AS k
      FROM assign GROUP BY arm),
    w AS (
      SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n0,
             MAX(CASE WHEN arm = 0 THEN k END) AS k0,
             MAX(CASE WHEN arm = 1 THEN n END) AS n1,
             MAX(CASE WHEN arm = 1 THEN k END) AS k1
      FROM arms)""".format(m=_AB_CONV_MIN)


def _ab_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 1-row (n0, k0, n1, k1) arm summary both A/B queries build on."""
    ev = table(spark, sf_dir, "events")
    assign = ev.groupBy("user_id", (F.col("user_id") % 2).alias("arm")).agg(
        (
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            >= _AB_CONV_MIN
        )
        .cast("int")
        .alias("conv")
    )
    arms = assign.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("conv").alias("k")
    )
    return arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("k"))).alias("k0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("k"))).alias("k1"),
    )


@register(
    "events_ab_test_ztest",
    f"""
    WITH {_AB_CTES},
    z AS (
      SELECT n0, k0, n1, k1,
             k0 / n0::DOUBLE AS p0, k1 / n1::DOUBLE AS p1,
             (k0 + k1) / (n0 + n1)::DOUBLE AS pp
      FROM w)
    SELECT n0, k0, n1, k1,
           ROUND(p0, 6) AS rate0, ROUND(p1, 6) AS rate1,
           ROUND((p1 - p0) / NULLIF(sqrt(pp * (1 - pp) * (1.0/n0 + 1.0/n1)), 0.0),
                 6) AS z,
           ABS((p1 - p0) / NULLIF(sqrt(pp * (1 - pp) * (1.0/n0 + 1.0/n1)), 0.0))
             > 1.96 AS significant
    FROM z
    """,
)
def events_ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users split into two arms by user_id
    parity (the deterministic stand-in for an assignment column),
    converter = heavy purchaser (>= _AB_CONV_MIN purchase events — every
    user in the synthetic fixture buys at least once, so a plain
    any-purchase flag is degenerate at p=1); the two-proportion pooled
    z-test decides whether the arms differ at the 5% level — the
    experiment summary next to the other inference ops (chi-squared, KS,
    DiD, Wilson). One user-keyed aggregate, one 2-row pivot, scalar
    math after; at 100 TB the only corpus-sized work is the per-user
    conversion flag, which is the same aggregate a funnel already
    pays. Arm/conversion rules are shared with events_ab_power via
    _AB_CTES/_ab_arms so the two readouts can never drift apart."""
    w = _ab_arms(spark, sf_dir)
    p0 = F.col("k0") / F.col("n0")
    p1 = F.col("k1") / F.col("n1")
    pp = (F.col("k0") + F.col("k1")) / (F.col("n0") + F.col("n1"))
    denom = F.sqrt(pp * (1 - pp) * (1.0 / F.col("n0") + 1.0 / F.col("n1")))
    zexpr = (p1 - p0) / F.nullif(denom, F.lit(0.0))
    return w.select(
        "n0", "k0", "n1", "k1",
        F.round(p0, 6).alias("rate0"),
        F.round(p1, 6).alias("rate1"),
        F.round(zexpr, 6).alias("z"),
        (F.abs(zexpr) > 1.96).alias("significant"),
    )


@register(
    "events_ab_power",
    f"""
    WITH {_AB_CTES},
    p AS (SELECT n0, n1, k0 / n0::DOUBLE AS p0, k1 / n1::DOUBLE AS p1 FROM w)
    SELECT ROUND(p0, 6) AS rate0, ROUND(p1, 6) AS rate1,
           ROUND(ABS(p1 - p0), 6) AS observed_delta,
           CAST(CEIL((1.96 + 0.8416) * (1.96 + 0.8416)
                     * (p0 * (1 - p0) + p1 * (1 - p1))
                     / NULLIF((p1 - p0) * (p1 - p0), 0.0)) AS BIGINT)
             AS n_per_arm_80pct,
           CAST(n0 + n1 AS BIGINT) AS n_observed
    FROM p
    """,
)
def events_ab_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment PLANNING companion to events_ab_test_ztest: the
    per-arm sample size needed to detect the observed effect at 5%
    significance with 80% power (z_alpha/2 = 1.96, z_beta = 0.8416,
    two-proportion normal approximation) next to what was actually
    observed — the 'how much longer must this test run' number. Built
    on the SAME _AB_CTES/_ab_arms arm summary as the z-test, so the
    power readout always describes the experiment the test ran."""
    w = _ab_arms(spark, sf_dir)
    p0 = F.col("k0") / F.col("n0")
    p1 = F.col("k1") / F.col("n1")
    need = F.ceil(
        (1.96 + 0.8416) ** 2
        * (p0 * (1 - p0) + p1 * (1 - p1))
        / F.nullif((p1 - p0) * (p1 - p0), F.lit(0.0))
    )
    return w.select(
        F.round(p0, 6).alias("rate0"),
        F.round(p1, 6).alias("rate1"),
        F.round(F.abs(p1 - p0), 6).alias("observed_delta"),
        need.cast("long").alias("n_per_arm_80pct"),
        (F.col("n0") + F.col("n1")).cast("long").alias("n_observed"),
    )


# --- MATCH_RECOGNIZE-lite: quantified pattern spans (VIEW+ PURCHASE) ------------
@register(
    "events_match_spans",
    """
    WITH r AS (
      SELECT user_id, event_id, ts, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    v AS (
      SELECT user_id, ts, rn,
             rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS grp
      FROM r WHERE event_type = 'view'),
    runs AS (
      SELECT user_id, grp, MIN(ts) AS start_ts,
             CAST(COUNT(*) AS BIGINT) AS n_views, MAX(rn) AS last_rn
      FROM v GROUP BY user_id, grp)
    SELECT runs.user_id, runs.start_ts, p.ts AS end_ts, runs.n_views
    FROM runs JOIN r p
      ON p.user_id = runs.user_id AND p.rn = runs.last_rn + 1
     AND p.event_type = 'purchase'
    """,
)
def events_match_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MATCH_RECOGNIZE-lite: the quantified pattern VIEW+ PURCHASE
    as maximal match SPANS — for every maximal run of consecutive 'view'
    events whose very next event is a 'purchase', emit (user, span start,
    purchase ts, views in the span). The gaps-and-islands trick (global
    row_number minus per-type row_number is constant within a consecutive
    run) turns regex-over-rows into two window passes plus one equi-join
    on the successor position — no self-join over event pairs, no
    per-user collect; everything shuffles once on user_id and the
    successor join is (user_id, rn)-keyed. The streaming CEP twins
    (stream_pattern_conversions*) cover the unbounded flavor; this is
    the bounded-history batch shape SQL's MATCH_RECOGNIZE compiles to.
    Reference anchor: the funnel/conversion readouts its event scripts
    imply (SURVEY.md §2.11)."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = ev.withColumn("rn", F.row_number().over(w_all))
    w_v = Window.partitionBy("user_id").orderBy("rn")
    v = (
        r.filter(F.col("event_type") == "view")
        .withColumn("grp", F.col("rn") - F.row_number().over(w_v))
    )
    runs = v.groupBy("user_id", "grp").agg(
        F.min("ts").alias("start_ts"),
        F.count(F.lit(1)).alias("n_views"),
        (F.max("rn") + F.lit(1)).alias("next_rn"),
    )
    purch = r.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("rn").alias("next_rn"), F.col("ts").alias("end_ts")
    )
    return runs.join(purch, ["user_id", "next_rn"]).select(
        "user_id", "start_ts", "end_ts", "n_views"
    )


# --- multiple testing: Benjamini-Hochberg FDR over a test family ---------------------
_FDR_Q = 0.1


def _norm_sf2(z: str) -> str:
    """Two-sided normal p-value 2*(1 - Phi(|z|)) as ONE expression
    string evaluated verbatim on BOTH engines — the Zelen & Severo
    polynomial (Abramowitz & Stegun 26.2.17, |error| < 7.5e-8). Same
    text, same IEEE arithmetic, so the only cross-engine surface is
    exp()'s last ulp — 1e9 below the 6dp rounding grid."""
    t = f"(1.0 / (1.0 + 0.2316419 * abs({z})))"
    poly = (
        f"({t} * (0.319381530 + {t} * (-0.356563782 + {t} * (1.781477937 "
        f"+ {t} * (-1.821255978 + {t} * 1.330274429)))))"
    )
    pdf = f"(0.3989422804014327 * exp(-0.5 * abs({z}) * abs({z})))"
    return f"(2.0 * {pdf} * {poly})"


@register(
    "events_ab_fdr_bh",
    f"""
    WITH cell AS (
      SELECT event_type,
             CAST(extract(hour FROM ts) AS BIGINT) AS hr,
             user_id % 2 AS arm,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(value AS DECIMAL(18,2))) AS s,
             SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
               AS ss
      FROM events GROUP BY 1, 2, 3),
    wide AS (
      SELECT a.event_type, a.hr,
             a.n AS na, CAST(a.s AS DOUBLE) AS sa, CAST(a.ss AS DOUBLE) AS ssa,
             b.n AS nb, CAST(b.s AS DOUBLE) AS sb, CAST(b.ss AS DOUBLE) AS ssb
      FROM cell a JOIN cell b
        ON a.event_type = b.event_type AND a.hr = b.hr
       AND a.arm = 0 AND b.arm = 1
      WHERE a.n >= 2 AND b.n >= 2),
    zt AS (
      SELECT event_type, hr,
             (sa / na - sb / nb)
             / sqrt((ssa / na - (sa / na) * (sa / na)) / na
                    + (ssb / nb - (sb / nb) * (sb / nb)) / nb) AS z
      FROM wide),
    pt AS (
      SELECT event_type, hr, ROUND(z, 4) AS z,
             ROUND({_norm_sf2('z')}, 6) AS p
      FROM zt),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY p, event_type, hr) AS rk,
             COUNT(*) OVER () AS m
      FROM pt),
    thr AS (
      SELECT COALESCE(MAX(p), -1.0) AS pstar
      FROM ranked WHERE p <= rk * {_FDR_Q} / m)
    SELECT event_type, hr, z, p,
           p <= (SELECT pstar FROM thr) AS rejected_bh,
           p <= {_FDR_Q} AS rejected_naive
    FROM ranked
    """,
)
def events_ab_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENJAMINI-HOCHBERG FDR control over a FAMILY of A/B tests — one
    Welch z-test per (event_type, hour) cell (arm = user_id parity, a
    deterministic randomization), then the BH step-up rule: reject all
    tests with p <= p_(k*) where k* is the largest rank with
    p_(k) <= k*q/m. Running many dashboard tests daily without FDR
    control manufactures false discoveries; emitting rejected_bh next
    to rejected_naive shows exactly which naive 'wins' the correction
    revokes. Scale shape: per-cell moments are ONE decimal-exact
    grouped aggregate over the event log (map-side combined); tests,
    ranks, and the threshold live on the (types x hours) relation —
    domain-bounded (~120 rows), so the rank window never sees data
    scale. The p-value is a shared expression string (normal-CDF
    polynomial, A&S 26.2.17) evaluated verbatim on both engines."""
    from ug_dwh_etl_spark.queries.registry import read_events

    ev = read_events(spark, sf_dir)
    dec = F.col("value").cast("decimal(18,2)")
    cell = ev.groupBy(
        "event_type",
        F.hour("ts").cast("long").alias("hr"),
        (F.col("user_id") % 2).alias("arm"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).alias("s"),
        F.sum(dec * dec).alias("ss"),
    )
    a = cell.filter("arm = 0 AND n >= 2").select(
        "event_type", "hr",
        F.col("n").alias("na"),
        F.col("s").cast("double").alias("sa"),
        F.col("ss").cast("double").alias("ssa"),
    )
    b = cell.filter("arm = 1 AND n >= 2").select(
        F.col("event_type").alias("et2"), F.col("hr").alias("hr2"),
        F.col("n").alias("nb"),
        F.col("s").cast("double").alias("sb"),
        F.col("ss").cast("double").alias("ssb"),
    )
    wide = a.join(
        b, (a["event_type"] == b["et2"]) & (a["hr"] == b["hr2"])
    )
    zc = (
        (F.col("sa") / F.col("na") - F.col("sb") / F.col("nb"))
        / F.sqrt(
            (F.col("ssa") / F.col("na")
             - (F.col("sa") / F.col("na")) * (F.col("sa") / F.col("na")))
            / F.col("na")
            + (F.col("ssb") / F.col("nb")
               - (F.col("sb") / F.col("nb")) * (F.col("sb") / F.col("nb")))
            / F.col("nb")
        )
    )
    pt = wide.select(
        "event_type", "hr", zc.alias("z0")
    ).select(
        "event_type",
        "hr",
        F.round("z0", 4).alias("z"),
        F.round(F.expr(_norm_sf2("z0")), 6).alias("p"),
    )
    w = Window.orderBy("p", "event_type", "hr")
    ranked = pt.select(
        "*",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
    )
    thr = ranked.filter(
        F.col("p") <= F.col("rk") * _FDR_Q / F.col("m")
    ).agg(F.coalesce(F.max("p"), F.lit(-1.0)).alias("pstar"))
    return ranked.crossJoin(F.broadcast(thr)).select(
        "event_type",
        "hr",
        "z",
        "p",
        (F.col("p") <= F.col("pstar")).alias("rejected_bh"),
        (F.col("p") <= _FDR_Q).alias("rejected_naive"),
    )


def doubled_rank_sums(
    pv: DataFrame, part_cols: list[str], order_col: str
) -> DataFrame:
    """EXACT-INTEGER tie-average rank arithmetic shared by the
    Mann-Whitney test and the ROC-AUC readout (fit_auc_roc): from a
    per-distinct-value relation with arm counts ``ca``/``cb``, compute
    per-partition ``na``/``nb``, the DOUBLED rank-sum of arm a
    ``r2a = SUM(ca * (2*preceding + c + 1))`` (doubling keeps .5
    tie-average fractions integral), and the tie correction
    ``ties = SUM(c^3 - c)``. The cumulative window runs over DISTINCT
    VALUES only — callers guarantee that relation is domain-bounded."""
    wless = (
        Window.partitionBy(*part_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w = pv.select(
        *part_cols,
        "ca",
        "cb",
        (F.col("ca") + F.col("cb")).alias("c"),
        F.coalesce(
            F.sum(F.col("ca") + F.col("cb")).over(wless), F.lit(0)
        ).alias("less"),
    )
    return w.groupBy(*part_cols).agg(
        F.sum("ca").alias("na"),
        F.sum("cb").alias("nb"),
        F.sum(F.col("ca") * (2 * F.col("less") + F.col("c") + 1)).alias("r2a"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c")).alias("ties"),
    )


@register(
    "events_ab_mannwhitney",
    f"""
    WITH pv AS (
      SELECT event_type, value AS v,
             CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS ca,
             CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS cb
      FROM events GROUP BY 1, 2),
    w AS (
      SELECT event_type, ca, cb, ca + cb AS c,
             COALESCE(SUM(ca + cb) OVER (PARTITION BY event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS less
      FROM pv),
    agg AS (
      SELECT event_type,
             CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
             CAST(SUM(ca * (2 * less + c + 1)) AS BIGINT) AS r2a,
             CAST(SUM(c * c * c - c) AS BIGINT) AS ties
      FROM w GROUP BY 1),
    zt AS (
      SELECT event_type, na, nb,
             (r2a - na * (na + 1) - na * nb)
             / (2.0 * sqrt((CAST(na AS DOUBLE) * nb / 12.0)
                * ((na + nb + 1) - CAST(ties AS DOUBLE)
                   / ((na + nb) * (na + nb - 1.0))))) AS z
      FROM agg)
    SELECT event_type, na, nb, ROUND(z, 4) AS z,
           ROUND({_norm_sf2('z')}, 6) AS p,
           ABS(z) > 1.96 AS significant
    FROM zt
    """,
)
def events_ab_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-WHITNEY U — the nonparametric A/B test (arm = user_id
    parity) for metrics where the z-test's normality assumption fails
    (heavy-tailed spend, bounded scores). Rank arithmetic stays EXACT
    INTEGER to the last step: per (type, value) arm counts, tie-average
    ranks via 2*rank = 2*preceding + c + 1 (so no .5 fractions), the
    rank-sum doubled (r2a), and the tie-corrected normal approximation
    z = (2U - n_a*n_b) / (2*sigma) — both engines divide the SAME
    integers, so only the final z/p are floats. Scale shape: one
    grouped count per (type, value) — the cumulative window runs over
    DISTINCT VALUES (2dp-quantized, domain-bounded: 18k distinct at
    100k rows and saturating), never over events; BIGINT rank sums are
    exact to ~3e9 rows per type (switch the sums to DECIMAL(38,0)
    beyond). p-values share the A&S normal-CDF expression with
    events_ab_fdr_bh."""
    from ug_dwh_etl_spark.queries.registry import read_events

    ev = read_events(spark, sf_dir)
    pv = ev.groupBy("event_type", F.col("value").alias("v")).agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("cb"),
    )
    agg = doubled_rank_sums(pv, ["event_type"], "v")
    zc = (
        F.col("r2a") - F.col("na") * (F.col("na") + 1) - F.col("na") * F.col("nb")
    ) / (
        2.0
        * F.sqrt(
            (F.col("na").cast("double") * F.col("nb") / 12.0)
            * (
                (F.col("na") + F.col("nb") + 1)
                - F.col("ties").cast("double")
                / ((F.col("na") + F.col("nb"))
                   * (F.col("na") + F.col("nb") - 1.0))
            )
        )
    )
    return agg.select("event_type", "na", "nb", zc.alias("z0")).select(
        "event_type",
        "na",
        "nb",
        F.round("z0", 4).alias("z"),
        F.round(F.expr(_norm_sf2("z0")), 6).alias("p"),
        (F.abs(F.col("z0")) > 1.96).alias("significant"),
    )


@register(
    "events_session_opening_paths",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR date_diff('second', LAG(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS ns
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
      FROM flagged),
    paths AS (
      SELECT user_id, sid,
             array_to_string(list(event_type ORDER BY ts, event_id)[1:4], '>')
               AS path
      FROM sess GROUP BY 1, 2),
    pc AS (SELECT path, CAST(COUNT(*) AS BIGINT) AS n FROM paths GROUP BY 1),
    r AS (SELECT path, n,
                 ROW_NUMBER() OVER (ORDER BY n DESC, path) AS rk
          FROM pc)
    SELECT path, n, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 20
    """,
)
def events_session_opening_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP USER PATHS: the 20 most common session-opening event-type
    sequences (first 4 events per 30-min-gap session) — the path-mining
    readout behind every 'how do users actually move' product question,
    and the Markov/transition family's raw-sequence complement (the
    transition matrix marginalizes order beyond one hop; paths keep
    it). Scale shape: sessionization is the one per-user window over
    the log; paths collapse to a path-string relation bounded by
    |types|^4 (625 here), where the top-k rank window runs — never over
    events. Path assembly sorts each session's collected (ts, id, type)
    structs, so ties break identically on both engines."""
    from ug_dwh_etl_spark.queries.registry import read_events

    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    ns = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = ev.select(
        "user_id", "ts", "event_id", "event_type", ns.alias("ns")
    ).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum("ns").over(w).alias("sid"),
    )
    paths = sess.groupBy("user_id", "sid").agg(
        F.array_join(
            F.slice(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s.event_type,
                ),
                1,
                4,
            ),
            ">",
        ).alias("path")
    )
    pc = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n"))
    rk = F.row_number().over(Window.orderBy(F.col("n").desc(), "path"))
    return (
        pc.select("path", "n", rk.cast("long").alias("rk"))
        .filter(F.col("rk") <= 20)
    )


_JK_BUCKETS = 20


@register(
    "events_ratio_jackknife",
    f"""
    WITH b AS (
      SELECT user_id % {_JK_BUCKETS} AS bucket,
             SUM(CAST(value AS DECIMAL(18,2))) AS s,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS u
      FROM events GROUP BY 1),
    tot AS (SELECT SUM(s) AS st, SUM(u) AS ut,
                   CAST(COUNT(*) AS BIGINT) AS nb FROM b),
    loo AS (
      SELECT CAST(tot.st - b.s AS DOUBLE) / (tot.ut - b.u) AS r
      FROM b CROSS JOIN tot),
    jk AS (
      SELECT (SELECT CAST(st AS DOUBLE) / ut FROM tot) AS ratio,
             AVG(r) AS rbar,
             (SELECT nb FROM tot) AS nb,
             SUM(r * r) AS srr, SUM(r) AS sr
      FROM loo)
    SELECT CAST((SELECT ut FROM tot) AS BIGINT) AS n_users,
           ROUND(ratio, 6) AS ratio,
           ROUND(sqrt((nb - 1.0) / nb * (srr - sr * sr / nb)), 6) AS jk_se,
           ROUND(ratio - 1.96 * sqrt((nb - 1.0) / nb * (srr - sr * sr / nb)), 6)
             AS ci_lo,
           ROUND(ratio + 1.96 * sqrt((nb - 1.0) / nb * (srr - sr * sr / nb)), 6)
             AS ci_hi
    FROM jk
    """,
)
def events_ratio_jackknife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE-ONE-BUCKET JACKKNIFE for a RATIO metric (total value per
    distinct user): the standard error engine behind big-tech A/B
    readouts — per-user buckets (user_id % 20, so bucket distinct-user
    counts ADD exactly), leave-one-bucket-out ratio replicates from the
    bucket totals, and Var_jk = (B-1)/B * sum (r_b - rbar)^2. A plain
    variance formula is WRONG for ratios (numerator and denominator
    co-vary); the jackknife handles it with one grouped pass + 20-row
    arithmetic. Bucket sums are decimal-exact; the replicates are the
    only doubles and fold within the 6dp grid."""
    from ug_dwh_etl_spark.queries.registry import read_events

    ev = read_events(spark, sf_dir)
    b = ev.groupBy((F.col("user_id") % _JK_BUCKETS).alias("bucket")).agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
        F.count_distinct("user_id").alias("u"),
    )
    tot = b.agg(
        F.sum("s").alias("st"),
        F.sum("u").alias("ut"),
        F.count(F.lit(1)).alias("nb"),
    )
    loo = b.crossJoin(F.broadcast(tot)).select(
        (
            (F.col("st") - F.col("s")).cast("double")
            / (F.col("ut") - F.col("u"))
        ).alias("r"),
        F.col("st"),
        F.col("ut"),
        F.col("nb"),
    )
    jk = loo.groupBy("st", "ut", "nb").agg(
        F.sum(F.col("r") * F.col("r")).alias("srr"),
        F.sum("r").alias("sr"),
    )
    ratio = F.col("st").cast("double") / F.col("ut")
    se = F.sqrt(
        (F.col("nb") - 1.0)
        / F.col("nb")
        * (F.col("srr") - F.col("sr") * F.col("sr") / F.col("nb"))
    )
    return jk.select(
        F.col("ut").cast("long").alias("n_users"),
        F.round(ratio, 6).alias("ratio"),
        F.round(se, 6).alias("jk_se"),
        F.round(ratio - 1.96 * se, 6).alias("ci_lo"),
        F.round(ratio + 1.96 * se, 6).alias("ci_hi"),
    )


@register(
    "events_cuped_adjustment",
    """
    WITH bounds AS (
      -- midpoint on the EPOCH-SECONDS double scale: interval halving
      -- is engine-specific, (mn + mx) / 2.0 on identical doubles is not
      SELECT (MIN(epoch(ts)) + MAX(epoch(ts))) / 2.0 AS mid FROM events),
    per_user AS (
      SELECT user_id, user_id % 2 AS arm,
             SUM(CASE WHEN epoch(ts) < mid
                      THEN CAST(value AS DECIMAL(18,2))
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS x,
             SUM(CASE WHEN epoch(ts) >= mid
                      THEN CAST(value AS DECIMAL(18,2))
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS y
      FROM events CROSS JOIN bounds GROUP BY 1, 2),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(CAST(x * x AS DECIMAL(30,4))) AS sxx,
             SUM(CAST(x * y AS DECIMAL(30,4))) AS sxy,
             SUM(CAST(y * y AS DECIMAL(30,4))) AS syy
      FROM per_user),
    th AS (
      SELECT n,
             (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
             / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
               AS theta,
             (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n) / n
               AS var_y,
             (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / n
               AS var_x,
             (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n) / n
               AS cov_xy,
             CAST(sx AS DOUBLE) / n AS mx
      FROM mom),
    arms AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS na,
             SUM(x) AS sxa, SUM(y) AS sya
      FROM per_user GROUP BY 1)
    SELECT th.n AS n_users,
           ROUND(th.theta, 6) AS theta,
           ROUND(100.0 * (th.cov_xy * th.cov_xy / th.var_x) / th.var_y, 4)
             AS var_reduction_pct,
           ROUND((SELECT CAST(sya AS DOUBLE) / na FROM arms WHERE arm = 0)
                 - (SELECT CAST(sya AS DOUBLE) / na FROM arms WHERE arm = 1), 6)
             AS diff_raw,
           ROUND(((SELECT CAST(sya AS DOUBLE) / na FROM arms WHERE arm = 0)
                  - th.theta * ((SELECT CAST(sxa AS DOUBLE) / na
                                 FROM arms WHERE arm = 0) - th.mx))
                 - ((SELECT CAST(sya AS DOUBLE) / na FROM arms WHERE arm = 1)
                    - th.theta * ((SELECT CAST(sxa AS DOUBLE) / na
                                   FROM arms WHERE arm = 1) - th.mx)), 6)
             AS diff_cuped
    FROM th
    """,
)
def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013) — the industry-
    standard A/B sensitivity boost: adjust each user's experiment-period
    metric Y by their PRE-period metric X, Y' = Y - theta*(X - mean X)
    with theta = cov(X,Y)/var(X), which strips the variance X explains
    (var_reduction_pct = rho^2) without biasing the treatment diff.
    Period split at the fixture's time midpoint; arm = user parity.
    Scale shape: ONE grouped pass builds per-user (x, y) decimal-exact
    sums; the second moments stay decimal (products bounded to
    DECIMAL(30,4) — unbounded chains overflow DuckDB's width) so every
    engine divides the SAME exact sums, and only theta / variances /
    the final adjusted difference are doubles. The adjusted diff next
    to the raw diff shows CUPED moving the point estimate only via the
    arms' pre-period imbalance — the debiasing contract."""
    from ug_dwh_etl_spark.queries.registry import read_events

    ev = read_events(spark, sf_dir)
    sec = F.col("ts").cast("double")
    bounds = ev.agg(((F.min(sec) + F.max(sec)) / 2.0).alias("mid"))
    dec = F.col("value").cast("decimal(18,2)")
    zero = F.lit(0).cast("decimal(18,2)")
    pu = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id", (F.col("user_id") % 2).alias("arm"))
        .agg(
            F.sum(F.when(sec < F.col("mid"), dec).otherwise(zero)).alias("x"),
            F.sum(F.when(sec >= F.col("mid"), dec).otherwise(zero)).alias("y"),
        )
    )
    mom = pu.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(30,4)")).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(30,4)")).alias("sxy"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(30,4)")).alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    th = mom.select(
        "n",
        (
            (d("sxy") - d("sx") * d("sy") / F.col("n"))
            / (d("sxx") - d("sx") * d("sx") / F.col("n"))
        ).alias("theta"),
        ((d("syy") - d("sy") * d("sy") / F.col("n")) / F.col("n")).alias("var_y"),
        ((d("sxx") - d("sx") * d("sx") / F.col("n")) / F.col("n")).alias("var_x"),
        ((d("sxy") - d("sx") * d("sy") / F.col("n")) / F.col("n")).alias("cov_xy"),
        (d("sx") / F.col("n")).alias("mx"),
    )
    arms = pu.groupBy("arm").agg(
        F.count(F.lit(1)).alias("na"),
        F.sum("x").alias("sxa"),
        F.sum("y").alias("sya"),
    )
    a0 = arms.filter("arm = 0").select(
        (d("sya") / F.col("na")).alias("my0"), (d("sxa") / F.col("na")).alias("mx0")
    )
    a1 = arms.filter("arm = 1").select(
        (d("sya") / F.col("na")).alias("my1"), (d("sxa") / F.col("na")).alias("mx1")
    )
    j = th.crossJoin(F.broadcast(a0)).crossJoin(F.broadcast(a1))
    return j.select(
        F.col("n").alias("n_users"),
        F.round("theta", 6).alias("theta"),
        F.round(
            100.0 * (F.col("cov_xy") * F.col("cov_xy") / F.col("var_x"))
            / F.col("var_y"),
            4,
        ).alias("var_reduction_pct"),
        F.round(F.col("my0") - F.col("my1"), 6).alias("diff_raw"),
        F.round(
            (F.col("my0") - F.col("theta") * (F.col("mx0") - F.col("mx")))
            - (F.col("my1") - F.col("theta") * (F.col("mx1") - F.col("mx"))),
            6,
        ).alias("diff_cuped"),
    )


_SLO_ERR_BUDGET = 0.25  # tolerated error share; fixture error share ~1/5


@register(
    "events_slo_burn_rate",
    f"""
    WITH b AS (
      SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS errs
      FROM events GROUP BY 1),
    w AS (
      SELECT bucket, n,
             SUM(errs) OVER s AS e_short, SUM(n) OVER s AS n_short,
             SUM(errs) OVER l AS e_long,  SUM(n) OVER l AS n_long
      FROM b
      WINDOW s AS (ORDER BY bucket RANGE BETWEEN 5 PRECEDING AND CURRENT ROW),
             l AS (ORDER BY bucket RANGE BETWEEN 71 PRECEDING AND CURRENT ROW))
    SELECT bucket, n,
           ROUND(e_short * 1.0 / n_short, 6) AS err_rate_short,
           ROUND(e_long * 1.0 / n_long, 6) AS err_rate_long,
           (e_short * 1.0 / n_short) >= 1.1 * {_SLO_ERR_BUDGET}
             AND (e_long * 1.0 / n_long) >= 1.0 * {_SLO_ERR_BUDGET} AS alert
    FROM w
    """,
)
def events_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-WINDOW SLO BURN-RATE alerting (the SRE-workbook rule): per
    5-minute bucket, the error share over a SHORT trailing window
    (30 min — catches fast burns) and a LONG one (6 h — suppresses
    blips), alerting only when BOTH exceed their budget multiples —
    the standard way to page on error budgets without flapping, here
    over the event log's 'error' type. Scale shape: one grouped count
    per bucket (map-side combined over the raw log); the trailing
    RANGE windows run on the BUCKET relation — calendar-bounded
    (288 buckets/day), never data-bounded — and integer-index RANGE
    frames handle empty buckets correctly (they're absent, not zero,
    exactly like the trailing-revenue navigator)."""
    from ug_dwh_etl_spark.queries.registry import read_events

    ev = read_events(spark, sf_dir)
    b = ev.groupBy(
        F.floor(F.col("ts").cast("double") / 300).cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("errs"),
    )
    s = Window.orderBy("bucket").rangeBetween(-5, 0)
    l = Window.orderBy("bucket").rangeBetween(-71, 0)
    w = b.select(
        "bucket",
        "n",
        F.sum("errs").over(s).alias("e_short"),
        F.sum("n").over(s).alias("n_short"),
        F.sum("errs").over(l).alias("e_long"),
        F.sum("n").over(l).alias("n_long"),
    )
    rs = F.col("e_short") * 1.0 / F.col("n_short")
    rl = F.col("e_long") * 1.0 / F.col("n_long")
    return w.select(
        "bucket",
        "n",
        F.round(rs, 6).alias("err_rate_short"),
        F.round(rl, 6).alias("err_rate_long"),
        (
            (rs >= 1.1 * _SLO_ERR_BUDGET) & (rl >= 1.0 * _SLO_ERR_BUDGET)
        ).alias("alert"),
    )


# --- trailing-7d distinct users from daily KMV sketch tiles ----------------------
@register(
    "sketch_kmv_trailing_window",
    f"""
    WITH pairs AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day,
             ('0x' || substr(md5(user_id::VARCHAR || '|kmv'), 1, 15))::BIGINT
               AS h
      FROM events),
    tiles AS (
      SELECT day, h FROM (
        SELECT day, h,
               ROW_NUMBER() OVER (PARTITION BY day ORDER BY h) AS rk
        FROM pairs)
      WHERE rk <= {_KMV_K}),
    days AS (SELECT DISTINCT day FROM pairs),
    win AS (
      SELECT DISTINCT d.day, t.h
      FROM days d
        JOIN tiles t ON t.day BETWEEN d.day - INTERVAL 6 DAY AND d.day),
    sk AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS c, MAX(h) AS kth
      FROM (SELECT day, h,
                   ROW_NUMBER() OVER (PARTITION BY day ORDER BY h) AS rk
            FROM win)
      WHERE rk <= {_KMV_K} GROUP BY day),
    ex AS (
      SELECT d.day, CAST(COUNT(DISTINCT p.h) AS BIGINT) AS exact_users
      FROM days d
        JOIN pairs p ON p.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
      GROUP BY d.day),
    est AS (
      SELECT sk.day,
             CASE WHEN sk.c < {_KMV_K} THEN sk.c
                  ELSE CAST(ROUND(({_KMV_K} - 1) * {_KMV_DOM} / sk.kth)
                            AS BIGINT) END AS est_users,
             ex.exact_users
      FROM sk JOIN ex ON ex.day = sk.day)
    SELECT strftime(day, '%Y-%m-%d') AS day, est_users, exact_users,
           ROUND(ABS(est_users - exact_users) * 1.0 / exact_users, 4)
             AS rel_err
    FROM est
    """,
)
def sketch_kmv_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAILING-7-DAY distinct users from DAILY KMV SKETCH TILES — the
    sketch twin of events_dau_wau's exact rewrite, and the shape that
    survives 100 TB: the log is scanned ONCE to build one k-row tile
    per day (a per-partition top-k, k·8 bytes), and every trailing
    window then MERGES 7 tiles (k smallest of their union IS the union's
    KMV — the tile property that makes sketches additive across
    calendar cells, same reason the semantic rollup router works).
    Window cost is |days|·7k rows regardless of log size; the exact
    recount rides along as the accuracy audit (rel_err ~1/sqrt(k)).
    Estimator, k, hash, and the under-k exact-fallback follow
    sketch_kmv_overlap; everything is deterministic integer hashing, so
    estimates match the oracle bit-for-bit."""
    from ug_dwh_etl_spark.operators.hashing import md5_long

    ev = table(spark, sf_dir, "events")
    pairs = ev.select(
        F.to_date("ts").alias("day"),
        md5_long(
            F.concat(F.col("user_id").cast("string"), F.lit("|kmv"))
        ).alias("h"),
    ).distinct()
    wday = Window.partitionBy("day").orderBy("h")
    tiles = (
        pairs.withColumn("rk", F.row_number().over(wday))
        .filter(F.col("rk") <= _KMV_K)
        .select("day", "h")
    )
    days = pairs.select("day").distinct()
    win = (
        tiles.alias("t")
        .join(
            F.broadcast(days.alias("d")),
            (F.col("t.day") >= F.date_sub(F.col("d.day"), 6))
            & (F.col("t.day") <= F.col("d.day")),
        )
        .select(F.col("d.day").alias("day"), "h")
        .distinct()
    )
    sk = (
        win.withColumn("rk", F.row_number().over(wday))
        .filter(F.col("rk") <= _KMV_K)
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("c"),
            F.max("h").alias("kth"),
        )
    )
    ex = (
        pairs.alias("p")
        .join(
            F.broadcast(days.alias("d")),
            (F.col("p.day") >= F.date_sub(F.col("d.day"), 6))
            & (F.col("p.day") <= F.col("d.day")),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.count_distinct("p.h").alias("exact_users"))
    )
    est_users = F.when(F.col("c") < _KMV_K, F.col("c")).otherwise(
        F.round(F.lit((_KMV_K - 1) * _KMV_DOM) / F.col("kth")).cast("long")
    )
    return (
        sk.join(ex, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            est_users.alias("est_users"),
            "exact_users",
        )
        .select(
            "day",
            "est_users",
            "exact_users",
            F.round(
                F.abs(F.col("est_users") - F.col("exact_users"))
                * 1.0
                / F.col("exact_users"),
                4,
            ).alias("rel_err"),
        )
    )
