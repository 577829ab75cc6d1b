"""Structured Streaming surface (SURVEY.md §2.11, §7 step 5).

The reference's incremental model is cron + daily append
(`/root/reference/README.md:12`, `sf_html_data.py:178`): every run picks
up whatever arrived since the last one. ``Trigger.AvailableNow`` is that
model exactly — process all available input, then stop — so each job
here is the streaming twin of a batch query in ``queries/events.py``
and must produce identical results (the test suite and the driver's
oracle check both assert it).

Scale notes:
- Streaming aggregation state lives in the state store keyed by
  (window, group) — at 100 TB/day the watermark bounds it; the memory
  sink + complete mode used for the local oracle runs is test plumbing
  only, the production path is append mode + parquet/Kafka sink
  (``available_now_pipeline``).
- ``dropDuplicatesWithinWatermark`` keeps only in-horizon event ids in
  state, the unbounded-history dedup the reference can't do at all.
"""

from __future__ import annotations

import contextlib
import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterator, Sequence
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from ug_dwh_etl_spark.plans.pipeline import Gate

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F
from pyspark.sql.types import LongType, StructType

from ug_dwh_etl_spark.session import conf_scope

# Final StreamingQueryProgress of the most recent run_stream_to_memory
# run (dict, or None before any run) — state-store row counts for
# observability and the scale probe.
LAST_PROGRESS: dict | None = None
LAST_BATCH_PLAN: str | None = None


def events_raw_schema(spark: SparkSession, sf_dir: str) -> StructType:
    """Schema for the streaming events source, probed from the parquet
    footer (metadata-only read — no data scan).

    The fixture generator has shipped events.ts as both TIMESTAMP(NANOS)
    (which Spark reads only as long via the nanosAsLong escape hatch)
    and TIMESTAMP(MICROS) (native timestamp); the streaming reader needs
    an explicit schema, so take whatever the batch footer conversion
    yields rather than hardcoding one — same convention as
    queries.registry.read_events."""
    path = f"{sf_dir}/events.parquet"
    try:
        schema = spark.read.parquet(path).schema
        schema["ts"]  # force resolution
        return schema
    except Exception:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return spark.read.parquet(path).schema


@contextlib.contextmanager
def _checkpoint_dir(explicit: str | None, prefix: str) -> Iterator[str]:
    """Yield a checkpoint location; remove it afterwards ONLY when we
    created it ourselves (an explicit checkpoint is the caller's durable
    incremental state — a temp one is single-run by construction, and
    leaving it would accrete /tmp garbage across test and bench runs)."""
    if explicit is not None:
        yield explicit
        return
    tmp = tempfile.mkdtemp(prefix=prefix)
    try:
        yield tmp
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def stream_table_source(
    spark: SparkSession, sf_dir: str, name: str, schema: StructType
) -> DataFrame:
    """File-source stream over one fixture table, tolerant of BOTH
    parquet layouts: a single file ``{name}.parquet`` (glob-filter it out
    of the shared directory — streaming sources require a directory, so
    the file path itself can't be the source) and a Spark-written
    DIRECTORY ``{name}.parquet/part-*.parquet`` (stream the directory;
    a leaf-name glob would silently match nothing and read 0 rows)."""
    import os

    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    if os.path.isdir(path):
        return spark.readStream.schema(schema).parquet(path)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture (S1 streaming twin)."""
    raw = stream_table_source(spark, sf_dir, "events", events_raw_schema(spark, sf_dir))
    if isinstance(raw.schema["ts"].dataType, LongType):
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    else:
        # micros files arrive as TIMESTAMP_NTZ; watermarks require
        # TIMESTAMP (LTZ) — identical wall-clock under the UTC session
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def run_stream_to_memory(
    stream_df: DataFrame,
    output_mode: str = "complete",
    state_partitions: int = 8,
) -> DataFrame:
    """Run a streaming frame to completion (AvailableNow) into a memory
    sink and return the materialized result. Test/oracle plumbing — the
    production sink path is ``available_now_pipeline``.

    ``state_partitions`` becomes the state-store partition count (fixed
    for the checkpoint's lifetime at first start): size it to expected
    state volume — 8 covers the local fixtures where the session default
    (2x cores) would pay 64 state-store inits per micro-batch for a few
    thousand keys; a cluster deployment passes ~2-3x total cores."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    spark = stream_df.sparkSession
    state = {"spark.sql.shuffle.partitions": str(state_partitions)}
    with conf_scope(spark, state), _checkpoint_dir(None, f"ckpt_{name}_") as ckpt:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # expose the final progress for observability/scale probes
        # (state-store row counts per stateful operator); module-level
        # because callers only see the returned batch DataFrame
        global LAST_PROGRESS, LAST_BATCH_PLAN
        LAST_PROGRESS = q.lastProgress
        # last micro-batch's EXECUTED physical plan, for the same
        # anti-pattern audit the batch queries get (tools/
        # audit_plans.py) — must be read before stop() drops the
        # execution; explainInternal(True) is the py4j spelling of
        # StreamingQuery.explain(extended=True)
        try:
            LAST_BATCH_PLAN = q._jsq.explainInternal(True)
        except Exception:
            LAST_BATCH_PLAN = None
    return spark.table(name)


def stream_hourly_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_hourly_tumbling``: tumbling 1h window
    × event_type with a 1h watermark."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    win = F.window("ts", "1 hour")
    agg = (
        ev.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # decimal-sum parity rule: sum as DECIMAL(18,2) (order-
            # independent), round+cast double only at the edge.
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    return run_stream_to_memory(agg, "complete")


def stream_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_ohlc_hourly``: OHLC bars per tumbling
    hour. The batch query picks open/close with row_number windows —
    unavailable under streaming semantics — so here they are the
    ORDER-INSENSITIVE ``min_by``/``max_by`` on the (ts, event_id)
    struct, which the state store can fold incrementally in any arrival
    order (each key holds one (key, value) pair, constant state per
    window). Same deterministic tie-break — event_id makes the struct
    key total — so the result is row-identical to the batch twin's
    oracle."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    key = F.struct(F.col("ts"), F.col("event_id"))
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count(F.lit(1)).alias("volume"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "open",
            "high",
            "low",
            "close",
            "volume",
            "total_value",
        )
    )
    return run_stream_to_memory(agg, "complete")


def stream_aqp_sampled_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``aqp_sampled_revenue``: the deterministic
    md5-Bernoulli sample filter is stateless (each row's coin depends
    only on its key), and the Horvitz-Thompson sums are plain mergeable
    aggregates, so the WHOLE approximate-query estimator runs
    incrementally — the estimate and its error bar stay correct after
    every micro-batch, which is exactly how an AQP dashboard over a
    100 TB/day feed stays interactive. Complete-mode global aggregate
    over ~5 priority keys: state is keys-sized, no watermark needed."""
    from ug_dwh_etl_spark.operators.hashing import md5_long
    from ug_dwh_etl_spark.queries.mlfit import _AQP_DENOM, _AQP_RATE

    f = _AQP_RATE
    schema = spark.read.parquet(f"{sf_dir}/orders.parquet").schema
    orders = stream_table_source(spark, sf_dir, "orders", schema)
    u = md5_long(
        F.concat(F.col("o_orderkey").cast("string"), F.lit("|aqp"))
    ) / F.lit(_AQP_DENOM)
    # decimal-sum parity rule, same as the batch twin: exact DECIMAL
    # sums are arrival-order-independent, which is doubly load-bearing
    # here — micro-batch fold order differs from any batch plan
    x = F.col("o_totalprice").cast("decimal(18,2)")
    s = orders.filter(u < f).select("o_orderpriority", x.alias("x"))
    agg = s.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_sample"),
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    out = run_stream_to_memory(agg, "complete")
    se = F.sqrt((1.0 - f) / (f * f) * F.col("sxx"))
    return out.select(
        "o_orderpriority",
        "n_sample",
        F.round(F.col("n_sample") / f, 2).alias("est_count"),
        F.round(F.col("sx") / f, 2).alias("est_revenue"),
        F.round(se, 2).alias("se_revenue"),
        F.round(F.lit(1.96) * se / (F.col("sx") / f), 6).alias("rel_ci95"),
    )


def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization via ``session_window`` (30 min gap):
    sessions and events per user — same result as the batch lag-based
    ``events_sessionize``."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    sessions = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = run_stream_to_memory(sessions, "complete")
    return out.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n").alias("n_events"),
    )


def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on event_id within the watermark horizon
    (``dropDuplicatesWithinWatermark``), then count — twin of
    ``events_dedup_count``'s n_unique."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    deduped = ev.dropDuplicatesWithinWatermark(["event_id"])
    out = run_stream_to_memory(deduped, "append")
    return out.agg(F.count(F.lit(1)).alias("n_unique"))


def available_now_pipeline(
    spark: SparkSession,
    sf_dir: str,
    transform: Callable[[DataFrame], DataFrame],
    out_path: str,
    checkpoint: str | None = None,
    gates: Sequence["Gate"] = (),
    alert=None,
    quarantine_path: str | None = None,
) -> None:
    """The cron-replacement shape (§2.11): AvailableNow stream →
    ``foreachBatch`` running a BATCH transform → date-partitioned append.
    Re-running after new files arrive processes only the delta — exactly
    the reference's daily incremental append (K1), minus the cron.

    ``gates`` run the batch DQ checks (§2.13 Q1: the reference alerts
    per cron run, `sf_html_data.py:95-105`) against EVERY micro-batch:
    a non-blocking violation alerts and still lands; a blocking one
    diverts the whole batch to ``quarantine_path`` so bad data never
    reaches the serving table while the stream keeps running. Blocking
    gates REQUIRE a quarantine path: silently dropping a failed batch
    while the checkpoint advances would lose the data permanently."""
    from ug_dwh_etl_spark.operators.quality import expect

    if quarantine_path is None and any(g.blocking for g in gates):
        raise ValueError(
            "available_now_pipeline: blocking gates need quarantine_path — "
            "a dropped micro-batch is unrecoverable once the checkpoint commits"
        )

    src = read_events_stream(spark, sf_dir)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df).withColumn("crawl_date", F.current_date())
        ok = True
        if gates:
            out = out.persist()
            for gate in gates:
                passed = expect(
                    out, gate.violation, gate.title, gate.message, alert=alert
                )
                ok = ok and (passed or not gate.blocking)
        target = out_path if ok else quarantine_path
        if target is not None:
            (
                out.write.mode("append")
                .partitionBy("crawl_date")
                .parquet(target)
            )
        if gates:
            out.unpersist()

    with _checkpoint_dir(checkpoint, "ckpt_pipeline_") as ckpt:
        q = (
            src.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def stream_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming training-corpus ingest: documents arrive as a file
    stream, each micro-batch passes the C4/Gopher quality gate
    (stateless Column expressions), survivors carry their normalized
    content fingerprint into the sink; the batch-side reduction keeps
    the min doc id per fingerprint (exact dedup) — split-invariant, so
    the AvailableNow run equals the batch gate + dedup no matter how the
    source chops micro-batches. At scale the per-batch appends land
    partitioned and the dedup reduction is the stored fingerprint index
    (see operators.dedup.dedup_incremental); dropDuplicatesWithin-
    Watermark replaces the exact reduction when arrival-order survivor
    choice is acceptable."""
    from ug_dwh_etl_spark.operators import hashing as H
    from ug_dwh_etl_spark.operators.textstats import quality_rule_columns

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    raw = stream_table_source(spark, sf_dir, "documents", schema)
    # one stateless projection per batch: tokenize once, gate + fingerprint
    toks = raw.select("doc_id", F.col("text"), H.tokens("text").alias("t"))
    keep = quality_rule_columns("t")["keep"]
    survivors = toks.filter(keep).select(
        "doc_id", F.md5(F.concat_ws(" ", F.col("t"))).alias("fingerprint")
    )
    out = run_stream_to_memory(survivors, "append")
    return out.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id")).select(
        "doc_id"
    )


def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_sliding_2h``: sliding window (2h width,
    1h slide) × event_type with a 1h watermark — every event is counted
    into the two hourly-aligned windows covering it."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    win = F.window("ts", "2 hours", "1 hour")
    agg = (
        ev.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    return run_stream_to_memory(agg, "complete")


def stream_stream_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with watermarks on BOTH sides and a
    time-range join condition — the attribution shape (view → purchase
    by the same user within 1 hour).

    State bounds (the whole point at 100 TB/day): the range condition
    plus both watermarks lets Spark evict view-side state older than
    (watermark + 1 hour) and purchase-side state older than the
    watermark, so the join state is a sliding 3-hour slice of each
    stream, not unbounded history. The joined output is appended to the
    sink as matches become final; the per-user rollup happens batch-side
    on the materialized appends."""
    views = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "2 hours")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user_id"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = views.join(
        purchases,
        (views.user_id == purchases.p_user_id)
        & (purchases.purchase_ts >= views.view_ts)
        & (purchases.purchase_ts <= views.view_ts + F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    out = run_stream_to_memory(joined, "append")
    return out.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_attributed"))


def incremental_rollup_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    checkpoint: str | None = None,
) -> None:
    """Incrementally-maintained materialized view — the reference's
    'each data analysis question is separately queried on a daily basis'
    BigQuery tables (`/root/reference/README.md:15`), maintained by
    delta-merge instead of daily full recompute.

    Each micro-batch aggregates ONLY its delta (day x event_type counts
    and value sums), then merges into the rollup table by re-aggregating
    (old ∪ delta) per key — count and sum are decomposable, so the merge
    is exact regardless of how the stream is chopped into batches
    (proven by the batch-equality test). At 100 TB the rollup is
    partitioned by day and the merge rewrites only the days present in
    the delta (same partition-pruned pattern as sinks.merge_upsert)."""
    src = read_events_stream(spark, sf_dir)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        merge_rollup_delta(batch_df, out_path)

    with _checkpoint_dir(checkpoint, "ckpt_rollup_") as ckpt:
        q = (
            src.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def merge_rollup_delta(batch_df: DataFrame, out_path: str) -> None:
    """Merge one delta into the (day, event_type) rollup table:
    re-aggregate (existing ∪ delta-agg) and staging-swap. Separated from
    the streaming wrapper so tests can drive arbitrary batch splits."""
    import os

    from ug_dwh_etl_spark.sinks.writers import swap_dir

    spark = batch_df.sparkSession
    delta = (
        batch_df.groupBy(
            F.to_date("ts").alias("day"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: partial sums are re-merged on EVERY delta, so
            # double accumulation would drift with batch split order;
            # decimal keeps the merge exact. Cast back to (18,2) so the
            # stored table schema stays fixed across merges.
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("total_value"),
        )
    )
    if os.path.exists(out_path):
        existing = spark.read.parquet(out_path)
        merged = (
            existing.unionByName(delta)
            .groupBy("day", "event_type")
            .agg(
                F.sum("n").alias("n"),
                F.sum("total_value").cast("decimal(18,2)").alias("total_value"),
            )
        )
    else:
        merged = delta
    staging = out_path.rstrip("/") + ".staging"
    merged.write.mode("overwrite").parquet(staging)
    swap_dir(staging, out_path)


def stream_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_hourly_anomaly``: the hourly counts
    accumulate incrementally (tumbling window, complete mode); the
    24-row diurnal baseline and z-score flags compute batch-side over
    the materialized counts — at scale the windowed aggregate is the
    continuously-maintained table and the baseline join is a nightly
    (or per-trigger) 24-row broadcast, so anomaly flags lag the stream
    by one trigger, never require reprocessing history."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    win = F.window("ts", "1 hour")
    agg = ev.groupBy(win.alias("w")).agg(F.count(F.lit(1)).alias("n"))
    counts = run_stream_to_memory(agg, "complete").select(
        F.col("w.start").alias("hr"), F.hour("w.start").alias("hod"), "n"
    )
    baseline = counts.groupBy("hod").agg(
        F.avg("n").alias("mu"),
        F.coalesce(F.stddev_samp("n"), F.lit(0.0)).alias("sigma"),
    )
    z = F.when(F.col("sigma") > 0, (F.col("n") - F.col("mu")) / F.col("sigma"))
    return counts.join(F.broadcast(baseline), "hod").select(
        F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        "n",
        F.round("mu", 6).alias("expected"),
        F.round(z, 6).alias("zscore"),
        F.coalesce((F.col("sigma") > 0) & (F.abs(z) > 2.0), F.lit(False)).alias(
            "is_anomaly"
        ),
    )


def stream_language_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the language-mixture monitor: per-language doc
    counts maintained incrementally (complete-mode streaming aggregate —
    5 rows of state, watermark-free by design: the mix is a
    whole-corpus-to-date number), with the temperature weighting applied
    to the final 5-row result batch-side. The dashboard a data-mixing
    team watches during a multi-day ingest."""
    import pyspark.sql.functions as F  # noqa: F811

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    raw = stream_table_source(spark, sf_dir, "documents", schema)
    counts = raw.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    out = run_stream_to_memory(counts, "complete")
    alpha = 0.3
    tot = out.agg(F.sum("n_docs").alias("total"))
    powed = out.crossJoin(F.broadcast(tot)).withColumn(
        "p_alpha", F.pow(F.col("n_docs").cast("double") / F.col("total"), alpha)
    )
    z = powed.agg(F.sum("p_alpha").alias("z"))
    return powed.crossJoin(F.broadcast(z)).select(
        "lang",
        "n_docs",
        F.round(F.col("n_docs").cast("double") / F.col("total"), 6).alias("raw_share"),
        F.round(F.col("p_alpha") / F.col("z"), 6).alias("sample_weight"),
    )


def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_heavy_hitters``: per-user event counts
    maintained incrementally (complete-mode aggregate — state is ONE
    counter per user, bounded by user cardinality, not stream length),
    with the phi-threshold filter applied batch-side to the materialized
    counter table. The streaming analogue of a Misra-Gries monitor with
    exact counters: at 100 TB/day you'd swap the memory sink for a
    foreachBatch upsert and keep the same filter as a view."""
    import pyspark.sql.functions as F  # noqa: F811

    ev = read_events_stream(spark, sf_dir)
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    out = run_stream_to_memory(counts, "complete")
    total = out.agg(F.sum("cnt").alias("total"))
    return (
        out.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * 125 > F.col("total"))
        .select(
            "user_id",
            "cnt",
            F.round(F.col("cnt") / (F.col("total") * 1.0), 6).alias("share"),
        )
    )


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the orders STREAM enriched against the static
    customer dimension (broadcast per micro-batch — the standard
    streaming dimension-lookup pattern; the dim re-resolves every batch,
    so a slowly-changing dim picks up updates without restarts), then an
    incremental per-segment rollup. Stateless except the aggregate:
    state is segment-cardinality, constant in stream length."""
    import pyspark.sql.functions as F  # noqa: F811

    schema = spark.read.parquet(f"{sf_dir}/orders.parquet").schema
    orders = stream_table_source(spark, sf_dir, "orders", schema)
    customer = F.broadcast(
        spark.read.parquet(f"{sf_dir}/customer.parquet").select(
            "c_custkey", "c_mktsegment"
        )
    )
    enriched = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    )
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("total_price"),
    )
    return run_stream_to_memory(agg, "complete")


def stream_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER watermarked stream-stream join: every view emits —
    matched rows as purchases arrive, NULL-padded rows once the
    watermark proves no purchase can still match (state eviction time).
    The semantics inner joins can't give: 'views that converted AND
    views that provably didn't', online.

    Outer results near the stream tail are held back until the
    watermark passes their horizon (the final watermark stops at
    min-side max event - 2h, so views newer than ~max-3h never get
    their NULL verdict within this run). For oracle-exact comparison
    the EMITTED rows are therefore bounded to view_ts <= max(ts) - 4h
    on both sides — a post-materialization filter, NOT a stream-side
    one (filtering the stream would shrink the view-side watermark and
    push the horizon right back). The cutoff is ONE static scalar from
    the batch fixture, computed before the stream starts."""
    import pyspark.sql.functions as F  # noqa: F811

    from ug_dwh_etl_spark.queries.registry import read_events

    # the final global watermark is the MIN across both sides' maxima
    # minus the 2h delay; deriving the cutoff from the global max would
    # silently under-emit NULL verdicts whenever the lagging side trails
    # by more than the slack
    ev = read_events(spark, sf_dir)
    cutoff = (
        ev.agg(
            F.least(
                F.max(F.when(F.col("event_type") == "view", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            ).alias("m")
        )
        .selectExpr("m - INTERVAL 4 HOURS AS c")
        .first()["c"]
    )
    views = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "2 hours")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user_id"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = views.join(
        purchases,
        (views.user_id == purchases.p_user_id)
        & (purchases.purchase_ts >= views.view_ts)
        & (purchases.purchase_ts <= views.view_ts + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    )
    out = run_stream_to_memory(joined, "append")
    return (
        out.filter(F.col("view_ts") <= F.lit(cutoff))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("purchase_ts").alias("n_attributed"),
            F.count(F.when(F.col("purchase_ts").isNull(), F.lit(1))).alias(
                "n_unattributed"
            ),
        )
    )


def stream_benford_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of dq_benford_totalprice: first-digit counts of
    order totals maintained incrementally (complete-mode aggregate —
    state is NINE counters, constant regardless of stream length), the
    Benford shares computed batch-side on the materialized 9-row
    result. The always-on ingest-anomaly monitor: a feed that starts
    duplicating or synthesizing amounts drifts off the Benford curve
    within a few micro-batches, long before downstream aggregates
    look wrong."""
    import pyspark.sql.functions as F  # noqa: F811

    schema = spark.read.parquet(f"{sf_dir}/orders.parquet").schema
    raw = stream_table_source(spark, sf_dir, "orders", schema)
    digits = raw.select(
        F.substring(F.floor("o_totalprice").cast("long").cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    obs = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    out = run_stream_to_memory(obs, "complete")
    tot = out.agg(F.sum("n").alias("t"))
    return out.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        F.round(F.col("n") / F.col("t"), 6).alias("observed_share"),
        F.round(
            F.log(F.lit(1) + F.lit(1.0) / F.col("digit")) / F.log(F.lit(10.0)), 6
        ).alias("benford_share"),
    )


def stream_incremental_neardup(
    spark: SparkSession,
    sf_dir: str,
    index_root: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """STREAMING daily-ingest near-dup: the foreachBatch loop a real
    ingest runs — each micro-batch (1) matches its docs against the
    persisted LSH index by band-key equi-join + candidate-restricted
    Jaccard (``operators.dedup.incremental_neardup``), (2) emits the
    verified pairs, (3) APPENDS its own band keys + shingle hashes to
    the index, so later batches match against everything before them.
    The union of emitted pairs across batches equals exactly what one
    full-corpus re-run restricted to stream-side ids would produce —
    the SAME oracle as the batch twin ``dedup_incremental_neardup``,
    however the stream happens to be micro-batched (proven across a
    two-file split in tests/test_round6_ops.py).

    Per-batch cost is O(batch) signatures + index equi-joins; corpus
    text is never rescanned — and the batch's own band keys + shingle
    hashes are computed ONCE per micro-batch (persisted), feeding both
    the match and the index appends. The emitted-pair collect is
    result-sized (the pairs ARE the query output), not data-sized."""
    import os
    import shutil

    from ug_dwh_etl_spark.operators.dedup import (
        doc_shingle_hashes,
        incremental_neardup,
        lsh_band_keys,
        spread,
    )

    docs_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    seeded = False
    if index_root is None:
        # per-process path — same race rationale as the batch twin: a
        # concurrent process's overwrite must not delete files under
        # this run's scans (and this index also takes APPENDS during
        # the run, so it can never be shared anyway). But the CONTENT
        # seeds from the shared lsh_corpus_index artifacts (the batch
        # twin's standing index) by file copy — recomputing the md5
        # minhash signatures over the whole corpus per process was the
        # #1 wall cost of this query (round-9 verdict ask #4), and in
        # the daily model the index already exists before any ingest.
        from ug_dwh_etl_spark.queries.dedup import lsh_corpus_index
        from ug_dwh_etl_spark.queries.registry import scratch_dir

        index_root = scratch_dir("lsh_stream_idx", sf_dir)

        art_bands, art_sh = lsh_corpus_index(spark, sf_dir)
        bands_path = os.path.join(index_root, "bands")
        sh_path = os.path.join(index_root, "shingles")
        for art, dest in ((art_bands, bands_path), (art_sh, sh_path)):
            shutil.rmtree(dest, ignore_errors=True)
            os.makedirs(dest)
            for i, src in enumerate(art.inputFiles()):
                src_path = src.removeprefix("file:")
                shutil.copy(src_path, os.path.join(dest, f"seed_{i}.parquet"))
        seeded = True
    bands_path = os.path.join(index_root, "bands")
    sh_path = os.path.join(index_root, "shingles")
    if not seeded:
        corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
            F.col("doc_id") % 10 != 0
        )
        lsh_band_keys(corpus, "doc_id", "text").write.mode(
            "overwrite"
        ).parquet(bands_path)
        doc_shingle_hashes(spread(corpus), "doc_id", "text").write.mode(
            "overwrite"
        ).parquet(sh_path)

    collected: list = []
    # guard the result-sized collect: a pathological batch (e.g. a crawl
    # of near-identical boilerplate) could emit O(batch x corpus) pairs;
    # cap what the driver materializes per batch and fail loudly rather
    # than OOM silently — a production sink would spill pairs to a table
    # instead of collecting at all
    max_pairs_per_batch = 1_000_000

    def handle(batch_df: DataFrame, _bid: int) -> None:
        batch = batch_df.filter(F.col("doc_id") % 10 == 0)
        # hash the batch text exactly once: the SAME persisted band-key
        # and shingle relations feed the match below AND the index
        # appends after it (pre-round-10 each was computed twice)
        batch_bands = lsh_band_keys(batch, "doc_id", "text").persist()
        batch_sh = doc_shingle_hashes(spread(batch), "doc_id", "text").persist()
        pairs = incremental_neardup(
            batch,
            spark.read.parquet(bands_path),
            spark.read.parquet(sh_path),
            "doc_id",
            "text",
            0.5,
            batch_bands=batch_bands,
            batch_sh=batch_sh,
        )
        got = pairs.limit(max_pairs_per_batch + 1).collect()
        if len(got) > max_pairs_per_batch:
            raise RuntimeError(
                f"micro-batch emitted >{max_pairs_per_batch} near-dup pairs "
                "— refusing the driver-side materialization; route pairs to "
                "a table sink for batches this degenerate"
            )
        collected.extend(got)
        # expose the real micro-batch work to the plan audit (foreachBatch
        # bypasses run_stream_to_memory's StreamingQuery.explain capture)
        global LAST_BATCH_PLAN
        try:
            LAST_BATCH_PLAN = (
                "== Physical Plan ==\n"
                + pairs._jdf.queryExecution().executedPlan().toString()
            )
        except Exception:
            pass
        batch_bands.write.mode("append").parquet(bands_path)
        batch_sh.write.mode("append").parquet(sh_path)
        batch_bands.unpersist()
        batch_sh.unpersist()

    src = stream_table_source(spark, sf_dir, "documents", docs_schema)
    if max_files_per_trigger is not None:
        # re-derive the source with a bounded files-per-batch so tests can
        # force a genuine multi-micro-batch run over a split directory
        src = (
            spark.readStream.schema(docs_schema)
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(f"{sf_dir.rstrip('/')}/documents.parquet")
        )
    with _checkpoint_dir(None, "ckpt_incdedup_") as ckpt:
        q = (
            src.writeStream.foreachBatch(handle)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        global LAST_PROGRESS
        LAST_PROGRESS = q.lastProgress
    return spark.createDataFrame(
        collected, schema="id_a bigint, id_b bigint, jaccard double"
    )


def stream_semantic_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The semantic layer over a STREAM: the governed revenue /
    n_orders / AOV definitions (plans/semantic.py FACTS) computed over
    a streaming orders source with the dimension chain joined
    stream-static (each dim a broadcast against every micro-batch) —
    same metric definitions, same oracle as the batch
    `semantic_revenue_by_region_segment`, so a dashboard fed by the
    stream agrees with the warehouse's SQL consumers at every tick.
    State is (region x segment)-sized; the decimal sums make the fold
    arrival-order-independent."""
    from ug_dwh_etl_spark.plans.semantic import (
        FACTS,
        _dim_col,
        _tables_needed,
    )
    from ug_dwh_etl_spark.queries.registry import table as _table
    from ug_dwh_etl_spark.queries.semantic import _REV_BY_REGION as spec

    # EVERYTHING below derives from the registered spec — filters, join
    # chain, dimension columns, metric list — so an edit to the spec can
    # never desynchronize this stream from its own batch oracle
    model = FACTS[spec.fact]
    schema = spark.read.parquet(f"{sf_dir}/{spec.fact}.parquet").schema
    df = stream_table_source(spark, sf_dir, spec.fact, schema)
    for flt in spec.filters:
        df = df.filter(F.expr(flt))
    for t in _tables_needed(spec):
        fact_key, dim_key, _via = model["edges"][t]
        df = df.join(
            F.broadcast(_table(spark, sf_dir, t)), F.col(fact_key) == F.col(dim_key)
        )
    agg = df.groupBy(
        *[_dim_col(spec, d).alias(d) for d in spec.dimensions]
    ).agg(*[model["metrics"][m][0]().alias(m) for m in spec.metrics])
    return run_stream_to_memory(agg, "complete")


def stream_semantic_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``semantic_trailing_window_routed``: the orders
    stream MAINTAINS the day-grain rollup incrementally (the governed
    metric folds run as streaming aggregates — state is |days| x
    |statuses| keys, calendar-bounded), and the dashboard's trailing-7d
    fold runs over the maintained rollup after the stream drains —
    exactly what a live 'last 7 days' tile does: the fact stream never
    rescans, the window touches only the tiny maintained table. Same
    oracle as the batch route, so the streaming dashboard and the
    warehouse SQL can never disagree."""
    from ug_dwh_etl_spark.plans.semantic import (
        FACTS,
        _dim_col,
        _trailing_fold,
        _TRAILING_EPOCH,
    )
    from ug_dwh_etl_spark.queries.semantic import _TRAILING_BASE as spec
    from pyspark.sql import Window

    model = FACTS[spec.fact]
    schema = spark.read.parquet(f"{sf_dir}/{spec.fact}.parquet").schema
    df = stream_table_source(spark, sf_dir, spec.fact, schema)
    rollup = run_stream_to_memory(
        df.groupBy(*[_dim_col(spec, d).alias(d) for d in spec.dimensions]).agg(
            *[model["metrics"][m][0]().alias(m) for m in spec.metrics]
        ),
        "complete",
    )
    other = [d for d in spec.dimensions if d != "order_date"]
    w = (
        Window.partitionBy(*other)
        .orderBy(F.datediff(F.to_date("order_date"), F.lit(_TRAILING_EPOCH)))
        .rangeBetween(-6, 0)
    )
    return rollup.select(
        *[F.col(d) for d in spec.dimensions],
        *[
            _trailing_fold(model["metrics"][m][3], m, w).alias(f"{m}_7d")
            for m in spec.metrics
        ],
    )


def stream_cdc_count_distinct(
    spark: SparkSession, sf_dir: str, state_root: str | None = None
) -> DataFrame:
    """Streaming twin of ``ivm_count_distinct_view``: a CDC feed
    maintains the COUNT(DISTINCT) view's multiplicity state as a
    DELTA LOG. Yesterday's state (the base multiset's per-(type, user)
    counts) is materialized once; each micro-batch derives its inserts
    (+1, the day's ingest rows) and deletes (-1, the purge rows) and
    APPENDS its grouped dmult rows to the log — O(batch) per batch, no
    state rewrite (the LSM shape; a real deployment compacts the log
    into the base periodically, exactly like ``compact_history``). The
    view folds base + log at read time: multiplicities are summed, rows
    with mult > 0 counted per group. The fold is commutative, so
    arrival order across micro-batches cannot matter — proven by the
    SAME oracle as the batch twin, however the stream happens to be
    split."""
    import os
    import shutil

    from ug_dwh_etl_spark.queries.registry import read_events, scratch_dir

    if state_root is None:
        # fixed per-process path (the semantic-rollup convention): repeated
        # gate/bench runs reuse one directory instead of leaking a uuid dir
        # per invocation. The delta LOG must start empty each run (it is
        # append-only during the stream), so it is explicitly reset; the
        # base is overwrite-mode already.
        state_root = scratch_dir("cdc_cd")
    base_path = os.path.join(state_root, "base")
    log_path = os.path.join(state_root, "log")
    shutil.rmtree(log_path, ignore_errors=True)

    ev = read_events(spark, sf_dir).select("event_id", "event_type", "user_id")
    base = ev.filter(F.col("event_id") % 10 != 0)
    base.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("mult")
    ).write.mode("overwrite").parquet(base_path)

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    raw = stream_table_source(spark, sf_dir, "events", schema)

    def handle(batch_df: DataFrame, _bid: int) -> None:
        inserts = batch_df.filter(F.col("event_id") % 10 == 0).select(
            "event_type", "user_id", F.lit(1).alias("dmult")
        )
        deletes = batch_df.filter(
            (F.col("event_id") % 10 != 0) & (F.col("event_id") % 7 == 0)
        ).select("event_type", "user_id", F.lit(-1).alias("dmult"))
        delta = (
            inserts.unionByName(deletes)
            .groupBy("event_type", "user_id")
            .agg(F.sum("dmult").cast("long").alias("dmult"))
        )
        # expose the real micro-batch work to the plan audit
        # (foreachBatch bypasses run_stream_to_memory's plan capture)
        global LAST_BATCH_PLAN
        try:
            LAST_BATCH_PLAN = (
                "== Physical Plan ==\n"
                + delta._jdf.queryExecution().executedPlan().toString()
            )
        except Exception:
            pass
        delta.write.mode("append").parquet(log_path)

    with _checkpoint_dir(None, "ckpt_cdc_cd_") as ckpt:
        q = (
            raw.writeStream.foreachBatch(handle)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    m = spark.read.parquet(base_path)
    if os.path.exists(log_path):  # no batch produced delta rows otherwise
        m = m.unionByName(
            spark.read.parquet(log_path).withColumnsRenamed({"dmult": "mult"})
        )
    return (
        m.groupBy("event_type", "user_id")
        .agg(F.sum("mult").alias("mult"))
        .filter(F.col("mult") > 0)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_distinct"))
    )


def stream_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER watermarked stream-stream join — the last member of
    the join family (inner / left / full): views that converted, views
    that provably didn't, AND purchases no view can claim (the orphan
    side a left join silently drops — attribution leakage made
    visible). NULL-padded rows emit at state-eviction time on BOTH
    sides, so the oracle-exact comparison bounds emissions by the same
    static cutoff on whichever timestamp a row carries (matched rows
    with a too-new purchase are excluded on both engines alike); the
    cutoff is ONE scalar computed from the batch fixture before the
    stream starts, same rationale as the left-outer twin."""
    import pyspark.sql.functions as F  # noqa: F811

    from ug_dwh_etl_spark.queries.registry import read_events

    ev = read_events(spark, sf_dir)
    cutoff = (
        ev.agg(
            F.least(
                F.max(F.when(F.col("event_type") == "view", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            ).alias("m")
        )
        .selectExpr("m - INTERVAL 4 HOURS AS c")
        .first()["c"]
    )
    views = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "2 hours")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user_id"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = views.join(
        purchases,
        (views.user_id == purchases.p_user_id)
        & (purchases.purchase_ts >= views.view_ts)
        & (purchases.purchase_ts <= views.view_ts + F.expr("INTERVAL 1 HOUR")),
        "full_outer",
    )
    out = run_stream_to_memory(joined, "append")
    bounded = out.filter(
        (F.col("view_ts").isNull() | (F.col("view_ts") <= F.lit(cutoff)))
        & (F.col("purchase_ts").isNull() | (F.col("purchase_ts") <= F.lit(cutoff)))
    )
    return bounded.groupBy(
        F.coalesce(F.col("user_id"), F.col("p_user_id")).alias("user_id")
    ).agg(
        F.count(
            F.when(
                F.col("view_ts").isNotNull() & F.col("purchase_ts").isNotNull(),
                F.lit(1),
            )
        ).alias("n_matched"),
        F.count(F.when(F.col("purchase_ts").isNull(), F.lit(1))).alias(
            "n_view_only"
        ),
        F.count(F.when(F.col("view_ts").isNull(), F.lit(1))).alias(
            "n_purchase_only"
        ),
    )


def stream_snapshot_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest INTO the Iceberg-lite snapshot table: the orders
    stream lands one ATOMIC append commit per micro-batch (foreachBatch →
    commit_append with the micro-batch id recorded in the manifest, so a
    replayed batch is skipped — the exactly-once recipe), then the final
    table is read back through the manifest layer and aggregated. The
    fixture is staged as an 8-file directory with maxFilesPerTrigger=1,
    so the run genuinely exercises 8 commits; readers concurrent with
    the stream would always see a complete prefix of the commits (the
    torn-read test's guarantee). At 100 TB this is the streaming
    lakehouse landing path: micro-batch appends, snapshot isolation for
    readers, no rewrite of old data."""
    import os

    import pyspark.sql.functions as F  # noqa: F811

    from ug_dwh_etl_spark.operators.snapshot_table import SnapshotTable
    from ug_dwh_etl_spark.queries.registry import scratch_dir

    work = scratch_dir("snap_ingest", sf_dir)
    src = os.path.join(work, "src")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        orders.repartition(8).write.mode("overwrite").parquet(src)
    table_dir = os.path.join(work, "table")
    # completion marker written only AFTER awaitTermination: a run that
    # crashed mid-stream left commits but no marker, and the retry
    # re-runs the whole stream FROM A FRESH CHECKPOINT — so the partial
    # table is WIPED first (the stream_semantic_dedup_ingest
    # wipe-partial-output approach). Relying on batch_id replay dedup
    # here would be wrong: FileStreamSource orders files by modification
    # time, and an mtime tie among the 8 staged files can permute the
    # file→batch assignment on the retry, making a skipped batch_id
    # cover different rows than the committed one (guarding on
    # latest_snapshot_id() would likewise mistake a partial ingest for
    # done). batch_id dedup remains the guard for SAME-checkpoint
    # replays, where the assignment is pinned by the offset log.
    done_marker = os.path.join(work, "_INGEST_DONE")
    if not os.path.exists(done_marker):
        import shutil

        shutil.rmtree(table_dir, ignore_errors=True)
    table = SnapshotTable(table_dir)
    if not os.path.exists(done_marker):
        stream = (
            spark.readStream.schema(orders.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

        def land(batch, batch_id):
            table.commit_append(batch, batch_id=batch_id)
            # expose the micro-batch work to the plan audit (foreachBatch
            # bypasses run_stream_to_memory's explain capture — the
            # incremental-neardup precedent above)
            global LAST_BATCH_PLAN
            try:
                LAST_BATCH_PLAN = (
                    "== Physical Plan ==\n"
                    + batch._jdf.queryExecution().executedPlan().toString()
                )
            except Exception:
                pass

        with _checkpoint_dir(None, "ckpt_snap_ingest_") as ckpt:
            (
                stream.writeStream.foreachBatch(land)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )
        open(done_marker, "a").close()
    return (
        table.read_as_of(spark)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_price"),
        )
    )


def stream_semantic_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``dedup_semantic_incremental``: the ingest
    stream's batch docs (vec_id % 10 = 0) are IVF-assigned and verdicted
    per micro-batch against the SAME persisted per-cell elite index the
    batch twin materialized — a stream-static broadcast join per batch,
    O(batch x elite) work, verdicts appended to a result log. Because a
    verdict depends only on the doc and the standing index, the union of
    per-batch outputs is EXACTLY the batch twin's output however the
    stream is split — proven by registering the SAME oracle. The staged
    source is an 8-file split with maxFilesPerTrigger=1, so the run
    genuinely exercises 8 micro-batches."""
    import os

    import pyspark.sql.functions as F  # noqa: F811

    from ug_dwh_etl_spark.operators.similarity import cosine, ivf_assign
    from ug_dwh_etl_spark.queries.dedup import (
        _SEMDEDUP_ELITE,
        _SEMDEDUP_TAU,
    )
    from ug_dwh_etl_spark.queries.registry import (
        materialize_once,
        scratch_dir,
        table,
    )
    from pyspark.sql import Window

    emb = table(spark, sf_dir, "embeddings")
    docs = table(spark, sf_dir, "documents")
    from ug_dwh_etl_spark.operators.textstats import alpha_ratio_col

    # persist the quality relation: every micro-batch joins against it,
    # and unpersisted it re-scans documents + re-runs the regex per
    # batch — measured as the bulk of the per-batch second (round-10)
    qual = docs.select(
        F.col("doc_id").alias("vec_id"), alpha_ratio_col("text").alias("q")
    ).persist()

    def build_elite():
        w = Window.partitionBy("cluster").orderBy(F.desc("q"), F.asc("vec_id"))
        return (
            ivf_assign(emb)
            .select("vec_id", "embedding", "cluster")
            .join(qual, "vec_id")
            .filter(F.col("vec_id") % 10 != 0)
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= _SEMDEDUP_ELITE)
            .select("vec_id", "embedding", "cluster", "q")
        )

    # the SAME per-process index as the batch twin (shared name)
    elite = materialize_once(spark, sf_dir, "semantic_elite", build_elite)
    y = F.broadcast(
        elite.select(
            F.col("vec_id").alias("yid"),
            F.col("embedding").alias("ye"),
            F.col("cluster"),
            F.col("q").alias("yq"),
        )
    )

    work = scratch_dir("sem_ingest", sf_dir)
    src = os.path.join(work, "src")
    out = os.path.join(work, "verdicts")
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        emb.repartition(8).write.mode("overwrite").parquet(src)
    # the completion sentinel must NOT be out/_SUCCESS: Spark's file
    # committer creates that after the FIRST micro-batch append, so it
    # cannot distinguish a finished run from a crashed one. A separate
    # marker is written only after awaitTermination; a markerless (i.e.
    # partial) verdict log is wiped before the retry re-runs the stream,
    # since re-appending over partial output would duplicate batches.
    done_marker = os.path.join(work, "_ALL_BATCHES_DONE")
    if not os.path.exists(done_marker):
        import shutil

        shutil.rmtree(out, ignore_errors=True)

        # loop-invariant Column expressions hoisted out of the handler:
        # a Column binds by NAME, so the same objects apply to every
        # micro-batch — rebuilding them per tick was ~0.4s of pure
        # py4j/Catalyst construction per batch (round-10 profile)
        better = (
            (F.col("yq") > F.col("xq"))
            | ((F.col("yq") == F.col("xq")) & (F.col("yid") < F.col("xid")))
        ) & (F.round(cosine("xe", "ye"), 6) >= _SEMDEDUP_TAU)

        def verdicts(batch, batch_id):
            x = (
                ivf_assign(batch.filter(F.col("vec_id") % 10 == 0))
                .select("vec_id", "embedding", "cluster")
                .join(qual, "vec_id")
                .select(
                    F.col("vec_id").alias("xid"),
                    F.col("embedding").alias("xe"),
                    F.col("cluster"),
                    F.col("q").alias("xq"),
                )
            )
            # verdict in ONE broadcast join + partial aggregate (was
            # join → distinct → second join): drop x iff ANY same-cell
            # elite member beats it on (quality, id) within tau — a
            # left join keeps x rows whose cell has no elite (kept)
            result = (
                x.join(y, "cluster", "left")
                .groupBy(F.col("xid").alias("vec_id"), F.col("cluster"))
                .agg(
                    F.max(F.coalesce(better, F.lit(False))).alias("_dropped")
                )
                .select(
                    "vec_id",
                    F.col("cluster").cast("int").alias("cluster"),
                    (~F.col("_dropped")).alias("kept"),
                )
            )
            global LAST_BATCH_PLAN
            try:
                LAST_BATCH_PLAN = (
                    "== Physical Plan ==\n"
                    + result._jdf.queryExecution().executedPlan().toString()
                )
            except Exception:
                pass
            result.write.mode("append").parquet(out)

        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        with _checkpoint_dir(None, "ckpt_sem_ingest_") as ckpt:
            (
                stream.writeStream.foreachBatch(verdicts)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )
        open(done_marker, "a").close()
    qual.unpersist()
    return spark.read.parquet(out).select("vec_id", "cluster", "kept")


def stream_wap_gated_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest where EVERY micro-batch rides write-audit-publish
    (operators/snapshot_table.py stage_append/publish_branch): the batch
    lands on an ``audit`` branch, the DQ gate reads the BRANCH (the
    as-written bytes, not the in-flight DataFrame — a writer bug is
    caught too), and only a passing audit fast-forwards LATEST. A
    failing audit drops the branch and re-stages the batch with the
    violating rows REMOVED (audit-remediate-publish), so the published
    state is deterministic however the file source carves batches —
    which is what lets the result carry an exact oracle (gate-reject-
    whole-batch semantics would make the final state depend on the
    mtime-tie-sensitive file->batch assignment, the
    stream_snapshot_ingest staging note). Contract here: orders dated
    1997+ are junk the feed must never publish. Main readers are
    snapshot-isolated from every staged batch; a crash between stage
    and publish leaves main clean and the orphaned branch is swept by
    drop_branch/remove_orphan_files. This is the reference's
    gate-then-abort cron (`sf_html_data.py:95-105`) upgraded to a
    landing path where 'abort' costs a pointer delete instead of a
    restore."""
    import os

    import pyspark.sql.functions as F  # noqa: F811

    from ug_dwh_etl_spark.operators.quality import expect
    from ug_dwh_etl_spark.operators.snapshot_table import SnapshotTable
    from ug_dwh_etl_spark.queries.registry import scratch_dir

    work = scratch_dir("snap_wap_ingest", sf_dir)
    src = os.path.join(work, "src")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        orders.repartition(8).write.mode("overwrite").parquet(src)
    table_dir = os.path.join(work, "table")
    # same wipe-partial-output discipline as stream_snapshot_ingest: a
    # retry after a mid-stream crash restages from a fresh checkpoint,
    # so any partially published table is wiped first
    done_marker = os.path.join(work, "_INGEST_DONE")
    if not os.path.exists(done_marker):
        import shutil

        shutil.rmtree(table_dir, ignore_errors=True)
    table = SnapshotTable(table_dir)
    junk = F.col("o_orderdate") >= "1997-01-01"
    if not os.path.exists(done_marker):
        stream = (
            spark.readStream.schema(orders.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

        def land(batch, batch_id):
            base = table.latest_snapshot_id() or 0
            table.stage_append(batch, branch="audit", batch_id=batch_id)
            if table.branch_head("audit") is None:
                # batch_id already in the published lineage — a
                # same-checkpoint replay; nothing staged, nothing to do
                return
            spark_b = batch.sparkSession

            def staged():
                # audit the INCREMENT, not the table: at 100 TB the gate
                # must cost O(batch), and the branch ids are a contiguous
                # append-only range above the published head
                return table.read_incremental(
                    spark_b, from_id=base, to_id=table.branch_head("audit")
                )

            ok = expect(
                staged(),
                junk,
                "freshness",
                f"batch {batch_id} carries post-1996 rows",
            )
            if not ok:
                table.drop_branch("audit")
                table.stage_append(
                    batch.filter(~junk), branch="audit", batch_id=batch_id
                )
                expect(
                    staged(),
                    junk,
                    "freshness",
                    f"batch {batch_id} still dirty after remediation",
                    fail=True,
                )
            table.publish_branch("audit")
            global LAST_BATCH_PLAN
            try:
                LAST_BATCH_PLAN = (
                    "== Physical Plan ==\n"
                    + batch._jdf.queryExecution().executedPlan().toString()
                )
            except Exception:
                pass

        with _checkpoint_dir(None, "ckpt_wap_ingest_") as ckpt:
            (
                stream.writeStream.foreachBatch(land)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )
        open(done_marker, "a").close()
    return (
        table.read_as_of(spark)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_price"),
        )
    )


def stream_hll_event_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HyperLogLog: the 64-register sketch AS the stream
    state — a complete-mode groupBy(register).max(rho) whose state is
    at most 64 ints FOREVER, however many events flow through (the HLL
    analogue of stream_kmv_viewers, but with zero custom state code:
    register-wise max is a built-in streaming aggregate, and max is
    exactly HLL's merge operator, so every micro-batch folds into the
    union sketch for free). Deterministic hashing makes the streaming
    estimate equal the batch sketch bit-for-bit; the estimator fold
    (spine join + fixed-point indicator sum) runs batch-side on the
    materialized <=64-row result."""
    import pyspark.sql.functions as F  # noqa: F811

    from ug_dwh_etl_spark.queries.events import _hll_estimate, _hll_registers

    ev = read_events_stream(spark, sf_dir)
    regs = _hll_registers(ev, F.col("event_id"))
    out = run_stream_to_memory(regs, "complete")
    est = _hll_estimate(spark, out)
    return est.select(
        F.round("est", 4).alias("est"),
        F.col("zero_regs").cast("long").alias("zero_regs"),
    )
