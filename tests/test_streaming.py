"""Streaming surface tests: AvailableNow jobs equal their batch twins."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from ug_dwh_etl_spark.queries.events import events_hourly_tumbling
from ug_dwh_etl_spark.streaming.jobs import stream_dedup_events, stream_hourly_tumbling

SF_DIR = "/root/testdata/sf0.001"


def test_stream_tumbling_equals_batch(spark):
    streamed = stream_hourly_tumbling(spark, SF_DIR)
    batch = events_hourly_tumbling(spark, SF_DIR)
    assert streamed.count() == batch.count()
    assert streamed.exceptAll(batch).count() == 0


def test_stream_dedup_count(spark):
    n_unique = stream_dedup_events(spark, SF_DIR).first()["n_unique"]
    assert n_unique > 0


def test_transform_with_state_twin(spark):
    from ug_dwh_etl_spark.compat import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip(
            "transformWithStateInPandas needs google.protobuf and neither a pip "
            "install nor the google-cloud-sdk fallback runtime is present"
        )
    from ug_dwh_etl_spark.streaming.stateful import stream_user_totals_tws

    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in stream_user_totals_tws(spark, "/root/testdata/sf0.001").collect()
    }
    assert len(got) > 0


def test_stream_source_handles_directory_layout(spark, tmp_path):
    # regression: pathGlobFilter on the leaf name silently matched
    # NOTHING (0 rows) when the table was a Spark-written directory of
    # part files instead of a single parquet file
    from ug_dwh_etl_spark.streaming.jobs import stream_corpus_ingest

    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src.repartition(3).write.parquet(str(tmp_path / "documents.parquet"))
    dir_rows = stream_corpus_ingest(spark, str(tmp_path)).count()
    file_rows = stream_corpus_ingest(spark, "/root/testdata/sf0.001").count()
    assert dir_rows == file_rows > 0


def test_stream_ewma_multi_batch_matches_closed_form(spark, tmp_path):
    """The EWMA fold does NOT commute, so this is the real test of the
    stateful operator: two micro-batches split at the median timestamp
    (file mtimes force arrival order), folded through the state store,
    must equal the batch closed-form window computation exactly."""
    import os

    import pyspark.sql.functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ug_dwh_etl_spark.queries.events import events_user_ewma
    from ug_dwh_etl_spark.queries.registry import table
    from ug_dwh_etl_spark.streaming import stateful as S
    from ug_dwh_etl_spark.streaming.jobs import run_stream_to_memory

    sf = "/root/testdata/sf0.001"
    ev = table(spark, sf, "events").select("user_id", "ts", "event_id", "value")
    med = ev.agg(F.expr("percentile(unix_micros(ts), 0.5)")).first()[0]
    split = F.unix_micros("ts") <= F.lit(int(med))

    d = str(tmp_path / "events.parquet")
    os.makedirs(d)
    for i, half in enumerate((ev.filter(split), ev.filter(~split))):
        tmp = str(tmp_path / f"half{i}")
        half.coalesce(1).write.parquet(tmp)
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        dst = f"{d}/half{i}.parquet"
        os.rename(f"{tmp}/{part}", dst)
        # FileStreamSource orders by modification time: make half0 older
        os.utime(dst, (1_700_000_000 + i * 3600, 1_700_000_000 + i * 3600))

    src = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    updated = src.groupBy("user_id").applyInPandasWithState(
        S._update_user_ewma,
        outputStructType=S.EWMA_OUTPUT_SCHEMA,
        stateStructType=S.EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_stream_to_memory(updated, "update").cache()
    try:
        n_users = ev.select("user_id").distinct().count()
        # users active in both halves emit one row per micro-batch — if this
        # fails the run collapsed into a single batch and tested nothing
        assert out.count() > n_users

        got = {
            r.user_id: (r.n_events, round(r.ewma, 4))
            for r in out.groupBy("user_id")
            .agg(
                F.max("n_events").alias("n_events"),
                F.round(F.max_by("ewma", "n_events"), 4).alias("ewma"),
            )
            .collect()
        }
        expected = {
            r.user_id: (r.n_events, r.ewma)
            for r in events_user_ewma(spark, sf).collect()
        }
        assert got == expected
    finally:
        out.unpersist()


def test_watermark_drops_late_rows_and_reports_them(spark, tmp_path):
    """Late-data contract: rows older than the watermark horizon are
    DROPPED from the update-mode aggregate across restarts (the
    watermark persists in the checkpoint), and the drop is observable
    (numRowsDroppedByWatermark) — the metric a 100 TB ingest pipeline
    alerts on when upstream lateness exceeds the horizon."""
    src_dir = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def write(rows):
        spark.createDataFrame(rows, "id long, ts_s string").selectExpr(
            "id", "cast(ts_s as timestamp) AS ts"
        ).coalesce(1).write.mode("append").parquet(src_dir)

    def run_once():
        schema = spark.read.parquet(src_dir).schema
        src = spark.readStream.schema(schema).parquet(src_dir)
        agg = (
            src.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )
        q = (
            agg.writeStream.foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(out_dir)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for op in p["stateOperators"]
        )
        import os

        if not os.path.isdir(out_dir):
            return {}, dropped
        return {
            str(r.ws): r.n for r in spark.read.parquet(out_dir).collect()
        }, dropped

    # run 1: on-time hours advance the watermark to 10:30
    write([(1, "2026-01-01 10:00:00"), (2, "2026-01-01 11:30:00")])
    rows, dropped = run_once()
    assert dropped == 0 and len(rows) == 2

    # run 2: a 3h-late row arrives — below the checkpointed watermark
    write([(3, "2026-01-01 08:00:00")])
    rows, dropped = run_once()
    assert not any(ws.startswith("2026-01-01 08") for ws in rows)
    assert dropped >= 1


def test_stream_pattern_multi_batch_matches_window_twin(spark, tmp_path):
    """The CEP matcher's pending-view state must survive a micro-batch
    split: views arriving in batch 1 convert (or expire) against
    purchases arriving in batch 2, and the result must equal the batch
    forward-looking-window query exactly."""
    import os

    from pyspark.sql.streaming.state import GroupStateTimeout

    from ug_dwh_etl_spark.queries.events import events_pattern_view_to_purchase
    from ug_dwh_etl_spark.queries.registry import table
    from ug_dwh_etl_spark.streaming import stateful as S
    from ug_dwh_etl_spark.streaming.jobs import run_stream_to_memory

    sf = "/root/testdata/sf0.001"
    ev = table(spark, sf, "events").select(
        "user_id", "ts", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    med = ev.agg(F.expr("percentile(us, 0.5)")).first()[0]
    split = F.col("us") <= F.lit(int(med))

    d = str(tmp_path / "events.parquet")
    os.makedirs(d)
    for i, half in enumerate((ev.filter(split), ev.filter(~split))):
        tmp = str(tmp_path / f"half{i}")
        half.coalesce(1).write.parquet(tmp)
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        dst = f"{d}/half{i}.parquet"
        os.rename(f"{tmp}/{part}", dst)
        os.utime(dst, (1_700_000_000 + i * 3600, 1_700_000_000 + i * 3600))

    src = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    updated = src.groupBy("user_id").applyInPandasWithState(
        S._update_pattern,
        outputStructType=S.PATTERN_OUTPUT_SCHEMA,
        stateStructType=S.PATTERN_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_stream_to_memory(updated, "update")
    last = out.groupBy("user_id").agg(
        F.max("n_views").alias("n_views"),
        F.max("n_converted").alias("n_converted"),
        F.max("sum_us").alias("sum_us"),
    ).filter(F.col("n_views") > 0)
    streamed = {
        r.user_id: (r.n_views, r.n_converted, r.sum_us) for r in last.collect()
    }
    batch = events_pattern_view_to_purchase(spark, sf)
    expect = {r.user_id: (r.n_views, r.n_converted) for r in batch.collect()}
    assert set(streamed) == set(expect)
    for uid, (nv, nc, _su) in streamed.items():
        assert (nv, nc) == expect[uid], uid


def test_stream_pattern_ooo_tolerates_shuffled_ingest(spark, tmp_path):
    """Hash-split micro-batches (event_id parity, NOT a time split) put
    massively out-of-order arrivals across batches: the strict matcher
    must fail its order contract, while the buffer-and-watermark twin
    with a budget covering the disorder must match the batch window
    query exactly."""
    import os

    import pytest
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from ug_dwh_etl_spark.queries.events import events_pattern_view_to_purchase
    from ug_dwh_etl_spark.queries.registry import table
    from ug_dwh_etl_spark.streaming import stateful as S
    from ug_dwh_etl_spark.streaming.jobs import run_stream_to_memory

    sf = "/root/testdata/sf0.001"
    ev = table(spark, sf, "events").select(
        "user_id", "ts", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    d = str(tmp_path / "events.parquet")
    os.makedirs(d)
    for i, half in enumerate(
        (ev.filter(F.col("event_id") % 2 == 0), ev.filter(F.col("event_id") % 2 == 1))
    ):
        tmp = str(tmp_path / f"half{i}")
        half.coalesce(1).write.parquet(tmp)
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        dst = f"{d}/half{i}.parquet"
        os.rename(f"{tmp}/{part}", dst)
        os.utime(dst, (1_700_000_000 + i * 3600, 1_700_000_000 + i * 3600))

    def run(update_fn, out_schema, state_schema):
        src = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
        )
        updated = src.groupBy("user_id").applyInPandasWithState(
            update_fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        return run_stream_to_memory(updated, "update")

    # strict twin: the shuffled split violates (ts, event_id) order
    with pytest.raises(StreamingQueryException, match="order contract violated"):
        run(
            S._update_pattern, S.PATTERN_OUTPUT_SCHEMA, S.PATTERN_STATE_SCHEMA
        ).count()

    # order-tolerant twin with a budget covering the full disorder
    span_us = ev.agg(
        (F.max("us") - F.min("us")).alias("span")
    ).first()[0]
    out = run(
        S._make_update_pattern_ooo(int(span_us) + 1),
        S.PATTERN_OOO_OUTPUT_SCHEMA,
        S.PATTERN_OOO_STATE_SCHEMA,
    )
    last = (
        out.groupBy("user_id")
        .agg(F.max_by(F.struct("n_views", "n_converted", "sum_us"), "n_seen").alias("s"))
        .select("user_id", "s.n_views", "s.n_converted")
        .filter(F.col("n_views") > 0)
    )
    streamed = {r.user_id: (r.n_views, r.n_converted) for r in last.collect()}
    batch = events_pattern_view_to_purchase(spark, sf)
    expect = {r.user_id: (r.n_views, r.n_converted) for r in batch.collect()}
    assert streamed == expect


def test_streaming_observe_reports_dq_metrics_inline(spark, tmp_path):
    """The observation API on a STREAM: per-batch row/null counts ride
    the existing pass (no second scan), surfaced in progress events —
    the zero-extra-cost DQ counters a 100 TB ingest keeps per
    micro-batch, through ``DataFrame.observe`` directly."""
    from ug_dwh_etl_spark.queries.registry import read_events
    from ug_dwh_etl_spark.streaming.jobs import read_events_stream

    sf = "/root/testdata/sf0.001"
    src = read_events_stream(spark, sf).observe(
        "dq", F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("value").isNull(), F.lit(1))).alias("n_null_value"),
    )
    q = (
        src.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = [
        p["observedMetrics"]["dq"]
        for p in q.recentProgress
        if p.get("observedMetrics", {}).get("dq")
    ]
    assert got, "observed metrics must surface in progress events"
    total = sum(m["n_rows"] for m in got)
    assert total == read_events(spark, sf).count()
    assert all(m["n_null_value"] == 0 for m in got)


def test_stream_transition_matrix_equals_batch(spark):
    from ug_dwh_etl_spark.queries.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    batch = {
        (r.from_type, r.to_type): (r.n, r.prob)
        for r in QUERIES["events_transition_matrix"].fn(spark, sf).collect()
    }
    stream = {
        (r.from_type, r.to_type): (r.n, r.prob)
        for r in QUERIES["stream_transition_matrix"].fn(spark, sf).collect()
    }
    assert stream == batch


def test_session_timeout_tws_timer_closes_idle_session(spark, tmp_path):
    """Event-time registerTimer end to end on a controlled corpus: the
    idle user's session must close via TIMER (no later event exists for
    them), the active user's trailing session must stay open, and a
    mid-stream gap must close inline — same facts from the
    transformWithState processor and the applyInPandasWithState
    EventTimeTimeout twin (cross-API equivalence)."""
    import pyspark.sql.functions as F

    from ug_dwh_etl_spark.streaming.stateful import (
        stream_session_timeout,
        stream_session_timeout_tws,
    )

    rows = [
        # u1: one 2-event session, then idle for hours -> timer close
        (1, "2024-01-01 10:00:00", 1),
        (1, "2024-01-01 10:10:00", 2),
        # u2: session A, >30min gap, session B ending at the stream max
        #     -> A closes inline, B stays open (timer can't fire: the
        #     watermark never passes B's expiry)
        (2, "2024-01-01 11:00:00", 3),
        (2, "2024-01-01 11:20:00", 4),
        (2, "2024-01-01 21:20:00", 5),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))

    def us(s):
        import datetime

        return int(
            datetime.datetime.fromisoformat(s + "+00:00").timestamp() * 1_000_000
        )

    expected = {
        (1, us("2024-01-01 10:00:00"), us("2024-01-01 10:10:00"), 2),  # timer
        (2, us("2024-01-01 11:00:00"), us("2024-01-01 11:20:00"), 2),  # inline
    }
    got_tws = {tuple(r) for r in stream_session_timeout_tws(spark, str(tmp_path)).collect()}
    assert got_tws == expected
    got_apws = {tuple(r) for r in stream_session_timeout(spark, str(tmp_path)).collect()}
    assert got_apws == expected


def test_tws_value_state_ttl_actually_expires(spark, tmp_path):
    """Drive a SHORT TTL across two runs on ONE checkpoint and prove the
    TTL'd ValueState really expires while the parallel non-TTL state
    survives: run 1 ingests file A (u1 count 2), sleep past the ttl,
    run 2 ingests file B — the TTL'd cumulative count must RESET to
    file B's rows while the non-TTL 'ever' state still accumulates."""
    import os
    import time

    import pyspark.sql.functions as F
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from ug_dwh_etl_spark.streaming.stateful import (
        UserTotalsTTLProcessor,
        _with_rocksdb,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events_cum", LongType()),
            StructField("total_value_cum", DoubleType()),
        ]
    )

    src = tmp_path / "src"
    os.makedirs(src)
    ck = str(tmp_path / "ck")
    out_dir = str(tmp_path / "out")

    class Tagged(UserTotalsTTLProcessor):
        """Emit BOTH states so the test can compare ttl vs non-ttl."""

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            n, cents = self._totals.get() if self._totals.exists() else (0, 0)
            en, ec = self._ever.get() if self._ever.exists() else (0, 0)
            for batch in rows:
                k = len(batch)
                c = int(batch["value"].mul(100).round().sum())
                n, cents, en, ec = n + k, cents + c, en + k, ec + c
            self._totals.update((n, cents))
            self._ever.update((en, ec))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events_cum": [n], "total_value_cum": [en * 1.0]}
            )

    def run_once():
        stream = spark.readStream.schema("user_id long, value double").parquet(
            str(src)
        )
        upd = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=Tagged(ttl_ms=2_000),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="ProcessingTime",
        )

        def go():
            # memory sink refuses checkpoint RECOVERY (run 2 reuses the
            # run-1 checkpoint on purpose) -> land each micro-batch to a
            # parquet log via foreachBatch and read that back
            def land_batch(b, _bid):
                b.write.mode("append").parquet(out_dir)

            q = (
                upd.writeStream.foreachBatch(land_batch)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            deadline = time.time() + 120
            saw = False
            while q.isActive and time.time() < deadline:
                if q.awaitTermination(0.25):
                    break
                p = q.lastProgress
                if p and p["numInputRows"] > 0:
                    saw = True
                elif p and saw:
                    break
            q.stop()
            q.awaitTermination()
            return spark.read.parquet(out_dir).collect()

        return _with_rocksdb(spark, go)

    def land(name, rows):
        # FileStreamSource lists FILES: stage via a tmp dir + move the
        # part file (df.write.parquet would create a subdirectory)
        tmp = tmp_path / ("tmp_" + name)
        spark.createDataFrame(rows, "user_id long, value double").coalesce(
            1
        ).write.parquet(str(tmp))
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        os.replace(str(tmp / part), str(src / name))

    land("a.parquet", [(1, 1.0), (1, 2.0)])
    r1 = {r.user_id: (r.n_events_cum, r.total_value_cum) for r in run_once()}
    assert r1[1] == (2, 2.0)  # ttl count 2, ever count 2

    time.sleep(3)  # let the 2s TTL lapse between runs
    land("b.parquet", [(1, 5.0)])
    rows2 = run_once()
    # the output log holds both runs' rows; the run-2 row is the one
    # with the highest non-TTL 'ever' count (monotone by construction)
    latest = max(
        (r for r in rows2 if r.user_id == 1),
        key=lambda r: r.total_value_cum,
    )
    # TTL'd state reset (1, not 3); non-TTL state accumulated (3 events)
    assert (latest.n_events_cum, latest.total_value_cum) == (1, 3.0)


def test_bootstrap_initial_state_cross_api(spark):
    """handleInitialState end to end: the TWS bootstrap handoff and its
    broadcast-seeded applyInPandasWithState twin must both equal the
    full-table batch totals for stream-active users — the state really
    starts from the warehouse slice, not from zero."""
    from ug_dwh_etl_spark.queries.registry import read_events
    from ug_dwh_etl_spark.streaming.stateful import (
        stream_user_totals_bootstrap,
        stream_user_totals_bootstrap_tws,
    )

    sf = "/root/testdata/sf0.001"
    ev = read_events(spark, sf)
    active = {
        r.user_id
        for r in ev.filter(F.col("event_id") % 3 == 0)
        .select("user_id")
        .distinct()
        .collect()
    }
    want = {
        r.user_id: (r.n_events, r.total_value)
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")), 2
            )
            .cast("double")
            .alias("total_value"),
        )
        .collect()
        if r.user_id in active
    }
    got_tws = {
        r.user_id: (r.n_events, r.total_value)
        for r in stream_user_totals_bootstrap_tws(spark, sf).collect()
    }
    assert got_tws == want
    got_apws = {
        r.user_id: (r.n_events, r.total_value)
        for r in stream_user_totals_bootstrap(spark, sf).collect()
    }
    assert got_apws == want
