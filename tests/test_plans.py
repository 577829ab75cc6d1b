"""Pipeline (SURVEY.md §3 E1-E3) end-to-end tests: gates fire, sinks
land, fan-out computes once, the day's pipelines run concurrently."""

from __future__ import annotations

import os
import threading

import pytest
import pyspark.sql.functions as F

from ug_dwh_etl_spark.plans import daily
from ug_dwh_etl_spark.plans.daily import run_concurrently
from ug_dwh_etl_spark.plans.pipeline import Gate, Pipeline
from ug_dwh_etl_spark.plans.reference_pipelines import (
    e1_crawl_pipeline,
    e2_ranks_pipeline,
    e3_bookings_pipeline,
)
from ug_dwh_etl_spark.session import conf_scope
from ug_dwh_etl_spark.sinks.alerts import LoggingAlertSink
from ug_dwh_etl_spark.sinks.writers import overwrite_snapshot

SF_DIR = "/root/testdata/sf0.001"


def test_e1_run_fans_out_history_and_snapshot(spark, tmp_path):
    out = str(tmp_path / "e1")
    pipe = e1_crawl_pipeline(SF_DIR, out_dir=out)
    alert = LoggingAlertSink()
    assert pipe.run(spark, alert=alert)
    assert alert.alerts == []

    history = spark.read.parquet(f"{out}/bq_content_history")
    snapshot = spark.read.parquet(f"{out}/bq_content")
    assert history.count() == snapshot.count() == 500
    # K1: history is partitioned by crawl_date (partition column present)
    assert "crawl_date" in history.columns
    # second run appends history but replaces snapshot
    pipe.run(spark, alert=alert)
    assert spark.read.parquet(f"{out}/bq_content_history").count() == 1000
    assert spark.read.parquet(f"{out}/bq_content").count() == 500


def test_gate_alerts_and_blocks(spark):
    pipe = Pipeline(
        name="gate-check",
        load=lambda s: s.range(10).toDF("n"),
        transform=lambda df: df,
        gates=(Gate(violation=F.col("n") > 8, title="t", message="n too big"),),
    )
    alert = LoggingAlertSink()
    assert not pipe.run(spark, alert=alert)
    assert alert.alerts == [("t", "n too big")]

    blocking = Pipeline(
        name="gate-block",
        load=lambda s: s.range(10).toDF("n"),
        transform=lambda df: df,
        gates=(Gate(violation=F.col("n") > 8, title="t", message="m", blocking=True),),
    )
    try:
        blocking.run(spark)
        raise RuntimeError("should have raised")
    except AssertionError:
        pass


def test_e2_distributed_ingest_strips_headers(spark):
    df = e2_ranks_pipeline().dataframe(spark)
    rows = df.count()
    assert rows == 1000  # 10 injected header rows stripped
    assert df.filter(F.col("address") == "Url").count() == 0
    assert df.filter(F.col("page_rank").isNull()).count() == 0


def test_e3_parses_locale_and_leadtime(spark):
    df = e3_bookings_pipeline(SF_DIR).dataframe(spark)
    row = df.orderBy("buchungsnummer").first()
    assert row is not None
    assert row.preis is not None and row.preis > 0
    assert row.personen >= 0


def test_daily_run_lands_all_reference_tables(spark, tmp_path):
    # the whole cron day (all 8 reference scripts) as one orchestrated run
    from ug_dwh_etl_spark.plans.daily import daily_run
    from ug_dwh_etl_spark.sinks.alerts import LoggingAlertSink

    wh = str(tmp_path / "warehouse")
    alert = LoggingAlertSink()
    counts = daily_run(spark, SF_DIR, wh, alert=alert)
    expected = {
        "bq_content_history",
        "bq_content",
        "bq_audisto_ranks",
        "bq_bookings",
        "bq_images",
        "bq_orphan_urls",
        "bq_backlinks",
        "bq_inlinks",
        "bq_hreflang_issues",
    }
    assert set(counts) == expected
    assert all(n > 0 for n in counts.values()), counts

    # day 2: history tables grow, snapshots don't
    day1 = dict(counts)
    counts2 = daily_run(spark, SF_DIR, wh, alert=alert)
    for tbl in ("bq_content_history", "bq_audisto_ranks", "bq_images"):
        assert counts2[tbl] == 2 * day1[tbl], tbl
    for tbl in ("bq_content", "bq_inlinks", "bq_hreflang_issues"):
        assert counts2[tbl] == day1[tbl], tbl


def test_backfill_is_idempotent_per_logical_date(spark, tmp_path):
    from ug_dwh_etl_spark.plans.daily import backfill_run

    out = str(tmp_path / "wh")
    sf = "/root/testdata/sf0.001"
    first = backfill_run(spark, sf, out, ["2026-01-01", "2026-01-02"])
    assert all(n > 0 for n in first.values())
    # re-running one date replaces its partition — totals unchanged
    again = backfill_run(spark, sf, out, ["2026-01-02"])
    assert again == first
    days = {
        str(r.crawl_date)
        for r in spark.read.parquet(f"{out}/bq_images").select("crawl_date").distinct().collect()
    }
    assert days == {"2026-01-01", "2026-01-02"}


def test_backfill_without_dates_writes_nothing(spark, tmp_path):
    out = str(tmp_path / "wh")
    assert daily.backfill_run(spark, SF_DIR, out, []) == {
        "bq_images": 0, "bq_orphan_urls": 0, "bq_backlinks": 0,
    }
    assert not os.path.exists(out)


def test_conf_scope_in_one_task_is_invisible_to_others(spark):
    key = "spark.sql.shuffle.partitions"
    base = spark.conf.get(key)
    entered, read = threading.Event(), threading.Event()

    def scoped(s):
        with conf_scope(s, {key: "7"}):
            entered.set()
            assert read.wait(60)
            return s.conf.get(key)

    def reader(s):
        try:
            assert entered.wait(60)
            return s.conf.get(key), spark.conf.get(key)
        finally:
            read.set()

    assert run_concurrently(spark, [scoped, reader]) == ["7", (base, base)]
    assert spark.conf.get(key) == base


def test_daily_run_lands_the_other_tables_when_one_raises(spark, tmp_path, monkeypatch):
    def boom(s, sf_dir):
        raise RuntimeError("e4 failed")

    tbl, _build, history = daily.OUTPUTS["e4"]
    monkeypatch.setitem(daily.OUTPUTS, "e4", (tbl, boom, history))
    wh = str(tmp_path / "warehouse")
    with pytest.raises(RuntimeError, match="e4 failed"):
        daily.daily_run(spark, SF_DIR, wh)
    landed = {
        "bq_content_history", "bq_content", "bq_audisto_ranks", "bq_bookings",
        "bq_orphan_urls", "bq_backlinks", "bq_inlinks", "bq_hreflang_issues",
    }
    assert set(os.listdir(wh)) == landed
    for t in landed:
        assert spark.read.parquet(f"{wh}/{t}").count() > 0, t


def test_blocking_gate_raises_before_any_sink_path_exists(spark, tmp_path):
    out = str(tmp_path / "never")
    pipe = Pipeline(
        name="gate-first",
        load=lambda s: s.range(10).toDF("n"),
        transform=lambda df: df,
        gates=(Gate(violation=F.col("n") > 8, title="t", message="m", blocking=True),),
        sinks=[lambda d: overwrite_snapshot(d, out)],
    )
    with pytest.raises(AssertionError, match="DQ gate failed"):
        pipe.run(spark)
    assert not os.path.exists(out)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_pipeline_fetches_a_mapinpandas_load_once_per_run(spark, tmp_path):
    calls = spark.sparkContext.accumulator(0)

    def fetch(batches):
        calls.add(1)
        yield from batches

    paths = [str(tmp_path / "a"), str(tmp_path / "b")]
    pipe = Pipeline(
        name="fetch-once",
        load=lambda s: s.range(0, 10, 1, 2).mapInPandas(fetch, "id long"),
        transform=lambda df: df,
        gates=(Gate(violation=F.col("id") < 0, title="t", message="m"),),
        sinks=[lambda d: overwrite_snapshot(d, paths[0]),
               lambda d: overwrite_snapshot(d, paths[1])],
    )
    assert pipe.run(spark)
    assert calls.value == 2  # one fetch per source partition, gate and sinks included
    assert [spark.read.parquet(p).count() for p in paths] == [10, 10]


def test_jobs_from_pipeline_threads_carry_the_callers_job_group(spark):
    sc = spark.sparkContext
    sc.setJobGroup("daily-threads", "jobs from run_concurrently")
    try:
        run_concurrently(spark, [lambda s: s.range(10).count()] * 3)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert len(sc.statusTracker().getJobIdsForGroup("daily-threads")) >= 3
