"""Source/sink tests: REST pagination fan-out, writers, table maintenance."""

from __future__ import annotations

import os

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ug_dwh_etl_spark.plans.pipeline import Pipeline
from ug_dwh_etl_spark.sinks.writers import append_history, overwrite_snapshot
from ug_dwh_etl_spark.sources.rest import paginated_ingest


def test_paginated_ingest_distributed(spark):
    schema = StructType([StructField("row_id", LongType()), StructField("v", StringType())])

    def fetch(offset: int, limit: int) -> pd.DataFrame:
        n = min(limit, 250 - offset)
        return pd.DataFrame(
            {"row_id": range(offset, offset + n), "v": [f"r{i}" for i in range(offset, offset + n)]}
        )

    df = paginated_ingest(spark, total_rows=250, chunk_size=100, fetch_chunk=fetch, schema=schema)
    assert df.count() == 250
    assert df.agg(F.countDistinct("row_id")).collect()[0][0] == 250


def test_append_and_overwrite_writers(spark, tmp_path):
    df = spark.createDataFrame([(1, "2024-01-01"), (2, "2024-01-02")], "id long, crawl_date string")
    hist = str(tmp_path / "hist")
    append_history(df, hist)
    append_history(df, hist)
    assert spark.read.parquet(hist).count() == 4
    # partition pruning path exists
    assert os.path.isdir(os.path.join(hist, "crawl_date=2024-01-01"))

    snap = str(tmp_path / "snap")
    overwrite_snapshot(df, snap)
    overwrite_snapshot(df.limit(1), snap)
    assert spark.read.parquet(snap).count() == 1


def test_fan_out_single_upstream(spark, tmp_path):
    paths = [str(tmp_path / "a"), str(tmp_path / "b")]
    Pipeline(
        name="fan-out",
        load=lambda s: s.createDataFrame([(1,)], "id long"),
        transform=lambda df: df,
        sinks=[lambda d: overwrite_snapshot(d, paths[0]),
               lambda d: overwrite_snapshot(d, paths[1])],
    ).run(spark)
    assert spark.read.parquet(paths[0]).count() == 1
    assert spark.read.parquet(paths[1]).count() == 1


def test_ignore_corrupt_parquet_files(spark, tmp_path):
    # a truncated/garbage file in the table directory must not sink the
    # whole 100 TB scan when ignoreCorruptFiles is on
    d = tmp_path / "tbl"
    spark.range(10).write.parquet(str(d))
    (d / "part-garbage.parquet").write_bytes(b"PAR1 this is not parquet")
    ok = (
        spark.read.option("ignoreCorruptFiles", True).parquet(str(d)).count()
    )
    assert ok == 10


def test_compact_partitions_reduces_files_and_preserves_rows(spark, tmp_path):
    import glob

    import pyspark.sql.functions as F

    from ug_dwh_etl_spark.operators.storage import optimize_table

    hist = str(tmp_path / "hist")
    # simulate many micro-batch appends: 8 tiny files per day
    for day in ("2026-01-01", "2026-01-02"):
        for _ in range(8):
            append_history(
                spark.range(50).select(F.col("id"), F.lit(day).alias("crawl_date")),
                hist,
            )
    before = len(glob.glob(f"{hist}/**/*.parquet", recursive=True))
    assert before >= 16
    total_before = spark.read.parquet(hist).count()

    stats = optimize_table(spark, hist, partition_col="crawl_date")
    # one small table, one file, split by the hive partition it keeps
    for day in ("2026-01-01", "2026-01-02"):
        assert len(glob.glob(f"{hist}/crawl_date={day}/*.parquet")) == 1
    assert stats["n_files"] == 2
    assert spark.read.parquet(hist).count() == total_before


def test_prune_history_drops_only_expired_partitions(spark, tmp_path):
    from ug_dwh_etl_spark.sinks.writers import append_history, prune_history

    path = str(tmp_path / "hist")
    df = spark.createDataFrame(
        [(1, "2026-01-01"), (2, "2026-01-02"), (3, "2026-02-01")],
        "id long, crawl_date string",
    )
    append_history(df, path)
    dropped = prune_history(path, "crawl_date", keep=lambda d: d >= "2026-01-15")
    assert dropped == ["2026-01-01", "2026-01-02"]
    left = spark.read.parquet(path)
    # partition values come back type-inferred (DATE) — compare as strings
    assert {
        str(r.crawl_date) for r in left.select("crawl_date").distinct().collect()
    } == {"2026-02-01"}
    # idempotent: second run drops nothing
    assert prune_history(path, "crawl_date", keep=lambda d: d >= "2026-01-15") == []


_NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def test_read_events_reads_a_nanosecond_timestamp_file(spark, tmp_path):
    """A ``TIMESTAMP(NANOS)`` events file (the layout of early fixture
    rounds) reads through the nanosAsLong escape hatch, with ``ts``
    truncated to micros; a fresh session keeps the shared one's
    settings clean."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ug_dwh_etl_spark.queries.registry import read_events

    ns = [1_700_000_000_123_456_789, 1_700_000_100_000_000_999]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(ns, pa.timestamp("ns")),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    fresh = spark.newSession()
    got = read_events(fresh, str(tmp_path)).orderBy("event_id")
    micros = [r[0] for r in got.select(F.unix_micros("ts")).collect()]
    assert micros == [v // 1000 for v in ns]
    assert fresh.conf.get(_NANOS) == "true"


def test_read_events_missing_directory_leaves_the_session_untouched(spark, tmp_path):
    """Only the nanos parquet error turns the escape hatch on: any other
    failure raises with the session's settings as they were."""
    import pytest
    from pyspark.errors import AnalysisException

    from ug_dwh_etl_spark.queries.registry import read_events

    fresh = spark.newSession()
    before = fresh.conf.get(_NANOS)
    with pytest.raises(AnalysisException):
        read_events(fresh, str(tmp_path / "missing"))
    assert fresh.conf.get(_NANOS) == before != "true"
