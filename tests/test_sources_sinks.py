"""Source/sink tests: CSV variants, REST pagination fan-out, writers."""

from __future__ import annotations

import os

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ug_dwh_etl_spark.sinks.writers import append_history, fan_out, overwrite_snapshot
from ug_dwh_etl_spark.sources.readers import read_csv
from ug_dwh_etl_spark.sources.rest import paginated_ingest


def test_read_csv_semicolon_latin1(spark, tmp_path):
    # Midoco feed shape: ';'-delimited latin-1 (product_data.py:56)
    p = tmp_path / "bookings.csv"
    p.write_bytes("Buchungs-Nr;Preis\n1;1.234,56\n".encode("latin-1"))
    df = read_csv(spark, str(p), sep=";", encoding="ISO-8859-1")
    assert df.columns == ["buchungs_nr", "preis"]
    assert df.count() == 1


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
    df = spark.createDataFrame([(1,)], "id long")
    paths = [str(tmp_path / "a"), str(tmp_path / "b")]
    fan_out(df, [lambda d: overwrite_snapshot(d, paths[0]),
                 lambda d: overwrite_snapshot(d, paths[1])])
    assert spark.read.parquet(paths[0]).count() == 1
    assert spark.read.parquet(paths[1]).count() == 1


def test_merge_upsert_replaces_and_inserts(spark, tmp_path):
    from ug_dwh_etl_spark.sinks.writers import merge_upsert

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d1"), (3, "c", "d2")], ["k", "v", "day"]
    )
    merge_upsert(base, path, keys=["k"], partition_col="day")
    updates = spark.createDataFrame(
        [(2, "B", "d1"), (4, "d", "d2")], ["k", "v", "day"]
    )
    merge_upsert(updates, path, keys=["k"], partition_col="day")
    got = {(r.k, r.v, r.day) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a", "d1"), (2, "B", "d1"), (3, "c", "d2"), (4, "d", "d2")}


def test_merge_upsert_unpartitioned(spark, tmp_path):
    from ug_dwh_etl_spark.sinks.writers import merge_upsert

    path = str(tmp_path / "flat")
    merge_upsert(spark.createDataFrame([(1, "a")], ["k", "v"]), path, keys=["k"])
    merge_upsert(spark.createDataFrame([(1, "A"), (2, "b")], ["k", "v"]), path, keys=["k"])
    got = {(r.k, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "A"), (2, "b")}


def test_read_csv_malformed_rows_quarantine(spark, tmp_path):
    # feed drift: a row with a non-numeric amount; PERMISSIVE nulls the
    # field and captures the raw line, DROPMALFORMED discards the row
    from pyspark.sql.types import DoubleType

    from ug_dwh_etl_spark.sources.readers import read_csv

    p = tmp_path / "feed.csv"
    p.write_text("id,amount\n1,10.5\n2,not_a_number\n3,7.25\n")
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("amount", DoubleType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    df = read_csv(spark, str(p), schema=schema, normalize=False).cache()
    assert df.count() == 3
    bad = df.filter(F.col("_corrupt_record").isNotNull()).collect()
    assert len(bad) == 1 and bad[0]._corrupt_record == "2,not_a_number"
    assert bad[0].amount is None

    schema2 = StructType(
        [StructField("id", LongType()), StructField("amount", DoubleType())]
    )
    dropped = read_csv(
        spark, str(p), schema=schema2, normalize=False, mode="DROPMALFORMED"
    )
    assert [r.id for r in dropped.orderBy("id").collect()] == [1, 3]


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

    from ug_dwh_etl_spark.sinks.writers import append_history, compact_partitions

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

    # compact only day 1 (the nightly "compact yesterday" mode)
    compact_partitions(spark, hist, partitions=["2026-01-01"])
    day1 = glob.glob(f"{hist}/crawl_date=2026-01-01/*.parquet")
    assert len(day1) == 1
    # untouched day keeps its files
    day2 = glob.glob(f"{hist}/crawl_date=2026-01-02/*.parquet")
    assert len(day2) >= 8
    assert spark.read.parquet(hist).count() == total_before

    # whole-table compaction
    after = compact_partitions(spark, hist)
    assert after <= 2
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
