"""Sink operators (SURVEY.md §2.2 K1-K3).

The reference lands every table in BigQuery with ``if_exists='append'``
(history facts) or ``'replace'`` (snapshot dims). Here:

- history append → date-partitioned parquet append. Partitioning on the
  snapshot date is the 100 TB story: dashboard queries filter on
  ``crawl_date`` so partition pruning skips all but the queried days.
- snapshot replace → ``mode('overwrite')``.
- multi-sink fan-out (one upstream, ≥2 tables, `sf_html_data.py:176-185`)
  → persist the upstream once so the transform chain isn't recomputed
  per sink.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


def swap_dir(staging: str, path: str) -> None:
    """Replace the directory at ``path`` with ``staging``, keeping one
    complete copy on disk at every intermediate state: the old table is
    renamed aside first, so a crash between steps leaves either the old
    or the new data intact (never neither, as a delete-then-rename
    would). The leftover ``.old`` from a crash is removed on the next
    successful swap.

    SINGLE-WRITER assumption: crash-safe for data durability, but not
    atomic for readers — between the two renames there is a window where
    ``path`` does not exist, so a concurrent read of the serving table
    can fail, and two concurrent swaps on the same path race on ``.old``.
    Matches the reference's one-job-per-table daily cron model; a
    multi-writer deployment needs a lock or a table format with atomic
    commit (Delta/Iceberg) instead."""
    old = path.rstrip("/") + ".old"
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(staging, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def append_history(df: DataFrame, path: str, partition_col: str = "crawl_date") -> None:
    """K1 — the reference's if_exists='append' history tables
    (`sf_html_data.py:178,181`, `Audisto/audisto.py:167`)."""
    (
        df.write.mode("append")
        .partitionBy(partition_col)
        .parquet(path)
    )


def overwrite_snapshot(df: DataFrame, path: str) -> None:
    """K2 — if_exists='replace' snapshot tables
    (`sf_html_data.py:185`, `sf_inlink_bulk_data.py:104`)."""
    df.write.mode("overwrite").parquet(path)


def fan_out(df: DataFrame, sinks: list[Callable[[DataFrame], None]]) -> None:
    """K3 — one computed DataFrame into N sinks with a single upstream
    computation (`sf_html_data.py:176-185` writes the same frame to the
    history AND current tables)."""
    df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        for sink in sinks:
            sink(df)
    finally:
        df.unpersist()


def merge_upsert(
    df: DataFrame,
    path: str,
    keys: list[str],
    partition_col: str | None = None,
) -> None:
    """Upsert ``df`` into the parquet table at ``path`` by ``keys``:
    existing rows whose key appears in ``df`` are replaced, new keys are
    inserted — the MERGE the reference approximates with its daily
    append+replace pair, done as one operation.

    Mechanics: survivors = existing ⟕̸ updates (left anti on the key),
    merged = survivors ∪ updates, written to a staging dir then swapped
    in. The staging write is what makes self-overwrite safe (Spark
    cannot overwrite a path it is lazily reading).

    Scale: with ``partition_col`` set, only the partitions whose values
    occur in ``df`` are rewritten (read-side partition pruning + dynamic
    partition overwrite) — at a 100 TB history table, an incremental day
    touches one partition, not the table. On a production lake this
    operator maps 1:1 onto Delta/Iceberg MERGE INTO; the parquet
    staging-swap here keeps the same semantics without a table format.
    """
    spark = df.sparkSession
    if not os.path.exists(path):
        w = df.write.mode("overwrite")
        if partition_col:
            w = w.partitionBy(partition_col)
        w.parquet(path)
        return

    existing = spark.read.parquet(path)
    if partition_col is not None:
        parts = [r[0] for r in df.select(partition_col).distinct().collect()]
        untouched = existing.filter(~existing[partition_col].isin(parts))
        affected = existing.filter(existing[partition_col].isin(parts))
    else:
        untouched = None
        affected = existing
    survivors = affected.join(df.select(*keys).distinct(), keys, "left_anti")
    merged = survivors.unionByName(df)
    if untouched is not None:
        merged = merged.unionByName(untouched)

    staging = path.rstrip("/") + ".staging"
    w = merged.write.mode("overwrite")
    if partition_col:
        w = w.partitionBy(partition_col)
    w.parquet(staging)
    swap_dir(staging, path)


def compact_partitions(
    spark,
    path: str,
    partition_col: str | None = "crawl_date",
    target_file_bytes: int = 128 * 1024 * 1024,
    partitions: list | None = None,
) -> int:
    """Small-file compaction for append/streaming output — the table
    maintenance job every micro-batch sink needs: each AvailableNow tick
    and each history append lands more small part-files, and at 100 TB a
    scan's task count (and the NameNode/listing pressure) is the FILE
    count, not the byte count.

    Rewrites the table (or only ``partitions`` of it — the usual mode:
    compact yesterday after the day closes) into ~``target_file_bytes``
    files per partition via a byte-size-derived ``repartition``, writes
    to a staging dir, and atomically swaps with the same crash-safe,
    single-writer ``swap_dir`` contract as ``overwrite_snapshot``.
    Returns the file count after compaction. The partition-subset path
    never reads or rewrites untouched partitions (partition-pruned scan,
    per-partition swap)."""
    import glob as _glob

    def _bytes(d: str) -> int:
        return sum(
            os.path.getsize(f)
            for f in _glob.glob(f"{d}/**/*.parquet", recursive=True)
        )

    def _nfiles(d: str) -> int:
        return len(_glob.glob(f"{d}/**/*.parquet", recursive=True))

    def _compact_one(src_df: DataFrame, src_bytes: int, staging: str, live: str) -> None:
        n = max(1, round(src_bytes / target_file_bytes))
        w = src_df.repartition(n).write.mode("overwrite")
        w.parquet(staging)
        swap_dir(staging, live)

    root = path.rstrip("/")
    if partition_col is not None and partitions:
        for p in partitions:
            live = f"{root}/{partition_col}={p}"
            df = spark.read.parquet(live)
            _compact_one(df, _bytes(live), live + ".staging", live)
    else:
        df = spark.read.parquet(root)
        cols = [c for c in df.columns]
        b = _bytes(root)
        staging = root + ".staging"
        n = max(1, round(b / target_file_bytes))
        w = df.repartition(n).write.mode("overwrite")
        if partition_col is not None and partition_col in cols:
            w = w.partitionBy(partition_col)
        w.parquet(staging)
        swap_dir(staging, root)
    return _nfiles(root)


def prune_history(
    path: str,
    partition_col: str,
    keep: Callable[[str], bool],
) -> list[str]:
    """Retention for an append-history table: drop whole hive partitions
    (``{partition_col}={value}/``) whose value fails ``keep``, returning
    the dropped values. Pure directory-level deletes — no Spark job, no
    data rewrite, no read of surviving partitions; at 100 TB retention
    must be O(partitions dropped), never a table scan. The reference's
    BigQuery tables aged out via table-level expiration
    (`sf_html_data.py:178` keeps appending forever); a parquet lake has
    to do this itself. Same single-writer assumption as append_history
    (see swap_dir note)."""
    dropped: list[str] = []
    prefix = f"{partition_col}="
    if not os.path.isdir(path):
        return dropped
    for entry in sorted(os.listdir(path)):
        full = os.path.join(path, entry)
        if not (os.path.isdir(full) and entry.startswith(prefix)):
            continue
        value = entry[len(prefix):]
        if not keep(value):
            shutil.rmtree(full)
            dropped.append(value)
    return dropped
