"""Sink operators (SURVEY.md §2.2 K1-K3).

The reference lands every table in BigQuery with ``if_exists='append'``
(history facts) or ``'replace'`` (snapshot dims). Here:

- history append → date-partitioned parquet append. Partitioning on the
  snapshot date is the 100 TB story: dashboard queries filter on
  ``crawl_date`` so partition pruning skips all but the queried days.
- snapshot replace → ``mode('overwrite')``.
- multi-sink fan-out (one upstream, ≥2 tables, `sf_html_data.py:176-185`)
  → ``plans/pipeline.Pipeline.run`` persists the upstream once, so the
  transform chain isn't recomputed per sink.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame


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
