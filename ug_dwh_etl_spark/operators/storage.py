"""Storage-layout maintenance operators — the table-management side of a
100 TB lake the reference never needed (BigQuery did it invisibly;
`pandas_gbq.to_gbq` at `sf_html_data.py:178`).

Two jobs a daily-append parquet warehouse cannot skip at scale:

- **Small-file compaction.** A `crawl_date`-partitioned history table
  appended daily by a 1000-executor job accretes thousands of tiny files
  per partition; scan cost becomes file-open cost. ``compact_table``
  rewrites a path to ~``target_file_bytes`` files, preserving data.
- **Range-clustered writes.** ``write_clustered`` lays data out sorted by
  the dominant filter columns (repartitionByRange + sortWithinPartitions)
  so every parquet file covers a narrow min/max range — the poor man's
  Z-order. Readers filtering on those columns skip whole files on footer
  stats before a single row group is read.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession

from ug_dwh_etl_spark.sinks.writers import swap_dir


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite the parquet table at ``path`` into ceil(size/target) files
    and return the new file count.

    The rewrite goes to a staging dir then swaps in (the same
    self-overwrite-safe pattern as ``sinks.writers.merge_upsert``).
    Locally this is a plain repartition; on a partitioned production
    table you run it per-partition (compact only partitions whose file
    count exceeds a threshold) so compaction cost tracks the append rate,
    not the table size.
    """
    n_files = max(1, math.ceil(_dir_bytes(path) / target_file_bytes))
    df = spark.read.parquet(path)
    staging = path.rstrip("/") + ".compacting"
    df.repartition(n_files).write.mode("overwrite").parquet(staging)
    swap_dir(staging, path)
    return n_files


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int = 8,
) -> None:
    """Write ``df`` range-clustered on ``cluster_cols``: global range
    partitioning (sampled split points) then an in-partition sort, so
    each output file owns a contiguous, non-overlapping range of the
    leading cluster column and parquet footer min/max stats actually
    exclude files at read time."""
    cols = [df[c] for c in cluster_cols]
    (
        df.repartitionByRange(n_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(path)
    )


# --- Z-order (Morton) multi-dimension clustering -------------------------------
#
# write_clustered narrows ONE column's per-file range; filters on the
# second cluster column still touch every file. Z-order interleaves the
# bits of both (16 bits each -> one 32-bit Morton key), so sorting by the
# key gives every file a small min/max rectangle in BOTH dimensions —
# the layout Delta/Iceberg OPTIMIZE ZORDER produces, built here from
# plain integer arithmetic so it runs identically in any engine.

ZORDER_BITS = 16


def zorder_interleave_sql(x: str, y: str, *, duck: bool) -> str:
    """Morton key of two pre-normalized 16-bit non-negative ints as ONE
    SQL expression string; `duck` picks operator spellings (DuckDB has
    native shift operators, Spark uses shiftleft/shiftright)."""
    terms = []
    for i in range(ZORDER_BITS):
        if duck:
            terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
            terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
        else:
            terms.append(f"shiftleft(shiftright({x}, {i}) & 1, {2 * i})")
            terms.append(f"shiftleft(shiftright({y}, {i}) & 1, {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def zorder_frame(
    df: DataFrame,
    x_col: str,
    y_col: str,
    n_files: int = 8,
    partition_col: str | None = None,
) -> DataFrame:
    """``df`` Morton-clustered on two integer columns, as a FRAME:
    normalize each to the 16-bit grid against its observed min/max (a
    1-row broadcast aggregate — never a collect), interleave,
    repartitionByRange + sort on the key, drop the key. A plain write
    of the result preserves the layout (one file per partition), so the
    same frame feeds ``write_zordered`` and snapshot-table commits
    (``storage_zorder_box_scan``) without re-deriving the keying."""
    import pyspark.sql.functions as F

    stats = df.agg(
        F.min(x_col).alias("_xmin"),
        F.max(x_col).alias("_xmax"),
        F.min(y_col).alias("_ymin"),
        F.max(y_col).alias("_ymax"),
    )
    grid = (1 << ZORDER_BITS) - 1
    # bigint math: for a 32-bit int column with range > ~32k the
    # (x - xmin) * 65535 product overflows IntegerType and, in Spark's
    # non-ANSI mode, silently wraps — garbage Morton keys and silently
    # degraded clustering at exactly the scale this pass targets
    keyed = df.crossJoin(F.broadcast(stats)).selectExpr(
        *df.columns,
        f"((cast({x_col} AS bigint) - _xmin) * {grid})"
        f" div greatest(cast(_xmax AS bigint) - _xmin, 1) AS _zx",
        f"((cast({y_col} AS bigint) - _ymin) * {grid})"
        f" div greatest(cast(_ymax AS bigint) - _ymin, 1) AS _zy",
    )
    keyed = keyed.selectExpr(
        *df.columns, zorder_interleave_sql("_zx", "_zy", duck=False) + " AS _z"
    )
    range_cols = ([partition_col] if partition_col else []) + ["_z"]
    return (
        keyed.repartitionByRange(n_files, *range_cols)
        .sortWithinPartitions(*range_cols)
        .drop("_z")
    )


def write_zordered(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    n_files: int = 8,
    partition_col: str | None = None,
) -> None:
    """Write ``df`` Morton-clustered on two integer columns (see
    :func:`zorder_frame`) so each parquet file owns a compact rectangle
    of (x, y) space and footer min/max stats prune files for filters on
    EITHER column. At 100 TB this is the weekly OPTIMIZE pass over hot
    partitions, not a per-append cost."""
    writer = zorder_frame(
        df, x_col, y_col, n_files, partition_col
    ).write.mode("overwrite")
    if partition_col is not None:
        # keep the hive layout through the rewrite — retention and
        # partition pruning both depend on the {col}= directories
        writer = writer.partitionBy(partition_col)
    writer.parquet(path)


def optimize_table(
    spark: SparkSession,
    path: str,
    *,
    partition_col: str | None = None,
    keep: "Callable[[str], bool] | None" = None,
    zorder_cols: tuple[str, str] | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    count_rows: bool = False,
) -> dict:
    """The nightly table-maintenance pass, composed from the primitives:
    (1) retention — drop expired hive partitions (O(dropped), no scan);
    (2) layout — rewrite to ~target-size files, Z-order-clustered when
    two filter columns are given, plain compaction otherwise.
    Returns a small stats dict for the run log. Each step is the
    documented single-writer swap; on a 100 TB table you run this
    per-partition on the partitions the append rate actually touched,
    so maintenance cost tracks ingest, not table size."""
    import math

    from ug_dwh_etl_spark.sinks.writers import prune_history, swap_dir

    dropped: list[str] = []
    if partition_col is not None and keep is not None:
        dropped = prune_history(path, partition_col, keep)
    if _dir_bytes(path) == 0:
        # retention emptied the table — nothing to lay out, and a read
        # of a dataless dir cannot even infer a schema
        return {"dropped_partitions": dropped, "n_files": 0, "n_rows": 0}
    if zorder_cols is not None:
        df = spark.read.parquet(path)
        n_files = max(1, math.ceil(_dir_bytes(path) / target_file_bytes))
        staging = path.rstrip("/") + ".optimizing"
        write_zordered(
            df,
            staging,
            zorder_cols[0],
            zorder_cols[1],
            n_files=n_files,
            partition_col=partition_col,
        )
        swap_dir(staging, path)
    else:
        from ug_dwh_etl_spark.sinks.writers import compact_partitions

        if partition_col is not None:
            # per-partition compaction keeps the hive layout — a flat
            # rewrite would erase the partition dirs and silently break
            # every subsequent retention run
            compact_partitions(spark, path, partition_col=partition_col,
                               target_file_bytes=target_file_bytes)
        else:
            compact_table(spark, path, target_file_bytes)
    out = spark.read.parquet(path)
    return {
        "dropped_partitions": dropped,
        "n_files": len(out.inputFiles()),
        # the zero-column count is footer-metadata cost, not a data
        # scan, but on a multi-PB table even listing+footers is a job
        # the 'maintenance cost tracks ingest' contract shouldn't pay
        # every run — opt in for the run log when the table is small
        # or the operator ran per-partition
        "n_rows": out.count() if count_rows else None,
    }
