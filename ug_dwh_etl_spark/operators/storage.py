"""Storage-layout maintenance — the table-management side of a 100 TB
lake the reference never needed (BigQuery did it invisibly;
`pandas_gbq.to_gbq` at `sf_html_data.py:178`).

``optimize_table`` is the one table rewrite. It drops expired hive
partitions, then lays the table out again as ~``target_file_bytes``
files:

- **Small-file compaction.** A `crawl_date`-partitioned history table
  appended daily by a 1000-executor job accretes thousands of tiny files
  per partition; scan cost becomes file-open cost. A plain repartition
  to ceil(size/target) files fixes it.
- **Z-order.** ``zorder_frame`` sorts rows by a Morton key over two
  filter columns, so every parquet file covers a small min/max
  rectangle and readers filtering on EITHER column skip whole files on
  footer stats before a single row group is read.
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ug_dwh_etl_spark.sinks.writers import prune_history, swap_dir


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


# --- Z-order (Morton) multi-dimension clustering -------------------------------
#
# A range-partitioned write narrows ONE column's per-file range; filters
# on a second column still touch every file. Z-order interleaves the
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
    same frame feeds ``optimize_table`` and snapshot-table commits
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


def optimize_table(
    spark: SparkSession,
    path: str,
    *,
    partition_col: str | None = None,
    keep: Callable[[str], bool] | None = None,
    zorder_cols: tuple[str, str] | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    count_rows: bool = False,
) -> dict:
    """The nightly table-maintenance pass:
    (1) retention — drop expired hive partitions (O(dropped), no scan);
    (2) layout — read the whole table and write it again as
    ceil(size/target) files, Z-order-clustered when two filter columns
    are given, a plain repartition otherwise, through one staging dir
    and the single-writer ``swap_dir``. Returns a small stats dict for
    the run log."""
    dropped: list[str] = []
    if partition_col is not None and keep is not None:
        dropped = prune_history(path, partition_col, keep)
    size = _dir_bytes(path)
    if size == 0:
        # retention emptied the table — nothing to lay out, and a read
        # of a dataless dir cannot even infer a schema
        return {"dropped_partitions": dropped, "n_files": 0, "n_rows": 0}
    n_files = max(1, math.ceil(size / target_file_bytes))
    df = spark.read.parquet(path)
    if zorder_cols is not None:
        df = zorder_frame(df, *zorder_cols, n_files, partition_col)
    else:
        df = df.repartition(n_files)
    writer = df.write.mode("overwrite")
    if partition_col is not None:
        # keep the hive layout through the rewrite — retention and
        # partition pruning both depend on the {col}= directories
        writer = writer.partitionBy(partition_col)
    staging = path.rstrip("/") + ".optimizing"
    writer.parquet(staging)
    swap_dir(staging, path)
    out = spark.read.parquet(path)
    return {
        "dropped_partitions": dropped,
        "n_files": len(out.inputFiles()),
        # the zero-column count is footer-metadata cost, not a data
        # scan, but on a multi-PB table even listing+footers is a job
        # — opt in for the run log when the table is small
        "n_rows": out.count() if count_rows else None,
    }
