"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads);
the same configuration is what we would ship to a 1000-executor cluster —
AQE handles runtime re-planning (shuffle-partition coalescing, skew-join
splitting), so the static ``shuffle.partitions`` only needs to be a sane
upper bound for the local scale factors.
"""

from __future__ import annotations

import contextlib
import os
from collections.abc import Callable, Iterator

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


@contextlib.contextmanager
def conf_scope(spark: SparkSession, confs: dict[str, object]) -> Iterator[None]:
    """Set session confs for the duration of the block and restore each
    on exit; a key that had no value before is unset again. The one
    place in the package that changes a session setting temporarily —
    a plan that must run under the scoped values has to execute (e.g.
    an eager localCheckpoint) inside the block, because confs are read
    at action time."""
    c = spark.conf
    prev = {k: c.get(k, None) for k in confs}
    for k, v in confs.items():
        c.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                c.unset(k)
            else:
                c.set(k, v)


@contextlib.contextmanager
def pinned() -> Iterator[Callable[..., DataFrame]]:
    """Yield ``pin``: ``pin(df, level=None)`` persists ``df`` (at
    ``level``, else the DataFrame default) and returns it. On exit,
    normal or raised, the scope unpersists every frame it pinned,
    newest first. The one place in the package that caches a frame —
    a frame pinned here never outlives the block that needed it."""
    frames: list[DataFrame] = []

    def pin(df: DataFrame, level: StorageLevel | None = None) -> DataFrame:
        frames.append(df.persist() if level is None else df.persist(level))
        return frames[-1]

    try:
        yield pin
    finally:
        for df in reversed(frames):
            df.unpersist()


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "ug-dwh-etl-spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) the session.

    Notes on choices, all standard Spark tuning:

    - AQE on with partition coalescing + skew-join handling: at 100 TB the
      static partition count is always wrong for some stage; AQE fixes it
      from runtime statistics.
    - ``shuffle.partitions`` = 2 * cores locally. On a real cluster this
      would be ~2-3x total executor cores; AQE coalesces downward.
    - Arrow enabled: every Pandas-UDF operator (similarity, multimodal)
      moves data in Arrow batches, not pickled rows.
    - Session timezone pinned to UTC so date/timestamp semantics are
      deterministic and match the DuckDB oracle.
    """
    cpus = cpu_count()
    # before the JVM exists: export the protobuf fallback onto PYTHONPATH
    # so executor Python workers inherit it (transformWithStateInPandas'
    # state-server protocol needs google.protobuf in the worker)
    from ug_dwh_etl_spark.compat import ensure_protobuf

    ensure_protobuf()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-plan the output partitioning of cached plans too —
        # without this, persisted loop invariants (PageRank's contribution
        # edges) pin every downstream shuffle to the static partition
        # count, exempting the iteration from coalescing
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # managed-table home for bucketed tables (operators/bucketing);
        # keep the metastore/warehouse out of the repo tree
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-warehouse"))
        # 512m code cache: a 200-query session compiles thousands of
        # whole-stage-codegen classes; at the JVM default (240m) the JIT
        # code cache fills mid-run and compilation stops, inflating every
        # later query — the classic long-lived-Spark-driver setting
        .config(
            "spark.driver.extraJavaOptions",
            "-Dderby.system.home=/tmp/derby -XX:ReservedCodeCacheSize=512m",
        )
        # ContextCleaner only drops unreferenced persist/localCheckpoint
        # blocks after a JVM GC proves them unreachable; the default
        # periodic-GC interval is 30min, so a long multi-query session
        # (the bench, a notebook, a daily driver) accumulates every
        # iterative operator's checkpoint generations in executor
        # storage for up to half an hour — observed as 2-3x timing noise
        # on queries that run late in the session. 2min bounds the
        # backlog at negligible GC cost (one System.gc() per interval).
        .config("spark.cleaner.periodicGC.interval", "2min")
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()
