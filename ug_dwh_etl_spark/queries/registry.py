"""Registry plumbing for the paired Spark-query / DuckDB-oracle surface."""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import threading
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Entry:
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, None → rows-only driver check


QUERIES: dict[str, Entry] = {}


def register(name: str, oracle: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = Entry(fn=fn, oracle=oracle)
        return fn

    return deco


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events reader tolerant of the fixture's timestamp physical type.

    The generator has shipped events.ts as both TIMESTAMP(NANOS) (which
    Spark's vectorized reader rejects without the nanosAsLong escape
    hatch) and TIMESTAMP(MICROS) (plain timestamp read). Probe the
    footer schema and convert long-nanos to a timestamp only when the
    file actually stores nanos — micros files pass through untouched
    (DuckDB's view narrows ns → µs identically, so oracles agree either
    way)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    path = f"{sf_dir}/events.parquet"
    try:
        df = spark.read.parquet(path)
        df.schema  # force footer conversion so a nanos file fails HERE
    except Exception:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
    if isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    else:
        # micros files arrive as TIMESTAMP_NTZ; normalize to TIMESTAMP
        # (LTZ) — watermarks require it, and with the session pinned to
        # UTC the wall-clock values are identical to DuckDB's naive read
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return read_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Every materialize_once call appends {"name", "built", "secs"} here —
# bench.py reads this to (a) price each artifact BUILD as its own line
# and (b) mark which queries consume memoized artifacts, so best-of-2
# warm timings can't masquerade as the artifact's cost (round-8 verdict:
# graph_label_propagation "0.087s" was a parquet read of a 9.8s build).
MATERIALIZE_EVENTS: list[dict] = []


def materialize_once(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Compute-once-read-everywhere for derived relations several
    queries share (the link-graph edge table, the LPA partition, the ER
    closure): ``build()`` runs the first time a (process, sf_dir, name)
    triple is seen and its result is written under this process's
    scratch root; every later caller reads the parquet. This is the
    warehouse posture at 100 TB — a shared derived artifact is
    materialized by the first pipeline that needs it and JOINED by the
    rest, not re-derived per query. Per-process + per-sf_dir keying
    keeps oracle gates, benchmark runs and scale probes isolated from
    each other."""
    import time

    path = scratch_dir(f"mat_{name}", sf_dir)
    built = not os.path.exists(os.path.join(path, "_SUCCESS"))
    t0 = time.perf_counter()
    if built:
        build().write.mode("overwrite").parquet(path)
    MATERIALIZE_EVENTS.append(
        {
            "name": name,
            "built": built,
            "secs": round(time.perf_counter() - t0, 3) if built else 0.0,
        }
    )
    return spark.read.parquet(path)


_SCRATCH_LOCK = threading.Lock()
_SCRATCH_ROOT: str | None = None


def scratch_dir(name: str, sf_dir: str | None = None) -> str:
    """This process's work directory for ``name`` (and ``sf_dir``):
    ``<root>/<name>/<sha1(sf_dir)[:12]>``, or ``<root>/<name>`` without
    an sf_dir. The sha1 of the FULL path keeps scale-probe dirs that
    share a leaf like 'x4' apart. ``<root>`` is one ``mkdtemp`` per
    process, made on first use and removed at exit, so nothing outlives
    the process and no later process can read it as its own. The
    directory itself is not created; callers keep their own staging
    guards."""
    global _SCRATCH_ROOT
    with _SCRATCH_LOCK:
        if _SCRATCH_ROOT is None:
            _SCRATCH_ROOT = tempfile.mkdtemp(prefix="spark_graft_")
            atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    path = os.path.join(_SCRATCH_ROOT, name)
    if sf_dir is None:
        return path
    return os.path.join(path, hashlib.sha1(sf_dir.encode()).hexdigest()[:12])
