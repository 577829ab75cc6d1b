"""Empirical scaling probe: does runtime grow linearly with data?

Expands the sf0.1 fixture N× by unioning key-shifted copies (written once
to /tmp as parquet), then times representative queries at 1×, 4×, and 16×.
A scale-ready plan shows ~linear growth (shuffle- and agg-bound); an
accidentally quadratic one (bad join key, exploding candidate set) or a
driver-bound one (collect, giant broadcast) shows superlinear growth —
this is the local stand-in for "would it survive 100 TB".

Usage:
    python tools/scale_probe.py [query ...]        # default: probe set
    SCALE_PROBE_FACTORS=1,16,64 python tools/scale_probe.py q ...
                                    # override the expansion rungs (the
                                    # 64x octave for the families whose
                                    # 16x exponents sit near the line)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, ".")

import pyspark.sql.functions as F  # noqa: E402

from ug_dwh_etl_spark.queries import QUERIES  # noqa: E402
from ug_dwh_etl_spark.session import get_spark  # noqa: E402

BASE = "/root/testdata/sf0.1"
# SCALE_PROBE_EXPAND_PART: the ER family blocks on `part`, which the
# default probe treats as an unexpanded dim. "brandshift" expands part
# with per-copy shifted brand values (more blocks, same block-size
# distribution — more entities in more namespaces, the benign growth
# mode); "same" expands part WITHOUT shifting blocking keys (blocks
# fatten x factor — the degenerate-key growth mode block purging
# exists for). Each mode gets its own work dir.
EXPAND_PART = os.environ.get("SCALE_PROBE_EXPAND_PART")
# SCALE_PROBE_GRAPHSHIFT=1: additionally shift lineitem's (l_suppkey,
# l_partkey) per copy. The graph queries derive their node ids from
# those two keys, which the default expansion leaves unchanged (the
# round-7 SCALE.md note) — shifting them makes each copy a DISJOINT
# ISOMORPHIC subgraph: node and edge counts grow ×factor, cycle
# structure and diameter are preserved exactly (SHIFT % 10 == 0 and
# SHIFT % 20 == 0 keep the %-based block/delta predicates intact), so
# the probe measures the propagation loops, not just the distinct-scan.
GRAPHSHIFT = os.environ.get("SCALE_PROBE_GRAPHSHIFT")
WORK = (
    "/tmp/scale_probe"
    + (f"_part_{EXPAND_PART}" if EXPAND_PART else "")
    + ("_graphshift" if GRAPHSHIFT else "")
)
FACTORS = tuple(
    int(x) for x in os.environ.get("SCALE_PROBE_FACTORS", "1,4,16").split(",")
)
# fact tables get expanded with shifted keys; dims are copied as-is so
# FK joins stay broadcast-able (matching how a real warehouse scales:
# facts grow, dims don't)
FACTS = {
    "lineitem": ("l_orderkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
DIMS = ("region", "nation", "customer", "supplier", "part")
PROBES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "dedup_exact_groups",
    "text_token_stats",
    "window_top3_orders_per_customer",
    # round 4: one Lloyd iteration (two passes + K-row broadcast),
    # BM25 (probe-pruned postings), token-id encoding (vocab broadcast),
    # and the windowed sequential pattern match (single user_id sort)
    "sim_kmeans_step",
    "text_bm25_topdocs",
    "text_encode_ids",
    "events_pattern_view_to_purchase",
    # bounded-fanout self-join (pairs per order <= width^2) and the
    # domination-pruned skyline — both must stay ~linear
    "copurchase_top_pairs",
    # round 5: min-support pre-filtered twin — must grow strictly slower
    "copurchase_capped",
    "skyline_orders",
    # vocabulary-bound: pair math runs on the vocab relation, so only
    # the word-count pass should grow with the corpus
    "text_bpe_merges",
    # power iteration: per-step cost is one scan + a dim-sized shuffle
    "sim_pca_power_iteration",
)
# Streaming probes additionally report state-store rows (from the final
# StreamingQueryProgress): state must grow at most linearly in the keys
# within the watermark horizon — superlinear state is the streaming
# analogue of a quadratic join.
STREAM_PROBES = (
    "stream_corpus_ingest",
    "stream_stream_join",
    "stream_stateful_user_totals",
)
SHIFT = 1_000_000_000


def build(spark, factor: int) -> str:
    out = f"{WORK}/x{factor}"
    if os.path.exists(f"{out}/_OK"):
        return out
    os.makedirs(out, exist_ok=True)
    # events stores TIMESTAMP(NANOS): read it as raw int64 (the same
    # convention queries.registry.table uses) so the copy round-trips
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    facts = dict(FACTS)
    dims = list(DIMS)
    if EXPAND_PART:
        dims.remove("part")
        facts["part"] = ("p_partkey",)
    if GRAPHSHIFT:
        facts["lineitem"] = ("l_orderkey", "l_suppkey", "l_partkey")
    for name in dims:
        df = spark.read.parquet(f"{BASE}/{name}.parquet")
        df.write.mode("overwrite").parquet(f"{out}/{name}.parquet")
    for name, keys in facts.items():
        df = spark.read.parquet(f"{BASE}/{name}.parquet")
        copies = []
        for i in range(factor):
            c = df
            for k in keys:
                c = c.withColumn(k, (F.col(k) + F.lit(i * SHIFT)).cast(df.schema[k].dataType))
            if name == "part" and EXPAND_PART == "brandshift" and i > 0:
                c = c.withColumn(
                    "p_brand", F.concat(F.col("p_brand"), F.lit(f"#{i}"))
                )
            copies.append(c)
        expanded = copies[0]
        for c in copies[1:]:
            expanded = expanded.unionByName(c)
        expanded.write.mode("overwrite").parquet(f"{out}/{name}.parquet")
    open(f"{out}/_OK", "w").close()
    return out


def _state_rows(spark, name: str) -> int:
    # the CDC view keeps its state in an on-disk delta log, not the
    # state store — report the log's row count (the thing that must
    # grow O(batch), not O(history))
    if name == "stream_cdc_count_distinct":
        from ug_dwh_etl_spark.queries.registry import scratch_dir

        log = os.path.join(scratch_dir("cdc_cd"), "log")
        try:
            return spark.read.parquet(log).count()
        except Exception:
            return -1
    from ug_dwh_etl_spark.streaming import jobs

    p = jobs.LAST_PROGRESS
    if not p:
        return -1
    return sum(op.get("numRowsTotal", 0) for op in p.get("stateOperators", []))


class _RddStorageSampler:
    """Background sampler for PEAK block-manager usage (memory + disk)
    across all cached/checkpointed RDDs during a timed run — the
    round-11 graph-octave evidence that checkpoint GC keeps iterative
    loops' storage bounded (localCheckpoint blocks don't show in the
    SQL cache, only in RDDStorageInfo)."""

    def __init__(self, spark, interval_s: float = 0.25):
        import threading

        self._sc = spark.sparkContext
        self._stop = threading.Event()
        self.peak_bytes = 0
        self._t = threading.Thread(target=self._loop, args=(interval_s,), daemon=True)

    def _loop(self, interval_s: float) -> None:
        jsc = self._sc._jsc.sc()
        while not self._stop.is_set():
            try:
                total = sum(
                    i.memSize() + i.diskSize() for i in jsc.getRDDStorageInfo()
                )
                if total > self.peak_bytes:
                    self.peak_bytes = total
            except Exception:
                pass
            self._stop.wait(interval_s)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=2)
        return False


def main() -> None:
    probes = sys.argv[1:] or list(PROBES) + list(STREAM_PROBES)
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()

    dirs = {f: build(spark, f) for f in FACTORS}
    print(
        f"{'query':40s} " + " ".join(f"{f:>7d}x" for f in FACTORS)
        + "   growth(16x)   state rows (1x/4x/16x)"
    )
    from ug_dwh_etl_spark.queries.registry import MATERIALIZE_EVENTS

    for name in probes:
        fn = QUERIES[name].fn
        streaming = name.startswith("stream_")
        # drop the previous query's dead checkpoint/persist blocks NOW:
        # the peak-storage sampler must not attribute a predecessor's
        # pending-GC blocks to this query (JVM GC is what lets the
        # ContextCleaner reclaim checkpoint RDDs)
        import gc

        gc.collect()
        try:
            spark._jvm.System.gc()
            time.sleep(1.0)
        except Exception:
            pass
        # untimed 1x run first: absorbs the query's codegen compilation so
        # the 1x timing doesn't carry one-time costs the 16x run won't pay
        # (if it also pays a materialize_once build, attribute that build
        # to the 1x rung below — the warmup is when first-touch happens)
        MATERIALIZE_EVENTS.clear()
        if streaming:
            fn(spark, dirs[FACTORS[0]]).count()
        else:
            fn(spark, dirs[FACTORS[0]]).write.format("noop").mode("overwrite").save()
        warm_build = sum(e["secs"] for e in MATERIALIZE_EVENTS if e["built"])
        times, states, builds, peaks = [], [], [], []
        for f in FACTORS:
            # per-factor materialize_once accounting: the artifact BUILD
            # is the growth signal for memoized queries, so (1) drain the
            # event log, (2) time the run — if it paid a build, record
            # the build separately and re-time warm, so `times` always
            # holds the query's own (warm) cost and `builds` the
            # artifact's per-factor cost
            MATERIALIZE_EVENTS.clear()
            sampler = _RddStorageSampler(spark)
            sampler.__enter__()
            t0 = time.perf_counter()
            if streaming:
                # a streaming query materializes inside fn (AvailableNow →
                # memory sink); count() forces nothing extra but keeps the
                # timing comparable to the batch noop write
                fn(spark, dirs[f]).count()
                states.append(_state_rows(spark, name))
            else:
                fn(spark, dirs[f]).write.format("noop").mode("overwrite").save()
            elapsed = time.perf_counter() - t0
            built = sum(e["secs"] for e in MATERIALIZE_EVENTS if e["built"])
            if built and not streaming:
                t0 = time.perf_counter()
                fn(spark, dirs[f]).write.format("noop").mode("overwrite").save()
                elapsed = time.perf_counter() - t0
            sampler.__exit__()
            if f == FACTORS[0] and not built:
                built = warm_build
            builds.append(built)
            times.append(elapsed)
            peaks.append(sampler.peak_bytes)
        growth = times[-1] / times[0] if times[0] > 0 else float("nan")
        flag = "" if growth <= FACTORS[-1] * 1.5 else "  <-- SUPERLINEAR"
        state_col = (
            "   " + "/".join(str(s) for s in states) if streaming else ""
        )
        build_col = (
            "   builds " + "/".join(f"{b:.2f}s" for b in builds)
            if any(builds)
            else ""
        )
        peak_col = "   peakMB " + "/".join(
            f"{p / 1e6:.0f}" for p in peaks
        )
        print(
            f"{name:40s} " + " ".join(f"{t:7.2f}s" for t in times)
            + f"   {growth:5.1f}x{flag}{state_col}{build_col}{peak_col}"
        )


if __name__ == "__main__":
    main()
