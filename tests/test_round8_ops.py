"""Round-8 additions: snapshot-table time travel + atomic-commit
guarantees, ROC-AUC readout, semantic dedup in IVF cells, shared LPA
partition."""

from __future__ import annotations

import threading
import time

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


def _snaptable(tmp_path):
    from ug_dwh_etl_spark.operators.snapshot_table import SnapshotTable

    return SnapshotTable(str(tmp_path / "t"))


def test_snapshot_table_append_overwrite_time_travel(spark, tmp_path):
    t = _snaptable(tmp_path)
    assert t.latest_snapshot_id() is None
    s1 = t.commit_overwrite(spark.range(0, 3).withColumn("v", F.lit("a")))
    s2 = t.commit_append(spark.range(3, 5).withColumn("v", F.lit("a")))
    s3 = t.commit_overwrite(spark.range(100, 101).withColumn("v", F.lit("b")))
    assert (s1, s2, s3) == (1, 2, 3)
    assert t.latest_snapshot_id() == 3
    # current state is the overwrite only
    assert t.read_as_of(spark).count() == 1
    # time travel: snapshot 2 = base + append, snapshot 1 = base
    assert sorted(r.id for r in t.read_as_of(spark, 2).collect()) == [0, 1, 2, 3, 4]
    assert t.read_as_of(spark, 1).count() == 3
    ops = [m["operation"] for m in t.snapshots()]
    assert ops == ["overwrite", "append", "overwrite"]
    assert t.manifest(2)["parent_id"] == 1


def test_snapshot_table_expire_keeps_live_dirs(spark, tmp_path):
    t = _snaptable(tmp_path)
    t.commit_overwrite(spark.range(3))
    t.commit_append(spark.range(3, 6))  # snapshot 2 references snap 1's dir
    t.commit_overwrite(spark.range(10))
    deleted = t.expire_snapshots(keep_from=2)
    # snapshot 1's dir is still referenced by snapshot 2 — must survive
    assert deleted == []
    assert t.read_as_of(spark, 2).count() == 6
    deleted = t.expire_snapshots(keep_from=3)
    assert len(deleted) == 2  # snap 1's dir + the append dir now orphaned
    assert t.read_as_of(spark, 3).count() == 10


def test_snapshot_table_concurrent_overwrite_never_torn(spark, tmp_path):
    """Readers racing a committing writer must always observe one
    complete snapshot: every read sees exactly one marker value and the
    row count that marker was committed with — never a mix of two
    snapshots and never a missing table."""
    t = _snaptable(tmp_path)
    t.commit_overwrite(spark.range(5).withColumn("marker", F.lit(0)))
    stop = threading.Event()
    errors: list[str] = []

    def writer():
        for i in range(1, 8):
            # marker i committed with exactly i+1 rows
            t.commit_overwrite(spark.range(i + 1).withColumn("marker", F.lit(i)))
            time.sleep(0.02)
        stop.set()

    def reader():
        while not stop.is_set():
            rows = t.read_as_of(spark).select("marker").collect()
            markers = {r.marker for r in rows}
            if len(markers) != 1:
                errors.append(f"torn read: markers {markers}")
                return
            m = markers.pop()
            expected = 5 if m == 0 else m + 1
            if len(rows) != expected:
                errors.append(f"marker {m} with {len(rows)} rows")
                return

    threads = [threading.Thread(target=writer)] + [
        threading.Thread(target=reader) for _ in range(2)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=120)
    assert errors == []
    assert t.latest_snapshot_id() == 8


def test_auc_matches_sklearn_free_reference(spark):
    """AUC from the doubled-rank arithmetic must equal the O(n^2)
    pairwise definition (ties count 1/2) on a small hand case."""
    from ug_dwh_etl_spark.queries.events import doubled_rank_sums

    # scores with ties across and within classes
    data = [(3, 1), (3, 0), (2, 1), (1, 0), (1, 0), (5, 1), (2, 0)]
    pairs = [(s, y) for s, y in data]
    pos = [s for s, y in pairs if y == 1]
    neg = [s for s, y in pairs if y == 0]
    ref = sum(
        1.0 if p > n else (0.5 if p == n else 0.0) for p in pos for n in neg
    ) / (len(pos) * len(neg))
    df = spark.createDataFrame(pairs, "d int, y int")
    pv = df.groupBy("d").agg(
        F.sum("y").cast("long").alias("ca"),
        F.sum(1 - F.col("y")).cast("long").alias("cb"),
    )
    agg = doubled_rank_sums(pv, [], "d").collect()[0]
    auc = (agg.r2a - agg.na * (agg.na + 1)) / (2.0 * agg.na * agg.nb)
    assert abs(auc - ref) < 1e-12


def test_auc_query_discriminates_and_calibration_sums(spark):
    from ug_dwh_etl_spark.queries.mlfit import fit_auc_roc

    rows = fit_auc_roc(spark, SF).collect()
    assert len(rows) == 10  # all ten calibration bins populated
    auc = rows[0].auc
    assert all(r.auc == auc for r in rows)
    # labels are drawn AT the scorer's propensity -> theoretical AUC 5/6
    assert abs(auc - 5 / 6) < 0.03
    assert sum(r.n_orders for r in rows) == rows[0].npos + rows[0].nneg
    # mean prediction must be monotone in the bin index (monotone scorer)
    by_bin = sorted(rows, key=lambda r: r.bin)
    preds = [r.mean_pred for r in by_bin]
    assert preds == sorted(preds)
    # perfectly calibrated by construction: each bin's observed rate
    # tracks its mean prediction within sampling noise (~150/bin)
    for r in by_bin:
        assert abs(r.obs_rate - r.mean_pred) < 0.12, (r.bin, r.obs_rate)


def test_semantic_cells_drop_rule(spark):
    """Within one cell, exactly the lower-quality member of each
    near-dup pair is dropped; cross-cell near-dups are ignored."""
    from ug_dwh_etl_spark.queries.dedup import dedup_semantic_cells

    out = {r.vec_id: r for r in dedup_semantic_cells(spark, SF).collect()}
    # every vector gets a verdict
    import duckdb

    n = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{SF}/embeddings.parquet')"
    ).fetchone()[0]
    assert len(out) == n
    dropped = [v for v in out.values() if not v.kept]
    kept_by_cluster = {}
    for v in out.values():
        kept_by_cluster.setdefault(v.cluster, []).append(v.kept)
    # at least one cluster retains a survivor wherever anything dropped
    for v in dropped:
        assert any(kept_by_cluster[v.cluster])


def test_lpa_partition_shared_across_queries(spark):
    """graph_modularity must reuse the community table
    graph_label_propagation materialized — the second call must not
    re-run the iterative dataflow (it reads the per-process parquet)."""
    import ug_dwh_etl_spark.queries.graph as G

    lp = G.graph_label_propagation(spark, SF)
    n1 = lp.count()
    # the materialized path exists and the modularity read plan is a scan
    mod = G.graph_modularity(spark, SF)
    row = mod.collect()[0]
    assert row.n_communities >= 1 and n1 > 0
    plan = G._lpa_communities(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" in plan and "Exchange" not in plan


def test_scan_pruned_skips_files_and_loses_no_rows(spark, tmp_path):
    t = _snaptable(tmp_path)
    df = spark.range(1000).withColumn(
        "k", F.format_string("%04d", F.col("id"))
    )
    t.commit_overwrite(df.repartitionByRange(10, "k"), stats_cols=("k",))
    pruned, read, total = t.scan_pruned(spark, "k", "0100", "0199")
    assert total == 10 and 1 <= read <= 2  # contiguous slice -> 1-2 files
    got = sorted(r.id for r in pruned.filter(F.col("k").between("0100", "0199")).collect())
    assert got == list(range(100, 200))
    # fully-out-of-range scan prunes everything but keeps the schema
    empty, read0, _ = t.scan_pruned(spark, "k", "9990", "9999")
    assert read0 == 0 and empty.count() == 0 and "k" in empty.columns


def test_scan_pruned_append_accumulates_stats(spark, tmp_path):
    t = _snaptable(tmp_path)
    t.commit_overwrite(
        spark.range(100).withColumn("k", F.format_string("%04d", F.col("id"))),
        stats_cols=("k",),
    )
    t.commit_append(
        spark.range(5000, 5100).withColumn(
            "k", F.format_string("%04d", F.col("id"))
        ),
        stats_cols=("k",),
    )
    df, read, total = t.scan_pruned(spark, "k", "5000", "5099")
    assert read < total
    assert df.filter(F.col("k") >= "5000").count() == 100


def test_manifest_pruning_query_reads_fewer_files(spark):
    """The registered query's table must actually prune: re-open the
    per-process table it staged and verify the planning arithmetic."""
    from ug_dwh_etl_spark.operators.snapshot_table import SnapshotTable
    from ug_dwh_etl_spark.queries.registry import scratch_dir
    from ug_dwh_etl_spark.queries.scale import storage_manifest_pruning

    storage_manifest_pruning(spark, SF).collect()
    t = SnapshotTable(scratch_dir("snaptable_pruned", SF))
    _, read, total = t.scan_pruned(
        spark, "o_orderdate", "1995-06-01 00:00:00", "1995-12-31 23:59:59"
    )
    assert total == 8 and 0 < read < total


def test_commit_merge_upserts_and_keeps_history(spark, tmp_path):
    t = _snaptable(tmp_path)
    t.commit_overwrite(
        spark.createDataFrame([(1, "a", 10.0), (2, "b", 20.0)], "k int, v string, p double")
    )
    t.commit_merge(
        spark.createDataFrame([(2, "b2", 25.0), (3, "c", 30.0)], "k int, v string, p double"),
        key_cols=["k"],
    )
    now = {r.k: (r.v, r.p) for r in t.read_as_of(spark).collect()}
    assert now == {1: ("a", 10.0), 2: ("b2", 25.0), 3: ("c", 30.0)}
    # pre-merge state still time-travelable
    before = {r.k: r.v for r in t.read_as_of(spark, 1).collect()}
    assert before == {1: "a", 2: "b"}
    assert t.manifest(2)["operation"] == "merge"


def test_batch_id_commit_is_idempotent(spark, tmp_path):
    t = _snaptable(tmp_path)
    t.commit_overwrite(spark.range(3))
    s = t.commit_append(spark.range(3, 6), batch_id=7)
    s_replay = t.commit_append(spark.range(3, 6), batch_id=7)  # replayed
    assert s == s_replay == t.latest_snapshot_id()
    assert t.read_as_of(spark).count() == 6  # not 9


def test_stream_ingest_lands_one_commit_per_microbatch(spark):
    import os

    from ug_dwh_etl_spark.operators.snapshot_table import SnapshotTable
    from ug_dwh_etl_spark.queries.registry import scratch_dir
    from ug_dwh_etl_spark.streaming.jobs import stream_snapshot_ingest

    out = stream_snapshot_ingest(spark, SF)
    n = sum(r.n_orders for r in out.collect())
    assert n == spark.read.parquet(f"{SF}/orders.parquet").count()
    root = os.path.join(scratch_dir("snap_ingest", SF), "table")
    snaps = SnapshotTable(root).snapshots()
    assert len(snaps) == 8
    assert all(m["operation"] == "append" for m in snaps)
    assert sorted(m["batch_id"] for m in snaps) == list(range(8))


def test_semantic_incremental_verdicts_only_for_batch(spark):
    from ug_dwh_etl_spark.queries.dedup import dedup_semantic_incremental

    rows = dedup_semantic_incremental(spark, SF).collect()
    assert rows and all(r.vec_id % 10 == 0 for r in rows)
    # a batch doc dropped by the index must have a strictly-better elite
    # neighbor; spot-verify the rule on the exact pass: any batch doc the
    # FULL exact pass keeps must also be kept by the index pass (the
    # index is a subset of possible killers)
    from ug_dwh_etl_spark.queries.dedup import dedup_semantic_cells

    exact = {r.vec_id: r.kept for r in dedup_semantic_cells(spark, SF).collect()}
    for r in rows:
        if not exact[r.vec_id]:
            continue  # exact pass dropped it (maybe by a batch member)
        # exact keeps it -> no higher-quality similar neighbor anywhere,
        # so the index pass must keep it too
        assert r.kept, r.vec_id


def test_stream_semantic_ingest_equals_batch_twin(spark):
    """The union of per-micro-batch verdicts must equal the batch twin's
    output exactly — split-insensitivity of index-only verdicts."""
    from ug_dwh_etl_spark.queries.dedup import dedup_semantic_incremental
    from ug_dwh_etl_spark.streaming.jobs import stream_semantic_dedup_ingest

    batch = {
        r.vec_id: (r.cluster, r.kept)
        for r in dedup_semantic_incremental(spark, SF).collect()
    }
    streamed = {
        r.vec_id: (r.cluster, r.kept)
        for r in stream_semantic_dedup_ingest(spark, SF).collect()
    }
    assert streamed == batch


def test_pr_auc_matches_pure_python_reference(spark):
    """AP from the block formulation must equal sklearn's step
    definition computed naively in Python on the same (d, y) rows."""
    from ug_dwh_etl_spark.queries.mlfit import _auc_base, fit_pr_auc

    rows = [(r.d, r.y) for r in _auc_base(spark, SF).collect()]
    # group into descending-score tie blocks
    from collections import defaultdict

    blocks = defaultdict(lambda: [0, 0])
    for d, y in rows:
        blocks[d][0] += y
        blocks[d][1] += 1 - y
    p_total = sum(v[0] for v in blocks.values())
    tp = fp = 0
    ap = 0.0
    for d in sorted(blocks, reverse=True):
        ca, cb = blocks[d]
        tp += ca
        fp += cb
        ap += (ca / p_total) * (tp / (tp + fp))
    got = fit_pr_auc(spark, SF).collect()[0]
    assert abs(got.average_precision - ap) < 1e-5
    assert got.average_precision > got.base_rate + 0.2  # real lift


def test_calibration_report_values(spark):
    from ug_dwh_etl_spark.queries.mlfit import _auc_base, fit_calibration_report

    rows = [(r.d, r.y, r.dmin, r.dmax) for r in _auc_base(spark, SF).collect()]
    brier = sum(((d - lo) / (hi - lo) - y) ** 2 for d, y, lo, hi in rows) / len(rows)
    got = fit_calibration_report(spark, SF).collect()[0]
    assert abs(got.brier - brier) < 1e-6
    # propensity-drawn labels: ECE is sampling noise, far from miscalibrated
    assert got.ece < 0.06 and got.max_gap < 0.15


def test_kmv_tile_merge_equals_direct_sketch(spark):
    """k smallest of the union of per-day k-smallest tiles must equal
    the KMV computed directly on the unioned window — the tile-merge
    property the trailing-window query relies on."""
    import pyspark.sql.functions as F
    from ug_dwh_etl_spark.operators.hashing import md5_long
    from ug_dwh_etl_spark.queries.events import _KMV_K, sketch_kmv_trailing_window
    from ug_dwh_etl_spark.queries.registry import read_events

    ev = read_events(spark, SF)
    pairs = ev.select(
        F.to_date("ts").alias("day"),
        md5_long(F.concat(F.col("user_id").cast("string"), F.lit("|kmv"))).alias("h"),
    ).distinct()
    days = sorted(r.day for r in pairs.select("day").distinct().collect())
    target = days[-1]
    lo = [d for d in days if (target - d).days <= 6]
    direct = (
        pairs.filter(F.col("day").isin(lo))
        .select("h").distinct().orderBy("h").limit(_KMV_K).collect()
    )
    out = {r.day: r for r in sketch_kmv_trailing_window(spark, SF).collect()}
    row = out[target.strftime("%Y-%m-%d")]
    kth = max(r.h for r in direct)
    import math
    expect = len(direct) if len(direct) < _KMV_K else round((_KMV_K - 1) * float(1 << 60) / kth)
    assert row.est_users == expect
    # estimator accuracy: within 3/sqrt(k) of exact on every window
    for r in out.values():
        assert r.rel_err <= 3 / math.sqrt(_KMV_K), (r.day, r.rel_err)


def test_lake_daily_ingest_compacts_and_expires(spark, tmp_path):
    """30 daily append ticks on the snapshot table, each landing an
    idempotent (batch_id) append, rewriting the live snapshot as one
    range-clustered overwrite once it holds more than 12 files and
    expiring all but the last 5 snapshots: table always equals the union
    of ingests, file count stays bounded by compaction, history bounded
    by retention, pruning still works after compaction rewrites."""
    t = _snaptable(tmp_path)

    def tick(inc, day):
        landed = t.commit_append(inc, stats_cols=("k",), batch_id=day)
        files = len(t.manifest(landed).get("files", []))
        if files > 12:
            live = t.read_as_of(spark, landed)
            t.commit_overwrite(
                live.repartitionByRange(max(2, files // 4), "k"), stats_cols=("k",)
            )
        t.expire_snapshots(keep_from=max(1, t.latest_snapshot_id() - 4))
        return landed

    total = 0
    for day in range(30):
        inc = (
            spark.range(day * 100, day * 100 + 100)
            .withColumn("k", F.format_string("%06d", F.col("id")))
        )
        landed = tick(inc, day)
        total += 100
        assert t.read_as_of(spark).count() == total, (day, landed)
    # compaction bounded the live file count
    live_files = len(t.manifest(t.latest_snapshot_id()).get("files", []))
    assert live_files <= 16
    # retention bounded the manifest log
    snaps = t.snapshots()
    assert len(snaps) <= 6
    # a replayed day is skipped, not double-landed
    replay = spark.range(0, 100).withColumn(
        "k", F.format_string("%06d", F.col("id"))
    )
    tick(replay, 29)
    assert t.read_as_of(spark).count() == total
    # a WIDER retention horizon than what survives must also be safe
    t.expire_snapshots(keep_from=max(1, t.latest_snapshot_id() - 20))
    # stats pruning still functional on the compacted layout
    df, read, tot = t.scan_pruned(spark, "k", "000100", "000199")
    assert 0 < read <= tot
    assert df.filter(F.col("k").between("000100", "000199")).count() == 100


def test_kmeans_converged_trace_is_monotone(spark):
    from ug_dwh_etl_spark.queries.similarity import sim_kmeans_converged

    rows = sorted(
        sim_kmeans_converged(spark, SF).collect(), key=lambda r: r.iteration
    )
    assert [r.iteration for r in rows] == [1, 2, 3]
    inertias = [r.inertia for r in rows]
    assert inertias == sorted(inertias, reverse=True)  # non-increasing
    assert rows[-1].n_moved <= rows[0].n_moved
    assert all(1 <= r.n_clusters <= 8 for r in rows)


def test_snapshot_table_random_op_sequences_match_model(spark, tmp_path):
    """Model-based check: any sequence of append/overwrite/merge/expire
    must leave every SURVIVING snapshot readable and equal to a pure-
    Python multiset model of the same operations. Deterministic seeded
    sequences (one Spark job per step keeps this affordable — the
    test_properties.py budget discipline)."""
    import random

    from ug_dwh_etl_spark.operators.snapshot_table import SnapshotTable

    rng = random.Random(82)
    for trial in range(3):
        t = SnapshotTable(str(tmp_path / f"m{trial}"))
        model: dict[int, dict[int, int]] = {}  # snapshot -> {key: payload}
        state: dict[int, int] = {}
        nxt = 0
        for step in range(10):
            op = rng.choice(["append", "overwrite", "merge", "merge", "expire"])
            if op == "expire" and t.latest_snapshot_id():
                keep = rng.randint(1, t.latest_snapshot_id())
                t.expire_snapshots(keep_from=keep)
                for sid in list(model):
                    if sid < keep:
                        del model[sid]
                continue
            keys = [nxt + i for i in range(rng.randint(1, 5))]
            nxt += len(keys)
            if op == "merge" and state:
                # restate a random existing key alongside the new ones
                keys.append(rng.choice(sorted(state)))
            payload = {k: k * 10 + step for k in keys}
            df = spark.createDataFrame(
                [(k, v) for k, v in payload.items()], "k long, v long"
            )
            if op == "append" and t.latest_snapshot_id():
                sid = t.commit_append(df)
                state = {**state, **payload}
            elif op == "merge" and t.latest_snapshot_id():
                sid = t.commit_merge(df, key_cols=["k"])
                state = {**state, **payload}
            else:
                sid = t.commit_overwrite(df)
                state = dict(payload)
            model[sid] = dict(state)
        for sid, expect in model.items():
            got = {r.k: r.v for r in t.read_as_of(spark, sid).collect()}
            assert got == expect, (trial, sid)


def test_token_savings_consistent_with_verdicts(spark):
    # token_savings composes the CAPPED pass (the production default
    # since round 9) — its per-source drop counts must reconcile with
    # the capped verdict table it reads, row for row.
    from ug_dwh_etl_spark.queries.dedup import (
        dedup_semantic_cells_capped,
        dedup_token_savings,
    )

    rows = dedup_token_savings(spark, SF).collect()
    n_dropped = sum(r.n_dropped for r in rows)
    verdicts = dedup_semantic_cells_capped(spark, SF).collect()
    assert n_dropped == sum(1 for v in verdicts if not v.kept)
    assert sum(r.n_docs for r in rows) == len(verdicts)
    for r in rows:
        assert 0 <= r.tokens_dropped <= r.tokens_total
        assert abs(r.dropped_share - r.tokens_dropped / r.tokens_total) < 1e-6
