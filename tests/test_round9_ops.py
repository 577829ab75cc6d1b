"""Round-9 unit tests: the distributed global-rank operator family and
the queries rewritten onto it, plus the snapshot-table batch-id lineage
and the sharded concurrency sweep."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from ug_dwh_etl_spark.session import get_spark

    s = get_spark("test-round9")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _run(spark, name):
    from ug_dwh_etl_spark.queries import QUERIES

    return QUERIES[name].fn(spark, SF)


# --- operators/ranking.py --------------------------------------------------------


def test_global_row_number_matches_global_window(spark):
    from pyspark.sql import Window

    from ug_dwh_etl_spark.operators.ranking import global_row_number

    df = spark.range(0, 997).select(
        (F.col("id") * 37 % 1009).alias("v"), F.col("id").alias("k")
    )
    got = {
        (r.v, r.k): r.i
        for r in global_row_number(df, ["v", "k"], out="i").collect()
    }
    want = {
        (r.v, r.k): r.i
        for r in df.select(
            "v", "k", F.row_number().over(Window.orderBy("v", "k")).alias("i")
        ).collect()
    }
    assert got == want


def test_global_row_number_desc_order_and_total(spark):
    from ug_dwh_etl_spark.operators.ranking import global_row_number

    df = spark.range(1, 101).select(F.col("id").alias("v"))
    rows = global_row_number(
        df, [F.desc("v")], out="i", total_out="n"
    ).collect()
    assert all(r.n == 100 for r in rows)
    assert {r.v: r.i for r in rows} == {v: 101 - v for v in range(1, 101)}


def test_global_running_sum_matches_global_window(spark):
    from pyspark.sql import Window

    from ug_dwh_etl_spark.operators.ranking import global_running_sum

    df = spark.range(0, 500).select(
        (F.col("id") * 13 % 251).alias("v"),
        F.col("id").alias("k"),
        (F.col("id") % 7).cast("long").alias("x"),
    )
    got = {
        r.k: (r.cum, r.tot)
        for r in global_running_sum(
            df, ["v", "k"], "x", out="cum", total_out="tot"
        ).collect()
    }
    w = Window.orderBy("v", "k").rowsBetween(Window.unboundedPreceding, 0)
    want_tot = sum(i % 7 for i in range(500))
    want = {
        r.k: (r.cum, want_tot)
        for r in df.select("k", F.sum("x").over(w).alias("cum")).collect()
    }
    assert got == want


def test_ntile_from_rank_matches_spark_ntile(spark):
    from pyspark.sql import Window

    from ug_dwh_etl_spark.operators.ranking import ntile_from_rank

    # n=103, k=4 exercises uneven buckets (3 big of 26, 1 small of 25)
    df = spark.range(1, 104).select(F.col("id").alias("v"))
    w = Window.orderBy("v")
    want = {
        r.v: r.q for r in df.select("v", F.ntile(4).over(w).alias("q")).collect()
    }
    got = {
        r.v: r.q
        for r in df.select(
            "v",
            ntile_from_rank(F.col("v"), F.lit(103).cast("long"), 4).alias("q"),
        ).collect()
    }
    assert got == want


def test_exact_deciles_populations_balanced(spark):
    rows = _run(spark, "agg_exact_deciles_orders").collect()
    assert len(rows) == 10
    counts = {r.decile: r.n for r in rows}
    # NTILE balance: bucket sizes differ by at most 1
    assert max(counts.values()) - min(counts.values()) <= 1
    # deciles are ordered by price: each bucket's hi <= next bucket's lo
    by_d = sorted(rows, key=lambda r: r.decile)
    for a, b in zip(by_d, by_d[1:]):
        assert a.hi <= b.lo


# --- snapshot-table batch-id lineage ----------------------------------------------


def test_batch_id_replay_protection_survives_expiry(spark, tmp_path):
    from ug_dwh_etl_spark.operators.snapshot_table import SnapshotTable

    t = SnapshotTable(str(tmp_path / "t"))
    one = spark.range(3).select(F.col("id").alias("k"))
    for bid in range(1, 6):
        t.commit_append(one, batch_id=bid)
    # expire everything before the latest snapshot — the old manifests
    # (and their batch_id fields) are gone
    t.expire_snapshots(keep_from=5)
    n_before = t.read_as_of(spark).count()
    # replaying an EXPIRED batch must still be skipped: the latest
    # manifest carries the full ancestry batch_ids map
    sid = t.commit_append(one, batch_id=1)
    assert sid <= 5
    assert t.read_as_of(spark).count() == n_before


def test_peak_concurrency_sharded_sweep_exact(spark):
    # brute-force the interval sweep in python at sf0.001 and compare
    row = _run(spark, "events_peak_concurrency").collect()[0]
    from ug_dwh_etl_spark.queries.registry import read_events

    ev = read_events(spark, SF).select("user_id", "ts").collect()
    by_user: dict = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append(r.ts)
    endpoints = []
    n_sessions = 0
    for ts_list in by_user.values():
        ts_list.sort()
        start = prev = ts_list[0]
        for ts in ts_list[1:]:
            if (ts - prev).total_seconds() > 1800:
                endpoints += [(start, 1), (prev, -1)]
                n_sessions += 1
                start = ts
            prev = ts
        endpoints += [(start, 1), (prev, -1)]
        n_sessions += 1
    endpoints.sort(key=lambda e: (e[0], -e[1]))
    live = peak = 0
    for _, d in endpoints:
        live += d
        peak = max(peak, live)
    assert row.n_sessions == n_sessions
    assert row.peak_concurrency == peak


# --- TWS typed-state trio: cross-API equivalence -----------------------------------


def test_tws_map_state_matches_apply_in_pandas_twin(spark):
    from ug_dwh_etl_spark.streaming.stateful import (
        stream_user_type_counts,
        stream_user_type_counts_tws,
    )

    tws = {
        r.user_id: (r.n_types, r.n_events)
        for r in stream_user_type_counts_tws(spark, SF).collect()
    }
    old = {
        r.user_id: (r.n_types, r.n_events)
        for r in stream_user_type_counts(spark, SF).collect()
    }
    assert tws == old and len(tws) > 0


def test_tws_list_state_median_matches_twin_and_batch(spark):
    from ug_dwh_etl_spark.queries.registry import read_events
    from ug_dwh_etl_spark.streaming.stateful import (
        stream_user_median,
        stream_user_median_tws,
    )

    tws = {
        r.user_id: (r.n_events, r.median_value)
        for r in stream_user_median_tws(spark, SF).collect()
    }
    old = {
        r.user_id: (r.n_events, r.median_value)
        for r in stream_user_median(spark, SF).collect()
    }
    assert tws == old and len(tws) > 0
    # brute-force one user against the raw events
    uid = sorted(tws)[0]
    vals = sorted(
        int(round(r.value * 100))
        for r in read_events(spark, SF).filter(F.col("user_id") == uid).collect()
    )
    assert tws[uid] == (len(vals), round(vals[(len(vals) - 1) // 2] / 100.0, 2))


# --- merge-on-read (equality deletes + compaction) ---------------------------------


def test_merge_on_read_equals_copy_on_write(spark, tmp_path):
    from ug_dwh_etl_spark.operators.snapshot_table import SnapshotTable

    base = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    upd = spark.range(3, 6).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    ins = spark.range(20, 22).select(
        F.col("id").alias("k"), F.lit(7).cast("long").alias("v")
    )
    cow = SnapshotTable(str(tmp_path / "cow"))
    cow.commit_overwrite(base)
    cow.commit_merge(upd.unionByName(ins), key_cols=["k"])
    mor = SnapshotTable(str(tmp_path / "mor"))
    mor.commit_overwrite(base)
    mor_sid = mor.commit_merge_on_read(upd.unionByName(ins), key_cols=["k"])
    want = {r.k: r.v for r in cow.read_as_of(spark).collect()}
    got = {r.k: r.v for r in mor.read_as_of(spark).collect()}
    assert got == want
    # compaction folds the deletes in; the compacted read agrees and the
    # pre-compaction MOR snapshot stays time-travelable
    cid = mor.compact_deletes(spark)
    assert cid == mor_sid + 1
    assert not mor.manifest(cid)["deletes"]
    assert {r.k: r.v for r in mor.read_as_of(spark).collect()} == want
    assert {r.k: r.v for r in mor.read_as_of(spark, mor_sid).collect()} == want


def test_merge_on_read_seq_scoping_reinsert(spark, tmp_path):
    from ug_dwh_etl_spark.operators.snapshot_table import SnapshotTable

    t = SnapshotTable(str(tmp_path / "t"))
    t.commit_overwrite(
        spark.range(5).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    )
    # MOR-update k=2: the delete (seq 2) must not touch the update row
    # landed in the same commit
    t.commit_merge_on_read(
        spark.range(2, 3).select(F.col("id").alias("k"), F.lit(2).alias("v")),
        key_cols=["k"],
    )
    got = {r.k: r.v for r in t.read_as_of(spark).collect()}
    assert got == {0: 1, 1: 1, 2: 2, 3: 1, 4: 1}
    # a LATER MOR-update of the same key supersedes the earlier one (its
    # delete at seq 3 removes the seq-2 row; its own row survives)
    t.commit_merge_on_read(
        spark.range(2, 3).select(F.col("id").alias("k"), F.lit(3).alias("v")),
        key_cols=["k"],
    )
    got = {r.k: r.v for r in t.read_as_of(spark).collect()}
    assert got == {0: 1, 1: 1, 2: 3, 3: 1, 4: 1}


def test_merge_on_read_scan_pruned_applies_deletes(spark, tmp_path):
    from ug_dwh_etl_spark.operators.snapshot_table import SnapshotTable

    t = SnapshotTable(str(tmp_path / "t"))
    base = spark.range(100).select(
        F.col("id").alias("k"),
        F.format_string("%04d", F.col("id")).alias("s"),
        F.lit(1).alias("v"),
    )
    t.commit_overwrite(base.repartitionByRange(4, "s"), stats_cols=("s",))
    t.commit_merge_on_read(
        spark.range(10, 20).select(
            F.col("id").alias("k"),
            F.format_string("%04d", F.col("id")).alias("s"),
            F.lit(9).alias("v"),
        ),
        key_cols=["k"],
    )
    df, n_read, n_total = t.scan_pruned(spark, "s", "0000", "0049")
    rows = {r.k: r.v for r in df.filter(F.col("s") <= "0049").collect()}
    assert rows == {k: (9 if 10 <= k < 20 else 1) for k in range(50)}
    assert 0 < n_read <= n_total


def test_expire_snapshots_removes_orphan_delete_dirs(spark, tmp_path):
    import os

    from ug_dwh_etl_spark.operators.snapshot_table import SnapshotTable

    t = SnapshotTable(str(tmp_path / "t"))
    one = spark.range(4).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    t.commit_overwrite(one)
    t.commit_merge_on_read(
        spark.range(1, 2).select(F.col("id").alias("k"), F.lit(2).alias("v")),
        key_cols=["k"],
    )
    del_dir = t.manifest(2)["deletes"][0]["dir"]
    assert os.path.exists(os.path.join(t.root, del_dir))
    t.compact_deletes(spark)  # snapshot 3, no deletes
    deleted = t.expire_snapshots(keep_from=3)
    assert del_dir in deleted
    assert not os.path.exists(os.path.join(t.root, del_dir))
    assert {r.k: r.v for r in t.read_as_of(spark).collect()} == {
        0: 1, 1: 2, 2: 1, 3: 1,
    }


def test_lake_daily_mor_upsert_cadence(spark, tmp_path):
    """A daily merge-on-read upsert cadence on the snapshot table: each
    tick lands an idempotent (batch_id) upsert, folds the equality
    deletes once more than 3 are outstanding and expires all but the
    last 8 snapshots. The table always equals the upsert model, a
    replayed day is a no-op, and stats pruning still works."""
    from ug_dwh_etl_spark.operators.snapshot_table import SnapshotTable

    t = SnapshotTable(str(tmp_path / "lake"))
    model: dict[int, int] = {}
    for day in range(1, 13):
        # each day upserts keys [day, day+3] with value=day
        inc = spark.range(day, day + 4).select(
            F.col("id").alias("k"),
            F.lit(day).cast("long").alias("v"),
            F.format_string("%03d", F.col("id")).alias("s"),
        )
        landed = t.commit_merge_on_read(inc, ["k"], stats_cols=("s",), batch_id=day)
        if len(t.manifest(landed).get("deletes", [])) > 3:
            t.compact_deletes(spark, stats_cols=("s",))
        t.expire_snapshots(keep_from=max(1, t.latest_snapshot_id() - 7))
        for k in range(day, day + 4):
            model[k] = day
        # outstanding delete files stay bounded by the trigger
        assert len(t.manifest(t.latest_snapshot_id()).get("deletes", [])) <= 3
        # replaying the same day's batch is a no-op
        assert t.commit_merge_on_read(inc, ["k"], stats_cols=("s",), batch_id=day) <= landed
        got = {r.k: r.v for r in t.read_as_of(spark).collect()}
        assert got == model, f"day {day}"
    # retention bounded the manifest log
    assert len(t.snapshots()) <= 8
    # a WIDER retention horizon than what survives must also be safe
    t.expire_snapshots(keep_from=max(1, t.latest_snapshot_id() - 20))
    # stats pruning still functional on the compacted layout
    df, read, tot = t.scan_pruned(spark, "s", "003", "005")
    assert 0 < read <= tot
    assert df.filter(F.col("s").between("003", "005")).count() == 3


def test_paragraph_dedup_keeps_each_paragraph_exactly_once(spark):
    rows = _run(spark, "text_paragraph_dedup").collect()
    total_paras = sum(r.n_paras for r in rows)
    total_kept = sum(r.n_kept for r in rows)
    # kept count == distinct paragraph texts corpus-wide
    from ug_dwh_etl_spark.operators import hashing as H
    from ug_dwh_etl_spark.queries.registry import table as _table

    docs = _table(spark, SF, "documents")
    d = docs.select("doc_id", H.tokens(F.col("text")).alias("t")).withColumn(
        "n", F.size("t")
    ).filter(F.col("n") > 0)
    paras = d.select(
        F.explode(F.sequence(F.lit(1), F.col("n"), F.lit(10))).alias("start"), "t"
    ).select(F.concat_ws(" ", F.slice("t", F.col("start"), F.lit(10))).alias("p"))
    n_distinct = paras.select("p").distinct().count()
    n_total = paras.count()
    assert total_paras == n_total
    assert total_kept == n_distinct
    assert total_kept <= total_paras
    assert all(0 <= r.n_kept <= r.n_paras for r in rows)


def test_exact_group_percentiles_ordered_and_bounded(spark):
    rows = _run(spark, "agg_exact_group_percentiles").collect()
    assert len(rows) == 3
    for r in rows:
        assert r.p25 <= r.p50 <= r.p75 <= r.p99
        assert r.n > 0


def test_paragraph_savings_reconciles_with_dedup(spark):
    sav = _run(spark, "dedup_paragraph_savings").collect()
    ded = _run(spark, "text_paragraph_dedup").collect()
    # removed paragraph instances across sources == paras - kept
    assert sum(r.tokens_removed for r in sav) >= 0
    n_removed_paras = sum(r.n_paras - r.n_kept for r in ded)
    # every removed paragraph carries 1..10 tokens
    tot_removed = sum(r.tokens_removed for r in sav)
    assert n_removed_paras <= tot_removed <= 10 * n_removed_paras
    assert sum(r.n_docs for r in sav) == len(ded)
