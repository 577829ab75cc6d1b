"""Operator-level tests: joins, dedup, similarity, text, quality gates."""

from __future__ import annotations

import pyspark.sql.functions as F

from ug_dwh_etl_spark.operators.dedup import (
    dedup_exact,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from ug_dwh_etl_spark.operators.joins import asof_latest
from ug_dwh_etl_spark.operators.quality import expect
from ug_dwh_etl_spark.operators.similarity import ann_topk, cosine_topk
from ug_dwh_etl_spark.operators.textstats import langid, token_stats
from ug_dwh_etl_spark.sinks.alerts import LoggingAlertSink

SF_DIR = "/root/testdata/sf0.001"


def test_asof_latest_picks_newest_within_bound(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (1, "2024-02-01", 20.0), (1, "2024-03-01", 30.0),
         (2, "2024-01-15", 5.0)],
        "key int, d string, v double",
    ).withColumn("d", F.col("d").cast("date"))
    out = asof_latest(df, ["key"], "d", as_of="2024-02-15").collect()
    got = {r["key"]: r["v"] for r in out}
    assert got == {1: 20.0, 2: 5.0}


def test_dedup_exact_finds_planted_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "Hello, World!"), (2, "hello   world"), (3, "different doc")],
        "id long, text string",
    )
    out = dedup_exact(df, "id", "text").collect()
    groups = {r["survivor_id"]: r["group_size"] for r in out}
    # normalization (lowercase, strip punct) makes 1 and 2 identical
    assert groups == {1: 2, 3: 1}


def test_minhash_lsh_finds_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    other = "completely unrelated text about database engines and query planning"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "id long, text string"
    )
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(df, "id", "text").collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_minhash_lsh_leaves_no_cached_relation(spark):
    # regression (ADVICE r1): the banded-signature persist leaked a
    # CacheManager entry per call for the session lifetime. The
    # localCheckpoint replacement must leave the cache manager empty.
    df = spark.createDataFrame(
        [(i, f"doc number {i} with some shared words") for i in range(20)],
        "id long, text string",
    )
    minhash_lsh_pairs(df, "id", "text").count()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_ngram_jaccard_scores(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "z y x w v u t s")],
        "id long, text string",
    )
    out = ngram_jaccard_pairs(df, "id", "text", threshold=0.9).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in out] == [(1, 2, 1.0)]


def test_ngram_jaccard_df_cap_parity_and_pruning(spark):
    from ug_dwh_etl_spark.operators.dedup import ngram_jaccard_pairs

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),
        (3, "one two three four five six seven"),
        (4, "one two three four five six eight"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    uncapped = set(map(tuple, ngram_jaccard_pairs(df, "id", "text", 0.3).collect()))
    # cap above every shingle's df → bit-identical to the uncapped run
    high_cap = set(
        map(tuple, ngram_jaccard_pairs(df, "id", "text", 0.3, max_shingle_df=10).collect())
    )
    assert high_cap == uncapped and len(uncapped) > 0
    # cap=1 drops every shared shingle → no pair can survive
    assert ngram_jaccard_pairs(df, "id", "text", 0.3, max_shingle_df=1).count() == 0


def test_simhash_near_dup_small_hamming(spark):
    base = " ".join(f"tok{i}" for i in range(50))
    near = base.replace("tok49", "tok99")
    far = " ".join(f"other{i}" for i in range(50))
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], "id long, text string")
    got = {r["id"]: r["simhash"] for r in simhash(df, "id", "text").collect()}
    ham_near = bin(got[1] ^ got[2]).count("1")
    ham_far = bin(got[1] ^ got[3]).count("1")
    assert ham_near < ham_far


def test_cosine_topk_self_similarity(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    top = cosine_topk(emb, query_id=0, k=5).collect()
    assert len(top) == 5
    assert all(-1.0 <= r["cosine"] <= 1.0 for r in top)
    # descending order
    cos = [r["cosine"] for r in top]
    assert cos == sorted(cos, reverse=True)


def test_ann_results_subset_of_bucket(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    ann = ann_topk(emb, query_id=0, k=10).collect()
    exact = {r["vec_id"]: r["cosine"] for r in cosine_topk(emb, query_id=0, k=500).collect()}
    for r in ann:
        assert r["vec_id"] in exact
        assert abs(exact[r["vec_id"]] - r["cosine"]) < 1e-9


def test_token_stats_counts(spark):
    df = spark.createDataFrame([(1, "Hello world, foo!")], "id long, text string")
    r = token_stats(df, "id", "text").collect()[0]
    assert r["n_tokens"] == 3
    assert r["n_chars_calc"] == 17


def test_langid_stopword_votes(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog of the house"),
         (2, "der hund und die katze ist das"),
         (3, "xyzzy qwerty")],
        "id long, text string",
    )
    got = {r["id"]: r["predicted_lang"] for r in langid(df, "id", "text").collect()}
    assert got == {1: "en", 2: "de", 3: "und"}


def test_expect_gate_fires_alert(spark):
    # Q1 shape: root URL must be 200 (sf_html_data.py:95-105)
    df = spark.createDataFrame([("https://root", 404), ("https://x", 200)], "url string, status int")
    sink = LoggingAlertSink()
    ok = expect(df, (F.col("url") == "https://root") & (F.col("status") != 200),
                "root-not-200", "root URL returned non-200", alert=sink)
    assert not ok
    assert sink.alerts == [("root-not-200", "root URL returned non-200")]


def test_expect_gate_passes_quiet(spark):
    df = spark.createDataFrame([("https://root", 200)], "url string, status int")
    sink = LoggingAlertSink()
    assert expect(df, (F.col("url") == "https://root") & (F.col("status") != 200),
                  "t", "m", alert=sink)
    assert sink.alerts == []


def test_pagerank_matches_hand_computed_ranks(spark):
    # a→{b,c,d}, b→c, c→a; d dangles (contributes nothing — simple variant).
    # Two iterations by hand at d=0.85 from rank_0 ≡ 1.0:
    #   rank_1 = a 1.0, b 0.433333, c 1.283333, d 0.433333
    #   rank_2 = a 1.240833, b 0.433333, c 0.801667, d 0.433333
    from ug_dwh_etl_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    got = {r["node"]: r["rank"] for r in pagerank(edges, iterations=2).collect()}
    expected = {"a": 1.240833, "b": 0.433333, "c": 0.801667, "d": 0.433333}
    assert set(got) == set(expected)
    for node, want in expected.items():
        assert abs(got[node] - want) < 1e-6, node


def test_e4_union_aligns_by_name_with_null_fill(spark):
    # U1: the html-images side has no status_code/size_bytes, the crawl
    # side no source_page/alt_text — union fills the gaps with NULLs.
    from ug_dwh_etl_spark.plans.reference_pipelines_ext import e4_images_inventory

    df = e4_images_inventory(spark, SF_DIR)
    rows = df.collect()
    assert rows
    html_rows = [r for r in rows if r["alt_text"] is not None]
    crawl_rows = [r for r in rows if r["status_code"] is not None]
    assert html_rows and crawl_rows
    assert all(r["status_code"] is None and r["size_bytes"] is None for r in html_rows)
    assert all(r["source_page"] is None and r["alt_text"] is None for r in crawl_rows)


def test_merge_asof_tolerance_edges(spark):
    """merge_asof edge cases the oracle fixture may not cover: no prior
    right row (NULL), exact same-day tie (right wins the <= comparison),
    tolerance boundary (inclusive), and staleness beyond tolerance."""
    import datetime as dt

    import pyspark.sql.functions as F

    from ug_dwh_etl_spark.operators.joins import merge_asof

    left = spark.createDataFrame(
        [
            (1, dt.datetime(2026, 1, 10), 100),  # before any right row
            (1, dt.datetime(2026, 2, 1), 101),   # same day as r1: matches
            (1, dt.datetime(2026, 5, 2), 102),   # 90 days after r1: inside
            (1, dt.datetime(2026, 5, 3), 103),   # 91 days: outside
            (2, dt.datetime(2026, 3, 1), 200),   # key with no right rows
        ],
        "k long, t timestamp, eid long",
    )
    right = spark.createDataFrame(
        [(1, dt.datetime(2026, 2, 1), 7), (1, dt.datetime(2026, 2, 1), 9)],
        "k long, rt timestamp, oid long",
    )
    out = {
        r.eid: r.asof_oid
        for r in merge_asof(
            left, right, key="k", left_time="t", right_time="rt",
            left_vals=["eid"], right_vals=["oid"], tolerance_days=90,
        ).collect()
    }
    # tie on rt resolves to the larger oid (trailing right_vals ordering)
    assert out == {100: None, 101: 9, 102: 9, 103: None, 200: None}


def test_merge_asof_row_level_with_null_right_values(spark):
    """pandas merge_asof is ROW-level: the matched right row is chosen by
    time alone, and if one of its value columns is NULL the output keeps
    that NULL — it must NOT backfill from an older (backward) or later
    (forward) right row. Round-5 ADVICE flagged that the per-column
    independent carry diverged here; the single-struct carry fixes it.
    Also asserts the two directions return the SAME schema (forward used
    to leak the internal _tag column when tolerance_days is None)."""
    import datetime as dt

    from ug_dwh_etl_spark.operators.joins import merge_asof, merge_asof_forward

    left = spark.createDataFrame(
        [(1, dt.datetime(2026, 3, 15), 100)], "k long, t timestamp, eid long"
    )
    right = spark.createDataFrame(
        [
            (1, dt.datetime(2026, 3, 1), 7, "early"),
            (1, dt.datetime(2026, 3, 10), None, None),  # latest <= left
            (1, dt.datetime(2026, 3, 20), None, None),  # earliest >= left
            (1, dt.datetime(2026, 3, 25), 9, "late"),
        ],
        "k long, rt timestamp, oid long, tag string",
    )
    kw = dict(
        key="k", left_time="t", right_time="rt",
        left_vals=["eid"], right_vals=["oid", "tag"],
    )
    back = merge_asof(left, right, **kw)
    fwd = merge_asof_forward(left, right, **kw)
    b, f = back.collect()[0], fwd.collect()[0]
    # backward matches the 3-10 row (NULL values stay NULL, no backfill
    # from 3-1); forward matches 3-20 (no forward-fill from 3-25).
    assert (b.asof_oid, b.asof_tag) == (None, None)
    assert b.asof_t == dt.datetime(2026, 3, 10)
    assert (f.asof_oid, f.asof_tag) == (None, None)
    assert f.asof_t == dt.datetime(2026, 3, 20)
    assert back.columns == fwd.columns  # no _tag leak in either direction


def test_fast_hash_mode_runs_and_differs(spark):
    """HASH_MODE='fast' (xxhash64) must produce a working dedup pipeline
    — same shapes, different hash values — so the production switch
    can't rot. Oracle parity is only claimed for the default mode."""
    from ug_dwh_etl_spark.operators import hashing as H
    from ug_dwh_etl_spark.operators.dedup import doc_shingle_hashes, minhash_signatures

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "completely different text with other words entirely")],
        "doc_id long, text string",
    )
    base = {r.doc_id: r.sh for r in doc_shingle_hashes(df, "doc_id", "text").collect()}
    H.HASH_MODE = "fast"
    try:
        fast = doc_shingle_hashes(df, "doc_id", "text").collect()
        sigs = minhash_signatures(df, "doc_id", "text").collect()
    finally:
        H.HASH_MODE = "oracle"
    assert all(r.sh >= 0 for r in fast)  # bounded non-negative keys
    assert {r.sh for r in fast} != set(base.values())  # actually different fn
    by_id = {r.doc_id: tuple(r)[1:] for r in sigs}
    assert by_id[1] == by_id[2] != by_id[3]  # dup docs still collide


def test_heavy_hitters_exact_vs_freq_items_sketch(spark):
    """freqItems (Karp-style approximate frequent items) must return a
    SUPERSET of the exact phi-heavy-hitters — the sketch's one-sided
    guarantee; the exact query is the gold standard."""
    from ug_dwh_etl_spark.queries.registry import QUERIES, table

    sf = "/root/testdata/sf0.001"
    exact = {r.user_id for r in QUERIES["events_heavy_hitters"].fn(spark, sf).collect()}
    ev = table(spark, sf, "events")
    approx = set(ev.stat.freqItems(["user_id"], support=1.0 / 125).collect()[0][0])
    assert exact, "fixture should have at least one heavy hitter"
    assert exact <= approx
    # sketch can overshoot but never by more than the 1/support bound
    assert len(approx) <= 2 * 125


def test_connected_components_converged_beats_bounded_horizon(spark):
    from ug_dwh_etl_spark.operators.graph import (
        connected_components,
        connected_components_converged,
    )

    # path graph 0-1-2-...-40: diameter 40, so 3 bounded rounds CANNOT
    # finish labeling it — the star-contraction fixpoint must
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "src int, dst int"
    )
    got = {r.node: r.component for r in connected_components_converged(chain).collect()}
    assert got == {i: 0 for i in range(41)}
    bounded = {
        r.node: r.component for r in connected_components(chain, iterations=3).collect()
    }
    assert bounded != got  # the horizon twin genuinely can't

    # disjoint components + duplicate/reversed edges resolve to per-
    # component minimum ids
    e2 = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 2), (10, 11), (12, 11), (12, 11)], "src int, dst int"
    )
    got2 = {r.node: r.component for r in connected_components_converged(e2).collect()}
    assert got2 == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_join_view_delta_equals_view_diff(spark):
    # the delta term must be EXACTLY the new-view minus old-view rows
    import pyspark.sql.functions as F

    from ug_dwh_etl_spark.operators.ivm import join_view_delta, refresh_join_view

    a = spark.createDataFrame(
        [(1, "a1"), (2, "a2"), (3, "a3"), (2, "a4")], "k int, av string"
    )
    b = spark.createDataFrame([(1, "b1"), (2, "b2"), (4, "b4")], "k int, bv string")
    a_old, a_delta = a.filter("av < 'a3'"), a.filter("av >= 'a3'")
    b_old, b_delta = b.filter("k != 2"), b.filter("k = 2")

    full = a.join(b, "k")
    old = a_old.join(b_old, "k")
    delta = join_view_delta(a_old, a_delta, b_old, b_delta, "k")
    assert sorted(map(tuple, delta.collect())) == sorted(
        map(tuple, full.exceptAll(old).collect())
    )
    refreshed = refresh_join_view(a_old, a_delta, b_old, b_delta, "k")
    assert sorted(map(tuple, refreshed.collect())) == sorted(map(tuple, full.collect()))


def test_contract_check_flags_violations(spark):
    import pyspark.sql.functions as F

    from ug_dwh_etl_spark.operators.quality import contract_check

    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (2, 3.0), (None, 1.0)], "id int, v double"
    )
    got = {
        r.constraint_name: r.passed
        for r in contract_check(
            df,
            [
                ("id_not_null", F.count(F.when(F.col("id").isNull(), 1)) == 0),
                ("id_unique", F.count("id") == F.count_distinct("id")),
                ("v_positive", F.min("v") > 0),
                ("has_rows", F.count(F.lit(1)) > 0),
            ],
        ).collect()
    }
    assert got == {
        "id_not_null": False,
        "id_unique": False,
        "v_positive": False,
        "has_rows": True,
    }
