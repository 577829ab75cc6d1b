"""Invariant tests for the round-5 wave-13 operators, on top of the
oracle gate (which proves cross-engine value equality but not the
semantic bounds asserted here)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

SF = "/root/testdata/sf0.001"


def _run(spark, name):
    from ug_dwh_etl_spark.queries.registry import QUERIES

    return QUERIES[name].fn(spark, SF)


def test_lsh_tuning_rows_are_consistent(spark):
    rows = sorted(
        _run(spark, "dedup_lsh_tuning_curve").collect(), key=lambda r: r.rows_per_band
    )
    assert [(r.bands, r.rows_per_band) for r in rows] == [
        (16, 1),
        (8, 2),
        (4, 4),
        (2, 8),
    ]
    n_true = {r.n_true_pairs for r in rows}
    assert len(n_true) == 1  # the truth set does not depend on the layout
    for r in rows:
        assert 0 <= r.true_positives <= r.n_candidates
        assert r.true_positives <= r.n_true_pairs
        if r.recall is not None:
            assert 0.0 <= r.recall <= 1.0
        if r.precision is not None:
            assert 0.0 <= r.precision <= 1.0
    # theoretical S-curve catch probability decreases with rows/band
    probs = [r.p_catch_at_threshold for r in rows]
    assert probs == sorted(probs, reverse=True)


@pytest.mark.parametrize(
    "name",
    [
        "dedup_lsh_tuning_curve",
        "dedup_ngram_jaccard",
        "dedup_containment_pairs",
        "dedup_minhash_accuracy",
        "dedup_bbit_minhash",
    ],
)
def test_lsh_tuning_single_document_matches_oracle(spark, tmp_path, name):
    """One document has no candidate pairs: each dedup plan agrees with
    its DuckDB oracle on that input (for the tuning curve: counts of 0,
    not NULL, exactly as the oracle's COUNT(*) reports them)."""
    import duckdb
    import pyarrow.parquet as pq

    from tools.check_oracle import normalize
    from ug_dwh_etl_spark.queries.registry import QUERIES

    docs = str(tmp_path / "documents.parquet")
    pq.write_table(pq.read_table(f"{SF}/documents.parquet").slice(0, 1), docs)
    q = QUERIES[name]
    got = q.fn(spark, str(tmp_path)).toPandas()
    if name == "dedup_lsh_tuning_curve":
        assert len(got) and (got.n_candidates == 0).all() and (got.true_positives == 0).all()

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs}'")
    want = con.execute(q.oracle).fetchdf()
    con.close()

    assert normalize(got).equals(normalize(want))


def test_langid_confusion_shares_sum_to_one(spark):
    rows = _run(spark, "text_langid_confusion").collect()
    by_true = {}
    for r in rows:
        assert r.n > 0 and 0.0 < r.share_of_true <= 1.0
        by_true.setdefault(r.true_lang, []).append(r.share_of_true)
    for lang, shares in by_true.items():
        assert abs(sum(shares) - 1.0) < 1e-4, lang


def test_label_propagation_assigns_every_node_once(spark):
    rows = _run(spark, "graph_label_propagation").collect()
    nodes = [r.node for r in rows]
    assert len(nodes) == len(set(nodes))
    node_set = set(nodes)
    # every community label is itself a node id (labels originate as ids)
    assert {r.community for r in rows} <= node_set
    # propagation actually merged something: fewer communities than nodes
    assert len({r.community for r in rows}) < len(nodes)


def test_position_attribution_credits_whole_journeys(spark):
    rows = _run(spark, "events_attribution_position").collect()
    assert rows
    total = sum(r.credit for r in rows)
    # each converted journey hands out exactly 1.0 of credit
    assert abs(total - round(total)) < 0.01
    for r in rows:
        assert r.channel != "purchase"
        assert r.credit > 0.0 and r.n_touches > 0


def test_modularity_is_bounded(spark):
    row = _run(spark, "graph_modularity").collect()[0]
    assert -0.5 <= row.modularity <= 1.0
    assert row.n_communities >= 1 and row.n_edges > 0


def test_did_identity_holds(spark):
    row = _run(spark, "events_uplift_did").collect()[0]
    assert row.n_events > 0
    est = (row.treat_post - row.treat_pre) - (row.control_post - row.control_pre)
    assert abs(est - row.did_estimate) < 1e-4


def test_forward_asof_picks_future_purchases(spark):
    rows = _run(spark, "asof_event_next_purchase").collect()
    assert rows
    n_matched = sum(1 for r in rows if r.next_purchase_id is not None)
    assert n_matched > 0
    for r in rows:
        assert (r.next_purchase_id is None) == (r.lead_days is None)
        if r.lead_days is not None:
            assert 0 <= r.lead_days <= 7  # forward + tolerance


def test_forward_asof_covers_every_touch(spark):
    from ug_dwh_etl_spark.queries.registry import table

    fwd = _run(spark, "asof_event_next_purchase").collect()
    n_touches = (
        table(spark, SF, "events").filter(F.col("event_type") != "purchase").count()
    )
    assert len(fwd) == n_touches  # one row per non-purchase event


def test_chunk_overlap_edges_actually_match(spark):
    from ug_dwh_etl_spark.queries.registry import table
    import ug_dwh_etl_spark.operators.hashing as H

    pairs = _run(spark, "dedup_chunk_overlap").collect()
    docs = {
        r.doc_id: r.toks
        for r in table(spark, SF, "documents")
        .select("doc_id", H.tokens(F.col("text")).alias("toks"))
        .collect()
    }
    for r in pairs:
        assert r.id_a != r.id_b
        assert " ".join(docs[r.id_a][-3:]) == r.boundary
        assert " ".join(docs[r.id_b][:3]) == r.boundary


def test_assortativity_is_a_correlation(spark):
    row = _run(spark, "graph_assortativity").collect()[0]
    assert row.n_edges > 0
    assert -1.0 <= row.assortativity <= 1.0


def test_ks_stat_is_a_sup_of_cdf_gaps(spark):
    row = _run(spark, "dq_ks_doclength").collect()[0]
    assert 0.0 <= row.ks_stat <= 1.0
    assert row.critical_05 > 0
    assert row.reject_same_dist == (row.ks_stat > row.critical_05)
    assert row.n_a + row.n_b > 0


def test_gini_is_bounded(spark):
    row = _run(spark, "customer_gini").collect()[0]
    assert 0.0 <= row.gini < 1.0
    assert row.n_customers > 0


def test_entropy_rate_below_ceiling(spark):
    row = _run(spark, "events_entropy_rate").collect()[0]
    assert 0.0 <= row.entropy_rate_bits <= row.max_entropy_bits + 1e-9
    assert row.n_states >= 2


def test_arrow_and_pandas_feature_paths_agree(spark):
    pandas_rows = {
        r.media_id: (r.byte_len, r.content_md5, r.f0)
        for r in _run(spark, "multimodal_features").collect()
    }
    arrow_rows = {
        r.media_id: (r.byte_len, r.content_md5, r.f0)
        for r in _run(spark, "multimodal_features_arrow").collect()
    }
    assert pandas_rows == arrow_rows


def test_binned_range_join_equals_plain(spark):
    plain = {(r.user_id, r.n_followups) for r in _run(spark, "join_range_followups").collect()}
    binned = {(r.user_id, r.n_followups) for r in _run(spark, "join_range_binned").collect()}
    assert plain == binned


def test_farthest_first_distances_decrease(spark):
    rows = sorted(_run(spark, "sim_farthest_first_centroids").collect(), key=lambda r: r.k)
    assert [r.k for r in rows] == [1, 2, 3, 4]
    assert rows[0].dist_sq == 0.0
    assert len({r.vec_id for r in rows}) == 4  # distinct seeds
    # coverage radius is non-increasing: each pick is the farthest point
    # from the set chosen so far, and the set only grows
    for a, b in zip(rows[1:], rows[2:]):
        assert b.dist_sq <= a.dist_sq + 1e-9


def test_pk_audit_covers_all_tables(spark):
    rows = {r.table_name: r for r in _run(spark, "dq_primary_key_audit").collect()}
    assert len(rows) == 10
    for t, r in rows.items():
        assert r.dup_rows == r.n_rows - r.n_keys
        assert r.is_unique == (r.dup_rows == 0), t
    # single-column surrogate keys are clean in the fixtures; lineitem's
    # composite (orderkey, linenumber) is NOT — the generator reuses
    # line numbers within an order, and the audit exists to catch
    # exactly that
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "events", "documents", "embeddings"):
        assert rows[t].is_unique, t
    assert not rows["lineitem"].is_unique


def test_epochs_budget_allocates_whole_budget(spark):
    rows = _run(spark, "corpus_epochs_for_budget").collect()
    total_tokens = sum(r.n_tokens for r in rows)
    allocated = sum(r.allocated_tokens for r in rows)
    # the whole 10x budget is handed out (up to per-row rounding)
    assert abs(allocated - 10.0 * total_tokens) <= len(rows)
    assert abs(sum(r.sample_weight for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert r.repeat_risk == (r.epochs > 4.0)


def test_embed_outliers_are_sorted_tail(spark):
    rows = _run(spark, "embed_outlier_docs").collect()
    assert len(rows) == 20
    dists = [r.dist_sq for r in rows]
    assert dists == sorted(dists, reverse=True)
    assert all(d >= 0 for d in dists)


def test_ltv_curve_is_monotone(spark):
    rows = sorted(_run(spark, "customer_ltv_curve").collect(), key=lambda r: r.month_age)
    assert [r.month_age for r in rows] == list(range(24))
    n = {r.n_customers for r in rows}
    assert len(n) == 1  # every customer appears in every age bucket
    vals = [r.avg_cum_revenue for r in rows]
    for a, b in zip(vals, vals[1:]):
        assert b >= a - 1e-6  # cumulative revenue never decreases


def test_bloom_fpr_is_calibrated(spark):
    row = _run(spark, "sketch_bloom_fpr").collect()[0]
    assert 0 < row.bits_set <= 3 * row.n_members
    assert row.n_probes == row.n_members
    assert 0.0 <= row.measured_fpr <= 1.0
    # measured FPR within 3x of the closed form (probe set is small)
    assert row.measured_fpr <= max(3 * row.theoretical_fpr, 0.01)


def test_freshness_audit_has_anchor_at_zero(spark):
    rows = _run(spark, "dq_freshness_audit").collect()
    assert {r.table_name for r in rows} == {"orders", "lineitem", "events"}
    assert min(r.staleness_days for r in rows) == 0  # the anchor table
    for r in rows:
        assert r.stale == (r.staleness_days > 30)


def test_backlog_buckets_partition_open_orders(spark):
    from ug_dwh_etl_spark.queries.registry import table

    rows = _run(spark, "orders_backlog_aging").collect()
    n_open = table(spark, SF, "orders").filter(F.col("o_orderstatus") == "O").count()
    assert sum(r.n_orders for r in rows) == n_open
    for r in rows:
        assert r.open_value > 0


def test_label_diversity_matches_naive_pairs(spark):
    import itertools

    from ug_dwh_etl_spark.queries.registry import table

    got = {r.label: (r.n_vectors, r.mean_pair_dist_sq)
           for r in _run(spark, "sim_label_diversity").collect()}
    vecs = {}
    for r in table(spark, SF, "embeddings").collect():
        vecs.setdefault(r.label, []).append([float(x) for x in r.embedding])
    for label, xs in vecs.items():
        n, mp = got[label]
        assert n == len(xs)
        if n < 2:
            assert mp is None
            continue
        total = sum(
            sum((a - b) ** 2 for a, b in zip(x, y))
            for x, y in itertools.combinations(xs, 2)
        )
        naive = 2.0 * total / (n * (n - 1))
        assert abs(naive - mp) < 1e-4, label


def test_peak_concurrency_bounds(spark):
    row = _run(spark, "events_peak_concurrency").collect()[0]
    assert 1 <= row.peak_concurrency <= row.n_sessions
    assert row.peak_ts is not None


def test_quality_dup_matrix_shares_sum_to_one(spark):
    rows = _run(spark, "corpus_quality_dup_matrix").collect()
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-4
    from ug_dwh_etl_spark.queries.registry import table

    assert sum(r.n for r in rows) == table(spark, SF, "documents").count()


def test_scd3_one_row_per_entity_and_change_flags(spark):
    rows = _run(spark, "history_scd3").collect()
    addrs = [r.address for r in rows]
    assert len(addrs) == len(set(addrs))
    for r in rows:
        if r.prev_metric is None:
            assert not r.changed
        else:
            assert r.changed == (r.current_metric != r.prev_metric)


def test_qi_generalization_meets_k_after_repair(spark):
    from ug_dwh_etl_spark.queries.registry import table

    rows = _run(spark, "privacy_generalize_qi").collect()
    n_cust = table(spark, SF, "customer").count()
    assert sum(r.n_rows for r in rows) == n_cust
    # every published NATION-level class still meets k (it was >= k
    # pre-repair by construction); generalized classes moved to region
    for r in rows:
        if r.qi_location.startswith("nation:"):
            assert not r.was_generalized
            assert r.n_rows >= 5
        else:
            assert r.was_generalized


def test_mode_matches_naive_recount(spark):
    from ug_dwh_etl_spark.queries.registry import table

    got = {r.o_orderpriority: (r.mode_returnflag, r.n_lines)
           for r in _run(spark, "agg_mode_returnflag").collect()}
    li = table(spark, SF, "lineitem").select("l_orderkey", "l_returnflag")
    orders = table(spark, SF, "orders").select("o_orderkey", "o_orderpriority")
    counts = {}
    for r in li.join(orders, li.l_orderkey == orders.o_orderkey).collect():
        counts.setdefault(r.o_orderpriority, {}).setdefault(r.l_returnflag, 0)
        counts[r.o_orderpriority][r.l_returnflag] += 1
    for prio, cs in counts.items():
        best = min(((-n, v) for v, n in cs.items()))
        assert got[prio] == (best[1], -best[0]), prio
