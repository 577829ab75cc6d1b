"""IVF ANN + Pandas-UDF cosine: recall against the exact baseline."""

from __future__ import annotations

from ug_dwh_etl_spark.operators.similarity import (
    N_CENTROIDS,
    cosine_topk,
    cosine_topk_pandas,
    ivf_assign,
    ivf_topk,
)

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_pandas_cosine_equals_native(spark):
    native = cosine_topk(_emb(spark), query_id=0, k=10).collect()
    arrow = cosine_topk_pandas(_emb(spark), query_id=0, k=10).collect()
    assert [(r.vec_id, r.cosine) for r in native] == [(r.vec_id, r.cosine) for r in arrow]


def test_ivf_assign_covers_all_clusters(spark):
    clusters = {r.cluster for r in ivf_assign(_emb(spark)).select("cluster").distinct().collect()}
    assert clusters <= set(range(N_CENTROIDS))
    assert len(clusters) >= 2  # seeded centroids actually partition the space


def test_ivf_topk_recall_vs_exact(spark):
    exact = {r.vec_id for r in cosine_topk(_emb(spark), query_id=0, k=10).collect()}
    approx = {r.vec_id for r in ivf_topk(_emb(spark), query_id=0, k=10, n_probe=2).collect()}
    # approximate search: require meaningful overlap with the exact top-10
    assert len(exact & approx) >= 3


def test_ivf_topk_prunes_to_the_query_clusters(spark):
    """Inline IVF search scores only the query's n_probe nearest
    clusters, and ranks them exactly as brute-force cosine restricted
    to those clusters would."""
    from pyspark.sql import functions as F

    from ug_dwh_etl_spark.operators.similarity import CENTROIDS

    emb = _emb(spark)
    qvec = [float(v) for v in emb.filter(F.col("vec_id") == 7).first().embedding]
    probe = sorted(
        range(N_CENTROIDS),
        key=lambda j: (sum((q - c) ** 2 for q, c in zip(qvec, CENTROIDS[j])), j),
    )[:2]
    clusters = {r.vec_id: r.cluster for r in ivf_assign(emb).select("vec_id", "cluster").collect()}

    got = [(r.vec_id, r.cosine) for r in ivf_topk(emb, 7, k=5, n_probe=2).collect()]
    assert len(got) == 5 and all(clusters[v] in probe for v, _ in got)
    in_probe = emb.filter(F.col("vec_id").isin([v for v, c in clusters.items() if c in probe]))
    want = [(r.vec_id, r.cosine) for r in cosine_topk(in_probe, query_id=7, k=5).collect()]
    assert got == want


def test_dequantize_roundtrip_bounded_error(spark):
    from ug_dwh_etl_spark.operators.similarity import dequantized_embeddings
    from ug_dwh_etl_spark.queries.registry import table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    dq = {r.vec_id: r.dqe for r in dequantized_embeddings(emb).collect()}
    orig = {r.vec_id: [float(x) for x in r.embedding] for r in emb.collect()}
    # per-dim quantization error is bounded by half a step of the dim's range
    import itertools
    dims = len(next(iter(orig.values())))
    lo = [min(v[i] for v in orig.values()) for i in range(dims)]
    hi = [max(v[i] for v in orig.values()) for i in range(dims)]
    for vid, vec in itertools.islice(orig.items(), 50):
        for i in range(dims):
            step = (hi[i] - lo[i]) / 255.0 or 1.0
            assert abs(dq[vid][i] - vec[i]) <= step / 2 + 1e-9


def test_kmeans_step_invariants(spark):
    from ug_dwh_etl_spark.operators.similarity import kmeans_step

    emb = _emb(spark)
    n_total = emb.count()
    rows = kmeans_step(emb).collect()
    assert rows and len(rows) <= N_CENTROIDS
    assert sum(r.n_vecs for r in rows) == n_total
    for r in rows:
        assert r.inertia >= 0.0
        assert r.shift2 >= -1e-9, "updated centroid can't be closer than itself"
        assert r.new_norm2 >= 0.0
        assert 0 <= r.n_moved <= r.n_vecs
    # Lloyd monotonicity: an update step must move at least one centroid
    # (seed centroids are random, data means are not)
    assert any(r.shift2 > 0 for r in rows)


def test_binary_sketch_pack_and_hamming(spark):
    """Known sign patterns pack into the expected words; popcount(xor)
    gives the true bit disagreement count."""
    import pyspark.sql.functions as F
    from ug_dwh_etl_spark.operators.similarity import binary_sketches

    v1 = [1.0] * 64                      # all bits set
    v2 = [1.0] * 32 + [-1.0] * 32        # lo set, hi clear
    v3 = [-1.0] + [1.0] * 63             # bit 1 clear
    df = spark.createDataFrame(
        [(1, v1), (2, v2), (3, v3)], "vec_id long, embedding array<double>"
    )
    sk = {r.vec_id: (r.lo, r.hi) for r in binary_sketches(df).collect()}
    assert sk[1] == (0xFFFFFFFF, 0xFFFFFFFF)
    assert sk[2] == (0xFFFFFFFF, 0)
    assert sk[3] == (0xFFFFFFFE, 0xFFFFFFFF)
    ham = lambda a, b: bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")  # noqa: E731
    assert ham(sk[1], sk[2]) == 32
    assert ham(sk[1], sk[3]) == 1
    assert ham(sk[2], sk[3]) == 33
