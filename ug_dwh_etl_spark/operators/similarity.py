"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k against a query vector. The
  dot product is a JVM-side ``aggregate(zip_with(...))`` fold — no
  Python in the hot path; norms are computed once per row inside
  codegen. At cluster scale this is an embarrassingly-parallel scan:
  no shuffle except the final TakeOrdered(k).
- ``srp_bucket`` / ``ann_topk``: signed-random-projection LSH. Each
  vector gets a b-bit bucket from the signs of b fixed ±1 hyperplanes;
  ANN search only scans the query's bucket. Hyperplanes are seeded
  constants so the DuckDB oracle computes identical buckets. At 100 TB
  the bucket column is precomputed at ingest and the table is
  partitioned/bucketed by it, so a query touches 1/2^b of the data.
"""

from __future__ import annotations

import functools
import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

EMBED_DIM = 64
N_HYPERPLANES = 8

_rng = random.Random(7)
HYPERPLANES: list[list[int]] = [
    [_rng.choice((-1, 1)) for _ in range(EMBED_DIM)] for _ in range(N_HYPERPLANES)
]


def dot_sql(a: str, b: str) -> str:
    """Dot product as ONE SQL expression string.

    Expression trees here are built as SQL text, not composed Column
    objects: a 64-element literal array built with ``F.array(*lits)``
    costs ~65 py4j round-trips, and the IVF plan needs 16 of them plus
    folds — measured 2.5s of DataFrame BUILD time before any execution.
    ``F.expr`` parses the whole thing in a single call. Fold order is
    sequential left-to-right, matching DuckDB's list_dot_product."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> double(x) * double(y)), "
        f"cast(0.0 as double), (acc, v) -> acc + v)"
    )


def cosine_sql(a: str, b: str) -> str:
    return f"({dot_sql(a, b)} / (sqrt({dot_sql(a, a)}) * sqrt({dot_sql(b, b)})))"


def duck_cosine_sql(a: str, b: str, digits: int = 6) -> str:
    """DuckDB-side cosine, rounded — the ORACLE twin of ``cosine_sql``.
    The rounding precision is part of the cross-engine tie-breaking
    contract (both engines must argmax over identically-rounded
    values), so every oracle that compares or ranks cosines should
    build the expression here rather than inline it."""
    d = "list_dot_product"
    return (
        f"ROUND({d}({a}, {b}) / (sqrt({d}({a}, {a})) * sqrt({d}({b}, {b}))), {digits})"
    )


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential left-to-right double fold — bitwise-identical to the
    oracle's list_dot_product accumulation order. Pass SQL strings for
    cheap plan construction (see ``dot_sql``)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(dot_sql(a, b))
    a = F.expr(a) if isinstance(a, str) else a
    b = F.expr(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(cosine_sql(a, b))
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def cosine_topk(embeddings: DataFrame, query_id: int, k: int = 10) -> DataFrame:
    """Exact top-k neighbors of the vector with ``vec_id == query_id``."""
    query = embeddings.filter(F.col("vec_id") == query_id).select(
        F.col("embedding").alias("q")
    )
    return (
        embeddings.filter(F.col("vec_id") != query_id)
        .crossJoin(F.broadcast(query))
        .select("vec_id", cosine("embedding", "q").alias("cos_raw"))
        .orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", F.round("cos_raw", 6).alias("cosine"))
    )


def _plane_sql(j: int) -> str:
    return "array(" + ", ".join(f"{float(s)!r}D" for s in HYPERPLANES[j]) + ")"


def srp_bucket_sql(embedding: str) -> str:
    """b-bit signed-random-projection bucket id as one SQL expression."""
    return " + ".join(
        f"(CASE WHEN {dot_sql(embedding, _plane_sql(j))} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(N_HYPERPLANES)
    )


def srp_bucket(embedding: Column | str) -> Column:
    if isinstance(embedding, str):
        return F.expr(srp_bucket_sql(embedding))
    bucket = F.lit(0)
    for j, plane in enumerate(HYPERPLANES):
        proj = dot(embedding, F.array(*[F.lit(float(s)) for s in plane]))
        bucket = bucket + F.when(proj > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket


def with_srp_buckets(embeddings: DataFrame) -> DataFrame:
    return embeddings.withColumn("bucket", srp_bucket("embedding"))


def ann_topk(embeddings: DataFrame, query_id: int, k: int = 10) -> DataFrame:
    """Approximate top-k: brute-force restricted to the query's SRP
    bucket. Recall is tested against ``cosine_topk`` in the test suite."""
    bucketed = with_srp_buckets(embeddings)
    query = bucketed.filter(F.col("vec_id") == query_id).select(
        F.col("embedding").alias("q"), F.col("bucket").alias("qbucket")
    )
    return (
        bucketed.crossJoin(F.broadcast(query))
        .filter((F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != query_id))
        .select("vec_id", cosine("embedding", "q").alias("cos_raw"))
        .orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", F.round("cos_raw", 6).alias("cosine"))
    )


# --- IVF (inverted-file) ANN ---------------------------------------------------
#
# The scale path beyond SRP bucketing: assign every vector to its nearest
# of K fixed centroids (at 100 TB the table is written partitioned/
# bucketed by that cluster id), then a query probes only the n_probe
# nearest clusters. Centroids here are seeded constants — a production
# build would k-means them offline — so the DuckDB oracle reproduces the
# exact assignment.

N_CENTROIDS = 8
_crng = random.Random(11)
CENTROIDS: list[list[float]] = [
    [round(_crng.uniform(-1.0, 1.0), 4) for _ in range(EMBED_DIM)] for _ in range(N_CENTROIDS)
]


def _centroid_sql(j: int) -> str:
    return "array(" + ", ".join(f"{v!r}D" for v in CENTROIDS[j]) + ")"


def centroid_dist_sql(embedding: str, j: int) -> str:
    """Squared L2 distance to centroid j as one SQL expression, expanded
    as |e|² − 2·e·c + |c|² with the |c|² term pre-folded to a constant."""
    c_norm2 = sum(v * v for v in CENTROIDS[j])
    return f"({dot_sql(embedding, embedding)} - 2.0D * {dot_sql(embedding, _centroid_sql(j))} + {c_norm2!r}D)"


def centroid_dist(embedding: Column | str, j: int) -> Column:
    if isinstance(embedding, str):
        return F.expr(centroid_dist_sql(embedding, j))
    c_norm2 = sum(v * v for v in CENTROIDS[j])
    c_lit = F.array(*[F.lit(v) for v in CENTROIDS[j]])
    return dot(embedding, embedding) - 2.0 * dot(embedding, c_lit) + F.lit(c_norm2)


def centroids_df(spark) -> DataFrame:
    """The 8-row centroid relation (cluster id only; distances are
    computed against the inlined literals)."""
    return spark.range(N_CENTROIDS).toDF("cluster")


@functools.lru_cache(maxsize=1)
def _ivf_dist_trees():
    """The K UN-ALIASED distance-fold expression trees, built ONCE per
    process: rebuilding them per call (K×64-term SQL parses through
    F.expr) measured ~0.2s of pure py4j/parser work — per MICRO-BATCH
    in the streaming semantic-dedup ingest, where ivf_assign runs
    inside foreachBatch (round-10 profile). Only the alias-free trees
    are cached: ``.alias()`` mints an exprId, and REUSING an aliased
    Column across plan branches (self-joins, the recall-curve sweep)
    duplicates exprIds inside one plan — measured ~0.5s of extra
    analyzer work on sim_ivf_recall_curve and a latent mis-resolution
    hazard. Fresh aliases per call are 8 cheap py4j calls."""
    return tuple(centroid_dist("embedding", j) for j in range(N_CENTROIDS))


def ivf_assign(embeddings: DataFrame) -> DataFrame:
    """Attach the nearest-centroid cluster id: argmin over the K
    distances, ties to the lower id — pure codegen, no shuffle. At
    ingest this is the partitioning column.

    The K distance folds are materialized as columns BEFORE the
    least/argmin chain: inlining them would re-evaluate each 64-element
    fold once per comparison (the lambda-CSE trap — see
    operators/dedup.py perf notes; this exact shape measured 24x slower
    inlined)."""
    dcols = [f"_d{j}" for j in range(N_CENTROIDS)]
    dists = [t.alias(dcols[j]) for j, t in enumerate(_ivf_dist_trees())]
    best = F.least(*[F.col(c) for c in dcols])
    cluster = None
    # first j whose distance equals the min == argmin with low-id ties
    for j in reversed(range(N_CENTROIDS)):
        cond = F.col(dcols[j]) == best
        cluster = (
            F.when(cond, F.lit(j))
            if cluster is None
            else F.when(cond, F.lit(j)).otherwise(cluster)
        )
    with_d = embeddings.select("*", *dists)
    return with_d.withColumn("cluster", cluster).drop(*dcols)


def ivf_topk(embeddings: DataFrame, query_id: int, k: int = 10, n_probe: int = 2) -> DataFrame:
    """IVF search: brute-force cosine restricted to the query's n_probe
    nearest clusters. Join plan: tiny (n_probe-row) cluster list
    broadcast against the cluster-pruned table — at scale with the table
    partitioned by cluster this is a partition-pruned scan of
    n_probe/K of the data."""
    from ug_dwh_etl_spark.operators.dedup import spread

    assigned = ivf_assign(spread(embeddings))
    # the query row never needs a cluster id — filter the RAW table so
    # the probe subtree doesn't re-run the full K-distance assignment
    query = embeddings.filter(F.col("vec_id") == query_id).select(
        F.col("embedding").alias("q")
    )
    # materialize the query's K distances once (8-row frame, trivial),
    # then rank — same CSE discipline as ivf_assign
    qd = query.select(
        F.expr(
            "array(" + ", ".join(centroid_dist_sql("q", j) for j in range(N_CENTROIDS)) + ")"
        ).alias("qdists")
    )
    probe = (
        centroids_df(embeddings.sparkSession)
        .crossJoin(F.broadcast(qd))
        .select(
            "cluster",
            F.element_at(F.col("qdists"), (F.col("cluster") + 1).cast("int")).alias("qdist"),
        )
        .orderBy("qdist", "cluster")
        .limit(n_probe)
        .select("cluster")
    )
    return (
        assigned.join(F.broadcast(probe), "cluster")
        .filter(F.col("vec_id") != query_id)
        .crossJoin(F.broadcast(query))
        .select("vec_id", cosine("embedding", "q").alias("cos_raw"))
        .orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", F.round("cos_raw", 6).alias("cosine"))
    )


# --- Pandas-UDF cosine (the Arrow-vectorized alternative path) -----------------

def cosine_topk_pandas(embeddings: DataFrame, query_id: int, k: int = 10) -> DataFrame:
    """Same result as ``cosine_topk`` via an Arrow-batched Pandas UDF —
    the path to use when the scorer is a real model/numpy kernel rather
    than an expressible column fold. numpy einsum computes a whole batch
    per Arrow transfer."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos_batch(e: pd.Series, q: pd.Series) -> pd.Series:
        em = np.stack(e.to_numpy())  # (batch, dim) float32
        qm = np.stack(q.to_numpy())
        num = np.einsum("ij,ij->i", em, qm, dtype=np.float64)
        den = np.sqrt(np.einsum("ij,ij->i", em, em, dtype=np.float64)) * np.sqrt(
            np.einsum("ij,ij->i", qm, qm, dtype=np.float64)
        )
        return pd.Series(num / den)

    query = embeddings.filter(F.col("vec_id") == query_id).select(
        F.col("embedding").alias("q")
    )
    return (
        embeddings.filter(F.col("vec_id") != query_id)
        .crossJoin(F.broadcast(query))
        .select("vec_id", cos_batch(F.col("embedding"), F.col("q")).alias("cos_raw"))
        .orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", F.round("cos_raw", 6).alias("cosine"))
    )


# --- oracle-side helpers -------------------------------------------------------

def sql_plane_literal(j: int) -> str:
    vals = ", ".join(f"{s}.0" for s in HYPERPLANES[j])
    return f"[{vals}]::DOUBLE[]"


def sql_centroid_literal(j: int) -> str:
    vals = ", ".join(repr(v) for v in CENTROIDS[j])
    return f"[{vals}]::DOUBLE[]"


def sql_centroid_dist(embedding_expr: str, j: int) -> str:
    c_norm2 = sum(v * v for v in CENTROIDS[j])
    return (
        f"(list_dot_product({embedding_expr}, {embedding_expr})"
        f" - 2.0 * list_dot_product({embedding_expr}, {sql_centroid_literal(j)})"
        f" + {c_norm2!r})"
    )


def knn_join(embeddings: DataFrame, query_mod: int, k: int = 3) -> DataFrame:
    """Batched exact k-NN join: top-k cosine neighbors for EVERY query
    vector (here the deterministic subset ``vec_id % query_mod == 0``)
    in one plan — the set-at-a-time primitive behind retrieval eval and
    near-dup mining, vs the single-query ``cosine_topk``.

    The query side broadcasts; the non-equi self-pairing is a
    block-nested-loop over the broadcast (the classic brute-force kNN
    join), then a per-query top-k window prunes to k rows. Scale path:
    corpus-side scan is one pass regardless of |Q|; when |Q| outgrows
    the broadcast limit, swap the broadcast for SRP-bucket co-grouping
    (``ann_topk``'s bucketing) with the same output contract."""
    return _knn_ranked(embeddings, "embedding", query_mod, k).select(
        "q_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round("cos_raw", 6).alias("cosine"),
    )


def _knn_ranked(vectors: DataFrame, vec_col: str, query_mod: int, k: int) -> DataFrame:
    """``(q_id, vec_id, cos_raw, rn)``: the ``k`` other vectors of
    ``vectors`` most cosine-similar to each query vector (``vec_id %
    query_mod == 0``) by ``vec_col``, ties broken by the lower vec_id."""
    from pyspark.sql import Window

    q = vectors.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("q_id"), F.col(vec_col).alias("qe")
    )
    scored = vectors.join(
        F.broadcast(q), F.col("vec_id") != F.col("q_id")
    ).select("q_id", "vec_id", cosine(vec_col, "qe").alias("cos_raw"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_raw"), F.asc("vec_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def _knn_recall(
    embeddings: DataFrame, approx: DataFrame, approx_col: str, query_mod: int, k: int
) -> DataFrame:
    """``(q_id, n_match, recall_at_<k>)``: how many of each query's exact
    top-k cosine neighbors the same search over ``approx.<approx_col>``
    finds too."""
    exact = _knn_ranked(embeddings, "embedding", query_mod, k).select(
        "q_id", F.col("vec_id").alias("neighbor_id")
    )
    am = _knn_ranked(approx, approx_col, query_mod, k).select(
        F.col("q_id").alias("mq"), F.col("vec_id").alias("mn_id")
    )
    return (
        exact.join(
            am,
            (F.col("q_id") == F.col("mq")) & (F.col("neighbor_id") == F.col("mn_id")),
            "left",
        )
        .groupBy("q_id")
        .agg(F.count("mn_id").alias("n_match"))
        .select(
            "q_id",
            "n_match",
            F.round(F.col("n_match") / float(k), 6).alias(f"recall_at_{k}"),
        )
    )


def dequantized_embeddings(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, dqe) — embeddings round-tripped through int8 scalar
    quantization (per-dim min/max, 256 levels) back to doubles: the
    representation an ANN index built on quantized storage actually
    searches. Per-dim stats are a dims-sized broadcast; vectors
    re-assemble with a sorted collect per id (one shuffle)."""
    flat = embeddings.select(
        F.col(id_col),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos0", "v"),
    ).select(id_col, (F.col("pos0") + 1).cast("long").alias("dim"), "v")
    dims = flat.groupBy("dim").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    step = F.when(F.col("mx") != F.col("mn"), (F.col("mx") - F.col("mn")) / 255.0)
    dq = flat.join(F.broadcast(dims), "dim").select(
        F.col(id_col),
        "dim",
        (
            F.col("mn")
            + F.coalesce(
                F.round((F.col("v") - F.col("mn")) / step) * step, F.lit(0.0)
            )
        ).alias("dv"),
    )
    return dq.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "dv"))), lambda s: s.dv
        ).alias("dqe")
    )


def quantized_knn_recall(
    embeddings: DataFrame, query_mod: int, k: int = 3
) -> DataFrame:
    """Recall@k of int8-quantized search against exact cosine — the
    measurement that justifies (or rejects) quantized storage before a
    100 TB index build, sibling of the MinHash accuracy audit. Runs the
    identical kNN-join plan twice (original vs dequantized vectors) and
    counts per-query overlap of the neighbor sets."""
    return _knn_recall(embeddings, dequantized_embeddings(embeddings), "dqe", query_mod, k)


# --- product quantization (PQ) -------------------------------------------------
#
# The standard ANN compression: split the 64-dim vector into
# N_SUBSPACES=8 subvectors of 8 dims; per subspace, a 16-entry codebook;
# a vector stores one 4-bit code per subspace (8 bytes total vs 256).
# Codebook here is the "sampled codebook" variant — the subvectors of 16
# deterministically-chosen data vectors (lowest vec_ids) — so both
# engines derive identical codebooks FROM THE DATA with no k-means
# iteration to replicate (the production path would run a few Lloyd
# rounds per subspace over a sample; the dataflow below is unchanged).

N_SUBSPACES = 8
SUB_DIM = EMBED_DIM // N_SUBSPACES
N_CODES = 16


def _pq_flat(embeddings: DataFrame, id_alias: str = "vec_id") -> DataFrame:
    """(id, s, dim, v): vectors exploded to components tagged with their
    subspace s = (pos) // SUB_DIM."""
    return embeddings.select(
        F.col("vec_id").alias(id_alias),
        F.posexplode(F.col("embedding").cast("array<double>")),
    ).select(
        id_alias,
        (F.col("pos") / SUB_DIM).cast("int").alias("s"),
        F.col("pos").alias("dim"),
        F.col("col").alias("v"),
    )


def pq_codebook(embeddings: DataFrame) -> DataFrame:
    """(c, s, dim, w) — subvector components of the N_CODES seed
    vectors. Tiny (N_CODES × EMBED_DIM rows): broadcast everywhere."""
    seeds = embeddings.filter(F.col("vec_id") < N_CODES)
    return _pq_flat(seeds, "c").select("c", "s", "dim", F.col("v").alias("w"))


def pq_encode(embeddings: DataFrame) -> DataFrame:
    """(vec_id, s, code): per subspace, the codebook entry with minimum
    L2 distance to the vector's subvector (tie → lowest code id).

    One broadcast join of the exploded vectors against the codebook
    components (16× row blowup bounded by the codebook, never by the
    corpus), partial-aggregated per (vec_id, s, c), then a min_by per
    (vec_id, s). At 100 TB codes are computed at ingest and stored as
    8 bytes/vector — the scan side of every PQ query reads codes, not
    vectors."""
    flat = _pq_flat(embeddings)
    cb = pq_codebook(embeddings)
    d = (
        flat.join(F.broadcast(cb), ["s", "dim"])
        .groupBy("vec_id", "s", "c")
        .agg(F.sum((F.col("v") - F.col("w")) * (F.col("v") - F.col("w"))).alias("d2"))
    )
    # deterministic argmin: min (rounded d2, c) struct — rounding the
    # distance at 9 dp makes the comparison engine-exact
    pick = F.min(
        F.struct(F.round("d2", 9).alias("d2"), F.col("c").alias("c"))
    ).alias("m")
    return (
        d.groupBy("vec_id", "s").agg(pick).select("vec_id", "s", F.col("m.c").alias("code"))
    )


def pq_adc_topk(embeddings: DataFrame, query_id: int = 0, k: int = 10) -> DataFrame:
    """Asymmetric-distance top-k: the query stays exact, every corpus
    vector is its 8 PQ codes; approx distance = Σ_s lut[s][code_s] where
    lut holds the query-subvector-to-codebook distances (N_SUBSPACES ×
    N_CODES = 128 numbers, broadcast). The corpus-side work is a code
    lookup + 8-term sum — no vector arithmetic at all, which is why PQ
    scans beat raw-vector scans ~30× at memory-bandwidth-bound scale."""
    codes = pq_encode(embeddings)
    qflat = _pq_flat(embeddings.filter(F.col("vec_id") == query_id))
    cb = pq_codebook(embeddings)
    lut = (
        qflat.join(F.broadcast(cb), ["s", "dim"])
        .groupBy("s", "c")
        .agg(F.sum((F.col("v") - F.col("w")) * (F.col("v") - F.col("w"))).alias("qd2"))
    )
    approx = (
        codes.filter(F.col("vec_id") != query_id)
        .join(F.broadcast(lut), (codes.s == lut.s) & (codes.code == lut.c))
        .groupBy("vec_id")
        .agg(F.round(F.sum("qd2"), 6).alias("approx_d2"))
    )
    return approx.orderBy(F.asc("approx_d2"), F.asc("vec_id")).limit(k)


def sql_pq_ctes() -> str:
    """Shared oracle CTE chain: flat → codebook → per-(vec,s,c) distances
    → codes. Mirrors pq_encode exactly (same rounding, same tie rule)."""
    return f"""
    flat AS (
      -- integer // division: DuckDB's / is float division and its
      -- double->int cast ROUNDS (Spark's truncates) — s must floor
      SELECT vec_id,
             CAST((unnest(range(1, len(embedding) + 1)) - 1) // {SUB_DIM} AS INTEGER) AS s,
             unnest(range(1, len(embedding) + 1)) - 1 AS dim,
             unnest(embedding::DOUBLE[]) AS v
      FROM embeddings),
    cb AS (
      SELECT vec_id AS c, s, dim, v AS w FROM flat WHERE vec_id < {N_CODES}),
    d AS (
      SELECT f.vec_id, f.s, cb.c, SUM((f.v - cb.w) * (f.v - cb.w)) AS d2
      FROM flat f JOIN cb ON cb.s = f.s AND cb.dim = f.dim
      GROUP BY f.vec_id, f.s, cb.c),
    codes AS (
      SELECT vec_id, s, c AS code FROM (
        SELECT vec_id, s, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY ROUND(d2, 9), c) AS rn
        FROM d) WHERE rn = 1)"""


def ivfpq_topk(
    embeddings: DataFrame, query_id: int = 0, k: int = 10, n_probe: int = 2
) -> DataFrame:
    """IVF-PQ — the production ANN index shape: IVF narrows the scan to
    the query's n_probe nearest cells (at scale: partition pruning on
    the cluster column), PQ ranks the survivors in the compressed
    domain (code lookup + 8-term sum against the broadcast LUT). The
    full-precision vector is never touched after ingest; a real
    deployment re-ranks the top ~4k exactly, which is ivf_topk on the
    shortlist."""
    assigned = ivf_assign(embeddings).select("vec_id", "cluster")
    codes = pq_encode(embeddings)
    query = embeddings.filter(F.col("vec_id") == query_id).select(
        F.col("embedding").alias("q")
    )
    qd = query.select(
        F.expr(
            "array(" + ", ".join(centroid_dist_sql("q", j) for j in range(N_CENTROIDS)) + ")"
        ).alias("qdists")
    )
    probe = (
        centroids_df(embeddings.sparkSession)
        .crossJoin(F.broadcast(qd))
        .select(
            "cluster",
            F.element_at(F.col("qdists"), (F.col("cluster") + 1).cast("int")).alias("qdist"),
        )
        .orderBy("qdist", "cluster")
        .limit(n_probe)
        .select("cluster")
    )
    qflat = _pq_flat(embeddings.filter(F.col("vec_id") == query_id))
    cb = pq_codebook(embeddings)
    lut = (
        qflat.join(F.broadcast(cb), ["s", "dim"])
        .groupBy("s", "c")
        .agg(F.sum((F.col("v") - F.col("w")) * (F.col("v") - F.col("w"))).alias("qd2"))
    )
    cand_codes = (
        assigned.join(F.broadcast(probe), "cluster")
        .filter(F.col("vec_id") != query_id)
        .join(codes, "vec_id")
    )
    return (
        cand_codes.join(
            F.broadcast(lut), (cand_codes.s == lut.s) & (cand_codes.code == lut.c)
        )
        .groupBy("vec_id")
        .agg(F.round(F.sum("qd2"), 6).alias("approx_d2"))
        .orderBy(F.asc("approx_d2"), F.asc("vec_id"))
        .limit(k)
    )


def seed_assignment(embeddings: DataFrame, mind_col: str = "_mind") -> DataFrame:
    """(vec_id, embedding, <mind_col>, cluster): argmin over the K seed-
    centroid codegen distance folds, ties to the lowest cluster id — the
    ONE home of the cross-engine tie-break chain that ivf_assign,
    kmeans_step and kmeans_iterate all depend on (the reversed-when
    cascade == the oracle's ``CASE WHEN d_j = min THEN j``)."""
    dcols = [f"_d{j}" for j in range(N_CENTROIDS)]
    with_d = embeddings.select(
        "vec_id",
        "embedding",
        *[centroid_dist("embedding", j).alias(dcols[j]) for j in range(N_CENTROIDS)],
    )
    best = F.least(*[F.col(c) for c in dcols])
    cluster = None
    for j in reversed(range(N_CENTROIDS)):
        cond = F.col(dcols[j]) == best
        cluster = (
            F.when(cond, F.lit(j))
            if cluster is None
            else F.when(cond, F.lit(j)).otherwise(cluster)
        )
    return with_d.select(
        "vec_id", "embedding", best.alias(mind_col), cluster.alias("cluster")
    )


def kmeans_step(embeddings: DataFrame) -> DataFrame:
    """One full Lloyd iteration of k-means from the fixed seed centroids,
    entirely in DataFrame ops: assign (argmin over K codegen distance
    folds, no shuffle) -> recompute centroids (ONE partial-aggregated
    shuffle producing K rows: count, inertia, and EMBED_DIM per-dim
    means) -> reassign against the NEW centroids (K-row broadcast cross
    join + per-vector argmin) and count movers. Returns one row per
    non-empty cluster: n_vecs, inertia (sum of min sq-dists under the
    seed assignment), new_norm2 / shift2 of the updated centroid, and
    n_moved (vectors that would switch cluster next iteration — the
    Lloyd convergence signal).

    Scale notes: the per-dim means make the centroid update a single
    map-side-combined groupBy — the K x EMBED_DIM update state is a few
    KB regardless of corpus size, and the reassignment pass is a
    broadcast of those K rows, so iterating Lloyd is N scans with zero
    growth in shuffle width. New centroid coords are rounded to 6
    decimals BEFORE the reassignment distances so the argmin is
    bitwise-reproducible cross-engine (same discipline as the seeded
    IVF assignment); production would persist `assigned` across the two
    passes, partitioned by cluster.
    """
    from pyspark.sql import Window

    assigned = seed_assignment(embeddings)

    g = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.sum("_mind"), 3).alias("inertia"),
        *[
            F.expr(
                f"round(avg(double(element_at(embedding, {i + 1}))), 6)"
            ).alias(f"a{i}")
            for i in range(EMBED_DIM)
        ],
    )
    carr = "array(" + ", ".join(f"a{i}" for i in range(EMBED_DIM)) + ")"
    gc = g.selectExpr("cluster", "n_vecs", "inertia", f"{carr} AS c")

    cand = gc.select(F.col("cluster").alias("cand"), F.col("c").alias("cc"))
    dist = F.expr(
        f"{dot_sql('embedding', 'embedding')} - 2.0D * {dot_sql('embedding', 'cc')}"
        f" + {dot_sql('cc', 'cc')}"
    )
    w = Window.partitionBy("vec_id").orderBy("_dist", "cand")
    moved = (
        assigned.select("vec_id", "embedding", "cluster")
        .crossJoin(F.broadcast(cand))
        .select("vec_id", "cluster", "cand", dist.alias("_dist"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .groupBy("cluster")
        .agg(
            F.count(F.when(F.col("cand") != F.col("cluster"), F.lit(1))).alias(
                "n_moved"
            )
        )
    )

    seed_case = (
        "CASE cluster "
        + " ".join(f"WHEN {j} THEN {_centroid_sql(j)}" for j in range(N_CENTROIDS))
        + " END"
    )
    seednorm_case = (
        "CASE cluster "
        + " ".join(
            f"WHEN {j} THEN {sum(v * v for v in CENTROIDS[j])!r}D"
            for j in range(N_CENTROIDS)
        )
        + " END"
    )
    return gc.join(moved, "cluster").selectExpr(
        "cluster",
        "n_vecs",
        "inertia",
        f"round({dot_sql('c', 'c')}, 4) AS new_norm2",
        f"round({dot_sql('c', 'c')} - 2.0D * {dot_sql('c', f'({seed_case})')}"
        f" + ({seednorm_case}), 4) AS shift2",
        "n_moved",
    )


def matryoshka_knn_recall(
    embeddings: DataFrame, prefix_dim: int, query_mod: int, k: int = 3
) -> DataFrame:
    """Recall@k of PREFIX-truncated (Matryoshka-style) vectors against
    full-dimension exact cosine. Modern embedding models are trained so
    a dimension prefix is itself a usable embedding; searching the first
    ``prefix_dim`` dims cuts index flops/bytes by dim/prefix_dim, and
    this audit measures what that costs in neighbor fidelity — the same
    propose-then-measure discipline as quantized_knn_recall (int8) and
    dedup_minhash_accuracy. Identical kNN-join plan on both
    representations; deterministic (score, vec_id) tiebreaks."""
    trunc = embeddings.select(
        "vec_id", F.slice("embedding", 1, prefix_dim).alias("te")
    )
    return _knn_recall(embeddings, trunc, "te", query_mod, k)


# --- 1-bit (sign) binary quantization + Hamming search --------------------------
def binary_sketches(embeddings: DataFrame) -> DataFrame:
    """Pack each 64-dim embedding into TWO bigints of sign bits
    (v > 0), low dims 1-32 and high dims 33-64 — bit 63 of a single
    word would collide with the sign bit, and two words keep the pack
    portable to any dim count. Integer arithmetic end to end, so the
    sketch is engine-exact; 64 floats (256-512 B) become 16 B, the
    32x compression that makes a 100 TB vector corpus RAM-resident."""
    flat = embeddings.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "v"),
    ).select("vec_id", (F.col("pos0") + 1).cast("int").alias("dim"), "v")
    bit = (F.col("v") > 0).cast("long")
    return flat.groupBy("vec_id").agg(
        F.sum(
            F.when(
                F.col("dim") <= 32,
                bit * F.expr("shiftleft(1L, cast(dim - 1 as int))"),
            ).otherwise(F.lit(0))
        ).alias("lo"),
        F.sum(
            F.when(
                F.col("dim") > 32,
                bit * F.expr("shiftleft(1L, cast(dim - 33 as int))"),
            ).otherwise(F.lit(0))
        ).alias("hi"),
    )


def binary_knn_recall(
    embeddings: DataFrame, query_mod: int, k: int = 3
) -> DataFrame:
    """Recall@k of 1-bit Hamming search vs exact cosine — the audit for
    the most aggressive quantization tier (binary embeddings; sibling
    of quantized_knn_recall/int8 and the Matryoshka truncation audit).
    Hamming distance = popcount(xor) on the two packed words; ranking
    ties break on vec_id so the comparison is engine-exact."""
    from pyspark.sql import Window

    sk = binary_sketches(embeddings)
    q = sk.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    )
    hd = F.bit_count(F.col("lo").bitwiseXOR(F.col("qlo"))) + F.bit_count(
        F.col("hi").bitwiseXOR(F.col("qhi"))
    )
    w = Window.partitionBy("q_id").orderBy("hd", "vec_id")
    binq = (
        sk.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", hd.alias("hd"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(F.col("q_id").alias("mq"), F.col("vec_id").alias("mn_id"))
    )
    qv = embeddings.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("qe"),
    )
    scored = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    ).join(F.broadcast(qv), F.col("vec_id") != F.col("q_id"))
    we = Window.partitionBy("q_id").orderBy(F.desc("cos_raw"), F.asc("vec_id"))
    exact = (
        scored.select("q_id", "vec_id", cosine("e", "qe").alias("cos_raw"))
        .withColumn("rn", F.row_number().over(we))
        .filter(F.col("rn") <= k)
        .select("q_id", F.col("vec_id").alias("neighbor_id"))
    )
    return (
        exact.join(
            binq,
            (F.col("q_id") == F.col("mq")) & (F.col("neighbor_id") == F.col("mn_id")),
            "left",
        )
        .groupBy("q_id")
        .agg(F.count("mn_id").alias("n_match"))
        .select(
            "q_id",
            "n_match",
            F.round(F.col("n_match") / float(k), 6).alias(f"recall_at_{k}"),
        )
    )


def kmeans_iterate(embeddings: DataFrame, rounds: int = 3) -> DataFrame:
    """Lloyd's k-means ITERATED to a bounded round count with DYNAMIC
    centroids — the multi-round extension of ``kmeans_step`` (which
    fixes the seed centroids). Per round: per-cluster per-dim means
    (one map-side-combined K×EMBED_DIM shuffle), rounded to 6dp so both
    engines argmin over identical coordinates, eagerly checkpointed
    (8-row frame — the iterative-lineage rule), then one broadcast
    reassignment pass computing each vector's argmin over the K dynamic
    centroids via the sequential-fold dot product. Emits the
    convergence TRACE — (iteration, n_moved, inertia, n_clusters) — the
    numbers an offline clustering job logs per round at 100 TB; cost is
    rounds × (one scan + one K-row shuffle), shuffle width constant in
    corpus size."""
    assigned = seed_assignment(embeddings, mind_col="mind").localCheckpoint(
        eager=True
    )

    rows = []
    for i in range(1, rounds + 1):
        cents = (
            assigned.groupBy(F.col("cluster").alias("cand"))
            .agg(
                F.array(
                    *[
                        F.round(F.avg(F.col("embedding")[d]), 6)
                        for d in range(EMBED_DIM)
                    ]
                ).alias("c")
            )
            .localCheckpoint(eager=True)
        )
        re = assigned.select(
            "vec_id", "embedding", F.col("cluster").alias("old_cluster")
        ).crossJoin(F.broadcast(cents))
        dist = (
            dot("embedding", "embedding")
            - 2.0 * dot(F.col("embedding"), F.col("c"))
            + dot(F.col("c"), F.col("c"))
        )
        picked = (
            re.withColumn("_dist", dist)
            .groupBy("vec_id")
            .agg(
                F.min(F.struct(F.col("_dist"), F.col("cand"))).alias("m"),
                F.first("embedding").alias("embedding"),
                F.first("old_cluster").alias("old_cluster"),
            )
            .select(
                "vec_id",
                "embedding",
                F.col("m._dist").alias("mind"),
                F.col("m.cand").alias("cluster"),
                "old_cluster",
            )
            .localCheckpoint(eager=True)
        )
        stats = picked.agg(
            F.sum(
                F.when(F.col("cluster") != F.col("old_cluster"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_moved"),
            F.round(F.sum("mind"), 3).alias("inertia"),
            F.count_distinct("cluster").cast("long").alias("n_clusters"),
        ).select(F.lit(i).cast("long").alias("iteration"), "*")
        rows.append(stats)
        assigned = picked.select("vec_id", "embedding", "mind", "cluster")
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out
