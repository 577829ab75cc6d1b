"""Similarity-search queries over the embeddings table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ug_dwh_etl_spark.operators.similarity import (
    N_CENTROIDS,
    N_HYPERPLANES,
    ann_topk,
    cosine_topk,
    cosine_topk_pandas,
    ivf_assign,
    ivf_topk,
    sql_centroid_dist,
    sql_plane_literal,
    with_srp_buckets,
)
from ug_dwh_etl_spark.queries.registry import register, table


# --- exact brute-force cosine top-k ------------------------------------------
# The exact top-10 cosine neighbors of vector 0: the oracle of both the
# native and the pandas-UDF cosine top-k.
COSINE_TOPK_SQL = """
    WITH q AS (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           ROUND(list_dot_product(embedding::DOUBLE[], q)
                 / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                    * sqrt(list_dot_product(q, q))), 6) AS cosine
    FROM embeddings, q
    WHERE vec_id != 0
    ORDER BY list_dot_product(embedding::DOUBLE[], q)
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product(q, q))) DESC, vec_id
    LIMIT 10
    """


@register("sim_cosine_topk", COSINE_TOPK_SQL)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_topk(table(spark, sf_dir, "embeddings"), query_id=0, k=10)


# --- SRP-LSH buckets -----------------------------------------------------------
def _bucket_sql() -> str:
    terms = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {sql_plane_literal(j)}) > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(N_HYPERPLANES)
    )
    return f"SELECT vec_id, {terms} AS bucket FROM embeddings"


@register("sim_srp_buckets", _bucket_sql())
def sim_srp_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_srp_buckets(table(spark, sf_dir, "embeddings")).select("vec_id", "bucket")


# --- ANN top-k within the query's bucket ------------------------------------------
def _ann_sql() -> str:
    terms = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {sql_plane_literal(j)}) > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(N_HYPERPLANES)
    )
    return f"""
    WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS e, {terms} AS bucket FROM embeddings),
    q AS (SELECT e AS qe, bucket AS qb FROM b WHERE vec_id = 0)
    SELECT vec_id,
           ROUND(list_dot_product(e, qe)
                 / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe))), 6) AS cosine
    FROM b, q
    WHERE bucket = qb AND vec_id != 0
    ORDER BY list_dot_product(e, qe)
             / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe))) DESC, vec_id
    LIMIT 10
    """


@register("sim_ann_topk", _ann_sql())
def sim_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_topk(table(spark, sf_dir, "embeddings"), query_id=0, k=10)


# --- Pandas-UDF cosine: same oracle as the native fold -------------------------
@register("sim_cosine_topk_pandas", COSINE_TOPK_SQL)
def sim_cosine_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Arrow-batched numpy kernel; must reproduce the JVM fold to 6 dp.
    return cosine_topk_pandas(table(spark, sf_dir, "embeddings"), query_id=0, k=10)


# The IVF oracles' SQL pieces: each vector's squared distance to every
# centroid (d0..), their minimum, the nearest-centroid CASE over them,
# and the query vector's distance to each centroid.
_IVF_DISTS = ", ".join(f"{sql_centroid_dist('e', j)} AS d{j}" for j in range(N_CENTROIDS))
_IVF_LEAST = f"LEAST({', '.join(f'd{j}' for j in range(N_CENTROIDS))})"
_IVF_CASE = " ".join(f"WHEN d{j} = m THEN {j}" for j in range(N_CENTROIDS))
_IVF_QDIST_ROWS = "\n      UNION ALL\n      ".join(
    f"SELECT {j} AS cluster, {sql_centroid_dist('qe', j)} AS qdist FROM q"
    for j in range(N_CENTROIDS)
)
# The probe of both IVF top-k queries: the _IVF_K nearest neighbors of
# vector _IVF_QUERY_ID among its _IVF_N_PROBE nearest clusters.
_IVF_QUERY_ID, _IVF_K, _IVF_N_PROBE = 0, 10, 2


# --- IVF cluster assignment -----------------------------------------------------
def _ivf_assign_sql() -> str:
    return f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    d AS (SELECT vec_id, {_IVF_DISTS} FROM base),
    m AS (SELECT vec_id, {_IVF_LEAST} AS m, * FROM d)
    SELECT vec_id, CASE {_IVF_CASE} END AS cluster FROM m
    """


@register("sim_ivf_clusters", _ivf_assign_sql())
def sim_ivf_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return ivf_assign(emb).select("vec_id", F.col("cluster").cast("int").alias("cluster"))


# --- IVF top-k (probe the 2 nearest clusters) -----------------------------------
def _ivf_topk_sql() -> str:
    return f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    d AS (SELECT vec_id, e, {_IVF_DISTS} FROM base),
    m AS (SELECT vec_id, e, {_IVF_LEAST} AS m, * EXCLUDE (vec_id, e) FROM d),
    a AS (SELECT vec_id, e, CASE {_IVF_CASE} END AS cluster FROM m),
    q AS (SELECT e AS qe FROM base WHERE vec_id = {_IVF_QUERY_ID}),
    qd AS (
      {_IVF_QDIST_ROWS}
    ),
    probe AS (SELECT cluster FROM qd ORDER BY qdist, cluster LIMIT {_IVF_N_PROBE})
    SELECT vec_id,
           ROUND(list_dot_product(e, qe)
                 / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe))), 6) AS cosine
    FROM a JOIN probe USING (cluster), q
    WHERE vec_id != {_IVF_QUERY_ID}
    ORDER BY list_dot_product(e, qe)
             / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe))) DESC, vec_id
    LIMIT {_IVF_K}
    """


@register("sim_ivf_topk", _ivf_topk_sql())
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_topk(
        table(spark, sf_dir, "embeddings"),
        query_id=_IVF_QUERY_ID,
        k=_IVF_K,
        n_probe=_IVF_N_PROBE,
    )


# --- centroid distance per label (grouped vector aggregation) ----------------------
@register(
    "sim_label_stats",
    """
    SELECT label, COUNT(*) AS n,
           ROUND(AVG(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6)
             AS avg_norm
    FROM embeddings
    GROUP BY label
    """,
)
def sim_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    from ug_dwh_etl_spark.operators.similarity import dot

    norm = F.sqrt(dot(F.col("embedding"), F.col("embedding")))
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(norm), 6).alias("avg_norm"),
    )


# --- batched exact kNN join (set-at-a-time retrieval) -----------------------------
def _knn_join_sql() -> str:
    cos = ("list_dot_product(e, qe) / (sqrt(list_dot_product(e, e))"
           " * sqrt(list_dot_product(qe, qe)))")
    return f"""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe
               FROM embeddings WHERE vec_id % 97 = 0),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    ranked AS (
      SELECT q_id, vec_id, {cos} AS cos_raw,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY {cos} DESC, vec_id) AS rn
      FROM q JOIN c ON vec_id <> q_id)
    SELECT q_id, vec_id AS neighbor_id, ROUND(cos_raw, 6) AS cosine
    FROM ranked WHERE rn <= 3
    """


@register("sim_knn_join", _knn_join_sql())
def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ug_dwh_etl_spark.operators.similarity import knn_join

    return knn_join(table(spark, sf_dir, "embeddings"), query_mod=97, k=3)


# --- grouped vector aggregation: per-label centroids ------------------------------
@register(
    "sim_label_centroids",
    """
    SELECT label, CAST(pos AS BIGINT) AS pos, ROUND(AVG(e[pos]), 6) AS c
    FROM (SELECT label, embedding::DOUBLE[] AS e,
                 unnest(generate_series(1, len(embedding))) AS pos
          FROM embeddings)
    GROUP BY label, pos
    """,
)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors — grouped vector MEAN, the building
    block of k-means/IVF training — computed as posexplode + a
    (label, position) hash aggregate, then emitted in exploded form
    (label, pos, c). The aggregate is partial map-side, so the shuffle
    carries one partial sum per (label, pos, partition) — dimensions x
    labels rows, independent of corpus size; re-assembling array
    centroids is a collect_list over the tiny result when a consumer
    needs them (operators/similarity.py centroids_df shows the
    assembled form)."""
    emb = table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "pos0", "v"
            ),
        )
        .groupBy("label", (F.col("pos0") + 1).cast("long").alias("pos"))
        .agg(F.round(F.avg("v"), 6).alias("c"))
    )


@register(
    "sim_quantize_int8",
    """
    WITH flat AS (
      -- parallel unnests of equal-length lists zip row-wise in DuckDB
      SELECT vec_id,
             unnest(range(1, len(embedding) + 1)) AS dim,
             unnest(embedding::DOUBLE[]) AS v
      FROM embeddings),
    dims AS (SELECT dim, MIN(v) AS mn, MAX(v) AS mx FROM flat GROUP BY dim),
    q AS (
      SELECT f.vec_id, f.dim,
             CAST(ROUND(255.0 * (f.v - d.mn) / NULLIF(d.mx - d.mn, 0.0)) AS BIGINT) AS qv
      FROM flat f JOIN dims d USING (dim))
    SELECT vec_id,
           array_to_string(list(coalesce(CAST(qv AS VARCHAR), 'null')
                                ORDER BY dim), ',') AS qvec
    FROM q GROUP BY vec_id
    """,
)
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of the embedding column — the 4-8x
    storage compression step before a 100 TB ANN index build. Per-dim
    min/max is a dims-sized aggregate (8 rows) broadcast back onto the
    flattened relation; quantized vectors re-assemble with a sorted
    collect per id. Two shuffles total (dim stats, re-assembly); the
    dims join is a broadcast, never a shuffle. The quantized vector is
    emitted as a comma-joined STRING (house rule for array-valued
    results, same as agg_collect_sorted): gate canonicalizers sort
    cells, and raw array cells are unsortable pandas-side."""
    emb = table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "v"),
    ).select("vec_id", (F.col("pos0") + 1).cast("long").alias("dim"), "v")
    dims = flat.groupBy("dim").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    q = flat.join(F.broadcast(dims), "dim").select(
        "vec_id",
        "dim",
        F.round(
            255.0 * (F.col("v") - F.col("mn"))
            / F.when(F.col("mx") != F.col("mn"), F.col("mx") - F.col("mn"))
        )
        .cast("long")
        .alias("qv"),
    )
    return q.groupBy("vec_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "qv"))),
                lambda s: s.qv.cast("string"),
            ),
            ",",
            "null",
        ).alias("qvec")
    )


# The recall audits' neighbor count and the Matryoshka prefix width.
_RECALL_K = 3
_MATRYOSHKA_DIM = 16


def _knn_stage_sql(src: str) -> str:
    """The top-``_RECALL_K`` cosine neighbors ``(q_id, neighbor_id)`` of
    every query vector (``vec_id % 97 = 0``) among the vectors
    ``(vec_id, e)`` of relation ``src``."""
    cos = ("list_dot_product(e, qe) / (sqrt(list_dot_product(e, e))"
           " * sqrt(list_dot_product(qe, qe)))")
    return f"""
      SELECT q_id, vec_id AS neighbor_id FROM (
        SELECT q.vec_id AS q_id, {src}.vec_id, {cos} AS cos_raw,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY {cos} DESC, {src}.vec_id) AS rn
        FROM (SELECT vec_id, e AS qe FROM {src} WHERE vec_id % 97 = 0) q
          JOIN {src} ON {src}.vec_id <> q.vec_id)
      WHERE rn <= {_RECALL_K}"""


def _recall_select_sql(approx: str) -> str:
    """Per query, how many of its ``exact`` neighbors the ``approx``
    neighbor relation finds too."""
    return f"""SELECT e.q_id, CAST(COUNT(m.neighbor_id) AS BIGINT) AS n_match,
           ROUND(COUNT(m.neighbor_id) / {_RECALL_K}.0, 6) AS recall_at_{_RECALL_K}
    FROM exact e
      LEFT JOIN {approx} m ON m.q_id = e.q_id AND m.neighbor_id = e.neighbor_id
    GROUP BY e.q_id"""


def _quantize_recall_sql() -> str:
    return f"""
    WITH flat AS (
      SELECT vec_id,
             unnest(range(1, len(embedding) + 1)) AS dim,
             unnest(embedding::DOUBLE[]) AS v
      FROM embeddings),
    dims AS (SELECT dim, MIN(v) AS mn, MAX(v) AS mx FROM flat GROUP BY dim),
    dqflat AS (
      SELECT f.vec_id, f.dim,
             d.mn + COALESCE(ROUND((f.v - d.mn) / (NULLIF(d.mx - d.mn, 0.0) / 255.0))
                             * (NULLIF(d.mx - d.mn, 0.0) / 255.0), 0.0) AS dv
      FROM flat f JOIN dims d USING (dim)),
    dq AS (SELECT vec_id, list(dv ORDER BY dim) AS e FROM dqflat GROUP BY vec_id),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    exact AS ({_knn_stage_sql('c')}),
    quant AS ({_knn_stage_sql('dq')})
    {_recall_select_sql('quant')}
    """


@register("sim_quantize_recall", _quantize_recall_sql())
def sim_quantize_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of int8-quantized vectors vs exact cosine for the
    deterministic query subset — the accuracy audit that justifies
    quantized storage, sibling of dedup_minhash_accuracy. Identical
    kNN-join plan on both representations; deterministic neighbor
    tiebreak keeps the comparison engine-exact."""
    from ug_dwh_etl_spark.operators.similarity import quantized_knn_recall

    return quantized_knn_recall(
        table(spark, sf_dir, "embeddings"), query_mod=97, k=_RECALL_K
    )


# --- per-dimension distribution audit (feature normalization stats) -----------
@register(
    "embed_dim_zscore",
    """
    WITH flat AS (
      SELECT vec_id,
             unnest(range(1, len(embedding) + 1)) AS dim,
             unnest(embedding::DOUBLE[]) AS v
      FROM embeddings),
    stats AS (
      SELECT dim, AVG(v) AS mu, stddev_pop(v) AS sigma
      FROM flat GROUP BY dim)
    SELECT f.dim,
           ROUND(s.mu, 6) AS mean,
           ROUND(s.sigma, 6) AS std,
           CAST(SUM(CASE WHEN s.sigma > 0
                          AND ABS((f.v - s.mu) / s.sigma) > 3.0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM flat f JOIN stats s USING (dim)
    GROUP BY f.dim, s.mu, s.sigma
    """,
)
def embed_dim_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/std of the embedding matrix plus |z| > 3
    outlier counts — the stats feeding feature normalization (and the
    sanity check that catches a broken encoder dimension).

    posexplode → one groupBy(dim) for the 64-row stats table, broadcast
    back onto the exploded scan for the outlier count: at 100 TB the
    stats stay dim-sized and the second pass is a map + re-agg on the
    same 64 keys."""
    emb = table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>"))
    ).select("vec_id", (F.col("pos") + 1).alias("dim"), F.col("col").alias("v"))
    stats = flat.groupBy("dim").agg(
        F.avg("v").alias("mu"), F.stddev_pop("v").alias("sigma")
    )
    outlier = (
        (F.col("sigma") > 0)
        & (F.abs((F.col("v") - F.col("mu")) / F.col("sigma")) > 3.0)
    ).cast("long")
    return (
        flat.join(F.broadcast(stats), "dim")
        .groupBy("dim", "mu", "sigma")
        .agg(F.sum(outlier).alias("n_outliers"))
        .select(
            "dim",
            F.round("mu", 6).alias("mean"),
            F.round("sigma", 6).alias("std"),
            "n_outliers",
        )
    )


# --- product quantization ------------------------------------------------------
def _pq_codes_sql() -> str:
    from ug_dwh_etl_spark.operators.similarity import sql_pq_ctes

    return f"""
    WITH {sql_pq_ctes()}
    SELECT vec_id, CAST(s AS INTEGER) AS s, CAST(code AS BIGINT) AS code
    FROM codes
    """


@register("sim_pq_codes", _pq_codes_sql())
def sim_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encoding of the corpus: 8 subspaces × 16-entry sampled
    codebook → one 4-bit code per subspace (8 bytes/vector vs 256). The
    ingest-time compression step of a PQ/IVF-PQ ANN index."""
    from ug_dwh_etl_spark.operators.similarity import pq_encode

    emb = table(spark, sf_dir, "embeddings")
    return pq_encode(emb).select(
        "vec_id", F.col("s").cast("int").alias("s"), F.col("code").cast("long").alias("code")
    )


def _pq_topk_sql(query_id: int = 0, k: int = 10) -> str:
    from ug_dwh_etl_spark.operators.similarity import sql_pq_ctes

    return f"""
    WITH {sql_pq_ctes()},
    lut AS (
      SELECT f.s, cb.c, SUM((f.v - cb.w) * (f.v - cb.w)) AS qd2
      FROM flat f JOIN cb ON cb.s = f.s AND cb.dim = f.dim
      WHERE f.vec_id = {query_id}
      GROUP BY f.s, cb.c)
    SELECT vec_id, ROUND(SUM(qd2), 6) AS approx_d2
    FROM codes JOIN lut ON lut.s = codes.s AND lut.c = codes.code
    WHERE vec_id != {query_id}
    GROUP BY vec_id
    ORDER BY ROUND(SUM(qd2), 6), vec_id
    LIMIT {k}
    """


@register("sim_pq_topk", _pq_topk_sql())
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance PQ top-k: exact query subvectors against the
    128-entry distance lookup table; corpus-side cost is a code lookup
    plus an 8-term sum — no vector arithmetic on the scan side at all."""
    from ug_dwh_etl_spark.operators.similarity import pq_adc_topk

    return pq_adc_topk(table(spark, sf_dir, "embeddings"), query_id=0, k=10)


def _ivfpq_sql() -> str:
    from ug_dwh_etl_spark.operators.similarity import sql_pq_ctes

    return f"""
    WITH {sql_pq_ctes()},
    base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    dd AS (SELECT vec_id, e, {_IVF_DISTS} FROM base),
    m AS (SELECT vec_id, e, {_IVF_LEAST} AS m, * EXCLUDE (vec_id, e) FROM dd),
    assigned AS (SELECT vec_id, CASE {_IVF_CASE} END AS cluster FROM m),
    q AS (SELECT e AS qe FROM base WHERE vec_id = {_IVF_QUERY_ID}),
    qd AS (
      {_IVF_QDIST_ROWS}
    ),
    probe AS (SELECT cluster FROM qd ORDER BY qdist, cluster LIMIT {_IVF_N_PROBE}),
    lut AS (
      SELECT f.s, cb.c, SUM((f.v - cb.w) * (f.v - cb.w)) AS qd2
      FROM flat f JOIN cb ON cb.s = f.s AND cb.dim = f.dim
      WHERE f.vec_id = {_IVF_QUERY_ID}
      GROUP BY f.s, cb.c)
    SELECT c.vec_id, ROUND(SUM(l.qd2), 6) AS approx_d2
    FROM assigned a
      JOIN probe USING (cluster)
      JOIN codes c ON c.vec_id = a.vec_id
      JOIN lut l ON l.s = c.s AND l.c = c.code
    WHERE a.vec_id != {_IVF_QUERY_ID}
    GROUP BY c.vec_id
    ORDER BY ROUND(SUM(l.qd2), 6), c.vec_id
    LIMIT {_IVF_K}
    """


@register("sim_ivfpq_topk", _ivfpq_sql())
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: cluster-pruned candidate set ranked in the compressed
    domain — the composition a real 100 TB ANN index runs (IVF =
    partition pruning, PQ = 8-byte codes + broadcast LUT, exact re-rank
    of a shortlist as the optional final stage)."""
    from ug_dwh_etl_spark.operators.similarity import ivfpq_topk

    return ivfpq_topk(
        table(spark, sf_dir, "embeddings"),
        query_id=_IVF_QUERY_ID,
        k=_IVF_K,
        n_probe=_IVF_N_PROBE,
    )


# --- one Lloyd iteration of k-means (centroid update + movement count) ---------
def _kmeans_step_sql() -> str:
    from ug_dwh_etl_spark.operators.similarity import (
        CENTROIDS,
        EMBED_DIM,
        sql_centroid_literal,
    )

    case = " ".join(f"WHEN d{j} = mind THEN {j}" for j in range(N_CENTROIDS))
    avgs = ", ".join(f"ROUND(AVG(e[{i + 1}]), 6) AS a{i}" for i in range(EMBED_DIM))
    clist = "list_value(" + ", ".join(f"a{i}" for i in range(EMBED_DIM)) + ")"
    seed_case = (
        "CASE cluster "
        + " ".join(f"WHEN {j} THEN {sql_centroid_literal(j)}" for j in range(N_CENTROIDS))
        + " END"
    )
    seednorm_case = (
        "CASE cluster "
        + " ".join(
            f"WHEN {j} THEN {sum(v * v for v in CENTROIDS[j])!r}"
            for j in range(N_CENTROIDS)
        )
        + " END"
    )
    return f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    d AS (SELECT vec_id, e, {_IVF_DISTS} FROM base),
    m AS (SELECT vec_id, e, {_IVF_LEAST} AS mind, * EXCLUDE (vec_id, e) FROM d),
    a AS (SELECT vec_id, e, mind, CASE {case} END AS cluster FROM m),
    g AS (SELECT cluster, COUNT(*) AS n_vecs, ROUND(SUM(mind), 3) AS inertia, {avgs}
          FROM a GROUP BY cluster),
    gc AS (SELECT cluster, n_vecs, inertia, {clist} AS c FROM g),
    second AS (
      SELECT a.vec_id, a.cluster AS old_cluster, gc.cluster AS cand,
             list_dot_product(a.e, a.e) - 2 * list_dot_product(a.e, gc.c)
               + list_dot_product(gc.c, gc.c) AS dist
      FROM a CROSS JOIN gc),
    re AS (SELECT vec_id, old_cluster, cand,
                  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cand) AS rn
           FROM second),
    mv AS (SELECT old_cluster AS cluster,
                  COUNT(CASE WHEN cand != old_cluster THEN 1 END) AS n_moved
           FROM re WHERE rn = 1 GROUP BY old_cluster)
    SELECT cluster, n_vecs, inertia,
           ROUND(list_dot_product(c, c), 4) AS new_norm2,
           ROUND(list_dot_product(c, c) - 2 * list_dot_product(c, {seed_case})
                 + {seednorm_case}, 4) AS shift2,
           n_moved
    FROM gc JOIN mv USING (cluster)
    """


@register("sim_kmeans_step", _kmeans_step_sql())
def sim_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration from the seeded IVF centroids — see
    operators.similarity.kmeans_step for the plan shape. The reference
    keeps no clustering of its own (its ML surface lives in BigQuery
    per SURVEY.md); this is the Spark-native k-means building block the
    IVF index's 'production would k-means offline' note points at."""
    from ug_dwh_etl_spark.operators.similarity import kmeans_step

    return kmeans_step(table(spark, sf_dir, "embeddings"))


# --- Matryoshka prefix-truncation recall audit --------------------------------
def _matryoshka_recall_sql() -> str:
    return f"""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    t AS (SELECT vec_id, list_slice(embedding::DOUBLE[], 1, {_MATRYOSHKA_DIM}) AS e
          FROM embeddings),
    exact AS ({_knn_stage_sql('c')}),
    approx AS ({_knn_stage_sql('t')})
    {_recall_select_sql('approx')}
    """


@register("sim_matryoshka_recall", _matryoshka_recall_sql())
def sim_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of 16-dim prefix search vs the full 64 dims — see
    operators.similarity.matryoshka_knn_recall."""
    from ug_dwh_etl_spark.operators.similarity import matryoshka_knn_recall

    return matryoshka_knn_recall(
        table(spark, sf_dir, "embeddings"),
        prefix_dim=_MATRYOSHKA_DIM,
        query_mod=97,
        k=_RECALL_K,
    )


# --- top principal component via power iteration -------------------------------
def _pca_power_sql(iters: int = 2) -> str:
    from ug_dwh_etl_spark.operators.similarity import EMBED_DIM

    seed = "[" + ", ".join("1.0" for _ in range(EMBED_DIM)) + "]::DOUBLE[]"
    parts = [
        f"""base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    v0 AS (SELECT {seed} AS v)"""
    ]
    prev = "v0"
    for it in range(1, iters + 1):
        parts.append(f"""s{it} AS (
      SELECT vec_id, e, list_dot_product(e, v) AS s FROM base, {prev}),
    w{it} AS (
      SELECT dim, ROUND(SUM(ev * s), 6) AS w
      FROM (SELECT s, unnest(range(1, len(e) + 1)) AS dim, unnest(e) AS ev
            FROM s{it})
      GROUP BY dim),
    n{it} AS (SELECT sqrt(SUM(w * w)) AS nrm FROM w{it}),
    v{it} AS (SELECT list(w / nrm ORDER BY dim) AS v FROM w{it}, n{it})""")
        prev = f"v{it}"
    return f"""
    WITH {','.join(parts)},
    ray AS (
      SELECT SUM(list_dot_product(e, v) * list_dot_product(e, v)) AS num,
             COUNT(*) AS n
      FROM base, v{iters})
    SELECT dim, ROUND(w / nrm, 5) AS loading,
           ROUND((SELECT num / n FROM ray), 2) AS variance_along
    FROM w{iters}, n{iters}
    """


@register("sim_pca_power_iteration", _pca_power_sql())
def sim_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding matrix by POWER
    ITERATION — distributed linear algebra in DataFrame ops: each step
    is s = X·v (a per-row fold against the broadcast 64-vector) followed
    by w = Xᵀs (posexplode + one partial-aggregated groupBy(dim) to 64
    rows), so an iteration costs one corpus scan and one dim-sized
    shuffle; the covariance matrix is never materialized. Per-step
    coordinates round to 6 dp before renormalization (the same
    cross-engine determinism discipline as kmeans_step), and the output
    reports loadings plus the Rayleigh quotient (variance along the
    direction, the eigenvalue estimate)."""
    from ug_dwh_etl_spark.operators.similarity import EMBED_DIM, dot

    emb = table(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", F.expr("transform(embedding, x -> double(x))").alias("e"))
    v = None  # None => all-ones seed handled via literal
    seed = F.array(*[F.lit(1.0) for _ in range(EMBED_DIM)])
    vcol = seed
    for _ in range(2):
        vdf = (
            v
            if v is not None
            else base.sparkSession.range(1).select(vcol.alias("v"))
        )
        s = base.crossJoin(F.broadcast(vdf)).select(
            "e", dot(F.col("e"), F.col("v")).alias("s")
        )
        w = (
            s.select(
                F.posexplode("e").alias("dim0", "ev"), "s"
            )
            .groupBy((F.col("dim0") + 1).alias("dim"))
            .agg(F.round(F.sum(F.col("ev") * F.col("s")), 6).alias("w"))
        )
        nrm = w.agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
        v = (
            w.crossJoin(F.broadcast(nrm))
            .groupBy()
            .agg(
                F.expr(
                    "array_sort(collect_list(struct(dim, w / nrm AS c)))"
                ).alias("sc")
            )
            .select(F.expr("transform(sc, x -> x.c)").alias("v"))
            # cut the lineage at the 1-row iterate: without this every
            # later step re-derives ALL previous iterations' corpus
            # scans inside its own plan (same loop-invariant rule as
            # graph_pagerank's persisted edges)
            .localCheckpoint(eager=True)
        )
        w_last, nrm_last, v_last = w, nrm, v
    ray = (
        base.crossJoin(F.broadcast(v_last))
        .select(dot(F.col("e"), F.col("v")).alias("sv"))
        .agg((F.sum(F.col("sv") * F.col("sv")) / F.count(F.lit(1))).alias("rq"))
    )
    return (
        w_last.crossJoin(F.broadcast(nrm_last))
        .crossJoin(F.broadcast(ray))
        .select(
            "dim",
            F.round(F.col("w") / F.col("nrm"), 5).alias("loading"),
            F.round("rq", 2).alias("variance_along"),
        )
    )


# --- IVF tuning curve: recall@3 as a function of n_probe ------------------------
# The probe depths the curve is measured at.
_IVF_CURVE_PROBES = (1, 2, 4)


def _ivf_recall_curve_sql() -> str:
    from ug_dwh_etl_spark.operators.similarity import N_CENTROIDS

    cos = ("list_dot_product(a.e, q.qe) / (sqrt(list_dot_product(a.e, a.e))"
           " * sqrt(list_dot_product(q.qe, q.qe)))")
    cos_exact = ("list_dot_product(c.e, q.qe) / (sqrt(list_dot_product(c.e, c.e))"
                 " * sqrt(list_dot_product(q.qe, q.qe)))")
    case = " ".join(f"WHEN d{j} = mind THEN {j}" for j in range(N_CENTROIDS))
    qd_rows = "\n      UNION ALL\n      ".join(
        f"SELECT q_id, {j} AS cluster, {sql_centroid_dist('qe', j)} AS qdist FROM q"
        for j in range(N_CENTROIDS)
    )
    appr = []
    recs = []
    for np_ in _IVF_CURVE_PROBES:
        appr.append(f"""appr{np_} AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, a.vec_id, {cos} AS cs,
               ROW_NUMBER() OVER (PARTITION BY q.q_id
                                  ORDER BY {cos} DESC, a.vec_id) AS rn
        FROM q
          JOIN qprobe p ON p.q_id = q.q_id AND p.crnk <= {np_}
          JOIN a ON a.cluster = p.cluster AND a.vec_id <> q.q_id)
      WHERE rn <= {_RECALL_K})""")
        recs.append(
            f"SELECT {np_} AS nprobe, e.q_id, COUNT(m.vec_id) AS n_match "
            f"FROM exact e LEFT JOIN appr{np_} m "
            f"ON m.q_id = e.q_id AND m.vec_id = e.neighbor_id GROUP BY e.q_id"
        )
    return f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    d AS (SELECT vec_id, e, {_IVF_DISTS} FROM base),
    m AS (SELECT vec_id, e, {_IVF_LEAST} AS mind, * EXCLUDE (vec_id, e) FROM d),
    a AS (SELECT vec_id, e, CASE {case} END AS cluster FROM m),
    q AS (SELECT vec_id AS q_id, e AS qe FROM base WHERE vec_id % 97 = 0),
    qd AS (
      {qd_rows}
    ),
    qprobe AS (
      SELECT q_id, cluster,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY qdist, cluster) AS crnk
      FROM qd),
    exact AS (
      SELECT q_id, vec_id AS neighbor_id FROM (
        SELECT q.q_id, c.vec_id, {cos_exact} AS cs,
               ROW_NUMBER() OVER (PARTITION BY q.q_id
                                  ORDER BY {cos_exact} DESC, c.vec_id) AS rn
        FROM q JOIN base c ON c.vec_id <> q.q_id)
      WHERE rn <= {_RECALL_K}),
    {','.join(appr)}
    SELECT nprobe, COUNT(*) AS n_queries,
           ROUND(AVG(n_match / {_RECALL_K}.0), 6) AS avg_recall
    FROM ({' UNION ALL '.join(recs)})
    GROUP BY nprobe
    """


@register("sim_ivf_recall_curve", _ivf_recall_curve_sql())
def sim_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index's TUNING CURVE: recall@3 vs n_probe (1, 2, 4) over
    the deterministic query set — the measurement that picks the
    latency/recall operating point before a 100 TB index deployment,
    completing the audit family (int8: sim_quantize_recall, truncation:
    sim_matryoshka_recall, LSH: dedup_minhash_accuracy). Plan: the
    cluster assignment and the 8-row-per-query probe ranking are
    computed ONCE and shared by all three curve points (probe depth is
    just `crnk <= n`), so the curve costs one assignment pass plus
    three cluster-pruned candidate joins — not three index builds."""
    from pyspark.sql import Window

    from ug_dwh_etl_spark.operators.similarity import (
        N_CENTROIDS,
        centroid_dist_sql,
        cosine,
        ivf_assign,
    )

    emb = table(spark, sf_dir, "embeddings")
    a = ivf_assign(emb).select("vec_id", "embedding", "cluster")
    q = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    qd = q.select(
        "q_id",
        F.expr(
            "array(" + ", ".join(centroid_dist_sql("qe", j) for j in range(N_CENTROIDS)) + ")"
        ).alias("qdists"),
    ).select(
        "q_id", F.posexplode("qdists").alias("cl0", "qdist")
    ).select("q_id", F.col("cl0").alias("cluster"), "qdist")
    wq = Window.partitionBy("q_id").orderBy("qdist", "cluster")
    qprobe = qd.select("q_id", "cluster", F.row_number().over(wq).alias("crnk"))

    def topk(cand):
        w = Window.partitionBy("q_id").orderBy(F.desc("cs"), F.asc("vec_id"))
        return (
            cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _RECALL_K)
            .select("q_id", F.col("vec_id").alias("neighbor_id"))
        )

    # r12 curve-point fusion (guide §2.4): the r11 plan recomputed the
    # exact-kNN cross join (the dominant term) once PER curve point —
    # it feeds each point's recall join — and ran one assignment join +
    # cosine pass per probe depth. The candidate sets are nested
    # (crnk<=1 ⊂ crnk<=2 ⊂ crnk<=4), so ONE join at the deepest probe
    # with crnk attached carries every curve point; per-point candidacy
    # is a filter over the checkpointed relation, and the exact top-k
    # (q-sized, tiny) is checkpointed and shared by all three points.
    exact = topk(
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cosine("embedding", "qe").alias("cs"))
    ).localCheckpoint(eager=False)
    cand_all = (
        a.join(
            F.broadcast(
                qprobe.filter(F.col("crnk") <= max(_IVF_CURVE_PROBES)).join(q, "q_id")
            ),
            "cluster",
        )
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id", "vec_id", "crnk", cosine("embedding", "qe").alias("cs")
        )
        .localCheckpoint(eager=False)
    )
    curves = []
    for np_ in _IVF_CURVE_PROBES:
        # each vec_id lives in exactly one cluster and qprobe has one
        # row per (q_id, cluster), so filtering the shared relation on
        # crnk <= np_ IS the original per-depth join, row for row
        cand = cand_all.filter(F.col("crnk") <= np_)
        appr = topk(cand).select(
            F.col("q_id").alias("mq"), F.col("neighbor_id").alias("mn")
        )
        rec = (
            exact.join(
                appr,
                (F.col("q_id") == F.col("mq"))
                & (F.col("neighbor_id") == F.col("mn")),
                "left",
            )
            .groupBy("q_id")
            .agg(F.count("mn").alias("n_match"))
            .select(F.lit(np_).alias("nprobe"), "q_id", "n_match")
        )
        curves.append(rec)
    u = curves[0].unionByName(curves[1]).unionByName(curves[2])
    return u.groupBy("nprobe").agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.round(F.avg(F.col("n_match") / 3.0), 6).alias("avg_recall"),
    )


@register(
    "embed_centroid_drift",
    """
    WITH dims AS (
      SELECT vec_id % 2 AS half, CAST(i AS INT) - 1 AS dim, embedding[i] AS v
      FROM (SELECT vec_id, embedding,
                   unnest(generate_series(1, len(embedding))) AS i
            FROM embeddings)),
    m AS (SELECT half, dim, AVG(v) AS mu FROM dims GROUP BY half, dim),
    p AS (SELECT a.dim, a.mu AS ma, b.mu AS mb
          FROM m a JOIN m b ON a.dim = b.dim AND a.half = 0 AND b.half = 1)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_dims,
           ROUND(SUM(ma * mb) / (sqrt(SUM(ma * ma)) * sqrt(SUM(mb * mb))), 6)
             AS centroid_cosine,
           ROUND(MAX(ABS(ma - mb)), 5) AS max_abs_shift,
           ROUND(AVG(ABS(ma - mb)), 5) AS mean_abs_shift
    FROM p
    """,
)
def embed_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift monitor between two corpus halves
    (old/new split by vec_id parity): per-dimension centroid means,
    the cosine between the two centroid vectors, and the max/mean
    per-dimension shift — the cheap always-on guard that catches an
    encoder version bump or a domain shift in an embedding pipeline
    before ANN recall silently degrades (the audit embed_dim_zscore
    runs per-dim z-stats; this runs the CROSS-HALF comparison). One
    posexplode + groupBy(half, dim) map-side-combined rollup: the
    corpus reduces to 2 x n_dims rows, then dim-sized math — scan-bound
    at 100 TB, no pairwise anything."""
    e = table(spark, sf_dir, "embeddings")
    dims = e.select(
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("dim", "v"),
    )
    m = dims.groupBy("half", "dim").agg(F.avg("v").alias("mu"))
    a = m.filter(F.col("half") == 0).select("dim", F.col("mu").alias("ma"))
    b = m.filter(F.col("half") == 1).select("dim", F.col("mu").alias("mb"))
    p = a.join(b, "dim")
    return p.agg(
        F.count(F.lit(1)).alias("n_dims"),
        F.round(
            F.sum(F.col("ma") * F.col("mb"))
            / (
                F.sqrt(F.sum(F.col("ma") * F.col("ma")))
                * F.sqrt(F.sum(F.col("mb") * F.col("mb")))
            ),
            6,
        ).alias("centroid_cosine"),
        F.round(F.max(F.abs(F.col("ma") - F.col("mb"))), 5).alias("max_abs_shift"),
        F.round(F.avg(F.abs(F.col("ma") - F.col("mb"))), 5).alias("mean_abs_shift"),
    )


# --- reciprocal-rank fusion of lexical (BM25) and vector (cosine) retrieval ----
_RRF_K = 60
_RRF_TOP = 20


def _rrf_oracle() -> str:
    # BM25 CTE chain mirrors text_bm25_topdocs' oracle (same constants),
    # cosine CTE mirrors sim_cosine_topk's — both ranked on ROUNDED
    # scores with id tiebreaks so the two engines cut identical lists.
    probe = ("hash", "join", "vector", "stream", "scan")
    k1, b = 1.2, 0.75
    return f"""
    WITH terms AS (
      SELECT doc_id, term
      FROM (SELECT doc_id,
                   unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
            FROM documents)
      WHERE term <> ''),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM terms GROUP BY doc_id),
    stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
                     (SELECT AVG(dl) FROM dl) AS avgdl),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms
           WHERE term IN {probe!r} GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms
           WHERE term IN {probe!r} GROUP BY term),
    bscored AS (
      SELECT tf.doc_id,
             SUM(LN((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                 * tf * ({k1} + 1.0)
                 / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl))) AS s
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
      GROUP BY tf.doc_id),
    brank AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY ROUND(s, 4) DESC, doc_id)
               AS rnk
      FROM bscored),
    btop AS (SELECT doc_id, rnk FROM brank WHERE rnk <= {_RRF_TOP}),
    q AS (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0),
    cscored AS (
      SELECT vec_id AS doc_id,
             ROUND(list_dot_product(embedding::DOUBLE[], q)
                   / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                      * sqrt(list_dot_product(q, q))), 6) AS c
      FROM embeddings, q WHERE vec_id != 0),
    crank AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY c DESC, doc_id) AS rnk
      FROM cscored),
    ctop AS (SELECT doc_id, rnk FROM crank WHERE rnk <= {_RRF_TOP}),
    fused AS (
      SELECT COALESCE(btop.doc_id, ctop.doc_id) AS doc_id,
             COALESCE(1.0 / ({_RRF_K} + btop.rnk), 0.0)
               + COALESCE(1.0 / ({_RRF_K} + ctop.rnk), 0.0) AS rrf,
             btop.rnk AS bm25_rank, ctop.rnk AS cosine_rank
      FROM btop FULL OUTER JOIN ctop ON btop.doc_id = ctop.doc_id)
    SELECT doc_id, ROUND(rrf, 6) AS rrf_score, bm25_rank, cosine_rank
    FROM fused
    ORDER BY ROUND(rrf, 6) DESC, doc_id LIMIT {_RRF_TOP}
    """


@register("sim_hybrid_rrf", _rrf_oracle())
def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion (Cormack et al. 2009,
    k=60): the BM25 lexical top-20 (text_bm25_topdocs' exact scoring)
    and the embedding-cosine top-20 (sim_cosine_topk's probe) merge on
    1/(k+rank) — the standard production shape for RAG retrieval,
    where fusion beats either ranker alone and needs NO score
    calibration because it consumes only ranks. Each ranker's list is
    cut on (ROUNDED score, id) so both engines fuse identical lists;
    the fusion itself is a 20-row full outer join — free. At scale the
    cost is the two rankers (each already top-k-pruned); fusion adds
    nothing."""
    from pyspark.sql import Window

    from ug_dwh_etl_spark.queries.textstats import text_bm25_topdocs

    bm = text_bm25_topdocs(spark, sf_dir).select(
        "doc_id", F.col("rnk").alias("bm25_rank")
    )
    emb = table(spark, sf_dir, "embeddings")
    cos = cosine_topk(emb, query_id=0, k=_RRF_TOP).select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.desc("cosine"), F.asc("vec_id")))
        .alias("cosine_rank"),
    )
    fused = bm.join(cos, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.coalesce(1.0 / (_RRF_K + F.col("bm25_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("cosine_rank")), F.lit(0.0))
        ).alias("rrf"),
        "bm25_rank",
        "cosine_rank",
    )
    return (
        fused.select(
            "doc_id",
            F.round("rrf", 6).alias("rrf_score"),
            "bm25_rank",
            "cosine_rank",
        )
        .orderBy(F.desc(F.round(F.col("rrf_score"), 6)), F.asc("doc_id"))
        .limit(_RRF_TOP)
    )


# --- farthest-first centroid seeding (k-center / k-means++ style) -----------------
_FF_K = 4


def _ff_sql() -> str:
    d = "list_dot_product"
    parts = [
        "base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)",
        "c1 AS (SELECT vec_id, e FROM base ORDER BY vec_id LIMIT 1)",
        f"""d1 AS (
      SELECT b.vec_id,
             {d}(b.e, b.e) - 2 * {d}(b.e, c1.e) + {d}(c1.e, c1.e) AS dmin
      FROM base b, c1)""",
    ]
    for k in range(2, _FF_K + 1):
        parts.append(
            f"p{k} AS (SELECT vec_id, dmin FROM d{k - 1} ORDER BY dmin DESC, vec_id LIMIT 1)"
        )
        parts.append(
            f"c{k} AS (SELECT b.vec_id, b.e, p{k}.dmin FROM base b JOIN p{k} USING (vec_id))"
        )
        if k < _FF_K:
            parts.append(
                f"""d{k} AS (
      SELECT b.vec_id,
             LEAST(d{k - 1}.dmin,
                   {d}(b.e, b.e) - 2 * {d}(b.e, c{k}.e) + {d}(c{k}.e, c{k}.e)) AS dmin
      FROM base b JOIN d{k - 1} USING (vec_id), c{k})"""
            )
    selects = ["SELECT 1 AS k, (SELECT vec_id FROM c1) AS vec_id, 0.0 AS dist_sq"]
    for k in range(2, _FF_K + 1):
        selects.append(
            f"SELECT {k}, (SELECT vec_id FROM c{k}), ROUND((SELECT dmin FROM c{k}), 6)"
        )
    return "WITH " + ",\n    ".join(parts) + "\n    " + "\n    UNION ALL ".join(selects)


@register("sim_farthest_first_centroids", _ff_sql())
def sim_farthest_first_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-means seeding by farthest-first traversal
    (Gonzalez k-center, the deterministic cousin of k-means++ D²
    sampling): start from the min-id vector, then K−1 times pick the
    point farthest from everything chosen so far (min-id tie-break) —
    the seeds sim_kmeans_step's Lloyd iteration wants instead of
    arbitrary hash buckets, with a 2-approximation guarantee for the
    k-center objective. Each round is ONE scan computing
    min(prev_dmin, dist² to the newest centroid) — the newest centroid
    is a broadcast 1-row frame, dist² expands to dot products via the
    same codegen fold as every sim_* query — plus a 1-row argmax.
    O(K·n) total work, never K×n² pairwise."""
    from ug_dwh_etl_spark.operators.similarity import dot

    base = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("e")
    )
    c1 = base.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("c_id"), F.col("e").alias("ce")
    )
    picks = [(1, c1, None)]
    dprev = None
    cur = c1
    for k in range(2, _FF_K + 1):
        dist = (
            dot(F.col("e"), F.col("e"))
            - 2 * dot(F.col("e"), F.col("ce"))
            + dot(F.col("ce"), F.col("ce"))
        )
        if dprev is None:
            dcur = base.crossJoin(F.broadcast(cur)).select(
                "vec_id", "e", dist.alias("dmin")
            )
        else:
            dcur = (
                dprev.drop("c_id", "ce")
                .crossJoin(F.broadcast(cur))
                .select(
                    "vec_id", "e", F.least(F.col("dmin"), dist).alias("dmin")
                )
            )
        # 1-row argmax: max-struct (dmin DESC, vec_id ASC) == min of
        # struct(-dmin, vec_id); floats negate exactly
        pick = (
            dcur.agg(
                F.min(F.struct((-F.col("dmin")).alias("nd"), F.col("vec_id"))).alias("m")
            )
            .select(F.col("m.vec_id").alias("pick_id"))
        )
        cur = (
            base.join(F.broadcast(pick), base.vec_id == F.col("pick_id"))
            .select(F.col("vec_id").alias("c_id"), F.col("e").alias("ce"))
        )
        chosen_d = (
            dcur.join(
                F.broadcast(pick), dcur.vec_id == F.col("pick_id")
            ).select("vec_id", "dmin")
        )
        picks.append((k, cur, chosen_d))
        dprev = dcur.crossJoin(F.broadcast(cur))
    out = None
    for k, cframe, dframe in picks:
        if dframe is None:
            row = cframe.select(
                F.lit(1).alias("k"),
                F.col("c_id").alias("vec_id"),
                F.lit(0.0).alias("dist_sq"),
            )
        else:
            row = dframe.select(
                F.lit(k).alias("k"),
                "vec_id",
                F.round("dmin", 6).alias("dist_sq"),
            )
        out = row if out is None else out.unionByName(row)
    return out


# --- embedding outlier documents (distance-to-centroid) ---------------------------
_OUT_TOPK = 20


@register(
    "embed_outlier_docs",
    f"""
    WITH flat AS (
      SELECT vec_id, label,
             unnest(range(1, len(embedding) + 1)) AS dim,
             unnest(embedding::DOUBLE[]) AS v
      FROM embeddings),
    mu AS (SELECT dim, AVG(v) AS mu FROM flat GROUP BY dim),
    d AS (
      SELECT f.vec_id, ANY_VALUE(f.label) AS label,
             SUM((f.v - mu.mu) * (f.v - mu.mu)) AS d2
      FROM flat f JOIN mu USING (dim) GROUP BY f.vec_id)
    SELECT vec_id, label, ROUND(d2, 6) AS dist_sq
    FROM d
    ORDER BY ROUND(d2, 6) DESC, vec_id
    LIMIT {_OUT_TOPK}
    """,
)
def embed_outlier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The {_K} embeddings farthest from the corpus centroid — the
    outlier-filtering pass a training pipeline runs on encoder output
    (broken encodes, off-distribution content, and mislabeled items
    concentrate in the distance tail; the per-item companion to
    embed_dim_zscore's per-dimension audit). Shape: posexplode → one
    dim-sized mean table broadcast back onto the exploded scan →
    per-vector Σ(v−μ)² — two passes over n·dim rows with dim-sized
    state, never an n×n distance matrix. Cut ordered by the ROUNDED
    distance (vec_id tie-break) so the top-k boundary is decided on the
    same 6dp grid in both engines.""".replace("{_K}", str(_OUT_TOPK))
    emb = table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", "label", F.posexplode(F.col("embedding").cast("array<double>"))
    ).select("vec_id", "label", (F.col("pos") + 1).alias("dim"), F.col("col").alias("v"))
    mu = flat.groupBy("dim").agg(F.avg("v").alias("mu"))
    d = (
        flat.join(F.broadcast(mu), "dim")
        .groupBy("vec_id")
        .agg(
            F.first("label").alias("label"),
            F.sum((F.col("v") - F.col("mu")) * (F.col("v") - F.col("mu"))).alias("d2"),
        )
    )
    return (
        d.select("vec_id", "label", F.round("d2", 6).alias("dist_sq"))
        .orderBy(F.desc("dist_sq"), F.asc("vec_id"))
        .limit(_OUT_TOPK)
    )


# --- per-label embedding diversity (pairwise distance without pairs) ---------------
@register(
    "sim_label_diversity",
    """
    WITH flat AS (
      SELECT vec_id, label,
             unnest(range(1, len(embedding) + 1)) AS dim,
             unnest(embedding::DOUBLE[]) AS v
      FROM embeddings),
    per_vec AS (
      SELECT label, vec_id, SUM(v * v) AS sq FROM flat GROUP BY label, vec_id),
    dim_sums AS (
      SELECT label, dim, SUM(v) AS s FROM flat GROUP BY label, dim),
    a AS (SELECT label, COUNT(*) AS n, SUM(sq) AS sum_sq FROM per_vec GROUP BY label),
    b AS (SELECT label, SUM(s * s) AS norm_sum_sq FROM dim_sums GROUP BY label)
    SELECT a.label, CAST(a.n AS BIGINT) AS n_vectors,
           ROUND(CASE WHEN a.n > 1
                      THEN 2.0 * (a.n * a.sum_sq - b.norm_sum_sq)
                           / (a.n * (a.n - 1.0)) END, 6) AS mean_pair_dist_sq
    FROM a JOIN b USING (label)
    """,
)
def sim_label_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean pairwise squared distance WITHIN each label group — the
    intra-class diversity audit (a collapsing embedding space shows up
    as a shrinking value; duplicate-heavy classes sit near 0) —
    computed WITHOUT forming pairs: Σ_{{i≠j}}||xᵢ−xⱼ||² =
    2n·Σ||xᵢ||² − 2||Σxᵢ||², so the naively O(n²·dim) statistic needs
    only a per-vector norm pass and per-(label, dim) sums — O(n·dim)
    with label×dim-sized state, the same algebraic identity that makes
    variance a single-pass aggregate. At 100 TB this is two map-side
    combinable aggregations; the pairwise spelling would be a
    self-join nobody can run."""
    emb = table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", "label", F.posexplode(F.col("embedding").cast("array<double>"))
    ).select("vec_id", "label", (F.col("pos") + 1).alias("dim"), F.col("col").alias("v"))
    per_vec = flat.groupBy("label", "vec_id").agg(F.sum(F.col("v") * F.col("v")).alias("sq"))
    dim_sums = flat.groupBy("label", "dim").agg(F.sum("v").alias("s"))
    a = per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"), F.sum("sq").alias("sum_sq")
    )
    b = dim_sums.groupBy("label").agg(F.sum(F.col("s") * F.col("s")).alias("norm_sum_sq"))
    return a.join(b, "label").select(
        "label",
        F.col("n").cast("long").alias("n_vectors"),
        F.round(
            F.when(
                F.col("n") > 1,
                2.0 * (F.col("n") * F.col("sum_sq") - F.col("norm_sum_sq"))
                / (F.col("n") * (F.col("n") - 1.0)),
            ),
            6,
        ).alias("mean_pair_dist_sq"),
    )


@register(
    "sim_centroid_classifier_eval",
    """
    WITH flat AS (
      SELECT vec_id, label,
             unnest(range(1, len(embedding) + 1)) AS dim,
             unnest(embedding::DOUBLE[]) AS v
      FROM embeddings),
    cent AS (
      SELECT label AS clabel, dim, ROUND(AVG(v), 6) AS c
      FROM flat GROUP BY clabel, dim),
    dists AS (
      SELECT f.vec_id, f.label, c.clabel,
             ROUND(SUM((f.v - c.c) * (f.v - c.c)), 6) AS d
      FROM flat f JOIN cent c USING (dim)
      GROUP BY f.vec_id, f.label, c.clabel),
    pred AS (
      SELECT vec_id, label, clabel,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, clabel) AS r
      FROM dists)
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN clabel = label THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           ROUND(SUM(CASE WHEN clabel = label THEN 1 ELSE 0 END)
                 / COUNT(*)::DOUBLE, 6) AS accuracy
    FROM pred WHERE r = 1
    GROUP BY label
    """,
)
def sim_centroid_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid (Rocchio) classification accuracy per label —
    the eval that closes the embedding-label loop: sim_label_centroids
    builds the per-class means, this assigns every vector to its
    nearest class mean (squared distance, rounded-6 centroids AND
    distances so the argmin is engine-reproducible; ties break to the
    smaller label) and scores it against the true label. Separability
    here predicts whether those labels are learnable from these
    embeddings at all — the go/no-go before training a real probe.
    Scale shape: centroids are a (labels × dims) broadcast-sized
    aggregate; assignment is one join against that tiny relation
    grouped per (vector, candidate) — never vector×vector."""
    emb = table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "v"),
    ).withColumn("dim", (F.col("pos0") + 1).cast("long"))
    cent = flat.groupBy(F.col("label").alias("clabel"), "dim").agg(
        F.round(F.avg("v"), 6).alias("c")
    )
    dists = (
        flat.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "clabel")
        .agg(F.round(F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c"))), 6).alias("d"))
    )
    pred = dists.groupBy("vec_id", "label").agg(
        F.min(F.struct(F.col("d").alias("d"), F.col("clabel").alias("clabel"))).alias("s")
    )
    correct = (F.col("s.clabel") == F.col("label")).cast("long")
    return pred.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(correct).alias("n_correct"),
        F.round(F.sum(correct) / F.count(F.lit(1)), 6).alias("accuracy"),
    )


# --- incremental IVF index maintenance: assign a new batch, measure drift --------
_IVF_BATCH_MOD = 10  # batch = vec_id % 10 == 7 (the "newly arrived" tenth)


def _ivf_incr_sql() -> str:
    return f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             CASE WHEN vec_id % {_IVF_BATCH_MOD} = 7 THEN 1 ELSE 0 END AS is_new
      FROM embeddings),
    d AS (SELECT vec_id, e, is_new, {_IVF_DISTS} FROM base),
    m AS (SELECT vec_id, e, is_new, {_IVF_LEAST} AS m, * FROM d),
    assigned AS (SELECT vec_id, e, is_new, CASE {_IVF_CASE} END AS cluster FROM m),
    pos AS (
      SELECT cluster, is_new,
             generate_subscripts(e, 1) AS p, unnest(e) AS v
      FROM assigned),
    means AS (
      SELECT cluster, p,
             COALESCE(AVG(CASE WHEN is_new = 0 THEN v END), 0.0) AS mb,
             AVG(v) AS ma
      FROM pos GROUP BY cluster, p),
    shift AS (
      SELECT cluster, SUM((ma - mb) * (ma - mb)) AS s2 FROM means GROUP BY cluster),
    counts AS (
      SELECT cluster,
             CAST(SUM(1 - is_new) AS BIGINT) AS n_corpus,
             CAST(SUM(is_new) AS BIGINT) AS n_batch
      FROM assigned GROUP BY cluster)
    SELECT c.cluster, c.n_corpus, c.n_batch,
           CAST(c.n_corpus + c.n_batch AS BIGINT) AS n_total,
           ROUND(sqrt(s.s2), 6) AS centroid_shift
    FROM counts c JOIN shift s ON s.cluster = c.cluster
    """


@register("sim_ivf_incremental_update", _ivf_incr_sql())
def sim_ivf_incremental_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance — the daily-ingest twin for the
    ANN stack (the same shape `dedup_incremental_neardup` gives the LSH
    index): newly-arrived vectors (the deterministic id-mod tenth) are
    assigned to the EXISTING centroids with the same codegen argmin as
    `sim_ivf_clusters` — at ingest that assignment IS the partition
    key, so new data lands in the right storage partition with no
    re-clustering — and the decision table reports, per cluster, the
    old/new/total counts plus the RUNNING-MEAN DRIFT ||mean_after -
    mean_before||, the monitor that tells you when accumulated arrivals
    have moved a cell enough to warrant a re-cluster (kick off
    `sim_kmeans_step` from the current centroids).

    Distributed shape: one assignment scan (K distance folds, no
    shuffle), then the per-dimension means go through an
    explode(position) -> groupBy(cluster, position) aggregate — the
    row-count is n x dim but each row is 3 numbers, and the shuffle key
    (cluster, position) is perfectly spread; no vector ever needs to
    fold into driver-side state. The oracle replays the identical
    argmin and per-position means via unnest WITH ORDINALITY."""
    emb = table(spark, sf_dir, "embeddings")
    assigned = ivf_assign(emb).select(
        "vec_id",
        "cluster",
        F.col("embedding").alias("e"),
        (F.col("vec_id") % _IVF_BATCH_MOD == 7).cast("int").alias("is_new"),
    )
    pos = assigned.select(
        "cluster",
        "is_new",
        F.posexplode(F.col("e").cast("array<double>")).alias("p0", "v"),
    ).select("cluster", "is_new", (F.col("p0") + 1).alias("p"), "v")
    # a cluster formed ENTIRELY by new arrivals has no before-mean:
    # treat it as the zero vector, so the reported shift is the full
    # ||mean_after|| — defined, large, and exactly the re-cluster flag
    # that case deserves (NULL would hide the most drift-worthy cell)
    means = pos.groupBy("cluster", "p").agg(
        F.coalesce(
            F.avg(F.when(F.col("is_new") == 0, F.col("v"))), F.lit(0.0)
        ).alias("mb"),
        F.avg("v").alias("ma"),
    )
    shift = means.groupBy("cluster").agg(
        F.sum((F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb"))).alias("s2")
    )
    counts = assigned.groupBy("cluster").agg(
        F.sum(1 - F.col("is_new")).cast("long").alias("n_corpus"),
        F.sum("is_new").cast("long").alias("n_batch"),
    )
    return counts.join(shift, "cluster").select(
        F.col("cluster").cast("int").alias("cluster"),
        "n_corpus",
        "n_batch",
        (F.col("n_corpus") + F.col("n_batch")).alias("n_total"),
        F.round(F.sqrt("s2"), 6).alias("centroid_shift"),
    )


# --- 1-bit binary quantization: Hamming search recall audit ---------------------
def _binary_recall_sql(k: int = 3, query_mod: int = 97) -> str:
    cos = ("list_dot_product(e, qe) / (sqrt(list_dot_product(e, e))"
           " * sqrt(list_dot_product(qe, qe)))")
    return f"""
    WITH flat AS (
      SELECT vec_id,
             unnest(range(1, len(embedding) + 1)) AS dim,
             unnest(embedding::DOUBLE[]) AS v
      FROM embeddings),
    bits AS (
      SELECT vec_id,
             SUM(CASE WHEN v > 0 AND dim <= 32
                      THEN 1::BIGINT << (dim - 1) ELSE 0 END) AS lo,
             SUM(CASE WHEN v > 0 AND dim > 32
                      THEN 1::BIGINT << (dim - 33) ELSE 0 END) AS hi
      FROM flat GROUP BY vec_id),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    exact AS (
      SELECT q_id, vec_id AS neighbor_id FROM (
        SELECT q.vec_id AS q_id, c.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY {cos} DESC, c.vec_id) AS rn
        FROM (SELECT vec_id, e AS qe FROM c WHERE vec_id % {query_mod} = 0) q
          JOIN c ON c.vec_id <> q.vec_id)
      WHERE rn <= {k}),
    binq AS (
      SELECT q_id, vec_id AS neighbor_id FROM (
        SELECT q.vec_id AS q_id, b.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY bit_count(xor(q.lo, b.lo)) + bit_count(xor(q.hi, b.hi)),
                          b.vec_id) AS rn
        FROM (SELECT * FROM bits WHERE vec_id % {query_mod} = 0) q
          JOIN bits b ON b.vec_id <> q.vec_id)
      WHERE rn <= {k})
    SELECT e.q_id, CAST(COUNT(m.neighbor_id) AS BIGINT) AS n_match,
           ROUND(COUNT(m.neighbor_id) / {k}.0, 6) AS recall_at_{k}
    FROM exact e
      LEFT JOIN binq m ON m.q_id = e.q_id AND m.neighbor_id = e.neighbor_id
    GROUP BY e.q_id
    """


@register("sim_quantize_binary_recall", _binary_recall_sql())
def sim_quantize_binary_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of 1-BIT (sign) binary embeddings under Hamming search
    vs exact cosine — the audit for the most aggressive quantization
    tier (32x compression: 64 doubles -> two packed bigints), completing
    the fidelity ladder int8 (sim_quantize_recall) -> Matryoshka
    truncation (sim_matryoshka_recall) -> binary. Hamming distance is
    popcount(xor) on the packed words — pure integer arithmetic, so
    candidate ranking is engine-exact with vec_id tiebreaks; at 100 TB
    this is the tier that fits the whole corpus sketch in executor
    memory and makes the Hamming scan a broadcast-query CPU loop, with
    exact cosine re-ranking reserved for the shortlist."""
    from ug_dwh_etl_spark.operators.similarity import binary_knn_recall

    return binary_knn_recall(
        table(spark, sf_dir, "embeddings"), query_mod=97, k=3
    )


# The Lloyd rounds of the k-means convergence trace.
_KMEANS_ROUNDS = 3


def _kmeans_converged_sql() -> str:
    from ug_dwh_etl_spark.operators.similarity import EMBED_DIM

    case = " ".join(f"WHEN d{j} = mind THEN {j}" for j in range(N_CENTROIDS))
    avgs = ", ".join(
        f"ROUND(AVG(e[{k + 1}]), 6) AS a{k}" for k in range(EMBED_DIM)
    )
    clist = "list_value(" + ", ".join(f"a{k}" for k in range(EMBED_DIM)) + ")"
    parts = [
        "base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)",
        f"d0 AS (SELECT vec_id, e, {_IVF_DISTS} FROM base)",
        f"m0 AS (SELECT vec_id, e, {_IVF_LEAST} AS mind, * EXCLUDE (vec_id, e) FROM d0)",
        f"a0 AS MATERIALIZED (SELECT vec_id, e, CASE {case} END AS cluster FROM m0)",
    ]
    stats = []
    for i in range(1, _KMEANS_ROUNDS + 1):
        p = i - 1
        parts.append(
            f"g{i} AS MATERIALIZED (SELECT cluster AS cand, {clist} AS c FROM "
            f"(SELECT cluster, {avgs} FROM a{p} GROUP BY cluster))"
        )
        parts.append(
            f"""r{i} AS (
      SELECT vec_id, e, old_cluster, cand, dist,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cand) AS rn
      FROM (SELECT a.vec_id, a.e, a.cluster AS old_cluster, g.cand,
                   list_dot_product(a.e, a.e) - 2 * list_dot_product(a.e, g.c)
                     + list_dot_product(g.c, g.c) AS dist
            FROM a{p} a CROSS JOIN g{i} g))"""
        )
        parts.append(
            f"a{i} AS MATERIALIZED (SELECT vec_id, e, cand AS cluster, "
            f"dist AS mind, old_cluster FROM r{i} WHERE rn = 1)"
        )
        stats.append(
            f"""SELECT CAST({i} AS BIGINT) AS iteration,
             CAST(SUM(CASE WHEN cluster <> old_cluster THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_moved,
             ROUND(SUM(mind), 3) AS inertia,
             CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters
      FROM a{i}"""
        )
    return (
        "WITH " + ",\n    ".join(parts) + "\n    "
        + "\n    UNION ALL ".join(stats)
    )


@register("sim_kmeans_converged", _kmeans_converged_sql())
def sim_kmeans_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means run for 3 FULL rounds with DYNAMIC centroids —
    the convergence trace (per round: reassignments moved, inertia,
    surviving clusters) that sim_kmeans_step's single fixed-seed
    iteration points at. Inertia must be non-increasing and n_moved
    shrinking — the offline-clustering health log. Plan shape per
    round: one K×EMBED_DIM map-side-combined mean shuffle (a few KB
    regardless of corpus size, checkpointed — the iterative-lineage
    rule), one broadcast reassignment scan with the sequential-fold
    dot product, so iterating is rounds × scans with constant shuffle
    width. Centroid coordinates are rounded to 6dp each round before
    any distance, so both engines argmin over bit-identical values
    (the shared cross-engine discipline of ivf_assign/kmeans_step)."""
    from ug_dwh_etl_spark.operators.similarity import kmeans_iterate

    return kmeans_iterate(table(spark, sf_dir, "embeddings"), rounds=_KMEANS_ROUNDS)
