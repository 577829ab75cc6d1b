"""Dedup queries over the documents table, with exact DuckDB oracles.

The oracle SQL is GENERATED from the same constants
(``hashing.MINHASH_COEFFS`` etc.) that drive the Spark operators, so the
two sides cannot drift.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
import pyspark.sql.functions as F

from ug_dwh_etl_spark.operators import hashing as H
from ug_dwh_etl_spark.operators.dedup import (
    N_BANDS,
    N_MINHASH,
    ROWS_PER_BAND,
    SIMHASH_BITS,
    dedup_exact,
    duplicated_substring_spans,
    embedding_cosine_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from ug_dwh_etl_spark.queries.registry import QUERIES, register, table

_TOK_CTE = f"tok AS (SELECT doc_id, {H.sql_tokens('text')} AS t FROM documents)"
_SHINGLE_CTES = (
    _TOK_CTE
    + f""",
    sh AS (SELECT doc_id, {H.sql_shingles('t', 3)} AS sgl FROM tok),
    ex AS (SELECT DISTINCT doc_id, shingle
           FROM (SELECT doc_id, unnest(sgl) AS shingle FROM sh))"""
)
# Hashed-shingle variant: distinct on the 60-bit hash, mirroring the
# Spark side's long-keyed shuffle (identical modulo md5 collisions).
_SHINGLE_HASH_CTES = (
    _TOK_CTE
    + f""",
    sh AS (SELECT doc_id, {H.sql_shingles('t', 3)} AS sgl FROM tok),
    exh AS (SELECT DISTINCT doc_id, {H.sql_md5_long('shingle', 15)} AS sh
            FROM (SELECT doc_id, unnest(sgl) AS shingle FROM sh))"""
)


def _shingle_overlap_ctes(sets: str) -> str:
    """The shingle-set overlap every exact-Jaccard oracle joins: each
    document's set size ``sizes`` and each pair's shared-shingle count
    ``inter`` over the (doc_id, sh) relation ``sets``."""
    return f"""sizes AS (SELECT doc_id, COUNT(*) AS sz FROM {sets} GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM {sets} a JOIN {sets} b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )"""


# The shingle sets without the shingles found in more than 5 documents.
_CAPPED_SHINGLES_CTE = """capped AS (SELECT doc_id, sh FROM exh
               QUALIFY COUNT(*) OVER (PARTITION BY sh) <= 5)"""

# The near-dup threshold of every Jaccard-pair query here, in the oracle
# and in the Spark plan alike.
_JACCARD_MIN = 0.5
_JACCARD_PAIRS_SELECT = f"""SELECT id_a, id_b,
           ROUND(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
    FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
    WHERE ROUND(inter / (sa.sz + sb.sz - inter), 6) >= {_JACCARD_MIN}"""
_CONTAINMENT_PAIRS_SELECT = """SELECT id_a, id_b,
           ROUND(inter / LEAST(sa.sz, sb.sz), 6) AS containment,
           ROUND(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
    FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
    WHERE ROUND(inter / LEAST(sa.sz, sb.sz), 6) >= 0.8"""


# --- exact dedup --------------------------------------------------------------
@register(
    "dedup_exact_groups",
    f"""
    WITH {_TOK_CTE}
    SELECT md5(array_to_string(t, ' ')) AS fingerprint,
           MIN(doc_id) AS survivor_id,
           COUNT(*) AS group_size
    FROM tok
    GROUP BY fingerprint
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_exact(table(spark, sf_dir, "documents"), "doc_id", "text")


# --- minhash signatures ---------------------------------------------------------
def _sig_sql() -> str:
    h = H.sql_md5_long("shingle", 15)
    mins = ",\n           ".join(
        f"MIN({H.sql_minhash_perm('h', i)}) AS mh{i}" for i in range(N_MINHASH)
    )
    return f"""
    WITH {_SHINGLE_CTES},
    hashed AS (SELECT doc_id, {h} AS h FROM ex)
    SELECT doc_id,
           {mins}
    FROM hashed
    GROUP BY doc_id
    """


@register("dedup_minhash_signatures", _sig_sql())
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures(table(spark, sf_dir, "documents"), "doc_id", "text")



def _lsh_pairs_ctes() -> str:
    """Shared CTE chain 'tok → sh → ex → hashed → sig → bands → pairs'
    (no WITH keyword) — the minhash-LSH candidate-pair dataflow every
    LSH-derived oracle builds on. One definition so its consumers
    (_lsh_sql, _label_prop_ctes, _candidate_exact_ctes,
    _candidate_overlap_ctes) cannot drift."""
    h = H.sql_md5_long("shingle", 15)
    mins = ", ".join(
        f"MIN({H.sql_minhash_perm('h', i)}) AS mh{i}" for i in range(N_MINHASH)
    )
    band_selects = []
    for b in range(N_BANDS):
        key = " || '_' || ".join(
            f"mh{b * ROWS_PER_BAND + r}::VARCHAR" for r in range(ROWS_PER_BAND)
        )
        band_selects.append(f"SELECT doc_id, {b} AS band_id, {key} AS band_key FROM sig")
    bands = "\n      UNION ALL\n      ".join(band_selects)
    return f"""{_SHINGLE_CTES},
    hashed AS (SELECT doc_id, {h} AS h FROM ex),
    sig AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id),
    bands AS (
      {bands}
    ),
    pairs AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      FROM bands l JOIN bands r
        ON l.band_id = r.band_id AND l.band_key = r.band_key AND l.doc_id < r.doc_id
    )"""


# --- minhash LSH candidate pairs -------------------------------------------------
def _lsh_sql() -> str:
    return f"""
    WITH {_lsh_pairs_ctes()}
    SELECT id_a, id_b FROM pairs
    """


@register("dedup_minhash_lsh_pairs", _lsh_sql())
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(table(spark, sf_dir, "documents"), "doc_id", "text")


# --- simhash fingerprints ---------------------------------------------------------
def _simhash_sql() -> str:
    h = H.sql_md5_long("tok", 8)
    sums = ",\n           ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(SIMHASH_BITS)
    )
    fp = " + ".join(f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS))
    return f"""
    WITH {_TOK_CTE},
    hashed AS (SELECT DISTINCT doc_id, {h} AS h
               FROM (SELECT doc_id, unnest(t) AS tok FROM tok)),
    sums AS (SELECT doc_id, {sums} FROM hashed GROUP BY doc_id)
    SELECT doc_id, {fp} AS simhash FROM sums
    """


@register("dedup_simhash", _simhash_sql())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(table(spark, sf_dir, "documents"), "doc_id", "text")


# --- exact n-gram Jaccard pairs -----------------------------------------------------
@register(
    "dedup_ngram_jaccard",
    f"""
    WITH {_SHINGLE_HASH_CTES},
    {_shingle_overlap_ctes("exh")}
    {_JACCARD_PAIRS_SELECT}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text", _JACCARD_MIN
    )


# --- df-capped n-gram Jaccard (the bounded-quadratic scale path) -----------------
@register(
    "dedup_ngram_jaccard_capped",
    f"""
    WITH {_SHINGLE_HASH_CTES},
    {_CAPPED_SHINGLES_CTE},
    {_shingle_overlap_ctes("capped")}
    {_JACCARD_PAIRS_SELECT}
    """,
)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quadratic-bounded variant: shingles in more than 5 documents
    (boilerplate — the hot join keys) are dropped from the shingle sets
    before the self-join. At sf0.01 the hottest shingle has df=7, so the
    cap is genuinely exercised; the oracle applies the identical cap via
    a QUALIFY window filter. Σ bucket² over shingle frequencies is
    thereby hard-bounded by cap² per shingle — the standalone exact
    Jaccard becomes safe at corpus scale, not just as a post-LSH
    verifier."""
    return ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text", _JACCARD_MIN, max_shingle_df=5
    )


# --- embedding-cosine near-dups (SRP-bucketed candidates) -------------------------
def _emb_cos_sql() -> str:
    from ug_dwh_etl_spark.operators.similarity import N_HYPERPLANES, sql_plane_literal

    terms = " + ".join(
        f"(CASE WHEN list_dot_product(e, {sql_plane_literal(j)}) > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(N_HYPERPLANES)
    )
    return f"""
    WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS e, {terms} AS bucket FROM embeddings)
    SELECT a.vec_id AS id_a, bb.vec_id AS id_b,
           ROUND(list_dot_product(a.e, bb.e)
                 / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(bb.e, bb.e))),
                 6) AS cosine
    FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
    WHERE ROUND(list_dot_product(a.e, bb.e)
                / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(bb.e, bb.e))),
                6) >= 0.3
    """


@register("dedup_embedding_cosine", _emb_cos_sql())
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # threshold 0.3: the synthetic vectors are near-orthogonal (max pair
    # cosine ~0.51), so a production-style 0.9 would make this a 0-row
    # check; 0.3 keeps a meaningful verified pair set
    return embedding_cosine_pairs(table(spark, sf_dir, "embeddings"), "vec_id", "embedding", 0.3)


# --- deterministic hash split (train/validation/test) ---------------------------
@register(
    "split_train_test",
    """
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (
      SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '0d' THEN 'validation'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a' THEN 'test'
                  ELSE 'train' END AS split,
             lang, n_chars
      FROM documents)
    GROUP BY split
    """,
)
def split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/validation/test split by content-stable hash —
    the assignment every training-data pipeline needs: reproducible
    across runs, engines, partitionings, and appends (a doc's split never
    changes when other docs arrive, unlike percentage sampling).

    Hash-prefix brackets on md5(doc_id): first byte < 0x0d → validation
    (~5.1%), < 0x1a → test (~5.1%), else train. Pure narrow map — no
    shuffle except the final tiny rollup; at 100 TB the split column is
    computed inline at scan time and costs nothing."""
    import pyspark.sql.functions as F

    docs = table(spark, sf_dir, "documents")
    prefix = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(prefix < "0d", "validation")
        .when(prefix < "1a", "test")
        .otherwise("train")
    )
    return (
        docs.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("lang").alias("n_langs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# --- near-dup clusters (connected components over the LSH pair graph) -----------
def _label_prop_ctes(iterations: int = 3) -> str:
    """Shared WITH-body for bounded min-label propagation: tokenize →
    minhash → bands → candidate pairs → ``iterations`` rounds of
    min-neighbor-label; the final label table is ``l{iterations}``."""
    parts = [
        f"""{_lsh_pairs_ctes()},
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    l0 AS (SELECT doc_id AS node, doc_id AS label FROM documents)"""
    ]
    for i in range(iterations):
        parts.append(
            f"""l{i + 1} AS (
      SELECT l.node,
             LEAST(l.label, COALESCE(MIN(n.label), l.label)) AS label
      FROM l{i} l
        LEFT JOIN edges e ON e.a = l.node
        LEFT JOIN l{i} n ON n.node = e.b
      GROUP BY l.node, l.label)"""
        )
    return "WITH " + ",\n    ".join(parts)


def _clusters_sql(iterations: int = 3) -> str:
    return (
        _label_prop_ctes(iterations)
        + f"""
    SELECT label AS cluster, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM l{iterations} GROUP BY label HAVING COUNT(*) > 1"""
    )


@register("dedup_clusters", _clusters_sql())
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ug_dwh_etl_spark.operators.dedup import near_dup_clusters

    return near_dup_clusters(table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "dedup_cluster_size_histogram",
    _label_prop_ctes()
    + """,
    cl AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS sz FROM l3 GROUP BY label)
    SELECT sz AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs,
           CAST(SUM(sz) - COUNT(*) AS BIGINT) AS n_removable
    FROM cl GROUP BY sz
    """,
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of near-dup cluster sizes (size 1 = unique docs):
    per size, how many clusters, how many docs they hold, and how many
    docs a min-id-survivor pass would remove — the one-glance dedup
    impact report an operator reads BEFORE running corpus removal (a
    fat tail here means boilerplate families, not pairwise dups, and
    changes the banding/threshold decision). Rides the same bounded
    label-propagation components as dedup_clusters; the histogram is a
    second tiny aggregate over the label relation."""
    from ug_dwh_etl_spark.operators.dedup import near_dup_labels

    labels = near_dup_labels(table(spark, sf_dir, "documents"), "doc_id", "text")
    cl = labels.groupBy("label").agg(F.count(F.lit(1)).alias("sz"))
    return cl.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("sz").alias("n_docs"),
        (F.sum("sz") - F.count(F.lit(1))).alias("n_removable"),
    )


# --- end-to-end dedup decision: the retained corpus ----------------------------
@register(
    "dedup_corpus_survivors",
    _label_prop_ctes()
    + """,
    short AS (SELECT doc_id, md5(array_to_string(t, ' ')) AS norm
              FROM tok WHERE len(t) < 3),
    skeep AS (SELECT norm, MIN(doc_id) AS keep_id FROM short GROUP BY norm),
    sdrop AS (SELECT s.doc_id FROM short s JOIN skeep k USING (norm)
              WHERE s.doc_id <> k.keep_id)
    SELECT node AS doc_id FROM l3
    WHERE label = node AND node NOT IN (SELECT doc_id FROM sdrop)""",
)
def dedup_corpus_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The document ids a training pipeline RETAINS after exact +
    near-dup removal: min-id survivor per near-dup component (exact dups
    with >= 3 tokens always share every LSH band, so the component
    minimum subsumes the exact-dedup survivor rule; sub-shingle-width
    docs get an explicit normalized-fingerprint exact pass)."""
    from ug_dwh_etl_spark.operators.dedup import dedup_survivors

    return dedup_survivors(table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "split_leakage_check",
    f"""
    WITH {_SHINGLE_HASH_CTES},
    {_shingle_overlap_ctes("exh")},
    pairs AS (
      {_JACCARD_PAIRS_SELECT}
    )
    SELECT CASE WHEN substr(md5(CAST(id_a AS VARCHAR)), 1, 2) >= '1a'
                THEN id_a ELSE id_b END AS train_id,
           CASE WHEN substr(md5(CAST(id_a AS VARCHAR)), 1, 2) >= '1a'
                THEN id_b ELSE id_a END AS eval_id,
           jaccard
    FROM pairs
    WHERE (substr(md5(CAST(id_a AS VARCHAR)), 1, 2) >= '1a')
       <> (substr(md5(CAST(id_b AS VARCHAR)), 1, 2) >= '1a')
    """,
)
def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination audit at the NEAR-duplicate level: n-gram
    Jaccard >= 0.5 pairs (the exact-verification stage of the dedup
    stack) where one doc landed in train and the other in eval under the
    deterministic hash split (split_train_test's brackets) — the
    benchmark-leakage check every LLM data pipeline runs before
    training. Exact-fingerprint leakage is the jaccard = 1.0 subset. The
    split is a pure expression on doc_id, so membership costs no join;
    at 100 TB the pair generation runs after LSH banding prunes
    candidates (same plan as dedup_ngram_jaccard)."""
    import pyspark.sql.functions as F

    from ug_dwh_etl_spark.operators.dedup import ngram_jaccard_pairs

    def is_train(c):
        return F.substring(F.md5(F.col(c).cast("string")), 1, 2) >= "1a"

    pairs = ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text", _JACCARD_MIN
    )
    return (
        pairs.filter(is_train("id_a") != is_train("id_b"))
        .select(
            F.when(is_train("id_a"), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("train_id"),
            F.when(is_train("id_a"), F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("eval_id"),
            "jaccard",
        )
    )


def _candidate_exact_ctes() -> str:
    """The LSH candidate pairs with each pair's shared-shingle count
    ``inter`` and each document's set size ``sizes``: what the two
    signature-estimate audits compare their estimates with."""
    return f"""{_lsh_pairs_ctes()},
    exh AS (SELECT DISTINCT doc_id, h AS sh FROM hashed),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM exh GROUP BY doc_id),
    inter AS (
      SELECT p.id_a, p.id_b, COUNT(*) AS inter
      FROM pairs p
        JOIN exh a ON a.doc_id = p.id_a
        JOIN exh b ON b.doc_id = p.id_b AND b.sh = a.sh
      GROUP BY p.id_a, p.id_b
    )"""


def _minhash_accuracy_sql() -> str:
    match_sum = " + ".join(
        f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)" for i in range(N_MINHASH)
    )
    return f"""
    WITH {_candidate_exact_ctes()},
    est AS (
      SELECT p.id_a, p.id_b, ({match_sum}) / 16.0 AS est
      FROM pairs p
        JOIN sig a ON a.doc_id = p.id_a
        JOIN sig b ON b.doc_id = p.id_b
    )
    SELECT e.id_a, e.id_b,
           ROUND(e.est, 6) AS est_jaccard,
           ROUND(COALESCE(i.inter / (sa.sz + sb.sz - i.inter), 0.0), 6)
             AS exact_jaccard,
           ROUND(ABS(e.est - COALESCE(i.inter / (sa.sz + sb.sz - i.inter), 0.0)), 6)
             AS abs_err
    FROM est e
      LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
      JOIN sizes sa ON sa.doc_id = e.id_a
      JOIN sizes sb ON sb.doc_id = e.id_b
    """


def _signed_candidates(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``(hashed, pairs, signed)``: the documents' shingle hashes, their
    LSH candidate pairs, and those pairs joined to both sides' MinHash
    components ``a0..`` and ``b0..`` — what the two signature-estimate
    audits score."""
    from ug_dwh_etl_spark.operators.dedup import (
        lsh_band_keys_from_sig,
        lsh_pairs_from_bands,
        minhash_signatures_from_hashed,
        shingle_hashes_raw,
    )

    docs = table(spark, sf_dir, "documents")
    # r12 subtree sharing (guide 2.4/5): the r11 plan tokenized the
    # corpus THREE times (lsh pairs, signatures, shingle sets) and ran
    # the LSH bucket self-join TWICE (`pairs` feeds both the estimator
    # join and the exact-jaccard join). Checkpoint the shared stages -
    # one text pass, one signature aggregation, one bucket self-join.
    hashed = shingle_hashes_raw(docs, "doc_id", "text").localCheckpoint(
        eager=False
    )
    sig = minhash_signatures_from_hashed(hashed, "doc_id").localCheckpoint(
        eager=False
    )
    pairs = lsh_pairs_from_bands(
        lsh_band_keys_from_sig(sig, "doc_id"), "doc_id"
    ).localCheckpoint(eager=False)
    sa = sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(N_MINHASH)],
    )
    sb = sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(N_MINHASH)],
    )
    return hashed, pairs, pairs.join(sa, "id_a").join(sb, "id_b")


def _with_exact_jaccard(
    est: DataFrame, hashed: DataFrame, pairs: DataFrame
) -> tuple[DataFrame, Column]:
    """``est`` (keyed by ``id_a``, ``id_b``) joined to each candidate
    pair's shared-shingle count and set sizes, and the exact Jaccard
    over them (0.0 for a pair that shares no shingle hash)."""
    shh = hashed.select("doc_id", F.col("h").alias("sh")).distinct()
    sizes = shh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = shh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sha"))
    b = shh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("shb"))
    inter = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .filter(F.col("sha") == F.col("shb"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz_a = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    exact = F.coalesce(
        F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        F.lit(0.0),
    )
    joined = (
        est.join(inter, ["id_a", "id_b"], "left")
        .join(sz_a, "id_a")
        .join(sz_b, "id_b")
    )
    return joined, exact


@register("dedup_minhash_accuracy", _minhash_accuracy_sql())
def dedup_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit: for every LSH candidate pair, the
    MinHash-ESTIMATED Jaccard (fraction of agreeing signature
    components) next to the EXACT shingle-set Jaccard, with the
    absolute error — the measurement that justifies (or rejects) a
    16-permutation signature before a 100 TB dedup run. The estimate
    costs only the signature self-join on the candidate pairs; the
    exact value reuses the hashed-shingle relation, so the audit runs on
    candidates (tiny), never all pairs."""
    hashed, pairs, signed = _signed_candidates(spark, sf_dir)
    match_sum = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(N_MINHASH)
    )
    est = signed.select("id_a", "id_b", (match_sum / 16.0).alias("est"))
    joined, exact = _with_exact_jaccard(est, hashed, pairs)
    return joined.select(
        "id_a",
        "id_b",
        F.round("est", 6).alias("est_jaccard"),
        F.round(exact, 6).alias("exact_jaccard"),
        F.round(F.abs(F.col("est") - exact), 6).alias("abs_err"),
    )


# --- incremental-ingest dedup (new batch vs existing corpus) --------------------
@register(
    "dedup_incremental",
    f"""
    WITH {_TOK_CTE},
    fp AS (SELECT doc_id, md5(array_to_string(t, ' ')) AS fingerprint FROM tok),
    batch AS (SELECT * FROM fp WHERE doc_id % 10 = 0),
    existing AS (SELECT fingerprint FROM fp WHERE doc_id % 10 <> 0),
    batch_survivors AS (
      SELECT fingerprint, MIN(doc_id) AS doc_id FROM batch GROUP BY fingerprint)
    SELECT doc_id FROM batch_survivors b
    WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.fingerprint = b.fingerprint)
    """,
)
def dedup_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-increment dedup shape: docs with doc_id % 10 = 0 play the
    incoming batch, the rest the already-ingested corpus. Batch is
    deduped internally (min-id per fingerprint) then anti-joined against
    the corpus fingerprints — at 100 TB the right side is the stored
    fingerprint index, not a corpus rescan."""
    from ug_dwh_etl_spark.operators.dedup import dedup_incremental

    docs = table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    existing = docs.filter(F.col("doc_id") % 10 != 0)
    return dedup_incremental(batch, existing, "doc_id", "text")


# --- incremental NEAR-dup against a persisted LSH index --------------------------
def lsh_corpus_index(spark: SparkSession, sf_dir: str):
    """The standing-corpus LSH index (band keys + shingle hashes over
    doc_id % 10 != 0) as SHARED ``materialize_once`` artifacts: in the
    daily-ingest model the index is maintained by prior ingests, so its
    build is infrastructure priced once per process — not inside any
    consumer's own timing. Both the batch twin
    (``dedup_incremental_neardup``) and the streaming twin
    (``streaming/jobs.py stream_incremental_neardup``, which file-copies
    these artifacts to seed its own appendable per-process index) read
    the same build. Returns ``(bands_df, shingles_df)``."""
    from ug_dwh_etl_spark.operators.dedup import (
        doc_shingle_hashes,
        lsh_band_keys,
        spread,
    )
    from ug_dwh_etl_spark.queries.registry import materialize_once

    existing = table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 != 0
    )
    bands = materialize_once(
        spark,
        sf_dir,
        "lsh_corpus_bands",
        lambda: lsh_band_keys(existing, "doc_id", "text"),
    )
    shingles = materialize_once(
        spark,
        sf_dir,
        "lsh_corpus_shingles",
        lambda: doc_shingle_hashes(spread(existing), "doc_id", "text"),
    )
    return bands, shingles


def _candidate_overlap_ctes() -> str:
    """The LSH candidate pairs (``_lsh_pairs_ctes``), each document's
    distinct shingle hashes ``exh2`` and their count ``sizes``."""
    return f"""{_lsh_pairs_ctes()},
    exh2 AS (SELECT DISTINCT doc_id, h FROM hashed),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM exh2 GROUP BY doc_id)"""


# The SELECT and FROM clauses of every candidate pair's shared-hash count
# over ``_candidate_overlap_ctes``; the caller adds its own WHERE, if any,
# and the ``GROUP BY p.id_a, p.id_b``.
_CANDIDATE_INTER_FROM = """SELECT p.id_a, p.id_b, COUNT(*) AS inter
      FROM pairs p
        JOIN exh2 a ON a.doc_id = p.id_a
        JOIN exh2 b ON b.doc_id = p.id_b AND b.h = a.h"""


def _incremental_neardup_sql() -> str:
    # The oracle is the FULL-corpus verified-pairs computation restricted
    # to pairs touching a batch id — exactly the new pairs a daily batch
    # introduces, which is what the incremental index-lookup must find.
    return f"""
    WITH {_candidate_overlap_ctes()},
    inter AS (
      {_CANDIDATE_INTER_FROM}
      WHERE p.id_a % 10 = 0 OR p.id_b % 10 = 0
      GROUP BY p.id_a, p.id_b)
    {_JACCARD_PAIRS_SELECT}
    """


@register("dedup_incremental_neardup", _incremental_neardup_sql())
def dedup_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest NEAR-dup: match the incoming batch (doc_id % 10 = 0)
    against the corpus via a PERSISTED LSH index — band keys and shingle
    hashes written to parquet at prior ingests — so no corpus text is
    rescanned (the corpus side of the returned plan scans the index
    files, not documents.parquet). The stored index here is actually
    written to disk and read back (overwritten per call; keyed by the
    sf_dir so scale factors don't collide), making this the runnable
    model of the daily 100 TB cadence: per-day cost is O(batch)
    signatures + band-key equi-joins against the index. The oracle
    recomputes the same pairs from the unioned corpus restricted to
    batch-touching ids, proving the incremental lookup finds exactly
    what a full re-run would add."""
    from ug_dwh_etl_spark.operators.dedup import incremental_neardup

    docs = table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    # the standing index is the shared materialize_once artifact pair —
    # in production prior ingests maintain it, so this query's own cost
    # is the MATCH path only (round-10: the stream twin seeds from the
    # same build instead of recomputing its own per-process copy)
    corpus_index, corpus_shingles = lsh_corpus_index(spark, sf_dir)
    return incremental_neardup(
        batch, corpus_index, corpus_shingles, "doc_id", "text", _JACCARD_MIN
    )


# --- candidate-restricted Jaccard verification ---------------------------------
def _verified_pairs_sql() -> str:
    return f"""
    WITH {_candidate_overlap_ctes()},
    inter AS (
      {_CANDIDATE_INTER_FROM}
      GROUP BY p.id_a, p.id_b)
    {_JACCARD_PAIRS_SELECT}
    """


@register("dedup_verified_pairs", _verified_pairs_sql())
def dedup_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dup pipeline: LSH banding proposes candidate
    pairs, exact Jaccard verifies them — computed ONLY on the candidates
    (pairs ⋈ shingles ⋈ shingles), so verification cost is linear in the
    candidate count × doc length, immune to the hot-shingle quadratic of
    the standalone self-join."""
    from ug_dwh_etl_spark.operators.dedup import verify_pairs_jaccard

    docs = table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text")
    return verify_pairs_jaccard(docs, pairs, "doc_id", "text", _JACCARD_MIN)


# --- dedup-threshold decision curve ----------------------------------------------
def _threshold_curve_sql() -> str:
    return f"""
    WITH {_candidate_overlap_ctes()},
    inter AS (
      {_CANDIDATE_INTER_FROM}
      GROUP BY p.id_a, p.id_b),
    vp AS (
      SELECT id_a, id_b,
             ROUND(inter / (sa.sz + sb.sz - inter), 6) AS j
      FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b),
    th AS (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS t)
    SELECT t,
           CAST(COUNT(CASE WHEN j >= t THEN 1 END) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT CASE WHEN j >= t THEN id_b END) AS BIGINT)
             AS n_docs_dropped
    FROM th CROSS JOIN vp
    GROUP BY t
    """


@register("dedup_threshold_curve", _threshold_curve_sql())
def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup-aggressiveness decision tool: exact Jaccard computed
    ONCE on the LSH candidates, then pair counts and docs-dropped (the
    max-id side, under the min-id survivor rule) at thresholds
    0.5–0.9 — run this BEFORE choosing the cut for a corpus pass, next
    to dedup_lsh_tuning_curve's banding decision. The candidate
    relation is computed once and the sweep is a 5-row broadcast cross
    of pair-sized data; at 100 TB cost is one verified-pairs pass, not
    five."""
    from ug_dwh_etl_spark.operators.dedup import verify_pairs_jaccard

    docs = table(spark, sf_dir, "documents")
    cands = minhash_lsh_pairs(docs, "doc_id", "text")
    vp = verify_pairs_jaccard(docs, cands, "doc_id", "text", threshold=0.0)
    th = spark.createDataFrame([(t,) for t in (0.5, 0.6, 0.7, 0.8, 0.9)], "t double")
    hit = F.col("jaccard") >= F.col("t")
    return (
        F.broadcast(th)
        .crossJoin(vp)
        .groupBy("t")
        .agg(
            F.sum(hit.cast("long")).alias("n_pairs"),
            F.count_distinct(F.when(hit, F.col("id_b"))).alias("n_docs_dropped"),
        )
    )


# --- boilerplate report: hottest shingles by document frequency -----------------
@register(
    "dedup_hot_shingles",
    f"""
    WITH {_SHINGLE_CTES}
    SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df
    FROM ex GROUP BY shingle
    ORDER BY df DESC, shingle LIMIT 20
    """,
)
def dedup_hot_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The boilerplate report: word-3-gram shingles ranked by document
    frequency — exactly the keys that drive the Σ df² blow-up in the
    exact-Jaccard self-join (see dedup_ngram_jaccard_capped). One
    partial-aggregated shuffle + TakeOrdered; the operational use is
    picking/validating the df cap before a corpus-scale run."""
    from ug_dwh_etl_spark.operators.dedup import doc_shingles

    sh = doc_shingles(table(spark, sf_dir, "documents"), "doc_id", "text")
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("shingle"))
        .limit(20)
    )


# --- duplicated-span density (sequence-level dedup signal) ----------------------
_SPAN_N = 8  # span length in tokens; fixture docs run ~30-100 tokens


@register(
    "text_duplicate_spans",
    f"""
    WITH {_TOK_CTE},
    sh AS (SELECT doc_id, {H.sql_shingles('t', _SPAN_N)} AS sgl FROM tok),
    spans AS (SELECT doc_id, {H.sql_md5_long('span', 15)} AS h
              FROM (SELECT doc_id, unnest(sgl) AS span FROM sh)),
    counted AS (SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS occ FROM spans)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
           ROUND(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) / COUNT(*)::DOUBLE, 6)
             AS dup_span_ratio
    FROM counted GROUP BY doc_id
    """,
)
def text_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-level dedup signal (the n-gram-granular approximation of
    exact substring dedup, Lee et al. 2022 "Deduplicating Training Data
    Makes Language Models Better"): for every {_SPAN_N}-token span,
    count corpus-wide occurrences of its hash; report per-document how
    many of its spans occur more than once anywhere (including within
    the doc). High dup_span_ratio = boilerplate-heavy document — the cut
    list for span-level cleaning. Two shuffles (span-hash count, per-doc
    agg); span hashes are 60-bit longs, never strings."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(F.col("doc_id"), H.tokens(F.col("text")).alias("t"))
    spans = toks.select(
        "doc_id",
        F.explode(H.shingles(F.col("t"), _SPAN_N)).alias("span"),
    ).select("doc_id", H.md5_long("span", 15).alias("h"))
    occ = spans.groupBy("h").agg(F.count(F.lit(1)).alias("occ"))
    return (
        spans.join(occ, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("occ") > 1).cast("long")).alias("n_dup_spans"),
            F.round(
                F.sum((F.col("occ") > 1).cast("long")) / F.count(F.lit(1)), 6
            ).alias("dup_span_ratio"),
        )
    )


# --- end-to-end corpus funnel: the pipeline dashboard row -----------------------
def _funnel_sql() -> str:
    from ug_dwh_etl_spark.operators.textstats import (
        QUALITY_RULES_DEFAULTS as R,
        STOPWORDS,
        sql_stop_filter,
    )

    return f"""
    WITH {_TOK_CTE},
    spans AS (SELECT doc_id, {H.sql_md5_long('span', 15)} AS h
              FROM (SELECT doc_id, unnest({H.sql_shingles('t', _SPAN_N)}) AS span
                    FROM tok)),
    spanstats AS (
      SELECT doc_id,
             SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) / COUNT(*)::DOUBLE AS dup_ratio
      FROM (SELECT doc_id, COUNT(*) OVER (PARTITION BY h) AS occ FROM spans)
      GROUP BY doc_id),
    m AS (
      SELECT doc_id,
             md5(array_to_string(t, ' ')) AS fingerprint,
             len(t) AS n_words,
             CASE WHEN len(t) > 0
                  THEN length(array_to_string(t, '')) / len(t)::DOUBLE END AS mean_raw,
             CASE WHEN len(t) > 0
                  THEN {sql_stop_filter('t', STOPWORDS['en'])} / len(t)::DOUBLE
                  ELSE 0.0 END AS stop_raw
      FROM tok),
    keepers AS (
      SELECT doc_id, fingerprint FROM m
      WHERE n_words BETWEEN {R['min_words']} AND {R['max_words']}
        AND COALESCE(mean_raw BETWEEN {R['min_mean_word_len']} AND {R['max_mean_word_len']}, FALSE)
        AND stop_raw >= {R['min_stopword_ratio']}),
    exact AS (SELECT MIN(doc_id) AS doc_id FROM keepers GROUP BY fingerprint)
    SELECT (SELECT COUNT(*) FROM documents) AS n_total,
           (SELECT COUNT(*) FROM keepers) AS n_quality,
           (SELECT COUNT(*) FROM exact) AS n_exact,
           (SELECT COUNT(*) FROM exact e JOIN spanstats s ON s.doc_id = e.doc_id
            WHERE s.dup_ratio < 0.5) AS n_final
    """


@register("corpus_pipeline_funnel", _funnel_sql())
def corpus_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline dashboard row: document counts surviving each
    chained cleaning stage — raw corpus → C4/Gopher quality gate →
    exact dedup (min-id per fingerprint among keepers) → duplicated-span
    cut (dup_span_ratio < 0.5). One scan feeds all stages; the stage
    relations are doc-id-sized. The number a data-curation team watches
    per ingest day."""
    from ug_dwh_etl_spark.operators import hashing as HH
    from ug_dwh_etl_spark.operators.textstats import quality_rule_columns

    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", HH.tokens("text").alias("t"))
    keep = quality_rule_columns("t")["keep"]
    # r12 (guide §2.4/§5): the four crossJoined funnel counters are
    # independent subtrees, so the tokenize pass used to run ~6x (once
    # per keepers/exact consumer, twice under spans). Checkpoint the
    # two doc-id-sized derived relations; tokenize now runs twice
    # (keepers, spans), every counter reads the checkpoints.
    keepers = (
        toks.select(
            "doc_id",
            F.md5(F.concat_ws(" ", F.col("t"))).alias("fingerprint"),
            keep.alias("keep"),
        )
        .filter(F.col("keep"))
        .localCheckpoint(eager=False)
    )
    exact = keepers.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    spans = (
        toks.select(
            "doc_id", F.explode(HH.shingles(F.col("t"), _SPAN_N)).alias("span")
        )
        .select("doc_id", HH.md5_long("span", 15).alias("h"))
        .localCheckpoint(eager=False)
    )
    occ = spans.groupBy("h").agg(F.count(F.lit(1)).alias("occ"))
    spanstats = (
        spans.join(occ, "h")
        .groupBy("doc_id")
        .agg(
            (F.sum((F.col("occ") > 1).cast("long")) / F.count(F.lit(1))).alias(
                "dup_ratio"
            )
        )
    )
    n_total = docs.agg(F.count(F.lit(1)).alias("n_total"))
    n_quality = keepers.agg(F.count(F.lit(1)).alias("n_quality"))
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_final = (
        exact.join(spanstats, "doc_id")
        .filter(F.col("dup_ratio") < 0.5)
        .agg(F.count(F.lit(1)).alias("n_final"))
    )
    return n_total.crossJoin(n_quality).crossJoin(n_exact).crossJoin(n_final)


# --- prefix-filtering exact set-similarity join (PPJoin family) -----------------
def _prefix_filter_oracle() -> str:
    # the algorithm is exact (no false negatives), so its oracle IS the
    # all-pairs exact-Jaccard result — shared with dedup_ngram_jaccard:
    # two different algorithms, one truth
    return QUERIES["dedup_ngram_jaccard"].oracle


@register("dedup_prefix_filter_pairs", _prefix_filter_oracle())
def dedup_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= 0.5 pairs via PREFIX FILTERING: join only on
    each doc's rarest |d| - ceil(t|d|) + 1 shingles (any qualifying pair
    must share one — pigeonhole), then verify candidates. Same answer as
    the all-pairs self-join (shared oracle proves it), wildly smaller
    join: hot boilerplate shingles sort to the end of every prefix
    ordering and never drive the candidate explosion the df-capped
    variant bounds by dropping them."""
    from ug_dwh_etl_spark.operators.dedup import prefix_filter_pairs

    return prefix_filter_pairs(table(spark, sf_dir, "documents"), "doc_id", "text")


# --- near-dup CLUSTERS over the embedding modality (compose: SRP pairs →
# --- convergent components) ----------------------------------------------------
def _emb_cluster_sql() -> str:
    from ug_dwh_etl_spark.operators.similarity import N_HYPERPLANES, sql_plane_literal

    terms = " + ".join(
        f"(CASE WHEN list_dot_product(e, {sql_plane_literal(j)}) > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(N_HYPERPLANES)
    )
    return f"""
    WITH RECURSIVE
    b AS (SELECT vec_id, embedding::DOUBLE[] AS e, {terms} AS bucket FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS id_a, bb.vec_id AS id_b
      FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
      WHERE ROUND(list_dot_product(a.e, bb.e)
                  / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(bb.e, bb.e))),
                  6) >= 0.3),
    und AS (SELECT id_a AS a, id_b AS bb FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    reach(node, r) AS (
      SELECT a, a FROM und
      UNION
      SELECT und.a, reach.r FROM und JOIN reach ON reach.node = und.bb
    ),
    comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
    SELECT component AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM comp GROUP BY component HAVING COUNT(*) > 1
    """


@register("embed_dup_clusters", _emb_cluster_sql())
def embed_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS on the embedding modality, end to end:
    SRP-bucketed cosine pairs (dedup_embedding_cosine's candidate+verify
    shape) become an edge list, and the large-star/small-star fixpoint
    (operators.graph.connected_components_converged) contracts it into
    true clusters — no iteration-count guess, any diameter. This is the
    production embedding-dedup decision table: keep min-id per cluster,
    drop the rest. The oracle closes reachability with a recursive CTE
    over the identical pair set, so cluster membership is engine-exact."""
    from ug_dwh_etl_spark.operators.dedup import embedding_cosine_pairs
    from ug_dwh_etl_spark.operators.graph import connected_components_converged

    pairs = embedding_cosine_pairs(
        table(spark, sf_dir, "embeddings"), "vec_id", "embedding", 0.3
    ).select("id_a", "id_b")
    comp = connected_components_converged(pairs, src="id_a", dst="id_b")
    return (
        comp.groupBy(F.col("component").alias("cluster_id"))
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .filter(F.col("n_vecs") > 1)
    )


# --- sorted-neighborhood blocking (record-linkage candidate generation) ---------
_SNB_WINDOW = 3
_SNB_LEV_MAX = 3


@register(
    "dedup_sorted_neighborhood",
    f"""
    WITH base AS (
      SELECT p_partkey, p_name, substr(p_name, 1, 4) AS blk FROM part),
    nbr AS (
      SELECT p_partkey, p_name, blk, o,
             lead(p_name, o) OVER (PARTITION BY blk, o
                                   ORDER BY p_name, p_partkey) AS nb_name,
             lead(p_partkey, o) OVER (PARTITION BY blk, o
                                      ORDER BY p_name, p_partkey) AS nb_key
      FROM base, (SELECT unnest(range(1, {_SNB_WINDOW + 1})) AS o))
    SELECT p_partkey AS key_a, nb_key AS key_b,
           CAST(levenshtein(p_name, nb_name) AS INT) AS lev
    FROM nbr
    WHERE nb_key IS NOT NULL AND levenshtein(p_name, nb_name) <= {_SNB_LEV_MAX}
    """,
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood record-linkage blocking over part names: sort
    within a 4-char-prefix block, compare each record to its next
    {_W} neighbors in sort order, keep pairs with edit distance <=
    {_L} — the O(n·w) classic that complements MinHash-LSH (which
    needs token overlap; this catches short strings and typo families).
    Scale shape: windows are PARTITIONED by block (and per-offset), so
    the sort is per-block parallel, never a global single-reducer
    ORDER BY; each record emits exactly w candidate comparisons, and
    the quadratic all-pairs product never forms. The per-offset window
    trick (cross join with offsets 1..w, lead(col, o) inside a
    (block, o) partition) keeps the whole thing in two codegen'd
    window stages with a Levenshtein filter — no UDF, no self-join.
    """.replace("{_W}", str(_SNB_WINDOW)).replace("{_L}", str(_SNB_LEV_MAX))
    from pyspark.sql import Window

    part = table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", F.substring("p_name", 1, 4).alias("blk")
    )
    offs = part.crossJoin(
        F.broadcast(
            spark.range(1, _SNB_WINDOW + 1).select(F.col("id").cast("int").alias("o"))
        )
    )
    w = Window.partitionBy("blk", "o").orderBy("p_name", "p_partkey")
    # lead(col, o) needs a literal offset per window — running one window
    # per offset value o over the replicated relation gives the same
    # result with o as DATA, matching the oracle's lateral spelling
    nbr = None
    parts = []
    for o in range(1, _SNB_WINDOW + 1):
        sub = offs.filter(F.col("o") == o).select(
            "p_partkey",
            "p_name",
            "blk",
            "o",
            F.lead("p_name", o).over(w).alias("nb_name"),
            F.lead("p_partkey", o).over(w).alias("nb_key"),
        )
        parts.append(sub)
    nbr = parts[0]
    for s in parts[1:]:
        nbr = nbr.unionByName(s)
    lev = F.levenshtein("p_name", "nb_name")
    return nbr.filter(F.col("nb_key").isNotNull() & (lev <= _SNB_LEV_MAX)).select(
        F.col("p_partkey").alias("key_a"),
        F.col("nb_key").alias("key_b"),
        lev.cast("int").alias("lev"),
    )


# --- containment (subset-duplication) pairs --------------------------------------
@register(
    "dedup_containment_pairs",
    f"""
    WITH {_SHINGLE_HASH_CTES},
    {_shingle_overlap_ctes("exh")}
    {_CONTAINMENT_PAIRS_SELECT}
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-set containment ≥ 0.8 pairs — the subset-duplication
    detector (a quote, excerpt, or wholesale embedding of one document
    inside another) that symmetric Jaccard structurally under-scores:
    |A∩B|/min(|A|,|B|) hits 1.0 for a perfect excerpt whose Jaccard is
    only |A|/|B|. Emitted next to the Jaccard value so the gap is
    auditable. Same shingle-hash-join as dedup_ngram_jaccard (one
    ReuseExchange'd shingle relation, self-joined on the 60-bit hash);
    at corpus scale it runs over LSH candidates with the df-cap bound
    (dedup_ngram_jaccard_capped) — the denominators change, the scale
    shape doesn't."""
    from ug_dwh_etl_spark.operators.dedup import containment_pairs

    return containment_pairs(table(spark, sf_dir, "documents"), "doc_id", "text", 0.8)


# --- LSH band/row tuning curve ---------------------------------------------------
# (bands, rows_per_band) layouts of the SAME 16-component signature; the
# S-curve P(candidate | j) = 1 - (1 - j^r)^b steepens with r. Probability
# literals below are the curve at the dedup threshold j = 0.5.
_LSH_CONFIGS = ((16, 1), (8, 2), (4, 4), (2, 8))
_LSH_T = 0.5


def _lsh_tuning_sql() -> str:
    cfg_parts = []
    cfg_rows = []
    for bands, rows in _LSH_CONFIGS:
        band_selects = []
        for b in range(bands):
            key = " || '_' || ".join(
                f"mh{b * rows + r}::VARCHAR" for r in range(rows)
            )
            band_selects.append(
                f"SELECT doc_id, {b} AS band_id, {key} AS band_key FROM sig"
            )
        sel = "\n      UNION ALL\n      ".join(band_selects)
        tag = f"b{bands}r{rows}"
        cfg_parts.append(f"""bands_{tag} AS (
      {sel}
    ),
    cand_{tag} AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      FROM bands_{tag} l JOIN bands_{tag} r
        ON l.band_id = r.band_id AND l.band_key = r.band_key AND l.doc_id < r.doc_id)""")
        p_catch = 1.0 - (1.0 - _LSH_T**rows) ** bands
        cfg_rows.append(f"""SELECT {bands} AS bands, {rows} AS rows_per_band,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cand_{tag}) AS n_candidates,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true_pairs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cand_{tag} c
             JOIN truth t ON t.id_a = c.id_a AND t.id_b = c.id_b) AS true_positives,
           ROUND((SELECT COUNT(*) FROM cand_{tag} c
             JOIN truth t ON t.id_a = c.id_a AND t.id_b = c.id_b) * 1.0
             / NULLIF((SELECT COUNT(*) FROM truth), 0), 6) AS recall,
           ROUND((SELECT COUNT(*) FROM cand_{tag} c
             JOIN truth t ON t.id_a = c.id_a AND t.id_b = c.id_b) * 1.0
             / NULLIF((SELECT COUNT(*) FROM cand_{tag}), 0), 6) AS precision,
           ROUND({p_catch!r}, 6) AS p_catch_at_threshold""")
    mins = ", ".join(
        f"MIN({H.sql_minhash_perm('h', i)}) AS mh{i}" for i in range(N_MINHASH)
    )
    cfg_ctes = ",\n    ".join(cfg_parts)
    cfg_union = "\n    UNION ALL ".join(cfg_rows)
    return f"""
    WITH {_SHINGLE_CTES},
    hashed AS (SELECT doc_id, {H.sql_md5_long('shingle', 15)} AS h FROM ex),
    sig AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id),
    exh AS (SELECT DISTINCT doc_id, h AS sh FROM hashed),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM exh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM exh a JOIN exh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    truth AS (
      SELECT id_a, id_b FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
      WHERE ROUND(inter / (sa.sz + sb.sz - inter), 6) >= {_LSH_T}),
    {cfg_ctes}
    {cfg_union}
    """


@register("dedup_lsh_tuning_curve", _lsh_tuning_sql())
def dedup_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH layout tuning: the SAME 16-component MinHash signature cut
    into (16x1, 8x2, 4x4, 2x8) band layouts, each measured against the
    exact-Jaccard truth set - candidates, recall, precision, next to
    the theoretical S-curve catch probability 1-(1-t^r)^b at the dedup
    threshold. This is the sibling of sim_ivf_recall_curve for the
    dedup stack: the measurement that picks the banding BEFORE a
    100 TB run (more bands -> recall->1 but candidate volume explodes;
    more rows/band -> precision->1 but borderline dups slip).

    r12 banding fusion (guide §2.3/§2.4): every layout's candidate set
    is derivable from ONE relation - the per-pair 16-bit component
    AGREEMENT MASK (bit i set iff the pair agrees on mh_i). A pair is a
    (b, r) candidate iff some aligned r-bit band of its mask is all
    ones, so the four band-key self-joins + distincts of the r11 plan
    collapse into one single-component self-join (exactly the 16x1
    layout's join, the superset of all four candidate sets) + one
    8-way conditional aggregate over the mask relation. The shingle
    hash relation is checkpointed and shared by the signature AND the
    exact-truth side, so the corpus text is tokenized once, not twice.
    At corpus scale you'd run this audit on a sampled partition - this
    plan does unchanged."""
    from ug_dwh_etl_spark.operators.dedup import _exploded_shingles, spread

    docs = table(spark, sf_dir, "documents")
    ex = _exploded_shingles(spread(docs), "doc_id", "text")
    hashed = ex.select(
        F.col("doc_id"), H.content_hash_long("shingle", 15).alias("h")
    ).localCheckpoint(eager=False)
    # exact-Jaccard truth set (same dataflow as r11, now over the
    # checkpointed hash relation instead of a second text pass)
    shh = hashed.select("doc_id", F.col("h").alias("sh")).distinct()
    sizes = shh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = shh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sha"))
    b = shh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("shb"))
    inter = (
        a.join(b, (F.col("sha") == F.col("shb")) & (F.col("id_a") < F.col("id_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    truth = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            )
            >= _LSH_T
        )
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)  # consumed twice: flag join + count
    )
    sig = hashed.groupBy("doc_id").agg(
        *[
            F.min(H.minhash_perm(F.col("h"), i)).alias(f"mh{i}")
            for i in range(N_MINHASH)
        ]
    )
    comp = sig.select(
        "doc_id",
        F.posexplode(
            F.array(*[F.col(f"mh{i}") for i in range(N_MINHASH)])
        ).alias("i", "v"),
    )
    l = comp.alias("l")
    r_ = comp.alias("r")
    # one row per candidate pair; at most one match per (pair, i), so
    # the sum of 2^i IS the bitwise-or agreement mask
    masks = (
        l.join(
            r_,
            (F.col("l.i") == F.col("r.i"))
            & (F.col("l.v") == F.col("r.v"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .groupBy(
            F.col("l.doc_id").alias("id_a"), F.col("r.doc_id").alias("id_b")
        )
        .agg(F.sum(F.expr("shiftleft(1, cast(l.i as int))")).alias("mask"))
    )
    flagged = masks.join(
        F.broadcast(truth.withColumn("it", F.lit(1))), ["id_a", "id_b"], "left"
    )

    def is_cand(bands: int, rows: int):
        cond = None
        for bb in range(bands):
            bm = ((1 << rows) - 1) << (bb * rows)
            c = F.col("mask").bitwiseAND(F.lit(bm)) == bm
            cond = c if cond is None else (cond | c)
        return cond

    def n_rows(cond):
        # an empty candidate set sums to NULL; the oracle's COUNT(*) is 0
        return F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)).cast("long")

    aggs = []
    for bands, rows in _LSH_CONFIGS:
        tag = f"{bands}_{rows}"
        aggs.append(n_rows(is_cand(bands, rows)).alias(f"nc_{tag}"))
        aggs.append(
            n_rows(is_cand(bands, rows) & F.col("it").isNotNull()).alias(f"tp_{tag}")
        )
    stats = flagged.agg(*aggs).crossJoin(
        F.broadcast(
            truth.agg(F.count(F.lit(1)).cast("long").alias("n_true_pairs"))
        )
    )
    out = None
    for bands, rows in _LSH_CONFIGS:
        tag = f"{bands}_{rows}"
        p_catch = 1.0 - (1.0 - _LSH_T**rows) ** bands
        row = stats.select(
            F.lit(bands).alias("bands"),
            F.lit(rows).alias("rows_per_band"),
            F.col(f"nc_{tag}").alias("n_candidates"),
            F.col("n_true_pairs"),
            F.col(f"tp_{tag}").alias("true_positives"),
            F.round(
                F.col(f"tp_{tag}")
                / F.nullif(F.col("n_true_pairs") * F.lit(1.0), F.lit(0.0)),
                6,
            ).alias("recall"),
            F.round(
                F.col(f"tp_{tag}")
                / F.nullif(F.col(f"nc_{tag}") * F.lit(1.0), F.lit(0.0)),
                6,
            ).alias("precision"),
            F.round(F.lit(p_catch), 6).alias("p_catch_at_threshold"),
        )
        out = row if out is None else out.unionByName(row)
    return out.localCheckpoint(eager=True)


# --- chunk-boundary (suffix→prefix) overlap --------------------------------------
_EDGE_K = 3


@register(
    "dedup_chunk_overlap",
    f"""
    WITH {_TOK_CTE},
    edges AS (
      SELECT doc_id,
             array_to_string(t[1:{_EDGE_K}], ' ') AS head,
             array_to_string(t[-{_EDGE_K}:], ' ') AS tail
      FROM tok WHERE len(t) >= {_EDGE_K})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.tail AS boundary
    FROM edges a JOIN edges b
      ON a.tail = b.head AND a.doc_id <> b.doc_id
    """,
)
def dedup_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-boundary duplication: pairs where document A's last
    {_K}-token edge reappears verbatim as document B's FIRST {_K}
    tokens — the artifact sliding-window chunking leaves behind
    (text_chunk_docs' overlap windows re-enter the corpus as fresh
    rows), which symmetric whole-document measures structurally miss.
    One narrow projection computes each doc's head/tail edge, then a
    hash equi-join on the edge string — linear scan + a key-bucketed
    join whose cost tracks edge-value frequency, never all-pairs. In a
    production pass the edge length runs at the chunk-overlap size;
    {_K} matches the fixture's shingle width so the fixture corpus
    actually exhibits collisions to audit.""".replace("{_K}", str(_EDGE_K))
    docs = table(spark, sf_dir, "documents")
    toks = H.tokens(F.col("text"))
    edges = docs.select(
        "doc_id",
        F.concat_ws(" ", F.slice(toks, 1, _EDGE_K)).alias("head"),
        F.concat_ws(" ", F.slice(toks, -_EDGE_K, _EDGE_K)).alias("tail"),
    ).filter(F.size(toks) >= _EDGE_K)
    a = edges.select(F.col("doc_id").alias("id_a"), F.col("tail").alias("boundary"))
    b = edges.select(F.col("doc_id").alias("id_b"), F.col("head").alias("boundary"))
    return a.join(b, "boundary").filter(F.col("id_a") != F.col("id_b")).select(
        "id_a", "id_b", "boundary"
    )


@register(
    "dedup_containment_capped",
    f"""
    WITH {_SHINGLE_HASH_CTES},
    {_CAPPED_SHINGLES_CTE},
    {_shingle_overlap_ctes("capped")}
    {_CONTAINMENT_PAIRS_SELECT}
    """,
)
def dedup_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The df-capped containment twin (cap 5, matching
    dedup_ngram_jaccard_capped): boilerplate shingles are dropped from
    the sets before the self-join, bounding the hot-bucket Σdf² term
    that made the uncapped probe grow 44x at 16x data. Where no shingle
    crosses the cap the result is bit-identical to the uncapped run —
    the scale path for running containment OUTSIDE LSH candidates."""
    from ug_dwh_etl_spark.operators.dedup import containment_pairs

    return containment_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text", 0.8, max_shingle_df=5
    )


# --- quality-aware survivorship over near-dup clusters ---------------------------
def _quality_survivors_sql() -> str:
    return f"""
    WITH RECURSIVE {_candidate_overlap_ctes()},
    inter AS (
      {_CANDIDATE_INTER_FROM}
      GROUP BY p.id_a, p.id_b),
    vp AS (
      SELECT id_a, id_b
      FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
      WHERE ROUND(inter / (sa.sz + sb.sz - inter), 6) >= {_JACCARD_MIN}),
    und AS (SELECT id_a AS a, id_b AS b FROM vp
            UNION SELECT id_b, id_a FROM vp),
    reach(node, r) AS (
      SELECT a, a FROM und
      UNION
      SELECT und.a, reach.r FROM und JOIN reach ON reach.node = und.b
    ),
    comp AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node),
    qual AS (
      SELECT doc_id,
             ROUND(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                   / length(text)::DOUBLE, 6) AS alpha_ratio
      FROM documents),
    ranked AS (
      SELECT c.cluster_id, c.node AS doc_id, q.alpha_ratio,
             ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                ORDER BY q.alpha_ratio DESC, c.node) AS rk
      FROM comp c JOIN qual q ON q.doc_id = c.node)
    SELECT cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MIN(CASE WHEN rk = 1 THEN doc_id END) AS survivor_id,
           MIN(CASE WHEN rk = 1 THEN alpha_ratio END) AS survivor_alpha
    FROM ranked GROUP BY cluster_id
    """


@register("dedup_quality_survivors", _quality_survivors_sql())
def dedup_quality_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEEP-THE-BEST near-dup survivorship: verified LSH pairs close
    into clusters (convergent components), and each cluster's survivor
    is chosen by QUALITY (highest alpha ratio, ties to the smaller
    doc_id) instead of the usual min-id rule — the policy real corpus
    builds use so boilerplate-padded mirrors lose to their cleanest
    copy. Composes the proven pieces end to end: LSH propose → Jaccard
    verify → fixpoint clustering → one grouped argmax per cluster
    (min_by over a (-quality, id) struct, 6dp-rounded BEFORE the argmax
    so the pick is engine-exact). Everything past verification shuffles
    on cluster ids only."""
    from ug_dwh_etl_spark.operators.dedup import verify_pairs_jaccard
    from ug_dwh_etl_spark.operators.graph import connected_components_converged
    from ug_dwh_etl_spark.operators.textstats import quality_scores

    docs = table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text")
    vp = verify_pairs_jaccard(docs, pairs, "doc_id", "text", _JACCARD_MIN).select(
        "id_a", "id_b"
    )
    comp = connected_components_converged(vp, src="id_a", dst="id_b")
    qual = quality_scores(docs, "doc_id", "text").select("doc_id", "alpha_ratio")
    mem = comp.join(qual, comp["node"] == qual["doc_id"]).select(
        F.col("component").alias("cluster_id"), "doc_id", "alpha_ratio"
    )
    pick = F.min_by(
        F.struct(F.col("doc_id"), F.col("alpha_ratio")),
        F.struct((-F.col("alpha_ratio")).alias("neg"), F.col("doc_id")),
    )
    return mem.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        pick["doc_id"].alias("survivor_id"),
        pick["alpha_ratio"].alias("survivor_alpha"),
    )


# --- b-bit minhash (Li & Koenig): 1-bit signatures, 16x smaller again ---------------


def _bbit_minhash_sql() -> str:
    full_sum = " + ".join(
        f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)" for i in range(N_MINHASH)
    )
    bit_sum = " + ".join(
        f"(CASE WHEN (a.mh{i} & 1) = (b.mh{i} & 1) THEN 1 ELSE 0 END)"
        for i in range(N_MINHASH)
    )
    return f"""
    WITH {_candidate_exact_ctes()},
    est AS (
      SELECT p.id_a, p.id_b,
             ({full_sum}) / {float(N_MINHASH)} AS est_full,
             GREATEST(2.0 * (({bit_sum}) / {float(N_MINHASH)}) - 1.0, 0.0)
               AS est_1bit
      FROM pairs p
        JOIN sig a ON a.doc_id = p.id_a
        JOIN sig b ON b.doc_id = p.id_b
    )
    SELECT e.id_a, e.id_b,
           ROUND(e.est_full, 6) AS est_full,
           ROUND(e.est_1bit, 6) AS est_1bit,
           ROUND(COALESCE(i.inter / (sa.sz + sb.sz - i.inter), 0.0), 6)
             AS exact_jaccard
    FROM est e
      LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
      JOIN sizes sa ON sa.doc_id = e.id_a
      JOIN sizes sb ON sb.doc_id = e.id_b
    """


@register("dedup_bbit_minhash", _bbit_minhash_sql())
def dedup_bbit_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-BIT MINHASH audit (b=1, Li & Koenig 2010): store only the
    LOWEST BIT of each minhash component — the signature shrinks 64x vs
    bigint components (16 perms fit in 2 bytes), the storage shape a
    100 TB dedup index wants. Non-matching minhashes still agree on the
    low bit half the time, so the unbiased estimator debiases the
    agreement rate: J = 2*A - 1 (clamped at 0), vs the full-width
    estimate A_full. Emitted per LSH candidate pair next to the EXACT
    shingle Jaccard so the audit measures exactly what the 64x
    compression costs in estimator variance — same candidates-only cost
    shape as dedup_minhash_accuracy (never all pairs). Parity bit via
    `& 1` (two's-complement low bit — identical for negative bigints on
    both engines)."""
    hashed, pairs, signed = _signed_candidates(spark, sf_dir)
    full_sum = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(N_MINHASH)
    )
    bit_sum = sum(
        F.when(
            F.col(f"a{i}").bitwiseAND(F.lit(1)) == F.col(f"b{i}").bitwiseAND(F.lit(1)),
            1,
        ).otherwise(0)
        for i in range(N_MINHASH)
    )
    est = signed.select(
        "id_a",
        "id_b",
        (full_sum / float(N_MINHASH)).alias("est_full"),
        F.greatest(2.0 * (bit_sum / float(N_MINHASH)) - 1.0, F.lit(0.0)).alias(
            "est_1bit"
        ),
    )
    joined, exact = _with_exact_jaccard(est, hashed, pairs)
    return joined.select(
        "id_a",
        "id_b",
        F.round("est_full", 6).alias("est_full"),
        F.round("est_1bit", 6).alias("est_1bit"),
        F.round(exact, 6).alias("exact_jaccard"),
    )


# --- semantic dedup inside IVF cells (SemDeDup shape) ------------------------------
_SEMDEDUP_TAU = 0.4  # cosine threshold; 0.95+ in production — the synthetic
# embeddings top out at 0.49 within-cell, so the fixture binds at 0.4


def _ivf_qual_ctes() -> str:
    """The shared oracle prefix of the SemDeDup family: IVF assignment
    (base/d/m/a) + the alpha-ratio quality relation (qual) — ONE copy so
    the three verdict oracles (_semantic_cells_sql, _capped, _incremental)
    cannot drift apart. Callers append their own av/drops/select tails."""
    from ug_dwh_etl_spark.operators.similarity import (
        N_CENTROIDS,
        sql_centroid_dist,
    )

    dists = ", ".join(
        f"{sql_centroid_dist('e', j)} AS d{j}" for j in range(N_CENTROIDS)
    )
    least = f"LEAST({', '.join(f'd{j}' for j in range(N_CENTROIDS))})"
    case = " ".join(f"WHEN d{j} = m THEN {j}" for j in range(N_CENTROIDS))
    return f"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    d AS (SELECT vec_id, e, {dists} FROM base),
    m AS (SELECT vec_id, e, {least} AS m, * EXCLUDE (vec_id, e) FROM d),
    a AS (SELECT vec_id, e, CASE {case} END AS cluster FROM m),
    qual AS (
      SELECT doc_id,
             ROUND(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                   / length(text)::DOUBLE, 6) AS q
      FROM documents)"""


def _semantic_cells_sql() -> str:
    from ug_dwh_etl_spark.operators.similarity import duck_cosine_sql

    # av is referenced twice (both self-join sides) -> MATERIALIZED, or
    # DuckDB re-inlines the whole 8-distance assignment per side
    return f"""
    {_ivf_qual_ctes()},
    av AS MATERIALIZED (
      SELECT a.vec_id, a.e, a.cluster, qual.q
      FROM a JOIN qual ON qual.doc_id = a.vec_id),
    drops AS (
      SELECT DISTINCT x.vec_id
      FROM av x JOIN av y
        ON y.cluster = x.cluster AND y.vec_id <> x.vec_id
       AND (y.q > x.q OR (y.q = x.q AND y.vec_id < x.vec_id))
      WHERE {duck_cosine_sql('x.e', 'y.e')} >= {_SEMDEDUP_TAU})
    SELECT av.vec_id, CAST(av.cluster AS INT) AS cluster,
           (drops.vec_id IS NULL) AS kept
    FROM av LEFT JOIN drops ON drops.vec_id = av.vec_id
    """


def _build_semantic_verdicts(
    spark: SparkSession, sf_dir: str, cap: int | None
) -> DataFrame:
    """The SemDeDup verdict relation (vec_id, cluster, kept) both the
    exact and the capped pass share: assign embeddings to IVF cells,
    join the quality score, and drop a member when a higher-quality
    cell-mate is cosine-similar above tau. ``cap=None`` compares against
    ALL cell-mates (exact, quadratic in cell size); ``cap=k`` compares
    only against each cell's top-k quality-ranked members (the elite —
    identical verdicts for cells <= k, graceful degradation above)."""
    from ug_dwh_etl_spark.operators.dedup import spread
    from ug_dwh_etl_spark.operators.similarity import cosine, ivf_assign
    from ug_dwh_etl_spark.operators.textstats import alpha_ratio_col

    emb = table(spark, sf_dir, "embeddings")
    docs = table(spark, sf_dir, "documents")
    qual = docs.select(
        F.col("doc_id").alias("vec_id"), alpha_ratio_col("text").alias("q")
    )
    av = (
        ivf_assign(spread(emb))
        .select("vec_id", "embedding", "cluster")
        .join(qual, "vec_id")
    )
    # r12: precompute each row's norm ONCE — cosine over a pair is
    # three O(d) folds (dot(x,y), dot(x,x), dot(y,y)); hoisting the
    # self-dots to the |cell|-sized relations leaves ONE fold on the
    # quadratic pair term. sqrt(dot(v,v)) is a deterministic function
    # of the row, so the per-pair value (and its 6dp round) is
    # bit-identical to the inline form.
    from ug_dwh_etl_spark.operators.similarity import dot as _dot

    nrm = F.sqrt(_dot("embedding", "embedding"))
    x = av.select(
        F.col("vec_id").alias("xid"),
        F.col("embedding").alias("xe"),
        nrm.alias("xn"),
        F.col("cluster"),
        F.col("q").alias("xq"),
    )
    y_src = av
    if cap is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("cluster").orderBy(F.desc("q"), F.asc("vec_id"))
        y_src = av.withColumn("rk", F.row_number().over(w)).filter(
            F.col("rk") <= cap
        )
    y = y_src.select(
        F.col("vec_id").alias("yid"),
        F.col("embedding").alias("ye"),
        nrm.alias("yn"),
        F.col("cluster"),
        F.col("q").alias("yq"),
    )
    drops = (
        x.join(y, "cluster")
        .filter(
            (F.col("yid") != F.col("xid"))
            & (
                (F.col("yq") > F.col("xq"))
                | ((F.col("yq") == F.col("xq")) & (F.col("yid") < F.col("xid")))
            )
        )
        .filter(
            F.round(_dot("xe", "ye") / (F.col("xn") * F.col("yn")), 6)
            >= _SEMDEDUP_TAU
        )
        .select(F.col("xid").alias("vec_id"))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return av.join(drops, "vec_id", "left").select(
        "vec_id",
        F.col("cluster").cast("int").alias("cluster"),
        F.coalesce(~F.col("_dropped"), F.lit(True)).alias("kept"),
    )


@register("dedup_semantic_cells", _semantic_cells_sql())
def dedup_semantic_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC DEDUP (SemDeDup, Abbas et al. 2023) inside IVF cells:
    the pretraining-standard pass that lexical dedup (MinHash/SimHash/
    PPJoin) misses — same-meaning, different-words documents. Rule: a
    document is DROPPED when some other member of its IVF cell is
    cosine-similar above tau AND outranks it on the corpus quality
    score (alpha_ratio DESC, doc_id ASC — the dedup_quality_survivors
    ranking), so every near-dup neighborhood keeps exactly its best
    exemplar and verdicts need no iteration. Scale shape: pairs are
    generated ONLY inside a cell (the self-join is keyed on the cluster
    id — one hash shuffle by cell, never corpus all-pairs), and the
    per-cell fan-out is bounded by cell size, which the index OWNER
    controls: K grows with corpus size so cells stay ~constant
    (SCALE.md §semdedup measures the fan-out curve and the cap
    discipline). tau is 0.95+ in production; the synthetic embeddings
    top out at 0.49 within-cell, so the fixture binds at 0.4 to
    exercise real drops. Reference: the reference corpus tooling has no
    semantic pass (SURVEY.md LLM-ops gap list). The verdict relation is
    a ``materialize_once`` artifact (the ``_er_components`` convention):
    the quadratic pass runs at most once per process and every
    downstream consumer joins the stored verdicts — at 100 TB this IS a
    persisted corpus table the dedup job owns, not a per-query CTE."""
    from ug_dwh_etl_spark.queries.registry import materialize_once

    return materialize_once(
        spark,
        sf_dir,
        "semantic_verdicts_exact",
        lambda: _build_semantic_verdicts(spark, sf_dir, cap=None),
    )


_SEMDEDUP_ELITE = 32  # per-cell comparison budget for the capped twin


def _semantic_cells_capped_sql() -> str:
    from ug_dwh_etl_spark.operators.similarity import duck_cosine_sql

    return f"""
    {_ivf_qual_ctes()},
    av AS MATERIALIZED (
      SELECT a.vec_id, a.e, a.cluster, qual.q,
             ROW_NUMBER() OVER (PARTITION BY a.cluster
                                ORDER BY qual.q DESC, a.vec_id) AS rk
      FROM a JOIN qual ON qual.doc_id = a.vec_id),
    drops AS (
      SELECT DISTINCT x.vec_id
      FROM av x JOIN av y
        ON y.cluster = x.cluster AND y.vec_id <> x.vec_id
       AND y.rk <= {_SEMDEDUP_ELITE}
       AND (y.q > x.q OR (y.q = x.q AND y.vec_id < x.vec_id))
      WHERE {duck_cosine_sql('x.e', 'y.e')} >= {_SEMDEDUP_TAU})
    SELECT av.vec_id, CAST(av.cluster AS INT) AS cluster,
           (drops.vec_id IS NULL) AS kept
    FROM av LEFT JOIN drops ON drops.vec_id = av.vec_id
    """


@register("dedup_semantic_cells_capped", _semantic_cells_capped_sql())
def dedup_semantic_cells_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_semantic_cells with a COMPARISON BUDGET — the bounded-growth
    twin (the er_pairs_block_capped convention applied to SemDeDup).
    Each member is compared only against its cell's top-{elite}
    QUALITY-ranked members ('the elite'): a drop verdict needs a
    higher-quality similar neighbor, and the highest-quality members
    are all elite, so for cells <= {elite} the result is IDENTICAL to
    the exact pass and for fatter cells it degrades gracefully (fewer
    drops, never more) instead of going quadratic — per-cell work is
    O(cell x {elite}), linear in the corpus for fixed K (measured in
    SCALE.md §semdedup next to the exact pass's x16-at-4x growth).
    The production posture: size K so cells sit near the budget, and
    the capped pass IS the exact pass. Like the exact twin, the verdict
    relation is a ``materialize_once`` artifact — dedup_token_savings
    (the impact report) joins THESE stored verdicts rather than
    re-deriving them."""
    from ug_dwh_etl_spark.queries.registry import materialize_once

    return materialize_once(
        spark,
        sf_dir,
        "semantic_verdicts_capped",
        lambda: _build_semantic_verdicts(spark, sf_dir, cap=_SEMDEDUP_ELITE),
    )


dedup_semantic_cells_capped.__doc__ = dedup_semantic_cells_capped.__doc__.replace(
    "{elite}", str(_SEMDEDUP_ELITE)
)


def _semantic_incremental_sql() -> str:
    from ug_dwh_etl_spark.operators.similarity import duck_cosine_sql

    return f"""
    {_ivf_qual_ctes()},
    av AS MATERIALIZED (
      SELECT a.vec_id, a.e, a.cluster, qual.q
      FROM a JOIN qual ON qual.doc_id = a.vec_id),
    elite AS MATERIALIZED (
      SELECT * FROM (
        SELECT av.*, ROW_NUMBER() OVER (PARTITION BY cluster
                                        ORDER BY q DESC, vec_id) AS rk
        FROM av WHERE vec_id % 10 <> 0)
      WHERE rk <= {_SEMDEDUP_ELITE}),
    batch AS (SELECT * FROM av WHERE vec_id % 10 = 0),
    drops AS (
      SELECT DISTINCT x.vec_id
      FROM batch x JOIN elite y
        ON y.cluster = x.cluster
       AND (y.q > x.q OR (y.q = x.q AND y.vec_id < x.vec_id))
      WHERE {duck_cosine_sql('x.e', 'y.e')} >= {_SEMDEDUP_TAU})
    SELECT batch.vec_id, CAST(batch.cluster AS INT) AS cluster,
           (drops.vec_id IS NULL) AS kept
    FROM batch LEFT JOIN drops ON drops.vec_id = batch.vec_id
    """


@register("dedup_semantic_incremental", _semantic_incremental_sql())
def dedup_semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAILY-INGEST semantic dedup (the dedup_incremental_neardup
    cadence applied to the SemDeDup pass): the incoming batch
    (vec_id % 10 = 0) is assigned to IVF cells and compared ONLY against
    a PERSISTED per-cell elite index built from the standing corpus —
    the top-{elite} quality members per cell, written to parquet once
    per process and read back, so no corpus embedding is rescanned at
    ingest. Per-day cost is O(batch x {elite}); verdicts are
    order-insensitive because they depend only on the standing index
    (intra-batch duplicates settle at the next index refresh — the real
    daily design). The oracle recomputes batch-vs-elite verdicts from
    the unioned relations, proving the indexed lookup finds exactly
    what a full pass against the corpus elite would."""
    from ug_dwh_etl_spark.operators.dedup import spread
    from ug_dwh_etl_spark.operators.similarity import cosine, ivf_assign
    from ug_dwh_etl_spark.queries.registry import materialize_once
    from pyspark.sql import Window

    emb = table(spark, sf_dir, "embeddings")
    docs = table(spark, sf_dir, "documents")
    from ug_dwh_etl_spark.operators.textstats import alpha_ratio_col

    qual = docs.select(
        F.col("doc_id").alias("vec_id"), alpha_ratio_col("text").alias("q")
    )
    av = (
        ivf_assign(spread(emb))
        .select("vec_id", "embedding", "cluster")
        .join(qual, "vec_id")
    )

    def build_elite() -> DataFrame:
        w = Window.partitionBy("cluster").orderBy(F.desc("q"), F.asc("vec_id"))
        return (
            av.filter(F.col("vec_id") % 10 != 0)
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= _SEMDEDUP_ELITE)
            .select("vec_id", "embedding", "cluster", "q")
        )

    elite = materialize_once(spark, sf_dir, "semantic_elite", build_elite)
    from ug_dwh_etl_spark.operators.similarity import dot as _dot

    nrm = F.sqrt(_dot("embedding", "embedding"))
    batch = av.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("xid"),
        F.col("embedding").alias("xe"),
        nrm.alias("xn"),
        F.col("cluster"),
        F.col("q").alias("xq"),
    )
    y = elite.select(
        F.col("vec_id").alias("yid"),
        F.col("embedding").alias("ye"),
        nrm.alias("yn"),
        F.col("cluster"),
        F.col("q").alias("yq"),
    )
    drops = (
        batch.join(y, "cluster")
        .filter(
            (F.col("yq") > F.col("xq"))
            | ((F.col("yq") == F.col("xq")) & (F.col("yid") < F.col("xid")))
        )
        .filter(
            F.round(_dot("xe", "ye") / (F.col("xn") * F.col("yn")), 6)
            >= _SEMDEDUP_TAU
        )
        .select(F.col("xid").alias("vec_id"))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return (
        batch.select(F.col("xid").alias("vec_id"), "cluster")
        .join(drops, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cluster").cast("int").alias("cluster"),
            F.coalesce(~F.col("_dropped"), F.lit(True)).alias("kept"),
        )
    )


dedup_semantic_incremental.__doc__ = dedup_semantic_incremental.__doc__.replace(
    "{elite}", str(_SEMDEDUP_ELITE)
)


def _token_savings_sql() -> str:
    from ug_dwh_etl_spark.operators.hashing import sql_tokens

    # reuse the CAPPED semantic verdict CTEs (the production-default
    # pass — flat growth, SCALE.md §semdedup), then price the drops in
    # tokens — the accounting a corpus owner reads before shipping
    cells = _semantic_cells_capped_sql().strip()
    assert cells.startswith("WITH ")
    verdict_tail = """    SELECT av.vec_id, CAST(av.cluster AS INT) AS cluster,
           (drops.vec_id IS NULL) AS kept
    FROM av LEFT JOIN drops ON drops.vec_id = av.vec_id"""
    # a reformat of _semantic_cells_capped_sql's final SELECT must fail
    # loudly here, not silently register the verdict query as this oracle
    assert verdict_tail in cells, "semantic-cells-capped oracle tail changed"
    return f"""
    {cells.rstrip()}
    """.replace(
        verdict_tail,
        f"""    , verdicts AS (
      SELECT av.vec_id, (drops.vec_id IS NULL) AS kept
      FROM av LEFT JOIN drops ON drops.vec_id = av.vec_id),
    toks AS (
      SELECT doc_id, source,
             CAST(len({sql_tokens('text')}) AS BIGINT) AS n_tok
      FROM documents)
    SELECT t.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN NOT v.kept THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           CAST(SUM(t.n_tok) AS BIGINT) AS tokens_total,
           CAST(SUM(CASE WHEN NOT v.kept THEN t.n_tok ELSE 0 END) AS BIGINT)
             AS tokens_dropped,
           ROUND(SUM(CASE WHEN NOT v.kept THEN t.n_tok ELSE 0 END) * 1.0
                 / SUM(t.n_tok), 6) AS dropped_share
    FROM verdicts v JOIN toks t ON t.doc_id = v.vec_id
    GROUP BY t.source""",
    )


@register("dedup_token_savings", _token_savings_sql())
def dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP IMPACT ACCOUNTING: the token mass the semantic pass removes,
    per source — n_docs / n_dropped / tokens_total / tokens_dropped /
    dropped_share. This is the report a corpus owner reads before
    shipping a pretraining mix: dedup verdicts priced in TRAINING
    TOKENS (the shared cross-engine tokenizer, operators/hashing.py
    tokens()), broken down by source so a single over-duplicated feed
    shows up instead of hiding in the corpus average. Composes the
    CAPPED dedup_semantic_cells_capped verdicts — the production
    default: flat growth (SCALE.md §semdedup), and read from the
    ``materialize_once`` verdict table, never re-derived — with one
    token-count scan; both corpus-sized relations joined on doc id,
    nothing pairwise."""
    from ug_dwh_etl_spark.operators.hashing import tokens
    from ug_dwh_etl_spark.queries.registry import table as _table

    docs = _table(spark, sf_dir, "documents")
    verdicts = dedup_semantic_cells_capped(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), "kept"
    )
    toks = docs.select(
        "doc_id", "source", F.size(tokens("text")).cast("long").alias("n_tok")
    )
    dropped_tok = F.sum(F.when(~F.col("kept"), F.col("n_tok")).otherwise(0))
    return (
        verdicts.join(toks, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(~F.col("kept"), 1).otherwise(0))
            .cast("long")
            .alias("n_dropped"),
            F.sum("n_tok").cast("long").alias("tokens_total"),
            dropped_tok.cast("long").alias("tokens_dropped"),
            F.round(dropped_tok * 1.0 / F.sum("n_tok"), 6).alias(
                "dropped_share"
            ),
        )
    )


# --- exact substring-span dedup (ExactSubstr, Lee et al. 2022) -------------------
_SS_N = 8  # gram width in tokens; duplicated runs >= _SS_N tokens are found exactly

_SS_OCC_CTES = f"""tok AS (SELECT doc_id, {H.sql_tokens('text')} AS t FROM documents),
    nz AS (SELECT doc_id, t FROM tok WHERE len(t) >= {_SS_N}),
    sh AS (SELECT doc_id, {H.sql_shingles('t', _SS_N)} AS sgl FROM nz),
    occ AS (
      SELECT doc_id, start, md5(sgl[start]) AS g
      FROM (SELECT doc_id, sgl, unnest(generate_series(1, len(sgl))) AS start
            FROM sh)),
    dup AS (SELECT g FROM occ GROUP BY g HAVING COUNT(*) >= 2),
    ds AS (SELECT doc_id, start FROM occ WHERE g IN (SELECT g FROM dup)),
    isl AS (
      SELECT doc_id, start,
             SUM(CASE WHEN prev IS NULL OR start > prev + {_SS_N}
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY start) AS span_id
      FROM (SELECT doc_id, start,
                   LAG(start) OVER (PARTITION BY doc_id ORDER BY start) AS prev
            FROM ds)),
    spans AS (
      SELECT doc_id,
             CAST(MIN(start) AS BIGINT) AS span_start,
             CAST(MAX(start) + {_SS_N} - 1 AS BIGINT) AS span_end,
             CAST(MAX(start) + {_SS_N} - MIN(start) AS BIGINT) AS n_tokens
      FROM isl GROUP BY doc_id, span_id)"""


@register(
    "dedup_substring_spans",
    f"""
    WITH {_SS_OCC_CTES}
    SELECT doc_id, span_start, span_end, n_tokens FROM spans
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT DUPLICATED-SUBSTRING SPANS over the corpus (the ExactSubstr
    pass of Lee et al. 2022, re-expressed as stride-1 fixed-width grams
    + corpus-duplicate detection + per-doc interval merge instead of
    the paper's single-machine suffix array — see
    operators/dedup.py:duplicated_substring_spans for the shuffle-by-
    shuffle scale story). Completes the span family:
    text_duplicate_spans SCORES documents (share of spans duplicated
    anywhere — the cut-list signal); this produces the actual REMOVAL
    PLAN — which byte ranges to cut, overlaps merged into maximal
    spans. Distinct from text_paragraph_dedup too: paragraphs are fixed
    non-overlapping blocks (a C4 cleaning rule); this finds duplicated
    text at ANY token offset, the shape that catches licence
    boilerplate, templated headers and copy-paste chains that straddle
    paragraph boundaries. Output is one row per maximal span."""
    return duplicated_substring_spans(
        table(spark, sf_dir, "documents"), "doc_id", "text", _SS_N
    )


@register(
    "dedup_substring_savings",
    f"""
    WITH {_SS_OCC_CTES},
    per_doc AS (
      SELECT doc_id, SUM(n_tokens) AS dup_tok FROM spans GROUP BY doc_id),
    tot AS (SELECT doc_id, len(t) AS n_tok FROM tok)
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN p.dup_tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_hit,
           CAST(SUM(t.n_tok) AS BIGINT) AS tokens_total,
           CAST(SUM(COALESCE(p.dup_tok, 0)) AS BIGINT) AS tokens_duplicated,
           ROUND(SUM(COALESCE(p.dup_tok, 0)) * 1.0 / SUM(t.n_tok), 6)
             AS duplicated_share
    FROM documents d
    JOIN tot t USING (doc_id)
    LEFT JOIN per_doc p USING (doc_id)
    GROUP BY d.source
    """,
)
def dedup_substring_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMPACT ACCOUNTING for the substring pass (the dedup_token_savings
    convention): per source feed, the token mass sitting inside
    duplicated spans — the upper bound of what an ExactSubstr cut
    removes (the pass may retain one occurrence per duplicate cluster;
    with overlapping maximal spans the retained mass has no closed
    per-span form, so the report prices the full duplicated mass and
    says so). Denominator is EVERY document's token count, including
    docs too short to carry a gram — corpus savings, not
    participating-docs savings."""
    docs = table(spark, sf_dir, "documents")
    spans = duplicated_substring_spans(docs, "doc_id", "text", _SS_N)
    per_doc = spans.groupBy("doc_id").agg(F.sum("n_tokens").alias("dup_tok"))
    tot = docs.select(
        "doc_id",
        "source",
        F.size(H.tokens(F.col("text"))).cast("long").alias("n_tok"),
    )
    return (
        tot.join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("dup_tok").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_docs_hit"),
            F.sum("n_tok").cast("long").alias("tokens_total"),
            F.sum(F.coalesce("dup_tok", F.lit(0)))
            .cast("long")
            .alias("tokens_duplicated"),
            F.round(
                F.sum(F.coalesce("dup_tok", F.lit(0))) * 1.0 / F.sum("n_tok"),
                6,
            ).alias("duplicated_share"),
        )
    )
