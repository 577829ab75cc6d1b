"""Deduplication operators for large-scale text corpora.

Four strategies, all shuffle-based and driver-free (no collect), sized
for 100 TB corpora:

- exact:        hash-groupBy on a normalized-content fingerprint. One
                shuffle on the 60-bit hash; survivors = min(doc_id).
- minhash_lsh:  shingle → 16 minhash permutations → 4 bands × 4 rows →
                bucket-join. The classic near-dup pipeline (Broder '97,
                as used in public LLM-data pipelines). Candidate
                generation never compares all pairs: only docs sharing a
                band bucket join.
- simhash:      32-bit sign-of-weighted-bits fingerprint (Charikar '02);
                near-dups have small Hamming distance.
- ngram_jaccard: exact Jaccard over word-3-gram shingle sets via a
                shingle-join — the verifier stage downstream of LSH.

Hashes are the cross-engine md5 primitives from ``hashing`` so every
operator has an exact DuckDB oracle.

Performance notes (measured at sf0.1, local[32]):

- Token arrays are ALWAYS materialized in a projection before any
  higher-order function consumes them. Referencing the raw
  ``tokens(text)`` expression inside a ``transform`` lambda re-evaluates
  the regex+split per ``element_at`` call (no CSE across lambda
  boundaries) — 36x slower (20.4s vs 0.56s for shingle explode).
- MinHash signatures skip the shingle-set ``distinct``: min over a
  multiset equals min over its set, so the extra shuffle buys nothing.
  One groupBy(doc_id) shuffle total, with map-side partial aggregation
  shrinking the payload to 16 longs per doc per partition.
- The Jaccard shingle self-join keys on the 60-bit shingle hash (long),
  not the shingle string — smaller shuffle, cheaper compares. Identical
  results modulo md5 collisions; the oracle applies the same mapping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F

from ug_dwh_etl_spark.operators import hashing as H
from ug_dwh_etl_spark.operators.graph import loop_posture, min_label_round

N_MINHASH = 16
N_BANDS = 4
ROWS_PER_BAND = 4
SIMHASH_BITS = 32


def spread(df: DataFrame) -> DataFrame:
    """Balance compute-heavy per-row work across all cores.

    A small parquet file scans as 1-2 partitions, serializing CPU-bound
    stages (shingling, hashing). Repartition round-robin only when the
    scan yields fewer partitions than the cluster's parallelism — at
    100 TB the scan already produces thousands of splits and this is a
    no-op (no shuffle added).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _tokenized(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, _toks) with the token array materialized ONCE per row, so
    downstream lambdas reference a cheap attribute, not the regex+split
    expression tree (see module perf notes)."""
    return df.select(F.col(id_col), H.tokens(text_col).alias("_toks"))


def _exploded_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) with duplicates — the cheap pre-distinct relation."""
    toks = _tokenized(df, id_col, text_col)
    return toks.select(
        F.col(id_col), F.explode(H.shingles(F.col("_toks"), n)).alias("shingle")
    )


def normalized_fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, fingerprint) — md5 of the token-normalized text."""
    norm = F.concat_ws(" ", H.tokens(text_col))
    return df.select(F.col(id_col), F.md5(norm).alias("fingerprint"))


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup groups: one row per distinct normalized content with
    the surviving (minimum) id and the group size. Deterministic — unlike
    ``dropDuplicates`` whose survivor is partition-order dependent."""
    fp = normalized_fingerprint(spread(df), id_col, text_col)
    return fp.groupBy("fingerprint").agg(
        F.min(id_col).alias("survivor_id"),
        F.count(F.lit(1)).alias("group_size"),
    )


def doc_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) distinct — the exploded shingle-set relation."""
    return _exploded_shingles(df, id_col, text_col, n).distinct()


def doc_shingle_hashes(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, sh) distinct — shingle sets as 60-bit hashes. The distinct
    shuffles (id, long) pairs instead of full shingle strings."""
    ex = _exploded_shingles(df, id_col, text_col, n)
    return ex.select(F.col(id_col), H.content_hash_long("shingle", 15).alias("sh")).distinct()


def shingle_hashes_raw(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, h) WITH duplicates — the shared pre-aggregation relation
    both the MinHash signature (min over h permutations) and the
    distinct shingle-set view (``doc_shingle_hashes``) derive from.
    Queries that need several of those views checkpoint this once so
    the corpus text is tokenized/shingled/hashed a single time."""
    ex = _exploded_shingles(spread(df), id_col, text_col)
    return ex.select(F.col(id_col), H.content_hash_long("shingle", 15).alias("h"))


def minhash_signatures_from_hashed(hashed: DataFrame, id_col: str) -> DataFrame:
    """(id, mh0..mh15) from a ``shingle_hashes_raw`` relation."""
    return hashed.groupBy(id_col).agg(
        *[F.min(H.minhash_perm(F.col("h"), i)).alias(f"mh{i}") for i in range(N_MINHASH)]
    )


def minhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, mh0..mh15) — min over shingles of each permuted hash.

    Single shuffle: explode → hash → groupBy(doc_id) with 16 mins.
    No distinct (min is duplicate-insensitive); the 16 permutations are
    computed per shingle row inside codegen and partial-aggregated
    map-side, so the shuffle payload is 16 longs per doc per partition.
    """
    return minhash_signatures_from_hashed(
        shingle_hashes_raw(df, id_col, text_col), id_col
    )


def lsh_band_keys_from_sig(sig: DataFrame, id_col: str) -> DataFrame:
    """(id, band_id, band_key) from an existing signature relation."""
    return sig.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_id"),
                    F.concat_ws(
                        "_",
                        *[F.col(f"mh{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)],
                    ).alias("band_key"),
                )
                for b in range(N_BANDS)
            ])
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_key")


def lsh_band_keys(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, band_id, band_key) — the banded MinHash signature relation.

    This IS the persistable LSH index: append each ingest batch's rows
    to a table partition-keyed however the corpus is sharded, and later
    batches match against the table by (band_id, band_key) equi-join
    without ever rescanning corpus text (see ``incremental_neardup``).
    """
    return lsh_band_keys_from_sig(
        minhash_signatures(df, id_col, text_col), id_col
    )


def lsh_pairs_from_bands(bands: DataFrame, id_col: str) -> DataFrame:
    """Distinct (id_a < id_b) pairs agreeing on >= 1 band, from a band
    relation the caller has already checkpointed/shared."""
    left = bands.alias("l")
    right = bands.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) that agree on at
    least one LSH band. At scale the bucket-join is the whole point:
    shuffle keys are (band_id, band_key) so only same-bucket docs meet.
    """
    bands = lsh_band_keys(df, id_col, text_col).localCheckpoint(eager=False)
    # ^ both self-join sides read the banded signatures. localCheckpoint
    # (not persist): computed once, blocks freed by the ContextCleaner as
    # soon as the result is dropped — df.persist() pins the relation in
    # the CacheManager for the session lifetime unless every caller
    # remembers to unpersist (the round-1/2 leak). Measured at sf0.1:
    # 1.6s vs 1.9s (persist) vs 2.2s (ReuseExchange-only). Trade-off:
    # truncated lineage can't recompute lost blocks under executor
    # failure — same deliberate choice as near_dup_clusters/pagerank.
    return lsh_pairs_from_bands(bands, id_col)


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash) — 32-bit SimHash over distinct normalized tokens.

    Explode tokens, hash each to 32 bits, distinct on (id, hash) — longs,
    not strings — then for each bit position sum +1/-1 and keep the sign.
    One groupBy(doc_id) shuffle; the 32 per-bit sums ride the same
    aggregation.
    """
    toks = (
        spread(df)
        .select(F.col(id_col), F.explode(H.tokens(text_col)).alias("tok"))
        .select(F.col(id_col), H.content_hash_long("tok", 8).alias("h"))
        .distinct()
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    summed = toks.groupBy(id_col).agg(*bit_sums)
    fingerprint = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fingerprint = term if fingerprint is None else fingerprint + term
    return summed.select(F.col(id_col), fingerprint.alias("simhash"))


def embedding_cosine_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥
    threshold), SRP-bucketed.

    Near-identical vectors agree on every random hyperplane sign, so
    candidate generation joins on the SRP bucket (equi-join shuffle on
    the bucket id) instead of comparing all pairs — the same
    LSH-candidates-then-verify shape as minhash_lsh_pairs, but for the
    embedding modality. At 2^b buckets the join cost drops ~2^b-fold;
    recall loss only for pairs straddling a hyperplane (cosine near the
    threshold), the standard SRP trade-off."""
    from ug_dwh_etl_spark.operators.similarity import cosine_sql, srp_bucket

    bucketed = spread(embeddings).select(
        F.col(id_col), F.col(vec_col), srp_bucket(vec_col).alias("bucket")
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    cos = F.expr(cosine_sql(f"a.{vec_col}", f"b.{vec_col}"))
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard ≥ threshold pairs via shingle-hash-join.

    |A∩B| comes from joining the hashed shingle relation with itself on
    the 60-bit shingle hash (co-occurrence count), |A∪B| = |A|+|B|-|A∩B|.
    The join key is the shingle hash, so cost is Σ bucket² over shingle
    frequencies — at 100 TB this runs AFTER LSH banding prunes
    candidates; here it is also exposed standalone as the exact baseline.

    ``max_shingle_df`` bounds the quadratic: shingles appearing in more
    than that many documents (boilerplate/stopword shingles — the hot
    join keys driving the bucket² blow-up) are dropped from the shingle
    SETS before the self-join, so Jaccard is computed over the reduced
    universe (the standard stopword-shingle cap). Where no shingle
    crosses the cap the result is bit-identical to the uncapped run;
    hot-shingle cost goes from df² to 0.
    """
    inter, sizes = _shingle_overlap(df, id_col, text_col, max_shingle_df)
    return _jaccard_at_least(inter, sizes, id_col, threshold)


def _shingle_overlap(
    df: DataFrame, id_col: str, text_col: str, max_shingle_df: int | None
) -> tuple[DataFrame, DataFrame]:
    """``(inter, sizes)``: every document pair's shared-shingle count
    ``(id_a, id_b, inter)`` with ``id_a < id_b``, from the shingle-hash
    self-join, and each document's shingle count ``(id_col, sz)``;
    ``max_shingle_df`` drops the shingles in more documents than that
    first."""
    # NOT persisted: both self-join sides shuffle on `sh`, so Spark's
    # ReuseExchange already computes the shingle relation once (measured:
    # persisting is ~40% slower — it pays materialization and blocks
    # nothing, since the sides share one exchange)
    sh = doc_shingle_hashes(spread(df), id_col, text_col)
    if max_shingle_df is not None:
        # df-count + semi-join back; both shuffle on `sh` like the
        # self-join below, so the exchanges stack on one partitioning
        keep = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("sh")
        )
        sh = sh.join(keep, "sh", "left_semi")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return inter, sizes


def _jaccard_at_least(
    inter: DataFrame, sizes: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """``(id_a, id_b, jaccard)`` for the pairs of ``inter`` whose Jaccard
    over the set ``sizes``, rounded to 6 places, is at least
    ``threshold``."""
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    jacc = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.round(jacc, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Pairs whose shingle-set CONTAINMENT |A∩B| / min(|A|,|B|) meets
    the threshold — the asymmetric companion to ``ngram_jaccard_pairs``
    that catches SUBSET duplication: a short document wholly embedded in
    a longer one scores near 1.0 here while its Jaccard (union
    denominator) can sit far below any dedup cut. Returns both measures
    so callers see exactly which pairs only containment finds.

    Same shingle-hash-join skeleton (and the same ReuseExchange /
    df-cap scale arguments) as the Jaccard operator; at 100 TB run it
    on LSH-banded candidates, not standalone. ``max_shingle_df`` bounds
    the quadratic exactly as in ``ngram_jaccard_pairs``: shingles in
    more than that many documents are dropped from the sets BEFORE the
    self-join (measured on the 16x probe: 44x growth uncapped — the
    hot-bucket Σdf² term — vs the capped twin's near-linear growth)."""
    inter, sizes = _shingle_overlap(df, id_col, text_col, max_shingle_df)
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    cont = F.col("inter") / F.least(F.col("sz_a"), F.col("sz_b"))
    jacc = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("containment", F.round(cont, 6))
        .withColumn("jaccard", F.round(jacc, 6))
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment", "jaccard")
    )


def dedup_incremental(
    batch: DataFrame, existing: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Incremental-ingest exact dedup: the ids from ``batch`` to admit
    into a corpus that already contains ``existing``.

    Two rules, both single-shuffle: (1) within the batch keep the
    min-id doc per normalized fingerprint; (2) drop batch docs whose
    fingerprint already exists in the corpus (left-anti join on the
    fingerprint — at 100 TB the corpus side is the stored fingerprint
    index, partition-pruned to the dedup-key range of the delta, not a
    rescan of the corpus text)."""
    b = normalized_fingerprint(spread(batch), id_col, text_col)
    e = normalized_fingerprint(existing, id_col, text_col).select("fingerprint")
    batch_survivors = b.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    return batch_survivors.join(e, "fingerprint", "left_anti").select(id_col)


def incremental_neardup(
    batch: DataFrame,
    corpus_index: DataFrame,
    corpus_shingles: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    batch_bands: DataFrame | None = None,
    batch_sh: DataFrame | None = None,
) -> DataFrame:
    """Incremental NEAR-dup: verified near-duplicate pairs an incoming
    ``batch`` introduces, matched against a STORED LSH index — the daily
    100 TB ingest shape (the reference's daily-append model,
    `sf_html_data.py:178` ``if_exists="append"``, is exactly this
    cadence). The corpus side never rescans text: ``corpus_index`` is
    the persisted ``lsh_band_keys`` relation and ``corpus_shingles`` the
    persisted ``doc_shingle_hashes`` relation, both written at each
    prior ingest; per-day cost is O(batch) signature work + equi-joins
    whose corpus side is index-partition-pruned to the batch's band
    keys, never O(corpus).

    Candidates = (batch ⋈ stored index on (band_id, band_key)) ∪ (batch
    band self-join) — every new pair with at least one batch member,
    exactly what a full-corpus LSH re-run would add. Verification is
    candidate-restricted exact Jaccard (``verify_pairs_jaccard``) over
    stored corpus shingles ∪ the batch's own shingles. Returns
    (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ ``threshold``.

    ``batch_bands``/``batch_sh`` accept the batch's own band keys and
    shingle hashes precomputed by the caller — the streaming ingest
    computes them ONCE per micro-batch and reuses the same relations
    for both this match and its index appends, instead of re-hashing
    the batch text a second time."""
    if batch_bands is None:
        batch_bands = lsh_band_keys(batch, id_col, text_col).localCheckpoint(
            eager=False
        )
    if batch_sh is None:
        batch_sh = doc_shingle_hashes(spread(batch), id_col, text_col)
    bb = batch_bands.select(
        F.col(id_col).alias("_bid"), "band_id", "band_key"
    )
    # batch vs stored corpus: only (band_id, band_key) shuffles; the
    # stored-index side is never joined to anything text-sized.
    ci = corpus_index.select(F.col(id_col).alias("_cid"), "band_id", "band_key")
    cross = (
        bb.join(ci, ["band_id", "band_key"])
        .filter(F.col("_bid") != F.col("_cid"))  # re-ingested id: not a pair
        .select(
            F.least("_bid", "_cid").alias("id_a"),
            F.greatest("_bid", "_cid").alias("id_b"),
        )
    )
    # batch vs batch: the within-day near-dups (same band self-join as
    # minhash_lsh_pairs, batch-sized).
    intra = (
        bb.join(
            batch_bands.select(
                F.col(id_col).alias("_bid2"), "band_id", "band_key"
            ),
            ["band_id", "band_key"],
        )
        .filter(F.col("_bid") < F.col("_bid2"))
        .select(F.col("_bid").alias("id_a"), F.col("_bid2").alias("id_b"))
    )
    candidates = cross.unionByName(intra).distinct()
    # A re-ingested id (present in BOTH the stored index and the batch)
    # must not contribute its shingle rows twice — the union would
    # double-count its set size and every intersection it appears in,
    # corrupting Jaccard for each of its pairs (two identical docs would
    # score 2i/(2s+s-2i), not 1). Anti-join the batch's ids out of the
    # stored relation first: the batch-id side is batch-sized
    # (broadcastable), so this never reshuffles the corpus relation.
    batch_id_rel = batch.select(F.col(id_col)).distinct()
    shingles = corpus_shingles.join(
        F.broadcast(batch_id_rel), id_col, "left_anti"
    ).unionByName(batch_sh)
    return verify_pairs_jaccard(
        batch, candidates, id_col, text_col, threshold, shingle_hashes=shingles
    )


def verify_pairs_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle_hashes: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard verification RESTRICTED to a candidate pair list —
    the production near-dup shape (LSH proposes, Jaccard disposes).

    Unlike the standalone shingle self-join (cost Σ df² over shingle
    frequencies), this walks only the candidates: pairs ⋈ shingles(a)
    ⋈ shingles(b), so cost is Σ over pairs of |shingles(a)| — linear in
    the candidate count times document length, independent of hot-shingle
    frequency. Returns (id_a, id_b, jaccard) for verified pairs.
    ``shingle_hashes`` lets a caller that already materialized the
    (id, sh) relation share it instead of re-deriving it."""
    sh = (
        shingle_hashes
        if shingle_hashes is not None
        else doc_shingle_hashes(spread(df), id_col, text_col)
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("_vb"), F.col("sh").alias("sh_b"))
    inter = (
        pairs.join(a, "id_a")
        .join(b, (F.col("id_b") == F.col("_vb")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _jaccard_at_least(inter, sizes, id_col, threshold)


def near_dup_labels(
    df: DataFrame, id_col: str, text_col: str, iterations: int = 3
) -> DataFrame:
    """(node, label) after BOUNDED min-label propagation over the LSH
    candidate-pair graph (label(v) <- min(label(v), min of neighbors'
    labels), ``iterations`` rounds). label = the minimum doc id
    reachable within the iteration horizon — the canonical survivor of
    the near-dup component (components with diameter > iterations would
    need more rounds, which at scale is the standard
    large-star/small-star loop over the same join shape)."""
    # the label table is |docs|-sized and the pair graph is sparse — size
    # the iteration's shuffles to that, not the fact-table session
    # default, and checkpoint the final result eagerly while the posture
    # is active (same pattern + rationale as operators/graph.pagerank)
    with loop_posture(df, keep_aqe=True) as pin:
        pairs = minhash_lsh_pairs(df, id_col, text_col)
        adj = pin(
            pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
            .unionByName(pairs.select(F.col("id_b").alias("a"), F.col("id_a").alias("b")))
        )
        # every document is labeled, paired or not
        labels = df.select(F.col(id_col).alias("node"), F.col(id_col).alias("label"))
        for _ in range(iterations):
            labels = min_label_round(adj, labels)
        return labels.localCheckpoint(eager=True)


def near_dup_clusters(
    df: DataFrame, id_col: str, text_col: str, iterations: int = 3
) -> DataFrame:
    """Group near-duplicate documents into clusters: connected
    components over the LSH candidate-pair graph (see
    ``near_dup_labels``). Returns (cluster, n_docs) for clusters of
    size > 1, cluster = min doc_id of the group (the canonical
    survivor)."""
    labels = near_dup_labels(df, id_col, text_col, iterations)
    return (
        labels.groupBy(F.col("label").alias("cluster"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


def dedup_survivors(
    df: DataFrame, id_col: str, text_col: str, iterations: int = 3
) -> DataFrame:
    """The end-to-end dedup DECISION: the retained document ids after
    removing exact and near duplicates — keep a doc iff it is the
    minimum id of its near-dup component (singletons keep themselves).

    For docs with >= 3 tokens, exact duplicates have identical shingle
    sets, hence identical minhash signatures, hence agree on every LSH
    band — so they are always candidate pairs and the component minimum
    subsumes exact dedup's min-id survivor rule. Docs SHORTER than the
    3-token shingle width produce no shingles and never enter the pair
    graph, so they get an explicit exact-dedup pass: group by the
    normalized-text fingerprint, keep only the min id. One pass over the
    corpus produces the filter a training pipeline joins against; at
    100 TB the retained set writes out as the cleaned corpus partition
    (the short-doc side is a vanishing fraction, one extra tiny
    shuffle)."""
    from ug_dwh_etl_spark.operators import hashing as H

    labels = near_dup_labels(df, id_col, text_col, iterations)
    base = labels.filter(F.col("label") == F.col("node")).select(
        F.col("node").alias(id_col)
    )
    toks = df.select(F.col(id_col), H.tokens(text_col).alias("t"))
    short = toks.filter(F.size("t") < 3).select(
        id_col, F.md5(F.concat_ws(" ", "t")).alias("norm")
    )
    keepers = short.groupBy("norm").agg(F.min(id_col).alias("keep_id"))
    short_drop = (
        short.join(keepers, "norm")
        .filter(F.col(id_col) != F.col("keep_id"))
        .select(id_col)
    )
    return base.join(short_drop, id_col, "left_anti")


def prefix_filter_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.5
) -> DataFrame:
    """EXACT Jaccard pairs >= threshold via prefix filtering (the
    PPJoin family) — the third pruning strategy next to LSH (probable
    candidates) and df-capping (bounded-but-lossy): sort each doc's
    shingle set rarest-first (global df order), keep only the first
    |d| - ceil(t*|d|) + 1 shingles as its PREFIX, and join docs only on
    shared prefix shingles. Any pair with Jaccard >= t MUST share a
    prefix shingle (pigeonhole on the overlap bound), so unlike LSH this
    prunes with NO false negatives; unlike the df cap it changes no
    shingle set. A length filter (t*|a| <= |b| <= |a|/t) cuts the
    remaining asymmetric candidates before verification.

    Scale shape: the df table is one groupBy(sh); rarest-first ordering
    pushes hot boilerplate shingles to the END of every doc, so they
    only enter prefixes of tiny docs — the same skew the df cap fights,
    handled without dropping data. Verification reuses
    verify_pairs_jaccard (cost linear in candidates x doc length)."""
    # one materialization feeds prefix build, df table, sizes, and both
    # verify sides — without the cut, each consumer re-derives the
    # tokenize→shingle→hash chain (measured: 37 exchanges vs 12)
    sh = doc_shingle_hashes(spread(df), id_col, text_col).localCheckpoint(
        eager=False
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy(id_col).orderBy("df", "sh")
    ranked = (
        sh.join(dfreq, "sh")
        .join(sizes, id_col)
        .withColumn("rn", F.row_number().over(w))
        .withColumn("plen", F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1)
    )
    prefix = ranked.filter(F.col("rn") <= F.col("plen")).select(
        F.col(id_col), "sh", "sz"
    )
    pa = prefix.select(F.col(id_col).alias("id_a"), "sh", F.col("sz").alias("_sza"))
    pb = prefix.select(F.col(id_col).alias("id_b"), "sh", F.col("sz").alias("_szb"))
    cands = (
        pa.join(pb, "sh")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("_szb") >= F.lit(threshold) * F.col("_sza"))
            & (F.col("_sza") >= F.lit(threshold) * F.col("_szb"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return verify_pairs_jaccard(
        df, cands, id_col, text_col, threshold, shingle_hashes=sh
    )


def duplicated_substring_spans(
    df: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """(doc_id, span_start, span_end, n_tokens) — MAXIMAL DUPLICATED
    TOKEN SPANS, the ExactSubstr dedup of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"): a
    position is duplicated when the ``n``-token gram starting there
    occurs at >= 2 positions anywhere in the corpus (another document
    OR the same one — self-repetition is how boilerplate loops show
    up), and overlapping/adjacent duplicated grams merge into one
    maximal span per document. Lee et al. build a corpus suffix array,
    which is inherently a single-machine construction; the distributed
    re-expression is stride-1 fixed-width grams, equivalent for spans
    >= n tokens (every duplicated run of length L >= n is covered by
    exactly its L-n+1 duplicated grams, which merge back into the run).

    Plan, in shuffle order:
    1. one narrow corpus scan -> explode start positions, then build
       each gram as md5(concat_ws(slice(t, start, n))) PER OCCURRENCE
       ROW — slice/concat_ws/md5 are plain codegen expressions, where
       the seemingly-natural per-doc gram ARRAY (``shingles()``, a
       higher-order ``transform``) runs interpreted, n ``element_at``
       calls per gram: measured 204s -> 0.7s at sf0.1 for this exact
       stage. The exploded rows carry the token array only inside the
       pipelined codegen stage — it never reaches the shuffle, which
       sees (doc_id, start, 32-byte md5) triples regardless of gram
       width; md5 is collision-free in practice (2^64 birthday bound;
       the oracle applies the same md5, so the compare is exact either
       way).
    2. duplicated grams = groupBy(gram).count() >= 2 — a PARTIAL
       (map-side-combined) aggregate: a boilerplate gram pasted a
       billion times arrives at the reducer as one candidate count per
       task, not a billion rows.
    3. flag occurrences by LEFT SEMI join on the gram hash. The viral
       gram's occurrences do land in one join partition, but the work
       there is a linear hash-probe pass-through (output 1 row per
       occurrence row, no blowup), and AQE skew-join splits the
       partition if it outgrows its siblings.
    4. per-document interval merge (gap-and-islands over starts: new
       island when start > prev + n, fixed width makes interval ends
       monotone in starts) — the only window, keyed on doc_id, bounded
       by a single document's length by construction.
    """
    from ug_dwh_etl_spark.operators import hashing as H

    toks = (
        spread(df)
        .select(
            F.col(id_col).alias("doc_id"), H.tokens(F.col(text_col)).alias("t")
        )
        .withColumn("nt", F.size("t"))
        .filter(F.col("nt") >= n)
    )
    occ = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.col("nt") - n + 1)).alias("start"),
        "t",
    ).select(
        "doc_id",
        F.col("start").cast("long").alias("start"),
        F.md5(F.concat_ws(" ", F.slice("t", F.col("start"), F.lit(n)))).alias(
            "g"
        ),
    )
    dup = (
        occ.groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("g")
    )
    ds = occ.join(dup, "g", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("start")
    isl = (
        ds.withColumn("prev", F.lag("start").over(w))
        .withColumn(
            "new_span",
            F.when(
                F.col("prev").isNull() | (F.col("start") > F.col("prev") + n),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "span_id",
            F.sum("new_span").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return (
        isl.groupBy("doc_id", "span_id")
        .agg(
            F.min("start").alias("span_start"),
            (F.max("start") + n - 1).cast("long").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("n_tokens"),
        )
    )
