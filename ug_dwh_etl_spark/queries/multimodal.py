"""Multimodal queries: binary-payload plumbing with exact oracles.

The payloads are UTF-8 bytes of documents.text, so DuckDB can recompute
byte lengths and md5 digests over the same content — proving the Spark
side's binary handling (encode, octet_length, mapInPandas feature
extraction) end-to-end without any image libraries."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ug_dwh_etl_spark.operators.multimodal import extract_features, media_from_documents
from ug_dwh_etl_spark.queries.registry import register, table


@register(
    "multimodal_meta_stats",
    """
    SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END
             AS media_type,
           COUNT(*) AS n,
           CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
           MAX(strlen(text) % 640 + 1) AS max_width,
           MAX(strlen(text) * 10) AS max_duration_ms
    FROM documents
    GROUP BY media_type
    """,
)
def multimodal_meta_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = media_from_documents(table(spark, sf_dir, "documents"))
    return media.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("meta.byte_len").alias("total_bytes"),
        F.max("meta.width").alias("max_width"),
        F.max("meta.duration_ms").alias("max_duration_ms"),
    )


@register(
    "multimodal_features",
    """
    SELECT doc_id AS media_id,
           strlen(text) AS byte_len,
           md5(text) AS content_md5,
           ROUND(('0x' || substr(md5(text), 1, 4))::BIGINT / 65536.0, 6) AS f0
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # mapInPandas runs the Arrow-batched extractor; f0 (first 2 digest
    # bytes / 2^16) is recomputable relationally, proving the Python
    # batch path produced the right bytes.
    media = media_from_documents(table(spark, sf_dir, "documents"))
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "byte_len",
        "content_md5",
        F.round(F.element_at("features", 1), 6).alias("f0"),
    )


@register(
    "multimodal_frame_plan",
    """
    WITH vid AS (
      SELECT doc_id AS media_id, strlen(text) * 10 AS duration_ms
      FROM documents WHERE doc_id % 3 = 2
    )
    SELECT media_id, CAST(t AS BIGINT) AS frame_ms,
           CAST(t / 500 AS BIGINT) AS frame_idx
    FROM (SELECT media_id, duration_ms,
                 unnest(generate_series(0, duration_ms - 1, 500)) AS t
          FROM vid)
    """,
)
def multimodal_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling PLAN for the video rows: one output row per
    500 ms sample position, derived from metadata duration — the
    scheduling half of frame extraction, computed relationally
    (sequence + explode, zero Python). A decode stage (ffmpeg/pyav, not
    in this engine) would consume this exact relation through
    mapInPandas, so at 100 TB the expensive stage is driven by a
    partitionable frame-task table instead of per-file driver loops."""
    media = media_from_documents(table(spark, sf_dir, "documents")).filter(
        F.col("media_type") == "video"
    )
    frames = media.select(
        "media_id",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.col("meta.duration_ms") - 1,
                F.lit(500).cast("long"),
            )
        ).alias("frame_ms"),
    )
    return frames.select(
        "media_id",
        "frame_ms",
        (F.col("frame_ms") / 500).cast("long").alias("frame_idx"),
    )


@register(
    "multimodal_dedup_payloads",
    """
    SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END
             AS media_type,
           md5(text) AS content_md5,
           MIN(doc_id) AS survivor_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY media_type, content_md5
    """,
)
def multimodal_dedup_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash dedup of binary media payloads — the image/audio
    counterpart of dedup_exact_groups. md5 over the raw bytes needs no
    codec, so it is the real production shape for multimodal training
    sets (dedupe before decode): one shuffle on (media_type, digest),
    survivor = min id, digest computed scan-side in codegen."""
    media = media_from_documents(table(spark, sf_dir, "documents"))
    return media.groupBy(
        "media_type", F.md5("payload").alias("content_md5")
    ).agg(
        F.min("media_id").alias("survivor_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


_SHARD_CAP = 32 * 1024  # bytes per training shard (local fixture scale)
_SHARD_BLOCK = 100  # doc_ids per prefix-sum block


@register(
    "multimodal_shard_manifest",
    f"""
    WITH items AS (
      SELECT doc_id, strlen(text) AS byte_len FROM documents),
    cum AS (
      SELECT doc_id, byte_len,
             SUM(byte_len) OVER (ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_bytes
      FROM items)
    SELECT CAST((cum_bytes - byte_len) // {_SHARD_CAP} AS BIGINT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(byte_len) AS BIGINT) AS shard_bytes,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM cum GROUP BY shard_id
    """,
)
def multimodal_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style training-shard manifest: blobs are laid out in
    doc_id order and each blob lands in the shard holding its START
    byte offset (shard = start_offset div capacity) — the packing a
    sequential tar writer produces, so the manifest IS the shard layout
    a dataloader will stream.

    The global running byte offset is computed as a DISTRIBUTED prefix
    sum, not a single-partition window: (1) per-block subtotals over
    block = doc_id div {_SHARD_BLOCK} (one map-side-combined shuffle on
    the tiny block relation), (2) running block offsets via a window
    over that block-count-sized frame (single partition is fine THERE —
    it holds one row per block, not per item), (3) broadcast the block
    bases back and add the within-block running sum (window partitioned
    BY BLOCK — parallel across blocks). A bare
    `SUM() OVER (ORDER BY doc_id)` would move the whole corpus into one
    window partition, the classic prefix-sum scale killer; block size
    tunes parallelism at 100 TB. The oracle uses the naive global
    window — identical values, which is the point."""
    items = table(spark, sf_dir, "documents").select(
        "doc_id", F.octet_length(F.encode("text", "UTF-8")).alias("byte_len")
    )
    from pyspark.sql import Window

    blocked = items.withColumn("block", (F.col("doc_id") / _SHARD_BLOCK).cast("long"))
    block_totals = blocked.groupBy("block").agg(F.sum("byte_len").alias("bt"))
    w_blocks = Window.orderBy("block").rowsBetween(Window.unboundedPreceding, -1)
    bases = block_totals.select(
        "block", F.coalesce(F.sum("bt").over(w_blocks), F.lit(0)).alias("base")
    )
    w_in = (
        Window.partitionBy("block")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        blocked.join(F.broadcast(bases), "block")
        .withColumn("cum_bytes", F.col("base") + F.sum("byte_len").over(w_in))
        .withColumn(
            "shard_id",
            ((F.col("cum_bytes") - F.col("byte_len")) / _SHARD_CAP).cast("long"),
        )
    )
    return cum.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("byte_len").cast("long").alias("shard_bytes"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# --- perceptual-hash (average-hash) near-dup over binary payloads --------------
_PH_BITS = 48
_PH_BANDS = 4
_PH_HAM_MAX = 8


@register(
    "multimodal_phash_neardup",
    f"""
    WITH src AS (
      SELECT doc_id, text, length(text) AS l
      FROM documents WHERE length(text) >= {_PH_BITS}),
    codes AS (
      SELECT doc_id,
             [ascii(substr(text, 1 + ((d * l) // {_PH_BITS}), 1))
              FOR d IN range(0, {_PH_BITS})] AS cs
      FROM src),
    hashes AS (
      SELECT doc_id,
             list_sum([CASE WHEN cs[d + 1] >= list_sum(cs) / {_PH_BITS}.0
                            THEN (1::BIGINT << d) ELSE 0 END
                       FOR d IN range(0, {_PH_BITS})]) AS ah
      FROM codes),
    bands AS (
      SELECT doc_id, ah, b,
             (ah // (1::BIGINT << (12 * b))) % 4096 AS bv
      FROM hashes, (SELECT unnest(range(0, {_PH_BANDS})) AS b)),
    cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
                      x.ah AS ah_a, y.ah AS ah_b
      FROM bands x JOIN bands y
        ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id)
    SELECT id_a, id_b,
           CAST(bit_count(xor(ah_a, ah_b)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(ah_a, ah_b)) <= {_PH_HAM_MAX}
    """,
)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection over media payloads:
    a 48-bit AVERAGE HASH (bit d = is the byte at sampled position d
    above the sample mean) computed relationally over the payload byte
    stream — the deterministic stand-in for a DCT pHash over decoded
    pixels (the decode kernel is the documented codec stub in
    operators/multimodal.py; the hash-plumbing, banding, and
    Hamming-join are the real production shape). Candidate pairs come
    from 4x12-bit LSH BANDS (exact-match bucket join — near hashes share
    a band, so no all-pairs product ever forms), then the full Hamming
    distance bit_count(a XOR b) <= {_H} filters candidates. At 100 TB
    the band join shuffles each hash 4 times (~32 bytes/row) and the
    quadratic term is confined to per-bucket collision groups — same
    scale argument as dedup_minhash_lsh_pairs, but for images/audio
    where shingling doesn't exist.""".replace("{_H}", str(_PH_HAM_MAX))
    docs = table(spark, sf_dir, "documents").filter(
        F.length("text") >= _PH_BITS
    )
    # Relational spelling of the hash: one row per (doc, bit), then two
    # doc-keyed aggregates (sample mean, bit sum). The lambda spelling
    # (aggregate over a transform'd code array) is semantically the same
    # but catalyst INLINES the 48-term array into every lambda reference
    # when collapsing projections — the optimized tree grows to ~2300
    # substr nodes per join side and planning alone took ~2 min at
    # sf0.1 (measured; execution was seconds). Exploding the bit index
    # keeps every expression 1 node wide; the two extra doc-keyed
    # shuffles are AQE-coalesced and linear.
    codes = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(_PH_BITS - 1))).alias("d"),
        F.col("text"),
    ).select(
        "doc_id",
        "d",
        F.expr(
            f"ascii(substr(text, 1 + ((d * length(text)) div {_PH_BITS}), 1))"
        ).alias("code"),
    )
    means = codes.groupBy("doc_id").agg(
        (F.sum("code") / float(_PH_BITS)).alias("mc")
    )
    hashes = (
        codes.join(means, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(
                    F.col("code") >= F.col("mc"),
                    F.expr("shiftleft(cast(1 as bigint), d)"),
                ).otherwise(F.lit(0).cast("long"))
            ).alias("ah")
        )
    )
    bands = hashes.select(
        "doc_id",
        "ah",
        F.explode(F.sequence(F.lit(0), F.lit(_PH_BANDS - 1))).alias("b"),
    ).withColumn(
        "bv",
        F.expr(f"(ah div shiftleft(cast(1 as bigint), 12 * b)) % 4096"),
    )
    x, y = bands.alias("x"), bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.b") == F.col("y.b"))
            & (F.col("x.bv") == F.col("y.bv"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("id_a"),
            F.col("y.doc_id").alias("id_b"),
            F.col("x.ah").alias("ah_a"),
            F.col("y.ah").alias("ah_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.expr("ah_a ^ ah_b"))
    return cand.filter(ham <= _PH_HAM_MAX).select(
        "id_a", "id_b", ham.cast("int").alias("hamming")
    )


# --- aspect-ratio bucketing for batch packing ------------------------------------
# SDXL-style bucket grid: images are grouped into fixed-resolution
# buckets so a training batch contains one shape only. Snap = nearest
# bucket in log-aspect space; the CASE boundaries are the geometric
# midpoints between adjacent bucket ratios (irrational literals — a
# rational width/height can never land exactly on one, so the
# float comparison is engine-stable).
_AR_BOUNDS = ("0.6123724356957945", "0.8660254037844386",
              "1.1547005383792515", "1.6329931618554521")
_AR_BATCH = 32


def _ar_bucket_sql(ar: str) -> str:
    b1, b2, b3, b4 = _AR_BOUNDS
    return f"""CASE WHEN {ar} < {b1} THEN '512x1024'
             WHEN {ar} < {b2} THEN '768x1024'
             WHEN {ar} < {b3} THEN '1024x1024'
             WHEN {ar} < {b4} THEN '1024x768'
             ELSE '1024x512' END"""


@register(
    "multimodal_aspect_buckets",
    f"""
    WITH img AS (
      SELECT doc_id,
             (strlen(text) % 640 + 1) * 1.0 / (strlen(text) % 480 + 1) AS ar
      FROM documents WHERE doc_id % 3 = 0),
    assigned AS (SELECT doc_id, {_ar_bucket_sql('ar')} AS bucket FROM img)
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(CEIL(COUNT(*) / {_AR_BATCH}.0) AS BIGINT) AS n_batches,
           CAST(CEIL(COUNT(*) / {_AR_BATCH}.0) * {_AR_BATCH} - COUNT(*) AS BIGINT)
             AS n_padding
    FROM assigned GROUP BY bucket
    """,
)
def multimodal_aspect_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio bucketing for multimodal batch packing: every image
    snaps to the nearest fixed-resolution bucket in log-aspect space
    (CASE over geometric-midpoint boundaries — pure codegen, no argmin
    join), and the per-bucket batch count + padding waste quantifies the
    packing plan a variable-resolution trainer needs. At 100 TB this is
    a single narrow aggregation over decode metadata; the training
    writer then uses repartitionByRange(bucket, random_key) so each
    output file is shape-homogeneous (the same layout trick as
    corpus_global_shuffle's sharding)."""
    media = media_from_documents(table(spark, sf_dir, "documents")).filter(
        F.col("media_type") == "image"
    )
    ar = F.col("meta.width") * F.lit(1.0) / F.col("meta.height")
    b1, b2, b3, b4 = (float(b) for b in _AR_BOUNDS)
    bucket = (
        F.when(ar < b1, "512x1024")
        .when(ar < b2, "768x1024")
        .when(ar < b3, "1024x1024")
        .when(ar < b4, "1024x768")
        .otherwise("1024x512")
    )
    n = F.count(F.lit(1))
    batches = F.ceil(n / F.lit(float(_AR_BATCH)))
    return media.groupBy(bucket.alias("bucket")).agg(
        n.alias("n_images"),
        batches.cast("long").alias("n_batches"),
        (batches * _AR_BATCH - n).cast("long").alias("n_padding"),
    )


@register(
    "multimodal_features_arrow",
    """
    SELECT doc_id AS media_id,
           strlen(text) AS byte_len,
           md5(text) AS content_md5,
           ROUND(('0x' || substr(md5(text), 1, 4))::BIGINT / 65536.0, 6) AS f0
    FROM documents
    """,
)
def multimodal_features_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapInArrow twin of multimodal_features: identical features
    computed through Spark 4's raw-Arrow batch path (no pandas
    materialization — one copy fewer per batch than mapInPandas, the
    shape a GPU encoder consuming Arrow buffers wants), proven against
    the SAME relational oracle so the two Python batch paths are
    interchangeable byte-for-byte."""
    from ug_dwh_etl_spark.operators.multimodal import (
        extract_features_arrow,
        media_from_documents,
    )

    media = media_from_documents(table(spark, sf_dir, "documents"))
    feats = extract_features_arrow(media)
    return feats.select(
        "media_id",
        "byte_len",
        "content_md5",
        F.round(F.element_at("features", 1), 6).alias("f0"),
    )
