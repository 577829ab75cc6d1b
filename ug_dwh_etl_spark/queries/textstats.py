"""Text-analysis queries over the documents table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ug_dwh_etl_spark.operators import hashing as H
from ug_dwh_etl_spark.operators.textstats import (
    BPE_ISH_PATTERN,
    QUALITY_RULES_DEFAULTS,
    STOPWORDS,
    contamination_scan,
    fingerprints,
    langid,
    quality_filter,
    quality_scores,
    sql_stop_filter,
    token_stats,
)
from ug_dwh_etl_spark.queries.registry import register, table

_TOK_CTE = f"tok AS (SELECT doc_id, text, {H.sql_tokens('text')} AS t FROM documents)"


@register(
    "text_token_stats",
    f"""
    WITH {_TOK_CTE}
    SELECT doc_id,
           len(t) AS n_tokens,
           len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS n_bpe_tokens,
           length(text) AS n_chars_calc,
           ROUND(CASE WHEN len(t) > 0
                      THEN length(array_to_string(t, '')) / len(t) END, 6) AS avg_token_len
    FROM tok
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "text_quality_scores",
    f"""
    WITH {_TOK_CTE}
    SELECT doc_id,
           ROUND(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / length(text)::DOUBLE, 6)
             AS alpha_ratio,
           ROUND(length(regexp_replace(text, '[^0-9]', '', 'g')) / length(text)::DOUBLE, 6)
             AS digit_ratio,
           ROUND(length(regexp_replace(text, '[^ ]', '', 'g')) / length(text)::DOUBLE, 6)
             AS space_ratio,
           ROUND(CASE WHEN len(t) > 0
                      THEN {sql_stop_filter('t', STOPWORDS['en'])} / len(t)::DOUBLE
                      ELSE 0.0 END, 6) AS stopword_ratio,
           length(text) >= 100 AS len_ok
    FROM tok
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_scores(table(spark, sf_dir, "documents"), "doc_id", "text")


def _langid_sql() -> str:
    h = {lang: sql_stop_filter("t", words) for lang, words in STOPWORDS.items()}
    return f"""
    WITH {_TOK_CTE}
    SELECT doc_id,
           CASE WHEN {h['en']} >= {h['de']} AND {h['en']} >= {h['fr']}
                 AND {h['en']} >= {h['es']} AND {h['en']} > 0 THEN 'en'
                WHEN {h['de']} >= {h['fr']} AND {h['de']} >= {h['es']}
                 AND {h['de']} > 0 THEN 'de'
                WHEN {h['fr']} >= {h['es']} AND {h['fr']} > 0 THEN 'fr'
                WHEN {h['es']} > 0 THEN 'es'
                ELSE 'und' END AS predicted_lang
    FROM tok
    """


@register("text_langid", _langid_sql())
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return langid(table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "text_fingerprints",
    f"""
    WITH {_TOK_CTE}
    SELECT doc_id,
           md5(array_to_string(t, ' ')) AS fingerprint,
           ('0x' || substr(md5(array_to_string(t, ' ')), 1, 15))::BIGINT AS fingerprint_int
    FROM tok
    """,
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprints(table(spark, sf_dir, "documents"), "doc_id", "text")


# deterministic PII injection so the redaction is actually exercised:
# every doc gets a synthetic email + IP + phone + IBAN derived from its
# doc_id
_PII_SPARK = (
    "concat(text, ' contact user', CAST(doc_id AS STRING),"
    " '@mail.example.com from 10.0.', CAST(doc_id % 256 AS STRING), '.7',"
    " ' call +49 30 555 ', lpad(CAST(doc_id % 10000 AS STRING), 4, '0'),"
    " ' pay DE44500105', lpad(CAST(doc_id % 100000000 AS STRING), 8, '0'), '17')"
)
_PII_DUCK = (
    "text || ' contact user' || doc_id::VARCHAR"
    " || '@mail.example.com from 10.0.' || (doc_id % 256)::VARCHAR || '.7'"
    " || ' call +49 30 555 ' || lpad((doc_id % 10000)::VARCHAR, 4, '0')"
    " || ' pay DE44500105' || lpad((doc_id % 100000000)::VARCHAR, 8, '0') || '17'"
)


def _redact_pii_sql() -> str:
    from ug_dwh_etl_spark.operators.textstats import _PII_TAGS

    counts = ",\n           ".join(
        f"len(regexp_extract_all(text, '{p}')) AS {name}"
        for p, _, name in _PII_TAGS
    )
    redacted = "text"
    for p, tag, _ in _PII_TAGS:
        redacted = f"regexp_replace({redacted}, '{p}', '{tag}', 'g')"
    return f"""
    WITH pii AS (SELECT doc_id, {_PII_DUCK} AS text FROM documents)
    SELECT doc_id,
           {counts},
           md5({redacted}) AS redacted_md5
    FROM pii
    """


@register("text_redact_pii", _redact_pii_sql())
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email / IPv4 / international-phone / IBAN scrub with per-type
    counts — patterns and tag order come from one table
    (operators/textstats.py ``_PII_TAGS``) shared with the generated
    oracle so the two engines cannot drift."""
    from pyspark.sql import functions as F

    from ug_dwh_etl_spark.operators.textstats import redact_pii

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_PII_SPARK).alias("text")
    )
    return redact_pii(docs, "doc_id", "text")


@register(
    "text_repetition",
    f"""
    WITH {_TOK_CTE},
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
      FROM tok),
    cnt AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY doc_id, bigram)
    SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_bigram_count,
           CAST(SUM(c) AS BIGINT) AS n_bigrams,
           ROUND(MAX(c) / SUM(c)::DOUBLE, 6) AS top_bigram_frac
    FROM cnt GROUP BY doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ug_dwh_etl_spark.operators.textstats import repetition_scores

    return repetition_scores(table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "sample_stratified",
    """
    SELECT lang, doc_id
    FROM (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
      FROM documents)
    WHERE rn <= 5
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: k docs per language, chosen by
    hash-order (md5 of the stable key) — 'random' for any statistical
    purpose, yet reproducible across runs/engines/partitionings, unlike
    TABLESAMPLE. One shuffle on the stratum key; at 100 TB the hash rank
    prunes with a per-group top-k (window + filter), never a global
    sort."""
    from pyspark.sql import Window
    import pyspark.sql.functions as F

    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("lang", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 5)
        .select("lang", "doc_id")
    )


@register(
    "text_tfidf_terms",
    """
    WITH terms AS (
      SELECT doc_id, term
      FROM (SELECT doc_id,
                   unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
            FROM documents)
      WHERE term <> ''
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
    ),
    stats AS (
      SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf
      FROM tf GROUP BY term
    )
    SELECT term, df, total_tf,
           ROUND(total_tf * LN((SELECT COUNT(*) FROM documents) / df), 4)
             AS total_tfidf
    FROM stats
    """,
)
def text_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF-IDF per term: tokenize (lowercase alpha runs), term
    frequency per doc, document frequency, idf = ln(N/df). The per-term
    score aggregates distributively (sum of tf x a per-term constant),
    so the whole thing is two partial-aggregated shuffles on term — no
    doc-side join back. At 100 TB the vocabulary table is tiny next to
    the corpus; N arrives via a broadcast of a 1-row aggregate, never a
    driver-side collect."""
    docs = table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term"),
    ).filter(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    stats = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("total_tf")
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return stats.crossJoin(F.broadcast(n_docs)).select(
        "term",
        "df",
        "total_tf",
        F.round(
            F.col("total_tf") * F.log(F.col("n_docs") / F.col("df")), 4
        ).alias("total_tfidf"),
    )


@register(
    "text_chunk_docs",
    f"""
    WITH tok AS (SELECT doc_id, {H.sql_tokens('text')} AS t FROM documents),
    nz AS (SELECT doc_id, t, len(t) AS n FROM tok WHERE len(t) > 0)
    SELECT doc_id, start, LEAST(32, n - start + 1) AS n_tokens,
           array_to_string(list_slice(t, start, LEAST(start + 31, n)), ' ')
             AS chunk_text
    FROM (SELECT doc_id, t, n, unnest(generate_series(1, n, 24)) AS start
          FROM nz)
    """,
)
def text_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking with overlap (size 32, stride 24) — the
    context-window packing step of a training-data pipeline. The token
    array is computed once per doc; chunk starts come from `sequence`
    and explode, so a doc yields ceil(n/stride) rows with no Python and
    no re-tokenization per chunk. Narrow until the explode, which is a
    local row-expansion — zero shuffles at any scale; chunk output is
    written partitioned by whatever the sink keys on."""
    docs = table(spark, sf_dir, "documents")
    d = (
        docs.select("doc_id", H.tokens(F.col("text")).alias("t"))
        .withColumn("n", F.size("t"))
        .filter(F.col("n") > 0)
    )
    return d.select(
        "doc_id",
        "t",
        "n",
        F.explode(F.sequence(F.lit(1), F.col("n"), F.lit(24))).alias("start"),
    ).select(
        "doc_id",
        F.col("start").cast("long").alias("start"),
        F.least(F.lit(32), F.col("n") - F.col("start") + 1)
        .cast("long")
        .alias("n_tokens"),
        F.concat_ws(" ", F.slice("t", F.col("start"), F.lit(32))).alias(
            "chunk_text"
        ),
    )


@register(
    "text_paragraph_dedup",
    f"""
    WITH tok AS (SELECT doc_id, {H.sql_tokens('text')} AS t FROM documents),
    nz AS (SELECT doc_id, t, len(t) AS n FROM tok WHERE len(t) > 0),
    paras AS (
      SELECT doc_id, start,
             array_to_string(list_slice(t, start, LEAST(start + 9, n)), ' ')
               AS para
      FROM (SELECT doc_id, t, n, unnest(generate_series(1, n, 10)) AS start
            FROM nz)),
    ranked AS (
      SELECT doc_id, start, para,
             ROW_NUMBER() OVER (PARTITION BY para
                                ORDER BY doc_id, start) AS rn
      FROM paras)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_paras,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(COALESCE(string_agg(CASE WHEN rn = 1 THEN para END,
                                   ' ' ORDER BY start), '')) AS kept_md5
    FROM ranked GROUP BY doc_id
    """,
)
def text_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-WIDE EXACT PARAGRAPH DEDUP, the C4 cleaning rule (Raffel
    et al. 2020 discard repeated three-sentence spans; here the span is
    a fixed 10-token paragraph, the fixture's structural stand-in): a
    paragraph instance survives only where it FIRST appears in the
    corpus ((doc_id, position) order — every later occurrence in any
    document is removed), and each document is REBUILT from its
    surviving paragraphs in position order, fingerprinted for the
    cross-engine compare. Plan: one narrow paragraph explode, then ONLY
    PARTIAL (map-side-combined) AGGREGATES — first-occurrence-wins is
    exactly ``min(struct(doc_id, start))`` per paragraph, and the
    aggregate's OUTPUT (one row per distinct paragraph, tagged with
    where it first appeared) IS the kept set, so no join back onto the
    |paras| relation and no data-keyed window ever runs: a paragraph
    pasted into a billion documents is absorbed by map-side combine
    (each task emits one candidate min) instead of landing a billion
    rows in one window task. Docs are rebuilt by regrouping the
    distinct-paragraph relation on its first-occurrence doc_id; docs
    whose every paragraph first appeared elsewhere surface via a
    doc-keyed left join with n_kept=0 and the empty-string md5 (the
    oracle's COALESCE)."""
    docs = table(spark, sf_dir, "documents")
    d = (
        docs.select("doc_id", H.tokens(F.col("text")).alias("t"))
        .withColumn("n", F.size("t"))
        .filter(F.col("n") > 0)
    )
    paras = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.col("n"), F.lit(10))).alias("start"),
        "t",
    ).select(
        "doc_id",
        F.col("start").cast("long").alias("start"),
        F.concat_ws(" ", F.slice("t", F.col("start"), F.lit(10))).alias("para"),
    )
    totals = paras.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_paras"))
    first_occ = paras.groupBy("para").agg(
        F.min(F.struct("doc_id", "start")).alias("fo")
    )
    kept = (
        first_occ.select(
            F.col("fo.doc_id").alias("doc_id"),
            F.col("fo.start").alias("start"),
            "para",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("start", "para"))
                        ),
                        lambda x: x.para,
                    ),
                    " ",
                )
            ).alias("kept_md5"),
        )
    )
    return totals.join(kept, "doc_id", "left").select(
        "doc_id",
        "n_paras",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("kept_md5", F.md5(F.lit(""))).alias("kept_md5"),
    )


@register(
    "dedup_paragraph_savings",
    f"""
    WITH tok AS (SELECT doc_id, {H.sql_tokens('text')} AS t FROM documents),
    nz AS (SELECT doc_id, t, len(t) AS n FROM tok WHERE len(t) > 0),
    paras AS (
      SELECT doc_id, start,
             array_to_string(list_slice(t, start, LEAST(start + 9, n)), ' ')
               AS para,
             LEAST(10, n - start + 1) AS n_tok
      FROM (SELECT doc_id, t, n, unnest(generate_series(1, n, 10)) AS start
            FROM nz)),
    ranked AS (
      SELECT doc_id, n_tok,
             ROW_NUMBER() OVER (PARTITION BY para
                                ORDER BY doc_id, start) AS rn
      FROM paras),
    per_doc AS (
      SELECT doc_id,
             SUM(n_tok) AS tok_total,
             SUM(CASE WHEN rn > 1 THEN n_tok ELSE 0 END) AS tok_removed
      FROM ranked GROUP BY doc_id)
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(p.tok_total) AS BIGINT) AS tokens_total,
           CAST(SUM(p.tok_removed) AS BIGINT) AS tokens_removed,
           ROUND(SUM(p.tok_removed) * 1.0 / SUM(p.tok_total), 6)
             AS removed_share
    FROM per_doc p JOIN documents d USING (doc_id)
    GROUP BY d.source
    """,
)
def dedup_paragraph_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMPACT ACCOUNTING for the C4 paragraph pass (the
    dedup_token_savings convention applied to text_paragraph_dedup):
    the token mass the first-occurrence-wins paragraph dedup removes,
    per source — the report that shows WHICH feed is pasting the same
    boilerplate spans across documents. Same skew-free plan shape as
    the dedup itself (partial aggregates only — removed mass per doc is
    total mass minus the mass of paragraphs whose ``min(struct(doc_id,
    start, n_tok))`` first occurrence lands in that doc; no para-keyed
    window or join, so a viral span is absorbed by map-side combine)
    plus a doc-keyed source join; tokens are counted on the span
    lengths, so the numbers are exactly the training tokens a
    downstream packer would no longer see. n_tok rides as a trailing
    struct field — (doc_id, start) is unique per row, so it never
    influences the min but arrives with the winning row."""
    docs = table(spark, sf_dir, "documents")
    d = (
        docs.select("doc_id", H.tokens(F.col("text")).alias("t"))
        .withColumn("n", F.size("t"))
        .filter(F.col("n") > 0)
    )
    paras = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.col("n"), F.lit(10))).alias("start"),
        "t",
        "n",
    ).select(
        "doc_id",
        F.col("start").cast("long").alias("start"),
        F.concat_ws(" ", F.slice("t", F.col("start"), F.lit(10))).alias("para"),
        F.least(F.lit(10), F.col("n") - F.col("start") + 1)
        .cast("long")
        .alias("n_tok"),
    )
    totals = paras.groupBy("doc_id").agg(F.sum("n_tok").alias("tok_total"))
    kept = (
        paras.groupBy("para")
        .agg(F.min(F.struct("doc_id", "start", "n_tok")).alias("fo"))
        .groupBy(F.col("fo.doc_id").alias("doc_id"))
        .agg(F.sum("fo.n_tok").alias("tok_kept"))
    )
    per_doc = totals.join(kept, "doc_id", "left").select(
        "doc_id",
        "tok_total",
        (
            F.col("tok_total") - F.coalesce("tok_kept", F.lit(0))
        ).alias("tok_removed"),
    )
    return (
        per_doc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok_total").cast("long").alias("tokens_total"),
            F.sum("tok_removed").cast("long").alias("tokens_removed"),
            F.round(
                F.sum("tok_removed") * 1.0 / F.sum("tok_total"), 6
            ).alias("removed_share"),
        )
    )


@register(
    "text_pack_sequences",
    f"""
    WITH tok AS (SELECT doc_id, {H.sql_tokens('text')} AS t FROM documents),
    nz AS (SELECT doc_id, t, len(t) AS n FROM tok WHERE len(t) > 0),
    chunks AS (
      SELECT doc_id, start, LEAST(32, n - start + 1) AS n_tokens,
             doc_id % 8 AS shard
      FROM (SELECT doc_id, n, unnest(generate_series(1, n, 24)) AS start
            FROM nz)
    )
    SELECT doc_id, start, shard,
           CAST((SUM(n_tokens) OVER (PARTITION BY shard
                                     ORDER BY doc_id, start
                                     ROWS UNBOUNDED PRECEDING) - n_tokens)
                // 1024 AS BIGINT) AS pack_id,
           n_tokens
    FROM chunks
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign token chunks to fixed 1024-token training
    sequences by contiguous fill — running token count within a shard,
    pack_id = floor(prefix-sum / budget). Deterministic given the
    (doc_id, start) order. Sharding (doc_id % 8) bounds each window
    partition, so at 100 TB packing parallelizes across shards instead
    of serializing through one global running sum; a shard is still
    billions of tokens, far above one executor's window partition limit
    only if left unsharded."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    d = (
        docs.select("doc_id", H.tokens(F.col("text")).alias("t"))
        .withColumn("n", F.size("t"))
        .filter(F.col("n") > 0)
    )
    chunks = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.col("n"), F.lit(24))).alias("start"),
        "n",
    ).select(
        "doc_id",
        F.col("start").cast("long").alias("start"),
        F.least(F.lit(32), F.col("n") - F.col("start") + 1)
        .cast("long")
        .alias("n_tokens"),
        (F.col("doc_id") % 8).alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id", "start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("n_tokens").over(w)
    return chunks.select(
        "doc_id",
        "start",
        "shard",
        F.floor((cum - F.col("n_tokens")) / 1024).alias("pack_id"),
        "n_tokens",
    )


@register(
    "text_token_positions",
    f"""
    WITH tok AS (SELECT doc_id, {H.sql_tokens('text')} AS t FROM documents)
    SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i] AS term
    FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
          FROM tok WHERE doc_id % 100 = 0)
    """,
)
def text_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional tokenization via posexplode (1-based to match SQL
    subscripts) — the (doc, position, term) relation inverted indexes
    and positional n-gram features build on. Narrow row expansion, no
    shuffle; the doc_id % 100 filter keeps the oracle comparison small
    while the plan shape is corpus-size-independent."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 100 == 0)
    return docs.select(
        "doc_id", F.posexplode(H.tokens(F.col("text"))).alias("pos0", "term")
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "term")


# --- Gopher/C4-style corpus quality gate ---------------------------------------
# SQL twin of operators.textstats.quality_filter with its default rules.
_QF = QUALITY_RULES_DEFAULTS


@register(
    "corpus_quality_filter",
    f"""
    WITH {_TOK_CTE},
    m AS (
      SELECT doc_id,
             len(t) AS n_words,
             CASE WHEN len(t) > 0
                  THEN length(array_to_string(t, '')) / len(t)::DOUBLE END AS mean_raw,
             CASE WHEN len(t) > 0
                  THEN {sql_stop_filter('t', STOPWORDS['en'])} / len(t)::DOUBLE
                  ELSE 0.0 END AS stop_raw
      FROM tok)
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           ROUND(mean_raw, 6) AS mean_word_len,
           ROUND(stop_raw, 6) AS stopword_ratio,
           n_words BETWEEN {_QF['min_words']} AND {_QF['max_words']} AS words_ok,
           COALESCE(mean_raw BETWEEN {_QF['min_mean_word_len']} AND {_QF['max_mean_word_len']},
                    FALSE) AS word_len_ok,
           stop_raw >= {_QF['min_stopword_ratio']} AS stopword_ok,
           (n_words BETWEEN {_QF['min_words']} AND {_QF['max_words']})
             AND COALESCE(mean_raw BETWEEN {_QF['min_mean_word_len']} AND {_QF['max_mean_word_len']}, FALSE)
             AND stop_raw >= {_QF['min_stopword_ratio']} AS keep
    FROM m
    """,
)
def corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-rule document gate (word-count bounds, mean word
    length, minimum stopword ratio) — one scan, zero shuffles, the keep
    decision plus per-rule flags for filter-rate dashboards."""
    return quality_filter(table(spark, sf_dir, "documents"), "doc_id", "text")


# --- corpus n-gram statistics ---------------------------------------------------
@register(
    "text_ngram_counts",
    f"""
    WITH {_TOK_CTE},
    sh AS (SELECT doc_id, {H.sql_shingles('t', 2)} AS sgl FROM tok),
    grams AS (SELECT unnest(sgl) AS bigram FROM sh)
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM grams GROUP BY bigram
    ORDER BY n DESC, bigram LIMIT 50
    """,
)
def text_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level bigram frequency top-50 (the LM n-gram statistic):
    explode word-2-grams, one partial-aggregated shuffle on the gram,
    TakeOrdered for the top-k — never a global sort. Deterministic
    tiebreak on the bigram text."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(H.tokens(F.col("text")).alias("t"))
    grams = toks.select(F.explode(H.shingles(F.col("t"), 2)).alias("bigram"))
    return (
        grams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(50)
    )


# --- benchmark-contamination scan -----------------------------------------------
# Probe fragments (stand-ins for eval-set strings); literal on both sides.
CONTAMINATION_PROBES = (
    "key agg row scan",
    "fast merge batch",
    "table window table",
    "stream fast order group",
    "no such fragment anywhere",
)


def _contamination_sql() -> str:
    probes = "\n      UNION ALL\n      ".join(
        f"SELECT '{p.replace(chr(39), chr(39)*2)}' AS probe" for p in CONTAMINATION_PROBES
    )
    return f"""
    WITH probes AS (
      {probes}
    ),
    n AS (SELECT COUNT(*) AS total FROM documents)
    SELECT p.probe,
           CAST(SUM(CASE WHEN contains(d.text, p.probe) THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
           ROUND(SUM(CASE WHEN contains(d.text, p.probe) THEN 1 ELSE 0 END)
                 / (SELECT total FROM n)::DOUBLE, 6) AS pct_docs
    FROM probes p CROSS JOIN documents d
    GROUP BY p.probe
    """


@register("contamination_scan", _contamination_sql())
def contamination_scan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set contamination check: verbatim containment counts for a
    literal probe set, folded into ONE corpus scan (|probes| contains()
    per row riding a single aggregation — no join, no second pass). The
    oracle cross-joins for clarity; the Spark plan stays linear in the
    corpus regardless of probe count."""
    return contamination_scan(
        table(spark, sf_dir, "documents"), "doc_id", "text", CONTAMINATION_PROBES
    )


@register(
    "text_vocab_coverage",
    f"""
    WITH {_TOK_CTE},
    words AS (SELECT unnest(t) AS term FROM tok),
    counts AS (SELECT term, COUNT(*) AS n FROM words GROUP BY term),
    total AS (SELECT SUM(n) AS tot FROM counts),
    ranked AS (
      SELECT term, n,
             ROW_NUMBER() OVER (ORDER BY n DESC, term) AS rnk,
             SUM(n) OVER (ORDER BY n DESC, term
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM counts)
    SELECT CAST(rnk AS BIGINT) AS rnk, term, n,
           ROUND(cum / (SELECT tot FROM total)::DOUBLE, 6) AS coverage
    FROM ranked WHERE rnk <= 100
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocab prep: the top-100 terms by corpus frequency with
    CUMULATIVE coverage (what fraction of all token occurrences a vocab
    of that size explains). Token counts are one partial-aggregated
    shuffle; the ranking/cumsum window runs over the vocab-sized count
    table (≤ distinct terms, corpus-size-independent), and the corpus
    total rides along as a 1-row broadcast."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(H.tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("tot"))
    # top-100 FIRST (TakeOrderedAndProject — per-partition heap, no
    # global sort), THEN rank+cumsum over just those 100 rows: the
    # cumulative sum at rank i only involves ranks 1..i, so restricting
    # to the top-N loses nothing
    top = counts.orderBy(F.desc("n"), F.asc("term")).limit(100)
    w = Window.orderBy(F.desc("n"), F.asc("term"))
    ranked = top.select(
        F.row_number().over(w).alias("rnk"),
        "term",
        "n",
        F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    )
    return ranked.crossJoin(F.broadcast(total)).select(
        F.col("rnk").cast("long").alias("rnk"),
        "term",
        "n",
        F.round(F.col("cum") / F.col("tot"), 6).alias("coverage"),
    )


# --- PMI collocations ---------------------------------------------------------
@register(
    "text_pmi_bigrams",
    f"""
    WITH {_TOK_CTE},
    uni AS (
      SELECT tk AS w, COUNT(*) AS c
      FROM (SELECT unnest(t) AS tk FROM tok) GROUP BY tk),
    n_uni AS (SELECT SUM(c) AS n FROM uni),
    big AS (
      SELECT bg, COUNT(*) AS c
      FROM (SELECT unnest({H.sql_shingles('t', 2)}) AS bg FROM tok)
      GROUP BY bg),
    top AS (
      SELECT bg, c FROM big WHERE c >= 5
      ORDER BY c DESC, bg LIMIT 50)
    SELECT t.bg AS bigram,
           CAST(t.c AS BIGINT) AS n_pairs,
           ROUND(LN((t.c::DOUBLE * n.n * n.n)
                    / (n.n::DOUBLE * a.c * b.c)), 4) AS pmi
    FROM top t
      JOIN uni a ON a.w = string_split(t.bg, ' ')[1]
      JOIN uni b ON b.w = string_split(t.bg, ' ')[2]
      CROSS JOIN n_uni n
    """,
)
def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top bigram collocations by count with their pointwise mutual
    information: pmi = ln(p(ab) / (p(a) p(b))) with both distributions
    over the unigram total (the collocation-extraction staple feeding
    tokenizer-vocab and boilerplate decisions).

    Selection ranks on the INTEGER pair count (deterministic
    cross-engine; float pmi is reported, never ranked on). The top-50 is
    a TakeOrdered (per-partition heap, k rows to the driver), and the
    two unigram lookups join against that 50-row side, broadcast — at
    100 TB the only full-corpus work is the two token/bigram counts."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(H.tokens("text").alias("t"))
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_uni = uni.agg(F.sum("c").alias("n"))
    big = (
        toks.select(F.explode(H.shingles(F.col("t"), 2)).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = big.filter(F.col("c") >= 5).orderBy(F.desc("c"), "bg").limit(50)
    a = uni.select(F.col("w").alias("wa"), F.col("c").alias("ca"))
    b = uni.select(F.col("w").alias("wb"), F.col("c").alias("cb"))
    pmi = F.round(
        F.log(
            (F.col("c").cast("double") * F.col("n") * F.col("n"))
            / (F.col("n").cast("double") * F.col("ca") * F.col("cb"))
        ),
        4,
    )
    return (
        top.withColumn("wa", F.split("bg", " ").getItem(0))
        .withColumn("wb", F.split("bg", " ").getItem(1))
        .join(a, "wa")
        .join(b, "wb")
        .crossJoin(F.broadcast(n_uni))
        .select(F.col("bg").alias("bigram"), F.col("c").alias("n_pairs"), pmi.alias("pmi"))
    )


# --- language-mixture sampling weights ----------------------------------------
_MIX_ALPHA = 0.3


@register(
    "corpus_mixture_weights",
    f"""
    WITH counts AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
    tot AS (SELECT SUM(n_docs) AS total FROM counts),
    powed AS (
      SELECT lang, n_docs,
             power(n_docs::DOUBLE / t.total, {_MIX_ALPHA}) AS p_alpha
      FROM counts, tot t),
    z AS (SELECT SUM(p_alpha) AS z FROM powed)
    SELECT p.lang,
           CAST(p.n_docs AS BIGINT) AS n_docs,
           ROUND(p.n_docs::DOUBLE / t.total, 6) AS raw_share,
           ROUND(p.p_alpha / z.z, 6) AS sample_weight
    FROM powed p, tot t, z
    """,
)
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language-mixture sampling weights
    (w_l ∝ p_l^alpha, alpha=0.3) — the multilingual data-mixing formula
    that upsamples low-resource languages. One tiny groupBy(lang) plus
    two scalar broadcasts; corpus-size-linear with a 5-row tail."""
    docs = table(spark, sf_dir, "documents")
    return mixture_weights(docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs")))


def mixture_weights(counts: DataFrame) -> DataFrame:
    """Each language's raw share and temperature-scaled sampling weight
    from its document count ``(lang, n_docs)``."""
    tot = counts.agg(F.sum("n_docs").alias("total"))
    powed = counts.crossJoin(F.broadcast(tot)).withColumn(
        "p_alpha", F.pow(F.col("n_docs").cast("double") / F.col("total"), _MIX_ALPHA)
    )
    z = powed.agg(F.sum("p_alpha").alias("z"))
    return powed.crossJoin(F.broadcast(z)).select(
        "lang",
        "n_docs",
        F.round(F.col("n_docs").cast("double") / F.col("total"), 6).alias("raw_share"),
        F.round(F.col("p_alpha") / F.col("z"), 6).alias("sample_weight"),
    )


# --- UniMax waterfilled token budget -------------------------------------------
# UniMax (Chung et al. 2023): instead of temperature scaling, allocate a
# fixed training budget UNIFORMLY across languages subject to a per-
# language epoch cap — a saturated (low-resource) language takes its full
# capacity n_l * cap_epochs, and its unused share waterfills into the
# languages that can still absorb it. The waterfill has a sorted closed
# form (no iteration): ascending by capacity with prefix sums S_i, the
# candidate level at rank i is L_i = (B - S_{i-1}) / (k - i + 1); a
# language saturates iff c_i < L_i (the predicate is monotone), and every
# non-saturated language receives the level of the FIRST non-saturated
# rank. Budget here = 3.5x the corpus (mean 3.5 epochs), cap = 4 epochs
# (past the ~4-epoch cliff repetition stops helping — Muennighoff et al.).
_UNIMAX_EPOCH_CAP = 4
_UNIMAX_BUDGET_EPOCHS = 3.5


@register(
    "corpus_unimax_budget",
    f"""
    WITH counts AS (SELECT lang, SUM(n_chars) AS n_chars FROM documents GROUP BY lang),
    tot AS (SELECT SUM(n_chars) * {_UNIMAX_BUDGET_EPOCHS} AS budget, COUNT(*) AS k FROM counts),
    ranked AS (
      SELECT lang, n_chars, n_chars * {_UNIMAX_EPOCH_CAP} AS capacity, t.budget, t.k,
             ROW_NUMBER() OVER (ORDER BY n_chars * {_UNIMAX_EPOCH_CAP}, lang) AS rk,
             COALESCE(SUM(n_chars * {_UNIMAX_EPOCH_CAP}) OVER (
               ORDER BY n_chars * {_UNIMAX_EPOCH_CAP}, lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
      FROM counts, tot t),
    lev AS (
      SELECT *, (budget - prefix) / (k - rk + 1) AS level,
             capacity < (budget - prefix) / (k - rk + 1) AS saturated
      FROM ranked),
    wat AS (SELECT MIN(CASE WHEN NOT saturated THEN rk END) AS mrk FROM lev),
    wlevel AS (SELECT l.level AS water FROM lev l, wat WHERE l.rk = wat.mrk)
    SELECT l.lang,
           CAST(l.n_chars AS BIGINT) AS n_chars,
           CAST(l.capacity AS BIGINT) AS capacity,
           ROUND(CASE WHEN l.saturated THEN l.capacity::DOUBLE
                      ELSE LEAST(l.capacity::DOUBLE, w.water) END, 4) AS alloc_chars,
           ROUND(CASE WHEN l.saturated THEN l.capacity::DOUBLE
                      ELSE LEAST(l.capacity::DOUBLE, w.water) END / l.n_chars, 6) AS epochs,
           l.saturated
    FROM lev l LEFT JOIN wlevel w ON TRUE
    """,
)
def corpus_unimax_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax budget allocation: uniform-with-cap waterfill of a training
    budget over languages (see block comment above for the closed form).
    Cost shape at 100 TB: ONE map-side-combined groupBy(lang) over the
    corpus; every window below it runs on the lang-cardinality tail
    (~10^2 rows), so the waterfill itself is free — no iteration, no
    driver loop, no data-sized window."""
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.sum("n_chars").alias("n_chars"))
    tot = counts.agg(
        (F.sum("n_chars") * F.lit(_UNIMAX_BUDGET_EPOCHS)).alias("budget"),
        F.count(F.lit(1)).alias("k"),
    )
    w = Window.orderBy("capacity", "lang")
    lev = (
        counts.withColumn(
            "capacity", F.col("n_chars") * F.lit(_UNIMAX_EPOCH_CAP)
        )
        .crossJoin(F.broadcast(tot))
        .withColumn("rk", F.row_number().over(w))
        .withColumn(
            "prefix",
            F.coalesce(
                F.sum("capacity").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .withColumn(
            "level",
            (F.col("budget") - F.col("prefix")) / (F.col("k") - F.col("rk") + 1),
        )
        .withColumn("saturated", F.col("capacity") < F.col("level"))
    )
    water = F.min(
        F.when(~F.col("saturated"), F.struct("rk", "level"))
    ).over(Window.partitionBy())["level"]
    alloc = F.when(
        F.col("saturated"), F.col("capacity").cast("double")
    ).otherwise(F.least(F.col("capacity").cast("double"), water))
    return lev.select(
        "lang",
        "n_chars",
        "capacity",
        F.round(alloc, 4).alias("alloc_chars"),
        F.round(alloc / F.col("n_chars"), 6).alias("epochs"),
        "saturated",
    )


# --- per-language token-length deciles ----------------------------------------
@register(
    "doc_length_deciles",
    f"""
    WITH {_TOK_CTE},
    lens AS (
      SELECT d.lang, len(t.t) AS n_tokens
      FROM tok t JOIN documents d USING (doc_id))
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(quantile_cont(n_tokens, 0.10), 4) AS p10,
           ROUND(quantile_cont(n_tokens, 0.50), 4) AS p50,
           ROUND(quantile_cont(n_tokens, 0.90), 4) AS p90,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
    FROM lens GROUP BY lang
    """,
)
def doc_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length distribution per language (p10/p50/p90/max) — the
    stats that drive chunk-size, packing-length, and curriculum
    decisions. One tokenize+length map, one groupBy(lang) with exact
    interpolated percentiles; at 100 TB the length column is computed at
    scan time and the agg state is a handful of rows per language."""
    docs = table(spark, sf_dir, "documents")
    lens = docs.select("lang", F.size(H.tokens("text")).alias("n_tokens"))
    return lens.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.expr("percentile(n_tokens, 0.10)"), 4).alias("p10"),
        F.round(F.expr("percentile(n_tokens, 0.50)"), 4).alias("p50"),
        F.round(F.expr("percentile(n_tokens, 0.90)"), 4).alias("p90"),
        F.max("n_tokens").alias("max_tokens"),
    )


# --- character entropy (perplexity proxy) -------------------------------------
@register(
    "text_char_entropy",
    """
    WITH chars AS (
      SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents)
    SELECT d.doc_id,
           CAST(length(d.text) AS INTEGER) AS n_chars,
           ROUND(COALESCE(e.ent, 0.0), 4) AS entropy
    FROM documents d
      LEFT JOIN (SELECT doc_id, entropy(ch) AS ent FROM chars GROUP BY doc_id) e
        USING (doc_id)
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc character-distribution Shannon entropy (bits) — the cheap
    perplexity proxy for boilerplate/garbage flagging. Arrow-batched
    Pandas UDF: per-row numpy histogram in a map-only stage, because the
    relational formulation explodes every character of the corpus into a
    shuffle. The oracle DOES pay that explode (DuckDB entropy() over
    unnested chars) — both arrive at the same number, only one of them
    scales."""
    from ug_dwh_etl_spark.operators.textstats import char_entropy

    return char_entropy(table(spark, sf_dir, "documents"), "doc_id", "text")


# --- type-token ratio (lexical diversity) -------------------------------------
@register(
    "text_type_token_ratio",
    f"""
    WITH {_TOK_CTE}
    SELECT doc_id,
           CAST(len(t) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(t)) AS INTEGER) AS n_types,
           CASE WHEN len(t) > 0
                THEN ROUND(len(list_distinct(t)) / len(t)::DOUBLE, 6) END AS ttr
    FROM tok
    """,
)
def text_type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity gate: distinct-token share per document (spam
    and keyword stuffing score near 0). Pure codegen map stage —
    array_distinct runs on each row's own token array, no shuffle."""
    from ug_dwh_etl_spark.operators.textstats import type_token_ratio

    return type_token_ratio(table(spark, sf_dir, "documents"), "doc_id", "text")


# --- deterministic weighted corpus sample -------------------------------------
@register(
    "corpus_weighted_sample",
    f"""
    WITH counts AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
    tot AS (SELECT SUM(n_docs) AS total FROM counts),
    powed AS (
      SELECT lang, n_docs,
             power(n_docs::DOUBLE / t.total, {_MIX_ALPHA}) AS p_alpha
      FROM counts, tot t),
    z AS (SELECT SUM(p_alpha) AS z FROM powed),
    rates AS (
      SELECT p.lang, p.n_docs,
             LEAST(1.0, 2.0 * (p.p_alpha / z.z) * t.total / p.n_docs) AS rate
      FROM powed p, tot t, z),
    u AS (
      SELECT d.lang,
             ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
               / 4294967296.0 AS unif
      FROM documents d)
    SELECT r.lang,
           CAST(r.n_docs AS BIGINT) AS n_docs,
           ROUND(r.rate, 6) AS rate,
           CAST(SUM(CASE WHEN u.unif < r.rate THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sampled
    FROM u JOIN rates r USING (lang)
    GROUP BY r.lang, r.n_docs, r.rate
    """,
)
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the temperature-scaled language mixture as an actual
    corpus sample: per-language acceptance rate = target share / raw
    share (scaled to draw ~2x the balanced size, capped at 1), applied
    by deterministic hash thresholding — md5(doc_id) as a uniform [0,1)
    — so the 'random' sample is reproducible run-to-run, auditable, and
    engine-exact. The whole thing is a map-side filter against a 5-row
    broadcast rate table: the standard shape for mixing a 100 TB corpus
    without a shuffle."""
    docs = table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = counts.agg(F.sum("n_docs").alias("total"))
    powed = counts.crossJoin(F.broadcast(tot)).withColumn(
        "p_alpha", F.pow(F.col("n_docs").cast("double") / F.col("total"), _MIX_ALPHA)
    )
    z = powed.agg(F.sum("p_alpha").alias("z"))
    rates = powed.crossJoin(F.broadcast(z)).select(
        "lang",
        "n_docs",
        F.least(
            F.lit(1.0),
            2.0 * (F.col("p_alpha") / F.col("z")) * F.col("total") / F.col("n_docs"),
        ).alias("rate"),
    )
    unif = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        / F.lit(4294967296.0)
    )
    return (
        docs.select("lang", unif.alias("unif"))
        .join(F.broadcast(rates), "lang")
        .groupBy("lang", "n_docs", F.round("rate", 6).alias("rate"))
        .agg(F.sum((F.col("unif") < F.col("rate")).cast("long")).alias("n_sampled"))
    )


_BM25_PROBE = ("hash", "join", "vector", "stream", "scan")
_BM25_K1 = 1.2
_BM25_B = 0.75


# The probe-term postings (``tf``) with document lengths (``dl``) and
# corpus stats, and the BM25 score summed over a document's probe terms:
# shared by the top-docs and the nDCG oracles.
_BM25_POSTINGS_CTES = f"""terms AS (
      SELECT doc_id, term
      FROM (SELECT doc_id,
                   unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
            FROM documents)
      WHERE term <> ''
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM terms GROUP BY doc_id),
    stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
                     (SELECT AVG(dl) FROM dl) AS avgdl),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM terms
      WHERE term IN {_BM25_PROBE!r}
      GROUP BY doc_id, term
    )"""
_BM25_SCORE_SQL = f"""SUM(LN((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                 * tf * ({_BM25_K1} + 1.0)
                 / (tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl)))
               AS s"""


def _bm25_scores(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """``(scored, tf)``: each document's BM25 score ``s`` for the probe
    query, and the probe-term postings ``(doc_id, term, tf)`` it sums."""
    docs = table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term"),
    ).filter(F.col("term") != "")
    dl = terms.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    avgdl = dl.agg(F.avg("dl").alias("avgdl"))
    stats = n_docs.crossJoin(avgdl)
    probed = terms.filter(F.col("term").isin(*_BM25_PROBE))
    tf = probed.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df derives from tf (one row per doc-term already) — the exploded
    # terms relation is aggregated exactly twice (dl, tf), never a third
    # time for document frequency
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + _BM25_K1 * (
        1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * F.col("tf") * (_BM25_K1 + 1.0) / denom).alias("s"))
    )
    return scored, tf


@register(
    "text_bm25_topdocs",
    f"""
    WITH {_BM25_POSTINGS_CTES},
    df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms
      WHERE term IN {_BM25_PROBE!r}
      GROUP BY term
    ),
    scored AS (
      SELECT tf.doc_id,
             {_BM25_SCORE_SQL}
      FROM tf
      JOIN df USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
      GROUP BY tf.doc_id
    )
    SELECT doc_id, bm25, rnk FROM (
      SELECT doc_id, ROUND(s, 4) AS bm25,
             ROW_NUMBER() OVER (ORDER BY ROUND(s, 4) DESC, doc_id) AS rnk
      FROM scored)
    WHERE rnk <= 20
    """,
)
def text_bm25_topdocs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (k1=1.2, b=0.75) for a fixed probe query over the
    corpus, top 20 docs with a deterministic (rounded-score, doc_id)
    tiebreak. Scale shape: the probe-term filter lands BEFORE both
    groupBys, so the tf and df relations are proportional to the probe
    terms' postings, not the corpus; df (|probe| rows) and the 1-row
    N/avgdl aggregate join in as broadcasts; the only full-corpus passes
    are the tokenize + per-doc length count, which is the same single
    narrow aggregation every BM25 index build pays. No Python, no UDFs —
    the scoring expression is whole-stage-codegen arithmetic. The global
    top-20 goes through orderBy+limit (TakeOrderedAndProject — per-
    partition partial top-k, no all-rows single-partition window); the
    rank window then runs over only the 20 survivors."""
    scored, _ = _bm25_scores(spark, sf_dir)
    from pyspark.sql import Window

    top = (
        scored.select("doc_id", F.round("s", 4).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )
    w = Window.orderBy(F.col("bm25").desc(), "doc_id")
    return top.select("doc_id", "bm25", F.row_number().over(w).alias("rnk"))


_VOCAB_K = 32


@register(
    "text_encode_ids",
    f"""
    WITH tok AS (SELECT doc_id, {H.sql_tokens('text')} AS t FROM documents),
    terms AS (
      SELECT doc_id, i, t[i] AS term
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM tok)),
    vocab AS (
      SELECT term, id FROM (
        SELECT term, ROW_NUMBER() OVER (ORDER BY c DESC, term) AS id
        FROM (SELECT term, COUNT(*) AS c FROM terms GROUP BY term))
      WHERE id <= {_VOCAB_K}),
    enc AS (
      SELECT doc_id, i, COALESCE(v.id, 0) AS tid
      FROM terms LEFT JOIN vocab v USING (term))
    SELECT doc_id, COUNT(*) AS n_tokens,
           COUNT(CASE WHEN tid = 0 THEN 1 END) AS n_oov,
           md5(array_to_string(list(tid ORDER BY i), ',')) AS ids_md5
    FROM enc GROUP BY doc_id
    """,
)
def text_encode_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenize→encode step of a training pipeline: build a top-K
    frequency vocabulary (rank by count desc, term asc — deterministic),
    map every token to its id (OOV → 0) and fingerprint the per-doc id
    sequence. Plan: positional explode is narrow row expansion; the
    vocab relation is vocabulary-sized (its rank window runs on that
    tiny frame, not the corpus) and joins back as a BROADCAST, so the
    only corpus-wide shuffle is the per-doc regroup — same budget as
    any per-doc aggregate. The id sequence is reassembled
    deterministically by token position (array_sort on (pos, id)
    structs) so the md5 fingerprint is engine-exact."""
    from ug_dwh_etl_spark.operators.textstats import encode_token_ids

    return encode_token_ids(
        table(spark, sf_dir, "documents"), "doc_id", "text", _VOCAB_K
    )


@register(
    "text_bpe_merges",
    """
    WITH terms AS (
      SELECT term FROM (
        SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
        FROM documents)
      WHERE term <> ''),
    vocab AS (SELECT term, COUNT(*) AS n FROM terms GROUP BY term),
    pairs AS (
      SELECT substr(term, i, 2) AS pair, SUM(n) AS total
      FROM (SELECT term, n, unnest(generate_series(1, length(term) - 1)) AS i
            FROM vocab WHERE length(term) >= 2)
      GROUP BY pair)
    SELECT pair, CAST(total AS BIGINT) AS total, rnk FROM (
      SELECT pair, total,
             ROW_NUMBER() OVER (ORDER BY total DESC, pair) AS rnk
      FROM pairs)
    WHERE rnk <= 20
    """,
)
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first iteration of BPE tokenizer TRAINING: the corpus's most
    frequent adjacent character pairs, weighted by word frequency — the
    merge-candidate statistic each BPE round greedily takes the top of.
    Scale shape: the only corpus-wide pass is the word-frequency count
    (one partial-aggregated shuffle, same budget as tfidf); the pair
    explode and everything after run on the VOCABULARY relation, which
    is ~fixed-size no matter how many documents the corpus has — BPE
    training cost at 100 TB is the vocab build, not the merge loop."""
    from ug_dwh_etl_spark.operators.textstats import bpe_pair_stats

    return bpe_pair_stats(table(spark, sf_dir, "documents"), "text", 20)


@register(
    "sample_weighted_reservoir",
    """
    WITH keyed AS (
      SELECT doc_id, n_chars,
             -LN((('0x' || substr(md5(doc_id::VARCHAR || '|es'), 1, 8))::BIGINT + 0.5)
                 / 4294967296.0) / n_chars AS k
      FROM documents WHERE n_chars > 0)
    SELECT doc_id, n_chars, ROUND(k, 10) AS sort_key
    FROM keyed
    ORDER BY k, doc_id
    LIMIT 25
    """,
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis): each
    doc draws key = -ln(u)/w (u a deterministic hash uniform, w =
    n_chars) and the k smallest keys are the sample — inclusion
    probability proportional to weight, exactly-k, and single-pass. The
    distributed-systems classic for 'sample 10k docs by length from
    100 TB': the key is map-side arithmetic and the top-k is
    TakeOrderedAndProject (per-partition partial top-k, no global sort,
    no shuffle of the corpus). Deterministic-hash u makes the 'random'
    sample reproducible and engine-exact — same discipline as
    corpus_weighted_sample's Bernoulli thresholding, but exact-size."""
    docs = table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|es"))), 1, 8),
            16,
            10,
        ).cast("long")
        + 0.5
    ) / F.lit(4294967296.0)
    k = -F.log(u) / F.col("n_chars")
    return (
        docs.select("doc_id", "n_chars", k.alias("k"))
        .orderBy("k", "doc_id")
        .limit(25)
        .select("doc_id", "n_chars", F.round("k", 10).alias("sort_key"))
    )


@register(
    "text_bpe_apply_merge",
    """
    WITH terms AS (
      SELECT term FROM (
        SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
        FROM documents)
      WHERE term <> ''),
    vocab AS (SELECT term, COUNT(*) AS n FROM terms GROUP BY term),
    pairs1 AS (
      SELECT substr(term, i, 2) AS pair, SUM(n) AS total
      FROM (SELECT term, n, unnest(generate_series(1, length(term) - 1)) AS i
            FROM vocab WHERE length(term) >= 2)
      GROUP BY pair),
    best AS (
      SELECT pair FROM pairs1 ORDER BY total DESC, pair LIMIT 1),
    recoded AS (
      SELECT replace(term, (SELECT pair FROM best), chr(1)) AS sym, n
      FROM vocab),
    pairs2 AS (
      SELECT substr(sym, i, 2) AS rawpair, SUM(n) AS total
      FROM (SELECT sym, n, unnest(generate_series(1, length(sym) - 1)) AS i
            FROM recoded WHERE length(sym) >= 2)
      GROUP BY rawpair)
    SELECT replace(rawpair, chr(1), '<' || (SELECT pair FROM best) || '>') AS pair,
           CAST(total AS BIGINT) AS total, rnk
    FROM (SELECT rawpair, total,
                 ROW_NUMBER() OVER (ORDER BY total DESC, rawpair) AS rnk
          FROM pairs2)
    WHERE rnk <= 20
    """,
)
def text_bpe_apply_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE training LOOP made concrete: take iteration 1's winning
    pair (text_bpe_merges rank 1), APPLY the merge — every word re-codes
    that pair into a single symbol, exactly the greedy left-to-right
    non-overlapping replace both engines implement — and recount
    adjacent-symbol pairs for iteration 2 (merged symbol rendered as
    <xy> in the output). Everything after the word-frequency count runs
    on the VOCABULARY relation: the winning pair is a 1-row scalar
    broadcast, the recode a narrow map over vocab, so each BPE round at
    100 TB costs vocab-sized compute and zero corpus passes — the
    measured claim behind text_bpe_merges' 0.9x growth row now shown
    surviving an actual merge step."""
    docs = table(spark, sf_dir, "documents")
    terms = docs.select(
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term")
    ).filter(F.col("term") != "")
    vocab = terms.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    pairs1 = (
        vocab.filter(F.length("term") >= 2)
        .select(
            "n",
            F.explode(F.sequence(F.lit(1), F.length("term") - 1)).alias("i"),
            "term",
        )
        .select(F.expr("substring(term, i, 2)").alias("pair"), "n")
        .groupBy("pair")
        .agg(F.sum("n").alias("total"))
    )
    best = pairs1.orderBy(F.desc("total"), F.asc("pair")).limit(1).select("pair")
    recoded = vocab.crossJoin(F.broadcast(best)).select(
        F.expr("replace(term, pair, chr(1))").alias("sym"), "n"
    )
    pairs2 = (
        recoded.filter(F.length("sym") >= 2)
        .select(
            "n",
            F.explode(F.sequence(F.lit(1), F.length("sym") - 1)).alias("i"),
            "sym",
        )
        .select(F.expr("substring(sym, i, 2)").alias("rawpair"), "n")
        .groupBy("rawpair")
        .agg(F.sum("n").alias("total"))
    )
    from pyspark.sql import Window

    top = pairs2.orderBy(F.desc("total"), F.asc("rawpair")).limit(20)
    w = Window.orderBy(F.col("total").desc(), "rawpair")
    return (
        top.withColumn("rnk", F.row_number().over(w))
        .crossJoin(F.broadcast(best))
        .select(
            F.expr("replace(rawpair, chr(1), '<' || pair || '>')").alias("pair"),
            F.col("total").cast("long").alias("total"),
            "rnk",
        )
    )


@register(
    "text_hapax_ratio",
    f"""
    WITH {_TOK_CTE},
    grams AS (
      SELECT d.lang, unnest(t.t) AS w
      FROM tok t JOIN documents d USING (doc_id)),
    freq AS (SELECT lang, w, COUNT(*) AS f FROM grams GROUP BY lang, w)
    SELECT lang,
           CAST(SUM(f) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab_size,
           CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           ROUND(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) / COUNT(*)::DOUBLE, 6)
             AS hapax_ratio
    FROM freq GROUP BY lang
    """,
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomena share per language: the fraction of vocabulary
    types occurring exactly once — the corpus-health dial next to the
    Zipf slope (a natural corpus sits near ~0.4-0.6; far below means
    template/boilerplate text, far above means OCR noise or tokenizer
    breakage). One tokenize pass into a (lang, term) count, then a
    lang-keyed rollup of the vocabulary relation — corpus-sized work
    is the term count a dictionary build pays anyway."""
    docs = table(spark, sf_dir, "documents")
    grams = docs.select("lang", F.explode(H.tokens("text")).alias("w"))
    freq = grams.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("f"))
    hapax = F.sum((F.col("f") == 1).cast("long"))
    return freq.groupBy("lang").agg(
        F.sum("f").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab_size"),
        hapax.alias("n_hapax"),
        F.round(hapax / F.count(F.lit(1)), 6).alias("hapax_ratio"),
    )


@register(
    "text_js_divergence",
    f"""
    WITH {_TOK_CTE},
    grams AS (
      SELECT doc_id % 2 AS half, unnest(t) AS w FROM tok),
    counts AS (
      SELECT w,
             SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS c0,
             SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS c1
      FROM grams GROUP BY w),
    tot AS (SELECT SUM(c0) AS t0, SUM(c1) AS t1 FROM counts),
    contrib AS (
      SELECT w,
             c0 / t0::DOUBLE AS p, c1 / t1::DOUBLE AS q
      FROM counts CROSS JOIN tot)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
           ROUND(0.5 * SUM(
             CASE WHEN p > 0 THEN p * log2(2.0 * p / (p + q)) ELSE 0 END
             + CASE WHEN q > 0 THEN q * log2(2.0 * q / (p + q)) ELSE 0 END
           ), 6) AS jsd_bits
    FROM contrib
    """,
)
def text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence (bits) between the unigram
    distributions of the two corpus halves (doc_id parity as the
    deterministic split) — the standard TEXT-distribution drift gate
    next to dq_ks_doclength's length drift: 0 = identical vocabularies
    and frequencies, 1 = disjoint. One tokenize pass, one vocab-keyed
    count shuffle, totals as a 1-row broadcast; the JSD sum runs on the
    vocabulary relation, so drift monitoring at 100 TB costs the same
    as building a term dictionary. At production cadence the two sides
    are yesterday's persisted term counts vs today's batch counts —
    both mergeable relations, no corpus rescans."""
    docs = table(spark, sf_dir, "documents")
    grams = docs.select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(H.tokens("text")).alias("w"),
    )
    counts = grams.groupBy("w").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c1"),
    )
    tot = counts.agg(F.sum("c0").alias("t0"), F.sum("c1").alias("t1"))
    p = F.col("c0") / F.col("t0")
    q = F.col("c1") / F.col("t1")
    term = F.when(p > 0, p * F.log2(2.0 * p / (p + q))).otherwise(0.0) + F.when(
        q > 0, q * F.log2(2.0 * q / (p + q))
    ).otherwise(0.0)
    return (
        counts.crossJoin(F.broadcast(tot))
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.round(0.5 * F.sum(term), 6).alias("jsd_bits"),
        )
        .select(F.col("n_terms").cast("long").alias("n_terms"), "jsd_bits")
    )


@register(
    "corpus_curriculum_plan",
    f"""
    WITH {_TOK_CTE},
    m AS (
      SELECT doc_id, len(t) AS n_tokens,
             CASE WHEN len(t) > 0
                  THEN {{SF}} / len(t)::DOUBLE ELSE 0.0 END AS q
      FROM tok),
    cuts AS (
      SELECT quantile_cont(q, 1.0/3) AS q33, quantile_cont(q, 2.0/3) AS q66,
             quantile_cont(n_tokens, 1.0/3) AS l33,
             quantile_cont(n_tokens, 2.0/3) AS l66,
             SUM(n_tokens) AS all_tokens
      FROM m),
    banded AS (
      SELECT CASE WHEN q <= q33 THEN 'q1_low' WHEN q <= q66 THEN 'q2_mid'
                  ELSE 'q3_high' END AS quality_band,
             CASE WHEN n_tokens <= l33 THEN 'l1_short'
                  WHEN n_tokens <= l66 THEN 'l2_mid'
                  ELSE 'l3_long' END AS length_band,
             n_tokens, all_tokens
      FROM m CROSS JOIN cuts)
    SELECT quality_band, length_band,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(SUM(n_tokens) / MAX(all_tokens)::DOUBLE, 6) AS token_share
    FROM banded
    GROUP BY quality_band, length_band
    """.replace("{SF}", "len(list_filter(t, w -> len(w) >= 4))"),
)
def corpus_curriculum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum schedule grid: every doc scored on a cheap quality
    proxy (share of tokens ≥ 4 chars — content-word density) and its
    token length, cut into terciles on BOTH axes by exact global
    percentiles, yielding the ≤9-cell (quality × length) plan table
    with doc and token budgets per cell — the thing a curriculum or
    batch-mixing schedule is built from (start short/clean, end
    long/hard). Scale shape: one tokenize pass for the per-doc
    metrics, exact percentile cutpoints as a 1-row broadcast (the
    customer_rfm_segments pattern — no global ntile sort), then a
    9-key aggregation."""
    docs = table(spark, sf_dir, "documents")
    m = docs.select(
        "doc_id",
        F.size(H.tokens("text")).alias("n_tokens"),
        F.when(
            F.size(H.tokens("text")) > 0,
            F.size(F.filter(H.tokens("text"), lambda w: F.length(w) >= 4))
            / F.size(H.tokens("text")),
        )
        .otherwise(0.0)
        .alias("q"),
    )
    cuts = m.agg(
        F.expr("percentile(q, 1.0D/3)").alias("q33"),
        F.expr("percentile(q, 2.0D/3)").alias("q66"),
        F.expr("percentile(n_tokens, 1.0D/3)").alias("l33"),
        F.expr("percentile(n_tokens, 2.0D/3)").alias("l66"),
        F.sum("n_tokens").alias("all_tokens"),
    )
    qb = (
        F.when(F.col("q") <= F.col("q33"), "q1_low")
        .when(F.col("q") <= F.col("q66"), "q2_mid")
        .otherwise("q3_high")
    )
    lb = (
        F.when(F.col("n_tokens") <= F.col("l33"), "l1_short")
        .when(F.col("n_tokens") <= F.col("l66"), "l2_mid")
        .otherwise("l3_long")
    )
    return (
        m.crossJoin(F.broadcast(cuts))
        .select(qb.alias("quality_band"), lb.alias("length_band"), "n_tokens", "all_tokens")
        .groupBy("quality_band", "length_band")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.sum("n_tokens") / F.max("all_tokens"), 6).alias("token_share"),
        )
    )


def _code_switch_sql() -> str:
    from ug_dwh_etl_spark.operators.textstats import STOPWORDS, sql_stop_filter

    h = {lang: sql_stop_filter("ct", words) for lang, words in STOPWORDS.items()}
    return f"""
    WITH {_TOK_CTE},
    nz AS (SELECT doc_id, t, len(t) AS n FROM tok WHERE len(t) > 0),
    chunks AS (
      SELECT doc_id, list_slice(t, s, LEAST(s + 15, n)) AS ct
      FROM (SELECT doc_id, t, n, unnest(generate_series(1, n, 16)) AS s FROM nz)),
    pred AS (
      SELECT doc_id,
             CASE WHEN {h['en']} >= {h['de']} AND {h['en']} >= {h['fr']}
                   AND {h['en']} >= {h['es']} AND {h['en']} > 0 THEN 'en'
                  WHEN {h['de']} >= {h['fr']} AND {h['de']} >= {h['es']}
                   AND {h['de']} > 0 THEN 'de'
                  WHEN {h['fr']} >= {h['es']} AND {h['fr']} > 0 THEN 'fr'
                  WHEN {h['es']} > 0 THEN 'es'
                  ELSE 'und' END AS lang
      FROM chunks),
    per AS (SELECT doc_id, lang, COUNT(*) AS c FROM pred GROUP BY doc_id, lang),
    main AS (
      SELECT doc_id, lang AS main_lang FROM (
        SELECT doc_id, lang, ROW_NUMBER() OVER (
          PARTITION BY doc_id ORDER BY c DESC, lang) AS r
        FROM per) WHERE r = 1),
    agg AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_chunks,
             CAST(COUNT(DISTINCT CASE WHEN lang <> 'und' THEN lang END) AS BIGINT)
               AS n_langs
      FROM per GROUP BY doc_id)
    SELECT a.doc_id, n_chunks, n_langs, main_lang,
           n_langs >= 2 AS is_mixed
    FROM agg a JOIN main m ON m.doc_id = a.doc_id
    """


@register("text_code_switch", _code_switch_sql())
def text_code_switch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-switching audit: classify every 16-token window with the
    stopword-argmax language model (text_langid's classifier), then per
    doc report window count, distinct confident languages, the majority
    language (count desc, lang asc tie-break via min-of-struct argmax —
    no per-doc sort) and a mixed flag — the doc-level language-purity
    gate a multilingual corpus mix needs: whole-doc langid averages
    away a 50/50 bilingual page, per-window voting doesn't. One
    explode + two doc-keyed aggregations; the stopword hits are
    codegen'd array intersections, no UDFs."""
    from pyspark.sql import functions as FN

    from ug_dwh_etl_spark.operators.textstats import stopword_lang

    docs = table(spark, sf_dir, "documents")
    nz = docs.select("doc_id", H.tokens("text").alias("t")).filter(
        F.size("t") > 0
    )
    chunks = nz.select(
        "doc_id",
        F.explode(F.expr("sequence(1, size(t), 16)")).alias("s"),
        "t",
    ).select("doc_id", F.expr("slice(t, s, 16)").alias("ct"))
    per = (
        chunks.select("doc_id", stopword_lang("ct").alias("lang"))
        .groupBy("doc_id", "lang")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return per.groupBy("doc_id").agg(
        F.sum("c").alias("n_chunks"),
        FN.count_distinct(F.when(F.col("lang") != "und", F.col("lang"))).alias(
            "n_langs"
        ),
        F.min(F.struct((-F.col("c")).alias("nc"), F.col("lang").alias("lang")))[
            "lang"
        ].alias("main_lang"),
        (
            FN.count_distinct(F.when(F.col("lang") != "und", F.col("lang"))) >= 2
        ).alias("is_mixed"),
    )


@register(
    "text_cdc_chunks",
    f"""
    WITH tok AS (SELECT doc_id, {H.sql_tokens('text')} AS t FROM documents),
    pos AS (
      SELECT doc_id, i AS p, t[i] AS tok
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
            FROM tok WHERE len(t) > 0)),
    bnd AS (
      SELECT doc_id, p, tok,
             CASE WHEN {H.sql_md5_long('tok', 15)} % 8 = 0 THEN 1 ELSE 0 END AS b
      FROM pos),
    cid AS (
      SELECT doc_id, p, tok,
             1 + COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY p
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
      FROM bnd),
    chunks AS (
      SELECT doc_id, chunk_id, COUNT(*) AS n_tokens,
             md5(string_agg(tok, ' ' ORDER BY p)) AS fp
      FROM cid GROUP BY doc_id, chunk_id),
    occ AS (SELECT fp, COUNT(*) AS occ FROM chunks GROUP BY fp)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
           ROUND(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) / COUNT(*)::DOUBLE, 6)
             AS dup_chunk_ratio
    FROM chunks JOIN occ USING (fp)
    GROUP BY doc_id
    """,
)
def text_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-DEFINED chunking + duplicate-chunk audit: a chunk
    boundary falls after any token whose content hash ≡ 0 (mod 8), so
    expected chunk length is 8 tokens but boundaries RE-SYNC after
    insertions/deletions — the property fixed-size windows
    (text_chunk_docs) and fixed spans (text_duplicate_spans) lack: an
    edit near a doc's head shifts every fixed window but only the one
    CDC chunk containing it. Per doc: chunk count and the fraction of
    its chunks appearing verbatim elsewhere in the corpus (grouped by
    chunk fingerprint). Scale shape: one posexplode pass, boundary flag
    is map-side hash arithmetic, chunk assembly is one (doc, chunk)
    aggregation, and the cross-doc occ count shuffles fingerprints
    (longs+md5), never text."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(H.tokens("text")).alias("p", "tok")
    )
    b = (H.content_hash_long("tok", 15) % 8 == 0).cast("long")
    w = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cid = toks.select(
        "doc_id",
        "p",
        "tok",
        (F.lit(1) + F.coalesce(F.sum(b).over(w), F.lit(0))).alias("chunk_id"),
    )
    chunks = cid.groupBy("doc_id", "chunk_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.md5(
            F.expr(
                "concat_ws(' ', transform(array_sort(collect_list(struct(p, tok))),"
                " s -> s.tok))"
            )
        ).alias("fp"),
    )
    occ = chunks.groupBy("fp").agg(F.count(F.lit(1)).alias("occ"))
    dup = (F.col("occ") > 1).cast("long")
    return (
        chunks.join(occ, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(dup).alias("n_dup_chunks"),
            F.round(F.sum(dup) / F.count(F.lit(1)), 6).alias("dup_chunk_ratio"),
        )
    )


@register(
    "text_ndcg_bm25",
    f"""
    WITH {_BM25_POSTINGS_CTES},
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms
           WHERE term IN {_BM25_PROBE!r} GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             {_BM25_SCORE_SQL}
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
      GROUP BY tf.doc_id),
    rel AS (SELECT doc_id, COUNT(*) AS rel FROM tf GROUP BY doc_id),
    ranked AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY ROUND(s, 4) DESC, doc_id) AS rnk
      FROM scored),
    dcg AS (
      SELECT SUM((POWER(2, rel) - 1.0) / LOG2(rnk + 1.0)) AS dcg
      FROM ranked JOIN rel USING (doc_id) WHERE rnk <= 10),
    ideal AS (
      SELECT rel, ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS irnk
      FROM rel),
    idcg AS (
      SELECT SUM((POWER(2, rel) - 1.0) / LOG2(irnk + 1.0)) AS idcg
      FROM ideal WHERE irnk <= 10)
    SELECT 10 AS k, ROUND(dcg, 6) AS dcg, ROUND(idcg, 6) AS idcg,
           ROUND(dcg / idcg, 6) AS ndcg
    FROM dcg CROSS JOIN idcg
    """,
)
def text_ndcg_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality audit: nDCG@10 of the BM25 ranking against a
    graded relevance label (distinct probe terms present, 0-5) derived
    independently of the score — the eval every retrieval/RAG corpus
    pipeline runs before trusting a ranker. Gains are (2^rel − 1) with
    the standard log2(rank+1) discount; the ideal ordering shares the
    deterministic (rel desc, doc_id) tie-break. Scale shape inherits
    text_bm25_topdocs: probe-filtered postings, broadcast df/stats, two
    TakeOrderedAndProject top-10s, and the DCG sums run over ≤10-row
    relations — eval cost is index-build cost, not corpus-squared."""
    from pyspark.sql import Window

    scored, tf = _bm25_scores(spark, sf_dir)
    rel = tf.groupBy("doc_id").agg(F.count(F.lit(1)).alias("rel"))
    top = (
        scored.select("doc_id", F.round("s", 4).alias("r4"))
        .orderBy(F.desc("r4"), F.asc("doc_id"))
        .limit(10)
        .withColumn(
            "rnk", F.row_number().over(Window.orderBy(F.desc("r4"), F.asc("doc_id")))
        )
    )
    gain = (F.pow(F.lit(2.0), F.col("rel")) - 1.0) / F.log2(F.col("rnk") + 1.0)
    dcg = top.join(rel, "doc_id").agg(F.sum(gain).alias("dcg"))
    itop = (
        rel.orderBy(F.desc("rel"), F.asc("doc_id"))
        .limit(10)
        .withColumn(
            "irnk", F.row_number().over(Window.orderBy(F.desc("rel"), F.asc("doc_id")))
        )
    )
    igain = (F.pow(F.lit(2.0), F.col("rel")) - 1.0) / F.log2(F.col("irnk") + 1.0)
    idcg = itop.agg(F.sum(igain).alias("idcg"))
    return dcg.crossJoin(idcg).select(
        F.lit(10).alias("k"),
        F.round("dcg", 6).alias("dcg"),
        F.round("idcg", 6).alias("idcg"),
        F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg"),
    )


def _bpe_train_rounds_sql(n_rounds: int = 3) -> str:
    """Sequential-CTE oracle for the N-round BPE trainer: v0 → (p1, b1,
    v1) → (p2, b2, v2) → … mirrors the Spark loop exactly, including the
    greedy left-to-right replace() recode and the <parent> rendering."""
    ctes = [
        """terms AS (
      SELECT term FROM (
        SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
        FROM documents)
      WHERE term <> '')""",
        "v0 AS (SELECT term AS sym, COUNT(*) AS n FROM terms GROUP BY term)",
    ]
    selects = []
    for r in range(1, n_rounds + 1):
        ctes.append(
            f"""p{r} AS (
      SELECT substr(sym, i, 2) AS pair, SUM(n) AS total
      FROM (SELECT sym, n, unnest(generate_series(1, length(sym) - 1)) AS i
            FROM v{r - 1} WHERE length(sym) >= 2)
      GROUP BY pair)"""
        )
        ctes.append(
            f"b{r} AS (SELECT pair, CAST(total AS BIGINT) AS total "
            f"FROM p{r} ORDER BY total DESC, pair LIMIT 1)"
        )
        ctes.append(
            f"v{r} AS (SELECT replace(sym, (SELECT pair FROM b{r}), chr({r})) "
            f"AS sym, n FROM v{r - 1})"
        )
        rendered = "pair"
        for prev in range(r - 1, 0, -1):
            rendered = (
                f"replace({rendered}, chr({prev}), "
                f"'<' || (SELECT pair FROM b{prev}) || '>')"
            )
        selects.append(
            f"SELECT {r} AS round, {rendered} AS pair, total FROM b{r}"
        )
    return (
        "WITH " + ",\n    ".join(ctes) + "\n    " + "\n    UNION ALL\n    ".join(selects)
    )


@register("text_bpe_train_rounds", _bpe_train_rounds_sql(3))
def text_bpe_train_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training run to 3 merges — the loop the single-round
    text_bpe_merges / text_bpe_apply_merge queries imply, landed as one
    operator (operators/textstats.py bpe_train_rounds). The corpus is
    scanned once for word frequencies; every merge round is
    vocabulary-bound (pair recount + 1-row greedy winner + broadcast
    recode) with a per-round lineage cut, so training cost at 100 TB is
    the vocab build, and rounds are O(vocab) each no matter the corpus
    size. Output is the merge table itself: (round, pair, total) with
    earlier merges rendered inline as <parent-pair>."""
    from ug_dwh_etl_spark.operators.textstats import bpe_train_rounds

    return bpe_train_rounds(table(spark, sf_dir, "documents"), "text", 3)


@register(
    "text_zipf_slope",
    f"""
    WITH tok AS (SELECT doc_id, {H.sql_tokens('text')} AS t FROM documents),
    grams AS (SELECT unnest(t) AS w FROM tok),
    freq AS (SELECT w, COUNT(*) AS f FROM grams GROUP BY w),
    ranked AS (SELECT w, f, ROW_NUMBER() OVER (ORDER BY f DESC, w) AS r FROM freq)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
           ROUND(regr_slope(ln(f), ln(r)), 4) AS zipf_slope,
           ROUND(regr_r2(ln(f), ln(r)), 4) AS r2
    FROM ranked WHERE r <= 1000
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit over the corpus vocabulary: slope and R²
    of ln(freq) ~ ln(rank) on the top-1000 types — the one-number
    naturalness screen for a training corpus (natural text slopes near
    -1; template/machine-generated corpora flatten or step). The
    corpus-sized work is the token explode + frequency aggregate (one
    map-side-combined shuffle); the top-1000 head comes off a
    TakeOrderedAndProject (per-partition heaps, no global sort), and
    ONLY those 1000 rows pass through the rank window — restricting to
    the top-N first loses nothing because ranks 1..1000 are the same
    rows either way, and regr_* reduce the head to one row. Slope/R²
    rounded to 4: the regr moment sums accumulate float error in
    engine-specific partial-agg order."""
    docs = table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(H.tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    from pyspark.sql import Window

    top = freq.orderBy(F.desc("f"), F.asc("w")).limit(1000)
    ranked = top.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("f"), F.asc("w")))
    )
    lf, lr = F.log(F.col("f").cast("double")), F.log(F.col("r").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.round(F.regr_slope(lf, lr), 4).alias("zipf_slope"),
        F.round(F.regr_r2(lf, lr), 4).alias("r2"),
    )


# --- RAKE keyword extraction ----------------------------------------------------
_RAKE_STOP = (
    "the", "a", "an", "of", "and", "in", "to", "is", "on", "for", "with",
    "as", "by", "at", "it", "this", "that", "are", "was", "be", "or", "from",
)
_RAKE_TOPK = 30


def _rake_oracle() -> str:
    stop = ", ".join(f"'{w}'" for w in _RAKE_STOP)
    return f"""
    WITH tok AS (SELECT doc_id, {H.sql_tokens('text')} AS t FROM documents),
    pos AS (SELECT doc_id, CAST(i AS BIGINT) AS p, t[i] AS w
            FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
                  FROM tok)),
    ns AS (SELECT doc_id, p, w,
                  p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS rid
           FROM pos WHERE w NOT IN ({stop})),
    plen AS (SELECT doc_id, rid, COUNT(*) AS pl FROM ns GROUP BY doc_id, rid),
    phr AS (SELECT doc_id, rid, string_agg(w, ' ' ORDER BY p) AS phrase
            FROM ns GROUP BY doc_id, rid),
    ws AS (SELECT w, COUNT(*) AS freq, SUM(pl) AS deg
           FROM ns JOIN plen USING (doc_id, rid) GROUP BY w),
    pdist AS (SELECT phrase, COUNT(*) AS n_inst FROM phr GROUP BY phrase),
    pw AS (SELECT phrase, unnest(string_split(phrase, ' ')) AS w FROM pdist),
    scored AS (SELECT phrase, SUM(deg * 1.0 / freq) AS score
               FROM pw JOIN ws USING (w) GROUP BY phrase)
    SELECT s.phrase, CAST(len(string_split(s.phrase, ' ')) AS INT) AS n_words,
           CAST(d.n_inst AS BIGINT) AS n_inst, ROUND(s.score, 4) AS score
    FROM scored s JOIN pdist d USING (phrase)
    ORDER BY ROUND(s.score, 4) DESC, s.phrase LIMIT {_RAKE_TOPK}
    """


@register("text_rake_keywords", _rake_oracle())
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction over the corpus (Rose et al. 2010):
    candidate phrases are maximal stopword-free token runs
    (gaps-and-islands on token positions: run id = pos - row_number,
    windows PARTITIONED PER DOC — parallel, bounded frames); each
    word's degree = Σ length of phrases containing it, freq = its
    occurrence count; phrase score = Σ degree/freq over its words.
    Top-{K} phrases corpus-wide, deduplicated by TEXT with scores
    recomputed from the split phrase (never averaged across instance
    rows, which would compare float sums in engine-dependent order).
    Scale: every stage is a hash aggregate on (doc,run)- or word-sized
    relations; the only global ordering is the final top-{K} over the
    distinct-phrase relation (vocab-scale, TakeOrdered). The ranking
    key is the ROUNDED score with a phrase-text tiebreak so both
    engines cut the same top set.""".replace("{K}", str(_RAKE_TOPK))
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id", F.posexplode(H.tokens("text")).alias("p0", "w")
    ).select("doc_id", (F.col("p0") + 1).cast("long").alias("p"), "w")
    ns = pos.filter(~F.col("w").isin(*_RAKE_STOP)).withColumn(
        "rid",
        F.col("p")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("p")),
    )
    plen = ns.groupBy("doc_id", "rid").agg(F.count(F.lit(1)).alias("pl"))
    phr = ns.groupBy("doc_id", "rid").agg(
        F.array_join(
            F.expr("transform(array_sort(collect_list(struct(p, w))), s -> s.w)"),
            " ",
        ).alias("phrase")
    )
    ws = (
        ns.join(plen, ["doc_id", "rid"])
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"), F.sum("pl").alias("deg"))
    )
    pdist = phr.groupBy("phrase").agg(F.count(F.lit(1)).alias("n_inst"))
    pw = pdist.select("phrase", F.explode(F.split("phrase", " ")).alias("w"))
    scored = (
        pw.join(ws, "w")
        .groupBy("phrase")
        .agg(F.sum(F.col("deg") * 1.0 / F.col("freq")).alias("score"))
    )
    return (
        scored.join(pdist, "phrase")
        .select(
            "phrase",
            F.size(F.split("phrase", " ")).cast("int").alias("n_words"),
            F.col("n_inst").cast("long").alias("n_inst"),
            F.round("score", 4).alias("score"),
        )
        .orderBy(F.desc(F.round(F.col("score"), 4)), F.asc("phrase"))
        .limit(_RAKE_TOPK)
    )


# --- inverted-index postings compression estimate -------------------------------
@register(
    "text_postings_compression",
    f"""
    WITH tok AS (SELECT doc_id, {H.sql_tokens('text')} AS t FROM documents),
    postings AS (
      SELECT DISTINCT doc_id, w
      FROM (SELECT doc_id, unnest(t) AS w FROM tok)),
    g AS (SELECT w, doc_id,
                 doc_id - LAG(doc_id) OVER (PARTITION BY w ORDER BY doc_id) AS gap
          FROM postings),
    b AS (SELECT w,
                 CASE WHEN gap IS NULL THEN 8
                      WHEN gap < 128 THEN 1
                      WHEN gap < 16384 THEN 2
                      WHEN gap < 2097152 THEN 3
                      WHEN gap < 268435456 THEN 4
                      ELSE 5 END AS nbytes
          FROM g),
    st AS (SELECT w, COUNT(*) AS df, SUM(nbytes) AS delta_bytes FROM b GROUP BY w)
    SELECT w AS term, CAST(df AS BIGINT) AS df,
           CAST(delta_bytes AS BIGINT) AS delta_bytes,
           CAST(df * 8 AS BIGINT) AS raw_bytes,
           ROUND(df * 8.0 / delta_bytes, 4) AS compression_ratio
    FROM st ORDER BY df DESC, term LIMIT 50
    """,
)
def text_postings_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index sizing: per-term posting lists (distinct sorted
    doc ids), delta-encoded with varint gap widths (integer CASE
    ladder at the 2^7k boundaries — no float log2, whose exactness at
    powers of two is engine-undefined), vs raw 8-byte ids. The
    index-layout estimate behind BM25/TF-IDF retrieval at corpus
    scale: delta+varint is why a 100 TB corpus's index fits in a
    fraction of the corpus. Gap windows are PARTITIONED BY TERM —
    parallel, posting-list-sized frames; the only global order is the
    final top-50-by-df over the vocabulary relation."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    postings = docs.select(
        "doc_id", F.explode(H.tokens("text")).alias("w")
    ).distinct()
    g = postings.withColumn(
        "gap",
        F.col("doc_id")
        - F.lag("doc_id").over(Window.partitionBy("w").orderBy("doc_id")),
    )
    nb = (
        F.when(F.col("gap").isNull(), 8)
        .when(F.col("gap") < 128, 1)
        .when(F.col("gap") < 16384, 2)
        .when(F.col("gap") < 2097152, 3)
        .when(F.col("gap") < 268435456, 4)
        .otherwise(5)
    )
    st = g.select("w", nb.alias("nbytes")).groupBy("w").agg(
        F.count(F.lit(1)).alias("df"), F.sum("nbytes").alias("delta_bytes")
    )
    return (
        st.select(
            F.col("w").alias("term"),
            F.col("df").cast("long").alias("df"),
            F.col("delta_bytes").cast("long").alias("delta_bytes"),
            (F.col("df") * 8).cast("long").alias("raw_bytes"),
            F.round(F.col("df") * 8.0 / F.col("delta_bytes"), 4).alias(
                "compression_ratio"
            ),
        )
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(50)
    )


# --- deterministic negative sampling for contrastive training -------------------
_NEG_PER_ANCHOR = 4


@register(
    "corpus_negative_samples",
    f"""
    WITH nn AS (SELECT COUNT(*) AS n FROM documents),
    fp AS (SELECT doc_id, md5(text) AS fp FROM documents),
    anchors AS (SELECT doc_id AS anchor_id, fp AS afp FROM fp
                WHERE doc_id % 20 = 0),
    cand AS (
      SELECT anchor_id, afp, j,
             ('0x' || substr(md5(anchor_id::VARCHAR || '|' || j::VARCHAR
                                 || '|neg'), 1, 15))::BIGINT % n AS neg_id
      FROM anchors, (SELECT unnest(range(0, {_NEG_PER_ANCHOR})) AS j), nn)
    SELECT anchor_id, CAST(j AS INT) AS j, neg_id
    FROM cand JOIN fp ON fp.doc_id = cand.neg_id
    WHERE neg_id != anchor_id AND fp.fp != afp
    """,
)
def corpus_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive/embedding
    training: every 20th doc is an anchor; each anchor draws
    {_N} pseudo-random negatives via md5(anchor|j) mod corpus-size
    (seeded, reproducible — the property a training pipeline needs for
    resumable shuffles), then drops self-pairs and EXACT-DUP false
    negatives by content-fingerprint inequality (the top source of
    contrastive-label noise: sampling a duplicate of the anchor as its
    'negative'). The fingerprint join doubles as existence filtering.
    At 100 TB: anchors and candidates are hash-derived (no global
    sort/shuffle to pick them), the fingerprint relation is one
    codegen'd scan, and the join keys on neg_id — one shuffle
    proportional to anchors x k, not corpus².""".replace(
        "{_N}", str(_NEG_PER_ANCHOR)
    )
    docs = table(spark, sf_dir, "documents")
    nn = docs.agg(F.count(F.lit(1)).alias("n"))
    fp = docs.select("doc_id", F.md5("text").alias("fp"))
    anchors = fp.filter(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("anchor_id"), F.col("fp").alias("afp")
    )
    js = F.explode(F.sequence(F.lit(0), F.lit(_NEG_PER_ANCHOR - 1))).alias("j")
    cand = (
        anchors.select("anchor_id", "afp", js)
        .crossJoin(F.broadcast(nn))
        .select(
            "anchor_id",
            "afp",
            "j",
            (
                H.md5_long(
                    F.concat_ws(
                        "|", F.col("anchor_id").cast("string"),
                        F.col("j").cast("string"), F.lit("neg"),
                    )
                )
                % F.col("n")
            ).alias("neg_id"),
        )
    )
    return (
        cand.join(fp, cand.neg_id == fp.doc_id)
        .filter((F.col("neg_id") != F.col("anchor_id")) & (F.col("fp") != F.col("afp")))
        .select("anchor_id", F.col("j").cast("int").alias("j"), "neg_id")
    )


# --- tokenizer fertility by language -------------------------------------------
@register(
    "text_fertility_by_lang",
    f"""
    WITH tok AS (SELECT doc_id, lang, length(text) AS n_chars,
                        len({H.sql_tokens('text')}) AS n_words
                 FROM documents)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           ROUND(SUM(n_chars) * 1.0 / SUM(n_words), 4) AS chars_per_word,
           ROUND(SUM(n_words) * 1.0 / COUNT(*), 4) AS words_per_doc
    FROM tok GROUP BY lang
    """,
)
def text_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility profile per language: characters per word
    and words per document — the per-language budget numbers a
    multilingual tokenizer/mixture design starts from (a language with
    high chars/word inflates byte-level token counts; a corpus whose
    words/doc collapses for one language signals a segmentation bug).
    Integer sums, exact; one map-side-combined aggregate over the
    tokenize scan — the cheapest always-on per-language monitor."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "lang",
        F.length("text").alias("n_chars"),
        F.size(H.tokens("text")).alias("n_words"),
    )
    return tok.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.round(F.sum("n_chars") * 1.0 / F.sum("n_words"), 4).alias(
            "chars_per_word"
        ),
        F.round(F.sum("n_words") * 1.0 / F.count(F.lit(1)), 4).alias(
            "words_per_doc"
        ),
    )


# --- char-bigram LM quality scoring (perplexity-proxy filter) -------------------
@register(
    "text_lm_quality_score",
    """
    WITH lt AS (SELECT doc_id, lower(text) AS t FROM documents
                WHERE length(text) >= 2),
    a_bg AS (
      SELECT substr(t, i, 1) AS c1, substr(t, i, 2) AS bg
      FROM (SELECT t, unnest(generate_series(1, length(t) - 1)) AS i
            FROM lt WHERE doc_id % 2 = 0)),
    model AS (SELECT bg, COUNT(*) AS cnt FROM a_bg GROUP BY bg),
    ctx AS (SELECT c1, COUNT(*) AS tot FROM a_bg GROUP BY c1),
    vv AS (SELECT COUNT(*) * 1.0 AS v FROM model),
    b_bg AS (
      SELECT doc_id, substr(t, i, 1) AS c1, substr(t, i, 2) AS bg
      FROM (SELECT doc_id, t, unnest(generate_series(1, length(t) - 1)) AS i
            FROM lt WHERE doc_id % 2 = 1)),
    scored AS (
      SELECT b.doc_id,
             ln(CASE WHEN ctx.tot IS NULL THEN 1.0 / v
                     ELSE (COALESCE(model.cnt, 0) + 1.0) / (ctx.tot + v) END)
               AS lp
      FROM b_bg b
        LEFT JOIN model ON model.bg = b.bg
        LEFT JOIN ctx ON ctx.c1 = b.c1
        CROSS JOIN vv),
    per_doc AS (SELECT doc_id, AVG(lp) AS score FROM scored GROUP BY doc_id)
    SELECT CAST(FLOOR(score * 10) AS INT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(score), 4) AS avg_logprob
    FROM per_doc GROUP BY bin
    """,
)
def text_lm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality scoring — the perplexity-proxy filter
    every LLM corpus pipeline runs (CCNet/Gopher-style: score each doc
    under a cheap LM trained on trusted text; drop the tail): a
    char-bigram add-one model is FIT on the even-doc half (counts →
    probabilities, vocabulary-sized) and SCORES the odd-doc half as
    mean ln P(c_i|c_{i-1}), reported as a 0.1-nat-bin histogram.
    Scale shape: the model is bigram-vocab-sized (≲ alphabet², BROADCAST
    joins onto the scoring scan), the per-position explode is linear,
    and the histogram uses FIXED-width bins — an ntile over per-doc
    scores would funnel the corpus through one window partition, the
    shape this query exists to avoid. In production the trusted half
    is Wikipedia-grade text and the model a KenLM; the dataflow —
    fit on half, broadcast, score, bin — is exactly this."""
    docs = table(spark, sf_dir, "documents").filter(F.length("text") >= 2)
    lt = docs.select("doc_id", F.lower("text").alias("t"))

    def bigrams(df: DataFrame, with_doc: bool) -> DataFrame:
        cols = ["doc_id"] if with_doc else []
        return df.select(
            *cols,
            F.explode(F.sequence(F.lit(1), F.length("t") - 1)).alias("i"),
            F.col("t"),
        ).select(
            *cols,
            F.expr("substr(t, i, 1)").alias("c1"),
            F.expr("substr(t, i, 2)").alias("bg"),
        )

    a_bg = bigrams(lt.filter(F.col("doc_id") % 2 == 0), with_doc=False)
    # One fit pass, not three: ctx and vv are pure arithmetic over the
    # bigram model (every bigram's first char IS its context — i never
    # exceeds length-1, so bg is always 2 chars — hence tot(c1) =
    # Σ cnt(bg) over bg starting with c1, and v = |model|). r11 shipped
    # three independent broadcast subtrees, each re-running the
    # per-position explode over the training half; the checkpoint makes
    # the model the only explode pass on that half (guide §2.4).
    model = (
        a_bg.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    ctx = model.groupBy(F.substring("bg", 1, 1).alias("c1")).agg(
        F.sum("cnt").alias("tot")
    )
    vv = model.agg((F.count(F.lit(1)) * 1.0).alias("v"))
    b_bg = bigrams(lt.filter(F.col("doc_id") % 2 == 1), with_doc=True)
    lp = F.log(
        F.when(F.col("tot").isNull(), 1.0 / F.col("v")).otherwise(
            (F.coalesce(F.col("cnt"), F.lit(0)) + 1.0) / (F.col("tot") + F.col("v"))
        )
    )
    per_doc = (
        b_bg.join(F.broadcast(model), "bg", "left")
        .join(F.broadcast(ctx), "c1", "left")
        .crossJoin(F.broadcast(vv))
        .groupBy("doc_id")
        .agg(F.avg(lp).alias("score"))
    )
    return per_doc.groupBy(
        F.floor(F.col("score") * 10).cast("int").alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("score"), 4).alias("avg_logprob"),
    )


# --- Flesch readability scoring --------------------------------------------------
@register(
    "text_readability",
    f"""
    WITH {_TOK_CTE},
    m AS (
      SELECT doc_id,
             len(t) AS n_words,
             GREATEST(length(regexp_replace(text, '[^.!?]', '', 'g')), 1) AS n_sents,
             GREATEST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')), len(t))
               AS n_syllables
      FROM tok WHERE len(t) > 0)
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           CAST(n_syllables AS BIGINT) AS n_syllables,
           ROUND(206.835 - 1.015 * (n_words * 1.0 / n_sents)
                         - 84.6 * (n_syllables * 1.0 / n_words), 4) AS flesch,
           CASE WHEN ROUND(206.835 - 1.015 * (n_words * 1.0 / n_sents)
                         - 84.6 * (n_syllables * 1.0 / n_words), 4) >= 60
                THEN 'easy'
                WHEN ROUND(206.835 - 1.015 * (n_words * 1.0 / n_sents)
                         - 84.6 * (n_syllables * 1.0 / n_words), 4) >= 30
                THEN 'difficult' ELSE 'very_difficult' END AS band
    FROM m
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document — the classic readability prior
    used as a corpus-quality signal next to the C4/Gopher rules
    (text_quality_scores): score = 206.835 − 1.015·(words/sentences) −
    84.6·(syllables/word). Syllables use the standard vowel-group
    heuristic (runs of [aeiouy], at least one per word) and sentences
    count terminal punctuation (min 1) — both pure codegen'd regexes,
    identical in each engine, so the whole thing is one narrow
    projection over the scan: zero joins, zero shuffles, embarrassingly
    parallel at 100 TB. Banding compares the ROUNDED score so the label
    boundary is decided on the same 4dp grid in both engines."""
    docs = table(spark, sf_dir, "documents")
    toks = H.tokens(F.col("text"))
    n_words = F.size(toks)
    n_sents = F.greatest(
        F.length(F.regexp_replace(F.col("text"), r"[^.!?]", "")), F.lit(1)
    )
    n_syll = F.greatest(
        F.regexp_count(F.col("text"), F.lit("[aeiouyAEIOUY]+")), n_words
    )
    flesch = F.round(
        F.lit(206.835)
        - 1.015 * (n_words * F.lit(1.0) / n_sents)
        - 84.6 * (n_syll * F.lit(1.0) / n_words),
        4,
    )
    return docs.filter(n_words > 0).select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_syll.cast("long").alias("n_syllables"),
        flesch.alias("flesch"),
        F.when(flesch >= 60, "easy")
        .when(flesch >= 30, "difficult")
        .otherwise("very_difficult")
        .alias("band"),
    )


# --- deterministic global shuffle + shard assignment ----------------------------
_SHUFFLE_SHARDS = 8
_SHUFFLE_SALT = "|shuffle"


@register(
    "corpus_global_shuffle",
    f"""
    WITH keyed AS (
      SELECT doc_id,
             {H.sql_md5_long("doc_id::VARCHAR || '" + _SHUFFLE_SALT + "'", 15)} AS skey
      FROM documents)
    SELECT doc_id, CAST(skey % {_SHUFFLE_SHARDS} AS INT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY skey % {_SHUFFLE_SHARDS}
                                   ORDER BY skey, doc_id) AS BIGINT) AS pos
    FROM keyed
    """,
)
def corpus_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pseudo-random GLOBAL SHUFFLE for training-data
    ordering: every document gets a salted 60-bit hash key, a shard
    (key mod {_S}), and a position within its shard (hash order,
    doc_id tiebreak) — rerunning yields the identical order, and
    changing the salt yields an independent permutation (epoch
    reshuffles). This is how you shuffle a 100 TB corpus without a
    global single-reducer sort: the window is PARTITIONED by shard, so
    each shard sorts independently (hash keys are uniform → shards are
    balanced), and a training reader streams shard files in shard-id
    order while sampling across shards. One narrow projection + one
    per-shard sort; at cluster scale write with
    repartitionByRange(shard, skey) + sortWithinPartitions so the sort
    folds into the shuffle's spill machinery.""".replace(
        "{_S}", str(_SHUFFLE_SHARDS)
    )
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        H.md5_long(
            F.concat(F.col("doc_id").cast("string"), F.lit(_SHUFFLE_SALT))
        ).alias("skey"),
    )
    shard = (F.col("skey") % _SHUFFLE_SHARDS).cast("int")
    w = Window.partitionBy(shard).orderBy("skey", "doc_id")
    return keyed.select(
        "doc_id",
        shard.alias("shard"),
        F.row_number().over(w).cast("long").alias("pos"),
    )


# --- language-ID confusion matrix ------------------------------------------------
def _langid_confusion_sql() -> str:
    h = {lang: sql_stop_filter("t", words) for lang, words in STOPWORDS.items()}
    return f"""
    WITH {_TOK_CTE},
    pred AS (
      SELECT tok.doc_id, d.lang AS true_lang,
             CASE WHEN {h['en']} >= {h['de']} AND {h['en']} >= {h['fr']}
                   AND {h['en']} >= {h['es']} AND {h['en']} > 0 THEN 'en'
                  WHEN {h['de']} >= {h['fr']} AND {h['de']} >= {h['es']}
                   AND {h['de']} > 0 THEN 'de'
                  WHEN {h['fr']} >= {h['es']} AND {h['fr']} > 0 THEN 'fr'
                  WHEN {h['es']} > 0 THEN 'es'
                  ELSE 'und' END AS predicted_lang
      FROM tok JOIN documents d ON d.doc_id = tok.doc_id),
    totals AS (SELECT true_lang, COUNT(*) AS tot FROM pred GROUP BY true_lang)
    SELECT p.true_lang, p.predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(COUNT(*) * 1.0 / t.tot, 6) AS share_of_true
    FROM pred p JOIN totals t ON t.true_lang = p.true_lang
    GROUP BY p.true_lang, p.predicted_lang, t.tot
    """


@register("text_langid_confusion", _langid_confusion_sql())
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword-argmax language classifier
    against the corpus's labeled lang column — per (true, predicted)
    cell count and its share of the true language's documents (the
    per-language recall sits on the diagonal). This is the audit that
    decides whether the cheap classifier is good enough to GATE a
    100 TB corpus mix (corpus_mixture_weights consumes its output):
    one codegen'd projection + two group-sized aggregations, scan-bound
    at any scale."""
    docs = table(spark, sf_dir, "documents")
    pred = langid(docs, "doc_id", "text").join(
        docs.select("doc_id", F.col("lang").alias("true_lang")), "doc_id"
    )
    totals = pred.groupBy("true_lang").agg(F.count(F.lit(1)).alias("tot"))
    return (
        pred.groupBy("true_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(totals), "true_lang")
        .select(
            "true_lang",
            "predicted_lang",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("n") * 1.0 / F.col("tot"), 6).alias("share_of_true"),
        )
    )


# --- two-sample Kolmogorov-Smirnov drift test ------------------------------------
@register(
    "dq_ks_doclength",
    """
    WITH s AS (SELECT n_chars AS x, doc_id % 2 AS g FROM documents),
    n AS (
      SELECT SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS na,
             SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS nb
      FROM s),
    pts AS (
      SELECT x,
             SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS cb
      FROM s GROUP BY x),
    cum AS (
      SELECT x, SUM(ca) OVER (ORDER BY x) AS cca, SUM(cb) OVER (ORDER BY x) AS ccb
      FROM pts)
    SELECT (SELECT CAST(na AS BIGINT) FROM n) AS n_a,
           (SELECT CAST(nb AS BIGINT) FROM n) AS n_b,
           ROUND(MAX(ABS(cca * 1.0 / (SELECT na FROM n)
                         - ccb * 1.0 / (SELECT nb FROM n))), 6) AS ks_stat,
           ROUND(1.358 * sqrt(((SELECT na FROM n) + (SELECT nb FROM n)) * 1.0
                              / ((SELECT na FROM n) * (SELECT nb FROM n))), 6)
             AS critical_05,
           CAST(MAX(ABS(cca * 1.0 / (SELECT na FROM n)
                        - ccb * 1.0 / (SELECT nb FROM n)))
                > 1.358 * sqrt(((SELECT na FROM n) + (SELECT nb FROM n)) * 1.0
                               / ((SELECT na FROM n) * (SELECT nb FROM n)))
                AS BOOLEAN) AS reject_same_dist
    FROM cum
    """,
)
def dq_ks_doclength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test on document length between the
    even- and odd-id halves of the corpus (stand-in for old-snapshot vs
    new-batch): D = max |ECDF_a − ECDF_b| against the α=0.05 critical
    value 1.358·√((n_a+n_b)/(n_a·n_b)) — the DISTRIBUTION-level drift
    gate that PSI's fixed buckets can miss (KS is bucket-free). The
    corpus-sized work is one (value, group) count aggregate; the ECDF
    running sums and the max run on the DISTINCT-VALUE relation, so the
    unpartitioned window is value-domain-sized (like the histogram
    family), not corpus-sized. Sample counts are broadcast scalars."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    s = docs.select(F.col("n_chars").alias("x"), (F.col("doc_id") % 2).alias("g"))
    n = s.agg(
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("nb"),
    )
    pts = s.groupBy("x").agg(
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("cb"),
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = pts.select(
        F.sum("ca").over(w).alias("cca"), F.sum("cb").over(w).alias("ccb")
    )
    d = F.max(
        F.abs(F.col("cca") * 1.0 / F.col("na") - F.col("ccb") * 1.0 / F.col("nb"))
    )
    crit = 1.358 * F.sqrt(
        (F.col("na") + F.col("nb")) * 1.0 / (F.col("na") * F.col("nb"))
    )
    return (
        cum.crossJoin(F.broadcast(n))
        .groupBy()
        .agg(
            F.first("na").cast("long").alias("n_a"),
            F.first("nb").cast("long").alias("n_b"),
            F.round(d, 6).alias("ks_stat"),
            F.round(F.first(crit), 6).alias("critical_05"),
            (d > F.first(crit)).alias("reject_same_dist"),
        )
    )


# --- epochs-per-source for a token budget ----------------------------------------
_BUDGET_X = 10.0  # train budget as a multiple of the corpus's token count
_EPOCH_CLIFF = 4.0  # repetition beyond ~4 epochs stops helping (Muennighoff et al.)


@register(
    "corpus_epochs_for_budget",
    f"""
    WITH {_TOK_CTE},
    counts AS (
      SELECT d.lang, CAST(SUM(len(t)) AS BIGINT) AS n_tokens
      FROM tok JOIN documents d ON d.doc_id = tok.doc_id GROUP BY d.lang),
    tot AS (SELECT SUM(n_tokens) AS total FROM counts),
    powed AS (
      SELECT lang, n_tokens,
             pow(n_tokens * 1.0 / (SELECT total FROM tot), {_MIX_ALPHA}) AS p_alpha
      FROM counts),
    z AS (SELECT SUM(p_alpha) AS z FROM powed)
    SELECT lang, n_tokens,
           ROUND(p_alpha / (SELECT z FROM z), 6) AS sample_weight,
           CAST(ROUND({_BUDGET_X} * (SELECT total FROM tot)
                      * p_alpha / (SELECT z FROM z), 0) AS BIGINT)
             AS allocated_tokens,
           ROUND({_BUDGET_X} * (SELECT total FROM tot)
                 * p_alpha / (SELECT z FROM z) / n_tokens, 4) AS epochs,
           CAST(ROUND({_BUDGET_X} * (SELECT total FROM tot)
                 * p_alpha / (SELECT z FROM z) / n_tokens, 4) > {_EPOCH_CLIFF}
                AS BOOLEAN) AS repeat_risk
    FROM powed
    """,
)
def corpus_epochs_for_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epochs-per-language for a fixed training token budget under the
    temperature-scaled mixture (corpus_mixture_weights' α=0.3 weights,
    budget = {_B}× the corpus token count): allocated tokens per
    language divided by available tokens = how many times that slice
    REPEATS, flagged past the ~4-epoch cliff where repetition stops
    buying loss (the check that catches a mixture upsampling a
    low-resource language into memorization territory). One token-count
    aggregate per language + three scalar broadcasts — corpus-linear
    with a 5-row tail.""".replace("{_B}", str(_BUDGET_X))
    docs = table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(
        F.sum(F.size(H.tokens(F.col("text")))).alias("n_tokens")
    )
    tot = counts.agg(F.sum("n_tokens").alias("total"))
    powed = counts.crossJoin(F.broadcast(tot)).withColumn(
        "p_alpha", F.pow(F.col("n_tokens").cast("double") / F.col("total"), _MIX_ALPHA)
    )
    z = powed.agg(F.sum("p_alpha").alias("z"))
    alloc = F.lit(_BUDGET_X) * F.col("total") * F.col("p_alpha") / F.col("z")
    epochs = F.round(alloc / F.col("n_tokens"), 4)
    return powed.crossJoin(F.broadcast(z)).select(
        "lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(F.col("p_alpha") / F.col("z"), 6).alias("sample_weight"),
        F.round(alloc, 0).cast("long").alias("allocated_tokens"),
        epochs.alias("epochs"),
        (epochs > _EPOCH_CLIFF).alias("repeat_risk"),
    )


# --- quality x duplication interaction matrix -------------------------------------
@register(
    "corpus_quality_dup_matrix",
    f"""
    WITH {_TOK_CTE},
    m AS (
      SELECT doc_id, len(t) AS n_words,
             CASE WHEN len(t) > 0
                  THEN length(array_to_string(t, '')) / len(t)::DOUBLE END AS mean_raw,
             CASE WHEN len(t) > 0
                  THEN {sql_stop_filter('t', STOPWORDS['en'])} / len(t)::DOUBLE
                  ELSE 0.0 END AS stop_raw,
             md5(array_to_string(t, ' ')) AS fp
      FROM tok),
    flags AS (
      SELECT doc_id, fp,
             (n_words BETWEEN {_QF['min_words']} AND {_QF['max_words']})
               AND COALESCE(mean_raw BETWEEN {_QF['min_mean_word_len']}
                              AND {_QF['max_mean_word_len']}, FALSE)
               AND stop_raw >= {_QF['min_stopword_ratio']} AS quality_keep
      FROM m),
    dup AS (
      SELECT doc_id, fp, quality_keep,
             doc_id <> MIN(doc_id) OVER (PARTITION BY fp) AS is_duplicate
      FROM flags),
    cells AS (
      SELECT quality_keep, is_duplicate, COUNT(*) AS n FROM dup
      GROUP BY quality_keep, is_duplicate),
    tot AS (SELECT SUM(n) AS total FROM cells)
    SELECT quality_keep, is_duplicate, CAST(n AS BIGINT) AS n,
           ROUND(n * 1.0 / (SELECT total FROM tot), 6) AS share
    FROM cells
    """,
)
def corpus_quality_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter decision × exact-duplicate status as a 2×2 matrix
    — the curation interaction the funnel's sequential stages hide: if
    duplicates concentrate in the quality-fail cell, dedup after
    filtering is nearly free; if they concentrate in the keep cell,
    dedup is doing independent work and must stay. Duplicate = any doc
    that is not its fingerprint group's min-id survivor (the
    dedup_exact_groups rule); both signals come from ONE tokenization
    pass, the survivor flag from a fingerprint-partitioned window, and
    the matrix is a 4-row aggregate with a broadcast total."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    toks = H.tokens(F.col("text"))
    n_words = F.size(toks)
    joined = F.concat_ws("", toks)
    mean_raw = F.when(n_words > 0, F.length(joined) / n_words)
    stop_raw = F.when(
        n_words > 0,
        F.size(
            F.filter(
                toks, lambda x: F.array_contains(F.array(*[F.lit(w) for w in STOPWORDS["en"]]), x)
            )
        )
        / n_words,
    ).otherwise(0.0)
    keep = (
        n_words.between(_QF["min_words"], _QF["max_words"])
        & F.coalesce(
            mean_raw.between(_QF["min_mean_word_len"], _QF["max_mean_word_len"]),
            F.lit(False),
        )
        & (stop_raw >= _QF["min_stopword_ratio"])
    )
    flags = docs.select(
        "doc_id",
        F.md5(F.concat_ws(" ", toks)).alias("fp"),
        keep.alias("quality_keep"),
    )
    dup = flags.select(
        "quality_keep",
        (F.col("doc_id") != F.min("doc_id").over(Window.partitionBy("fp"))).alias(
            "is_duplicate"
        ),
    )
    cells = dup.groupBy("quality_keep", "is_duplicate").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cells.agg(F.sum("n").alias("total"))
    return cells.crossJoin(F.broadcast(tot)).select(
        "quality_keep",
        "is_duplicate",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n") * 1.0 / F.col("total"), 6).alias("share"),
    )


# --- bigram language model: train/test split + held-out perplexity -------------
@register(
    "text_bigram_perplexity",
    f"""
    WITH {_TOK_CTE},
    train AS (SELECT t FROM tok WHERE doc_id % 2 = 0),
    uni AS (
      SELECT tk AS w, COUNT(*) AS c
      FROM (SELECT unnest(t) AS tk FROM train) GROUP BY tk),
    v AS (SELECT CAST(COUNT(*) AS BIGINT) AS vs FROM uni),
    big AS (
      SELECT bg, COUNT(*) AS c
      FROM (SELECT unnest({H.sql_shingles('t', 2)}) AS bg FROM train)
      GROUP BY bg),
    test AS (
      SELECT doc_id, unnest({H.sql_shingles('t', 2)}) AS bg
      FROM tok WHERE doc_id % 2 = 1),
    scored AS (
      SELECT test.doc_id,
             LN((COALESCE(b.c, 0) + 1.0)
                / (COALESCE(u.c, 0) + (SELECT vs FROM v))) AS lp
      FROM test
        LEFT JOIN big b ON b.bg = test.bg
        LEFT JOIN uni u ON u.w = string_split(test.bg, ' ')[1]),
    perdoc AS (
      SELECT doc_id, COUNT(*) AS n_bigrams, EXP(-AVG(lp)) AS ppl
      FROM scored GROUP BY doc_id)
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(p.ppl), 4) AS avg_perplexity
    FROM perdoc p JOIN documents d USING (doc_id)
    GROUP BY d.lang
    """,
)
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out perplexity of an in-warehouse bigram language model:
    train add-1-smoothed bigram/unigram counts on the even-id half of
    the corpus, score the odd-id half with
    p(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V), and report
    exp(-mean ln p) per language — the classic LM-based quality signal
    (high perplexity under a corpus-trained model flags outlier / noisy
    documents) computed entirely with joins and aggregates, no UDFs.

    Scale shape: the model IS two count relations (unigrams, bigrams) —
    one tokenize pass + two shuffles to build, co-shuffled hash joins
    to apply (test bigrams join the bigram relation on its natural
    key; at 100 TB both sides are big and the join is the plan you
    want). The train/test split is the same deterministic id-parity
    rule as split_train_test, so there is no leakage and the oracle
    reproduces the exact counts. ln/exp see identical count-ratio
    inputs on both engines; per-doc and per-lang averages round at 4dp,
    far above ulp-order sum noise."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", H.tokens("text").alias("t"))
    train = toks.filter(F.col("doc_id") % 2 == 0)
    uni = (
        train.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    v = uni.agg(F.count(F.lit(1)).alias("vs"))
    big = (
        train.select(F.explode(H.shingles(F.col("t"), 2)).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    test = toks.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.explode(H.shingles(F.col("t"), 2)).alias("bg")
    )
    scored = (
        test.join(big, "bg", "left")
        .withColumn("w1", F.split("bg", " ").getItem(0))
        .join(uni.select(F.col("w").alias("w1"), "cu"), "w1", "left")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.log(
                (F.coalesce(F.col("cb"), F.lit(0)) + 1.0)
                / (F.coalesce(F.col("cu"), F.lit(0)) + F.col("vs"))
            ).alias("lp"),
        )
    )
    perdoc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.exp(-F.avg("lp")).alias("ppl"),
    )
    return (
        perdoc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("ppl"), 4).alias("avg_perplexity"),
        )
    )


# --- DSIR-style importance resampling (Xie et al. 2023) ------------------------------
_DSIR_K = 100
_DSIR_INV_TEMP = 10.0  # 1/T: temper the weights so they dominate the
# Gumbel noise (sd ~1.28); raw unigram log-ratios on this fixture span
# ~±0.5, far under the noise floor — tempering is standard practice in
# importance resampling when the proposal is close to the target


@register(
    "corpus_dsir_select",
    f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest({H.sql_tokens('text')}) AS term
      FROM documents),
    tok2 AS (SELECT * FROM tok WHERE term <> ''),
    raw AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cr FROM tok2 GROUP BY 1),
    tgt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS ct
            FROM tok2 WHERE lang = 'en' GROUP BY 1),
    tots AS (
      SELECT (SELECT SUM(cr) FROM raw) AS tr,
             (SELECT COALESCE(SUM(ct), 0) FROM tgt) AS tt,
             (SELECT COUNT(*) FROM raw) AS v),
    lr AS (
      SELECT r.term,
             ln((COALESCE(t.ct, 0) + 1.0) / (tots.tt + tots.v))
             - ln((r.cr + 1.0) / (tots.tr + tots.v)) AS lw
      FROM raw r LEFT JOIN tgt t ON t.term = r.term CROSS JOIN tots),
    scored AS (
      SELECT d.doc_id,
             ROUND(SUM(lr.lw), 6) AS logw,
             ROUND(-ln(-ln((({H.sql_md5_long("doc_id::VARCHAR || '|dsir'")})
                            + 0.5) / 1152921504606846976.0)), 6) AS g
      FROM tok2 d JOIN lr ON lr.term = d.term
      GROUP BY d.doc_id),
    keyed AS (SELECT doc_id, logw,
                     10.0 * logw + g AS k FROM scored),
    thr AS (
      SELECT MIN(k) AS kmin FROM
        (SELECT k FROM keyed ORDER BY k DESC, doc_id LIMIT {_DSIR_K}))
    SELECT doc_id, logw,
           k >= (SELECT kmin FROM thr) AS selected
    FROM keyed
    """,
)
def corpus_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style DATA SELECTION via importance resampling (Xie et al.
    2023): weight every document by how much more likely its tokens are
    under the TARGET domain's unigram LM (here the English slice) than
    under the raw-corpus LM — log w(x) = sum_t [ln p_tgt(t) - ln
    p_raw(t)], add-1 smoothed over the corpus vocabulary — then draw K
    docs WITHOUT replacement by the Gumbel-top-k trick (key = log w +
    Gumbel noise from the deterministic md5 uniform; ties at the k-th
    key all selected). This is the principled upgrade of hard domain
    filters for assembling a 100 TB pretraining mix: one token scan
    builds both LMs, scoring is a vocab join + per-doc sum, and
    selection is a TakeOrderedAndProject threshold, never a global
    sort of the corpus. Gumbel keys fold ROUNDED logw and noise (6dp),
    tempered by 1/T = 10 so the domain signal dominates the noise, and
    cross-engine selection is exact."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(H.tokens(F.col("text"))).alias("term")
    ).filter(F.col("term") != "")
    raw = tok.groupBy("term").agg(F.count(F.lit(1)).alias("cr"))
    tgt = tok.filter(F.col("lang") == "en").groupBy("term").agg(
        F.count(F.lit(1)).alias("ct")
    )
    tots = raw.agg(
        F.sum("cr").alias("tr"), F.count(F.lit(1)).alias("v")
    ).crossJoin(
        F.broadcast(
            tgt.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("tt"))
        )
    )
    lr = (
        raw.join(tgt, "term", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "term",
            (
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + 1.0)
                    / (F.col("tt") + F.col("v"))
                )
                - F.log((F.col("cr") + 1.0) / (F.col("tr") + F.col("v")))
            ).alias("lw"),
        )
    )
    u = (
        H.md5_long(F.concat(F.col("doc_id").cast("string"), F.lit("|dsir")))
        + 0.5
    ) / float(2**60)
    scored = (
        tok.join(lr, "term")
        .groupBy("doc_id")
        .agg(F.round(F.sum("lw"), 6).alias("logw"))
        .select(
            "doc_id",
            "logw",
            (
                F.lit(_DSIR_INV_TEMP) * F.col("logw")
                + F.round(-F.log(-F.log(u)), 6)
            ).alias("k"),
        )
    )
    thr = (
        scored.orderBy(F.col("k").desc(), "doc_id")
        .limit(_DSIR_K)
        .agg(F.min("k").alias("kmin"))
    )
    return scored.crossJoin(F.broadcast(thr)).select(
        "doc_id", "logw", (F.col("k") >= F.col("kmin")).alias("selected")
    )


# --- training-epoch shuffle plan -------------------------------------------------
_EPOCH_SHARDS = 8
_EPOCH_COUNT = 2


@register(
    "corpus_epoch_shuffle",
    f"""
    WITH tok AS (
      SELECT doc_id, len({H.sql_tokens('text')}) AS n_tok FROM documents),
    ep AS (SELECT unnest(range(1, {_EPOCH_COUNT + 1})) AS epoch),
    h AS (
      SELECT ep.epoch, t.doc_id, t.n_tok,
             ('0x' || substr(md5(CAST(ep.epoch AS VARCHAR) || ':'
                                 || CAST(t.doc_id AS VARCHAR)),
                             1, 15))::BIGINT AS h60
      FROM tok t CROSS JOIN ep)
    SELECT epoch, h60 % {_EPOCH_SHARDS} AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(h60 % 1000003) AS BIGINT) AS h_checksum
    FROM h GROUP BY epoch, shard
    """,
)
def corpus_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC TRAINING-EPOCH SHUFFLE PLAN: each epoch reshuffles
    the corpus by seeding a per-doc hash with the epoch number
    (md5(epoch:doc_id)), docs land in hash-assigned shards, and readers
    stream each shard in hash order — the standard way to give an LLM
    data loader a different, reproducible global order per epoch
    WITHOUT ever materializing a permutation (Spark's own shuffle does
    the placement; sortWithinPartitions on the hash pins the intra-shard
    order locally, no global sort). The query audits the plan, not the
    bytes: per (epoch, shard) doc/token counts prove balance (no shard
    outgrows its siblings) and a mod-prime hash checksum pins the exact
    assignment cross-engine — everything is a PARTIAL (map-side-combined)
    aggregate over a corpus scan per epoch, no data-keyed window, no
    collect, so the audit itself survives 100 TB. Epoch 1 vs 2 rows
    differ in checksum (the reshuffle) while totals match (no doc lost)."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.size(H.tokens(F.col("text"))).cast("long").alias("n_tok")
    )
    ep = toks.select(
        F.explode(
            F.array(
                *[F.lit(i).cast("long") for i in range(1, _EPOCH_COUNT + 1)]
            )
        ).alias("epoch"),
        "doc_id",
        "n_tok",
    )
    h60 = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.col("epoch").cast("string"), F.col("doc_id").cast("string")
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return (
        ep.withColumn("h60", h60)
        .groupBy("epoch", (F.col("h60") % _EPOCH_SHARDS).alias("shard"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum(F.col("h60") % 1000003).cast("long").alias("h_checksum"),
        )
    )
