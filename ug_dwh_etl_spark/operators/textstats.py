"""Text analysis operators for training-data pipelines.

Language-ID (stopword-hit heuristic), quality scoring (character-class
ratios), token counting (whitespace + BPE-ish regex), and document
fingerprinting — all native Column expressions over the normalized token
array, so the whole stage is one codegen pass over the corpus with no
shuffle at all (per-row derivations).

Expression strings are generated once and rendered to BOTH engines so
the DuckDB oracle is exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

from ug_dwh_etl_spark.operators import hashing as H

STOPWORDS = {
    "en": ("the", "and", "of", "to", "in", "is", "a"),
    "de": ("der", "die", "und", "das", "ist", "ein", "nicht"),
    "fr": ("le", "la", "et", "les", "des", "est", "une"),
    "es": ("el", "los", "es", "una", "por", "con", "para"),
}

# BPE-ish pre-tokenizer: word pieces, digits, or single punctuation —
# the public GPT-2-style pre-tokenization shape, ASCII-simplified.
BPE_ISH_PATTERN = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]"


def _stop_filter_spark(tokens_col: str, words: tuple[str, ...]) -> Column:
    arr = ", ".join(f"'{w}'" for w in words)
    return F.expr(f"size(filter({tokens_col}, x -> array_contains(array({arr}), x)))")


def sql_stop_filter(tokens_col: str, words: tuple[str, ...]) -> str:
    arr = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({tokens_col}, x -> list_contains([{arr}], x)))"


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whitespace token count, BPE-ish regex token count, char count,
    average token length."""
    out = df.withColumn("t", H.tokens(text_col))
    return out.select(
        F.col(id_col),
        F.size("t").alias("n_tokens"),
        F.regexp_count(F.col(text_col), F.lit(BPE_ISH_PATTERN)).alias("n_bpe_tokens"),
        F.length(text_col).alias("n_chars_calc"),
        F.round(
            F.when(F.size("t") > 0, F.length(F.concat_ws("", F.col("t"))) / F.size("t")),
            6,
        ).alias("avg_token_len"),
    )


def alpha_ratio_col(text_col: str) -> "F.Column":
    """round(alpha_chars / len, 6) — THE corpus quality ranking used by
    every survivorship rule (dedup_quality_survivors, the SemDeDup
    family, the streaming ingest twin). One definition so the 'same
    ranking as dedup_quality_survivors' promise cannot drift."""
    return F.round(
        F.length(F.regexp_replace(text_col, "[^a-zA-Z]", ""))
        / F.length(text_col).cast("double"),
        6,
    )


def quality_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Character-class ratios + English-stopword ratio — the standard
    cheap quality signals (length, punctuation density, stopword density)
    used to filter web corpora."""
    n = F.length(text_col).cast("double")
    alpha = F.length(F.regexp_replace(text_col, "[^a-zA-Z]", ""))
    digit = F.length(F.regexp_replace(text_col, "[^0-9]", ""))
    space = F.length(F.regexp_replace(text_col, "[^ ]", ""))
    out = df.withColumn("t", H.tokens(text_col))
    stop_hits = _stop_filter_spark("t", STOPWORDS["en"])
    return out.select(
        F.col(id_col),
        F.round(alpha / n, 6).alias("alpha_ratio"),
        F.round(digit / n, 6).alias("digit_ratio"),
        F.round(space / n, 6).alias("space_ratio"),
        F.round(
            F.when(F.size("t") > 0, stop_hits / F.size("t")).otherwise(F.lit(0.0)), 6
        ).alias("stopword_ratio"),
        (n >= 100).alias("len_ok"),
    )


# Gopher/C4-style document filter rules (public heuristics: Rae et al.
# 2021 "Scaling Language Models" appendix A; Raffel et al. 2020 C4).
# Thresholds are parameters; defaults tuned to the fixture's synthetic
# word-salad so both keep and drop branches are exercised.
QUALITY_RULES_DEFAULTS = dict(
    min_words=30,
    max_words=100_000,
    min_mean_word_len=2.0,
    max_mean_word_len=12.0,
    min_stopword_ratio=0.01,
)


def quality_rule_columns(tokens_col: str, **rules: float) -> dict[str, Column]:
    """The C4/Gopher rule expressions over a materialized token-array
    column — shared by the batch gate (quality_filter) and the streaming
    ingest (streaming.jobs.stream_corpus_ingest) so the rules cannot
    drift between the two."""
    r = {**QUALITY_RULES_DEFAULTS, **rules}
    n_words = F.size(tokens_col)
    mean_len = F.when(n_words > 0, F.length(F.concat_ws("", F.col(tokens_col))) / n_words)
    stop_ratio = F.when(
        n_words > 0, _stop_filter_spark(tokens_col, STOPWORDS["en"]) / n_words
    ).otherwise(F.lit(0.0))
    words_ok = n_words.between(r["min_words"], r["max_words"])
    word_len_ok = F.coalesce(
        mean_len.between(r["min_mean_word_len"], r["max_mean_word_len"]), F.lit(False)
    )
    stopword_ok = stop_ratio >= r["min_stopword_ratio"]
    return {
        "n_words": n_words,
        "mean_word_len": F.round(mean_len, 6),
        "stopword_ratio": F.round(stop_ratio, 6),
        "words_ok": words_ok,
        "word_len_ok": word_len_ok,
        "stopword_ok": stopword_ok,
        "keep": words_ok & word_len_ok & stopword_ok,
    }


def quality_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    **rules: float,
) -> DataFrame:
    """Per-document rule flags + the keep decision — the C4/Gopher-style
    corpus gate. Pure Column expressions (one scan, zero shuffles, zero
    Python): word-count bounds, mean-word-length bounds, and a minimum
    English-stopword ratio (the cheap "is this prose" test). Returns
    (id, n_words, mean_word_len, stopword_ratio, words_ok, word_len_ok,
    stopword_ok, keep)."""
    out = df.withColumn("t", H.tokens(text_col))
    cols = quality_rule_columns("t", **rules)
    return out.select(
        F.col(id_col), *[expr.alias(name) for name, expr in cols.items()]
    )


def contamination_scan(
    df: DataFrame, id_col: str, text_col: str, probes: tuple[str, ...]
) -> DataFrame:
    """Benchmark-contamination check: for each probe string (an eval-set
    fragment), count documents containing it verbatim. One scan with
    |probes| contains() per row folded into a single aggregation — the
    probe set is a literal (conceptually broadcast), never a join side,
    so the plan is corpus-size-linear no matter how many probes.
    Returns (probe, n_docs, pct_docs) per probe."""
    aggs = [
        F.sum(F.contains(F.col(text_col), F.lit(p)).cast("long")).alias(f"_p{i}")
        for i, p in enumerate(probes)
    ]
    counts = df.agg(F.count(F.lit(1)).alias("_n"), *aggs)
    # Typed literals, not selectExpr interpolation: a probe containing a
    # quote (plausible for verbatim eval fragments) must stay data, not
    # become SQL text.
    pairs = F.array(
        *[
            F.struct(
                F.lit(p).alias("probe"), F.col(f"_p{i}").alias("n_docs")
            )
            for i, p in enumerate(probes)
        ]
    )
    return counts.select(F.inline(pairs), "_n").select(
        "probe",
        "n_docs",
        F.round(F.col("n_docs") / F.col("_n"), 6).alias("pct_docs"),
    )


def langid(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-hit argmax over {en,de,fr,es}; 'und' when no hits.
    Deterministic tie-break: en > de > fr > es."""
    out = df.withColumn("t", H.tokens(text_col))
    hits = {lang: _stop_filter_spark("t", words) for lang, words in STOPWORDS.items()}
    pred = (
        F.when(
            (hits["en"] >= hits["de"]) & (hits["en"] >= hits["fr"])
            & (hits["en"] >= hits["es"]) & (hits["en"] > 0),
            F.lit("en"),
        )
        .when((hits["de"] >= hits["fr"]) & (hits["de"] >= hits["es"]) & (hits["de"] > 0), F.lit("de"))
        .when((hits["fr"] >= hits["es"]) & (hits["fr"] > 0), F.lit("fr"))
        .when(hits["es"] > 0, F.lit("es"))
        .otherwise(F.lit("und"))
    )
    return out.select(F.col(id_col), pred.alias("predicted_lang"))


def fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Content fingerprint: md5 of the token-normalized text plus its
    60-bit integer form (join-key-friendly)."""
    norm = F.concat_ws(" ", H.tokens(text_col))
    fp = F.md5(norm)
    return df.select(
        F.col(id_col),
        fp.alias("fingerprint"),
        F.conv(F.substring(fp, 1, 15), 16, 10).cast("long").alias("fingerprint_int"),
    )


# PII-shaped patterns, RE2-compatible (no lookaround/backreferences) so
# Spark (Java regex) and DuckDB (RE2) match the identical spans: email,
# IPv4, international phone (+CC sep groups), IBAN (CC + check digits +
# 11-30 alphanumeric BBAN). Replacement order matters only in that the
# inserted tags must not re-match a later pattern — <EMAIL>/<IP>/<PHONE>
# contain no digits, so neither phone nor IBAN can fire on them.
EMAIL_PATTERN = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
IPV4_PATTERN = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
# phone separators are space/hyphen only: a dot-separated phone contains
# an IPv4-shaped span ("+1.00.000.00"), so "." would make the two
# patterns overlap and the per-type counts ambiguous
PHONE_PATTERN = "\\+[0-9]{1,3}[ -][0-9]{2,4}[ -][0-9]{3,4}[ -][0-9]{2,4}\\b"
IBAN_PATTERN = "\\b[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}\\b"

_PII_TAGS = (
    (EMAIL_PATTERN, "<EMAIL>", "n_emails"),
    (IPV4_PATTERN, "<IP>", "n_ips"),
    (PHONE_PATTERN, "<PHONE>", "n_phones"),
    (IBAN_PATTERN, "<IBAN>", "n_ibans"),
)


def redact_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Replace email addresses, IPv4 literals, international phone
    numbers and IBANs with typed placeholder tags and count what was
    removed per type — the scrubbing pass every web-corpus training
    pipeline runs before tokenization. Pure narrow map
    (regexp_replace/regexp_count), no shuffle, whole-stage codegen."""
    redacted = F.col(text_col)
    for pattern, tag, _ in _PII_TAGS:
        redacted = F.regexp_replace(redacted, pattern, tag)
    return df.select(
        F.col(id_col),
        *[
            F.regexp_count(F.col(text_col), F.lit(pattern)).alias(name)
            for pattern, _, name in _PII_TAGS
        ],
        F.md5(redacted).alias("redacted_md5"),
    )


def repetition_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition signal: the fraction of all word bigrams
    taken by the single most frequent bigram. Highly repetitive
    boilerplate (nav bars, keyword stuffing) scores near 1.

    Shape: array-native bigram construction (no self-join), explode,
    count per (doc, bigram), max/sum re-agg per doc — two key-local
    shuffles on doc_id, fully parallel. Docs with <2 tokens drop out
    (no bigrams), identically in both engines."""
    out = df.withColumn("t", H.tokens(text_col))
    bigrams = F.expr(
        "transform(sequence(1, size(t) - 1),"
        " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
    )
    exploded = out.select(F.col(id_col), F.explode(bigrams).alias("bigram"))
    counts = exploded.groupBy(id_col, "bigram").agg(F.count(F.lit(1)).alias("c"))
    return counts.groupBy(id_col).agg(
        F.max("c").alias("top_bigram_count"),
        F.sum("c").alias("n_bigrams"),
        F.round(F.max("c") / F.sum("c").cast("double"), 6).alias("top_bigram_frac"),
    )


def char_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_chars, entropy) — per-document Shannon entropy (bits) of
    the character distribution, the cheap perplexity proxy that flags
    low-entropy boilerplate/garbage (aaaaa..., base64 blobs score high,
    prose sits ~4-4.5 bits).

    Arrow-batched Pandas UDF ON PURPOSE: a per-row character histogram
    expressed relationally is an explode → |corpus chars| shuffle — at
    100 TB that's shuffling every character of the corpus. Per-row
    numpy in a map-only stage shuffles NOTHING; this is the documented
    pattern for per-row compute no builtin expresses."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _entropy_batch(texts):
        out = np.zeros(len(texts))
        for i, t in enumerate(texts):
            if not t:
                continue
            _, counts = np.unique(list(t), return_counts=True)
            p = counts / counts.sum()
            out[i] = float(-(p * np.log2(p)).sum())
        return pd.Series(out)

    # legacy (no-type-hint) form: `from __future__ import annotations`
    # stringifies hints, which the hinted pandas_udf path can't resolve
    _entropy = pandas_udf(_entropy_batch, "double")

    return df.select(
        F.col(id_col),
        F.length(text_col).alias("n_chars"),
        F.round(_entropy(F.col(text_col)), 4).alias("entropy"),
    )


def type_token_ratio(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_tokens, n_types, ttr) — lexical diversity: distinct tokens
    over total tokens. Degenerate repetition (spam, keyword stuffing)
    scores near 0. Pure codegen map stage: array_distinct on the row's
    own token array, no shuffle anywhere."""
    t = H.tokens(text_col)
    toks = df.select(F.col(id_col), t.alias("t"))
    return toks.select(
        id_col,
        F.size("t").alias("n_tokens"),
        F.size(F.array_distinct("t")).alias("n_types"),
        F.when(F.size("t") > 0, F.round(F.size(F.array_distinct("t")) / F.size("t"), 6))
        .otherwise(F.lit(None).cast("double"))
        .alias("ttr"),
    )


def encode_token_ids(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", vocab_k: int = 32
) -> DataFrame:
    """Tokenize → top-K frequency vocabulary → token-id encoding; shared
    by the text_encode_ids query and the hypothesis property tests so
    both exercise the identical plan. Vocabulary ranking is
    deterministic (count desc, term asc — ASCII-only tokens, so both
    engines and the pure-Python model agree on the tiebreak); OOV → 0;
    the per-doc id sequence is fingerprinted position-ordered. Columns:
    (id_col, n_tokens, n_oov, ids_md5)."""
    from pyspark.sql import Window

    from ug_dwh_etl_spark.operators import hashing as H

    terms = docs.select(
        id_col, F.posexplode(H.tokens(F.col(text_col))).alias("pos0", "term")
    ).select(id_col, (F.col("pos0") + 1).alias("i"), "term")
    counts = terms.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    # top-K FIRST (TakeOrderedAndProject — per-partition heaps), THEN
    # the id-assignment rank over just those K rows: ids 1..K are the
    # same rows either way, and the global window never sees the full
    # vocabulary relation
    vocab = (
        counts.orderBy(F.desc("c"), F.asc("term"))
        .limit(vocab_k)
        .withColumn(
            "id", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("term")))
        )
        .select("term", "id")
    )
    enc = terms.join(F.broadcast(vocab), "term", "left").withColumn(
        "tid", F.coalesce(F.col("id"), F.lit(0))
    )
    return (
        enc.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("tid") == 0, F.lit(1))).alias("n_oov"),
            F.collect_list(F.struct("i", "tid")).alias("arr"),
        )
        .selectExpr(
            id_col,
            "n_tokens",
            "n_oov",
            "md5(array_join(transform(array_sort(arr), x -> cast(x.tid AS string)), ',')) AS ids_md5",
        )
    )


def bpe_pair_stats(docs: DataFrame, text_col: str = "text", top_k: int = 20) -> DataFrame:
    """First BPE-training iteration: adjacent character-pair frequencies
    weighted by word frequency, top-k with the deterministic
    (total desc, pair asc) rank. Shared by the text_bpe_merges query and
    the property tests. Columns: (pair, total, rnk)."""
    from pyspark.sql import Window

    terms = docs.select(
        F.explode(F.split(F.lower(text_col), "[^a-z]+")).alias("term")
    ).filter(F.col("term") != "")
    vocab = terms.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
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
    top = pairs.orderBy(F.desc("total"), F.asc("pair")).limit(top_k)
    w = Window.orderBy(F.col("total").desc(), "pair")
    return top.select(
        "pair",
        F.col("total").cast("long").alias("total"),
        F.row_number().over(w).alias("rnk"),
    )


def bpe_train_rounds(
    docs: DataFrame, text_col: str = "text", n_rounds: int = 3
) -> DataFrame:
    """The actual BPE tokenizer-TRAINING loop the two single-round
    queries (text_bpe_merges / text_bpe_apply_merge) imply: ``n_rounds``
    greedy merges, each round picking the most frequent adjacent symbol
    pair (total desc, pair asc tie-break) and recoding it into a
    private-use placeholder char chr(round) across the vocabulary.

    Scale shape: the corpus is touched exactly ONCE (the word-frequency
    count); every round after that is vocabulary-bound — pair explode,
    1-row top-1, broadcast crossJoin recode — with a per-round
    ``localCheckpoint`` lineage cut so plan depth stays constant however
    many merges run (same discipline as the graph iteration loops).
    Returns (round, pair, total): one row per merge, the winning pair
    rendered with earlier placeholders expanded as <parent-pair> so the
    merge table is human-readable and engine-comparable. Placeholder
    chars can't collide with data: vocabulary terms are [a-z]+ only."""
    terms = docs.select(
        F.explode(F.split(F.lower(text_col), "[^a-z]+")).alias("term")
    ).filter(F.col("term") != "")
    vocab = (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("term").alias("sym"), "n")
        .localCheckpoint(eager=False)
    )
    spark = docs.sparkSession
    bests: list[DataFrame] = []  # 1-row (pair, total) per round
    for rnd in range(1, n_rounds + 1):
        pairs = (
            vocab.filter(F.length("sym") >= 2)
            .select(
                "n",
                F.explode(F.sequence(F.lit(1), F.length("sym") - 1)).alias("i"),
                "sym",
            )
            .select(F.expr("substring(sym, i, 2)").alias("pair"), "n")
            .groupBy("pair")
            .agg(F.sum("n").alias("total"))
        )
        best = (
            pairs.orderBy(F.desc("total"), F.asc("pair"))
            .limit(1)
            .select("pair", F.col("total").cast("long").alias("total"))
            .localCheckpoint(eager=False)
        )
        bests.append(best)
        vocab = (
            vocab.crossJoin(F.broadcast(best.select("pair")))
            .select(F.expr(f"replace(sym, pair, chr({rnd}))").alias("sym"), "n")
            .localCheckpoint(eager=False)
        )
    # Render each winner with earlier placeholders expanded: chr(k) →
    # '<' || raw pair of round k || '>', expanded newest-first so a
    # nested placeholder inside round k's pair gets expanded in turn.
    out = None
    for rnd, best in enumerate(bests, start=1):
        row = best
        for prev in range(rnd - 1, 0, -1):
            row = row.crossJoin(
                F.broadcast(bests[prev - 1].select(F.col("pair").alias(f"_p{prev}")))
            ).select(
                F.expr(
                    f"replace(pair, chr({prev}), '<' || _p{prev} || '>')"
                ).alias("pair"),
                "total",
            )
        row = row.select(F.lit(rnd).alias("round"), "pair", "total")
        out = row if out is None else out.unionByName(row)
    return out
