"""Round-6 additions: incremental near-dup against a stored LSH index,
multi-round BPE training, widened PII redaction, order-tolerant CEP."""

from __future__ import annotations

import pyspark.sql.functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_neardup_matches_full_rerun(spark, tmp_path):
    """The index-lookup path must find exactly the pairs a full-corpus
    LSH re-run would add for the batch — nothing more, nothing less —
    with the corpus side read back from persisted parquet."""
    from ug_dwh_etl_spark.operators.dedup import (
        doc_shingle_hashes,
        incremental_neardup,
        lsh_band_keys,
        minhash_lsh_pairs,
        spread,
        verify_pairs_jaccard,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus_rows = [
        (1, base),
        (2, base + " extra tail words here"),
        (3, "completely different content about spark shuffles and joins"),
    ]
    batch_rows = [
        (10, base),  # near-dup of 1 and 2
        (11, "totally novel text that matches nothing in the corpus"),
        (12, base),  # near-dup of 1, 2 and 10 (intra-batch pair too)
    ]
    corpus = _docs(spark, corpus_rows)
    batch = _docs(spark, batch_rows)

    bands_path = str(tmp_path / "bands")
    sh_path = str(tmp_path / "shingles")
    lsh_band_keys(corpus, "doc_id", "text").write.parquet(bands_path)
    doc_shingle_hashes(spread(corpus), "doc_id", "text").write.parquet(sh_path)

    got = incremental_neardup(
        batch,
        spark.read.parquet(bands_path),
        spark.read.parquet(sh_path),
        "doc_id",
        "text",
        0.5,
    )
    got_pairs = {(r.id_a, r.id_b): r.jaccard for r in got.collect()}

    # ground truth: full re-run over the union, restricted to batch ids
    full = _docs(spark, corpus_rows + batch_rows)
    all_pairs = minhash_lsh_pairs(full, "doc_id", "text")
    verified = verify_pairs_jaccard(full, all_pairs, "doc_id", "text", 0.5)
    batch_ids = {r[0] for r in batch_rows}
    want_pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in verified.collect()
        if r.id_a in batch_ids or r.id_b in batch_ids
    }
    assert got_pairs == want_pairs
    assert any(a in batch_ids and b in batch_ids for a, b in got_pairs)  # intra-batch
    assert any((a in batch_ids) != (b in batch_ids) for a, b in got_pairs)  # cross


def test_incremental_neardup_two_day_cadence(spark, tmp_path):
    """The daily-ingest loop END TO END: day-1's batch appends its band
    keys and shingle hashes to the stored index; day-2 then matches
    against the UPDATED index and must find its near-dups against both
    the original corpus and day-1's docs — the append-model maintenance
    path, not just a one-shot lookup."""
    from ug_dwh_etl_spark.operators.dedup import (
        doc_shingle_hashes,
        incremental_neardup,
        lsh_band_keys,
        spread,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = _docs(spark, [(1, base), (2, "unrelated text about query planners")])
    day1 = _docs(spark, [(10, "novel day one content nothing matches this")])
    day2 = _docs(
        spark,
        [
            (20, base),  # near-dup of corpus doc 1
            (21, "novel day one content nothing matches this"),  # dup of day-1 doc 10
        ],
    )
    bands_path = str(tmp_path / "bands")
    sh_path = str(tmp_path / "shingles")
    lsh_band_keys(corpus, "doc_id", "text").write.parquet(bands_path)
    doc_shingle_hashes(spread(corpus), "doc_id", "text").write.parquet(sh_path)

    # day 1: match (finds nothing), then APPEND day-1's index rows
    got1 = incremental_neardup(
        day1,
        spark.read.parquet(bands_path),
        spark.read.parquet(sh_path),
        "doc_id",
        "text",
    )
    assert got1.count() == 0
    lsh_band_keys(day1, "doc_id", "text").write.mode("append").parquet(bands_path)
    doc_shingle_hashes(spread(day1), "doc_id", "text").write.mode("append").parquet(
        sh_path
    )

    # day 2: the updated index must surface BOTH the corpus match and
    # the day-1 match
    got2 = {
        (r.id_a, r.id_b)
        for r in incremental_neardup(
            day2,
            spark.read.parquet(bands_path),
            spark.read.parquet(sh_path),
            "doc_id",
            "text",
        ).collect()
    }
    assert (1, 20) in got2
    assert (10, 21) in got2


def test_stream_incremental_neardup_across_micro_batches(spark, tmp_path):
    """The foreachBatch match-then-append loop must find pairs ACROSS
    micro-batches: a doc in batch 2 whose only duplicate arrived in
    batch 1 pairs with it because batch 1 appended its band keys to the
    index before batch 2 ran. Union of emissions == full re-run."""
    import os

    from ug_dwh_etl_spark.streaming.jobs import stream_incremental_neardup

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus_and_b1 = _docs(
        spark,
        [
            (1, base),  # corpus (1 % 10 != 0)
            (2, "unrelated corpus text about catalyst optimizer rules"),
            (10, base),  # stream batch file 0
        ],
    )
    b2 = _docs(spark, [(20, base)])  # stream batch file 1 — dups 1 AND 10

    d = str(tmp_path / "documents.parquet")
    os.makedirs(d)
    for i, part in enumerate((corpus_and_b1, b2)):
        tmp = str(tmp_path / f"half{i}")
        part.coalesce(1).write.parquet(tmp)
        src = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        dst = f"{d}/half{i}.parquet"
        os.rename(f"{tmp}/{src}", dst)
        os.utime(dst, (1_700_000_000 + i * 3600, 1_700_000_000 + i * 3600))

    out = stream_incremental_neardup(
        spark,
        str(tmp_path),
        index_root=str(tmp_path / "idx"),
        max_files_per_trigger=1,
    )
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    # (1,10) found in batch 1; (1,20) AND the cross-batch (10,20) in batch 2
    assert pairs == {(1, 10), (1, 20), (10, 20)}


def test_incremental_neardup_reingested_id_keeps_exact_jaccard(spark, tmp_path):
    """A batch doc whose id ALREADY exists in the stored index (a
    re-ingest) must not double-count its shingle rows: pairs between it
    and other docs must still verify with the true Jaccard (round-6
    review caught the union double-count scoring identical docs at
    2i/(2s+s-2i) instead of 1.0)."""
    from ug_dwh_etl_spark.operators.dedup import (
        doc_shingle_hashes,
        incremental_neardup,
        lsh_band_keys,
        spread,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = _docs(spark, [(1, base), (7, base)])  # 7 will be re-ingested
    bands_path = str(tmp_path / "bands")
    sh_path = str(tmp_path / "shingles")
    lsh_band_keys(corpus, "doc_id", "text").write.parquet(bands_path)
    doc_shingle_hashes(spread(corpus), "doc_id", "text").write.parquet(sh_path)

    batch = _docs(spark, [(7, base)])  # same id, same text — a re-ingest
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in incremental_neardup(
            batch,
            spark.read.parquet(bands_path),
            spark.read.parquet(sh_path),
            "doc_id",
            "text",
            0.5,
        ).collect()
    }
    # the re-ingested doc pairs with doc 1 (identical text, jaccard 1.0)
    # and never with itself
    assert got == {(1, 7): 1.0}


def test_incremental_neardup_never_scans_corpus_text(spark, tmp_path):
    """Structural no-rescan guarantee: the ONLY file scans in the plan
    are the persisted index relations — corpus documents parquet never
    appears, so per-day cost cannot silently regress to O(corpus)."""
    from ug_dwh_etl_spark.operators.dedup import (
        doc_shingle_hashes,
        incremental_neardup,
        lsh_band_keys,
        spread,
    )

    corpus = _docs(spark, [(1, "alpha beta gamma delta epsilon zeta eta")])
    corpus_path = str(tmp_path / "corpus_docs")
    corpus.write.parquet(corpus_path)
    stored = spark.read.parquet(corpus_path)
    bands_path = str(tmp_path / "bands")
    sh_path = str(tmp_path / "shingles")
    lsh_band_keys(stored, "doc_id", "text").write.parquet(bands_path)
    doc_shingle_hashes(spread(stored), "doc_id", "text").write.parquet(sh_path)

    batch = _docs(spark, [(10, "alpha beta gamma delta epsilon zeta eta")])
    out = incremental_neardup(
        batch,
        spark.read.parquet(bands_path),
        spark.read.parquet(sh_path),
        "doc_id",
        "text",
    )
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "bands" in plan and "shingles" in plan
    assert "corpus_docs" not in plan
