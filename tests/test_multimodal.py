"""Multimodal plumbing tests: schema, Arrow batch shape, deterministic
fake features."""

from __future__ import annotations

import hashlib

from ug_dwh_etl_spark.operators.multimodal import (
    FEATURE_DIM,
    _fake_features,
    extract_features,
    media_from_documents,
)

SF_DIR = "/root/testdata/sf0.001"


def test_media_table_schema_and_payload(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    media = media_from_documents(docs)
    assert [f.name for f in media.schema.fields] == ["media_id", "media_type", "payload", "meta"]
    row = media.orderBy("media_id").first()
    text = docs.orderBy("doc_id").first()["text"]
    assert bytes(row.payload).decode("utf-8") == text
    assert row.meta.byte_len == len(text.encode("utf-8"))


def test_extract_features_batch_path(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    feats = extract_features(media_from_documents(docs))
    row = feats.orderBy("media_id").first()
    text = docs.orderBy("doc_id").first()["text"].encode("utf-8")
    assert row.content_md5 == hashlib.md5(text).hexdigest()
    assert len(row.features) == FEATURE_DIM
    assert row.features == _fake_features(text)
    assert all(0.0 <= v < 1.0 for v in row.features)
