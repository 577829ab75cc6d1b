"""Cached-frame ownership: ``session.pinned`` releases every frame it
persisted on exit, normal or raised, and the queries that pin a frame
leave nothing cached behind when they fail part-way."""

from __future__ import annotations

import contextlib

import pytest
from pyspark import StorageLevel

from conftest import SF_DIR
from ug_dwh_etl_spark.session import pinned


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("raises", [False, True], ids=["normal", "raised"])
def test_pinned_releases_on_exit(spark, raises):
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError) if raises else contextlib.nullcontext():
        with pinned() as pin:
            assert pin(spark.range(10)).count() == 10
            kept = pin(spark.range(5), StorageLevel.MEMORY_AND_DISK)
            assert kept.storageLevel == StorageLevel.MEMORY_AND_DISK
            assert not _cache_is_empty(spark)
            if raises:
                raise RuntimeError("boom")
    assert _cache_is_empty(spark)


def _stream_neardup_batch_raises(spark, tmp_path, monkeypatch):
    """The foreachBatch handler fails after pinning the batch's band keys
    and shingle hashes (the pair cap raises at the same point)."""
    import os

    from ug_dwh_etl_spark.operators import dedup
    from ug_dwh_etl_spark.streaming.jobs import stream_incremental_neardup

    def boom(*args, **kwargs):
        raise RuntimeError("injected batch failure")

    d = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        [(1, "corpus text about catalyst rules"), (10, "a streamed document")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(d)
    assert os.listdir(d)
    monkeypatch.setattr(dedup, "incremental_neardup", boom)
    stream_incremental_neardup(spark, str(tmp_path), index_root=str(tmp_path / "idx"))


def _modularity_checkpoint_raises(spark, tmp_path, monkeypatch):
    """graph_modularity's eager localCheckpoint fails after the
    adjacency was pinned (the shared artifacts are built first, so the
    failure hits that checkpoint and no other)."""
    from ug_dwh_etl_spark.queries import graph as QG

    QG._lpa_communities(spark, SF_DIR)
    QG._und(spark, SF_DIR)
    frame_cls = type(spark.range(1))  # the concrete (classic) DataFrame
    orig = frame_cls.localCheckpoint

    def local_checkpoint(self, eager=True):
        if eager:
            raise RuntimeError("injected checkpoint failure")
        return orig(self, eager)

    monkeypatch.setattr(frame_cls, "localCheckpoint", local_checkpoint)
    QG.graph_modularity(spark, SF_DIR)


_RAISING_QUERIES = {
    "stream_incremental_neardup": _stream_neardup_batch_raises,
    "graph_modularity": _modularity_checkpoint_raises,
}


@pytest.mark.parametrize("name", sorted(_RAISING_QUERIES))
def test_query_that_raises_releases_what_it_pinned(spark, tmp_path, monkeypatch, name):
    spark.catalog.clearCache()
    with pytest.raises(Exception, match="injected"):
        _RAISING_QUERIES[name](spark, tmp_path, monkeypatch)
    assert _cache_is_empty(spark), name
