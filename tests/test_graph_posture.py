"""Loop posture of the iterative graph operators: each operator derives
its own shuffle sizing (``loop_posture``), restores the session confs it
scoped, and leaves nothing persisted behind."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ug_dwh_etl_spark.operators import graph as G

_EDGES = [
    (1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4), (6, 7), (7, 8),
]


def _edges(spark):
    return spark.createDataFrame(_EDGES, ["src", "dst"])


def _seeds(spark):
    return spark.createDataFrame([(1,)], ["node"])


_OPERATORS = {
    "pagerank": lambda s: G.pagerank(_edges(s), 2),
    "pagerank_incremental": lambda s: G.pagerank_incremental(
        _edges(s).filter(F.col("src") != 7), _edges(s), 2
    ),
    "connected_components": lambda s: G.connected_components(_edges(s), 2),
    "strongly_connected_components": lambda s: G.strongly_connected_components(
        _edges(s)
    ),
    "connected_components_converged": lambda s: G.connected_components_converged(
        _edges(s)
    ),
    "personalized_pagerank": lambda s: G.personalized_pagerank(
        _edges(s), _seeds(s), 2
    ),
    "kcore_rounds": lambda s: G.kcore_rounds(
        _edges(s).select(F.col("src").alias("a"), F.col("dst").alias("b")), 2, 2
    ),
    "hits": lambda s: G.hits(_edges(s), 2),
    "bfs_distances": lambda s: G.bfs_distances(_edges(s), _seeds(s), 2),
    "label_propagation": lambda s: G.label_propagation(_edges(s), 2),
}

_POSTURE_CONFS = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")


@pytest.mark.parametrize("name", sorted(_OPERATORS))
def test_graph_operator_leaves_no_cache_and_restores_confs(spark, name):
    """Every graph operator releases what it persisted and restores the
    session confs its posture scoped."""
    spark.catalog.clearCache()
    before = {k: spark.conf.get(k) for k in _POSTURE_CONFS}
    out = _OPERATORS[name](spark)
    assert out.count() > 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), name
    assert {k: spark.conf.get(k) for k in _POSTURE_CONFS} == before


def test_loop_posture_scales_above_its_floor(spark, tmp_path):
    """An edge table backed by 24 parquet files sizes the loop's
    shuffles to 24 partitions, above the local default of 16 that an
    in-memory frame gets; the ranks are the same either way."""
    rows = [(i, (i * 7 + 3) % 240) for i in range(240)]
    rows += [(i, (i * i + 1) % 240) for i in range(0, 240, 3)]
    mem = spark.createDataFrame(rows, ["src", "dst"])
    p = str(tmp_path / "edges")
    mem.repartition(24).write.parquet(p)
    filed = spark.read.parquet(p)
    assert len(filed.inputFiles()) == 24

    got_filed = G.pagerank(filed, 3)
    got_mem = G.pagerank(mem, 3)
    assert got_filed.rdd.getNumPartitions() == 24
    assert got_mem.rdd.getNumPartitions() == 16
    ranks_filed = dict(map(tuple, got_filed.collect()))
    ranks_mem = dict(map(tuple, got_mem.collect()))
    assert ranks_filed.keys() == ranks_mem.keys()
    for node, r in ranks_mem.items():
        assert ranks_filed[node] == pytest.approx(r, rel=1e-12)


def test_conf_scope_restores_and_unsets(spark):
    """conf_scope restores a key that had a value and unsets one that
    had none, also when the block raises."""
    from ug_dwh_etl_spark.session import conf_scope

    set_key = "spark.sql.shuffle.partitions"
    new_key = "spark.graft.test.scoped"
    before = spark.conf.get(set_key)
    assert spark.conf.get(new_key, None) is None
    with pytest.raises(RuntimeError):
        with conf_scope(spark, {set_key: "3", new_key: "x"}):
            assert spark.conf.get(set_key) == "3"
            assert spark.conf.get(new_key) == "x"
            raise RuntimeError("boom")
    assert spark.conf.get(set_key) == before
    assert spark.conf.get(new_key, None) is None
