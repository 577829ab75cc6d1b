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


_INPUTS = {
    "graph": _EDGES,
    "empty": [],
    "single_edge": [(1, 2)],
}


def _seeds(spark):
    return spark.createDataFrame([(1,)], ["node"])


_OPERATORS = {
    "pagerank": lambda s, e: G.pagerank(e, 2),
    "pagerank_incremental": lambda s, e: G.pagerank_incremental(
        e.filter(F.col("src") != 7), e, 2
    ),
    "connected_components": lambda s, e: G.connected_components(e, 2),
    "strongly_connected_components": lambda s, e: G.strongly_connected_components(
        e
    ),
    "connected_components_converged": lambda s, e: G.connected_components_converged(
        e
    ),
    "personalized_pagerank": lambda s, e: G.personalized_pagerank(
        e, _seeds(s), 2
    ),
    "kcore_rounds": lambda s, e: G.kcore_rounds(
        e.select(F.col("src").alias("a"), F.col("dst").alias("b")), 2, 2
    ),
    "hits": lambda s, e: G.hits(e, 2),
    "bfs_distances": lambda s, e: G.bfs_distances(e, _seeds(s), 2),
    "label_propagation": lambda s, e: G.label_propagation(e, 2),
}

# rows on an empty edge frame: BFS keeps its seed at distance 0, and
# kcore_rounds reports one (round, 0, 0) row per round 0..2
_EMPTY_ROWS = {"bfs_distances": 1, "kcore_rounds": 3}

_POSTURE_CONFS = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize(
    "name,inp",
    [
        pytest.param(name, inp, id=name if inp == "graph" else f"{name}-{inp}")
        for name in sorted(_OPERATORS)
        for inp in _INPUTS
    ],
)
def test_graph_operator_leaves_no_cache_and_restores_confs(spark, name, inp):
    """Every graph operator releases what it persisted and restores the
    session confs its posture scoped — on the test graph and on the
    degenerate empty and single-edge inputs."""
    spark.catalog.clearCache()
    before = {k: spark.conf.get(k) for k in _POSTURE_CONFS}
    edges = spark.createDataFrame(_INPUTS[inp], "src long, dst long")
    n = _OPERATORS[name](spark, edges).count()
    if inp == "empty":
        assert n == _EMPTY_ROWS.get(name, 0)
    else:
        assert n > 0
    assert _cache_is_empty(spark), name
    assert {k: spark.conf.get(k) for k in _POSTURE_CONFS} == before


def test_operator_that_raises_releases_what_it_pinned(spark):
    """A failure inside the loop scope still unpersists the frames the
    operator pinned before it failed."""
    spark.catalog.clearCache()
    edges = spark.createDataFrame(_EDGES, "src long, dst long")
    with pytest.raises(Exception, match="nope"):
        G.pagerank(edges, 2, src="nope")
    assert _cache_is_empty(spark)


def test_fixpoint_raises_at_the_round_cap(spark, monkeypatch):
    """A 40-node directed cycle is one SCC under the default round cap;
    with the cap at 2 the propagation cannot finish, and the operator
    raises instead of returning 40 singletons. The converged components
    loop raises the same way."""
    cycle = spark.createDataFrame(
        [(i, (i + 1) % 40) for i in range(40)], "src long, dst long"
    )
    got = {r.scc_id for r in G.strongly_connected_components(cycle).collect()}
    assert got == {0}
    monkeypatch.setattr(G, "FIXPOINT_ROUNDS", 2)
    with pytest.raises(RuntimeError, match="strongly_connected_components"):
        G.strongly_connected_components(cycle)
    monkeypatch.setattr(G, "FIXPOINT_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="connected_components_converged"):
        G.connected_components_converged(cycle)


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
