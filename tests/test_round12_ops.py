"""Round-12 optimization-round additions: scale-adaptive loop
partition derivation for the iterative graph operators."""

import pyspark.sql.functions as F


def test_derive_loop_partitions_local_default_binds(spark, tmp_path):
    """A small file-backed relation (1-8 files, the local fixture
    shape) keeps the measured local posture: local_default wins."""
    from ug_dwh_etl_spark.operators.graph import derive_loop_partitions

    p = str(tmp_path / "edges")
    spark.range(100).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    ).coalesce(2).write.parquet(p)
    e = spark.read.parquet(p)
    assert len(e.inputFiles()) <= 8
    assert derive_loop_partitions(e, 16) == 16


def test_derive_loop_partitions_scales_with_files(spark, tmp_path):
    """A many-file relation (warehouse shape) drives the count above
    the local default — the derivation, not the constant, binds."""
    from ug_dwh_etl_spark.operators.graph import derive_loop_partitions

    p = str(tmp_path / "edges")
    spark.range(128).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    ).repartition(32).write.parquet(p)
    e = spark.read.parquet(p)
    n_files = len(e.inputFiles())
    assert n_files > 16
    assert derive_loop_partitions(e, 16) == min(n_files, 4096)
    # the cap bounds a pathological million-file table
    assert derive_loop_partitions(e, 16, cap=20) == 20


def test_derive_loop_partitions_in_memory_falls_back(spark):
    """No file-backed scan (in-memory test frames): the local default
    is returned, so operator unit tests are unaffected."""
    from ug_dwh_etl_spark.operators.graph import derive_loop_partitions

    e = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    assert derive_loop_partitions(e, 8) == 8


def test_state_broadcast_ok_gates_on_footprint(spark, tmp_path):
    """Broadcast gate: small file-backed relation qualifies, the same
    relation under a tiny threshold does not, and in-memory frames
    (no file-backed scan) always take the scale-safe shuffle path."""
    from ug_dwh_etl_spark.operators.graph import state_broadcast_ok

    p = str(tmp_path / "edges")
    spark.range(1000).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    ).write.parquet(p)
    e = spark.read.parquet(p)
    assert state_broadcast_ok(e) is True
    assert state_broadcast_ok(e, threshold_bytes=1) is False
    mem = spark.createDataFrame([(1, 2)], ["src", "dst"])
    assert state_broadcast_ok(mem) is False


def test_scc_broadcast_and_shuffle_twins_agree(spark, tmp_path):
    """The SCC fixpoint's two step forms (broadcast under the gate,
    co-partitioned shuffle past it) must produce identical components.
    A file-backed input takes the broadcast path, the same edges as an
    in-memory frame take the shuffle path — compare exactly."""
    from ug_dwh_etl_spark.operators.graph import (
        state_broadcast_ok,
        strongly_connected_components,
    )

    # two 3-cycles bridged one-way, plus a dangling chain
    edges = [
        (1, 2), (2, 3), (3, 1),
        (3, 4),
        (4, 5), (5, 6), (6, 4),
        (6, 7), (7, 8),
    ]
    mem = spark.createDataFrame(edges, ["src", "dst"])
    assert state_broadcast_ok(mem) is False  # shuffle twin
    p = str(tmp_path / "scc_edges")
    mem.write.parquet(p)
    filed = spark.read.parquet(p)
    assert state_broadcast_ok(filed) is True  # broadcast form
    got_shuffle = sorted(
        map(tuple, strongly_connected_components(mem).collect())
    )
    got_bc = sorted(
        map(tuple, strongly_connected_components(filed).collect())
    )
    assert got_shuffle == got_bc
    comp = {n: c for n, c in got_shuffle}
    assert comp[1] == comp[2] == comp[3]
    assert comp[4] == comp[5] == comp[6]
    assert comp[3] != comp[4]
    assert len({comp[7], comp[8], comp[3], comp[4]}) == 4


def test_bfs_shuffle_path_matches_broadcast(spark, tmp_path):
    """bfs_distances under the gate (file-backed, broadcast) and past
    it (in-memory, partitioned shuffle join) give identical distances."""
    from ug_dwh_etl_spark.operators.graph import bfs_distances

    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)]
    mem = spark.createDataFrame(edges, ["src", "dst"])
    p = str(tmp_path / "bfs_edges")
    mem.write.parquet(p)
    filed = spark.read.parquet(p)
    seeds = spark.createDataFrame([(1,)], ["node"])
    a = sorted(map(tuple, bfs_distances(mem, seeds, rounds=3).collect()))
    b = sorted(map(tuple, bfs_distances(filed, seeds, rounds=3).collect()))
    assert a == b
    assert dict(a) == {1: 0, 2: 1, 3: 2, 4: 3}
