"""Scale-technique tests: salting preserves results; bucketed joins
eliminate the Exchange."""

from __future__ import annotations

import pyspark.sql.functions as F

from ug_dwh_etl_spark.operators.bucketing import bucketed_join, write_bucketed
from ug_dwh_etl_spark.operators.skew import salted_agg

SF_DIR = "/root/testdata/sf0.001"


def test_salted_agg_equals_plain(spark):
    from ug_dwh_etl_spark.queries.registry import table

    ev = table(spark, SF_DIR, "events")  # handles the nanos-timestamp read
    plain = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    )
    salted = salted_agg(
        ev,
        key="event_type",
        aggs={"n": ("event_id", "count"), "s": ("value", "sum")},
        salt_from=["event_id"],
        n_salt=8,
    ).collect()
    norm = lambda rows: sorted((r.event_type, r.n, round(r.s, 6)) for r in rows)
    assert norm(plain) == norm(salted)


def test_bucketed_join_has_no_exchange(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        F.col("l_orderkey").alias("k"), "l_extendedprice"
    )
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        F.col("o_orderkey").alias("k"), "o_orderpriority"
    )
    write_bucketed(li, "t_li_bucketed", "k", 8)
    write_bucketed(orders, "t_ord_bucketed", "k", 8)
    # tiny tables would broadcast (rightly); force the join path big-big
    # tables take so the bucketed layout's shuffle elimination is visible
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "t_ord_bucketed", "t_li_bucketed", "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan  # no shuffle
        plain = orders.join(li, "k").count()
        assert joined.count() == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_compact_table_reduces_files(spark, tmp_path):
    from ug_dwh_etl_spark.operators.storage import optimize_table

    path = str(tmp_path / "frag")
    spark.range(10_000).repartition(32).write.parquet(path)
    import os

    before = sum(f.endswith(".parquet") for f in os.listdir(path))
    assert before == 32
    stats = optimize_table(spark, path, target_file_bytes=1 << 30)
    after = sum(f.endswith(".parquet") for f in os.listdir(path))
    assert after == stats["n_files"] == 1
    assert spark.read.parquet(path).count() == 10_000


def test_hll_sketches_merge_across_partitions(spark):
    """Pre-aggregated distinct-count sketches (DataSketches HLL) merged at
    query time — the 100 TB pattern for 'distinct users per day/week/all
    time' dashboards: store one tiny sketch per (day) partition, answer
    any date-range distinct by unioning sketches instead of rescanning
    events. Asserts the merged estimate matches the exact global distinct
    within HLL error bounds, and equals the single-pass sketch estimate."""
    import pyspark.sql.functions as F

    from ug_dwh_etl_spark.queries.registry import table

    ev = table(spark, "/root/testdata/sf0.01", "events")
    exact = ev.select("user_id").distinct().count()

    per_day = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = per_day.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    ).first().est
    single = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est")
    ).first().est

    assert merged == single  # register-maxima merge is lossless
    assert abs(merged - exact) / exact < 0.05


def test_percentile_approx_tracks_exact(spark):
    # the 100 TB scale path for agg_price_percentiles /
    # events_value_outliers_mad: bounded-memory sketch quantiles must
    # track the exact interpolated percentile closely
    import pyspark.sql.functions as F

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    row = orders.agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("exact_p50"),
        F.expr("percentile_approx(o_totalprice, 0.5, 10000)").alias("apx_p50"),
        F.expr("percentile(o_totalprice, 0.95)").alias("exact_p95"),
        F.expr("percentile_approx(o_totalprice, 0.95, 10000)").alias("apx_p95"),
    ).collect()[0]
    assert abs(row.apx_p50 - row.exact_p50) / row.exact_p50 < 0.01
    assert abs(row.apx_p95 - row.exact_p95) / row.exact_p95 < 0.01


def test_write_zordered_narrows_both_dims(spark, tmp_path):
    """Per-file min/max rectangles of a z-ordered write must beat a
    plain write on the WORSE dimension — the footer-stats file-skipping
    guarantee behind optimize_table's Z-order rewrite."""
    import math

    import pyspark.sql.functions as F

    from ug_dwh_etl_spark.operators.storage import _dir_bytes, optimize_table

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").selectExpr(
        "o_orderkey", "o_custkey", "datediff(to_date(o_orderdate), date'1992-01-01') AS d"
    )

    def max_dim_frac(path: str) -> float:
        df = spark.read.parquet(path)
        per = df.groupBy(F.input_file_name().alias("f")).agg(
            (F.max("o_custkey") - F.min("o_custkey")).alias("cks"),
            (F.max("d") - F.min("d")).alias("ds"),
        )
        g = orders.agg(
            (F.max("o_custkey") - F.min("o_custkey")).alias("gx"),
            (F.max("d") - F.min("d")).alias("gd"),
        ).collect()[0]
        row = per.agg(F.avg("cks").alias("ck"), F.avg("ds").alias("dd")).collect()[0]
        return max(row.ck / g.gx, row.dd / g.gd)

    plain = str(tmp_path / "plain")
    zord = str(tmp_path / "zord")
    orders.repartition(8).write.parquet(plain)
    orders.repartition(8).write.parquet(zord)
    # a target of 1/8 of the table's bytes asks for 8 files
    target = math.ceil(_dir_bytes(zord) / 8)
    optimize_table(spark, zord, zorder_cols=("o_custkey", "d"), target_file_bytes=target)

    assert len(spark.read.parquet(zord).inputFiles()) >= 4
    assert max_dim_frac(zord) < 0.7 * max_dim_frac(plain)


def test_optimize_table_composes_retention_and_zorder(spark, tmp_path):
    import pyspark.sql.functions as F

    from ug_dwh_etl_spark.operators.storage import optimize_table
    from ug_dwh_etl_spark.sinks.writers import append_history

    path = str(tmp_path / "hist")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").withColumn(
        "day", F.when(F.col("o_orderkey") % 2 == 0, "2026-01-01").otherwise("2026-06-01")
    )
    append_history(orders, path, partition_col="day")
    n_old = orders.filter(F.col("day") == "2026-06-01").count()
    stats = optimize_table(
        spark,
        path,
        partition_col="day",
        keep=lambda d: d >= "2026-03-01",
        zorder_cols=("o_custkey", "o_orderkey"),
        target_file_bytes=16 * 1024,
        count_rows=True,
    )
    assert stats["dropped_partitions"] == ["2026-01-01"]
    assert stats["n_rows"] == n_old
    assert stats["n_files"] >= 2
    got = spark.read.parquet(path)
    assert got.count() == n_old
    # the hive layout must survive the rewrite — otherwise every later
    # retention run silently no-ops
    import os

    assert os.path.isdir(os.path.join(path, "day=2026-06-01"))
    stats2 = optimize_table(
        spark,
        path,
        partition_col="day",
        keep=lambda d: d >= "2026-12-01",
        zorder_cols=("o_custkey", "o_orderkey"),
        target_file_bytes=16 * 1024,
        count_rows=True,
    )
    assert stats2["dropped_partitions"] == ["2026-06-01"]
    assert stats2["n_rows"] == 0
