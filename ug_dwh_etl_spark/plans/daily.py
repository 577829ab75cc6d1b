"""The whole cron day in one call (§3: the reference schedules its 8
scripts independently via cron, `README.md:12`; here they run as one
small concurrent job graph in one application).

Sink modes follow the reference exactly: history tables append with a
``crawl_date`` stamp (`sf_images_data.py:151,171`,
`sf_orphan_data.py:97,116`, `sf_with_backlinkdata.py:86-87`), snapshot
tables replace (`sf_inlink_bulk_data.py:90,104`,
`sf_hreflang_data.py:80-88`). Each pipeline is an independent lazy plan
and runs as its own task on its own session (``run_concurrently``): a
gate failure alerts but never blocks the other pipelines, and neither
does a pipeline that raises — matching the isolation of 8 separate cron
processes."""

from __future__ import annotations

from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark import inheritable_thread_target
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ug_dwh_etl_spark.functions.dates import stamp_date
from ug_dwh_etl_spark.plans.pipeline import Pipeline
from ug_dwh_etl_spark.plans.reference_pipelines import (
    e1_crawl_pipeline,
    e2_ranks_pipeline,
    e3_bookings_pipeline,
)
from ug_dwh_etl_spark.plans.reference_pipelines_ext import (
    e4_images_inventory,
    e5_orphan_urls,
    e6_inlinks_edges,
    e7_backlink_metrics,
    e8_hreflang_issues,
)
from ug_dwh_etl_spark.sinks.alerts import AlertSink
from ug_dwh_etl_spark.sinks.writers import append_history, overwrite_snapshot

T = TypeVar("T")


# Where each transform-only pipeline lands: pipeline → (warehouse table,
# frame builder, history?). History tables append with a ``crawl_date``
# stamp; snapshot tables replace.
OUTPUTS: dict[str, tuple[str, Callable[[SparkSession, str], DataFrame], bool]] = {
    "e4": ("bq_images", e4_images_inventory, True),
    "e5": ("bq_orphan_urls", e5_orphan_urls, True),
    "e6": ("bq_inlinks", e6_inlinks_edges, False),
    "e7": ("bq_backlinks", e7_backlink_metrics, True),
    "e8": ("bq_hreflang_issues", e8_hreflang_issues, False),
}


def land(spark: SparkSession, sf_dir: str, warehouse_dir: str, pipeline: str) -> str:
    """Run one of ``OUTPUTS``' pipelines into its table under
    ``warehouse_dir`` with that table's sink mode; returns the table."""
    tbl, build, history = OUTPUTS[pipeline]
    df = build(spark, sf_dir)
    if history:
        append_history(df.withColumn("crawl_date", stamp_date()), f"{warehouse_dir}/{tbl}")
    else:
        overwrite_snapshot(df, f"{warehouse_dir}/{tbl}")
    return tbl


def run_concurrently(spark: SparkSession, tasks: Sequence[Callable[[SparkSession], T]]) -> list[T]:
    """Run each task on a thread pool of ``defaultParallelism`` threads
    and return their results in task order.

    - Each task gets its own ``spark.newSession()``: confs (a
      ``conf_scope``) and temp views stay apart, the cache is shared.
    - Each task inherits the caller's job group and local properties,
      captured when it is submitted.
    - Every task runs to completion; after all of them finish, the first
      failure in task order is raised."""

    def call(task: Callable[[SparkSession], T]) -> T:
        return task(spark.newSession())

    with ThreadPoolExecutor(spark.sparkContext.defaultParallelism) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(call), t) for t in tasks]
    # the pool has waited for every task: result() raises the first failure
    return [f.result() for f in futures]


def _table_rows(spark: SparkSession, warehouse_dir: str, tables: Sequence[str]) -> dict[str, int]:
    """Total rows of each table under ``warehouse_dir``; 0 for a table
    that is absent or empty (an empty partitioned write leaves no file
    to read a schema from)."""
    counts: dict[str, int] = {}
    for tbl in tables:
        try:
            counts[tbl] = spark.read.parquet(f"{warehouse_dir}/{tbl}").count()
        except AnalysisException:
            counts[tbl] = 0
    return counts


def daily_run(
    spark: SparkSession,
    sf_dir: str,
    warehouse_dir: str,
    alert: AlertSink | None = None,
) -> dict[str, int]:
    """Run all 8 reference-pipeline replicas concurrently, landing every
    output table under ``warehouse_dir``. Returns {table: total rows
    after the run}: a history table holds every day appended so far.

    Every pipeline runs even when another raises; the first error, in
    the order below, is raised after all of them finish. The pipelines
    share ``alert``, so its ``send`` may be called from several threads
    at once."""

    def pipeline(pipe: Pipeline, tables: tuple[str, ...]) -> Callable[[SparkSession], dict[str, int]]:
        def task(s: SparkSession) -> dict[str, int]:
            pipe.run(s, alert=alert)
            return _table_rows(s, warehouse_dir, tables)

        return task

    def landing(key: str) -> Callable[[SparkSession], dict[str, int]]:
        def task(s: SparkSession) -> dict[str, int]:
            return _table_rows(s, warehouse_dir, [land(s, sf_dir, warehouse_dir, key)])

        return task

    # heaviest first (cold seconds on 4 vCPUs: e2 4.5, e1 4.0, e6 3.5,
    # e3 3.3, e7 3.1, e4 1.0, e5 0.7, e8 0.5), so the light ones fill the tail
    tasks = [
        pipeline(e2_ranks_pipeline(out_dir=warehouse_dir), ("bq_audisto_ranks",)),
        pipeline(
            e1_crawl_pipeline(sf_dir, out_dir=warehouse_dir), ("bq_content_history", "bq_content")
        ),
        landing("e6"),
        pipeline(e3_bookings_pipeline(sf_dir, out_dir=warehouse_dir), ("bq_bookings",)),
        landing("e7"),
        landing("e4"),
        landing("e5"),
        landing("e8"),
    ]
    return {tbl: n for counts in run_concurrently(spark, tasks) for tbl, n in counts.items()}


def backfill_run(
    spark: SparkSession,
    sf_dir: str,
    warehouse_dir: str,
    dates: list[str],
) -> dict[str, int]:
    """Idempotent backfill of the history (append-mode) pipelines for a
    list of logical run dates — the operation the reference's cron model
    cannot express (a missed day is simply absent from BigQuery;
    `README.md:12`). Each table is computed once and written once,
    crossed with the broadcast dates so every row is stamped with its
    LOGICAL date, via dynamic partition overwrite: re-running a date
    replaces exactly its own ``crawl_date=`` partition and never
    double-appends — at 100 TB a backfill touches O(dates) partitions,
    not the table. The tables run concurrently (``run_concurrently``).
    With no dates nothing is written. Returns {table: total rows} after
    the run."""

    def backfill(tbl: str, build: Callable[[SparkSession, str], DataFrame]):
        def task(s: SparkSession) -> dict[str, int]:
            # an empty date frame would still create an empty table
            # directory, which later reads fail on
            if dates:
                stamps = s.createDataFrame([(d,) for d in dates], "d string").select(
                    F.col("d").cast("date").alias("crawl_date")
                )
                (
                    build(s, sf_dir)
                    .crossJoin(F.broadcast(stamps))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("crawl_date")
                    .parquet(f"{warehouse_dir}/{tbl}")
                )
            return _table_rows(s, warehouse_dir, [tbl])

        return task

    tasks = [backfill(tbl, build) for tbl, build, history in OUTPUTS.values() if history]
    return {tbl: n for counts in run_concurrently(spark, tasks) for tbl, n in counts.items()}
