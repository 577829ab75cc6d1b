"""The whole cron day in one call (§3: the reference schedules its 8
scripts independently via cron, `README.md:12`; here they compose into
one orchestrated run over one SparkSession).

Sink modes follow the reference exactly: history tables append with a
``crawl_date`` stamp (`sf_images_data.py:151,171`,
`sf_orphan_data.py:97,116`, `sf_with_backlinkdata.py:86-87`), snapshot
tables replace (`sf_inlink_bulk_data.py:90,104`,
`sf_hreflang_data.py:80-88`). Each pipeline is an independent lazy plan;
a gate failure alerts but never blocks the other pipelines — matching
the isolation of 8 separate cron processes."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ug_dwh_etl_spark.functions.dates import stamp_date
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


def daily_run(
    spark: SparkSession,
    sf_dir: str,
    warehouse_dir: str,
    alert: AlertSink | None = None,
) -> dict[str, int]:
    """Run all 8 reference-pipeline replicas, landing every output table
    under ``warehouse_dir``. Returns {table: rows written this run}."""
    for pipe in (
        e1_crawl_pipeline(sf_dir, out_dir=warehouse_dir),
        e2_ranks_pipeline(out_dir=warehouse_dir),
        e3_bookings_pipeline(sf_dir, out_dir=warehouse_dir),
    ):
        pipe.run(spark, alert=alert)
    tables = [land(spark, sf_dir, warehouse_dir, key) for key in OUTPUTS]

    counts: dict[str, int] = {}
    for tbl in ("bq_content_history", "bq_content", "bq_audisto_ranks", "bq_bookings", *tables):
        try:
            counts[tbl] = spark.read.parquet(f"{warehouse_dir}/{tbl}").count()
        except Exception:  # noqa: BLE001 — a gated-off sink may not exist
            counts[tbl] = 0
    return counts


def backfill_run(
    spark: SparkSession,
    sf_dir: str,
    warehouse_dir: str,
    dates: list[str],
) -> dict[str, int]:
    """Idempotent backfill of the history (append-mode) pipelines for a
    list of logical run dates — the operation the reference's cron model
    cannot express (a missed day is simply absent from BigQuery;
    `README.md:12`). Each date's output is stamped with the LOGICAL date
    and written via dynamic partition overwrite, so re-running a date
    replaces exactly its own ``crawl_date=`` partition and never
    double-appends — at 100 TB a backfill touches O(dates) partitions,
    not the table. Returns {table: total rows} after the run."""
    history = [(tbl, build) for tbl, build, hist in OUTPUTS.values() if hist]
    for tbl, build in history:
        # compute the (date-independent) table ONCE and persist it
        # across the date loop — per-(date,table) recompute would
        # multiply the scan+transform cost by len(dates)
        base = build(spark, sf_dir).persist()
        try:
            for d in dates:
                (
                    base.withColumn("crawl_date", F.lit(d).cast("date"))
                    .write.mode("overwrite")
                    # per-write, not the session conf: concurrent
                    # pipelines on the same session keep their own mode
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("crawl_date")
                    .parquet(f"{warehouse_dir}/{tbl}")
                )
        finally:
            base.unpersist()
    return {
        tbl: spark.read.parquet(f"{warehouse_dir}/{tbl}").count()
        for tbl, _build in history
    }
