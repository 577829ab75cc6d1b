"""The three workloads: which ops a pass runs, and how each op is run
and checked.

An op is one call into an engine layer followed by materializing its
complete result. The seed permutes the order of the ``dashboard`` queries
and picks the logical backfill dates; the inputs themselves are the fixed
generated tables. ``corpus_graph`` and ``warehouse_day`` keep their listed
order: with four and five ops, which op runs first on a fresh JVM, and so
runs two to three times slower, would set their median op latency.
Each pass is sized so that a run of the benchmark, set-up included,
stays near forty seconds on a 4-vCPU machine.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from datetime import date, timedelta

# Short batch queries of the daily dashboard: TPC-H shapes, joins,
# rollups, windows, as-of, top-k, a recursive-SQL query, history time
# series and semantic metrics. Plan building and per-job fixed cost
# dominate each of them.
DASHBOARD = (
    "q1_pricing_summary q6_forecast_revenue q12_priority_class_by_status "
    "q13_customer_order_distribution q14_promo_revenue_share q22_idle_customers "
    "join_semi_shipped broadcast_nation_region "
    "union_mismatched_entities agg_cube_flag_status window_order_gap_days "
    "asof_latest_order_per_customer topk_orders_by_price sql_recursive_hierarchy "
    "history_metric_delta history_asof_read semantic_orders_by_year_status"
).split()

# Two iterative graph loops sharing the link-graph artifact, the MinHash
# candidate pairs, and cosine top-k through a pandas UDF.
CORPUS_GRAPH = (
    "graph_pagerank graph_hits dedup_minhash_lsh_pairs sim_cosine_topk_pandas"
).split()

# Stream jobs run after the batch day: a stateful tumbling-window
# aggregate and an incremental exactly-once ingest.
WAREHOUSE_STREAMS = ["stream_hourly_tumbling", "stream_cdc_count_distinct"]
BACKFILL_DAYS = 7
# history tables backfill_run rewrites, with the query whose oracle
# gives one logical day's rows
HISTORY_TABLES = {
    "bq_images": "pipeline_e4_images",
    "bq_orphan_urls": "pipeline_e5_orphans",
    "bq_backlinks": "pipeline_e7_backlinks",
}
SNAPSHOT_TABLES = {"bq_inlinks": "pipeline_e6_inlinks"}
MAINTAINED_TABLE = "bq_images"

WORKLOADS = ("dashboard", "warehouse_day", "corpus_graph")


@dataclass
class Op:
    name: str
    kind: str  # "query": a registered query; "step": a warehouse call


def plan(workload: str, seed: int) -> tuple[list[Op], list[str]]:
    """The ops of one pass, in order, and the backfill dates."""
    rng = random.Random(seed)
    if workload == "dashboard":
        names = list(DASHBOARD)
        rng.shuffle(names)
        return [Op(n, "query") for n in names], []
    if workload == "corpus_graph":
        return [Op(n, "query") for n in CORPUS_GRAPH], []
    if workload == "warehouse_day":
        first = date(2023, 1, 1)
        days = rng.sample(range(365), BACKFILL_DAYS)
        dates = sorted(str(first + timedelta(days=d)) for d in days)
        steps = [Op("daily_run", "step"), Op("backfill_run", "step"),
                 Op("optimize_table", "step")]
        return steps + [Op(n, "query") for n in WAREHOUSE_STREAMS], dates
    raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")


def oracle_names() -> list[str]:
    """Every query whose DuckDB oracle the checks need."""
    return sorted(
        set(DASHBOARD) | set(CORPUS_GRAPH) | set(WAREHOUSE_STREAMS)
        | set(HISTORY_TABLES.values()) | set(SNAPSHOT_TABLES.values())
    )
