"""CLI entry point — the runnable surface a user of the reference's
cron scripts switches to.

    python -m ug_dwh_etl_spark list
    python -m ug_dwh_etl_spark query q1_pricing_summary --sf-dir /root/testdata/sf0.01
    python -m ug_dwh_etl_spark sql "SELECT COUNT(*) AS n FROM orders" --sf-dir ...
    python -m ug_dwh_etl_spark pipeline e1 --sf-dir ... --out /tmp/warehouse

Each reference script maps onto ``pipeline eN`` (E1 crawl, E2 ranks,
E3 bookings run with gates + history/snapshot sinks; E4-E8 compute their
transform chain and land it under ``<out>/bq_*`` with the sink mode
``daily`` uses: history tables append with a ``crawl_date`` stamp,
snapshot tables replace), mirroring the reference's cron entry points
(`/root/reference/README.md:12`). ``maintain`` runs retention and the
one table rewrite (compaction or Z-order) on a parquet table.
"""

from __future__ import annotations

import argparse
import sys

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="ug_dwh_etl_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries")

    qp = sub.add_parser("query", help="run a registered query")
    qp.add_argument("name")
    qp.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    qp.add_argument("--limit", type=int, default=20)
    qp.add_argument("--explain", action="store_true")

    sp = sub.add_parser("sql", help="ad-hoc SQL over the registered views")
    sp.add_argument("statement")
    sp.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    sp.add_argument("--limit", type=int, default=20)

    pp = sub.add_parser("pipeline", help="run a reference-pipeline replica")
    pp.add_argument("name", choices=[f"e{i}" for i in range(1, 9)])
    pp.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    pp.add_argument("--out", required=True, help="warehouse output directory")

    dp = sub.add_parser(
        "daily", help="run ALL eight pipelines (the reference's whole cron day)"
    )
    dp.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    dp.add_argument("--out", required=True, help="warehouse output directory")

    mp = sub.add_parser(
        "maintain", help="nightly table maintenance: retention + compaction/Z-order"
    )
    mp.add_argument("path", help="parquet table directory")
    mp.add_argument("--partition-col", default=None)
    mp.add_argument("--keep-from", default=None,
                    help="drop hive partitions with values < this (string compare)")
    mp.add_argument("--zorder", default=None,
                    help="two comma-separated integer columns to Morton-cluster")
    mp.add_argument("--target-file-mb", type=int, default=128)
    mp.add_argument("--count-rows", action="store_true",
                    help="include a post-rewrite row count in the run log "
                         "(footer-metadata job; skip on very large tables)")

    sm = sub.add_parser(
        "metric",
        help="semantic-layer query: governed metrics sliced by dimensions",
    )
    sm.add_argument("metrics", help="comma-separated metric names (an unknown name lists the valid ones)")
    sm.add_argument("--by", default="", help="comma-separated dimension names")
    sm.add_argument("--where", action="append", default=[],
                    help="fact-side SQL filter (repeatable)")
    sm.add_argument("--fact", default="orders", help="fact table (orders|lineitem)")
    sm.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    sm.add_argument("--limit", type=int, default=50)
    sm.add_argument("--explain", action="store_true")
    sm.add_argument("--show-sql", action="store_true",
                    help="print the generated warehouse SQL instead of running")

    args = p.parse_args(argv)

    from ug_dwh_etl_spark.queries import QUERIES
    from ug_dwh_etl_spark.session import get_spark

    if args.cmd == "list":
        for name in sorted(QUERIES):
            print(name)
        return 0

    if args.cmd == "metric":
        from ug_dwh_etl_spark.plans.semantic import (
            FACTS,
            MetricSpec,
            compile_spec,
            oracle_for_spec,
        )

        spec = MetricSpec(
            metrics=tuple(m.strip() for m in args.metrics.split(",") if m.strip()),
            dimensions=tuple(d.strip() for d in args.by.split(",") if d.strip()),
            filters=tuple(args.where),
            fact=args.fact,
        )
        try:
            spec.validate()
        except ValueError as e:
            model = FACTS.get(args.fact, FACTS["orders"])
            print(f"{e}\nfacts: {', '.join(sorted(FACTS))}"
                  f"\nmetrics ({args.fact}): {', '.join(sorted(model['metrics']))}"
                  f"\ndimensions ({args.fact}): {', '.join(sorted(model['dimensions']))}",
                  file=sys.stderr)
            return 2
        if args.show_sql:
            print(oracle_for_spec(spec))
            return 0
        spark = get_spark("cli-metric")
        spark.sparkContext.setLogLevel("ERROR")
        df = compile_spec(spec, spark, args.sf_dir)
        if args.explain:
            df.explain("formatted")
        df.show(args.limit, truncate=False)
        return 0

    spark = get_spark(f"cli-{args.cmd}")
    spark.sparkContext.setLogLevel("ERROR")

    if args.cmd == "query":
        if args.name not in QUERIES:
            print(f"unknown query: {args.name}", file=sys.stderr)
            return 2
        df = QUERIES[args.name].fn(spark, args.sf_dir)
        if args.explain:
            df.explain("formatted")
        df.show(args.limit, truncate=False)
        return 0

    if args.cmd == "maintain":
        from ug_dwh_etl_spark.operators.storage import optimize_table

        keep = None
        if args.keep_from is not None:
            if args.partition_col is None:
                # retention is keyed by partition value; without the
                # column the prune would silently be a no-op and the
                # user's expired partitions would survive unannounced
                print("--keep-from requires --partition-col", file=sys.stderr)
                return 2
            lo = args.keep_from
            keep = lambda v: v >= lo  # noqa: E731
        zc = None
        if args.zorder:
            zc = tuple(c.strip() for c in args.zorder.split(",") if c.strip())
            if len(zc) != 2:
                # validate BEFORE optimize_table runs its destructive
                # retention step — a bad flag must not half-complete
                print("--zorder needs exactly two columns: a,b", file=sys.stderr)
                return 2
        stats = optimize_table(
            spark,
            args.path,
            partition_col=args.partition_col,
            keep=keep,
            zorder_cols=zc,
            target_file_bytes=args.target_file_mb * 1024 * 1024,
            count_rows=args.count_rows,
        )
        print(stats)
        return 0

    if args.cmd == "sql":
        from ug_dwh_etl_spark.queries.adhoc_sql import register_sql_macros, run_sql

        register_sql_macros(spark)
        run_sql(spark, args.sf_dir, args.statement).show(args.limit, truncate=False)
        return 0

    if args.cmd == "daily":
        from ug_dwh_etl_spark.plans.daily import daily_run
        from ug_dwh_etl_spark.sinks.alerts import LoggingAlertSink

        counts = daily_run(spark, args.sf_dir, args.out, alert=LoggingAlertSink())
        for tbl, n in sorted(counts.items()):
            print(f"{tbl}: {n} rows")
        return 0

    # pipeline
    if args.name in ("e1", "e2", "e3"):
        from ug_dwh_etl_spark.plans.reference_pipelines import (
            e1_crawl_pipeline,
            e2_ranks_pipeline,
            e3_bookings_pipeline,
        )
        from ug_dwh_etl_spark.sinks.alerts import LoggingAlertSink

        pipe = {
            "e1": lambda: e1_crawl_pipeline(args.sf_dir, args.out),
            "e2": lambda: e2_ranks_pipeline(args.out),
            "e3": lambda: e3_bookings_pipeline(args.sf_dir, args.out),
        }[args.name]()
        ok = pipe.run(spark, alert=LoggingAlertSink())
        print(f"{pipe.name}: gates {'passed' if ok else 'FAILED'}, sinks written to {args.out}")
        return 0 if ok else 1

    from ug_dwh_etl_spark.plans.daily import land

    tbl = land(spark, args.sf_dir, args.out, args.name)
    print(f"{args.name}: {spark.read.parquet(f'{args.out}/{tbl}').count()} rows in {args.out}/{tbl}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
