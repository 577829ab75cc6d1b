"""One benchmark run in a fresh process: set up a session, run passes of a
workload's ops in a closed loop (one client, next op after the previous
result), check every result, and write what was measured as JSON.

Started by ``run.py`` with the environment set there; not meant to be run
by hand. Arguments: workload seed seconds trace(0|1) sf_dir work_dir
expected.json out.json spawn_time.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

import procfs
import workloads


def tree_cpu() -> tuple[float, float]:
    """CPU seconds of this process tree, and of its Python workers."""
    pids = procfs.tree(os.getpid())
    workers = [p for p in pids if " -m pyspark." in procfs.cmdline(p)]
    return procfs.cpu_s(pids), procfs.cpu_s(workers)


def count_files(path: str) -> int:
    return sum(
        f.endswith(".parquet") for _r, _d, files in os.walk(path) for f in files
    )


def warm_up(spark, sf_dir: str) -> None:
    """The benchmark's fixed warm-up: the first job of the session and a
    first parquet read."""
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()


def main(argv: list[str]) -> int:
    workload, seed, seconds, traced = argv[0], int(argv[1]), float(argv[2]), argv[3] == "1"
    sf_dir, work_dir, expected_path, out_path, spawned = argv[4:9]
    with open(expected_path) as fh:
        expected = json.load(fh)["digests"]
    ops, dates = workloads.plan(workload, seed)

    tracer = listener = None
    if traced:
        import tracing as tr

        tracer = tr.Tracer()
        tr.install(tracer)  # before the query modules bind layer functions
    import ug_dwh_etl_spark.queries  # noqa: F401 — registers every query
    from ug_dwh_etl_spark.operators.storage import optimize_table
    from ug_dwh_etl_spark.plans.daily import backfill_run, daily_run
    from ug_dwh_etl_spark.queries.registry import MATERIALIZE_EVENTS, QUERIES
    from ug_dwh_etl_spark.session import get_spark

    from oracle import Digester

    digest = Digester(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    t0 = time.time()
    spark = get_spark("perfbench")
    t1 = time.time()
    warm_up(spark, sf_dir)
    t2 = time.time()
    setup = {"setup_s": t2 - float(spawned), "start_s": t1 - t0, "warmup_s": t2 - t1}
    if traced:
        listener = tr.progress_listener()
        spark.streams.addListener(listener)
    sc = spark.sparkContext

    def check_counts(got: dict, want: dict) -> str | None:
        bad = {t: (got.get(t), n) for t, n in want.items() if got.get(t) != n}
        return f"row counts (got, want): {bad}" if bad else None

    day_rows: dict[str, int] = {}
    snap_rows: dict[str, int] = {}
    if workload == "warehouse_day":
        day_rows = {t: expected[q]["rows"] for t, q in workloads.HISTORY_TABLES.items()}
        snap_rows = {t: expected[q]["rows"] for t, q in workloads.SNAPSHOT_TABLES.items()}

    passes, records = [], []
    steal0 = procfs.steal_s()
    run_t0 = time.time()
    while True:
        wh = os.path.join(work_dir, f"warehouse_{len(passes)}")
        wall = cpu = pycpu = 0.0
        for i, op in enumerate(ops):
            oid = f"{len(passes)}:{i}:{op.name}"
            if traced:
                tracer.op = oid
                sc.setLocalProperty("perfbench.op", oid)
            c0, w0 = tree_cpu()
            err, result = None, None
            a = time.time()
            b = c = a  # a step has no build phase: all of it is execution
            try:
                if op.kind == "query":
                    df = QUERIES[op.name].fn(spark, sf_dir)
                    b = time.time()
                    result = df.toPandas()
                elif op.name == "daily_run":
                    result = daily_run(spark, sf_dir, wh)
                elif op.name == "backfill_run":
                    result = backfill_run(spark, sf_dir, wh, dates)
                else:
                    result = optimize_table(spark, f"{wh}/{workloads.MAINTAINED_TABLE}",
                                            partition_col="crawl_date")
                c = time.time()
            except Exception:  # an op that raises is counted, not fatal
                c = time.time()
                err = traceback.format_exc(limit=3)
            c1, w1 = tree_cpu()
            if traced:
                tracer.op = None
                sc.setLocalProperty("perfbench.op", None)
            wall += c - a
            cpu += c1 - c0
            pycpu += w1 - w0
            # checks, outside the timed region
            if err is None and op.kind == "query":
                got, want = digest(result), expected[op.name]
                if got != want:
                    err = f"result {got} != oracle {want}"
            elif err is None and op.name == "daily_run":
                err = check_counts(result, {**day_rows, **snap_rows})
            elif err is None and op.name == "backfill_run":
                n = 1 + len(dates)  # the daily partition and each backfilled one
                err = check_counts(result, {t: n * r for t, r in day_rows.items()})
            elif err is None:
                t = workloads.MAINTAINED_TABLE
                got = spark.read.parquet(f"{wh}/{t}").count()
                err = check_counts({t: got}, {t: (1 + len(dates)) * day_rows[t]})
            records.append({"id": oid, "name": op.name, "t0": a, "t1": c,
                            "build": (a, b), "execute": (b, c), "error": err})
        passes.append({"wall_s": wall, "cpu_s": cpu, "pyworker_cpu_s": pycpu,
                       "files": count_files(wh)})
        elapsed = time.time() - run_t0
        if elapsed + passes[-1]["wall_s"] > seconds:
            break

    out = {**setup, "passes": passes, "ops": records,
           "steal_s": procfs.steal_s() - steal0}
    if traced:
        deadline = time.time() + 5
        while spark.streams.active and time.time() < deadline:
            time.sleep(0.1)
        time.sleep(1.0)  # let the last progress events reach the listener
        out["trace"] = {"spans": tracer.spans, "batches": listener.batches,
                        "materialize": list(MATERIALIZE_EVENTS)}
    spark.stop()
    with open(out_path, "w") as fh:
        json.dump(out, fh)
    return 0


if __name__ == "__main__":
    code = main(sys.argv[1:])
    # the result is on disk and the session stopped: skip interpreter and
    # gateway teardown, run.py ends the JVM with the process group
    os._exit(code)
