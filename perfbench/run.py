"""Benchmark of the engine: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload dashboard|warehouse_day|corpus_graph \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the inputs under
``.perfbench/`` (generated tables and the DuckDB oracles' digests); every
run then starts a fresh worker process (``worker.py``) on ``local[<cpus>]``
that sets up a session, runs whole passes of the workload's ops until
``--seconds`` would be exceeded (at least one), and checks each result.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
workload untraced and then traced, with Spark's event log, a streaming
listener and spans around every call into the engine's layers, and
prints the per-layer metrics. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import datagen
import metrics
import procfs
import tracing
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
SCALE, DATA_SEED = 0.1, 42
# a run ends within this many seconds of starting, the input build aside
RUN_BUDGET_S = 170
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "cpu_s": "s"}


def build() -> tuple[str, str]:
    """Generate the input tables and digest the oracles, once per checkout."""
    data = os.path.join(STATE, f"sf{SCALE}")
    done = os.path.join(data, "_DONE")
    if not os.path.exists(done):
        datagen.write(data, SCALE, DATA_SEED)
        open(done, "w").close()
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import oracle

    expected = os.path.join(STATE, "oracle.json")
    oracle.build(ROOT, data, workloads.oracle_names(), expected)
    return data, expected


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def run_worker(args, traced: bool, data: str, expected: str, deadline: float) -> dict:
    """One worker process, killed at ``deadline``; returns its JSON plus
    the tree's peak RSS."""
    work = os.path.join(STATE, f"run-{os.getpid()}-{int(traced)}")
    shutil.rmtree(work, ignore_errors=True)
    tmp, eventlog = os.path.join(work, "tmp"), os.path.join(work, "eventlog")
    os.makedirs(tmp)
    os.makedirs(eventlog)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        # every per-process temp dir of the engine lives under TMPDIR
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "spark-warehouse"),
        # keep the JVM's temp files and perf-data file out of /tmp too
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    if traced:
        env["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{eventlog} "
            "--conf spark.eventLog.compress=false pyspark-shell"
        )
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "worker.log")
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "worker.py"), args.workload,
           str(args.seed), str(args.seconds), str(int(traced)), data,
           work, expected, out, repr(time.time())]
    peak = 0.0
    try:
        with open(log, "w") as fh:
            proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=fh, stderr=fh,
                                    start_new_session=True)
            while proc.poll() is None and time.time() < deadline:
                peak = max(peak, procfs.rss_mb(procfs.tree(proc.pid)))
                time.sleep(0.25)
            if proc.poll() is None:
                proc.kill()
            proc.wait()
            # the JVM and Python workers share the worker's process group;
            # their session is stopped and their files are under ``work``
            for _ in range(100):
                if not _group_alive(proc.pid):
                    break
                os.killpg(proc.pid, signal.SIGKILL)
                time.sleep(0.05)
        if not os.path.exists(out):
            with open(log) as fh:
                tail = fh.readlines()[-30:]
            raise RuntimeError(f"worker failed (exit {proc.returncode}):\n" + "".join(tail))
        with open(out) as fh:
            res = json.load(fh)
        res["peak_rss_mb"] = peak
        if traced:
            res["jobs"] = tracing.read_eventlog(eventlog)
            res["files_written"] = sum(p["files"] for p in res["passes"])
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def end_to_end(res: dict) -> dict:
    return {
        "setup_s": res["setup_s"],
        "wall_s": metrics.median([p["wall_s"] for p in res["passes"]]),
        "cpu_s": metrics.median([p["cpu_s"] for p in res["passes"]]),
    }


def per_layer(res: dict, untraced_wall: float) -> tuple[dict, dict]:
    t = res["trace"]
    extra = {
        "start_s": res["start_s"],
        "warmup_s": res["warmup_s"],
        "pyworker_cpu_s": sum(p["pyworker_cpu_s"] for p in res["passes"]),
        "files_written": res["files_written"],
    }
    m, recon = tracing.layer_metrics(res["ops"], t["spans"], res["jobs"],
                                     t["batches"], t["materialize"], extra)
    m["process.peak_rss_mb"] = res["peak_rss_mb"]
    wall = metrics.median([p["wall_s"] for p in res["passes"]])
    m["trace.overhead_ratio"] = wall / untraced_wall
    return m, recon


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    if not os.path.isfile(os.path.join(ROOT, "ug_dwh_etl_spark", "session.py")):
        print("perfbench: ug_dwh_etl_spark/ not found; run from a checkout of the "
              "repository", file=sys.stderr)
        return 2

    data, expected = build()
    deadline = time.time() + RUN_BUDGET_S
    untraced = run_worker(args, False, data, expected, deadline)
    if args.trace:
        res = run_worker(args, True, data, expected, deadline)
        out, recon = per_layer(res, end_to_end(untraced)["wall_s"])
        out = {k: out[k] for k in tracing.UNITS}
        units, ops = tracing.UNITS, res["ops"] + untraced["ops"]
        print(f"reconcile: max |build+execute-wall|/wall {recon['build_execute']:.4f}, "
              f"max |gap+jobs-wall|/wall {recon['gap_jobs']:.4f}")
    else:
        res = untraced
        out, units, ops = end_to_end(res), E2E_UNITS, res["ops"]
        print(f"{'peak_rss_mb (diagnostic)':32s} {res['peak_rss_mb']:14.1f} MB")
    lat = [op["t1"] - op["t0"] for op in res["ops"]]
    pct, tail = metrics.tail(lat)
    for op in ops:
        print(f"op {op['id']:40s} {op['t1'] - op['t0']:8.3f} s", file=sys.stderr)
    failed = [op for op in ops if op["error"]]
    for op in failed:
        print(f"FAIL {op['name']}: {op['error']}", file=sys.stderr)
    for k, v in out.items():
        print(f"{k:32s} {v:14.4f} {units[k]}")
    print(f"{'op_p50_s (diagnostic)':32s} {metrics.median(lat):14.4f} s")
    print(f"{'op_tail_s (diagnostic)':32s} {tail:14.4f} s  p{pct:.1f} of {len(lat)} ops")
    print(f"{'fail_ratio':32s} {len(failed) / len(ops):14.4f} ratio")
    print(f"{'steal_s (diagnostic)':32s} {res['steal_s']:14.4f} s")
    print(f"{'run_s (diagnostic)':32s} {time.time() - started:14.4f} s")
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in out.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
