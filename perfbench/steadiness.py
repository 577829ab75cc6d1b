"""Steadiness check: two sets of runs of every workload, one seed per run,
with the runs of the two sets interleaved so that a drift of the machine
reaches both alike. For each end-to-end metric it prints each set's median
and spread (first-to-third quartile distance over the median), the ratio
of the medians, and the bound in BENCHMARK.json.

    python3 perfbench/steadiness.py [--runs 10] [--seeds 1000 2000]

Prints a markdown table; exits 1 if a spread other than set-up's exceeds
its bound, if the medians of the two sets differ by more than the bound on
any metric, set-up included, or if a run fails or reports an incorrect
result.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import metrics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(bench: dict, workload: str, seed: int) -> dict | None:
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    if res is None or not res["correct"]:
        print(f"run failed: {workload} seed {seed}\n{proc.stderr[-2000:]}", file=sys.stderr)
        return None
    return res


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seeds", type=int, nargs=2, default=(1000, 2000),
                    help="first seed of set A and of set B")
    ap.add_argument("--workloads", nargs="*")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = args.workloads or [w["name"] for w in bench["workloads"]]
    # values[workload][set][metric]
    values = {w: ({}, {}) for w in names}
    ok = True
    for i in range(args.runs):
        for w in names:
            for s, first in enumerate(args.seeds):
                res = run(bench, w, first + i)
                if res is None:
                    ok = False
                    continue
                for k, v in res["metrics"].items():
                    values[w][s].setdefault(k, []).append(v["value"])
                print(f"{'AB'[s]} {w} {first + i} " + " ".join(
                    f"{k}={v['value']:.3f}" for k, v in res["metrics"].items()),
                    file=sys.stderr, flush=True)
    print("| workload | metric | median A | spread A | median B | spread B | B / A | bound |")
    print("|---|---|---|---|---|---|---|---|")
    for w in names:
        for m in bench["end_to_end"]:
            a, b = (values[w][s].get(m["name"], []) for s in (0, 1))
            if len(a) < 2 or len(b) < 2:
                continue
            (ma, sa), (mb, sb) = ((metrics.median(v), metrics.spread(v)) for v in (a, b))
            bound = m["bound"]
            if m["name"] != "setup_s" and max(sa, sb) > bound:
                ok = False
            if abs(mb / ma - 1) > bound:
                ok = False
            print(f"| {w} | {m['name']} | {ma:.2f} {m['unit']} | {sa:.3f} | "
                  f"{mb:.2f} {m['unit']} | {sb:.3f} | {mb / ma:.3f} | {bound} |", flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
