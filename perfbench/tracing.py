"""Traced-run plumbing, all from outside the engine.

- ``Tracer`` keeps spans in memory: id, parent, layer, name, start, end
  and the op they belong to. Times are epoch seconds, the clock Spark's
  event log uses.
- ``install`` wraps the public functions of the engine's layer modules
  (and ``Pipeline.run``) and rebinds every name in the package that was
  bound to an original, so ``from … import`` users see the wrapper too.
- ``ProgressLog`` is a ``StreamingQueryListener`` that keeps each
  micro-batch's durations, input rows and state size.
- ``read_eventlog`` turns Spark's event log into jobs with their tasks'
  counters summed.
- ``layer_metrics`` combines the four into the per-layer numbers.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import json
import operator
import os
import pkgutil
import re
import sys
import threading
import time
from contextlib import contextmanager
from datetime import datetime

from metrics import clip, innermost, self_times, union_length

PKG = "ug_dwh_etl_spark"
# sub-package → layer; operators are split per module (operators.graph, …)
LAYERS = ("sources", "functions", "operators", "plans", "sinks", "streaming")
# reference pipeline → warehouse tables its sink writes (plans/daily.py)
PIPELINE_TABLES = {
    "e1": ("bq_content_history", "bq_content"),
    "e2": ("bq_audisto_ranks",),
    "e3": ("bq_bookings",),
    "e4": ("bq_images",),
    "e5": ("bq_orphan_urls",),
    "e6": ("bq_inlinks",),
    "e7": ("bq_backlinks",),
    "e8": ("bq_hreflang_issues",),
}

# every per-layer metric with its unit, in report order
UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "sources.read_s": "s", "sources.input_mb": "MB",
    "functions.calls": "count", "functions.self_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "queries.execute_s": "s", "queries.driver_gap_s": "s",
    "queries.artifact_builds": "count", "queries.artifact_build_s": "s",
    "queries.artifact_reuse_ratio": "ratio",
    "operators.graph.self_s": "s", "operators.graph.jobs": "count",
    "operators.dedup.self_s": "s", "operators.similarity.self_s": "s",
    "operators.pyworker_cpu_s": "s",
    **{f"plans.e{i}_s": "s" for i in range(1, 9)},
    "plans.gate_s": "s", "plans.gate_share": "ratio",
    "sinks.write_s": "s", "sinks.maintain_s": "s", "sinks.rows_written": "count",
    "sinks.mb_written": "MB", "sinks.files_written": "count",
    "streaming.batches": "count", "streaming.trigger_s": "s",
    "streaming.planning_s": "s", "streaming.add_batch_s": "s",
    "streaming.commit_s": "s", "streaming.overhead_s": "s",
    "streaming.rows_per_s": "1/s", "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "engine.jobs": "count", "engine.stages": "count", "engine.tasks": "count",
    "engine.executor_cpu_s": "s", "engine.shuffle_write_mb": "MB",
    "engine.shuffle_read_mb": "MB", "engine.spill_mb": "MB", "engine.gc_s": "s",
    "engine.task_failures": "count",
    "process.peak_rss_mb": "MB",
    "trace.overhead_ratio": "ratio",
}


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op: str | None = None
        self._ids = itertools.count(1)
        self._tls = threading.local()

    @contextmanager
    def span(self, layer: str, name: str, target: str | None = None):
        stack = self._tls.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            stack.pop()
            self.spans.append(
                {"id": sid, "parent": parent, "layer": layer, "name": name,
                 "target": target, "t0": t0, "t1": t1, "op": self.op}
            )


def _target(args: tuple) -> str | None:
    """A label for the call: a pipeline's name, else the last path
    segment of its first path argument (a sink's table)."""
    for a in args:
        if type(a).__name__ == "Pipeline":
            return a.name
        if isinstance(a, str) and "/" in a:
            return os.path.basename(a.rstrip("/"))
    return None


class _Traced:
    """Records a span around each call of ``fn``. Pickles as ``fn``
    itself, so a wrapped function shipped to a Python worker runs bare."""

    def __init__(self, tracer: Tracer, fn, layer: str) -> None:
        functools.update_wrapper(self, fn)
        self._tracer, self._fn, self._layer = tracer, fn, layer

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._layer, self._fn.__qualname__, _target(args)):
            return self._fn(*args, **kwargs)

    def __get__(self, obj, cls=None):
        return self if obj is None else functools.partial(self, obj)

    def __reduce__(self):
        return operator.itemgetter(0), ([self._fn],)


def _layer(modname: str) -> str | None:
    parts = modname.split(".")
    if len(parts) < 2 or parts[0] != PKG or parts[1] not in LAYERS:
        return None
    if parts[1] == "operators" and len(parts) > 2:
        return f"operators.{parts[2]}"
    return parts[1]


def install(tracer: Tracer) -> None:
    """Wrap the layer modules' public functions, then import the query
    modules and rebind every package name bound to an original."""
    for sub in LAYERS:
        pkg = importlib.import_module(f"{PKG}.{sub}")
        for info in pkgutil.iter_modules(pkg.__path__, f"{PKG}.{sub}."):
            importlib.import_module(info.name)
    from ug_dwh_etl_spark.plans.pipeline import Pipeline
    from ug_dwh_etl_spark.queries import registry

    wrapped: dict = {}
    for modname, mod in list(sys.modules.items()):
        layer = _layer(modname)
        if layer is None:
            continue
        for attr, obj in vars(mod).items():
            if (
                not attr.startswith("_")
                and inspect.isfunction(obj)
                and obj.__module__ == modname
                and not hasattr(obj, "evalType")  # a UDF object, not a call
            ):
                wrapped[obj] = _Traced(tracer, obj, layer)
    for fn, layer in (
        (registry.table, "sources"),
        (registry.read_events, "sources"),
        (registry.materialize_once, "queries.artifact"),
    ):
        wrapped[fn] = _Traced(tracer, fn, layer)
    Pipeline.run = _Traced(tracer, Pipeline.run, "plans")

    importlib.import_module(f"{PKG}.queries")
    for modname, mod in list(sys.modules.items()):
        if modname == PKG or modname.startswith(PKG + "."):
            for attr, obj in list(vars(mod).items()):
                if inspect.isfunction(obj) and obj in wrapped:
                    setattr(mod, attr, wrapped[obj])


def progress_listener():
    """A ``StreamingQueryListener`` keeping one record per micro-batch."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            self.batches: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self.batches.append(
                {
                    "query": str(p.id),
                    "t": datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
                    "ms": dict(p.durationMs),
                    "rows": p.numInputRows,
                    "state": [
                        {"rows": s.numRowsTotal, "bytes": s.memoryUsedBytes,
                         "commit_ms": s.commitTimeMs}
                        for s in p.stateOperators
                    ],
                }
            )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressLog()


def _event_files(log_dir: str) -> list[str]:
    """Event-log files in read order: a rolling log's ``events_<n>_<app>``
    parts by ``n``; status markers and checksums skipped."""
    out = []
    for root, _dirs, files in os.walk(log_dir):
        for f in files:
            if f.startswith((".", "appstatus")) or f.endswith(".crc"):
                continue
            m = re.match(r"events_(\d+)_", f)
            out.append((root, int(m.group(1)) if m else 0, os.path.join(root, f)))
    return [p for *_k, p in sorted(out)]


def read_eventlog(log_dir: str) -> list[dict]:
    """Jobs from Spark's event log, each with submit/end times (epoch
    seconds), its local properties and its tasks' counters summed."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    n_stages: dict[int, set] = {}
    for path in _event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "id": jid, "t0": ev["Submission Time"] / 1e3, "t1": None,
                        "props": ev.get("Properties") or {},
                        "stages": 0, "tasks": 0, "failed_tasks": 0, "cpu_s": 0.0,
                        "gc_s": 0.0, "in_mb": 0.0, "out_mb": 0.0, "out_rows": 0,
                        "shw_mb": 0.0, "shr_mb": 0.0, "spill_mb": 0.0,
                    }
                    for sid in ev.get("Stage IDs", ()):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_job:
                        n_stages.setdefault(stage_job[sid], set()).add(sid)
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_job:
                    j = jobs[stage_job[ev["Stage ID"]]]
                    j["tasks"] += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        j["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    j["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    j["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    j["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
                    j["in_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 1e6
                    om = m.get("Output Metrics") or {}
                    j["out_mb"] += om.get("Bytes Written", 0) / 1e6
                    j["out_rows"] += om.get("Records Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    j["shr_mb"] += (sr.get("Remote Bytes Read", 0)
                                    + sr.get("Local Bytes Read", 0)) / 1e6
                    sw = m.get("Shuffle Write Metrics") or {}
                    j["shw_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
    for jid, j in jobs.items():
        j["stages"] = len(n_stages.get(jid, ()))
        if j["t1"] is None:  # never ended (cancelled): treat as instantaneous
            j["t1"] = j["t0"]
    return sorted(jobs.values(), key=lambda j: j["t0"])


def _op_of_time(ops: list[dict], t: float) -> dict | None:
    for op in ops:
        if op["t0"] <= t < op["t1"]:
            return op
    return None


def layer_metrics(ops, spans, jobs, batches, mat_events, extra) -> tuple[dict, dict]:
    """Per-layer metrics of one traced pass, and the per-op reconciliation
    of ``build + execute`` and ``driver gap + job union`` against op wall.

    ``ops`` are the worker's op records (``id``, ``t0``, ``t1``, ``build``
    and ``execute`` windows); each job belongs to the op named by its
    ``perfbench.op`` property, else to the op whose streaming query ran
    it, else to the op open when it was submitted."""
    by_id = {op["id"]: op for op in ops}
    query_op: dict[str, str] = {}
    for b in batches:
        op = _op_of_time(ops, b["t"])
        if op is not None:
            query_op.setdefault(b["query"], op["id"])
    spans_of: dict[str, list[dict]] = {}
    for s in spans:
        spans_of.setdefault(s["op"], []).append(s)
    selft = self_times(spans)

    op_jobs: dict[str, list[dict]] = {op["id"]: [] for op in ops}
    for j in jobs:
        oid = j["props"].get("perfbench.op")
        if oid not in by_id:
            oid = query_op.get(j["props"].get("sql.streaming.queryId"))
        if oid is None:
            op = _op_of_time(ops, j["t0"])
            oid = op and op["id"]
        if oid is None:
            continue  # set-up and warm-up jobs
        op_jobs[oid].append(j)
        s = innermost(spans_of.get(oid, ()), j["t0"])
        j["layer"] = s["layer"] if s else "queries"

    m: dict[str, float] = {}
    recon = {"build_execute": 0.0, "gap_jobs": 0.0}
    build = execute = gap = 0.0
    build_jobs = 0
    for op in ops:
        wall = op["t1"] - op["t0"]
        b = op["build"][1] - op["build"][0]
        e = op["execute"][1] - op["execute"][0]
        spans_j = [(j["t0"], j["t1"]) for j in op_jobs[op["id"]]]
        covered = union_length(clip(iv, op["t0"], op["t1"]) for iv in spans_j)
        build, execute, gap = build + b, execute + e, gap + wall - covered
        build_jobs += sum(op["build"][0] <= t0 < op["build"][1] for t0, _ in spans_j)
        recon["build_execute"] = max(recon["build_execute"], abs(b + e - wall) / wall)
        # a job attributed to the op but running outside its window
        # breaks the second identity by the part outside
        recon["gap_jobs"] = max(recon["gap_jobs"], (union_length(spans_j) - covered) / wall)
    m["queries.build_s"] = build
    m["queries.build_jobs"] = build_jobs
    m["queries.execute_s"] = execute
    m["queries.driver_gap_s"] = gap

    built = [e for e in mat_events if e["built"]]
    m["queries.artifact_builds"] = len(built)
    m["queries.artifact_build_s"] = sum(e["secs"] for e in built)
    m["queries.artifact_reuse_ratio"] = (
        (len(mat_events) - len(built)) / len(mat_events) if mat_events else 0.0
    )

    def outer(layer_pred) -> list[dict]:
        """Spans of a layer not nested in another span of the same layer."""
        ids = {s["id"] for s in spans if layer_pred(s)}
        parent = {s["id"]: s["parent"] for s in spans}

        def nested(s):
            p = s["parent"]
            while p is not None:
                if p in ids:
                    return True
                p = parent.get(p)
            return False

        return [s for s in spans if s["id"] in ids and not nested(s)]

    def dur(ss) -> float:
        return sum(s["t1"] - s["t0"] for s in ss)

    def selfsum(layer: str) -> float:
        return sum(selft[s["id"]] for s in spans if s["layer"] == layer)

    m["session.start_s"] = extra["start_s"]
    m["session.warmup_s"] = extra["warmup_s"]
    m["sources.read_s"] = dur(outer(lambda s: s["layer"] == "sources"))
    op_jobs_all = [j for js in op_jobs.values() for j in js]
    m["sources.input_mb"] = sum(j["in_mb"] for j in op_jobs_all)
    m["functions.calls"] = sum(s["layer"] == "functions" for s in spans)
    m["functions.self_s"] = selfsum("functions")

    m["operators.graph.self_s"] = selfsum("operators.graph")
    m["operators.graph.jobs"] = sum(j.get("layer") == "operators.graph" for j in op_jobs_all)
    m["operators.dedup.self_s"] = selfsum("operators.dedup")
    m["operators.similarity.self_s"] = selfsum("operators.similarity")
    m["operators.pyworker_cpu_s"] = extra["pyworker_cpu_s"]

    def in_pipeline(s: dict, key: str) -> bool:
        if s["layer"] == "plans":
            return s["name"].startswith(key + "_") or (s["target"] or "").startswith(key + "_")
        return s["layer"] == "sinks" and s["target"] in PIPELINE_TABLES[key]

    total_pipe = 0.0
    for key in PIPELINE_TABLES:
        m[f"plans.{key}_s"] = dur(outer(lambda s, key=key: in_pipeline(s, key)))
        total_pipe += m[f"plans.{key}_s"]
    m["plans.gate_s"] = dur(outer(lambda s: s["name"] == "expect"))
    m["plans.gate_share"] = m["plans.gate_s"] / total_pipe if total_pipe else 0.0

    m["sinks.write_s"] = dur(outer(lambda s: s["layer"] == "sinks"
                                   or s["name"] == "backfill_run"))
    m["sinks.maintain_s"] = dur(outer(lambda s: s["name"] == "optimize_table"))
    m["sinks.rows_written"] = sum(j["out_rows"] for j in op_jobs_all)
    m["sinks.mb_written"] = sum(j["out_mb"] for j in op_jobs_all)
    m["sinks.files_written"] = extra["files_written"]

    trig = sum(b["ms"].get("triggerExecution", 0) for b in batches) / 1e3
    m["streaming.batches"] = len(batches)
    m["streaming.trigger_s"] = trig
    m["streaming.planning_s"] = sum(b["ms"].get("queryPlanning", 0) for b in batches) / 1e3
    m["streaming.add_batch_s"] = sum(b["ms"].get("addBatch", 0) for b in batches) / 1e3
    m["streaming.commit_s"] = sum(
        b["ms"].get("walCommit", 0) + b["ms"].get("commitOffsets", 0)
        + sum(s["commit_ms"] for s in b["state"])
        for b in batches
    ) / 1e3
    m["streaming.overhead_s"] = sum(
        by_id[o]["t1"] - by_id[o]["t0"] for o in set(query_op.values())
    ) - trig
    m["streaming.rows_per_s"] = sum(b["rows"] for b in batches) / trig if trig else 0.0
    last: dict[str, dict] = {}
    for b in batches:
        last[b["query"]] = b
    m["streaming.state_rows"] = sum(s["rows"] for b in last.values() for s in b["state"])
    m["streaming.state_mb"] = sum(s["bytes"] for b in last.values() for s in b["state"]) / 1e6

    m["engine.jobs"] = len(op_jobs_all)
    m["engine.stages"] = sum(j["stages"] for j in op_jobs_all)
    m["engine.tasks"] = sum(j["tasks"] for j in op_jobs_all)
    m["engine.executor_cpu_s"] = sum(j["cpu_s"] for j in op_jobs_all)
    m["engine.shuffle_write_mb"] = sum(j["shw_mb"] for j in op_jobs_all)
    m["engine.shuffle_read_mb"] = sum(j["shr_mb"] for j in op_jobs_all)
    m["engine.spill_mb"] = sum(j["spill_mb"] for j in op_jobs_all)
    m["engine.gc_s"] = sum(j["gc_s"] for j in op_jobs_all)
    m["engine.task_failures"] = sum(j["failed_tasks"] for j in op_jobs_all)
    return m, recon
