"""Traced-run instrumentation: layer spans and Spark event-log counters.

Spans are recorded from the benchmark's side of each layer boundary: the
benchmark replaces the public functions of the engine's layers with thin
timing wrappers (``install``) and puts them back afterwards. Nothing in
the engine changes. Spans live in memory and are written once, with the
run's artifact.

Counters come from Spark itself: the run enables an uncompressed,
non-rolling event log before the JVM starts, tags every op's jobs with a
job group, and ``EventLog`` folds the log's job, stage, task, SQL and
streaming-progress events into per-op layer metrics after ``spark.stop()``.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

#: plan nodes whose SQL metrics are the Arrow/pandas boundary
PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas", "MapInPandas", "MapInArrow",
    "AggregateInPandas", "WindowInPandas", "ArrowEvalPythonUDTF",
)
_PY_METRICS = {
    "number of output rows": "python_rows",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes ``span`` a bare
    context manager so untraced runs pay one generator per op only."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "parent": self._stack[-1] if self._stack else None,
               "name": name, "layer": layer, "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)
        return wrapper

    def descendants(self, root: dict) -> list[dict]:
        out, frontier = [], {root["id"]}
        for s in self.spans[root["id"] + 1:]:
            if s["parent"] in frontier:
                out.append(s)
                frontier.add(s["id"])
        return out


def _rebind(original, replacement, prefix: str = "vector_db_core_spark") -> None:
    """Point every module-level binding of ``original`` under ``prefix`` at
    ``replacement`` (``from x import f`` copies the function into each
    importing module, so patching the defining module alone misses the
    call sites)."""
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(prefix):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, replacement)


class Instrumentation:
    """Installs (and removes) the layer wrappers for one traced run."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._undo: list = []

    def _swap_function(self, original, name: str, layer: str):
        wrapped = self.tracer.wrap(original, name, layer)
        _rebind(original, wrapped)
        self._undo.append(lambda: _rebind(wrapped, original))

    def _swap_method(self, cls, method: str, layer: str):
        original = cls.__dict__[method]
        setattr(cls, method, self.tracer.wrap(original, method, layer))
        self._undo.append(lambda: setattr(cls, method, original))

    def install(self) -> None:
        from vector_db_core_spark import cache, checkpoint, scratch, sources
        from vector_db_core_spark.store import OrdinalStore
        from vector_db_core_spark.streaming.ingest import IngestBuffer

        def traced_cached_table(fn):
            @functools.wraps(fn)
            def inner(spark, key, sf_dir, *args, **kwargs):
                before = scratch.build_count(key, sf_dir)
                with self.tracer.span("cached_table", "scratch", key=key) as rec:
                    out = fn(spark, key, sf_dir, *args, **kwargs)
                    rec["built"] = scratch.build_count(key, sf_dir) > before
                    return out
            return inner

        self._swap_function(sources.loaders.load_table, "load_table", "sources")
        self._swap_function(checkpoint.loop_checkpoint, "loop_checkpoint", "checkpoint")
        self._swap_function(cache.hot_table, "hot_table", "cache")
        original_ct = scratch.cached_table
        wrapped_ct = traced_cached_table(original_ct)
        _rebind(original_ct, wrapped_ct)
        self._undo.append(lambda: _rebind(wrapped_ct, original_ct))
        for m in ("pushx", "count", "pullx", "getall", "ordered_spans", "pull_row"):
            self._swap_method(OrdinalStore, m, "store")
        for m in ("push", "flush", "close"):
            self._swap_method(IngestBuffer, m, "ingest")

    def remove(self) -> None:
        while self._undo:
            self._undo.pop()()


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

def _plan_python_metrics(plan: dict, out: dict[int, str]) -> None:
    if plan.get("nodeName", "").split(" ")[0] in PYTHON_NODES:
        for m in plan.get("metrics", ()):
            key = _PY_METRICS.get(m.get("name"))
            if key:
                out[m["accumulatorId"]] = key
    for child in plan.get("children", ()):
        _plan_python_metrics(child, out)


class EventLog:
    """The parts of one application's event log the layer metrics need."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stages_done: dict[int, int] = defaultdict(int)
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        self.sql_start: dict[int, float] = {}
        self.sql_replans: dict[int, int] = defaultdict(int)
        self.py_accums: dict[int, str] = {}
        self.progress: list[dict] = []
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = {
                "id": e["Job ID"],
                "submit": e["Submission Time"] / 1000.0,
                "end": None,
                "group": props.get("spark.jobGroup.id"),
                "sql": int(props["spark.sql.execution.id"]) if props.get("spark.sql.execution.id") else None,
            }
            self.jobs[job["id"]] = job
            for sid in e.get("Stage IDs", ()):
                self.stage_job[sid] = job["id"]
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            if sid in self.stage_job:
                self.stages_done[self.stage_job[sid]] += 1
        elif kind == "SparkListenerTaskEnd":
            job = self.stage_job.get(e["Stage ID"])
            if job is not None:
                self.tasks[job].append(self._task(e))
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.sql_start[e["executionId"]] = e["time"] / 1000.0
            _plan_python_metrics(e.get("sparkPlanInfo", {}), self.py_accums)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self.sql_replans[e["executionId"]] += 1
            _plan_python_metrics(e.get("sparkPlanInfo", {}), self.py_accums)
        elif kind.endswith("QueryProgressEvent"):
            self.progress.append(e["progress"])

    def _task(self, e: dict) -> dict:
        m = e.get("Task Metrics") or {}
        inp = m.get("Input Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        accums = [(a.get("ID"), a.get("Update")) for a in (e.get("Task Info") or {}).get("Accumulables", ())]
        return {
            "failed": (e.get("Task End Reason") or {}).get("Reason") != "Success",
            "run_ms": m.get("Executor Run Time", 0),
            "cpu_ns": m.get("Executor CPU Time", 0),
            "gc_ms": m.get("JVM GC Time", 0),
            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            "in_bytes": inp.get("Bytes Read", 0),
            "in_records": inp.get("Records Read", 0),
            "sr_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
            "sr_records": sr.get("Total Records Read", 0),
            "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
            "sw_bytes": sw.get("Shuffle Bytes Written", 0),
            "sw_records": sw.get("Shuffle Records Written", 0),
            "accums": accums,
        }

    def jobs_in_group(self, group: str) -> list[dict]:
        return [j for j in self.jobs.values() if j["group"] == group]


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def op_layer_metrics(log: EventLog, tracer: Tracer, op_span: dict, group: str) -> dict:
    """Every per-layer metric of one op sample: spans give the Python-side
    layers, the event log gives the Spark-side ones."""
    inner = tracer.descendants(op_span)
    wall = op_span["end"] - op_span["start"]
    jobs = log.jobs_in_group(group)
    tasks = [t for j in jobs for t in log.tasks.get(j["id"], ())]
    m: dict[str, float] = defaultdict(float)

    def span_sum(layer: str, name: str | None = None) -> tuple[int, float, list[dict]]:
        ss = [s for s in inner if s["layer"] == layer and (name is None or s["name"] == name)]
        return len(ss), sum(s["end"] - s["start"] for s in ss), ss

    def jobs_within(ss: list[dict]) -> int:
        return sum(1 for j in jobs if any(s["start"] <= j["submit"] <= s["end"] for s in ss))

    n, secs, ss = span_sum("sources", "load_table")
    m["sources.load_table_calls"], m["sources.load_table_s"] = n, secs
    m["sources.load_table_jobs"] = jobs_within(ss)
    _, secs, ss = span_sum("operators", "build")
    m["operators.build_s"], m["operators.build_jobs"] = secs, jobs_within(ss)

    sql_ids = {j["sql"] for j in jobs if j["sql"] is not None}
    first_job: dict[int, float] = {}
    for j in jobs:
        if j["sql"] is not None:
            first_job[j["sql"]] = min(first_job.get(j["sql"], j["submit"]), j["submit"])
    m["planning.driver_only_s"] = wall - _union_s(
        [(j["submit"], j["end"] or op_span["end"]) for j in jobs])
    m["planning.sql_to_first_job_s"] = sum(
        max(0.0, first_job[i] - log.sql_start[i]) for i in first_job if i in log.sql_start)
    m["planning.aqe_replans"] = sum(log.sql_replans.get(i, 0) for i in sql_ids)

    m["scan.input_bytes"] = sum(t["in_bytes"] for t in tasks)
    m["scan.input_records"] = sum(t["in_records"] for t in tasks)
    m["scan.tasks"] = sum(1 for t in tasks if t["in_bytes"] or t["in_records"])
    m["exchange.shuffle_write_bytes"] = sum(t["sw_bytes"] for t in tasks)
    m["exchange.shuffle_read_bytes"] = sum(t["sr_bytes"] for t in tasks)
    m["exchange.shuffle_records"] = sum(t["sw_records"] for t in tasks)
    m["exchange.fetch_wait_s"] = sum(t["fetch_wait_ms"] for t in tasks) / 1000.0
    m["executor.jobs"] = len(jobs)
    m["executor.stages"] = sum(log.stages_done.get(j["id"], 0) for j in jobs)
    m["executor.tasks"] = len(tasks)
    m["executor.run_s"] = sum(t["run_ms"] for t in tasks) / 1000.0
    m["executor.cpu_s"] = sum(t["cpu_ns"] for t in tasks) / 1e9
    m["executor.gc_s"] = sum(t["gc_ms"] for t in tasks) / 1000.0
    m["executor.spill_bytes"] = sum(t["spill"] for t in tasks)
    m["executor.busy_cores"] = m["executor.run_s"] / wall if wall > 0 else 0.0
    m["executor.task_failures"] = sum(1 for t in tasks if t["failed"])
    for t in tasks:
        for acc_id, upd in t["accums"]:
            key = log.py_accums.get(acc_id)
            if key and isinstance(upd, (int, float)):
                m[f"functions.{key}"] += upd
            elif key and isinstance(upd, str) and upd.lstrip("-").isdigit():
                m[f"functions.{key}"] += int(upd)

    scratch_spans = [s for s in inner if s["layer"] == "scratch"]
    built = [s for s in scratch_spans if s.get("built")]
    m["scratch.builds"] = len(built)
    m["scratch.build_s"] = sum(s["end"] - s["start"] for s in built)
    m["scratch.reads"] = len(scratch_spans) - len(built)
    n, secs, ss = span_sum("checkpoint")
    m["checkpoint.calls"], m["checkpoint.s"], m["checkpoint.jobs"] = n, secs, jobs_within(ss)
    _, secs, _ = span_sum("cache", "hot_table")
    m["cache.warm_s"] = secs
    _, secs, ss = span_sum("store", "pushx")
    m["store.pushx_s"], m["store.pushx_jobs"] = secs, jobs_within(ss)
    n, secs, _ = span_sum("store", "count")
    m["store.count_calls"], m["store.count_s"] = n, secs
    _, secs, _ = span_sum("ingest", "push")
    m["ingest.accept_s"] = secs

    prog = [p for p in log.progress
            if op_span["start"] <= _progress_time(p) <= op_span["end"]]
    m["streaming.triggers"] = len(prog)
    for key, dur in (("trigger_s", "triggerExecution"), ("add_batch_s", "addBatch"),
                     ("query_planning_s", "queryPlanning"), ("get_batch_s", "getBatch"),
                     ("wal_commit_s", "walCommit")):
        m[f"streaming.{key}"] = sum((p.get("durationMs") or {}).get(dur, 0) for p in prog) / 1000.0
    last: dict[str, dict] = {}
    for p in prog:
        last[p.get("runId") or p.get("id")] = p
    m["streaming.state_rows"] = sum(s.get("numRowsTotal", 0) for p in last.values()
                                    for s in p.get("stateOperators") or ())
    m["streaming.state_bytes"] = sum(s.get("memoryUsedBytes", 0) for p in last.values()
                                     for s in p.get("stateOperators") or ())
    return dict(m)


def _progress_time(p: dict) -> float:
    from datetime import datetime, timezone

    ts = p.get("timestamp", "")
    try:
        return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()
    except ValueError:
        return 0.0


def self_times(tracer: Tracer) -> dict[str, float]:
    """Per-layer self time: each span's duration minus its children's."""
    child: dict[int, float] = defaultdict(float)
    for s in tracer.spans:
        if s["parent"] is not None and s["end"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = defaultdict(float)
    for s in tracer.spans:
        if s["end"] is not None:
            out[s["layer"]] += (s["end"] - s["start"]) - child[s["id"]]
    return dict(out)
