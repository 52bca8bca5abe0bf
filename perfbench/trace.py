"""Spans recorded by the benchmark around calls into the package's layers,
and the Spark event log that gives executor-side numbers per span.

A span is ``(id, name, parent, run, start, end)``. ``Tracer.span`` opens
one as a context manager; the parent is the innermost open span of the
calling thread, or the current top-level span for threads the benchmark
did not start (``foreachBatch`` callbacks). While a span is open its id
is the Spark job description (``span:<id>``), so every job the call
launches is attributed to it in the event log. ``NullTracer`` has the
same interface and records nothing: untraced runs execute the same code
with no per-call cost beyond an empty context manager.

``EventLog`` reads the JSON event log Spark writes when
``spark.eventLog.enabled`` is set (traced runs only) and sums task metrics
per job: stages, tasks, executor CPU, GC, shuffle bytes and records,
spill, and the Arrow/Python boundary (bytes sent to and rows returned by
Python workers).
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time

_DESC = "spark.job.description"


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, run=None):
        yield None

    def top(self, name: str, run=None):
        return self.span(name, run)


class Tracer:
    enabled = True

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._top: dict | None = None

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, run=None):
        stack = self._stack()
        parent = stack[-1] if stack else self._top
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": run if run is not None else (parent["run"] if parent else None),
        }
        prev = self.sc.getLocalProperty(_DESC)
        self.sc.setJobDescription(f"span:{rec['id']}")
        stack.append(rec)
        rec["wall0"] = time.time()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(_DESC, prev)
            with self._lock:
                self.spans.append(rec)

    @contextlib.contextmanager
    def top(self, name: str, run=None):
        """A top-level span that adopts spans opened on other threads."""
        with self.span(name, run) as rec:
            outer, self._top = self._top, rec
            try:
                yield rec
            finally:
                self._top = outer

    def rebind(self, sc) -> None:
        """Follow a restarted SparkContext."""
        self.sc = sc

    # -- analysis -------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(kids.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


# -- event log -------------------------------------------------------------

_TASK_METRICS = {
    "internal.metrics.executorCpuTime": ("task_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.write.recordsWritten": ("shuffle_records", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
}
_PY_SENT = "data sent to Python workers"
_PY_ROWS = "number of output rows"
_PY_NODES = ("Python", "Pandas", "Arrow")


def _python_row_accumulators(plan: dict, out: set) -> None:
    """Accumulator ids of the output-row metric of Python/Arrow plan nodes."""
    if any(k in plan.get("nodeName", "") for k in _PY_NODES):
        for m in plan.get("metrics", []):
            if m.get("name") == _PY_ROWS:
                out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _python_row_accumulators(child, out)


class EventLog:
    """Per-job executor totals from every event log file under a directory."""

    FIELDS = ("stages", "tasks", "task_cpu_s", "gc_s", "shuffle_write_bytes",
              "shuffle_read_bytes", "shuffle_records", "spill_bytes",
              "python_bytes_sent", "python_rows_returned")

    def __init__(self, log_dir: str):
        self.jobs: dict[tuple[str, int], dict] = {}
        if not os.path.isdir(log_dir):
            return
        for name in sorted(os.listdir(log_dir)):
            self._read(os.path.join(log_dir, name), name)

    def _read(self, path: str, app: str) -> None:
        stage_job: dict[int, tuple[str, int]] = {}
        py_rows: set = set()
        with open(path) as f:
            events = [json.loads(line) for line in f if line.strip()]
        for ev in events:
            kind = ev.get("Event", "")
            if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                _python_row_accumulators(ev.get("sparkPlanInfo", {}), py_rows)
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                key = (app, ev["Job ID"])
                desc = (ev.get("Properties") or {}).get(_DESC) or ""
                self.jobs[key] = dict.fromkeys(self.FIELDS, 0.0) | {
                    "desc": desc, "submit_s": ev.get("Submission Time", 0) / 1000.0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, key)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                job = self.jobs.get(stage_job.get(info["Stage ID"]))
                if job is None:
                    continue
                job["stages"] += 1
                job["tasks"] += info.get("Number of Tasks", 0)
                for acc in info.get("Accumulables", []):
                    name, value = acc.get("Name"), acc.get("Value")
                    try:
                        value = float(value)
                    except (TypeError, ValueError):
                        continue
                    if name in _TASK_METRICS:
                        field, scale = _TASK_METRICS[name]
                        job[field] += value * scale
                    elif name == _PY_SENT:
                        job["python_bytes_sent"] += value
                    elif acc.get("ID") in py_rows:
                        job["python_rows_returned"] += value

    def by_span(self, spans: list[dict]) -> dict[int, list[dict]]:
        """Jobs per span id: by job description, else by the innermost span
        whose wall interval contains the job's submission time."""
        ids = {s["id"] for s in spans}
        out: dict[int, list[dict]] = {}
        timed = sorted(spans, key=lambda s: s["end"] - s["start"])
        for job in self.jobs.values():
            sid = None
            if job["desc"].startswith("span:"):
                sid = int(job["desc"][5:])
            if sid not in ids:
                sid = next(
                    (s["id"] for s in timed
                     if s["wall0"] <= job["submit_s"] <= s["wall0"] + s["end"] - s["start"]),
                    None,
                )
            if sid is not None:
                out.setdefault(sid, []).append(job)
        return out
