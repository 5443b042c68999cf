"""Spans around the engine's public entry points, and the event-log rollup.

A span is (id, name, start, end, parent, run id, whether it opened on the
main thread). Spans stay in memory and are written once, when the run
ends. Wrapping is done from the benchmark's own files: ``Tracer.wrap``
swaps a module attribute for a function that opens a span around the
original, so nothing under ``webcrawler_spark/`` changes.

Jobs are attributed to spans after the run from Spark's JSON event log:
a job submitted from a thread that had a span open carries that span's id
as the ``crawlbench.span`` local property; any other job (the commit's
writer threads, AQE stage jobs) goes to the innermost main-thread span
open at its submission time.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from collections import defaultdict

SPAN_PROPERTY = "crawlbench.span"

# Event-log counters reported per layer (name -> unit), and the layers.
# ``call`` is a workload's timed call itself, outside any engine span.
SPARK_COUNTERS = {
    "jobs": "count", "stages": "count", "tasks": "count",
    "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes", "executor_cpu_s": "s", "gc_s": "s", "task_skew": "ratio",
}
SPARK_LAYERS = (
    "call", "plans.crawl", "storage", "operators.admission",
    "operators.politeness", "functions.html",
)


def layer_of(span_name: str) -> str:
    """`storage.commit_round` -> `storage`; `plans.crawl.run_crawl` ->
    `plans.crawl`: a span's layer is its name minus the function."""
    return span_name.rsplit(".", 1)[0] if "." in span_name else span_name


class Tracer:
    """In-memory span recorder. Disabled tracers cost one attribute read
    per wrapped call."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._sc = None
        self._lock = threading.Lock()
        self._next_id = 1
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def bind(self, spark_context) -> None:
        self._sc = spark_context

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        main = threading.current_thread() is threading.main_thread()
        stack = self._stack()
        # a span opened on a helper thread is a child of whatever the main
        # thread has open (the commit's writer pool runs inside commit_round)
        parent = stack[-1] if stack else (
            None if main or not self._main_stack else self._main_stack[-1]
        )
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        prev = None
        if self._sc is not None:
            prev = self._sc.getLocalProperty(SPAN_PROPERTY)
            self._sc.setLocalProperty(SPAN_PROPERTY, str(sid))
        stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            if self._sc is not None:
                self._sc.setLocalProperty(SPAN_PROPERTY, prev)
            with self._lock:
                self.spans.append({
                    "id": sid, "name": name, "start": start, "end": end,
                    "parent": parent, "run": self.run_id, "main": main,
                })

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned version of itself."""
        orig = getattr(owner, attr)
        tracer = self

        def spanned(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        spanned.__wrapped__ = orig
        setattr(owner, attr, spanned)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: (s["start"], s["id"])):
                f.write(json.dumps(s) + "\n")


def children(spans: list[dict], sid: int) -> list[dict]:
    return [s for s in spans if s["parent"] == sid]


def subtree(spans: list[dict], sid: int) -> set[int]:
    out, todo = {sid}, [sid]
    while todo:
        cur = todo.pop()
        for s in spans:
            if s["parent"] == cur and s["id"] not in out:
                out.add(s["id"])
                todo.append(s["id"])
    return out


def covered_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_seconds(spans: list[dict], span: dict) -> float:
    """The span's duration minus the part its child spans cover."""
    kids = [(c["start"], c["end"]) for c in children(spans, span["id"])]
    return (span["end"] - span["start"]) - covered_seconds(kids)


def find_event_log(log_dir: str) -> list[str]:
    """Files of the one application's event log in ``log_dir``, in order.
    A rolling log is a directory of ``events_<n>_<app>`` files."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    path = os.path.join(log_dir, names[0])
    if not os.path.isdir(path):
        return [path]
    parts = [n for n in os.listdir(path) if n.startswith("events_")]
    return [os.path.join(path, n) for n in sorted(parts, key=lambda n: int(n.split("_")[1]))]


def _lines(paths: list[str]):
    for path in paths:
        with open(path) as f:
            yield from f


def read_event_log(paths: list[str]) -> dict:
    """Jobs (submission time, stages, span property) and per-stage task
    metrics from a Spark JSON event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    for line in _lines(paths):
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            span = props.get(SPAN_PROPERTY)
            jid = int(e["Job ID"])
            jobs[jid] = {
                "t": e["Submission Time"] / 1000.0,
                "span": int(span) if span else None,
            }
            for st in e.get("Stage IDs", []):
                stage_job.setdefault(int(st), jid)
        elif kind == "SparkListenerTaskEnd":
            info, m = e.get("Task Info") or {}, e.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            tasks[int(e["Stage ID"])].append({
                "dur": (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0,
                "cpu": m.get("Executor CPU Time", 0) / 1e9,
                "gc": m.get("JVM GC Time", 0) / 1000.0,
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "read": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                "write": wr.get("Shuffle Bytes Written", 0),
            })
    return {"jobs": jobs, "stage_job": stage_job, "tasks": tasks}


def attribute_jobs(log: dict, spans: list[dict]) -> dict[int, int | None]:
    """job id -> span id. The span property wins; otherwise the innermost
    main-thread span open at submission time (latest start among those
    containing it)."""
    by_id = {s["id"]: s for s in spans}
    main = [s for s in spans if s["main"]]
    out: dict[int, int | None] = {}
    for jid, job in log["jobs"].items():
        if job["span"] in by_id:
            out[jid] = job["span"]
            continue
        t = job["t"]
        open_ = [s for s in main if s["start"] <= t <= s["end"]]
        out[jid] = max(open_, key=lambda s: s["start"])["id"] if open_ else None
    return out


def spark_counters(log: dict, job_ids: set[int]) -> dict[str, float]:
    """The SPARK_COUNTERS over the given jobs. task_skew is max / median
    task duration in the widest stage (most tasks) the jobs ran."""
    stages = [st for st, j in log["stage_job"].items()
              if j in job_ids and st in log["tasks"]]
    ts = [t for st in stages for t in log["tasks"][st]]
    skew = 0.0
    if stages:
        widest = max(stages, key=lambda st: (len(log["tasks"][st]), st))
        durs = [t["dur"] for t in log["tasks"][widest]]
        med = statistics.median(durs)
        skew = max(durs) / med if med > 0 else 1.0
    return {
        "jobs": len(job_ids),
        "stages": len(stages),
        "tasks": len(ts),
        "shuffle_read_bytes": sum(t["read"] for t in ts),
        "shuffle_write_bytes": sum(t["write"] for t in ts),
        "spill_bytes": sum(t["spill"] for t in ts),
        "executor_cpu_s": sum(t["cpu"] for t in ts),
        "gc_s": sum(t["gc"] for t in ts),
        "task_skew": skew,
    }
