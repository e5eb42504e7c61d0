"""Tracing for the benchmark's traced run: spans recorded around calls into
the program's public functions, and a parser for Spark's event log.

Spans are kept in memory (name, key, start, end, parent, thread) and written
out when the run ends. Wrappers are installed only in the traced run and
only from here; the program's own code is unchanged. They work because the
pipeline imports routing/cdc functions at call time and binds
``process_batch`` when ``start()`` is called.

While a wrapped call runs, its thread carries the Spark local property
``perfbench.span`` = span id, so Spark jobs launched from that thread can be
attributed to the span through the event log. Jobs started from other
threads are attributed by time window.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time

SPAN_PROP = "perfbench.span"


class Tracer:
    def __init__(self, spark=None):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._open_roots: list[dict] = []
        self._next = 0
        self._restore: list = []
        self.sc = spark.sparkContext if spark is not None else None

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def detach_thread(self) -> None:
        """Spans of the calling thread never adopt another thread's root."""
        self._local.detached = True

    def begin(self, name: str, key=None, root: bool = False) -> dict:
        stack = self._stack()
        detached = getattr(self._local, "detached", False)
        with self._lock:
            self._next += 1
            sid = self._next
            if stack:
                parent = stack[-1]["id"]
            elif self._open_roots and not root and not detached:
                # a pool thread working for an open root span (e.g. one
                # table's publish inside process_batch)
                parent = self._open_roots[-1]["id"]
            else:
                parent = None
            span = {"id": sid, "name": name, "key": key, "parent": parent,
                    "thread": threading.get_ident(), "start": time.time(),
                    "end": None}
            if root:
                self._open_roots.append(span)
        stack.append(span)
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROP, str(sid))
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.time()
        stack = self._stack()
        stack.pop()
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROP, str(stack[-1]["id"]) if stack else None)
        with self._lock:
            if span in self._open_roots:
                self._open_roots.remove(span)
            self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str, key=None, root: bool = False):
        s = self.begin(name, key, root)
        try:
            yield s
        finally:
            self.end(s)

    def wrap(self, owner, attr: str, name: str, key_of=None, root: bool = False,
             result_to=None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper; undone by
        ``restore``. ``key_of(args, kwargs)`` names the span's key;
        ``result_to(span, result)`` may record the call's result."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name, key_of(args, kwargs) if key_of else None, root) as s:
                out = orig(*args, **kwargs)
                if result_to is not None:
                    result_to(s, out)
                return out

        self._restore.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


def durations(spans) -> list[float]:
    return [s["end"] - s["start"] for s in spans]


# -- Spark event log ------------------------------------------------------


def parse_event_log(lines) -> dict:
    """Jobs and task totals from Spark event-log JSON lines.

    Returns {"jobs": {job_id: {start, end, stage_count, props}}, "tasks":
    {job_id: totals}} where times are epoch seconds and totals sum the task
    metrics of each job's tasks."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    totals: dict[int, dict] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        try:
            ev = json.loads(line)
        except ValueError:
            continue  # a log cut mid-line
        if not isinstance(ev, dict):
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            stages = list(ev.get("Stage IDs", []))
            jobs[jid] = {
                "start": ev.get("Submission Time", 0) / 1000.0,
                "end": None,
                "stage_count": len(stages),
                "props": ev.get("Properties") or {},
            }
            for sid in stages:
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in jobs:
                jobs[jid]["end"] = ev.get("Completion Time", 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev.get("Stage ID"))
            if jid is None:
                continue
            m = ev.get("Task Metrics") or {}
            t = totals.setdefault(jid, _empty_totals())
            t["tasks"] += 1
            t["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            sw = m.get("Shuffle Write Metrics") or {}
            t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            t["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            t["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return {"jobs": jobs, "tasks": totals}


def _empty_totals() -> dict:
    return {
        "tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "input_bytes": 0,
        "output_bytes": 0, "spill_bytes": 0,
    }


def read_event_logs(log_dir: str) -> dict:
    """Parse every (plain, uncompressed) event log file in log_dir."""
    lines: list[str] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isfile(path):
            with open(path, errors="replace") as f:
                lines.extend(f)
    return parse_event_log(lines)


def job_totals(log: dict, job_ids) -> dict:
    """spark.task-style totals over a set of jobs."""
    out = _empty_totals()
    out["jobs"] = 0
    out["stages"] = 0
    for jid in job_ids:
        j = log["jobs"].get(jid)
        if j is None:
            continue
        out["jobs"] += 1
        out["stages"] += j["stage_count"]
        for k, v in log["tasks"].get(jid, {}).items():
            out[k] += v
    return out


def jobs_in_window(log: dict, start: float, end: float) -> list[int]:
    """Jobs submitted within [start, end]."""
    return [
        jid for jid, j in log["jobs"].items()
        if j["start"] is not None and start <= j["start"] <= end
    ]


def jobs_of_span(log: dict, span: dict) -> list[int]:
    """Jobs launched while ``span`` was the calling thread's current span."""
    sid = str(span["id"])
    return [jid for jid, j in log["jobs"].items() if j["props"].get(SPAN_PROP) == sid]


def job_intervals(log: dict, job_ids) -> list[tuple[float, float]]:
    out = []
    for jid in job_ids:
        j = log["jobs"].get(jid)
        if j and j["end"] is not None:
            out.append((j["start"], j["end"]))
    return out
