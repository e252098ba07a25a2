"""Spans around the benchmark's calls into the engine, and the per-span
counters read back from Spark's event log.

A span is opened around each public engine call. It tags the call's
Spark jobs with `setJobGroup(span_id, name)`; in a traced run the call's
lazy output is also materialized (persist + count) inside the span, so the
stages it plans are attributed to it. Spans stay in memory and are written
out once, when the run ends. With tracing off every method is a no-op and
`materialize` returns its input unchanged."""

import json
import time
from contextlib import contextmanager

from a5spark import cache


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        """Yields the span's attribute dict, where the caller may record
        counts it knows (rows in, files written, scan stats)."""
        attrs: dict = {}
        if not self.enabled:
            yield attrs
            return
        rec = {
            "id": f"span-{len(self.spans)}",
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield attrs
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def materialize(self, df, attrs=None):
        """Persist + count inside the current span (traced runs only). The
        frame is registered in the innermost `cache.scope()`, so it is
        released when the operation that consumes it ends."""
        if not self.enabled:
            return df
        if not df.is_cached:
            df = cache.persist(df)
        n = df.count()
        if attrs is not None:
            attrs["rows_out"] = n
        return df


# --- event log ---------------------------------------------------------------

_PY_ACCUMS = {
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}


def read_event_log(path):
    """Stages with their job group, interval and summed task counters, and
    jobs as (group, submission ms), from an uncompressed Spark event log."""
    stages: dict = {}
    jobs: list = []

    def stage(sid):
        return stages.setdefault(
            sid,
            {
                "group": None, "submit": None, "complete": None, "tasks": 0,
                "executor_run_ms": 0, "shuffle_write_bytes": 0,
                "shuffle_write_records": 0, "spill_bytes": 0,
                "python_run_ms": 0, "bytes_to_python": 0, "bytes_from_python": 0,
            },
        )

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                jobs.append((g, e.get("Submission Time")))
            elif kind == "SparkListenerStageSubmitted":
                s = stage(e["Stage Info"]["Stage ID"])
                s["group"] = (e.get("Properties") or {}).get("spark.jobGroup.id")
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                s = stage(info["Stage ID"])
                s["submit"] = info.get("Submission Time")
                s["complete"] = info.get("Completion Time")
            elif kind == "SparkListenerTaskEnd":
                s = stage(e["Stage ID"])
                m = e.get("Task Metrics") or {}
                s["tasks"] += 1
                s["executor_run_ms"] += m.get("Executor Run Time", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                s["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                s["shuffle_write_records"] += sw.get("Shuffle Records Written", 0)
                s["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                    key = _PY_ACCUMS.get(acc.get("Name"))
                    if key is not None:
                        s[key] += int(acc.get("Update") or 0)
    return [s for s in stages.values() if s["submit"] is not None], jobs


def _covered_s(intervals, lo, hi):
    """Seconds of [lo, hi] covered by the union of `intervals`."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


SPAN_COUNTERS = (
    "jobs", "tasks", "executor_run_s", "shuffle_write_bytes",
    "shuffle_write_records", "spill_bytes", "python_run_s",
    "bytes_to_python", "bytes_from_python",
)


def attribute(spans, stages, jobs):
    """Per-span counters. A stage belongs to the span named by its job
    group; stages of other groups (a streaming query tags its own) go to
    the innermost span open when they were submitted. wall_s and self_s
    come from the span clock; driver_gap_s is the part of the span during
    which no stage of the run was executing."""
    by_id = {s["id"]: s for s in spans}

    def owner(group, t):
        if group in by_id:
            return by_id[group]
        open_ = [s for s in spans if s["start"] <= t <= s["end"]]
        return max(open_, key=lambda s: s["start"]) if open_ else None

    for s in spans:
        s["wall_s"] = s["end"] - s["start"]
        s["counters"] = dict.fromkeys(SPAN_COUNTERS, 0)
    for group, t in jobs:
        o = owner(group, (t or 0) / 1000.0)
        if o is not None:
            o["counters"]["jobs"] += 1
    child_wall: dict = {}
    for s in spans:
        if s["parent"] is not None:
            child_wall[s["parent"]] = child_wall.get(s["parent"], 0.0) + s["wall_s"]
    intervals = []
    for st in stages:
        t0, t1 = st["submit"] / 1000.0, st["complete"] / 1000.0
        intervals.append((t0, t1))
        o = owner(st["group"], t0)
        if o is None:
            continue
        c = o["counters"]
        c["tasks"] += st["tasks"]
        c["executor_run_s"] += st["executor_run_ms"] / 1000.0
        c["python_run_s"] += st["python_run_ms"] / 1000.0
        for k in ("shuffle_write_bytes", "shuffle_write_records", "spill_bytes",
                  "bytes_to_python", "bytes_from_python"):
            c[k] += st[k]
    for s in spans:
        s["self_s"] = s["wall_s"] - child_wall.get(s["id"], 0.0)
        s["driver_gap_s"] = s["wall_s"] - _covered_s(intervals, s["start"], s["end"])
    return spans


def module_of(span_name: str) -> str:
    """'operators.knn.knn_join' -> 'operators.knn'."""
    return span_name.rsplit(".", 1)[0]
