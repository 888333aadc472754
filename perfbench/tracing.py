"""Spans recorded around the benchmark's calls into the engine, and the
aggregation of Spark's event log into per-op layer figures.

Spans live in memory and are written out once, at the end of a traced run.
Spark work is attributed to an op by its job tag (``spark.addTag``, set by
the benchmark around each op) and, for jobs submitted from threads the
engine starts itself (which do not inherit the tag), by submission time:
the benchmark is a single client thread in a closed loop, so every job that
starts inside an op's span belongs to that op.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """In-memory span recorder; a no-op when ``enabled`` is false. Each
    thread nests its spans on its own stack."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {"name": name, "parent": parent["id"] if parent else None,
               "op": op if op is not None else (parent or {}).get("op"),
               "start": time.time(), "end": None}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"]]

    def self_time(self, span: dict) -> float:
        kids = [(c["start"], c["end"]) for c in self.spans
                if c["parent"] == span["id"] and c["end"]]
        return (span["end"] - span["start"]) - union_length(
            kids, span["start"], span["end"])

    def self_times(self) -> dict:
        """Per span name: count, median and total self time (s)."""
        by: dict[str, list[float]] = {}
        for sp in self.spans:
            if sp["end"]:
                by.setdefault(sp["name"], []).append(self.self_time(sp))
        return {k: {"n": len(v), "median_s": statistics.median(v),
                    "total_s": sum(v)} for k, v in sorted(by.items())}

    def dump(self, path: Path) -> None:
        path.write_text("\n".join(json.dumps(s) for s in self.spans) + "\n")


def union_length(intervals, lo: float, hi: float) -> float:
    """Total length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# Task-level figures summed per stage: (key, extractor over a TaskEnd event).
_PY_ACCUMS = {
    "python_run_ms": "time to run Python workers",
    "python_start_ms": "time to start Python workers",
    "python_sent_b": "data sent to Python workers",
    "python_returned_b": "data returned from Python workers",
}


def _task_figures(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    out = {
        "tasks": 1,
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "spill_b": m.get("Disk Bytes Spilled", 0),
        "input_b": inp.get("Bytes Read", 0),
        "input_rec": inp.get("Records Read", 0),
        "shuffle_w_b": sw.get("Shuffle Bytes Written", 0),
        "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
    }
    acc = {a.get("Name"): a.get("Update")
           for a in (ev.get("Task Info") or {}).get("Accumulables", [])}
    for key, name in _PY_ACCUMS.items():
        try:
            out[key] = int(acc.get(name) or 0)
        except (TypeError, ValueError):
            out[key] = 0
    return out


class EventLog:
    """Jobs and stages of one application's uncompressed, non-rolling event
    log, with task figures summed per stage. Times are epoch seconds."""

    def __init__(self, path: Path):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    self.jobs[ev["Job ID"]] = {
                        "submit": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "tags": _tags(ev.get("Properties") or {}),
                    }
                elif kind == "SparkListenerJobEnd":
                    job = self.jobs.get(ev["Job ID"])
                    if job is not None:
                        job["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                    self.stages[key] = {
                        "submit": (info.get("Submission Time") or 0) / 1000.0,
                        "tags": _tags(ev.get("Properties") or {}),
                        "fig": {},
                    }
                elif kind == "SparkListenerTaskEnd":
                    key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
                    st = self.stages.get(key)
                    if st is None:
                        continue
                    for k, v in _task_figures(ev).items():
                        st["fig"][k] = st["fig"].get(k, 0) + v

    def attribute(self, ops: list[dict]) -> dict[str, dict]:
        """Per op id: its jobs' intervals and summed stage figures.
        ``ops`` are op spans ({"op", "tag", "start", "end"})."""
        def owner(tags: set, t: float):
            for op in ops:
                if op["tag"] in tags:
                    return op["op"]
            for op in ops:
                if op["start"] <= t <= op["end"]:
                    return op["op"]
            return None

        out = {op["op"]: {"jobs": [], "stages": 0, "fig": {}} for op in ops}
        for job in self.jobs.values():
            o = owner(job["tags"], job["submit"])
            if o is not None:
                out[o]["jobs"].append((job["submit"],
                                       job["end"] or job["submit"]))
        for st in self.stages.values():
            o = owner(st["tags"], st["submit"])
            if o is None:
                continue
            out[o]["stages"] += 1
            for k, v in st["fig"].items():
                out[o]["fig"][k] = out[o]["fig"].get(k, 0) + v
        return out


def _tags(props: dict) -> set:
    """User tags of a job. Spark stores session-scoped tags as
    ``spark-session-<id>-thread-<id>-<tag>``; the user tag is what follows
    the thread id, and user tags here never contain '-thread-'."""
    out = set()
    for raw in (props.get("spark.job.tags") or "").split(","):
        if "-thread-" in raw:
            out.add(raw.split("-thread-", 1)[1].split("-", 5)[-1])
        elif raw:
            out.add(raw)
    return out
