"""Spans and Spark's own event log, for the traced run.

A span wraps one call into a layer's public function. Spans are kept in
memory and written out once at the end. Each span also becomes the
Spark job description (``span:<id>:<name>``), so every task the call
launches can be attributed to it from the event log afterwards.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self._describe(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._describe(self._stack[-1] if self._stack else None)

    def _describe(self, sid):
        if self.spark is not None:
            self.spark.sparkContext.setJobDescription(
                None if sid is None else f"span:{sid}:{self.spans[sid]['name']}")

    def self_times(self) -> dict[int, float]:
        return self_times(self.spans)

    def layer_self_s(self) -> dict[str, float]:
        """Self time summed per layer (a span name's part before the
        first dot)."""
        out: dict[str, float] = defaultdict(float)
        for sid, s in self.self_times().items():
            out[self.spans[sid]["name"].split(".")[0]] += s
        return dict(out)

    def write(self, path: str) -> None:
        st = self.self_times()
        with open(path, "w") as f:
            json.dump([{**s, "self_s": st[s["id"]]} for s in self.spans], f)


def self_times(spans: list[dict]) -> dict[int, float]:
    """A span's duration minus the part of it its child spans cover
    (children are clipped to the parent and overlaps counted once)."""
    kids: dict[int, list] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids[s["id"]], key=lambda c: c["start"]):
            a, b = max(c["start"], lo), min(c["end"], hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
AGG_BUILD = "time in aggregation build"
_SQL_ACCUMS = (PY_TIME, PY_SENT, PY_RETURNED, AGG_BUILD)


class EventLog:
    """Per-task metrics and final query plans from one uncompressed,
    non-rolling Spark event log, keyed by the span that launched them."""

    def __init__(self, tasks, plans, jobs, stages):
        self.tasks = tasks        # one dict per finished task
        self.plans = plans        # span id -> [final plan trees]
        self.jobs = jobs          # span id -> job count
        self.stages = stages      # span id -> set of stage ids

    @classmethod
    def read_dir(cls, directory: str) -> "EventLog":
        files = [os.path.join(directory, f) for f in os.listdir(directory)]
        if len(files) != 1:
            raise ValueError(f"expected one event log in {directory}, found {len(files)}")
        with open(files[0]) as f:
            return cls.parse(f)

    @classmethod
    def parse(cls, lines) -> "EventLog":
        stage_span, exec_span = {}, {}
        plans_by_exec: dict[int, dict] = {}
        jobs: dict = defaultdict(int)
        stages: dict = defaultdict(set)
        tasks = []
        for line in lines:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                sid = span_of(e.get("Properties", {}).get("spark.job.description"))
                jobs[sid] += 1
                for st in e.get("Stage IDs", []):
                    stage_span[st] = sid
                    stages[sid].add(st)
                eid = e.get("Properties", {}).get("spark.sql.execution.id")
                if eid is not None:
                    exec_span.setdefault(int(eid), sid)
            elif kind.endswith("SQLExecutionStart"):
                plans_by_exec[e["executionId"]] = e["sparkPlanInfo"]
            elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                plans_by_exec[e["executionId"]] = e["sparkPlanInfo"]
            elif kind == "SparkListenerTaskEnd":
                tasks.append(_task_row(e, stage_span.get(e["Stage ID"])))
        plans: dict = defaultdict(list)
        for eid, plan in plans_by_exec.items():
            if eid in exec_span:
                plans[exec_span[eid]].append(plan)
        return cls(tasks, dict(plans), dict(jobs), dict(stages))

    def select(self, span_ids) -> "EventLog":
        ids = set(span_ids)
        return EventLog([t for t in self.tasks if t["span"] in ids],
                        {k: v for k, v in self.plans.items() if k in ids},
                        {k: v for k, v in self.jobs.items() if k in ids},
                        {k: v for k, v in self.stages.items() if k in ids})

    def total(self, key: str) -> float:
        return float(sum(t[key] for t in self.tasks))

    def exchanges(self) -> tuple[int, int]:
        """(Exchange, ReusedExchange) node counts over the final plans."""
        ex = reused = 0
        for plan in (p for ps in self.plans.values() for p in ps):
            for node in walk(plan):
                ex += node["nodeName"] == "Exchange"
                reused += node["nodeName"] == "ReusedExchange"
        return ex, reused

    def python_tasks(self) -> list[dict]:
        return [t for t in self.tasks if t[PY_TIME] > 0 or t[PY_SENT] > 0]

    def udf_tasks(self, udf_name: str) -> list[dict]:
        """Tasks that ran the plan node calling the Python function
        ``udf_name`` (matched on the node's PY_TIME accumulator)."""
        ids = set()
        for plan in (p for ps in self.plans.values() for p in ps):
            for node in walk(plan):
                if f"{udf_name}(" in node.get("simpleString", ""):
                    ids.update(m["accumulatorId"] for m in node.get("metrics", [])
                               if m["name"] == PY_TIME)
        return [t for t in self.tasks if ids & t["py_ids"]]

    def summary(self) -> dict:
        return {
            "jobs": sum(self.jobs.values()),
            "stages": sum(len(s) for s in self.stages.values()),
            "tasks": len(self.tasks),
            "gc_s": self.total("gc_ms") / 1e3,
            "spill_bytes": self.total("spill_bytes"),
            "shuffle_read_bytes": self.total("shuffle_read_bytes"),
            "shuffle_write_bytes": self.total("shuffle_write_bytes"),
        }


def span_of(description) -> int | None:
    if not description or not description.startswith("span:"):
        return None
    return int(description.split(":", 2)[1])


def walk(node):
    yield node
    for c in node.get("children", []):
        yield from walk(c)


def _task_row(e: dict, span) -> dict:
    m = e.get("Task Metrics") or {}
    info = e["Task Info"]
    sr = m.get("Shuffle Read Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    row = {
        "span": span, "stage": e["Stage ID"],
        "duration_ms": info["Finish Time"] - info["Launch Time"],
        "gc_ms": m.get("JVM GC Time", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
        "input_rows": m.get("Input Metrics", {}).get("Records Read", 0),
    }
    for name in _SQL_ACCUMS:
        row[name] = 0
    row["py_ids"] = set()
    for a in info.get("Accumulables", []):
        if a.get("Name") in _SQL_ACCUMS:
            row[a["Name"]] += int(a.get("Update") or 0)
        if a.get("Name") == PY_TIME:
            row["py_ids"].add(a["ID"])
    return row
