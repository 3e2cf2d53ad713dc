"""Benchmark-side tracing: spans around public calls, Spark job groups
per span, and a reader that rolls Spark's event log up by job group.

Spans live in memory and are written out once, at exit. Each span tags
the Spark jobs it launches with a job group ``<run id>/<span id>/<name>``;
the event log then says which executor work each span caused.
"""

from __future__ import annotations

import json
import statistics
import time
import uuid
from contextlib import contextmanager
from pathlib import Path

GROUP_PROP = "spark.jobGroup.id"


class Tracer:
    """Records spans, and tags the Spark jobs of ``sc`` with each span's
    job group."""

    def __init__(self, sc):
        self.sc = sc
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        span_id = len(self.spans)
        rec = {"id": span_id, "parent": self._stack[-1] if self._stack else None,
               "name": name, "run_id": self.run_id, "attrs": attrs,
               "start": time.monotonic(), "end": None}
        self.spans.append(rec)
        self._stack.append(span_id)
        prev = self.sc.getLocalProperty(GROUP_PROP)
        self.sc.setLocalProperty(GROUP_PROP, self.group(rec))
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            self.sc.setLocalProperty(GROUP_PROP, prev)

    def group(self, rec: dict) -> str:
        return f"{self.run_id}/{rec['id']}/{rec['name']}"

    def subtree_groups(self, rec: dict) -> set[str]:
        """Job groups of ``rec`` and every span nested in it."""
        ids, out = {rec["id"]}, {self.group(rec)}
        for s in self.spans[rec["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.add(self.group(s))
        return out


def _empty() -> dict:
    return {"jobs": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "records_read": 0,
            "stage_task_ms": {}}


def read_event_log(path: Path) -> dict[str | None, dict]:
    """Roll ``SparkListenerTaskEnd`` metrics up by job group.

    Returns group -> {jobs, tasks, run_ms, cpu_ns, gc_ms,
    shuffle_write_bytes, spill_bytes, records_read, stage_task_ms}, where
    ``stage_task_ms`` maps each stage id to its task run times. Jobs
    without a group land under ``None``."""
    stage_group: dict[int, str | None] = {}
    out: dict[str | None, dict] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(GROUP_PROP)
                out.setdefault(group, _empty())["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                sid = ev["Stage ID"]
                if not m or sid not in stage_group:
                    continue
                r = out[stage_group[sid]]
                r["tasks"] += 1
                r["run_ms"] += m.get("Executor Run Time", 0)
                r["cpu_ns"] += m.get("Executor CPU Time", 0)
                r["gc_ms"] += m.get("JVM GC Time", 0)
                r["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
                r["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                r["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                r["stage_task_ms"].setdefault(sid, []).append(
                    m.get("Executor Run Time", 0))
    return out


def merge(rollups: list[dict]) -> dict:
    total = _empty()
    for r in rollups:
        for k, v in r.items():
            if k == "stage_task_ms":
                for sid, times in v.items():
                    total[k].setdefault(sid, []).extend(times)
            else:
                total[k] += v
    return total


def engine_metrics(r: dict) -> dict[str, float]:
    """The ``spark.*`` per-layer metrics of one rolled-up group set.
    ``task_skew`` is max / median task run time in the stage with the
    largest summed run time."""
    skew = 1.0
    if r["stage_task_ms"]:
        longest = max(r["stage_task_ms"].values(), key=sum)
        med = statistics.median(longest)
        skew = max(longest) / med if med > 0 else 1.0
    return {
        "spark.executor_run_s": r["run_ms"] / 1e3,
        "spark.executor_cpu_s": r["cpu_ns"] / 1e9,
        "spark.gc_s": r["gc_ms"] / 1e3,
        "spark.shuffle_write_mb": r["shuffle_write_bytes"] / 2**20,
        "spark.spill_mb": r["spill_bytes"] / 2**20,
        "spark.jobs": float(r["jobs"]),
        "spark.tasks": float(r["tasks"]),
        "spark.task_skew": skew,
    }
