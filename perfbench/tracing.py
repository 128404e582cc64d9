"""Spans recorded by the harness around its calls into the package.

A span has a name ``<layer>.<call>``, start and end (``perf_counter``
seconds), the id of the span that caused it, and the id of the request it
serves (one set-up repetition, one timed operation).  Each span runs under
its own Spark job group, so the jobs, stages and tasks it triggered can be
found afterwards through the status tracker and the event log.  Spans stay in
memory until the run writes them out.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

from stats import self_times

#: Job group set while no span is open (harness checks, probes).
IDLE_GROUP = "pb-idle"


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None
        self.bookkeeping_s = 0.0

    def attach(self, sc) -> None:
        """Use this SparkContext for job groups from now on."""
        self._sc = sc
        if self.enabled:
            sc.setJobGroup(IDLE_GROUP, "harness")

    @contextmanager
    def span(self, name: str, request: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "name": name,
            "layer": name.split(".", 1)[0],
            "request": request,
            "group": f"pb-{len(self.spans)}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self._sc is not None:  # the first set-up span opens before the session
            self._sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t0
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                self._sc.setJobGroup(parent["group"] if parent else IDLE_GROUP, "")
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def harvest(self) -> None:
        """Job and task counts of every span, from the status tracker.  Call
        once, before the SparkContext stops; waits briefly so the listener
        bus has recorded the last jobs."""
        if not self.enabled or self._sc is None:
            return
        time.sleep(0.5)
        st = self._sc.statusTracker()
        for rec in self.spans:
            jobs = st.getJobIdsForGroup(rec["group"])
            tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    stage = st.getStageInfo(sid)
                    tasks += stage.numTasks if stage else 0
            rec["spark_jobs"] = len(jobs)
            rec["spark_tasks"] = tasks

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def parse_event_logs(log_dir: str) -> dict:
    """Per job group: stage and task metrics folded from Spark's
    uncompressed, non-rolling event logs in ``log_dir``.

    Returns ``{group: {"tasks", "exec_run_ms", "exec_cpu_ms",
    "jvm_gc_ms", "records_read", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "task_ms": [...]}}``."""
    out: dict = {}
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if not os.path.isfile(path):
            continue
        stage_group: dict = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    agg = out.setdefault(group, {
                        "tasks": 0, "exec_run_ms": 0,
                        "exec_cpu_ms": 0.0, "jvm_gc_ms": 0,
                        "records_read": 0, "shuffle_read_bytes": 0,
                        "shuffle_write_bytes": 0, "spill_bytes": 0,
                        "task_ms": [],
                    })
                    agg["tasks"] += 1
                    agg["exec_run_ms"] += m.get("Executor Run Time", 0)
                    agg["exec_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    agg["jvm_gc_ms"] += m.get("JVM GC Time", 0)
                    agg["records_read"] += (m.get("Input Metrics") or {}).get(
                        "Records Read", 0
                    )
                    sr = m.get("Shuffle Read Metrics") or {}
                    agg["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    agg["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    agg["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    info = ev.get("Task Info") or {}
                    if info.get("Finish Time") and info.get("Launch Time"):
                        agg["task_ms"].append(info["Finish Time"] - info["Launch Time"])
    return out


#: Per-layer figures the traced run reports for every layer.
LAYER_STATS = (
    ("self_s", "s"), ("spark_jobs", "count"), ("spark_tasks", "count"),
    ("exec_run_s", "s"), ("exec_cpu_s", "s"), ("jvm_gc_s", "s"),
    ("records_read", "count"), ("shuffle_read_bytes", "B"),
    ("shuffle_write_bytes", "B"), ("spill_bytes", "B"),
    ("task_max_ms", "ms"), ("task_p50_ms", "ms"),
)


def layer_stats(spans: list[dict], groups: dict, layers) -> dict:
    """Fold spans (with their event-log group metrics) into per-layer
    figures named ``<layer>.<stat>``."""
    selfs = self_times(spans)
    acc = {
        layer: {"self_s": 0.0, "spark_jobs": 0, "spark_tasks": 0,
                "exec_run_s": 0.0, "exec_cpu_s": 0.0, "jvm_gc_s": 0.0,
                "records_read": 0, "shuffle_read_bytes": 0,
                "shuffle_write_bytes": 0, "spill_bytes": 0, "task_ms": []}
        for layer in layers
    }
    for s in spans:
        a = acc.get(s["layer"])
        if a is None:
            continue
        a["self_s"] += selfs[s["id"]]
        a["spark_jobs"] += s.get("spark_jobs", 0)
        a["spark_tasks"] += s.get("spark_tasks", 0)
        g = groups.get(s["group"])
        if g:
            a["exec_run_s"] += g["exec_run_ms"] / 1e3
            a["exec_cpu_s"] += g["exec_cpu_ms"] / 1e3
            a["jvm_gc_s"] += g["jvm_gc_ms"] / 1e3
            for key in ("records_read", "shuffle_read_bytes",
                        "shuffle_write_bytes", "spill_bytes"):
                a[key] += g[key]
            a["task_ms"].extend(g["task_ms"])
    out = {}
    for layer, a in acc.items():
        tms = a.pop("task_ms")
        a["task_max_ms"] = max(tms) if tms else 0
        a["task_p50_ms"] = statistics.median(tms) if tms else 0
        for stat, _unit in LAYER_STATS:
            out[f"{layer}.{stat}"] = a[stat]
    return out
