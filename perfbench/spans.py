"""Spans around the benchmark's calls into the engine, and the Spark-side
numbers behind them.

A ``Tracer`` records one span per call (name, start, end, parent) in
memory and writes them out when the run ends. When tracing is on, every
span also sets a Spark job group of its own, so that after an operation
returns the ``SparkProbe`` can read Spark's status store for exactly the
jobs that span launched: jobs, stages, tasks, executor time, shuffle,
spill, GC, and, from the SQL status store, the plan-node metrics of the
query executions behind those jobs (broadcast builds, Python workers). With tracing off the tracer only keeps time.
"""

from __future__ import annotations

import contextlib
import json
import re
import time

MB = float(1 << 20)

_UNIT_SCALE = {
    "": 1.0, "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")


def parse_metric(text: str) -> float:
    """Number behind a formatted SQL metric value, in bytes, seconds or
    rows ("1.6 s", "16.2 MiB", "32,000", or the multi-task
    "total (min, med, max ...)" form, whose total is on the second line)."""
    lines = text.split("\n")
    line = lines[1] if lines[0].startswith("total") and len(lines) > 1 else lines[0]
    m = re.match(r"\s*(-?[\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_SCALE.get(m.group(2), 1.0)


class Tracer:
    """In-memory spans; each traced span runs under its own job group."""

    def __init__(self, enabled: bool = False):
        self.sc = None
        self.enabled = enabled
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.overhead_s = 0.0

    def attach(self, sc) -> None:
        """Start setting job groups once the SparkContext exists."""
        self.sc = sc

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "group": f"bench-span-{sid}",
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self.enabled and self.sc is not None:
            self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            if self.enabled and self.sc is not None:
                if self._stack:
                    self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
                else:
                    self.sc.setJobGroup("bench-idle", "between spans")

    def subtree(self, root: dict) -> list[dict]:
        """``root`` and every span below it."""
        out, frontier = [root], {root["id"]}
        for s in self.spans[root["id"] + 1:]:
            if s["parent"] in frontier:
                out.append(s)
                frontier.add(s["id"])
        return out

    def layer_self_times(self) -> dict[str, float]:
        """Self time per span name over the run: each span's duration minus
        the part its direct children cover."""
        out: dict[str, float] = {}
        for s in self.spans:
            d = s["end"] - s["start"]
            out[s["name"]] = out.get(s["name"], 0.0) + d
            if s["parent"] is not None:
                parent = self.spans[s["parent"]]["name"]
                out[parent] = out.get(parent, 0.0) - d
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.layer_self_times(),
                       "overhead_s": self.overhead_s}, f, indent=1)


class SparkProbe:
    """Reads Spark's status stores for the jobs of given job groups."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self.spark = spark
        self.sc = sc
        self.jsc = sc._jsc.sc()
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self.quantiles = sc._gateway.new_array(jvm.double, 2)
        self.quantiles[0] = 0.5
        self.quantiles[1] = 1.0
        self.max_heap = jvm.java.lang.Runtime.getRuntime().maxMemory()

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def jobs(self, groups: set[str]) -> list[dict]:
        self.jsc.listenerBus().waitUntilEmpty()
        return [j for j in self._json(self.store.jobsList(None)) if j.get("jobGroup") in groups]

    def stage_metrics(self, jobs: list[dict]) -> dict:
        """Stage-level totals over the given jobs (skipped stages excluded)."""
        out = dict.fromkeys(
            ("stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "scan_mb",
             "scan_rows", "scan_tasks", "shuffle_write_mb", "shuffle_read_mb", "spill_mb"), 0.0)
        out["task_skew"] = 1.0
        seen = set()
        for j in jobs:
            for sid in j["stageIds"]:
                if sid in seen:
                    continue
                seen.add(sid)
                for s in self._json(self.store.stageData(sid, False, None, False, self.no_quantiles)):
                    if s["status"] not in ("COMPLETE", "FAILED"):
                        continue
                    out["stages"] += 1
                    out["tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
                    out["executor_run_s"] += s["executorRunTime"] / 1e3
                    out["executor_cpu_s"] += s["executorCpuTime"] / 1e9
                    out["gc_s"] += s["jvmGcTime"] / 1e3
                    out["scan_mb"] += s["inputBytes"] / MB
                    out["scan_rows"] += s["inputRecords"]
                    if s["inputBytes"] > 0:
                        out["scan_tasks"] += s["numCompleteTasks"]
                    out["shuffle_write_mb"] += s["shuffleWriteBytes"] / MB
                    out["shuffle_read_mb"] += s["shuffleReadBytes"] / MB
                    out["spill_mb"] += s["diskBytesSpilled"] / MB
                    if s["numCompleteTasks"] >= 2:
                        summ = self.store.taskSummary(sid, s["attemptId"], self.quantiles)
                        if summ.isDefined():
                            med, mx = self._json(summ.get())["executorRunTime"]
                            if med > 0:
                                out["task_skew"] = max(out["task_skew"], mx / med)
        return out

    def plan_metrics(self, jobs: list[dict]) -> dict:
        """Plan-node metrics of the SQL executions that ran these jobs."""
        job_ids = {j["jobId"] for j in jobs}
        out = dict.fromkeys(
            ("broadcast_mb", "broadcast_build_s", "python_nodes", "python_boot_s",
             "python_total_s", "python_sent_mb", "python_received_mb"), 0.0)
        for e in self._json(self.sql_store.executionsList()):
            if not job_ids.intersection(int(k) for k in e["jobs"]):
                continue
            graph = self._json(self.sql_store.planGraph(e["executionId"]))
            values = self.sql_store.executionMetrics(e["executionId"])
            values = self._json(values) if values is not None else {}
            for node in graph.get("allNodes") or graph["nodes"]:
                name = node["name"]
                m = {x["name"]: parse_metric(values.get(str(x["accumulatorId"]), "0"))
                     for x in node["metrics"]}
                if name.startswith("BroadcastExchange"):
                    out["broadcast_mb"] += m.get("data size", 0.0) / MB
                    out["broadcast_build_s"] += m.get("time to build", 0.0)
                elif _PYTHON_NODE.search(name):
                    out["python_nodes"] += 1
                    out["python_boot_s"] += m.get("time to start Python workers", 0.0)
                    out["python_total_s"] += m.get("time to run Python workers", 0.0)
                    out["python_sent_mb"] += m.get("data sent to Python workers", 0.0) / MB
                    out["python_received_mb"] += m.get("data returned from Python workers", 0.0) / MB
        return out

    def cache_state(self, free_heap_fraction: float) -> dict:
        """Pinned storage, persisted RDD count and used JVM heap now;
        ``free_heap_fraction`` is the engine's own heap reading."""
        pinned = 0
        for info in self.jsc.getRDDStorageInfo():
            pinned += info.memSize() + info.diskSize()
        return {
            "pinned_mb": pinned / MB,
            "cached_relations": float(self.sc._jsc.getPersistentRDDs().size()),
            "heap_used_mb": (1.0 - free_heap_fraction) * self.max_heap / MB,
        }
