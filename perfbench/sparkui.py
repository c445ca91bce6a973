"""Per-iteration Spark metrics scraped from the driver's own UI REST API.

Each timed iteration runs its Spark jobs under one job group; this module
collects, for every group, the stage metrics (``/stages``), the task times
of the heaviest stage (``.../taskList``) and the SQL node metrics
(``/sql?details=true``) of the executions those jobs belong to.  SQL node
metrics arrive as display strings (``"9.2 s (878 ms, ...)"``), so their
resolution is what Spark prints: 1 ms below a second, 0.1 s above it, and
0.1 of a unit for sizes.
"""

from __future__ import annotations

import json
import re
import statistics
import urllib.request

_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30,
               "TiB": 2**40}
_VALUE = re.compile(r"([\d.,]+)\s*([A-Za-z]*)")

# MapInPandas node metric → per-layer metric (seconds or MiB)
PYTHON_METRICS = {
    "time to start Python workers": "pipeline.python.start_s",
    "time to initialize Python workers": "pipeline.python.init_s",
    "time to run Python workers": "pipeline.python.run_s",
    "data sent to Python workers": "pipeline.python.sent_mb",
    "data returned from Python workers": "pipeline.python.returned_mb",
}


def metric_value(text: str) -> float:
    """A SQL metric display string → seconds, MiB or a plain count (the
    task total; the min/med/max breakdown after it is ignored)."""
    text = text.split("\n", 1)[-1]
    m = _VALUE.match(text.strip())
    if not m:
        return 0.0
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _TIME_UNITS:
        return num * _TIME_UNITS[unit]
    if unit in _SIZE_UNITS:
        return num * _SIZE_UNITS[unit] / 2**20
    return num


class SparkUI:
    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def group_metrics(self, groups: list[str]) -> list[dict]:
        """One metrics dict per job group, in the order given."""
        jobs = self.get("/jobs")
        stages = {(s["stageId"], s["attemptId"]): s
                  for s in self.get("/stages")}
        sql = self.get("/sql?details=true&planDescription=false"
                       "&offset=0&length=100000")
        return [self._one(g, jobs, stages, sql) for g in groups]

    def _one(self, group: str, jobs, stages, sql) -> dict:
        mine = [j for j in jobs if j.get("jobGroup") == group]
        job_ids = {j["jobId"] for j in mine}
        stage_ids = {sid for j in mine for sid in j["stageIds"]}
        done = [s for (sid, _), s in stages.items()
                if sid in stage_ids and s["status"] == "COMPLETE"]
        out = {
            "pipeline.jobs": len(mine),
            "pipeline.tasks": sum(s["numCompleteTasks"] for s in done),
            "pipeline.stage.executor_run_s":
                sum(s["executorRunTime"] for s in done) / 1e3,
            "pipeline.stage.executor_cpu_s":
                sum(s["executorCpuTime"] for s in done) / 1e9,
            "pipeline.stage.jvm_gc_s": sum(s["jvmGcTime"] for s in done) / 1e3,
            "pipeline.shuffle.write_mb":
                sum(s["shuffleWriteBytes"] for s in done) / 2**20,
            "pipeline.task_straggler_ratio": self._straggler(done),
            "pipeline.exchanges": 0,
        }
        out.update({v: 0.0 for v in PYTHON_METRICS.values()})
        for e in sql:
            ids = set(e.get("successJobIds", [])) | set(
                e.get("failedJobIds", [])) | set(e.get("runningJobIds", []))
            if not ids & job_ids:
                continue
            for node in e.get("nodes", []):
                if node["nodeName"] == "Exchange":
                    out["pipeline.exchanges"] += 1
                if node["nodeName"] != "MapInPandas":
                    continue
                for m in node.get("metrics", []):
                    name = PYTHON_METRICS.get(m["name"])
                    if name:
                        out[name] += metric_value(m["value"])
        return out

    def _straggler(self, done: list[dict]) -> float:
        """max / median task run time in the stage that ran longest (the
        extract stage of every workload)."""
        if not done:
            return 0.0
        s = max(done, key=lambda s: s["executorRunTime"])
        tasks = self.get(f"/stages/{s['stageId']}/{s['attemptId']}"
                         "/taskList?length=100000")
        runs = [t["taskMetrics"]["executorRunTime"] for t in tasks
                if t.get("status") == "SUCCESS" and t.get("taskMetrics")]
        med = statistics.median(runs) if runs else 0
        return max(runs) / med if med else 0.0
