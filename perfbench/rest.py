"""Spark's own counters for one job group, read from the local REST API.

``/api/v1/applications/<id>/{jobs,stages,sql}`` give per-stage executor
metrics and per-operator SQL metrics.  :meth:`Rest.counters` sums them
for one job group and maps them onto the five layers of a pass:

- ``scan``: parquet ``scan time`` and bytes read;
- ``arrow``: bytes sent to and returned from Python workers;
- ``python``: ``time to run`` and ``time to initialize`` Python workers;
- ``shuffle``: shuffle write time, fetch wait and sort time, and the
  bytes written;
- ``sink``: bytes written and task plus job commit time of file writes
  (the ``noop`` sink of a timed pass has none).

SQL-metric times are sums over tasks, not wall time, and they overlap
within a task, so they do not add up to its run time.
"""

from __future__ import annotations

import json
import re
import time
import urllib.parse
import urllib.request
from typing import Dict, List

_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_UNIT_B = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_NUM = re.compile(r"([\d,.]+)\s*([A-Za-z]*)")

# SQL metric name -> (counter, kind)
SQL_METRICS = {
    "scan time": ("scan.time_s", "time"),
    "size of files read": ("scan.bytes", "size"),
    "data sent to Python workers": ("arrow.sent_bytes", "size"),
    "data returned from Python workers": ("arrow.returned_bytes", "size"),
    "time to run Python workers": ("python.run_s", "time"),
    "time to initialize Python workers": ("python.init_s", "time"),
    "shuffle write time": ("shuffle.time_s", "time"),
    "fetch wait time": ("shuffle.time_s", "time"),
    "sort time": ("shuffle.time_s", "time"),
    "shuffle bytes written": ("shuffle.write_bytes", "size"),
    "written output": ("sink.bytes", "size"),
    "task commit time": ("sink.commit_s", "time"),
    "job commit time": ("sink.commit_s", "time"),
}
_PYTHON_NODES = ("MapIn", "ArrowEvalPython", "BatchEvalPython")


def parse_metric(value: str, kind: str) -> float:
    """Total of a SQL metric string such as ``'18.0 MiB'``, ``'86,091'``
    or ``'total (min, med, max ...)\\n315 ms (61 ms, ...)'``."""
    m = _NUM.match(value.split("\n")[-1].strip())
    if not m:
        return 0.0
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    if kind == "time":
        return num * _UNIT_S.get(unit, 1e-3)
    if kind == "size":
        return num * _UNIT_B.get(unit, 1)
    return num


class Rest:
    def __init__(self, sc):
        port = urllib.parse.urlsplit(sc.uiWebUrl).port
        self.base = (f"http://localhost:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def counters(self, group: str) -> Dict[str, float]:
        """Summed counters of the jobs, stages and SQL executions that
        ran under job group ``group`` (set with ``setJobGroup``)."""
        jobs, executions = self._settled(group)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        out: Dict[str, float] = dict.fromkeys(
            [k for k, _ in SQL_METRICS.values()]
            + ["exchanges", "python.rows_out"], 0.0)
        out["jobs"] = len(jobs)
        for ex in executions:
            for node in ex.get("nodes", []):
                name = node.get("nodeName", "")
                out["exchanges"] += name == "Exchange"
                for m in node.get("metrics", []):
                    if (name.startswith(_PYTHON_NODES)
                            and m["name"] == "number of output rows"):
                        out["python.rows_out"] += parse_metric(
                            m["value"], "count")
                    key = SQL_METRICS.get(m["name"])
                    if key:
                        out[key[0]] += parse_metric(m["value"], key[1])
        stages = [s for s in self.get("stages?status=complete")
                  if s["stageId"] in stage_ids]
        out["stages.run_s"] = sum(s["executorRunTime"] for s in stages) / 1e3
        out["stages.output_bytes"] = sum(s["outputBytes"] for s in stages)
        out["task_skew"] = self._task_skew(stages)
        return out

    def _settled(self, group: str, timeout: float = 10.0) -> tuple:
        """The group's jobs and SQL executions, once all read as ended:
        the status store is fed by an asynchronous listener bus."""
        deadline = time.monotonic() + timeout
        while True:
            jobs = [j for j in self.get("jobs") if j.get("jobGroup") == group]
            ids = {j["jobId"] for j in jobs}
            executions = [
                ex for ex in self.get("sql?details=true&planDescription=false"
                                      "&offset=0&length=1000000")
                if ids & set(ex.get("successJobIds", []) + ex.get(
                    "failedJobIds", []) + ex.get("runningJobIds", []))]
            settled = jobs and all(j["status"] != "RUNNING" for j in jobs) \
                and all(ex["status"] != "RUNNING" for ex in executions)
            if settled or time.monotonic() > deadline:
                return jobs, executions
            time.sleep(0.05)

    def _task_skew(self, stages: List[dict]) -> float:
        """max / median task run time of the group's longest stage."""
        if not stages:
            return 0.0
        s = max(stages, key=lambda s: s["executorRunTime"])
        q = self.get(f"stages/{s['stageId']}/{s['attemptId']}/taskSummary"
                     "?quantiles=0.5,1.0")["executorRunTime"]
        return q[1] / q[0] if q[0] else 0.0
