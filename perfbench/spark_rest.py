"""Spark's own metrics for the traced run, read through the UI's REST API:
jobs, stages and task metrics from ``/jobs`` and ``/stages``, and the
Python-UDF and exchange SQL metrics from ``/sql?details=true``.

Timed (untraced) runs keep the UI off; only the traced run enables it.
"""

from __future__ import annotations

import json
import re
import statistics
import urllib.request
from datetime import datetime, timezone

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}
_VALUE_RE = re.compile(r"([0-9][0-9,]*\.?[0-9]*)\s*([A-Za-z]+)?")

PYTHON_METRICS = {
    "time to run Python workers": "run_s",
    "time to initialize Python workers": "init_s",
    "time to start Python workers": "start_s",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_returned",
}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric ('1,000', '61 ms', or
    'total (min, med, max ...)\\n7.4 KiB (...)') in seconds or bytes."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE_RE.match(line.strip())
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1)


def parse_time(s: str) -> float:
    """REST timestamp ('2026-10-17T03:24:43.689GMT') to epoch seconds."""
    dt = datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


_ALL = 1_000_000


class SparkRest:
    def __init__(self, spark, port: int) -> None:
        self.app = spark.sparkContext.applicationId
        self.base = f"http://localhost:{port}/api/v1/applications/{self.app}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def marks(self) -> tuple[int, int]:
        """Highest job id and SQL execution id seen so far."""
        jobs = self.get("jobs")
        # the SQL list is paged (20 by default); execution ids count from 0
        sql = self.get(f"sql?details=false&length={_ALL}")
        return (
            max((j["jobId"] for j in jobs), default=-1),
            max((e["id"] for e in sql), default=-1),
        )

    def since(self, marks: tuple[int, int]) -> dict:
        """Jobs, their completed stages (with tasks) and SQL executions
        newer than ``marks``."""
        job0, sql0 = marks
        jobs = [j for j in self.get("jobs") if j["jobId"] > job0]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        stages = [
            a
            for sid in stage_ids
            for a in self.get(f"stages/{sid}?details=true")
            if a["status"] == "COMPLETE"
        ]
        sql = [
            e
            for e in self.get(
                f"sql?details=true&planDescription=false&offset={sql0 + 1}&length={_ALL}"
            )
            if e["id"] > sql0
        ]
        return {"jobs": jobs, "stages": stages, "sql": sql}


def summarize(snap: dict) -> dict[str, float]:
    """Per-layer numbers for one traced operation."""
    tasks = [
        t for s in snap["stages"] for t in s.get("tasks", {}).values()
        if t.get("status") == "SUCCESS"
    ]
    durations = [t["duration"] / 1000 for t in tasks] or [0.0]
    out = {
        "spark.jobs": float(len(snap["jobs"])),
        "spark.tasks": float(len(tasks)),
        "spark.task_p50_s": statistics.median(durations),
        "spark.task_max_s": max(durations),
        "spark.jvm_cpu_s": sum(s["executorCpuTime"] for s in snap["stages"]) / 1e9,
        "spark.gc_s": sum(s["jvmGcTime"] for s in snap["stages"]) / 1000,
        "spark.shuffle_write_bytes": float(sum(s["shuffleWriteBytes"] for s in snap["stages"])),
        "spark.output_bytes": float(sum(s["outputBytes"] for s in snap["stages"])),
    }
    py = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
    for e in snap["sql"]:
        for node in e.get("nodes", []):
            for m in node.get("metrics", []):
                key = PYTHON_METRICS.get(m["name"])
                if key:
                    py[key] += parse_metric(m["value"])
    out.update({f"spark.python.{k}": v for k, v in py.items()})
    return out


def job_spans(snap: dict) -> list[tuple[str, float, float]]:
    """(name, start, end) in epoch seconds for every finished job."""
    return [
        (f"spark.job.{j['jobId']}", parse_time(j["submissionTime"]), parse_time(j["completionTime"]))
        for j in snap["jobs"]
        if j.get("submissionTime") and j.get("completionTime")
    ]
