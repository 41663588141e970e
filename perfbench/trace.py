"""Spans around the benchmark's calls into each layer, plus the Spark
stage metrics of the jobs each span ran.

Every span gets its own Spark job group, so after the run the jobs (and
their stages) of each layer call can be read back from Spark's status
REST API. Spans live in memory and are written out as JSON lines when
the run ends.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager

from . import proc


class Tracer:
    """Records spans (name, start, end, parent, run id) with the OS CPU
    used inside each. With ``spark`` set to a session it also tags each
    span's jobs with a job group; left ``None`` it only measures wall and
    CPU."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spark = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, span: dict | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(span["group"], span["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "run_id": self.run_id,
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"{self.run_id}/{len(self.spans)}/{name}",
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        cpu0 = proc.cpu()
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            rec["cpu_s"] = proc.cpu_delta(cpu0, proc.cpu())
            self._stack.pop()
            self._set_group(parent)

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part its child spans
        cover."""
        child_wall: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_wall[s["parent"]] = child_wall.get(s["parent"], 0.0) + s["wall_s"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + s["wall_s"] - child_wall.get(s["id"], 0.0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class SparkRest:
    """Stage metrics per job group from the Spark UI's REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.loads(resp.read())

    def settle(self, timeout: float = 20.0) -> None:
        """Wait until the status store has seen every job finish (the
        listener bus is asynchronous)."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            if all(j["status"] != "RUNNING" for j in self._get("/jobs")):
                return
            time.sleep(0.2)

    def jobs(self, group: str) -> list[dict]:
        return [j for j in self._get("/jobs") if j.get("jobGroup") == group]

    def stages(self, group: str) -> list[dict]:
        ids = {sid for j in self.jobs(group) for sid in j["stageIds"]}
        return [
            s
            for s in self._get("/stages")
            if s["stageId"] in ids and s["status"] == "COMPLETE"
        ]

    def totals(self, group: str) -> dict[str, float]:
        st = self.stages(group)
        out = {
            "jobs": len(self.jobs(group)),
            "executor_cpu_s": sum(s["executorCpuTime"] for s in st) / 1e9,
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in st),
            "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in st),
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in st),
            "input_bytes": sum(s["inputBytes"] for s in st),
            "input_records": sum(s["inputRecords"] for s in st),
            "task_max_over_median": 0.0,
        }
        if st:
            # the stage that ran longest is the one whose stragglers matter
            top = max(st, key=lambda s: s["executorRunTime"])
            q = self._get(
                f"/stages/{top['stageId']}/{top['attemptId']}/taskSummary?quantiles=0.5,1.0"
            )["executorRunTime"]
            out["task_max_over_median"] = q[1] / q[0] if q[0] else 0.0
        return out
