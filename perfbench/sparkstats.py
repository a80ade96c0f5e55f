"""Spark engine counters for one op, read from outside the program.

The benchmark sets a job group per op (``begin``); ``end`` then reads the
group's jobs and stages from the public status tracker and the stage, SQL
and storage figures from the monitoring REST API of the driver's UI. Only the
traced run uses this: waiting for the listener bus and the HTTP calls happen
after the op's timed region.
"""

from __future__ import annotations

import json
import time
import urllib.request
from datetime import datetime, timezone

STAGE_SUMS = {
    "spark.input_bytes": ("inputBytes",),
    "spark.input_records": ("inputRecords",),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes",),
    "spark.shuffle_read_bytes": ("shuffleReadBytes",),
    "spark.spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
    "spark.failed_tasks": ("numFailedTasks",),
    "spark.tasks": ("numTasks",),
}
DONE = ("COMPLETE", "FAILED", "SKIPPED")


def _ts(s: str) -> float:
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc).timestamp()


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


class SparkCounters:
    def __init__(self, spark, edge_rows: int):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.base = (f"{self.sc.uiWebUrl}/api/v1/applications/"
                     f"{self.sc.applicationId}")
        self.edge_rows = edge_rows
        self.sql_seen = len(self._get("/sql?details=false&offset=0&length=100000"))
        self.group = ""
        self.wall = (0.0, 0.0)

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def begin(self, group: str) -> None:
        self.rdds_before = {r["id"] for r in self._get("/storage/rdd")}
        self.group = group
        self.sc.setJobGroup(group, group)
        self.wall = (time.time(), 0.0)

    def stop_clock(self) -> None:
        self.wall = (self.wall[0], time.time())

    def end(self) -> dict:
        """Counters of every job the op's group ran. Call after
        ``stop_clock``; polls until the listener has recorded each stage."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = self.tracker.getJobIdsForGroup(self.group)
        stage_ids: set[int] = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = [self._stage(s) for s in sorted(stage_ids)]
        ran = [s for s in stages if s["status"] != "SKIPPED"]
        out = {k: float(sum(s.get(f, 0) for s in ran for f in fields))
               for k, fields in STAGE_SUMS.items()}
        out["spark.jobs"] = float(len(jobs))
        out["spark.stages"] = float(len(ran))
        out["spark.executor_run_s"] = sum(s["executorRunTime"] for s in ran) / 1e3
        out["spark.gc_s"] = sum(s.get("jvmGcTime", 0) for s in ran) / 1e3
        lo, hi = self.wall
        spans = [(_ts(s["submissionTime"]), _ts(s["completionTime"]))
                 for s in ran if "submissionTime" in s and "completionTime" in s]
        out["spark.driver_wait_s"] = max(0.0, (hi - lo) - covered(spans, lo, hi))
        out["clouds.cached_rdds_left"] = float(sum(
            1 for r in self._get("/storage/rdd") if r["id"] not in self.rdds_before))
        out["readers.edge_records_scanned"] = float(self._edge_scan_rows(set(jobs)))
        return out

    def _stage(self, sid: int) -> dict:
        for _ in range(200):
            attempts = self._get(f"/stages/{sid}?details=false")
            last = max(attempts, key=lambda a: a["attemptId"])
            if last["status"] in DONE and (
                    last["status"] == "SKIPPED" or "completionTime" in last):
                return last
            time.sleep(0.01)
        raise TimeoutError(f"stage {sid} never completed in the status store")

    def _edge_scan_rows(self, jobs: set[int]) -> int:
        """Rows output by scans of the edge table in the op's SQL
        executions. A Parquet scan returns every row of the row groups it
        reads (filters apply above it), so an edge-table scan is the scan
        node whose output is the edge table's row count."""
        execs = self._get(f"/sql?details=true&planDescription=false"
                          f"&offset={self.sql_seen}&length=1000")
        self.sql_seen += len(execs)
        rows = 0
        for ex in execs:
            ids = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if not ids & jobs:
                continue
            for node in ex.get("nodes", []):
                if not node["nodeName"].startswith("Scan parquet"):
                    continue
                for m in node.get("metrics", []):
                    if m["name"] == "number of output rows":
                        n = int(m["value"].replace(",", ""))
                        if n == self.edge_rows:
                            rows += n
        return rows
