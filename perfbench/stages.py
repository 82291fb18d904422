"""Spark stage counters for the jobs run under given job groups.

The benchmark sets a job group around each layer call; this collector waits
for the listener bus to drain, then reads the driver's status store through
its REST API (`/api/v1`, served by the driver UI on this host) and sums the
counters of every completed stage those jobs ran.
"""

from __future__ import annotations

import json
import urllib.parse
import urllib.request
from datetime import datetime

_TIME_FMT = "%Y-%m-%dT%H:%M:%S.%f"


def _ts(s: str) -> float:
    return datetime.strptime(s.removesuffix("GMT"), _TIME_FMT).timestamp()


class StageCounters:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        self._base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self._bus = sc._jsc.sc().listenerBus()
        # the UI is on this host: never route through a proxy from the env
        self._http = urllib.request.build_opener(urllib.request.ProxyHandler({}))

    def _get(self, path: str):
        with self._http.open(self._base + path, timeout=30) as resp:
            return json.load(resp)

    def collect(self, groups: list[str]) -> dict:
        """Totals over the completed stages of every job in `groups`:
        executor run time, GC time, shuffle bytes and records, spill bytes,
        input bytes and records, task count, and task_skew (max / median
        task run time in the stage with the longest wall time)."""
        self._bus.waitUntilEmpty(30_000)
        wanted = set(groups)
        jobs = [j for j in self._get("/jobs") if j.get("jobGroup") in wanted]
        out = dict(
            executor_run_s=0.0, gc_s=0.0, tasks=0,
            shuffle_write_bytes=0, shuffle_read_bytes=0, shuffle_records=0,
            spill_bytes=0, input_bytes=0, input_records=0, task_skew=1.0,
        )
        longest = None
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            for st in self._get(f"/stages/{sid}"):
                if st.get("status") != "COMPLETE":
                    continue  # skipped (reused exchange) or failed attempt
                out["executor_run_s"] += st["executorRunTime"] / 1000.0
                out["gc_s"] += st["jvmGcTime"] / 1000.0
                out["tasks"] += st["numTasks"]
                out["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                out["shuffle_read_bytes"] += st["shuffleReadBytes"]
                out["shuffle_records"] += st["shuffleWriteRecords"]
                out["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                out["input_bytes"] += st["inputBytes"]
                out["input_records"] += st["inputRecords"]
                wall = _ts(st["completionTime"]) - _ts(st["submissionTime"])
                if longest is None or wall > longest[0]:
                    longest = (wall, sid, st["attemptId"])
        if longest is not None:
            summary = self._get(
                f"/stages/{longest[1]}/{longest[2]}/taskSummary?quantiles=0.5,1.0"
            )
            med, top = summary["executorRunTime"]
            out["task_skew"] = top / max(med, 1.0)
        return out
