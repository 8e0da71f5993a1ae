"""Trim a Spark event log to the events and fields ``eventlog.fold`` reads.

    python3 perfbench/tests/trim_log.py <event log> <out.json.gz>

The test fixture ``data/small_eventlog.json.gz`` was made this way from the
log of a 60-doc session that ran each public call of the benchmark once
under its ``"<layer>|<op id>"`` job descriptions: a build, a block-rows
write, two selects (one a phrase), a ``select_batch``, an append-only
commit, a reopen, a select on the reopened index and a compact.
"""

from __future__ import annotations

import gzip
import json
import sys

_TASK_METRICS = (
    "Executor Run Time",
    "Executor CPU Time",
    "Executor Deserialize Time",
    "Result Serialization Time",
    "JVM GC Time",
    "Memory Bytes Spilled",
    "Disk Bytes Spilled",
    "Input Metrics",
    "Shuffle Write Metrics",
    "Shuffle Read Metrics",
)


def _plan(p: dict) -> dict:
    return {
        "nodeName": p["nodeName"],
        "simpleString": p["simpleString"][:400],
        "metrics": [
            {"name": m["name"], "accumulatorId": m["accumulatorId"]} for m in p["metrics"]
        ],
        "children": [_plan(c) for c in p["children"]],
    }


def trim(e: dict) -> "dict | None":
    ev = e["Event"]
    if ev.endswith("SQLExecutionStart"):
        return {
            "Event": ev,
            "executionId": e["executionId"],
            "description": e.get("description"),
            "sparkPlanInfo": _plan(e["sparkPlanInfo"]),
        }
    if ev.endswith("SQLAdaptiveExecutionUpdate"):
        return {"Event": ev, "executionId": e["executionId"], "sparkPlanInfo": _plan(e["sparkPlanInfo"])}
    if ev.endswith("SQLAdaptiveSQLMetricUpdates"):
        return {
            "Event": ev,
            "executionId": e["executionId"],
            "sqlPlanMetrics": [
                {"name": m["name"], "accumulatorId": m["accumulatorId"]} for m in e["sqlPlanMetrics"]
            ],
        }
    if ev.endswith("DriverAccumUpdates"):
        return e
    if ev == "SparkListenerJobStart":
        desc = (e.get("Properties") or {}).get("spark.job.description")
        return {
            "Event": ev,
            "Job ID": e["Job ID"],
            "Submission Time": e["Submission Time"],
            "Stage IDs": e["Stage IDs"],
            "Properties": {"spark.job.description": desc} if desc else {},
        }
    if ev == "SparkListenerJobEnd":
        return {"Event": ev, "Job ID": e["Job ID"], "Completion Time": e["Completion Time"]}
    if ev == "SparkListenerStageCompleted":
        return {"Event": ev, "Stage Info": {"Stage ID": e["Stage Info"]["Stage ID"]}}
    if ev == "SparkListenerTaskEnd":
        info = e["Task Info"]
        return {
            "Event": ev,
            "Stage ID": e["Stage ID"],
            "Task Info": {
                k: info.get(k) for k in ("Launch Time", "Finish Time", "Getting Result Time", "Failed", "Killed")
            }
            | {
                "Accumulables": [
                    {k: a[k] for k in ("ID", "Name", "Update") if k in a}
                    for a in info.get("Accumulables") or ()
                ]
            },
            "Task Metrics": {k: v for k, v in (e.get("Task Metrics") or {}).items() if k in _TASK_METRICS},
        }
    return None


def main(src: str, dst: str) -> None:
    with open(src, encoding="utf-8") as f, gzip.open(dst, "wt", encoding="utf-8") as out:
        for line in f:
            t = trim(json.loads(line))
            if t is not None:
                out.write(json.dumps(t, separators=(",", ":")) + "\n")


if __name__ == "__main__":
    main(*sys.argv[1:])
