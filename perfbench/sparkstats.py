"""Spark-side counters per job group.

Job, stage and task counts come from ``SparkContext.statusTracker()``.
Times and bytes come from the application's event log, which a traced run
writes uncompressed and non-rolling so that it is one JSON-lines file.
"""

from __future__ import annotations

import json

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")
EXEC_METRICS = (
    "spark_exec.task_ms",
    "spark_exec.input_bytes",
    "spark_exec.shuffle_read_bytes",
    "spark_exec.shuffle_write_bytes",
    "spark_exec.python_bytes",
    "spark_exec.spill_bytes",
)


def tracker_counts(sc, group: str) -> dict[str, int]:
    st = sc.statusTracker()
    jobs = list(st.getJobIdsForGroup(group))
    stages: set[int] = set()
    tasks = 0
    for job in jobs:
        info = st.getJobInfo(job)
        for stage in (info.stageIds if info else []):
            sinfo = st.getStageInfo(stage)
            # A skipped stage (its shuffle output reused) completes no task.
            if stage not in stages and sinfo and sinfo.numCompletedTasks:
                stages.add(stage)
                tasks += sinfo.numCompletedTasks
    return {
        "spark_driver.jobs": len(jobs),
        "spark_driver.stages": len(stages),
        "spark_driver.tasks": tasks,
    }


def event_log_metrics(path: str, groups: set[str]) -> dict[str, dict[str, float]]:
    """Group -> plan_ms, gap_ms and executor totals from one event log.

    ``plan_ms`` sums, over the group's SQL executions, the time from the
    execution's start to its first job. ``gap_ms`` sums the time in which
    the group had a job still to come but none running."""
    sql_start: dict[int, int] = {}
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str] = {}
    out = {g: dict.fromkeys(EXEC_METRICS, 0.0) for g in groups}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == SQL_START:
                sql_start[e["executionId"]] = e["time"]
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                if group not in groups:
                    continue
                execution = props.get("spark.sql.execution.id")
                jobs[e["Job ID"]] = {
                    "group": group,
                    "submit": e["Submission Time"],
                    "end": None,
                    "execution": int(execution) if execution else None,
                }
                for stage in e["Stage IDs"]:
                    stage_group[stage] = group
            elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_group:
                m = out[stage_group[e["Stage ID"]]]
                tm = e.get("Task Metrics") or {}
                shuffle_read = tm.get("Shuffle Read Metrics") or {}
                m["spark_exec.task_ms"] += tm.get("Executor Run Time", 0)
                m["spark_exec.input_bytes"] += (tm.get("Input Metrics") or {}).get(
                    "Bytes Read", 0
                )
                m["spark_exec.shuffle_read_bytes"] += shuffle_read.get(
                    "Remote Bytes Read", 0
                ) + shuffle_read.get("Local Bytes Read", 0)
                m["spark_exec.shuffle_write_bytes"] += (
                    tm.get("Shuffle Write Metrics") or {}
                ).get("Shuffle Bytes Written", 0)
                m["spark_exec.spill_bytes"] += tm.get(
                    "Memory Bytes Spilled", 0
                ) + tm.get("Disk Bytes Spilled", 0)
                for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Name") in PYTHON_BYTES:
                        m["spark_exec.python_bytes"] += float(acc.get("Update") or 0)

    for group, m in out.items():
        mine = sorted(
            (j for j in jobs.values() if j["group"] == group),
            key=lambda j: j["submit"],
        )
        first_job: dict[int, int] = {}
        for j in mine:
            if j["execution"] in sql_start:
                first_job.setdefault(j["execution"], j["submit"])
        m["spark_driver.plan_ms"] = float(
            sum(t - sql_start[x] for x, t in first_job.items())
        )
        gap, busy_until = 0, None
        for j in mine:
            if busy_until is not None and j["submit"] > busy_until:
                gap += j["submit"] - busy_until
            end = j["end"] if j["end"] is not None else j["submit"]
            busy_until = end if busy_until is None else max(busy_until, end)
        m["spark_driver.gap_ms"] = float(gap)
    return out
