"""Offline reader for Spark's JSON event log.

The traced run writes an uncompressed event log
(``spark.eventLog.compress=false``). :func:`read` turns it into jobs,
SQL-metric types, AQE re-plans and streaming progress;
:func:`totals` sums the scheduler, executor, Python-worker and
streaming metrics over the jobs submitted inside given time windows.
With one caller in a closed loop, a job belongs to the query whose
window holds its submission time; streaming micro-batches run under
their own job group, so attribution is by time rather than by group.
"""

from __future__ import annotations

import datetime
import json
from dataclasses import dataclass, field

# SQL metrics of the Python-worker operators (MapInArrow, ArrowEvalPython, ...)
PYTHON_METRICS = {
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.start_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}
_SECONDS_PER_UNIT = {"timing": 1e-3, "nsTiming": 1e-9}


@dataclass
class Job:
    job_id: int
    submit_ms: int
    execution_id: int | None
    stage_ids: list[int]
    end_ms: int | None = None


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    # stage id -> one dict per finished task, over all attempts
    tasks: dict[int, list[dict]] = field(default_factory=dict)
    metric_types: dict[int, str] = field(default_factory=dict)
    aqe_updates: dict[int, int] = field(default_factory=dict)
    progress: list[dict] = field(default_factory=list)


def _walk_plan(info: dict, out: dict[int, str]) -> None:
    for m in info.get("metrics", ()):
        out[int(m["accumulatorId"])] = m.get("metricType", "sum")
    for child in info.get("children", ()):
        _walk_plan(child, out)


def _epoch_ms(iso: str) -> int:
    ts = datetime.datetime.fromisoformat(iso.replace("Z", "+00:00"))
    return int(ts.timestamp() * 1000)


def read(path: str) -> EventLog:
    log = EventLog()
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                exec_id = props.get("spark.sql.execution.id")
                log.jobs[ev["Job ID"]] = Job(
                    ev["Job ID"],
                    ev["Submission Time"],
                    int(exec_id) if exec_id is not None else None,
                    list(ev.get("Stage IDs", ())),
                )
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(ev["Job ID"])
                if job is not None:
                    job.end_ms = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                log.tasks.setdefault(ev["Stage ID"], []).append(_task(ev))
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                _walk_plan(ev.get("sparkPlanInfo") or {}, log.metric_types)
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                _walk_plan(ev.get("sparkPlanInfo") or {}, log.metric_types)
                eid = int(ev["executionId"])
                log.aqe_updates[eid] = log.aqe_updates.get(eid, 0) + 1
            elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
                for m in ev.get("sqlPlanMetrics", ()):
                    log.metric_types[int(m["accumulatorId"])] = m.get("metricType", "sum")
            elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                p = ev["progress"]
                log.progress.append(
                    {
                        "run_id": p.get("runId"),
                        "ts_ms": _epoch_ms(p["timestamp"]),
                        "trigger_ms": (p.get("durationMs") or {}).get("triggerExecution", 0),
                        "state_rows": sum(s.get("numRowsTotal", 0) for s in p.get("stateOperators", ())),
                        "state_bytes": sum(s.get("memoryUsedBytes", 0) for s in p.get("stateOperators", ())),
                    }
                )
    return log


def _task(ev: dict) -> dict:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    run_ms = m.get("Executor Run Time", 0)
    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    getting = info.get("Getting Result Time", 0)
    getting_ms = info.get("Finish Time", 0) - getting if getting else 0
    overhead = m.get("Executor Deserialize Time", 0) + m.get("Result Serialization Time", 0)
    return {
        "run_ms": run_ms,
        "cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "delay_ms": max(0, duration - run_ms - overhead - getting_ms),
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "output": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
        "acc": [
            (int(a["ID"]), a.get("Name"), a.get("Update"))
            for a in info.get("Accumulables", ())
            if a.get("Name") in PYTHON_METRICS and a.get("Update") is not None
        ],
    }


def jobs_in(log: EventLog, windows) -> list[Job]:
    """Jobs submitted inside any of the (start_ms, end_ms) windows."""
    return [j for j in log.jobs.values() if any(a <= j.submit_ms <= b for a, b in windows)]


def covered_ms(jobs: list[Job], start_ms: int, end_ms: int) -> int:
    """Milliseconds of [start_ms, end_ms] during which a job ran."""
    spans = sorted(
        (max(j.submit_ms, start_ms), min(j.end_ms or end_ms, end_ms)) for j in jobs
    )
    total, cur_a, cur_b = 0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def totals(log: EventLog, windows) -> dict[str, float]:
    """Scheduler, executor, Python-worker, AQE and streaming metrics of
    the jobs (and streaming triggers) inside ``windows``."""
    jobs = jobs_in(log, windows)
    stage_ids = sorted({s for j in jobs for s in j.stage_ids if s in log.tasks})
    tasks = [t for s in stage_ids for t in log.tasks[s]]
    out = {
        "sched.jobs": len(jobs),
        "sched.stages": len(stage_ids),
        "sched.tasks": len(tasks),
        "sched.task_delay_s": sum(t["delay_ms"] for t in tasks) / 1e3,
        "exec.run_s": sum(t["run_ms"] for t in tasks) / 1e3,
        "exec.cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "exec.gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "shuffle.read_bytes": sum(t["shuffle_read"] for t in tasks),
        "shuffle.write_bytes": sum(t["shuffle_write"] for t in tasks),
        "shuffle.fetch_wait_s": sum(t["fetch_wait_ms"] for t in tasks) / 1e3,
        "spill.bytes": sum(t["spill"] for t in tasks),
        "input.bytes": sum(t["input"] for t in tasks),
        "output.bytes": sum(t["output"] for t in tasks),
        "aqe.plan_updates": sum(
            log.aqe_updates.get(e, 0) for e in {j.execution_id for j in jobs} if e is not None
        ),
    }
    for key in set(PYTHON_METRICS.values()):
        out[key] = 0.0
    for t in tasks:
        for acc_id, name, update in t["acc"]:
            scale = _SECONDS_PER_UNIT.get(log.metric_types.get(acc_id, "sum"), 1.0)
            out[PYTHON_METRICS[name]] += float(update) * scale
    progress = [p for p in log.progress if any(a <= p["ts_ms"] <= b for a, b in windows)]
    last_state: dict[str, dict] = {}
    for p in progress:
        last_state[p["run_id"]] = p
    out["stream.batches"] = len(progress)
    out["stream.trigger_s"] = sum(p["trigger_ms"] for p in progress) / 1e3
    out["stream.state_rows"] = sum(p["state_rows"] for p in last_state.values())
    out["stream.state_bytes"] = sum(p["state_bytes"] for p in last_state.values())
    return out
