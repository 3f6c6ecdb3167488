"""Layer report from a Spark event log (uncompressed JSON lines, stdlib only).

Every Spark job the traced loop submits carries two local properties set by
the benchmark at the call sites of the pipeline's layers (``traced.py``):
``jobbench.job`` (which CLI call) and ``jobbench.phase`` (scan, resume,
plan, extract_commit, audit, exit).  This module groups jobs, stages and
tasks by them and reads, per CLI call:

- Spark job time per phase;
- the extract stage -- the stage that runs the MapInPandas kernel: its
  duration, the MapInPandas worker metrics, executor CPU and GC time, and
  task-time skew (max/median task run time);
- shuffle bytes written and fetch wait of the salted repartition;
- bytes written by the results and audit commits.

    python3 jobbench/layers.py EVENT_LOG_FILE   # prints the report as JSON
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict

# MapInPandas SQL metrics (PythonSQLMetrics), keyed by the name Spark gives them
PYTHON_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}
_TIMING_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _plan_metric_types(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = m["metricType"]
    for child in plan.get("children", ()):
        _plan_metric_types(child, out)


def read_events(path) -> list[dict]:
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def report(events: list[dict]) -> dict:
    """Per CLI call (``jobbench.job``): phase job times and extract-stage
    metrics.  Jobs without the property (set-up, checks) are left out."""
    metric_types: dict[int, str] = {}
    job_of_stage: dict[int, tuple[str, str]] = {}
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    for ev in events:
        kind = ev["Event"]
        if kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _plan_metric_types(ev["sparkPlanInfo"], metric_types)
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            if "jobbench.job" not in props:
                continue
            key = (props["jobbench.job"], props.get("jobbench.phase", "?"))
            jobs[ev["Job ID"]] = {
                "key": key, "start": ev["Submission Time"],
                "call_site": props.get("callSite.short", ""),
            }
            for sid in ev["Stage IDs"]:
                job_of_stage[sid] = key
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if info["Stage ID"] in job_of_stage:
                stages[info["Stage ID"]] = info
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in job_of_stage:
            tasks[ev["Stage ID"]].append(ev)

    calls: dict[str, dict] = defaultdict(
        lambda: {"phase_spark_s": defaultdict(float), "spark_jobs": [], "output_bytes": 0,
                 "shuffle_write_bytes": 0, "extract": None}
    )
    for job in jobs.values():
        call, phase = job["key"]
        c = calls[call]
        dur = (job.get("end", job["start"]) - job["start"]) / 1e3
        c["phase_spark_s"][phase] += dur
        c["spark_jobs"].append({"phase": phase, "s": dur, "call_site": job["call_site"]})
    for sid, info in stages.items():
        call, phase = job_of_stage[sid]
        c = calls[call]
        stage_tasks = tasks.get(sid, [])
        tm = [t.get("Task Metrics") or {} for t in stage_tasks]
        c["output_bytes"] += sum(m.get("Output Metrics", {}).get("Bytes Written", 0) for m in tm)
        c["shuffle_write_bytes"] += sum(
            m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) for m in tm
        )
        acc = {a.get("Name"): a for a in info.get("Accumulables", ())}
        if "data sent to Python workers" not in acc:
            continue
        python = {}
        for name, key in PYTHON_METRICS.items():
            if name in acc:
                a = acc[name]
                value = float(a["Value"])
                scale = _TIMING_SCALE.get(metric_types.get(a["ID"], ""), 1.0)
                python[key] = value * scale
        run_s = [m.get("Executor Run Time", 0) / 1e3 for m in tm]
        mid = statistics.median(run_s) if run_s else 0.0
        extract = {
            "phase": phase,
            "stage_s": (info["Completion Time"] - info["Submission Time"]) / 1e3,
            "tasks": len(stage_tasks),
            "task_skew": max(run_s) / mid if mid else 0.0,
            "executor_cpu_s": sum(m.get("Executor CPU Time", 0) for m in tm) / 1e9,
            "gc_s": sum(m.get("JVM GC Time", 0) for m in tm) / 1e3,
            "shuffle_fetch_wait_s": sum(
                m.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0) for m in tm
            ) / 1e3,
            **python,
        }
        c["extract"] = extract
    return {
        call: {**c, "phase_spark_s": dict(c["phase_spark_s"])}
        for call, c in sorted(calls.items())
    }


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: layers.py EVENT_LOG_FILE")
    print(json.dumps(report(read_events(sys.argv[1])), indent=1))
