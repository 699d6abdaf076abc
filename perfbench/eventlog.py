"""Spark event log → ``spark.*`` metrics for the jobs of one tagged phase.

Totals are per runner pass.  The task-time distribution is taken over the
wave-write stages: the stages that read the salted shuffle, run the
``mapInPandas`` kernel and write the wave (shuffle read and output bytes
both nonzero).
"""

from __future__ import annotations

import json
import os
import statistics


def _tasks_of_phase(path: str, phase_key: str, phase: str):
    jobs = {}  # job id -> [submit ms, end ms]
    stage_job = {}
    tasks = []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                if (e.get("Properties") or {}).get(phase_key) == phase:
                    jobs[e["Job ID"]] = [e["Submission Time"], None]
                    for sid in e["Stage IDs"]:
                        stage_job[sid] = e["Job ID"]
            elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                jobs[e["Job ID"]][1] = e["Completion Time"]
            elif ev == "SparkListenerTaskEnd" and e["Stage ID"] in stage_job:
                tasks.append(e)
    return jobs, tasks


def spark_metrics(event_dir: str, phase_key: str, phase: str, cores: int, passes: int) -> dict:
    (name,) = os.listdir(event_dir)
    jobs, tasks = _tasks_of_phase(os.path.join(event_dir, name), phase_key, phase)
    tot = dict.fromkeys(
        ("cpu_ns", "run_ms", "gc_ms", "sw_bytes", "sw_ns", "sr_bytes", "fetch_ms", "out_bytes", "task_ms"), 0
    )
    stage_tasks: dict[int, list[tuple[int, bool, bool]]] = {}
    for e in tasks:
        tm = e.get("Task Metrics") or {}
        info = e["Task Info"]
        sr = tm.get("Shuffle Read Metrics", {})
        sw = tm.get("Shuffle Write Metrics", {})
        out = tm.get("Output Metrics", {}).get("Bytes Written", 0)
        read = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        dur = info["Finish Time"] - info["Launch Time"]
        tot["cpu_ns"] += tm.get("Executor CPU Time", 0)
        tot["run_ms"] += tm.get("Executor Run Time", 0)
        tot["gc_ms"] += tm.get("JVM GC Time", 0)
        tot["sw_bytes"] += sw.get("Shuffle Bytes Written", 0)
        tot["sw_ns"] += sw.get("Shuffle Write Time", 0)
        tot["sr_bytes"] += read
        tot["fetch_ms"] += sr.get("Fetch Wait Time", 0)
        tot["out_bytes"] += out
        tot["task_ms"] += dur
        stage_tasks.setdefault(e["Stage ID"], []).append((dur, read > 0, out > 0))
    write_ms = [d for ts in stage_tasks.values() if any(r and o for _, r, o in ts) for d, _, _ in ts]
    job_ms = sum(end - start for start, end in jobs.values() if end is not None)
    p50 = statistics.median(write_ms)
    return {
        "spark.tasks": len(tasks) / passes,
        "spark.task_ms_p50": p50,
        "spark.task_ms_max": max(write_ms),
        "spark.task_skew": max(write_ms) / p50,
        "spark.executor_cpu_s": tot["cpu_ns"] / 1e9 / passes,
        "spark.executor_run_s": tot["run_ms"] / 1e3 / passes,
        "spark.jvm_gc_s": tot["gc_ms"] / 1e3 / passes,
        "spark.shuffle_write_mb": tot["sw_bytes"] / 1e6 / passes,
        "spark.shuffle_read_mb": tot["sr_bytes"] / 1e6 / passes,
        "spark.shuffle_write_s": tot["sw_ns"] / 1e9 / passes,
        "spark.shuffle_fetch_wait_s": tot["fetch_ms"] / 1e3 / passes,
        "spark.output_mb": tot["out_bytes"] / 1e6 / passes,
        "spark.idle_core_share": 1 - tot["task_ms"] / (cores * job_ms),
    }
