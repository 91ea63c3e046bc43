"""Spark event-log reader: jobs, stages, tasks and their metrics per
time window.

The log is written uncompressed (``spark.eventLog.compress=false``),
one JSON object per line. A stage belongs to the window its submission
time falls in, and a task to its stage's window, so jobs submitted from
the engine's background threads are attributed by time, the same way
as jobs from the main thread.

Python-worker time is read from the SQL metric "time to run Python
workers" (milliseconds, summed over the tasks of a stage); the meaning
of that field is pinned by a known-sleep test before it is reported.

JVM heap use is the peak of the executor metric ``JVMHeapMemory`` (heap
in use, as the JVM's memory bean reports it) over the tasks and stages
of a window. In local mode the one executor is the driver JVM. The
session polls it every ``harness.HEAP_POLL`` so that short tasks carry
a sample.
"""

from __future__ import annotations

import glob
import json
import os

from .spans import union_length

PYTHON_RUN = "time to run Python workers"

FIELDS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "python_run_s", "driver_gap_s", "jvm_heap_peak_mb",
)
MB = 1024.0 * 1024.0


def read_events(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        name = os.path.basename(path)
        if not os.path.isfile(path) or name.startswith((".", "appstatus")):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def summarize(events: list[dict], windows: dict[str, tuple[float, float]]) -> dict:
    """``windows``: name -> (start, end) in epoch seconds; windows may
    nest. Returns name -> {field: value} for every field in ``FIELDS``,
    counting each job, stage and task in every window it falls in."""
    out = {w: dict.fromkeys(FIELDS, 0) for w in windows}
    job_spans: dict[str, list[tuple[float, float]]] = {w: [] for w in windows}

    def windows_of(t_ms: float) -> list[str]:
        t = t_ms / 1000.0
        return [w for w, (a, b) in windows.items() if a <= t <= b]

    job_start: dict[int, float] = {}
    stage_windows: dict[int, list[str]] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            job_start[e["Job ID"]] = e["Submission Time"]
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_start:
            start = job_start[e["Job ID"]]
            for w in windows_of(start):
                out[w]["jobs"] += 1
                job_spans[w].append((start / 1000.0, e["Completion Time"] / 1000.0))
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            ws = windows_of(info.get("Submission Time", 0))
            stage_windows[info["Stage ID"]] = ws
            py_ms = sum(
                float(acc["Value"]) for acc in info.get("Accumulables", [])
                if acc.get("Name") == PYTHON_RUN
            )
            for w in ws:
                out[w]["stages"] += 1
                out[w]["python_run_s"] += py_ms / 1000.0

    def heap_peak(stage_id: int, executor_metrics: dict | None) -> None:
        heap_mb = (executor_metrics or {}).get("JVMHeapMemory", 0) / MB
        for w in stage_windows.get(stage_id, []):
            out[w]["jvm_heap_peak_mb"] = max(out[w]["jvm_heap_peak_mb"], heap_mb)

    for e in events:
        if e.get("Event") == "SparkListenerStageExecutorMetrics":
            heap_peak(e["Stage ID"], e.get("Executor Metrics"))
        if e.get("Event") != "SparkListenerTaskEnd" or not e.get("Task Metrics"):
            continue
        heap_peak(e["Stage ID"], e.get("Task Executor Metrics"))
        m = e["Task Metrics"]
        rd = m.get("Shuffle Read Metrics", {})
        add = {
            "tasks": 1,
            "executor_run_s": m["Executor Run Time"] / 1000.0,
            "executor_cpu_s": m["Executor CPU Time"] / 1e9,
            "gc_s": m["JVM GC Time"] / 1000.0,
            "shuffle_read_bytes": rd.get("Remote Bytes Read", 0)
            + rd.get("Local Bytes Read", 0),
            "shuffle_write_bytes": m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            ),
            "spill_bytes": m.get("Memory Bytes Spilled", 0)
            + m.get("Disk Bytes Spilled", 0),
        }
        for w in stage_windows.get(e["Stage ID"], []):
            for k, v in add.items():
                out[w][k] += v

    for w, (a, b) in windows.items():
        busy = union_length([(max(s, a), min(e, b)) for s, e in job_spans[w]])
        out[w]["driver_gap_s"] = max(0.0, (b - a) - busy)
    return out
