"""Spark engine metrics from the JSON event log and the driver's log.

The event log is read instead of `statusTracker`, which keeps only the
last `spark.ui.retainedJobs` jobs. Each job is attributed through the job
description the benchmark sets before every operation
(``perfbench|<pass>|<operation>``); jobs with another description are
set-up work and are ignored.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict
from collections.abc import Iterable, Iterator

from spans import union_length

DESC_PREFIX = "perfbench|"
CODEGEN_FALLBACK = "Whole-stage codegen disabled for plan"
MB = 1024.0 * 1024.0


def description(pass_id: str, op: str) -> str:
    return f"{DESC_PREFIX}{pass_id}|{op}"


def _parse_description(desc: str | None) -> tuple[str, str] | None:
    if not desc or not desc.startswith(DESC_PREFIX):
        return None
    _, pass_id, op = desc.split("|", 2)
    return pass_id, op


def event_lines(log_dir: str) -> Iterator[str]:
    """Lines of every event log file under ``log_dir``, in write order
    (Spark 4 writes rolling ``events_<n>_<app>`` files)."""
    files = []
    for dirpath, _dirs, names in os.walk(log_dir):
        for name in names:
            if name.startswith("events_") or name.startswith("local-"):
                m = re.match(r"events_(\d+)_", name)
                files.append((int(m.group(1)) if m else 0, os.path.join(dirpath, name)))
    for _n, path in sorted(files):
        with open(path) as f:
            yield from f


def read_events(lines: Iterable[str]) -> dict[tuple[str, str], dict]:
    """Per (pass, operation): job, stage and task counts, executor run, CPU
    and GC time, shuffle and spill volume, and the job intervals."""
    job_op: dict[int, tuple[str, str]] = {}
    stage_op: dict[int, tuple[str, str]] = {}
    ops: dict[tuple[str, str], dict] = defaultdict(
        lambda: {
            "jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
            "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_mb": 0.0,
            "shuffle_write_mb": 0.0, "spill_mb": 0.0, "intervals": [],
        }
    )
    job_start: dict[int, float] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            key = _parse_description((ev.get("Properties") or {}).get("spark.job.description"))
            if key is None:
                continue
            job_id = ev["Job ID"]
            job_op[job_id] = key
            job_start[job_id] = ev["Submission Time"] / 1000.0
            ops[key]["jobs"] += 1
            for st in ev.get("Stage Infos", []):
                stage_op[st["Stage ID"]] = key
        elif kind == "SparkListenerJobEnd":
            key = job_op.get(ev["Job ID"])
            if key is not None:
                ops[key]["intervals"].append((job_start[ev["Job ID"]], ev["Completion Time"] / 1000.0))
        elif kind == "SparkListenerStageCompleted":
            key = stage_op.get(ev["Stage Info"]["Stage ID"])
            if key is not None:
                ops[key]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            key = stage_op.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if key is None or not m:
                continue
            rec = ops[key]
            rec["tasks"] += 1
            rec["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            rec["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            rec["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            rec["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
            sw = m.get("Shuffle Write Metrics") or {}
            rec["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
            rec["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB
    for rec in ops.values():
        rec["job_busy_s"] = union_length(rec.pop("intervals"))
    return dict(ops)


def per_pass(ops: dict[tuple[str, str], dict]) -> dict[str, dict[str, float]]:
    """Sum the per-operation records of each pass."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for (pass_id, _op), rec in ops.items():
        for k, v in rec.items():
            out[pass_id][k] += v
    return {p: dict(v) for p, v in out.items()}


def count_codegen_fallbacks(text: str) -> int:
    return len(re.findall(re.escape(CODEGEN_FALLBACK), text))
