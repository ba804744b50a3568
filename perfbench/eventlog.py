"""Parse a Spark event log (JSON lines, uncompressed) into per-job-group
task metrics.  The benchmark tags each pass with a job group
(``SparkContext.setJobGroup``) so the stages of one rung or one resume
call can be told apart."""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict


def _task_row(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    info = ev.get("Task Info") or {}
    shuffle_w = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    return {
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "ser_ms": (m.get("Executor Deserialize Time", 0)
                   + m.get("Result Serialization Time", 0)),
        "shuffle_b": shuffle_w.get("Shuffle Bytes Written", 0),
        "input_rec": inp.get("Records Read", 0),
        "dur_ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
    }


def parse(lines) -> dict[str, dict]:
    """Job group -> totals over the tasks of its jobs:
    ``{jobs, exec_run_s, exec_cpu_s, gc_s, ser_s, shuffle_mb,
    input_records, task_skew}``.  Input *bytes* are not reported: the
    parquet reader's vectored reads run off the task thread, so the
    task's ``Bytes Read`` misses almost all of them.  ``task_skew`` is max/median task duration of the
    group's main stage, the one with the most executor run time."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    tasks: dict[int, list[dict]] = defaultdict(list)
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            jobs[group] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            tasks[ev["Stage ID"]].append(_task_row(ev))

    out: dict[str, dict] = {}
    for group, njobs in jobs.items():
        stages = {sid: ts for sid, ts in tasks.items()
                  if stage_group.get(sid) == group}
        rows = [t for ts in stages.values() for t in ts]
        skew = 1.0
        if stages:
            main = max(stages.values(), key=lambda ts: sum(t["run_ms"] for t in ts))
            durs = [t["dur_ms"] for t in main]
            med = statistics.median(durs)
            skew = max(durs) / med if med > 0 else 1.0
        out[group] = {
            "jobs": njobs,
            "exec_run_s": sum(t["run_ms"] for t in rows) / 1e3,
            "exec_cpu_s": sum(t["cpu_ns"] for t in rows) / 1e9,
            "gc_s": sum(t["gc_ms"] for t in rows) / 1e3,
            "ser_s": sum(t["ser_ms"] for t in rows) / 1e3,
            "shuffle_mb": sum(t["shuffle_b"] for t in rows) / 1e6,
            "input_records": sum(t["input_rec"] for t in rows),
            "task_skew": skew,
        }
    return out


def parse_file(path: str) -> dict[str, dict]:
    """Parse one application's log: a single file, or a rolling-log
    directory (``eventlog_v2_<app>/events_<n>_<app>``) read in order."""
    if not os.path.isdir(path):
        with open(path) as fh:
            return parse(fh)
    parts = sorted((n for n in os.listdir(path) if n.startswith("events_")),
                   key=lambda n: int(n.split("_")[1]))
    lines: list[str] = []
    for n in parts:
        with open(os.path.join(path, n)) as fh:
            lines.extend(fh)
    return parse(lines)
