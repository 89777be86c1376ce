"""Reduce a Spark event log to per-layer task metrics.

The traced run tags every Spark job it triggers with a job group named after
the layer whose public function it called (``features``, ``blocking``, ...).
Spark copies the job group into every stage's properties, so each
``SparkListenerTaskEnd`` can be charged to a layer through its stage id.

Per layer this sums task run time, CPU, GC, shuffle read/write, spill and
the two byte counters of the JVM→Python boundary ("data sent to Python
workers", "data returned from Python workers"; the bytes-moved cost model of
Hyper Dimension Shuffle, VLDB'19, applied to the UDF boundary as in
*Accelerating Python UDFs in Vectorized Query Execution*, CIDR'22).

Left unused on purpose: the Python-worker timers ("time to start / to
initialize / to run Python workers"). Their meaning is unverified: summed
over a stage's tasks, the initialize timer alone exceeds the stage's total
executor run time, so they cannot be a share of it.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"

COUNTERS = (
    "jobs",
    "tasks",
    "run_s",
    "cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "py_sent_bytes",
    "py_returned_bytes",
)


def find_log(log_dir: str) -> str:
    """The single (finished) event log the traced session wrote."""
    logs = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(logs) != 1 or logs[0].endswith(".inprogress"):
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    return os.path.join(log_dir, logs[0])


def reduce_log(path: str) -> dict[str, dict[str, float]]:
    """``{job_group: {counter: total}}`` over every task in the log.

    Jobs and tasks without a job group are charged to ``""``.
    """
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                out[group]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                stage_group[ev["Stage Info"]["Stage ID"]] = group
            elif kind == "SparkListenerTaskEnd":
                _add_task(out[stage_group.get(ev["Stage ID"], "")], ev)
    return dict(out)


def _add_task(acc: dict[str, float], ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    acc["tasks"] += 1
    acc["run_s"] += m.get("Executor Run Time", 0) / 1e3
    acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    rd = m.get("Shuffle Read Metrics") or {}
    acc["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
    acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
        name = a.get("Name")
        if name == PY_SENT:
            acc["py_sent_bytes"] += int(a.get("Update") or 0)
        elif name == PY_RETURNED:
            acc["py_returned_bytes"] += int(a.get("Update") or 0)
