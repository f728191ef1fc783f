"""Spark event-log reader: attributes every job, stage and task to the op
that issued it.

Ops run under ``sc.setJobGroup("<workload>.<op>")`` with the local
property ``perfbench.pass`` set to the pass number, and both land in each
``SparkListenerJobStart``'s ``Properties``.  Stages map to jobs through
the job-start ``Stage IDs``; tasks map to stages through ``Stage ID``.

Spark 4 writes a rolling log directory ``eventlog_v2_<app>/`` holding
``events_<n>_<app>.zstd`` parts.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict

import pyarrow as pa

PASS_PROP = "perfbench.pass"
GROUP_PROP = "spark.jobGroup.id"

FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "tasks_failed",
    "exec_run_s",
    "exec_cpu_s",
    "gc_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
)

_MB = float(1 << 20)


def _part_index(name: str) -> int:
    m = re.match(r"events_(\d+)_", name)
    return int(m.group(1)) if m else 0


def log_files(path: str) -> list[str]:
    """The ``events_*`` parts of every ``eventlog_v2_*`` directory in
    ``path``, in write order."""
    out = []
    for log in sorted(glob.glob(os.path.join(path, "eventlog_v2_*"))):
        parts = glob.glob(os.path.join(log, "events_*"))
        out += sorted(parts, key=lambda f: _part_index(os.path.basename(f)))
    return out


def read_events(path: str):
    """Yield every event (a dict) of the logs in ``path``."""
    for f in log_files(path):
        with pa.input_stream(f, compression="zstd") as s:
            for line in s.read().decode("utf-8").splitlines():
                if line.strip():
                    yield json.loads(line)


def summarize(events) -> dict[tuple[str, int], dict[str, float]]:
    """Sum jobs, stages, tasks and task metrics per (job group, pass).

    Jobs without a group are keyed ``("", -1)``; a job without the pass
    property gets pass ``-1``.
    """
    stage_owner: dict[int, tuple[str, int]] = {}
    out: dict[tuple[str, int], dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(FIELDS, 0.0)
    )
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            key = (props.get(GROUP_PROP, ""), int(props.get(PASS_PROP, -1)))
            out[key]["jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_owner.setdefault(sid, key)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            out[stage_owner.get(sid, ("", -1))]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            row = out[stage_owner.get(ev["Stage ID"], ("", -1))]
            row["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                row["tasks_failed"] += 1
            tm = ev.get("Task Metrics") or {}
            row["exec_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            row["exec_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            row["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            rd = tm.get("Shuffle Read Metrics") or {}
            row["shuffle_read_mb"] += (
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            ) / _MB
            wr = tm.get("Shuffle Write Metrics") or {}
            row["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / _MB
            row["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / _MB
    return dict(out)
