"""Spark event-log reader: per job group, the jobs, tasks and task
metrics the run's Spark work produced.

The traced run sets ``spark.eventLog.enabled`` with
``spark.eventLog.compress=false`` (the default zstd codec has no
Python decoder in this toolchain) and puts every benchmark op in its
own job group, so each op's jobs can be found offline after
``spark.stop()`` closes the log.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    spans_ms: list = field(default_factory=list)  # (submit, complete) epoch ms
    executor_run_ms: int = 0
    executor_cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_bytes: int = 0  # shuffle bytes written
    spill_bytes: int = 0  # memory + disk bytes spilled
    output_bytes: int = 0  # bytes written by output (file) tasks


def event_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir``: plain logs, and the numbered
    parts of rolling ``eventlog_v2_*`` directories in order."""
    out = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isdir(path):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(re.match(r"events_(\d+)_", p).group(1)))
            out.extend(os.path.join(path, p) for p in parts)
        elif not name.startswith(".") and not name.endswith(".inprogress"):
            out.append(path)
    return out


def read_events(paths):
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def group_stats(events) -> dict[str | None, GroupStats]:
    """Aggregate jobs and task metrics by ``spark.jobGroup.id``; jobs
    run outside any group land under ``None``."""
    groups: dict[str | None, GroupStats] = {}
    job_group: dict[int, str | None] = {}
    stage_group: dict[int, str | None] = {}
    submitted: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            job_group[e["Job ID"]] = g
            submitted[e["Job ID"]] = e["Submission Time"]
            for sid in e.get("Stage IDs", ()):
                stage_group.setdefault(sid, g)
            groups.setdefault(g, GroupStats()).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in submitted:
                groups[job_group[jid]].spans_ms.append(
                    (submitted.pop(jid), e["Completion Time"])
                )
        elif kind == "SparkListenerTaskEnd":
            st = groups.setdefault(stage_group.get(e["Stage ID"]), GroupStats())
            st.tasks += 1
            m = e.get("Task Metrics") or {}
            st.executor_run_ms += m.get("Executor Run Time", 0)
            st.executor_cpu_ns += m.get("Executor CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            st.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st.output_bytes += (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0
            )
    return groups
