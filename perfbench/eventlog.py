"""Fold a Spark event log into per-job-group layer metrics.

The traced run tags each unit of work with ``setJobGroup`` and writes
an uncompressed event log. Spark 4 writes it as a rolling directory
(``eventlog_v2_<app>/events_<n>_<app>``) by default; a single plain
file is read the same way.

Attribution rules:

- a job belongs to the group in its JobStart properties; its
  ``callSite.short`` is kept where Spark records one (collects carry
  the Python call site, parquet writes usually carry none);
- a stage belongs to the group in its StageSubmitted properties, and a
  task to its stage;
- Python-boundary metrics come from the stage accumulables that
  Spark's Python exec nodes publish (bytes sent / returned, worker
  start / run time in ms);
- waiting time is the shuffle fetch wait of the group's tasks.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter, defaultdict
from dataclasses import dataclass, field
from statistics import median

PY_ACCUMULABLES = {
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
    "time to start Python workers": "py_start_ms",
    "time to run Python workers": "py_run_ms",
}
NO_GROUP = ""


@dataclass
class GroupStats:
    jobs: int = 0
    call_sites: Counter = field(default_factory=Counter)
    exec_run_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    fetch_wait_ms: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    py_sent_bytes: int = 0
    py_returned_bytes: int = 0
    py_start_ms: int = 0
    py_run_ms: int = 0
    # (stage id, attempt) -> executor run time of each task
    stage_tasks: dict = field(default_factory=lambda: defaultdict(list))

    def task_skew(self) -> float:
        """max/median task run time of the group's heaviest stage (the
        one with the most executor time); 1.0 when no stage has two
        tasks to compare."""
        stages = [t for t in self.stage_tasks.values() if len(t) >= 2]
        if not stages:
            return 1.0
        heavy = max(stages, key=sum)
        return max(heavy) / max(median(heavy), 1.0)


def _event_files(log_dir: str) -> list[str]:
    """Every event file under ``log_dir``: plain files as they are,
    rolling directories as their ``events_<n>_*`` parts in order."""
    out = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isdir(path):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(re.match(r"events_(\d+)", p).group(1)))
            out += [os.path.join(path, p) for p in parts]
        elif not name.startswith("."):
            out.append(path)
    return out


def read_events(log_dir: str):
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _group(props: dict | None) -> str:
    return (props or {}).get("spark.jobGroup.id") or NO_GROUP


def fold(events) -> dict[str, GroupStats]:
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            g = groups[_group(props)]
            g.jobs += 1
            site = props.get("callSite.short")
            if site:
                g.call_sites[site] += 1
        elif kind == "SparkListenerStageSubmitted":
            stage_group[e["Stage Info"]["Stage ID"]] = _group(e.get("Properties"))
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            g = groups[stage_group.get(info["Stage ID"], NO_GROUP)]
            for acc in info.get("Accumulables", []):
                attr = PY_ACCUMULABLES.get(acc.get("Name"))
                if attr and acc.get("Value") is not None:
                    setattr(g, attr, getattr(g, attr) + int(acc["Value"]))
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics")
            if not m:
                continue
            sid = e["Stage ID"]
            g = groups[stage_group.get(sid, NO_GROUP)]
            g.exec_run_ms += m.get("Executor Run Time", 0)
            g.gc_ms += m.get("JVM GC Time", 0)
            g.spill_bytes += m.get("Disk Bytes Spilled", 0)
            g.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            g.fetch_wait_ms += m.get("Shuffle Read Metrics", {}).get(
                "Fetch Wait Time", 0
            )
            g.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
            g.stage_tasks[(sid, e.get("Stage Attempt ID", 0))].append(
                m.get("Executor Run Time", 0)
            )
    return dict(groups)


def fold_dir(log_dir: str) -> dict[str, GroupStats]:
    return fold(read_events(log_dir))
