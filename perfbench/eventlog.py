"""Spark event-log reader: per-stage metrics grouped by job group.

Spark 4.1 writes rolling, zstd-compressed logs
(``eventlog_v2_<app>/events_<n>_<app>.zstd``). The standard library has no
zstd codec, so compressed parts are decoded with the ``zstd`` command-line
tool. Only the events this benchmark needs are kept: stage completions (task
metrics and SQL accumulables such as "data sent to Python workers" and "spill
size"), tagged with the job group that submitted them, and job starts.
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Stage:
    stage_id: int
    attempt: int
    group: str | None
    submit_s: float
    complete_s: float
    tasks: int
    acc: dict[str, float] = field(default_factory=dict)

    def get(self, name: str) -> float:
        return self.acc.get(name, 0.0)


@dataclass
class Job:
    job_id: int
    group: str | None


def _part_index(path: str) -> int:
    m = re.match(r"events_(\d+)_", os.path.basename(path))
    return int(m.group(1)) if m else 0


def _read_text(path: str) -> str:
    if path.endswith(".zstd"):
        out = subprocess.run(
            ["zstd", "-dc", path], check=True, capture_output=True, timeout=120
        )
        return out.stdout.decode()
    with open(path, encoding="utf-8") as f:
        return f.read()


def log_files(log_dir: str) -> list[str]:
    """The rolling event log's parts under ``log_dir``, in write order."""
    return sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")), key=_part_index
    )


def _number(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_log(log_dir: str) -> tuple[list[Stage], list[Job]]:
    """Completed stage attempts and started jobs, each with its job group."""
    files = log_files(log_dir)
    if not files:
        raise FileNotFoundError(f"no event log under {log_dir}")
    submitted_group: dict[tuple[int, int], str | None] = {}
    stages: list[Stage] = []
    jobs: list[Job] = []
    for path in files:
        for line in _read_text(path).splitlines():
            if not line:
                continue
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                submitted_group[key] = (ev.get("Properties") or {}).get(GROUP_KEY)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                if "Submission Time" not in info:
                    continue  # skipped stage: never ran
                stages.append(
                    Stage(
                        stage_id=key[0],
                        attempt=key[1],
                        group=submitted_group.get(key),
                        submit_s=info["Submission Time"] / 1000.0,
                        complete_s=info.get("Completion Time", info["Submission Time"])
                        / 1000.0,
                        tasks=int(info.get("Number of Tasks", 0)),
                        acc={
                            a["Name"]: _number(a.get("Value"))
                            for a in info.get("Accumulables", [])
                            if "Name" in a
                        },
                    )
                )
            elif kind == "SparkListenerJobStart":
                jobs.append(
                    Job(ev["Job ID"], (ev.get("Properties") or {}).get(GROUP_KEY))
                )
    return stages, jobs
