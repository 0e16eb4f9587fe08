"""Spark event-log reader: one record per job with its label and task totals.

Spark writes the log as JSON lines, either one file or a rolling directory
(``eventlog_v2_<app>/events_<n>_<app>``).  Jobs carry the job-group label
the benchmark thread set (``spark.jobGroup.id``); jobs from threads the
benchmark did not label (the engine's own helper and preload threads) carry
none.  Stages are charged to the running job that lists them when they are
submitted, and tasks to their stage's job.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field


@dataclass
class Job:
    job_id: int
    group: str | None
    start_ms: int
    end_ms: int | None = None
    stage_ids: list = field(default_factory=list)
    stages: int = 0  # stages actually run (skipped ones are not submitted)
    tasks: int = 0
    task_ms: int = 0  # Σ task wall (finish − launch)
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0  # memory + disk bytes spilled
    input_records: int = 0

    @property
    def interval(self) -> tuple[float, float]:
        """(start, end) in epoch seconds."""
        end = self.end_ms if self.end_ms is not None else self.start_ms
        return self.start_ms / 1000.0, end / 1000.0


def event_files(path: str) -> list[str]:
    """The log's JSON-lines files in write order (rolling logs are numbered)."""
    if os.path.isfile(path):
        return [path]
    files = []
    for name in os.listdir(path):
        m = re.match(r"events_(\d+)_", name)
        if m:
            files.append((int(m.group(1)), os.path.join(path, name)))
    return [f for _, f in sorted(files)]


def find_log(log_dir: str) -> str:
    """The single application log written under ``log_dir``."""
    entries = [e for e in os.listdir(log_dir) if not e.startswith(".")]
    if len(entries) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {entries}")
    return os.path.join(log_dir, entries[0])


def read_jobs(path: str) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_jobs: dict[int, list[int]] = {}  # stage → jobs listing it
    owner: dict[tuple[int, int], Job] = {}  # (stage, attempt) → running job
    for fname in event_files(path):
        with open(fname) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    job = Job(e["Job ID"], props.get("spark.jobGroup.id"),
                              e["Submission Time"], stage_ids=list(e["Stage IDs"]))
                    jobs[job.job_id] = job
                    for sid in job.stage_ids:
                        stage_jobs.setdefault(sid, []).append(job.job_id)
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]].end_ms = e["Completion Time"]
                elif kind == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    sid = info["Stage ID"]
                    running = [jobs[j] for j in stage_jobs.get(sid, [])
                               if jobs[j].end_ms is None]
                    if running:
                        job = running[-1]
                        job.stages += 1
                        owner[(sid, info.get("Stage Attempt ID", 0))] = job
                elif kind == "SparkListenerTaskEnd":
                    job = owner.get((e["Stage ID"], e.get("Stage Attempt ID", 0)))
                    if job is None:
                        continue
                    info = e.get("Task Info") or {}
                    m = e.get("Task Metrics") or {}
                    job.tasks += 1
                    job.task_ms += max(0, info.get("Finish Time", 0)
                                       - info.get("Launch Time", 0))
                    job.gc_ms += m.get("JVM GC Time", 0)
                    job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}
                                                ).get("Shuffle Bytes Written", 0)
                    job.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                                        + m.get("Disk Bytes Spilled", 0))
                    job.input_records += (m.get("Input Metrics") or {}
                                          ).get("Records Read", 0)
    return sorted(jobs.values(), key=lambda j: j.job_id)
