"""Outside-in counters: what the benchmark can observe without any hook
inside the program.

- ``StoreSnapshot``: inode, size and mtime of every file under a store
  root, so two snapshots give the bytes and files an operation wrote.
- ``JobGroups``: one Spark job group per operation, read back through
  ``SparkStatusTracker`` (jobs, stages and tasks per operation).
- ``EventLog``: the Spark event log of a traced run, folded per job
  group into task time, scheduler delay, shuffle bytes, input rows and
  the share of an operation's wall time with no job running.
- ``peak_rss_mb``: high-water resident memory of this process plus the JVM.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

import pyarrow.parquet as pq

__all__ = ["StoreSnapshot", "JobGroups", "EventLog", "OpJobs", "peak_rss_mb", "vm_hwm_kb"]


@dataclass(frozen=True)
class StoreSnapshot:
    files: dict  # relative path -> (inode, size, mtime_ns)
    rows: dict  # relative path of a parquet file -> its row count

    @classmethod
    def take(cls, root: str) -> "StoreSnapshot":
        files, rows = {}, {}
        for dirpath, _dirs, names in os.walk(root):
            for name in names:
                p = os.path.join(dirpath, name)
                st = os.stat(p)
                rel = os.path.relpath(p, root)
                files[rel] = (st.st_ino, st.st_size, st.st_mtime_ns)
                if name.endswith(".parquet"):
                    rows[rel] = pq.read_metadata(p).num_rows
        return cls(files, rows)

    def total_bytes(self) -> int:
        return sum(v[1] for v in self.files.values())

    def parquet_files(self, table: str) -> list[str]:
        return sorted(p for p in self.rows if p.startswith(table + os.sep))

    def table_rows(self, table: str) -> int:
        return sum(self.rows[p] for p in self.parquet_files(table))

    def written_since(self, before: "StoreSnapshot") -> list[str]:
        """Files that are new or were rewritten since ``before``."""
        return [p for p, v in self.files.items() if before.files.get(p) != v]


@dataclass
class OpJobs:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0


class JobGroups:
    """Tags each operation's Spark jobs with its own job group."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()

    @staticmethod
    def group(op_id: int) -> str:
        return f"op-{op_id}"

    def begin(self, op_id: int, kind: str) -> None:
        self.sc.setJobGroup(self.group(op_id), kind)

    def end(self, op_id: int) -> OpJobs:
        self.sc.setJobGroup("idle", "between operations")
        out = OpJobs()
        for job_id in self.tracker.getJobIdsForGroup(self.group(op_id)):
            info = self.tracker.getJobInfo(job_id)
            if info is None:
                continue
            out.jobs += 1
            for stage_id in info.stageIds:
                st = self.tracker.getStageInfo(stage_id)
                # stages a job skipped (shuffle output reused) ran no task
                if st is not None and st.numCompletedTasks + st.numFailedTasks > 0:
                    out.stages += 1
                    out.tasks += st.numCompletedTasks + st.numFailedTasks
        return out


@dataclass
class GroupStats:
    task_run_ms: float = 0.0
    scheduler_delay_ms: float = 0.0
    shuffle_bytes: int = 0
    input_rows: int = 0
    failed_tasks: int = 0
    job_intervals: list = field(default_factory=list)


class EventLog:
    """Per-job-group totals from a Spark JSON event log."""

    def __init__(self, path: str) -> None:
        self.groups: dict[str, GroupStats] = defaultdict(GroupStats)
        self.failed_tasks = 0
        stage_group: dict[int, str] = {}
        job_group: dict[int, str] = {}
        job_start: dict[int, int] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    job_group[ev["Job ID"]] = g
                    job_start[ev["Job ID"]] = ev["Submission Time"]
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_start:
                        self.groups[job_group[jid]].job_intervals.append((job_start[jid], ev["Completion Time"]))
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    stage_group[ev["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id", "")
                elif kind == "SparkListenerTaskEnd":
                    g = self.groups[stage_group.get(ev["Stage ID"], "")]
                    info = ev["Task Info"]
                    if info.get("Failed") or (ev.get("Task End Reason") or {}).get("Reason") not in (None, "Success"):
                        g.failed_tasks += 1
                        self.failed_tasks += 1
                    m = ev.get("Task Metrics") or {}
                    run = m.get("Executor Run Time", 0)
                    overhead = (
                        m.get("Executor Deserialize Time", 0)
                        + m.get("Result Serialization Time", 0)
                        + (info["Finish Time"] - info["Getting Result Time"] if info.get("Getting Result Time") else 0)
                    )
                    g.task_run_ms += run
                    g.scheduler_delay_ms += max(0, info["Finish Time"] - info["Launch Time"] - run - overhead)
                    g.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    g.input_rows += (m.get("Input Metrics") or {}).get("Records Read", 0)

    def busy_ms(self, group: str, start_ms: float, end_ms: float) -> float:
        """Milliseconds of [start, end] during which a job of ``group`` ran."""
        spans = sorted(
            (max(a, start_ms), min(b, end_ms)) for a, b in self.groups[group].job_intervals if b > start_ms and a < end_ms
        )
        busy, cur_a, cur_b = 0.0, None, None
        for a, b in spans:
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    busy += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            busy += cur_b - cur_a
        return busy


def vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set size of a process, from /proc (0 if unreadable)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Driver Python plus JVM high-water marks. The two peaks need not
    coincide, so this is an upper bound on the joint peak."""
    kb = vm_hwm_kb("self") + (vm_hwm_kb(jvm_pid) if jvm_pid else 0)
    return kb / 1024.0
