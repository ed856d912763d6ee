"""Spark's own records of a run: the event log and streaming progress.

``parse_jobs`` reads the JSON event log Spark writes when
``spark.eventLog.enabled`` is set into one record per job, with the summed
metrics of its stages and tasks; ``fold_jobs`` totals a set of jobs.
``ProgressLog`` is a ``StreamingQueryListener`` that keeps every
micro-batch's progress.
"""

from __future__ import annotations

import json
import threading
import time
from datetime import datetime
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener
from spans import union_seconds

_MB = 1024.0 * 1024.0


def event_log_conf(log_dir: Path) -> dict[str, str]:
    """Session settings that write one uncompressed, unrolled event log."""
    log_dir.mkdir(parents=True, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_events(log_dir: Path):
    for path in sorted(p for p in log_dir.rglob("*") if p.is_file()):
        with open(path) as fh:
            for line in fh:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:  # a torn last line
                    continue


def _task_metrics(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return {
        "run_s": m.get("Executor Run Time", 0) / 1e3,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "deser_s": m.get("Executor Deserialize Time", 0) / 1e3,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_read_mb": (
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        )
        / _MB,
        "shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / _MB,
        "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
        "spill_mb": (
            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        )
        / _MB,
    }


def parse_jobs(log_dir: Path) -> list[dict]:
    """One dict per job: submit/end (epoch s), stage count, and the summed
    metrics of the tasks that ran for it."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for ev in read_events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = {
                "submit": ev["Submission Time"] / 1e3,
                "end": None,
                "stages": 0,
                "tasks": 0,
                "failed_tasks": 0,
                **dict.fromkeys(_task_metrics({}), 0.0),
            }
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid  # the latest job listing a stage runs it
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            jid = stage_job.get(ev["Stage Info"]["Stage ID"])
            if jid is not None:
                jobs[jid]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            if jid is None:
                continue
            job = jobs[jid]
            job["tasks"] += 1
            if (ev.get("Task Info") or {}).get("Failed"):
                job["failed_tasks"] += 1
            for k, v in _task_metrics(ev).items():
                job[k] += v
    return [dict(j, id=i) for i, j in sorted(jobs.items())]


def in_any(t: float, intervals: list[tuple[float, float]]) -> bool:
    return any(s <= t <= e for s, e in intervals)


def fold_jobs(jobs: list[dict], cores: int) -> dict:
    """Engine totals over ``jobs``: counts, task time split, data moved."""
    tot = {
        k: sum(j[k] for j in jobs)
        for k in (
            "stages",
            "tasks",
            "failed_tasks",
            "run_s",
            "cpu_s",
            "deser_s",
            "gc_s",
            "shuffle_read_mb",
            "shuffle_write_mb",
            "fetch_wait_s",
            "spill_mb",
        )
    }
    exec_s = union_seconds([(j["submit"], j["end"] or j["submit"]) for j in jobs])
    return {
        "engine.jobs": len(jobs),
        "engine.stages": tot["stages"],
        "engine.tasks": tot["tasks"],
        "engine.failed_tasks": tot["failed_tasks"],
        "engine.exec_s": exec_s,
        "engine.task_run_s": tot["run_s"],
        "engine.task_cpu_s": tot["cpu_s"],
        "engine.gc_s": tot["gc_s"],
        "engine.python_wait_s": max(tot["run_s"] - tot["cpu_s"] - tot["deser_s"], 0.0),
        "engine.core_busy_share": tot["run_s"] / (exec_s * cores) if exec_s else 0.0,
        "engine.shuffle_read_mb": tot["shuffle_read_mb"],
        "engine.shuffle_write_mb": tot["shuffle_write_mb"],
        "engine.fetch_wait_s": tot["fetch_wait_s"],
        "engine.spill_mb": tot["spill_mb"],
    }


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class ProgressLog(StreamingQueryListener):
    """Keeps each micro-batch's progress; counts started/terminated queries
    so a reader can wait until the listener bus has delivered everything."""

    def __init__(self) -> None:
        self.batches: list[dict] = []
        self.started = 0
        self.terminated = 0
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        with self._cv:
            self.started += 1

    def onQueryProgress(self, event) -> None:
        p = event.progress
        dur = dict(p.durationMs)
        ops = list(p.stateOperators or [])
        rec = {
            "start": _epoch(p.timestamp),
            "trigger_s": dur.get("triggerExecution", 0) / 1e3,
            "add_batch_s": dur.get("addBatch", 0) / 1e3,
            "checkpoint_s": (dur.get("walCommit", 0) + dur.get("commitOffsets", 0)) / 1e3,
            "query_planning_s": dur.get("queryPlanning", 0) / 1e3,
            "source_s": (dur.get("latestOffset", 0) + dur.get("getBatch", 0)) / 1e3,
            "input_rows": int(p.numInputRows),
            "state_rows": sum(int(o.numRowsTotal) for o in ops),
            "state_mem_mb": sum(int(o.memoryUsedBytes) for o in ops) / _MB,
            "state_commit_s": sum(int(o.commitTimeMs) for o in ops) / 1e3,
        }
        with self._cv:
            self.batches.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self.terminated += 1
            self._cv.notify_all()

    def drain(self, timeout: float = 30.0) -> bool:
        """Wait until every started query's termination was delivered."""
        deadline = time.monotonic() + timeout
        with self._cv:
            while self.terminated < self.started:
                left = deadline - time.monotonic()
                if left <= 0:
                    return False
                self._cv.wait(left)
        return True

    def in_window(self, start: float, end: float) -> list[dict]:
        with self._cv:
            return [b for b in self.batches if start <= b["start"] <= end]


def fold_batches(batches: list[dict]) -> dict:
    """Streaming totals over micro-batches."""
    s = lambda k: sum(b[k] for b in batches)  # noqa: E731
    return {
        "streaming.run_s": s("trigger_s"),
        "streaming.batches": len(batches),
        "streaming.input_rows": s("input_rows"),
        "streaming.add_batch_s": s("add_batch_s"),
        "streaming.checkpoint_s": s("checkpoint_s"),
        "streaming.query_planning_s": s("query_planning_s"),
        "streaming.source_s": s("source_s"),
        "streaming.state_rows": s("state_rows"),
        "streaming.state_mem_mb": s("state_mem_mb"),
        "streaming.state_commit_s": s("state_commit_s"),
    }
