"""Tracing from outside the program: layer spans, the Spark event log,
streaming progress and process memory.

Spans are recorded around calls into the program's public functions. Each
span also becomes the Spark job description of the jobs it launches, so the
event log (parsed after the session stops) attributes every job to a layer.
Jobs that Spark itself describes (streaming micro-batches) are attributed to
the span whose time window holds their submission.
"""

from __future__ import annotations

import json
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

_TAG = re.compile(r"^perfbench op (\d+): (\S+)$")


@dataclass
class Span:
    op: int
    layer: str
    start_ms: float
    end_ms: float = 0.0

    @property
    def seconds(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


@dataclass
class Tracer:
    """Keeps spans in memory; ``layer`` tags the Spark jobs a call launches."""

    spark: object
    spans: list[Span] = field(default_factory=list)

    @contextmanager
    def layer(self, op: int, name: str):
        sc = self.spark.sparkContext
        sc.setJobDescription(f"perfbench op {op}: {name}")
        span = Span(op, name, time.time() * 1000.0)
        try:
            yield span
        finally:
            span.end_ms = time.time() * 1000.0
            self.spans.append(span)
            sc.setJobDescription(None)

    def seconds(self, op: int, name: str) -> float:
        return sum(s.seconds for s in self.spans if s.op == op and s.layer == name)


# --- Spark event log ---------------------------------------------------------


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int
    description: str
    execution_id: int | None
    stage_ids: list[int]


@dataclass
class StageWork:
    submit_ms: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    wait_ms: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    input_bytes: int = 0
    result_bytes: int = 0


@dataclass
class EventLog:
    jobs: list[Job]
    stages: dict[int, StageWork]
    plans: dict[int, str]  # SQL execution id -> physical plan text

    @classmethod
    def parse(cls, path: Path) -> "EventLog":
        jobs: dict[int, Job] = {}
        stages: dict[int, StageWork] = {}
        plans: dict[int, str] = {}
        with open(path, encoding="utf-8") as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    exec_id = props.get("spark.sql.execution.id")
                    jobs[e["Job ID"]] = Job(
                        e["Job ID"], e["Submission Time"], e["Submission Time"],
                        props.get("spark.job.description") or "",
                        int(exec_id) if exec_id is not None else None,
                        list(e["Stage IDs"]),
                    )
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]].end_ms = e["Completion Time"]
                elif kind == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    stages.setdefault(info["Stage ID"], StageWork()).submit_ms = info["Submission Time"]
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(e["Stage ID"], StageWork())
                    info, m = e["Task Info"], e.get("Task Metrics") or {}
                    st.tasks += 1
                    st.run_ms += m.get("Executor Run Time", 0)
                    st.cpu_ns += m.get("Executor CPU Time", 0)
                    st.gc_ms += m.get("JVM GC Time", 0)
                    st.wait_ms += max(0, info["Launch Time"] - st.submit_ms)
                    st.result_bytes += m.get("Result Size", 0)
                    st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    plans[e["executionId"]] = e.get("physicalPlanDescription") or ""
        return cls(sorted(jobs.values(), key=lambda j: j.job_id), stages, plans)

    def attribute(self, spans: list[Span]) -> dict[tuple[int, str], list[Job]]:
        """(op, layer) -> jobs: by our job description, else by time window."""
        out: dict[tuple[int, str], list[Job]] = {}
        for job in self.jobs:
            m = _TAG.match(job.description)
            if m:
                key = (int(m.group(1)), m.group(2))
            else:
                span = next((s for s in spans if s.start_ms <= job.submit_ms <= s.end_ms), None)
                if span is None:
                    continue
                key = (span.op, span.layer)
            out.setdefault(key, []).append(job)
        return out

    def work(self, jobs: list[Job]) -> StageWork:
        total = StageWork()
        seen: set[int] = set()
        for job in jobs:
            for sid in job.stage_ids:
                st = self.stages.get(sid)
                if st is None or sid in seen or st.tasks == 0:
                    continue  # skipped stage: its shuffle output was reused
                seen.add(sid)
                for name in ("tasks", "run_ms", "cpu_ns", "gc_ms", "wait_ms", "shuffle_write",
                             "shuffle_read", "spill", "input_bytes", "result_bytes"):
                    setattr(total, name, getattr(total, name) + getattr(st, name))
        return total

    def stage_count(self, jobs: list[Job]) -> int:
        return len({sid for j in jobs for sid in j.stage_ids
                    if sid in self.stages and self.stages[sid].tasks})


def busy_seconds(jobs: list[Job]) -> float:
    """Wall time during which at least one of the jobs was running."""
    total, cur_start, cur_end = 0, None, None
    for s, e in sorted((j.submit_ms, j.end_ms) for j in jobs):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total / 1000.0


def spark_metrics(log: EventLog, jobs: list[Job], wall_s: float, cores: int) -> dict[str, float]:
    w = log.work(jobs)
    return {
        "spark.jobs": len(jobs),
        "spark.stages": log.stage_count(jobs),
        "spark.tasks": w.tasks,
        "spark.executor_run_s": w.run_ms / 1000.0,
        "spark.executor_cpu_s": w.cpu_ns / 1e9,
        "spark.jvm_gc_s": w.gc_ms / 1000.0,
        "spark.task_wait_s": w.wait_ms / 1000.0,
        "spark.shuffle_write_bytes": w.shuffle_write,
        "spark.shuffle_read_bytes": w.shuffle_read,
        "spark.spill_bytes": w.spill,
        "spark.input_bytes": w.input_bytes,
        "spark.result_bytes": w.result_bytes,
        "spark.parallel_fraction": w.run_ms / 1000.0 / (wall_s * cores),
    }


def event_log_file(log_dir: Path) -> Path:
    files = [p for p in log_dir.iterdir() if p.is_file() and not p.name.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    return files[0]


# --- streaming progress --------------------------------------------------------


def progress_listener():
    """A StreamingQueryListener that keeps every progress record.

    ``wait_terminated(n)`` blocks until n queries have terminated, so a
    drain's records are all in before they are read."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self.terminated = 0
            self._cond = threading.Condition()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            with self._cond:
                self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._cond:
                self.terminated += 1
                self._cond.notify_all()

        def wait_terminated(self, n: int, timeout: float = 30.0) -> None:
            with self._cond:
                if not self._cond.wait_for(lambda: self.terminated >= n, timeout):
                    raise TimeoutError("streaming query termination was not reported")

    return ProgressListener()


# --- process memory -----------------------------------------------------------


def reset_peak_rss(pid: int) -> None:
    """Reset VmHWM to the current RSS (Linux clear_refs, value 5)."""
    Path(f"/proc/{pid}/clear_refs").write_text("5")


def peak_rss_mb(pid: int) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
