"""Offline parser for Spark's JSON-lines event log.

The traced run enables ``spark.eventLog`` into its work directory and
parses the file after the session stops.  Jobs are attributed to spans
by the ``spark.jobGroup.id`` property the tracer sets; jobs that carry
another group (streaming micro-batches set their own) are attributed to
the innermost span open at their submission time.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

# Stage scopes (RDD operation names) of Python evaluation through Arrow
# or pandas: the Arrow/pandas boundary of the grouped-UDF edges.
PYTHON_SCOPE = re.compile(
    r"ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas|"
    r"FlatMapCoGroupsInPandas|AggregateInPandas|WindowInPandas|"
    r"FlatMapGroupsInArrow|FlatMapCoGroupsInArrow|PythonUDTF|BatchEvalPython"
)


@dataclass
class StageStats:
    tasks: int = 0
    failures: int = 0
    run_ms: int = 0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python: bool = False


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, StageStats] = field(default_factory=dict)

    def window(self, start_ms: float, end_ms: float) -> list[Job]:
        return [j for j in self.jobs.values()
                if start_ms <= j.submit_ms <= end_ms]

    def totals(self, jobs: list[Job]) -> dict[str, float]:
        """Executor-side totals over ``jobs``' stages (a stage shared by
        two jobs, as skipped stages are, counts once)."""
        sids = {s for j in jobs for s in j.stage_ids if s in self.stages}
        st = [self.stages[s] for s in sids]
        ran = [s for s in st if s.tasks]
        return {
            "jobs": len(jobs),
            "stages": len(ran),
            "tasks": sum(s.tasks for s in st),
            "task_failures": sum(s.failures for s in st),
            "executor_run_s": sum(s.run_ms for s in st) / 1000.0,
            "input_bytes": sum(s.input_bytes for s in st),
            "shuffle_read_bytes": sum(s.shuffle_read_bytes for s in st),
            "shuffle_write_bytes": sum(s.shuffle_write_bytes for s in st),
            "spill_bytes": sum(s.spill_bytes for s in st),
            "python_stage_run_s": sum(s.run_ms for s in st if s.python) / 1000.0,
        }


def _is_python_stage(info: dict) -> bool:
    for rdd in info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            try:
                name = json.loads(scope).get("name", "")
            except ValueError:
                name = scope
            if PYTHON_SCOPE.search(name):
                return True
    return False


def parse(lines) -> EventLog:
    """Parse an iterable of event-log lines."""
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs[ev["Job ID"]] = Job(
                ev["Job ID"], props.get("spark.jobGroup.id"),
                int(ev.get("Submission Time", 0)), list(ev.get("Stage IDs", [])),
            )
            for info in ev.get("Stage Infos", []):
                st = log.stages.setdefault(info["Stage ID"], StageStats())
                st.python = st.python or _is_python_stage(info)
        elif kind == "SparkListenerTaskEnd":
            st = log.stages.setdefault(ev["Stage ID"], StageStats())
            st.tasks += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                st.failures += 1
            m = ev.get("Task Metrics") or {}
            st.run_ms += int(m.get("Executor Run Time", 0))
            st.input_bytes += int((m.get("Input Metrics") or {}).get("Bytes Read", 0))
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += int(sr.get("Remote Bytes Read", 0)) + int(
                sr.get("Local Bytes Read", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += int(sw.get("Shuffle Bytes Written", 0))
            st.spill_bytes += int(m.get("Memory Bytes Spilled", 0)) + int(
                m.get("Disk Bytes Spilled", 0))
    return log


def read(path: str) -> EventLog:
    with open(path, encoding="utf-8") as f:
        return parse(f)


def attribute(log: EventLog, spans, group_prefix: str) -> dict[int, list[Job]]:
    """Map span id -> jobs submitted directly inside it."""
    by_span: dict[int, list[Job]] = {}
    for job in log.jobs.values():
        if job.group and job.group.startswith(group_prefix):
            sid = int(job.group[len(group_prefix):])
        else:
            # innermost span (latest start) open at submission
            best = None
            for s in spans:
                if s.start_ms <= job.submit_ms <= s.end_ms and (
                    best is None or s.start_ms >= best.start_ms
                ):
                    best = s
            sid = best.sid if best is not None else None
        if sid is not None:
            by_span.setdefault(sid, []).append(job)
    return by_span
