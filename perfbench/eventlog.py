"""Spark event log -> per-layer table, with stdlib ``json`` only.

The log must be written uncompressed (``spark.eventLog.compress=false``).
Jobs are tied to SQL executions through the ``spark.sql.execution.id``
job property and tasks to jobs through their stage. An execution that
other executions nest under (``rootExecutionId``), such as the
``foreachBatch`` micro-batch, contains their time and is left out, so no
time is counted twice.

A sink execution is named by what it does: a write by its output path,
a read-only action by its plan.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."
_OUT_PATH = re.compile(r"Arguments: (file:\S+?),")

# Output-path fragment -> sink layer. Order matters: the MoR delta
# staging dir also contains "_staging_batch_".
WRITE_LAYERS = (
    ("_staging_batch_", "staging_write"),
    ("data_compacting", "compaction"),
    ("/lineage", "ledger_write"),
    ("/routed", "audit_write"),
    ("/bad", "audit_write"),
    ("/field_audit", "audit_write"),
)


@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write: int
    disk_spill: int
    output_bytes: int
    accums: dict[int, int] = field(default_factory=dict)


@dataclass
class Execution:
    id: int
    root: int
    start_ms: int
    end_ms: int = 0
    description: str = ""
    out_path: str | None = None
    plan: str = ""
    metric_ids: dict[str, list[int]] = field(default_factory=dict)
    jobs: list[int] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


@dataclass
class EventLog:
    executions: dict[int, Execution]
    job_exec: dict[int, int]  # job id -> execution id
    stage_job: dict[int, int]  # stage id -> job id
    tasks: list[Task]
    driver_accums: dict[int, int]  # accumulator id -> summed driver update

    def leaf_executions(self) -> list[Execution]:
        """Executions no other execution nests under."""
        parents = {e.root for e in self.executions.values() if e.root != e.id}
        return sorted(
            (e for e in self.executions.values() if e.id not in parents and e.end_ms),
            key=lambda e: e.start_ms,
        )

    def tasks_of(self, execution_ids: set[int]) -> list[Task]:
        return [
            t for t in self.tasks
            if self.job_exec.get(self.stage_job.get(t.stage, -1)) in execution_ids
        ]

    def metric_total(self, execs: list[Execution], name: str) -> int:
        """Sum of a named SQL metric over ``execs``, from driver-side
        updates (write commands) and task accumulables (operators)."""
        ids = {i for e in execs for i in e.metric_ids.get(name, [])}
        total = sum(v for i, v in self.driver_accums.items() if i in ids)
        for t in self.tasks_of({e.id for e in execs}):
            total += sum(v for i, v in t.accums.items() if i in ids)
        return total


def event_files(path: str) -> list[str]:
    """A rolling log directory's ``events_<n>_*`` files in order, or the
    single file ``path``."""
    if not os.path.isdir(path):
        return [path]
    names = [n for n in os.listdir(path) if n.startswith("events_")]
    return [os.path.join(path, n) for n in sorted(names, key=lambda n: int(n.split("_")[1]))]


def _plan_metrics(info: dict, out: dict[str, list[int]]) -> None:
    for m in info.get("metrics", []):
        out.setdefault(m["name"], []).append(m["accumulatorId"])
    for child in info.get("children", []):
        _plan_metrics(child, out)


def load(path: str) -> EventLog:
    """Parse an uncompressed event log file or rolling log directory."""
    execs: dict[int, Execution] = {}
    job_exec: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    tasks: list[Task] = []
    driver_accums: dict[int, int] = {}
    for fname in event_files(path):
        with open(fname, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == _SQL + "SparkListenerSQLExecutionStart":
                    plan = ev.get("physicalPlanDescription", "")
                    m = _OUT_PATH.search(plan)
                    e = Execution(
                        id=ev["executionId"],
                        root=ev.get("rootExecutionId", ev["executionId"]),
                        start_ms=ev["time"],
                        description=ev.get("description", ""),
                        out_path=m.group(1) if m else None,
                        plan=plan,
                    )
                    _plan_metrics(ev.get("sparkPlanInfo", {}), e.metric_ids)
                    execs[e.id] = e
                elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                    # AQE re-plans add operators (and their metrics)
                    e = execs.get(ev["executionId"])
                    if e is not None:
                        _plan_metrics(ev.get("sparkPlanInfo", {}), e.metric_ids)
                elif kind == _SQL + "SparkListenerSQLExecutionEnd":
                    if ev["executionId"] in execs:
                        execs[ev["executionId"]].end_ms = ev["time"]
                elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                    for acc_id, value in ev["accumUpdates"]:
                        driver_accums[acc_id] = driver_accums.get(acc_id, 0) + int(value)
                elif kind == "SparkListenerJobStart":
                    exec_id = (ev.get("Properties") or {}).get("spark.sql.execution.id")
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = ev["Job ID"]
                    if exec_id is not None:
                        job_exec[ev["Job ID"]] = int(exec_id)
                        if int(exec_id) in execs:
                            execs[int(exec_id)].jobs.append(ev["Job ID"])
                elif kind == "SparkListenerTaskEnd":
                    info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    accums = {
                        a["ID"]: int(a["Update"])
                        for a in info.get("Accumulables", [])
                        if a.get("Metadata") == "sql" and str(a.get("Update", "")).lstrip("-").isdigit()
                    }
                    tasks.append(
                        Task(
                            stage=ev["Stage ID"],
                            launch_ms=info["Launch Time"],
                            finish_ms=info["Finish Time"],
                            run_ms=tm.get("Executor Run Time", 0),
                            cpu_ns=tm.get("Executor CPU Time", 0),
                            gc_ms=tm.get("JVM GC Time", 0),
                            shuffle_write=(tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                            disk_spill=tm.get("Disk Bytes Spilled", 0),
                            output_bytes=(tm.get("Output Metrics") or {}).get("Bytes Written", 0),
                            accums=accums,
                        )
                    )
    return EventLog(execs, job_exec, stage_job, tasks, driver_accums)


def sink_layer(e: Execution) -> str:
    """The sink layer an execution inside ``apply_merge`` belongs to."""
    if e.out_path is not None:
        for fragment, layer in WRITE_LAYERS:
            if fragment in e.out_path:
                return layer
        return "other"
    if "partial_count(1)" in e.plan:
        return "bad_count"
    if "xxhash64" in e.plan:
        return "prepare"  # the touched-bucket distinct collect
    return "other"


def within(execs: list[Execution], windows: list[tuple[float, float]]) -> list[Execution]:
    """Executions that start inside any (start_ms, end_ms) window."""
    return [e for e in execs if any(a <= e.start_ms <= b for a, b in windows)]


def task_skew(log: EventLog, e: Execution) -> float:
    """max / median task run time of the execution's heaviest stage."""
    by_stage: dict[int, list[int]] = {}
    for t in log.tasks_of({e.id}):
        by_stage.setdefault(t.stage, []).append(t.finish_ms - t.launch_ms)
    if not by_stage:
        return 0.0
    heavy = max(by_stage.values(), key=sum)
    mid = statistics.median(heavy)
    return max(heavy) / mid if mid else 1.0
