"""Spark event log -> per-stage and per-job figures, with stdlib `json`.

The traced run writes an uncompressed, non-rolling event log (see
`run.spark_session`). Each pass of the benchmark runs under its own job
group, so every stage can be attributed to the pass that ran it:

    log = EventLog.read(path)
    for stage in log.stages_of("timed-0"): ...

A stage is classified by what it did, not by its name: a stage that
reads input and writes shuffle is a scan + exchange stage, a stage that
reports Python-worker bytes is a Python (mapInArrow) stage.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Dict, List, Tuple

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
OUTPUT_ROWS = "number of output rows"


@dataclass
class Stage:
    stage_id: int
    task_s: List[float] = field(default_factory=list)
    task_records_read: List[int] = field(default_factory=list)
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    spill_bytes: int = 0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_s: float = 0.0
    output_bytes: int = 0
    # SQL metrics by (name, accumulator id): one name can belong to
    # several operators of the stage
    sql: Dict[Tuple[str, int], int] = field(default_factory=dict)

    def metric(self, name: str) -> int:
        """Largest of the SQL metrics called `name` in this stage."""
        return max((v for (n, _), v in self.sql.items() if n == name),
                   default=0)

    @property
    def is_python(self) -> bool:
        return self.metric(PY_SENT) > 0

    @property
    def is_scan(self) -> bool:
        return self.input_bytes > 0 and self.shuffle_write_bytes > 0

    def add_task(self, info: dict, m: dict) -> None:
        self.task_s.append((info["Finish Time"] - info["Launch Time"]) / 1e3)
        rd = m.get("Shuffle Read Metrics", {})
        wr = m.get("Shuffle Write Metrics", {})
        self.task_records_read.append(rd.get("Total Records Read", 0))
        self.run_s += m.get("Executor Run Time", 0) / 1e3
        self.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        self.gc_s += m.get("JVM GC Time", 0) / 1e3
        self.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                             + m.get("Disk Bytes Spilled", 0))
        self.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
        self.shuffle_read_bytes += (rd.get("Remote Bytes Read", 0)
                                    + rd.get("Local Bytes Read", 0))
        self.shuffle_write_bytes += wr.get("Shuffle Bytes Written", 0)
        self.shuffle_write_s += wr.get("Shuffle Write Time", 0) / 1e9
        self.output_bytes += m.get("Output Metrics", {}).get(
            "Bytes Written", 0)
        for acc in info.get("Accumulables", []):
            if acc["Name"].startswith("internal."):
                continue
            try:
                upd = int(acc.get("Update", 0))
            except (TypeError, ValueError):
                continue
            key = (acc["Name"], acc["ID"])
            self.sql[key] = self.sql.get(key, 0) + upd


@dataclass
class Job:
    group: str
    execution: int
    stage_ids: List[int]


@dataclass
class Execution:
    start_ms: int
    end_ms: int = 0
    plan: str = ""
    scan_bytes: int = 0  # file bytes the parquet scans selected


def _scan_metric_ids(node: dict, out: set) -> None:
    """Accumulator ids of 'size of files read' under file-scan nodes."""
    if node.get("nodeName", "").startswith("Scan "):
        out.update(m["accumulatorId"] for m in node.get("metrics", [])
                   if m["name"] == "size of files read")
    for child in node.get("children", []):
        _scan_metric_ids(child, out)


@dataclass
class EventLog:
    jobs: Dict[int, Job] = field(default_factory=dict)
    stages: Dict[int, Stage] = field(default_factory=dict)
    executions: Dict[int, Execution] = field(default_factory=dict)
    peak_cached_bytes: int = 0

    @classmethod
    def read(cls, path: str) -> "EventLog":
        log = cls()
        cached: Dict[str, int] = {}
        scan_ids: set = set()
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerTaskEnd":
                    st = log.stages.setdefault(ev["Stage ID"],
                                               Stage(ev["Stage ID"]))
                    st.add_task(ev["Task Info"], ev.get("Task Metrics") or {})
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    log.jobs[ev["Job ID"]] = Job(
                        props.get("spark.jobGroup.id", ""),
                        int(props.get("spark.sql.execution.id", -1)),
                        ev["Stage IDs"])
                elif kind == "SparkListenerBlockUpdated":
                    info = ev["Block Updated Info"]
                    if info["Block ID"].startswith("rdd_"):
                        cached[info["Block ID"]] = (info["Memory Size"]
                                                    + info["Disk Size"])
                        log.peak_cached_bytes = max(log.peak_cached_bytes,
                                                    sum(cached.values()))
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    log.executions[ev["executionId"]] = Execution(
                        ev["time"], plan=ev.get("physicalPlanDescription", ""))
                    _scan_metric_ids(ev.get("sparkPlanInfo", {}), scan_ids)
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    _scan_metric_ids(ev.get("sparkPlanInfo", {}), scan_ids)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    ex = log.executions.get(ev["executionId"])
                    if ex is not None:
                        ex.scan_bytes += sum(v for i, v in ev["accumUpdates"]
                                             if i in scan_ids)
                elif kind.endswith("SparkListenerSQLExecutionEnd"):
                    if ev["executionId"] in log.executions:
                        log.executions[ev["executionId"]].end_ms = ev["time"]
        return log

    def jobs_of(self, group: str) -> List[Job]:
        return [j for j in self.jobs.values() if j.group == group]

    def stages_of(self, group: str) -> List[Stage]:
        ids = {s for j in self.jobs_of(group) for s in j.stage_ids}
        # skipped stages (shuffle reuse) ran no task and have no entry
        return [self.stages[s] for s in sorted(ids) if s in self.stages]

    def executions_of(self, group: str) -> Dict[int, Execution]:
        ids = {j.execution for j in self.jobs_of(group) if j.execution >= 0}
        return {i: self.executions[i] for i in ids if i in self.executions}
