"""A stdlib reader for Spark's JSON event log.

Spark writes one JSON object per line when it runs with
`spark.eventLog.enabled=true`, `spark.eventLog.compress=false` and
`spark.eventLog.rolling.enabled=false`. This module reads that file and
attributes task metrics and SQL operator metrics to job groups: the
benchmark tags each layer span with `SparkContext.setJobGroup`, and Spark
copies the group id into the properties of every stage it submits.

Units follow Spark: task times are milliseconds, CPU times nanoseconds,
SQL "timing" metrics (such as "time to run Python workers") milliseconds
and "size" metrics bytes; callers convert.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

_SQL_EVENT = "org.apache.spark.sql.execution.ui."
# SQL operators that run Python code on the executors
PYTHON_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas", "BatchEvalPython", "AggregateInPandas",
                "WindowInPandas")


@dataclass
class Task:
    stage: int
    group: str | None
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    deserialize_ms: int
    result_ser_ms: int
    getting_result_ms: int
    shuffle_write_bytes: int
    shuffle_write_records: int
    shuffle_read_bytes: int
    output_bytes: int
    # accumulator id → this task's update, for SQL operator metrics
    sql: dict[int, int] = field(default_factory=dict)

    @property
    def duration_ms(self) -> int:
        return self.finish_ms - self.launch_ms

    @property
    def scheduler_delay_ms(self) -> int:
        """The Spark UI's definition: wall time the task spent neither
        running, deserializing, serializing its result nor shipping it."""
        return max(
            0,
            self.duration_ms
            - self.run_ms
            - self.deserialize_ms
            - self.result_ser_ms
            - self.getting_result_ms,
        )


@dataclass
class Metric:
    node: str  # SQL operator name, e.g. "MapInPandas", "Exchange"
    name: str  # metric name, e.g. "time to run Python workers"
    location: str = ""  # file scans: the scanned location


@dataclass
class EventLog:
    tasks: list[Task]
    # job id → job group (None when the job ran outside any group)
    job_groups: dict[int, str | None]
    stage_groups: dict[int, str | None]
    metrics: dict[int, Metric]
    # (execution id, accumulator id) → value, for SQL metrics Spark updates
    # outside tasks (e.g. a file scan's size, known when it is planned)
    accum_values: dict[tuple[int, int], int]
    # execution id → job group of its first job
    execution_groups: dict[int, str | None]
    # stage id → (submission, completion) epoch milliseconds, for every
    # stage that ran (skipped stages never start)
    stage_times: dict[int, tuple[int, int]]

    def group(self, *names: str) -> GroupStats:
        wanted = set(names)
        return GroupStats(self, [t for t in self.tasks if t.group in wanted], wanted)


def _walk_plan(node: dict, out: dict[int, Metric]) -> None:
    name = node.get("nodeName", "")
    location = (node.get("metadata") or {}).get("Location", "")
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = Metric(name, m["name"], location)
    for child in node.get("children", []):
        _walk_plan(child, out)


def _int(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def parse(path: str) -> EventLog:
    """Read one uncompressed, non-rolling event log file."""
    tasks: list[Task] = []
    job_groups: dict[int, str | None] = {}
    stage_groups: dict[int, str | None] = {}
    metrics: dict[int, Metric] = {}
    accum_values: dict[tuple[int, int], int] = {}
    execution_groups: dict[int, str | None] = {}
    stage_times: dict[int, tuple[int, int]] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            if not line.strip():
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                job_groups[ev["Job ID"]] = group
                for sid in ev.get("Stage IDs", []):
                    stage_groups.setdefault(sid, group)
                exec_id = props.get("spark.sql.execution.id")
                if exec_id is not None:
                    execution_groups.setdefault(int(exec_id), group)
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                sid = ev["Stage Info"]["Stage ID"]
                stage_groups[sid] = props.get("spark.jobGroup.id", stage_groups.get(sid))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" in info and "Completion Time" in info:
                    stage_times[info["Stage ID"]] = (info["Submission Time"], info["Completion Time"])
            elif kind == "SparkListenerTaskEnd":
                if ev.get("Task End Reason", {}).get("Reason") != "Success":
                    continue  # a failed attempt's metrics are partial
                info = ev["Task Info"]
                tm = ev.get("Task Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                sql = {
                    a["ID"]: _int(a.get("Update"))
                    for a in info.get("Accumulables", [])
                    if a.get("Metadata") == "sql"
                }
                tasks.append(
                    Task(
                        stage=ev["Stage ID"],
                        group=None,  # resolved below: the stage may start first
                        launch_ms=info["Launch Time"],
                        finish_ms=info["Finish Time"],
                        run_ms=tm.get("Executor Run Time", 0),
                        cpu_ns=tm.get("Executor CPU Time", 0),
                        gc_ms=tm.get("JVM GC Time", 0),
                        deserialize_ms=tm.get("Executor Deserialize Time", 0),
                        result_ser_ms=tm.get("Result Serialization Time", 0),
                        getting_result_ms=info.get("Getting Result Time", 0),
                        shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
                        shuffle_write_records=sw.get("Shuffle Records Written", 0),
                        shuffle_read_bytes=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        output_bytes=(tm.get("Output Metrics") or {}).get("Bytes Written", 0),
                        sql=sql,
                    )
                )
            elif kind.startswith(_SQL_EVENT):
                short = kind[len(_SQL_EVENT):]
                if short in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
                    _walk_plan(ev["sparkPlanInfo"], metrics)
                elif short == "SparkListenerDriverAccumUpdates":
                    for acc_id, value in ev.get("accumUpdates", []):
                        accum_values[(ev["executionId"], acc_id)] = _int(value)
                elif short == "SparkListenerSQLAdaptiveSQLMetricUpdates":
                    for m in ev.get("sqlPlanMetrics", []):
                        metrics[m["accumulatorId"]] = Metric("", m["name"])
    for t in tasks:
        t.group = stage_groups.get(t.stage)
    return EventLog(
        tasks, job_groups, stage_groups, metrics, accum_values, execution_groups, stage_times
    )


class GroupStats:
    """Aggregates over the tasks of some job groups."""

    def __init__(self, log: EventLog, tasks: list[Task], groups: set[str]):
        self.log = log
        self.tasks = tasks
        self.groups = groups

    @property
    def n_jobs(self) -> int:
        return sum(1 for g in self.log.job_groups.values() if g in self.groups)

    @property
    def n_stages(self) -> int:
        return len({t.stage for t in self.tasks})

    @property
    def n_tasks(self) -> int:
        return len(self.tasks)

    def task_sum(self, attr: str) -> int:
        return sum(getattr(t, attr) for t in self.tasks)

    def sql(self, metric: str, nodes: tuple[str, ...] | None = None) -> int:
        """Sum of a task-side SQL metric over operators named in `nodes`
        (all operators when None). Values are in the metric's own unit."""
        total = 0
        for t in self.tasks:
            for acc_id, v in t.sql.items():
                m = self.log.metrics.get(acc_id)
                if m and m.name == metric and (nodes is None or m.node in nodes):
                    total += v
        return total

    def stages_with(self, nodes: tuple[str, ...]) -> set[int]:
        """Stages whose tasks report a metric of an operator named in `nodes`."""
        return {
            t.stage
            for t in self.tasks
            if any((m := self.log.metrics.get(a)) and m.node in nodes for a in t.sql)
        }

    def task_skew(self) -> float:
        """Max over median task duration per stage, averaged over the
        stages that read or write shuffle data, weighted by each stage's
        total task time. 1.0 means perfectly even tasks; stages with a
        single task count as 1.0."""
        by_stage: dict[int, list[Task]] = {}
        for t in self.tasks:
            by_stage.setdefault(t.stage, []).append(t)
        num = den = 0.0
        for ts in by_stage.values():
            if not any(t.shuffle_write_bytes or t.shuffle_read_bytes for t in ts):
                continue
            durs = [max(t.duration_ms, 1) for t in ts]
            weight = float(sum(durs))
            num += weight * max(durs) / statistics.median(durs)
            den += weight
        return num / den if den else 1.0


def busy_s(intervals: list[tuple[int, int, str]], order: tuple[str, ...]) -> dict[str, float]:
    """Seconds of the union of (start_ms, end_ms, layer) intervals, split
    by layer: each instant goes to the first layer in `order` that has an
    interval open at it, so overlapping stages count once."""
    out = dict.fromkeys(order, 0.0)
    cuts = sorted({t for start, end, _ in intervals for t in (start, end)})
    for a, b in zip(cuts, cuts[1:]):
        open_layers = {layer for start, end, layer in intervals if start <= a and end >= b}
        for layer in order:
            if layer in open_layers:
                out[layer] += (b - a) / 1e3
                break
    return out


def scan_metric(
    log: EventLog, metric: str, location_part: str = "", groups: set[str] | None = None
) -> int:
    """Sum of a file scan's planning-time SQL metric (e.g. "size of files
    read") over scans whose location contains `location_part`, in SQL
    executions of the given job groups (all when None)."""
    total = 0
    for (exec_id, acc_id), v in log.accum_values.items():
        m = log.metrics.get(acc_id)
        if groups is not None and log.execution_groups.get(exec_id) not in groups:
            continue
        if m and m.name == metric and location_part in m.location:
            total += v
    return total
