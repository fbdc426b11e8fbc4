"""Roll a Spark event log up per job group.

The traced run writes an uncompressed event log (Spark 4.1 would
compress it with zstd by default, and no Python zstd module is
installed) and tags every job with the job group of the span that
submitted it. This module reads that log and sums, per group:

- task metrics from ``SparkListenerTaskEnd`` (executor run and CPU
  time, GC, shuffle bytes and records written, spill, result size,
  output bytes);
- job counts and job intervals from job start/end events;
- SQL metrics: accumulator updates from tasks and from the driver,
  named through the plan trees of SQL execution start and adaptive
  update events (so a value knows its metric name, metric type and the
  plan node that emitted it).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_ADAPTIVE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_SQL_DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


def read_events(path: str):
    """The events of one uncompressed, non-rolling event-log file."""
    with open(path) as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


@dataclass(frozen=True)
class MetricMeta:
    node: str  # plan node name, e.g. "BroadcastHashJoin"
    detail: str  # the node's one-line description (keys, conditions)
    name: str  # metric name, e.g. "number of output rows"
    kind: str  # Spark metric type: sum, size, timing (ms), nsTiming, average


@dataclass
class GroupStats:
    jobs: int = 0
    failed_jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_ms: int = 0
    executor_cpu_ns: int = 0
    gc_ms: int = 0
    result_bytes: int = 0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_records: int = 0
    output_bytes: int = 0
    job_intervals: list = field(default_factory=list)  # (submit_ms, end_ms)
    sql: dict = field(default_factory=dict)  # accumulator id -> summed value

    _COUNTERS = (
        "jobs", "failed_jobs", "stages", "tasks", "failed_tasks", "executor_run_ms",
        "executor_cpu_ns", "gc_ms", "result_bytes", "spill_bytes",
        "shuffle_write_bytes", "shuffle_write_records", "output_bytes",
    )

    def add(self, other: "GroupStats") -> None:
        for k in self._COUNTERS:
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.job_intervals.extend(other.job_intervals)
        for acc, v in other.sql.items():
            self.sql[acc] = self.sql.get(acc, 0) + v


def _as_int(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


class Rollup:
    def __init__(self):
        self.groups: dict[str, GroupStats] = {}
        self.meta: dict[int, MetricMeta] = {}
        self._stage_group: dict[int, str] = {}
        self._job_group: dict[int, str] = {}
        self._job_start: dict[int, int] = {}
        self._exec_group: dict[int, str] = {}

    @classmethod
    def from_log(cls, path: str) -> "Rollup":
        r = cls()
        for e in read_events(path):
            r.feed(e)
        return r

    def group(self, gid: str) -> GroupStats:
        return self.groups.setdefault(gid, GroupStats())

    def _walk_plan(self, node: dict) -> None:
        for m in node.get("metrics", []):
            self.meta[int(m["accumulatorId"])] = MetricMeta(
                node["nodeName"], node.get("simpleString", ""), m["name"], m["metricType"]
            )
        for c in node.get("children", []):
            self._walk_plan(c)

    def feed(self, e: dict) -> None:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            gid = props.get("spark.jobGroup.id") or ""
            jid = e["Job ID"]
            self._job_group[jid] = gid
            self._job_start[jid] = e.get("Submission Time", 0)
            for sid in e.get("Stage IDs", []):
                self._stage_group.setdefault(sid, gid)
            exec_id = props.get("spark.sql.execution.id")
            if exec_id is not None:
                self._exec_group.setdefault(int(exec_id), gid)
            self.group(gid).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            g = self.group(self._job_group.get(jid, ""))
            g.job_intervals.append((self._job_start.get(jid, 0), e.get("Completion Time", 0)))
            if (e.get("Job Result") or {}).get("Result") != "JobSucceeded":
                g.failed_jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            gid = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if gid is not None:
                self._stage_group.setdefault(sid, gid)
        elif kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            self.group(self._stage_group.get(sid, "")).stages += 1
        elif kind == "SparkListenerTaskEnd":
            self._task_end(e)
        elif kind in (_SQL_START, _SQL_ADAPTIVE):
            if kind == _SQL_START and e.get("jobGroupId"):
                self._exec_group.setdefault(int(e["executionId"]), e["jobGroupId"])
            self._walk_plan(e["sparkPlanInfo"])
        elif kind == _SQL_DRIVER_ACCUM:
            g = self.group(self._exec_group.get(int(e["executionId"]), ""))
            for acc, v in e.get("accumUpdates", []):
                g.sql[int(acc)] = g.sql.get(int(acc), 0) + _as_int(v)

    def _task_end(self, e: dict) -> None:
        g = self.group(self._stage_group.get(e["Stage ID"], ""))
        g.tasks += 1
        info = e.get("Task Info") or {}
        if info.get("Failed") or info.get("Killed"):
            g.failed_tasks += 1
        m = e.get("Task Metrics") or {}
        g.executor_run_ms += m.get("Executor Run Time", 0)
        g.executor_cpu_ns += m.get("Executor CPU Time", 0)
        g.gc_ms += m.get("JVM GC Time", 0)
        g.result_bytes += m.get("Result Size", 0)
        g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
        g.shuffle_write_records += sw.get("Shuffle Records Written", 0)
        g.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        for acc in info.get("Accumulables", []):
            if acc.get("Metadata") == "sql":
                aid = int(acc["ID"])
                g.sql[aid] = g.sql.get(aid, 0) + _as_int(acc.get("Update"))

    def combined(self, gids) -> GroupStats:
        out = GroupStats()
        for gid in gids:
            if gid in self.groups:
                out.add(self.groups[gid])
        return out

    def _matching(self, stats: GroupStats, name: str, node, detail):
        for acc, v in stats.sql.items():
            m = self.meta.get(acc)
            if m is None or m.name != name:
                continue
            if node is not None and node not in m.node:
                continue
            if detail is not None and not re.search(detail, m.detail):
                continue
            yield m, v

    def sql_sum(self, stats: GroupStats, name: str, node=None, detail=None) -> int:
        """Sum of one SQL metric over ``stats``: metric ``name``,
        optionally only on plan nodes whose name contains ``node`` and
        whose description matches the regex ``detail``."""
        return sum(v for _, v in self._matching(stats, name, node, detail))

    def sql_seconds(self, stats: GroupStats, name: str, node=None, detail=None) -> float:
        """Like ``sql_sum`` for a timing metric, converted to seconds."""
        return sum(
            v / (1e9 if m.kind == "nsTiming" else 1e3)
            for m, v in self._matching(stats, name, node, detail)
        )
