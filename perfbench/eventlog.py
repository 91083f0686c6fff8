"""Reduce an uncompressed Spark event log to per-job-group counters.

Every timed call runs under its own job group, so grouping the log's jobs,
tasks and SQL executions by ``spark.jobGroup.id`` attributes the Spark
runtime's work (jobs, tasks, shuffle, writes, Exchanges) to the
call that caused it, without any span inside the engine.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

# shuffle Exchanges as they appear in the final AQE plan; a ReusedExchange
# is a shuffle the planner deduplicated, so both are counted
EXCHANGE_NODES = ("Exchange", "ReusedExchange")


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    run_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0
    exchanges: int = 0
    job_spans: list = field(default_factory=list)

    def driver_ms(self, start_ms: float, end_ms: float) -> float:
        """Part of [start_ms, end_ms] during which no job of the group ran:
        planning, Python and result handling on the driver."""
        covered, cursor = 0.0, start_ms
        for s, e in sorted(self.job_spans):
            s, e = max(s, cursor), min(e, end_ms)
            if e > s:
                covered += e - s
                cursor = e
        return max(0.0, (end_ms - start_ms) - covered)


def _lines(paths: list[str]):
    for path in paths:
        with open(path) as f:
            yield from f


def count_exchanges(plan: dict) -> int:
    own = 1 if plan.get("nodeName") in EXCHANGE_NODES else 0
    return own + sum(count_exchanges(c) for c in plan.get("children", ()))


def find_log(log_dir: str, app_id: str) -> list[str]:
    """The app's rolling event log files, ``eventlog_v2_<app>/events_<n>_<app>``,
    in write order."""
    hits = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*"))
    if not hits:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    return sorted(hits, key=lambda h: int(os.path.basename(h).split("_")[1]))


def reduce_log(paths: list[str]) -> dict[str, GroupStats]:
    stats: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, tuple[str, int]] = {}
    exec_group: dict[str, str] = {}
    exec_plan: dict[str, dict] = {}

    def of(group: str) -> GroupStats:
        return stats.setdefault(group, GroupStats())

    for line in _lines(paths):
        e = json.loads(line)
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            g = props.get("spark.jobGroup.id")
            if g is None:
                continue
            of(g).jobs += 1
            job_group[e["Job ID"]] = (g, e["Submission Time"])
            for sid in e["Stage IDs"]:
                stage_group.setdefault(sid, g)
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                exec_group.setdefault(str(eid), g)
        elif ev == "SparkListenerJobEnd":
            hit = job_group.get(e["Job ID"])
            if hit is not None:
                of(hit[0]).job_spans.append((hit[1], e["Completion Time"]))
        elif ev == "SparkListenerTaskEnd":
            g = stage_group.get(e["Stage ID"])
            if g is None:
                continue
            s = of(g)
            s.tasks += 1
            m = e.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics", {})
            s.run_ms += m.get("Executor Run Time", 0)
            s.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            s.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            s.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
        elif ev.endswith("SQLExecutionStart"):
            eid = str(e["executionId"])
            if e.get("jobGroupId"):
                exec_group[eid] = e["jobGroupId"]
            exec_plan[eid] = e["sparkPlanInfo"]
        elif ev.endswith("SQLAdaptiveExecutionUpdate"):
            exec_plan[str(e["executionId"])] = e["sparkPlanInfo"]
    for eid, plan in exec_plan.items():
        g = exec_group.get(eid)
        if g is not None:
            of(g).exchanges += count_exchanges(plan)
    return stats
