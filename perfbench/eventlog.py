"""Reader for Spark's JSON event log: per job group task and stage metrics.

The benchmark tags every job it submits with a job group (``job-3``,
``cut-extract-3``, ...); the log carries the group in each job's
properties, which is how stages and tasks are charged back to a span.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from collections import defaultdict

MB = 1024.0 * 1024.0
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def _accums(stage_info: dict) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    for a in stage_info.get("Accumulables", []):
        try:
            out[a["Name"]] += float(a["Value"])
        except (KeyError, TypeError, ValueError):
            pass
    return out


class EventLog:
    def __init__(self, log_dir: str):
        self.stage_group: dict[int, str] = {}
        self.stages: dict[int, dict[str, float]] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        self.plans: dict[str, list[str]] = defaultdict(list)
        exec_group: dict[int, str] = {}
        pending_plans: dict[int, str] = {}
        for name in sorted(os.listdir(log_dir)):
            with open(os.path.join(log_dir, name)) as f:
                for line in f:
                    self._event(json.loads(line), exec_group, pending_plans)
        for eid, plan in pending_plans.items():
            if eid in exec_group:
                self.plans[exec_group[eid]].append(plan)

    def _event(self, e: dict, exec_group: dict, pending_plans: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group is None:
                return
            for sid in e["Stage IDs"]:
                self.stage_group[sid] = group
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                exec_group[int(eid)] = group
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            self.stages[info["Stage ID"]] = _accums(info)
        elif kind == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics") or {}
            self.tasks[e["Stage ID"]].append(
                {
                    "run_ms": tm.get("Executor Run Time", 0),
                    "gc_ms": tm.get("JVM GC Time", 0),
                    "spill": tm.get("Disk Bytes Spilled", 0),
                }
            )
        elif kind.endswith("SQLExecutionStart"):
            pending_plans[int(e["executionId"])] = e.get("physicalPlanDescription", "")

    def group_stats(self, group: str) -> dict[str, float]:
        """Task and stage metrics of one job group."""
        sids = [s for s, g in self.stage_group.items() if g == group and s in self.stages]
        tasks = [t for s in sids for t in self.tasks.get(s, [])]
        scan_shuffle = py_shuffle = sent = recv = 0.0
        py_tasks: list[float] = []
        for s in sids:
            acc = self.stages[s]
            written = acc.get("internal.metrics.shuffle.write.bytesWritten", 0.0)
            if _PY_SENT in acc:
                py_shuffle += written
                sent += acc[_PY_SENT]
                recv += acc.get(_PY_RECV, 0.0)
                py_tasks += [t["run_ms"] for t in self.tasks.get(s, [])]
            elif acc.get("internal.metrics.input.bytesRead", 0.0) > 0:
                scan_shuffle += written
        run_ms = sum(t["run_ms"] for t in tasks)
        return {
            "tasks": float(len(tasks)),
            "scan_shuffle_mb": scan_shuffle / MB,
            "udf_shuffle_mb": py_shuffle / MB,
            "arrow_sent_mb": sent / MB,
            "arrow_recv_mb": recv / MB,
            "spill_mb": sum(t["spill"] for t in tasks) / MB,
            "gc_ms": float(sum(t["gc_ms"] for t in tasks)),
            "run_ms": float(run_ms),
            "udf_task_max_over_median": (
                max(py_tasks) / max(statistics.median(py_tasks), 1.0) if py_tasks else 0.0
            ),
        }

    def plan(self, group: str, marker: str) -> str | None:
        """The physical plan of the group's SQL execution containing ``marker``."""
        for p in self.plans.get(group, []):
            if marker in p:
                return p
        return None


_IDS = re.compile(r"#\d+L?|\[plan_id=\d+\]|\bx_\d+\b|\(\d+\)|file:\S+")


def plan_body(plan: str, below: str) -> list[str]:
    """The plan from node ``below`` down, with ids, node numbers and paths
    stripped, so a job's plan and a cut's plan compare as text."""
    tree, _, details = plan.partition("\n\n\n")
    lines = tree.splitlines()[1:]  # drop "== Physical Plan =="
    start = next(i for i, ln in enumerate(lines) if ln.lstrip("+-: ").startswith(below))
    indent = len(lines[start]) - len(lines[start].lstrip("+-: "))
    body = [ln[indent:] for ln in lines[start:]]
    # node details after the tree, for the nodes kept above
    kept = {ln.lstrip("+-: ").rsplit(" (", 1)[0].strip() for ln in body}
    blocks = re.split(r"\n\n(?=\(\d+\) )", details.strip())
    body += [
        _IDS.sub("", b)
        for b in blocks
        if b.startswith("(") and b.split("\n")[0].split(")", 1)[1].strip() in kept
    ]
    return [_IDS.sub("", ln) for ln in body]
