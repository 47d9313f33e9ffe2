"""Parser for Spark's event log: jobs, stages, task counters and plan nodes.

Spark 4 writes a rolling log: a directory ``eventlog_v2_<app id>`` holding
``events_<n>_<app id>`` files of JSON lines, read in ``n`` order. From it the
parser keeps:

- jobs: id, submit/complete time (ms), job group, SQL execution id;
- stages: the job group they ran under (``StageSubmitted`` carries the
  job's properties);
- tasks: executor CPU, GC, shuffle write, spill and output bytes, plus the
  per-task updates of SQL metric accumulators;
- SQL plan nodes: for every plan version (the initial plan and each
  adaptive re-plan) the node name, its description and its metric
  accumulator ids.

``Log.group_totals`` sums task counters per job group; ``Log.python_nodes``
gives the Python-UDF plan nodes with their summed metrics.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass, field

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython")
_EVENTS_FILE = re.compile(r"events_(\d+)_")


@dataclass
class Job:
    id: int
    submit_ms: int
    end_ms: int | None = None
    group: str | None = None
    execution: int | None = None


@dataclass
class Node:
    execution: int
    name: str
    desc: str
    metrics: dict[int, str]  # accumulator id -> metric name


@dataclass
class Totals:
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0


@dataclass
class Log:
    jobs: dict[int, Job] = field(default_factory=dict)
    stage_group: dict[int, str | None] = field(default_factory=dict)
    stage_totals: dict[int, Totals] = field(default_factory=lambda: defaultdict(Totals))
    # accumulator id -> {stage id -> summed task updates}
    acc_by_stage: dict[int, dict[int, int]] = field(
        default_factory=lambda: defaultdict(lambda: defaultdict(int))
    )
    nodes: list[Node] = field(default_factory=list)
    # execution id -> index into ``nodes`` where its latest plan starts/ends
    plan_range: dict[int, tuple[int, int]] = field(default_factory=dict)

    def group_totals(self, groups: set[str] | None = None) -> Totals:
        """Task counters summed over stages that ran under ``groups``
        (all stages when None)."""
        out = Totals()
        for sid, t in self.stage_totals.items():
            if groups is not None and self.stage_group.get(sid) not in groups:
                continue
            for k in vars(out):
                setattr(out, k, getattr(out, k) + getattr(t, k))
        return out

    def python_nodes(self, groups: set[str] | None = None) -> list[tuple[Node, dict[str, int]]]:
        """Each Python-UDF plan node with its metrics summed over the task
        updates of stages that ran under ``groups`` (all when None). A node
        whose accumulators never updated in those stages is left out, and an
        accumulator repeated by a later plan version is counted once."""
        out = []
        seen: set[int] = set()
        for node in self.nodes:
            if not node.name.startswith(_PYTHON_NODES):
                continue
            vals: dict[str, int] = {}
            hit = False
            for acc, metric in node.metrics.items():
                if acc in seen:
                    continue
                seen.add(acc)
                for sid, v in self.acc_by_stage.get(acc, {}).items():
                    if groups is None or self.stage_group.get(sid) in groups:
                        vals[metric] = vals.get(metric, 0) + v
                        hit = True
            if hit:
                out.append((node, vals))
        return out

    def final_plan_nodes(self, execution: int) -> list[Node]:
        lo, hi = self.plan_range.get(execution, (0, 0))
        return self.nodes[lo:hi]


def find_log(event_dir: str) -> list[str]:
    """The events files of the single application logged under
    ``event_dir``, in rolling order."""
    apps = sorted(glob.glob(os.path.join(event_dir, "eventlog_v2_*")))
    if len(apps) != 1:
        raise ValueError(f"expected one eventlog_v2_* directory in {event_dir}, found {len(apps)}")
    files = glob.glob(os.path.join(apps[0], "events_*"))
    return sorted(files, key=lambda f: int(_EVENTS_FILE.search(os.path.basename(f)).group(1)))


def _plan_nodes(info: dict, execution: int, acc: list[Node]) -> None:
    acc.append(
        Node(
            execution=execution,
            name=info["nodeName"],
            desc=info.get("simpleString", ""),
            metrics={m["accumulatorId"]: m["name"] for m in info.get("metrics", [])},
        )
    )
    for child in info.get("children", []):
        _plan_nodes(child, execution, acc)


def _int(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def parse(files: list[str]) -> Log:
    log = Log()
    for path in files:
        with open(path) as f:
            for line in f:
                if line.strip():
                    _event(log, json.loads(line))
    return log


def _event(log: Log, e: dict) -> None:
    kind = e.get("Event")
    if kind == "SparkListenerJobStart":
        props = e.get("Properties") or {}
        ex = props.get("spark.sql.execution.id")
        log.jobs[e["Job ID"]] = Job(
            id=e["Job ID"],
            submit_ms=e["Submission Time"],
            group=props.get("spark.jobGroup.id"),
            execution=int(ex) if ex is not None else None,
        )
    elif kind == "SparkListenerJobEnd":
        job = log.jobs.get(e["Job ID"])
        if job is not None:
            job.end_ms = e["Completion Time"]
    elif kind == "SparkListenerStageSubmitted":
        props = e.get("Properties") or {}
        log.stage_group[e["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
    elif kind == "SparkListenerTaskEnd":
        sid = e["Stage ID"]
        t = log.stage_totals[sid]
        m = e.get("Task Metrics") or {}
        t.cpu_ns += _int(m.get("Executor CPU Time"))
        t.gc_ms += _int(m.get("JVM GC Time"))
        t.shuffle_write_bytes += _int((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written"))
        t.spill_bytes += _int(m.get("Memory Bytes Spilled")) + _int(m.get("Disk Bytes Spilled"))
        t.output_bytes += _int((m.get("Output Metrics") or {}).get("Bytes Written"))
        for a in (e.get("Task Info") or {}).get("Accumulables", []):
            if a.get("Metadata") == "sql":
                log.acc_by_stage[a["ID"]][sid] += _int(a.get("Update"))
    elif kind in (_SQL_START, _SQL_AQE):
        ex = e["executionId"]
        lo = len(log.nodes)
        _plan_nodes(e["sparkPlanInfo"], ex, log.nodes)
        log.plan_range[ex] = (lo, len(log.nodes))
