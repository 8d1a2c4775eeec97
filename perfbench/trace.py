"""Tracing for the benchmark: spans kept in memory, Spark event-log
parsing, and process-tree memory.

Spans are recorded around every call the benchmark makes into a layer
(name, start, end, parent, run id); a span's self time is its duration
minus the part of that interval its children cover.

The event-log parser reads the uncompressed rolling log Spark writes with
``spark.eventLog.enabled=true`` and attributes jobs, stages, tasks and SQL
node metrics to ops through the job group the benchmark sets per op call.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas", "MapInArrow", "BatchEvalPython")


# --------------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    attrs: dict = field(default_factory=dict)


class Spans:
    """In-memory span recorder; ``dump`` writes them as JSON lines."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def open(self, name: str, **attrs) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), parent=parent, run_id=self.run_id, attrs=attrs))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int) -> Span:
        assert self._stack and self._stack[-1] == idx, "spans must close in LIFO order"
        self._stack.pop()
        self.spans[idx].end = time.time()
        return self.spans[idx]

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        return (s.end - s.start) - union_length([(c.start, c.end) for c in self.children(idx)])

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": s.name, "start": s.start, "end": s.end,
                                    "parent": s.parent, "run_id": s.run_id, **s.attrs}) + "\n")


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -------------------------------------------------------------------- memory


def _children_of() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(d))
    return kids


def tree_rss_mb(root_pid: int | None = None) -> float:
    """Resident memory of a process and all its descendants (the JVM and
    the Python workers of a local Spark session), in MiB. Linux only."""
    kids = _children_of()
    todo, total = [root_pid or os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024.0


def cpu_busy_s() -> float:
    """Host CPU seconds spent busy (user, nice, system, irq, softirq) since
    boot, over all cores. Linux only."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:8]]
    user, nice, system, _idle, _iowait, irq, softirq = fields
    return (user + nice + system + irq + softirq) / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- event log


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


@dataclass
class Node:
    name: str
    metrics: dict  # metric name -> (accumulator id, metric type)
    children: list


def _node(info: dict) -> Node:
    return Node(
        info["nodeName"],
        {m["name"]: (m["accumulatorId"], m["metricType"]) for m in info["metrics"]},
        [_node(c) for c in info["children"]],
    )


def _walk(node: Node):
    yield node
    for c in node.children:
        yield from _walk(c)


class EventLog:
    """Jobs, tasks and SQL plans of one Spark application's event log,
    grouped by the ``spark.jobGroup.id`` the benchmark set per op call."""

    def __init__(self, log_dir: str):
        files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))
        files += sorted(glob.glob(os.path.join(log_dir, "local-*")))
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.plans: dict[int, list[Node]] = defaultdict(list)
        self.sql_group: dict[int, str] = {}
        self.acc: dict[int, float] = defaultdict(float)
        self.task_sums: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        self.task_spans: dict[int, list] = defaultdict(list)
        for path in files:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "start": e["Submission Time"] / 1000.0,
                "end": None,
                "stages": list(e["Stage IDs"]),
            }
            for sid in e["Stage IDs"]:
                self.stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = self.stage_job.get(e["Stage ID"])
            m = e.get("Task Metrics") or {}
            t = self.task_sums[job]
            t["tasks"] += 1
            t["run_ms"] += _num(m.get("Executor Run Time"))
            t["deser_ms"] += _num(m.get("Executor Deserialize Time"))
            t["gc_ms"] += _num(m.get("JVM GC Time"))
            t["spill"] += _num(m.get("Memory Bytes Spilled")) + _num(m.get("Disk Bytes Spilled"))
            t["read_bytes"] += _num((m.get("Input Metrics") or {}).get("Bytes Read"))
            sr = m.get("Shuffle Read Metrics") or {}
            t["fetch_wait_ms"] += _num(sr.get("Fetch Wait Time"))
            sw = m.get("Shuffle Write Metrics") or {}
            t["shuffle_bytes"] += _num(sw.get("Shuffle Bytes Written"))
            t["shuffle_write_ns"] += _num(sw.get("Shuffle Write Time"))
            info = e.get("Task Info") or {}
            if info.get("Launch Time") and info.get("Finish Time"):
                self.task_spans[job].append((info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0))
            for a in info.get("Accumulables", []):
                if not str(a.get("Name", "")).startswith("internal."):
                    self.acc[a["ID"]] += _num(a.get("Update"))
        elif kind == "SparkListenerSQLExecutionStart":
            self.sql_group[e["executionId"]] = e.get("jobGroupId")
            self.plans[e["executionId"]].append(_node(e["sparkPlanInfo"]))
        elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
            self.plans[e["executionId"]].append(_node(e["sparkPlanInfo"]))
        elif kind == "SparkListenerDriverAccumUpdates":
            for acc_id, value in e["accumUpdates"]:
                self.acc[acc_id] += _num(value)

    # ------------------------------------------------------------ per op

    def _value(self, ids: set, kind: str) -> float:
        scale = {"timing": 1e-3, "nsTiming": 1e-9}.get(kind, 1.0)
        return sum(self.acc.get(i, 0.0) for i in ids) * scale

    def _nodes(self, group: str):
        for ex, g in self.sql_group.items():
            if g == group:
                for root in self.plans[ex]:
                    yield from _walk(root)

    def _metric_ids(self, group: str, pred) -> tuple[set, str]:
        ids, kind = set(), "sum"
        for node in self._nodes(group):
            hit = pred(node)
            if hit and hit in node.metrics:
                ids.add(node.metrics[hit][0])
                kind = node.metrics[hit][1]
        return ids, kind

    def sql_metric(self, group: str, pred) -> float:
        """Sum of one SQL metric over the nodes ``pred(node)``
        selects (it returns the metric name, or None to skip the node).
        Plans AQE re-optimised share accumulators, counted once."""
        return self._value(*self._metric_ids(group, pred))

    def rows_into(self, group: str, node_names: tuple) -> float:
        """Rows entering the named nodes: output rows of the nearest
        descendant that counts rows."""
        ids = set()
        for node in self._nodes(group):
            if node.name.startswith(node_names):
                ids |= _rows_below(node)
        return self._value(ids, "sum")

    def op_jobs(self, group: str) -> list[dict]:
        return [j for j in self.jobs.values() if j["group"] == group and j["end"] is not None]

    def op_summary(self, group: str, wall: float, start: float, end: float, cores: int) -> dict:
        """Engine-level layer metrics of one op call (``group``) whose wall
        interval the benchmark measured as [start, end]."""
        jobs = [j for j in self.jobs.items() if j[1]["group"] == group]
        t = defaultdict(float)
        for jid, _ in jobs:
            for k, v in self.task_sums.get(jid, {}).items():
                t[k] += v
        job_union = _clipped_union([(j["start"], j["end"] or end) for _, j in jobs], start, end)
        task_union = _clipped_union([t for jid, _ in jobs for t in self.task_spans.get(jid, [])], start, end)
        py = lambda metric: lambda n: metric if n.name.startswith(PYTHON_NODES) else None
        out = {
            "jobs": len(jobs),
            "stages": sum(len(j["stages"]) for _, j in jobs),
            "tasks": t["tasks"],
            "task.busy_s": t["run_ms"] / 1e3,
            "task.gc_s": t["gc_ms"] / 1e3,
            "spill.bytes": t["spill"],
            "scan.bytes_read": t["read_bytes"],
            "shuffle.bytes_written": t["shuffle_bytes"],
            "shuffle.fetch_wait_s": t["fetch_wait_ms"] / 1e3,
            "codegen.busy_s": self.sql_metric(
                group, lambda n: "duration" if n.name.startswith("WholeStageCodegen") else None),
            "arrow.rows_to_python": self.rows_into(group, PYTHON_NODES),
            "arrow.bytes_to_python": self.sql_metric(group, py("data sent to Python workers")),
            "arrow.bytes_from_python": self.sql_metric(group, py("data returned from Python workers")),
            "arrow.worker_init_s": self.sql_metric(group, py("time to start Python workers"))
            + self.sql_metric(group, py("time to initialize Python workers")),
            "arrow.python_run_s": self.sql_metric(group, py("time to run Python workers")),
            "driver.gap_s": max(0.0, wall - job_union),
            "scheduler.idle_s": max(0.0, job_union - task_union),
        }
        # wall split: the driver layer is the time outside jobs, the
        # scheduler layer the time inside jobs with no task running (stage
        # submission, task launch, result fetch); the time tasks run is
        # apportioned by the share of task time the named engine layers
        # account for. A codegen stage next to a Python node counts the time
        # it waits on that node, so Python time is taken off codegen once.
        python = out["arrow.python_run_s"] + out["arrow.worker_init_s"]
        named = (python + max(0.0, out["codegen.busy_s"] - python) + out["task.gc_s"]
                 + out["shuffle.fetch_wait_s"] + t["shuffle_write_ns"] / 1e9 + t["deser_ms"] / 1e3
                 + self.sql_metric(group, lambda n: "scan time" if n.name.startswith("Scan") else None))
        task_total = t["run_ms"] / 1e3 + t["deser_ms"] / 1e3
        share = min(1.0, named / task_total) if task_total > 0 else 1.0
        out["attributed_s"] = out["driver.gap_s"] + out["scheduler.idle_s"] + task_union * share
        return out


def _clipped_union(intervals, start: float, end: float) -> float:
    clipped = [(max(s, start), min(e, end)) for s, e in intervals]
    return union_length([c for c in clipped if c[1] > c[0]])


WRAPPERS = ("InputAdapter", "Project", "ColumnarToRow", "WholeStageCodegen")


def unwrap(node: Node) -> list[Node]:
    """The operator children of ``node``, looking through plan wrappers
    (InputAdapter, Project, codegen stage boundaries)."""
    out = []
    for c in node.children:
        out.extend(unwrap(c) if c.name.startswith(WRAPPERS) else [c])
    return out


def _rows_below(node: Node) -> set:
    for c in node.children:
        for metric in ("number of output rows", "records read"):
            if metric in c.metrics:
                return {c.metrics[metric][0]}
        ids = _rows_below(c)
        if ids:
            return ids
    return set()
