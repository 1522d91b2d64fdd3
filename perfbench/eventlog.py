"""Stage-level reader for Spark's JSON event log.

Reads either a plain event-log file or Spark 4's default rolling layout
(``eventlog_v2_<app>/events_<n>_<app>``, read in ``n`` order); a
directory holding several logs is read in full. Compressed logs are
refused: the benchmark writes its logs with
``spark.eventLog.compress=false``.

Per stage it yields run, CPU and GC time, shuffle and spill bytes,
failed tasks, max/median task time and the SQL metric updates its tasks
reported. SQL plan nodes (from the execution-start and adaptive-update
events) map those metric ids back to operators, which is how Python
worker time is split between the HTML and OCR UDFs.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

_ROLLING_DIR = re.compile(r"^eventlog_v2_")
_ROLLING_FILE = re.compile(r"^events_(\d+)_")
_COMPRESSED = (".zstd", ".lz4", ".lzf", ".snappy", ".zst")


def event_files(path: str) -> list[str]:
    """Event-log files under ``path`` in the order Spark wrote them."""
    if os.path.isfile(path):
        return [path]
    out: list[str] = []
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if os.path.isdir(full) and _ROLLING_DIR.match(name):
            parts = [
                (int(m.group(1)), os.path.join(full, f))
                for f in os.listdir(full)
                if (m := _ROLLING_FILE.match(f))
            ]
            out.extend(p for _, p in sorted(parts))
        elif os.path.isfile(full) and not name.startswith(".") and not name.startswith("appstatus"):
            out.append(full)
    for f in out:
        if f.endswith(_COMPRESSED):
            raise ValueError(f"compressed event log {f}: set spark.eventLog.compress=false")
    return out


def read_events(path: str):
    for f in event_files(path):
        with open(f, errors="replace") as fh:
            for line in fh:
                try:
                    yield json.loads(line)
                except ValueError:  # a torn last line of a live log
                    continue


@dataclass
class Stage:
    stage_id: int
    description: str = ""
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    spill_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    task_ms: list = field(default_factory=list)
    task_spans: list = field(default_factory=list)  # (launch, finish) epoch ms
    accums: dict = field(default_factory=lambda: defaultdict(int))

    @property
    def task_skew(self) -> float:
        """max / median task time (1.0 for a single task)."""
        if not self.task_ms:
            return 0.0
        med = statistics.median(self.task_ms)
        return max(self.task_ms) / med if med else 0.0


@dataclass
class PlanNode:
    name: str
    desc: str
    metrics: dict  # metric name -> (accumulator id, metric type)


@dataclass
class EventLog:
    stages: dict  # stage id -> Stage
    jobs: dict  # job id -> description
    nodes: list  # PlanNode, one per (node, metric ids) seen

    def select(self, description: str | None = None) -> list[Stage]:
        """Stages of jobs whose description starts with ``description``."""
        return [
            s for s in self.stages.values()
            if description is None or s.description.startswith(description)
        ]

    def accum_total(self, acc_ids, stages=None) -> int:
        stages = self.stages.values() if stages is None else stages
        return sum(s.accums.get(a, 0) for s in stages for a in acc_ids)

    def stages_with(self, acc_ids, stages=None) -> list[Stage]:
        stages = self.stages.values() if stages is None else stages
        return [s for s in stages if any(a in s.accums for a in acc_ids)]

    def node_metric(self, node_pred, metric: str) -> tuple[set, str]:
        """Accumulator ids (and their type) of ``metric`` on nodes
        matching ``node_pred``."""
        ids, kind = set(), "sum"
        for n in self.nodes:
            if node_pred(n) and metric in n.metrics:
                acc, kind = n.metrics[metric]
                ids.add(acc)
        return ids, kind


def _walk_plan(info: dict, out: list) -> None:
    metrics = {m["name"]: (m["accumulatorId"], m.get("metricType", "sum"))
               for m in info.get("metrics", [])}
    out.append(PlanNode(info["nodeName"], info.get("simpleString", ""), metrics))
    for c in info.get("children", []):
        _walk_plan(c, out)


def parse(path: str) -> EventLog:
    stages: dict[int, Stage] = {}
    stage_desc: dict[int, str] = {}
    jobs: dict[int, str] = {}
    nodes: list[PlanNode] = []
    seen_nodes: set = set()
    for e in read_events(path):
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description") or ""
            jobs[e["Job ID"]] = desc
            for sid in e.get("Stage IDs", []):
                stage_desc[sid] = desc
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            st = stages.get(sid)
            if st is None:
                st = stages[sid] = Stage(sid, stage_desc.get(sid, ""))
            info = e["Task Info"]
            st.tasks += 1
            if info.get("Failed") or info.get("Killed"):
                st.failed_tasks += 1
            st.task_ms.append(info["Finish Time"] - info["Launch Time"])
            st.task_spans.append((info["Launch Time"], info["Finish Time"]))
            m = e.get("Task Metrics") or {}
            st.run_ms += m.get("Executor Run Time", 0)
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            for a in info.get("Accumulables", []):
                if a.get("Metadata") == "sql" and "Update" in a:
                    try:
                        st.accums[a["ID"]] += int(a["Update"])
                    except (TypeError, ValueError):
                        pass
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            found: list[PlanNode] = []
            _walk_plan(e["sparkPlanInfo"], found)
            for n in found:
                sig = (n.name, n.desc, tuple(sorted(a for a, _ in n.metrics.values())))
                if sig not in seen_nodes:
                    seen_nodes.add(sig)
                    nodes.append(n)
    return EventLog(stages, jobs, nodes)


def task_util(stages, cores: int, wall_s: float) -> float:
    """Task core-time / (cores x wall): 1.0 means every core was in a
    task for the whole window."""
    busy_ms = sum(sum(s.task_ms) for s in stages)
    return busy_ms / 1000.0 / (cores * wall_s) if wall_s > 0 else 0.0
