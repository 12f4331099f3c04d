"""Spans recorded around calls into the program, and the Spark event-log
reader that supplies task-level counts for them.

Spans live in memory and are written once, when the run ends. Each call
the benchmark makes inside a span runs under a Spark job group named after
the span, so the event log's jobs, stages and tasks can be attributed to
the span that caused them.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager
from pathlib import Path
from statistics import median


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.trace_id = uuid.uuid4().hex[:16]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        """Record ``name`` as a child of the innermost open span. The
        Spark job group is the span's own id, restored on exit."""
        sid = len(self.spans)
        rec = {
            "trace_id": self.trace_id,
            "span_id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"span-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(f"span-{self._stack[-1]}", self.spans[self._stack[-1]]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def groups(self, name: str) -> list[str]:
        """Job-group ids of every span called ``name``."""
        return [f"span-{s['span_id']}" for s in self.spans if s["name"] == name]

    def write(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": self.spans, **extra}, indent=1))


class EventLog:
    """Task, stage and SQL-metric totals per job group, from one
    application's event log (read after the SparkContext stopped)."""

    def __init__(self, log_dir: Path):
        files = [f for f in log_dir.iterdir() if f.is_file() and not f.name.startswith(".")]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
        self.job_group: dict[int, str | None] = {}
        self.job_exec: dict[int, int | None] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.metric_node: dict[int, tuple[int, str, str]] = {}  # acc id -> (exec, node, metric)
        self.acc_total: dict[int, float] = {}
        with open(files[0]) as fh:
            for line in fh:
                self._event(json.loads(line))
        # a job started by a span's SQL execution on another thread (e.g. a
        # broadcast) carries its own group: attribute it by execution id
        exec_group = {
            e: g for j, g in self.job_group.items()
            if (e := self.job_exec.get(j)) is not None and g and g.startswith("span-")
        }
        for j, e in self.job_exec.items():
            if e in exec_group:
                self.job_group[j] = exec_group[e]
        self.exec_group = exec_group

    def _plan(self, exec_id: int, node: dict) -> None:
        for m in node.get("metrics", []):
            self.metric_node[int(m["accumulatorId"])] = (exec_id, node["nodeName"], m["name"])
        for c in node.get("children", []):
            self._plan(exec_id, c)

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            self.job_group[jid] = props.get("spark.jobGroup.id")
            ex = props.get("spark.sql.execution.id")
            self.job_exec[jid] = int(ex) if ex is not None else None
            for s in ev["Stage IDs"]:
                self.stage_job[s] = jid
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            self.tasks.append(
                {
                    "stage": ev["Stage ID"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "shuffle_read": bool(m.get("Shuffle Read Metrics", {}).get("Total Records Read", 0)),
                }
            )
            for a in info.get("Accumulables", []):
                self._add_acc(a.get("ID"), a.get("Update"))
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            self._plan(int(ev["executionId"]), ev["sparkPlanInfo"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, val in ev["accumUpdates"]:
                self._add_acc(acc_id, val)

    def _add_acc(self, acc_id, val) -> None:
        try:
            self.acc_total[int(acc_id)] = self.acc_total.get(int(acc_id), 0.0) + float(val)
        except (TypeError, ValueError):
            pass  # non-numeric accumulables (e.g. collection-valued) are not metrics

    def _tasks(self, groups: list[str]) -> list[dict]:
        g = set(groups)
        return [t for t in self.tasks if self.job_group.get(self.stage_job.get(t["stage"])) in g]

    def session(self, groups: list[str]) -> dict:
        """gc_share, shuffle/spill bytes, jobs and tasks per span (medians
        over the spans)."""
        per = []
        for grp in groups:
            ts = self._tasks([grp])
            run = sum(t["run_ms"] for t in ts)
            per.append(
                {
                    "gc_share": sum(t["gc_ms"] for t in ts) / run if run else 0.0,
                    "shuffle_bytes": float(sum(t["shuffle_write"] for t in ts)),
                    "spill_bytes": float(sum(t["spill"] for t in ts)),
                    "jobs": float(sum(1 for g in self.job_group.values() if g == grp)),
                    "tasks": float(len(ts)),
                }
            )
        return {k: median(p[k] for p in per) if per else 0.0 for k in
                ("gc_share", "shuffle_bytes", "spill_bytes", "jobs", "tasks")}

    def shuffle_bytes(self, groups: list[str]) -> float:
        return median(sum(t["shuffle_write"] for t in self._tasks([g])) for g in groups)

    def task_skew(self, groups: list[str]) -> float:
        """max / median task run time of the stage that both reads and
        writes a shuffle (the salted partial-merge stage), median over spans."""
        out = []
        for g in groups:
            by_stage: dict[int, list[dict]] = {}
            for t in self._tasks([g]):
                by_stage.setdefault(t["stage"], []).append(t)
            mids = [ts for ts in by_stage.values()
                    if any(t["shuffle_read"] for t in ts) and any(t["shuffle_write"] for t in ts)]
            if mids:
                runs = [t["run_ms"] for t in mids[0]]
                out.append(max(runs) / max(1.0, median(runs)))
        return median(out) if out else 0.0

    def sql_metric(self, groups: list[str], node_prefix: str, metric: str) -> float:
        """Median over spans of the summed ``metric`` of the plan nodes whose
        name starts with ``node_prefix``."""
        out = []
        for g in groups:
            execs = {e for e, grp in self.exec_group.items() if grp == g}
            vals = [
                self.acc_total.get(acc, 0.0)
                for acc, (e, node, name) in self.metric_node.items()
                if e in execs and node.startswith(node_prefix) and name == metric
            ]
            if vals:
                out.append(sum(vals))
        return median(out) if out else 0.0
