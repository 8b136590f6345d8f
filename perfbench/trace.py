"""Benchmark-side tracing: spans around every engine call, host steal, py4j
command counts, and Spark job/stage/SQL metrics attributed to spans.

A span records its name, parent, start and end (monotonic seconds), the CPU
steal the host reported while it was open and the py4j commands the Python
side sent. While a span is open its id is the SparkContext job group, so the jobs
it launches can be matched to it in the Spark event log, which is parsed with
the standard library after the session stops.

``Tracer(enabled=False)`` keeps only what the untraced run needs (spans with
the steal per sample); it sets no job group and counts nothing. A traced run
can switch ``detail`` off for single operations to measure what tracing
itself costs.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def steal_seconds() -> float:
    """Host-wide CPU steal since boot, summed over CPUs (/proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK_TCK if len(fields) > 8 else 0.0


class _Py4jCounter:
    """Counts commands the Python driver sends over the py4j gateway."""

    def __init__(self, gateway_client):
        self.n = 0
        orig = gateway_client.send_command

        def send_command(*args, **kwargs):
            self.n += 1
            return orig(*args, **kwargs)

        gateway_client.send_command = send_command


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.detail = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None
        self._py4j: _Py4jCounter | None = None

    def attach(self, spark) -> None:
        """Start attributing jobs and counting py4j commands on ``spark``."""
        if not self.enabled:
            return
        self._sc = spark.sparkContext
        self._py4j = _Py4jCounter(self._sc._gateway._gateway_client)

    def py4j_calls(self) -> int:
        return self._py4j.n if self._py4j else 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = {"id": f"s{len(self.spans)}", "name": name,
              "parent": parent["id"] if parent else None,
              "detail": self.detail, **attrs}
        self.spans.append(sp)
        self._stack.append(sp)
        grouped = self._sc is not None and self.detail
        if grouped:
            self._sc.setJobGroup(sp["id"], name)
        py4j0 = self.py4j_calls()
        steal0 = steal_seconds()
        sp["start"] = time.monotonic()
        try:
            yield sp
        finally:
            sp["end"] = time.monotonic()
            sp["steal_s"] = steal_seconds() - steal0
            # read between setting and restoring the job group, so the
            # count holds only the commands the traced call sent
            sp["py4j_calls"] = self.py4j_calls() - py4j0
            self._stack.pop()
            if grouped:
                if parent is not None:
                    self._sc.setJobGroup(parent["id"], parent["name"])
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp) + "\n")


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

class SparkMetrics:
    """Per-job-group totals from a Spark event log: jobs, stage metrics,
    per-task run times and the final (adaptive) physical plans."""

    def __init__(self, eventlog_dir: str | None):
        self.jobs: dict[int, str | None] = {}          # job id -> group
        self.sql_of_job: dict[int, int] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: dict[int, list[dict]] = {}         # stage id -> metrics
        self.final_plan: dict[int, dict] = {}          # sql exec -> plan
        for name in sorted(os.listdir(eventlog_dir) if eventlog_dir else []):
            with open(os.path.join(eventlog_dir, name)) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            self.jobs[jid] = props.get("spark.jobGroup.id")
            if "spark.sql.execution.id" in props:
                self.sql_of_job[jid] = int(props["spark.sql.execution.id"])
            for sid in ev.get("Stage IDs", []):
                self.stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            self.tasks.setdefault(ev["Stage ID"], []).append({
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "in_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                "out_bytes": (m.get("Output Metrics") or {})
                .get("Bytes Written", 0),
                "shuffle_w": (m.get("Shuffle Write Metrics") or {})
                .get("Shuffle Bytes Written", 0),
                "shuffle_r": sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0),
            })
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self.final_plan[ev["executionId"]] = ev["sparkPlanInfo"]
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.final_plan.setdefault(ev["executionId"], ev["sparkPlanInfo"])

    def totals(self, groups: set[str]) -> dict:
        """Sums over every job whose group is in ``groups``."""
        jobs = [j for j, g in self.jobs.items() if g in groups]
        jobset = set(jobs)
        stages = [s for s, j in self.stage_job.items() if j in jobset]
        tasks = [t for s in stages for t in self.tasks.get(s, [])]
        reduce_skew = 0.0
        # task-time skew of the heaviest shuffle-reading stage
        reducers = [s for s in stages
                    if any(t["shuffle_r"] for t in self.tasks.get(s, []))]
        if reducers:
            heavy = max(reducers, key=lambda s: sum(
                t["run_ms"] for t in self.tasks[s]))
            times = [t["run_ms"] for t in self.tasks[heavy]]
            med = statistics.median(times)
            reduce_skew = max(times) / med if med else float(max(times) > 0)
        sqls = {self.sql_of_job[j] for j in jobs if j in self.sql_of_job}
        reused = sum(_count_nodes(self.final_plan[e], "ReusedExchange")
                     for e in sqls if e in self.final_plan)
        return {
            "jobs": len(jobs),
            "executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
            "input_bytes": sum(t["in_bytes"] for t in tasks),
            "output_bytes": sum(t["out_bytes"] for t in tasks),
            "shuffle_bytes": sum(t["shuffle_w"] for t in tasks),
            "task_skew": reduce_skew,
            "reused_exchanges": reused,
        }


def _count_nodes(plan: dict, name: str) -> int:
    return (int(plan.get("nodeName") == name)
            + sum(_count_nodes(c, name) for c in plan.get("children", [])))


def subtree_groups(spans: list[dict], root_id: str) -> set[str]:
    """Ids of a span and all spans below it (their jobs count toward it)."""
    kids: dict[str, list[str]] = {}
    for sp in spans:
        if sp["parent"]:
            kids.setdefault(sp["parent"], []).append(sp["id"])
    out, todo = set(), [root_id]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(kids.get(sid, []))
    return out


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span duration minus the part of it its child spans cover."""
    own = {sp["id"]: sp["end"] - sp["start"] for sp in spans}
    for sp in spans:
        if sp["parent"]:
            own[sp["parent"]] -= sp["end"] - sp["start"]
    return own


def report(spans: list[dict], extra_lines: list[str]) -> str:
    """Markdown table of every span with its parent and self time."""
    own = self_times(spans)
    lines = ["| span | name | parent | total s | self s | steal s | py4j |",
             "|---|---|---|---|---|---|---|"]
    for sp in spans:
        lines.append(
            f"| {sp['id']} | {sp['name']} | {sp['parent'] or ''} | "
            f"{sp['end'] - sp['start']:.3f} | {own[sp['id']]:.3f} | "
            f"{sp['steal_s']:.2f} | {sp.get('py4j_calls', 0)} |")
    return "\n".join(extra_lines + [""] + lines) + "\n"
