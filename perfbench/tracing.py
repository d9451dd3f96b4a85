"""Outside-in tracing: spans around calls into the engine's layers, one
Spark job group per span, and a parser for the Spark event log.

Spans live in memory (name, start, end, parent, run id, iteration) and
are written to disk when the run ends. Each span sets its own job group
while it is open and restores its parent's on exit, so every Spark job
submitted from the main thread is tagged with the innermost open span.
Jobs submitted from other threads (the superstep driver commits its
score sink on a side thread) carry no group; they are given to the
innermost span open at their submission time.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
MB = 1024.0 * 1024.0


class Tracer:
    """Span recorder. With ``enabled=False`` every span is a no-op, so
    the untraced iterations run the same code path."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.enabled = False
        self.iteration = -1
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        rec = dict(
            id=sid,
            name=name,
            parent=parent["id"] if parent else None,
            run=self.run_id,
            iteration=self.iteration,
            group=f"pb-{self.run_id}-{sid}",
            start=time.time(),
            end=None,
        )
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(parent)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class LayerProxy:
    """Wraps an online measure so each ``run_batch`` the superstep driver
    makes is a span; every other attribute reads and writes through to
    the measure itself."""

    def __init__(self, measure, tracer: Tracer, name: str):
        object.__setattr__(self, "_measure", measure)
        object.__setattr__(self, "_tracer", tracer)
        object.__setattr__(self, "_name", name)

    def run_batch(self, *args, **kwargs):
        with self._tracer.span(self._name) as rec:
            out = self._measure.run_batch(*args, **kwargs)
            if rec is not None:
                rec["walk_metrics"] = list(getattr(self._measure, "walk_metrics", []))
            return out

    def __getattr__(self, name):
        return getattr(self._measure, name)

    def __setattr__(self, name, value):
        setattr(self._measure, name, value)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def _plan_metric_names(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _plan_metric_names(child, out)


def _output_path(plan_text: str) -> str | None:
    """Output path of a write, from the formatted physical plan."""
    i = plan_text.find("Execute InsertIntoHadoopFsRelationCommand\n")
    m = re.search(r"Arguments: ([^,\s]+),", plan_text[i:]) if i >= 0 else None
    return m.group(1) if m else None


def parse_event_log(path: str) -> dict:
    """Jobs, stages, tasks and SQL executions of one application log.

    Returns ``jobs`` (id, group, submit ms, stage ids), ``tasks`` per
    stage (run time, shuffle, spill, records, python bytes, failed),
    ``stage_retries`` and ``executions`` (start/end ms, output path,
    written bytes and files).
    """
    acc_names: dict[int, str] = {}
    jobs: dict[int, dict] = {}
    stage_tasks: dict[int, list[dict]] = {}
    executions: dict[int, dict] = {}
    driver_accums: dict[int, list] = {}
    stage_retries = 0
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = dict(
                    id=ev["Job ID"],
                    group=props.get("spark.jobGroup.id"),
                    submit=ev.get("Submission Time", 0),
                    stages=list(ev.get("Stage IDs", [])),
                )
            elif kind == "SparkListenerStageSubmitted":
                if ev["Stage Info"].get("Stage Attempt ID", 0) > 0:
                    stage_retries += 1
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info", {})
                tm = ev.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics", {})
                sw = tm.get("Shuffle Write Metrics", {})
                py_in = py_out = 0
                for a in info.get("Accumulables", []):
                    name = a.get("Name")
                    if name == PY_SENT:
                        py_in += int(a.get("Update", 0))
                    elif name == PY_RETURNED:
                        py_out += int(a.get("Update", 0))
                stage_tasks.setdefault(ev["Stage ID"], []).append(
                    dict(
                        failed=ev.get("Task End Reason", {}).get("Reason") != "Success",
                        run_ms=tm.get("Executor Run Time", 0),
                        records=(
                            tm.get("Input Metrics", {}).get("Records Read", 0)
                            + sr.get("Total Records Read", 0)
                        ),
                        shuffle=(
                            sw.get("Shuffle Bytes Written", 0)
                        ),
                        spill=tm.get("Disk Bytes Spilled", 0),
                        py_in=py_in,
                        py_out=py_out,
                    )
                )
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                _plan_metric_names(ev.get("sparkPlanInfo", {}), acc_names)
                executions[ev["executionId"]] = dict(
                    start=ev["time"],
                    end=None,
                    path=_output_path(ev.get("physicalPlanDescription", "")),
                )
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                _plan_metric_names(ev.get("sparkPlanInfo", {}), acc_names)
            elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
                for m in ev.get("sqlPlanMetrics", []):
                    acc_names[m["accumulatorId"]] = m["name"]
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                driver_accums.setdefault(ev["executionId"], []).extend(
                    ev.get("accumUpdates", [])
                )
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                if ev["executionId"] in executions:
                    executions[ev["executionId"]]["end"] = ev["time"]
    for eid, ex in executions.items():
        named = {}
        for acc_id, value in driver_accums.get(eid, []):
            name = acc_names.get(acc_id)
            if name is not None:
                named[name] = named.get(name, 0) + int(value)
        ex["bytes"] = named.get("written output", 0)
        ex["files"] = named.get("number of written files", 0)
    return dict(
        jobs=sorted(jobs.values(), key=lambda j: j["id"]),
        stage_tasks=stage_tasks,
        stage_retries=stage_retries,
        executions=executions,
    )


def attribute_jobs(spans: list[dict], jobs: list[dict]) -> dict[int, list[dict]]:
    """span id -> jobs tagged with its group; untagged jobs go to the
    innermost span open at their submission time."""
    by_group = {s["group"]: s["id"] for s in spans}
    out: dict[int, list[dict]] = {s["id"]: [] for s in spans}
    for job in jobs:
        sid = by_group.get(job["group"])
        if sid is None:
            t = job["submit"] / 1000.0
            open_spans = [s for s in spans if s["start"] <= t <= (s["end"] or t)]
            if not open_spans:
                continue
            sid = max(open_spans, key=lambda s: s["start"])["id"]
        out[sid].append(job)
    return out


def descendants(spans: list[dict], sid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = [], [sid]
    while todo:
        cur = todo.pop()
        out.append(cur)
        todo.extend(kids.get(cur, []))
    return out


def self_time(spans: list[dict], span: dict) -> float:
    """Span duration minus the part of it its direct children cover."""
    kids = sorted(
        (c["start"], c["end"]) for c in spans if c["parent"] == span["id"]
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in kids:
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (span["end"] - span["start"]) - covered
