"""Per-layer metrics of a traced run, from spans and the Spark event log.

Every metric is computed per traced pass and reported as the median
over the traced passes. A layer the workload does not call reads 0.
README.md lists, for each metric, the end-to-end metric it should move
and on which workload.
"""

from __future__ import annotations

import statistics

from tracing import MB, attribute_jobs, descendants, parse_event_log, self_time

UNITS = {
    "session.start_s": "s",
    "sources.induce_s": "s",
    "sources.edges_out": "count",
    "sources.nodes_out": "count",
    "sources.jobs": "count",
    "sources.shuffle_mb": "MB",
    "sources.py_mb": "MB",
    "walk.run_batch_s": "s",
    "walk.kernel_s": "s",
    "walk.kernel_input_s": "s",
    "walk.groups": "count",
    "walk.group_skew": "ratio",
    "walk.rounds_per_edge": "count",
    "walk.py_in_mb": "MB",
    "walk.py_out_mb": "MB",
    "walk.shuffle_mb": "MB",
    "did.run_batch_s": "s",
    "superstep.run_s": "s",
    "superstep.self_s": "s",
    "superstep.pre_batch_s": "s",
    "superstep.chunks": "count",
    "superstep.jobs": "count",
    "superstep.tasks": "count",
    "superstep.empty_task_ratio": "ratio",
    "sink.write_s": "s",
    "sink.mb": "MB",
    "sink.files": "count",
    "checkpoint.write_s": "s",
    "checkpoint.mb": "MB",
    "components.closure_s": "s",
    "components.cc_s": "s",
    "components.cc_rounds": "count",
    "components.cc_jobs": "count",
    "components.lpa_s": "s",
    "components.lpa_jobs": "count",
    "pagerank.s": "s",
    "pagerank.jobs": "count",
    "triangles.s": "s",
    "triangles.jobs": "count",
    "triangles.shuffle_mb": "MB",
    "triangles.spill_mb": "MB",
    "spark.gc_s": "s",
    "spark.spill_mb": "MB",
    "spark.failed_tasks": "count",
    "spark.stage_retries": "count",
    "check.max_abs_err": "score",
    "check.vertices_checked": "count",
    "trace.wall_s": "s",
    "trace.overhead": "ratio",
    "trace.span_coverage": "ratio",
}

# output-path fragments that classify a SQL write execution
SINK_PATH = "/scores/dist/"
CHECKPOINT_PATH = "/ckpt/"


def _pass_metrics(spans, log, it, cores) -> dict:
    jobs = [j for j in log["jobs"] if it["start"] * 1000 <= j["submit"] <= it["end"] * 1000]
    by_span = attribute_jobs(spans, jobs)

    def named(name):
        return [s for s in spans if s["name"] == name]

    def dur(name):
        return sum(s["end"] - s["start"] for s in named(name))

    def span_jobs(name):
        out = []
        for s in named(name):
            for sid in descendants(spans, s["id"]):
                out.extend(by_span.get(sid, []))
        return out

    def tasks(job_list):
        stages = {st for j in job_list for st in j["stages"]}
        return [t for st in stages for t in log["stage_tasks"].get(st, [])]

    def total(job_list, key):
        return sum(t[key] for t in tasks(job_list)) / MB

    def writes(fragment):
        ex = [
            e for e in log["executions"].values()
            if e["path"] and fragment in e["path"] and e["end"] is not None
            and it["start"] * 1000 <= e["start"] <= it["end"] * 1000
        ]
        return ex

    m = {}
    src_jobs = span_jobs("sources.induce")
    m["sources.induce_s"] = dur("sources.induce")
    m["sources.edges_out"] = it["extras"].get("edges_out", 0)
    m["sources.nodes_out"] = it["extras"].get("nodes_out", 0)
    m["sources.jobs"] = len(src_jobs)
    m["sources.shuffle_mb"] = total(src_jobs, "shuffle")
    m["sources.py_mb"] = total(src_jobs, "py_in") + total(src_jobs, "py_out")

    walk = named("walk.run_batch")
    groups = [g for s in walk for g in s.get("walk_metrics", [])]
    walk_jobs = span_jobs("walk.run_batch")
    edges = sum(g["edges"] for g in groups)
    skews = []
    for s in walk:
        e = [g["edges"] for g in s.get("walk_metrics", [])]
        if e and sum(e):
            skews.append(max(e) / (sum(e) / len(e)))
    m["walk.run_batch_s"] = dur("walk.run_batch")
    m["walk.kernel_s"] = sum(g["t_compute"] for g in groups) / cores
    m["walk.kernel_input_s"] = sum(g["t_input"] for g in groups) / cores
    m["walk.groups"] = len(groups)
    m["walk.group_skew"] = max(skews, default=0.0)
    m["walk.rounds_per_edge"] = (
        sum(g["rounds"] * g["edges"] for g in groups) / edges if edges else 0.0
    )
    m["walk.py_in_mb"] = total(walk_jobs, "py_in")
    m["walk.py_out_mb"] = total(walk_jobs, "py_out")
    m["walk.shuffle_mb"] = total(walk_jobs, "shuffle")
    m["did.run_batch_s"] = dur("did.run_batch")

    drivers = named("superstep.run")
    ss_jobs = span_jobs("superstep.run")
    ss_tasks = tasks(ss_jobs)
    pre = 0.0
    for s in drivers:
        kids = [c["start"] for c in spans if c["parent"] == s["id"]]
        pre += (min(kids) if kids else s["end"]) - s["start"]
    m["superstep.run_s"] = dur("superstep.run")
    m["superstep.self_s"] = sum(self_time(spans, s) for s in drivers)
    m["superstep.pre_batch_s"] = pre
    m["superstep.chunks"] = len(walk)
    m["superstep.jobs"] = len(ss_jobs)
    m["superstep.tasks"] = len(ss_tasks)
    m["superstep.empty_task_ratio"] = (
        sum(1 for t in ss_tasks if t["records"] == 0) / len(ss_tasks) if ss_tasks else 0.0
    )

    for prefix, fragment in (("sink", SINK_PATH), ("checkpoint", CHECKPOINT_PATH)):
        ex = writes(fragment)
        m[f"{prefix}.write_s"] = sum(e["end"] - e["start"] for e in ex) / 1000.0
        m[f"{prefix}.mb"] = sum(e["bytes"] for e in ex) / MB
        if prefix == "sink":
            m["sink.files"] = sum(e["files"] for e in ex)

    m["components.closure_s"] = dur("components.closure")
    m["components.cc_s"] = dur("components.cc")
    m["components.cc_rounds"] = it["extras"].get("cc_rounds", 0)
    m["components.cc_jobs"] = len(span_jobs("components.cc"))
    m["components.lpa_s"] = dur("components.lpa")
    m["components.lpa_jobs"] = len(span_jobs("components.lpa"))
    m["pagerank.s"] = dur("pagerank")
    m["pagerank.jobs"] = len(span_jobs("pagerank"))
    tri_jobs = span_jobs("triangles")
    m["triangles.s"] = dur("triangles")
    m["triangles.jobs"] = len(tri_jobs)
    m["triangles.shuffle_mb"] = total(tri_jobs, "shuffle")
    m["triangles.spill_mb"] = total(tri_jobs, "spill")

    all_tasks = tasks(jobs)
    m["spark.gc_s"] = it["gc_s"]
    m["spark.spill_mb"] = sum(t["spill"] for t in all_tasks) / MB
    m["spark.failed_tasks"] = sum(1 for t in all_tasks if t["failed"])
    m["check.max_abs_err"] = it["max_abs_err"] if it["max_abs_err"] is not None else 0.0
    m["check.vertices_checked"] = it["vertices_checked"]

    top = sorted((s["start"], s["end"]) for s in spans if s["parent"] is None)
    covered, hi = 0.0, None
    for lo, end in top:
        lo = max(lo, hi) if hi is not None else lo
        if end > lo:
            covered += end - lo
        hi = end if hi is None else max(hi, end)
    m["trace.wall_s"] = it["wall_s"]
    m["trace.span_coverage"] = covered / it["wall_s"]
    return m


def per_layer(spans, log_path, iterations, cores, session_start_s, untraced_wall_s) -> dict:
    log = parse_event_log(log_path)
    passes = []
    for it in iterations:
        if it["traced"]:
            mine = [s for s in spans if s["iteration"] == it["index"]]
            passes.append(_pass_metrics(mine, log, it, cores))
    out = {k: statistics.median(p[k] for p in passes) for k in passes[0]}
    out["session.start_s"] = session_start_s
    out["spark.stage_retries"] = log["stage_retries"]
    out["trace.overhead"] = out["trace.wall_s"] / untraced_wall_s
    return {k: out[k] for k in UNITS}
