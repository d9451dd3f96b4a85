"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest-replay --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. For each workload, in a fresh JVM on
``local[nproc]``: generate the seeded inputs (a separate process), start
the session, run one untimed warm-up pass of the whole pipeline on a
small slice, then repeat the timed pipeline until ``--seconds`` of timed
work have run, checking every pass's outputs off the clock.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` enables the
Spark event log, traces the passes, and prints the per-layer metrics
(see README.md); it alternates untraced and traced passes in the same
JVM, and its tracing overhead compares the traced passes with the
untraced ones after the first. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; with several
``--workload`` flags each runs in its own process and the metrics are
prefixed with the workload name.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ingest-replay", "static-graph")

END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "edges_per_s": "edges/s",
    "peak_rss_mb": "MB",
}


def _args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", action="append", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _driver_memory(ram_bytes: int) -> str:
    """A quarter of the host's RAM, between 1 and 4 GiB."""
    return "%dg" % max(1, min(4, ram_bytes // 2**30 // 4))


class Context:
    """What a workload needs: the session, the tracer, the seed."""

    def __init__(self, spark, tracer, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed


def run_workload(workload: str, seed: int, seconds: float, trace: bool, root: str) -> dict:
    import host

    run_id = uuid.uuid4().hex[:8]
    records = os.path.join(root, ".perfbench_work", "records")
    work = os.path.join(root, ".perfbench_work", f"{workload}-s{seed}-{run_id}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    t_setup = time.perf_counter()
    data = os.path.join(work, "data")
    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
         "--seed", str(seed), "--out", data],
        check=True,
    )
    gen_s = time.perf_counter() - t_setup

    sys.path.insert(0, root)
    from online_centrality_spark.session import get_spark
    from tracing import Tracer
    from workloads import WORKLOADS as CLASSES

    cores = host.nproc()
    memory = _driver_memory(host.ram_bytes())
    conf = {
        "spark.driver.memory": memory,
        "spark.default.parallelism": str(cores),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap, touched in full at start: how much of it the
        # collector happens to use would otherwise swing the JVM's
        # high-water mark by hundreds of MB from run to run
        "spark.driver.extraJavaOptions": (
            f"-Xms{memory} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    event_dir = os.path.join(work, "eventlog")
    if trace:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{workload}", master=f"local[{cores}]",
        shuffle_partitions=cores, extra_conf=conf,
    )
    session_start_s = time.perf_counter() - t0
    sc = spark.sparkContext
    jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
    sampler = host.RssSampler(jvm_pid).start()
    tracer = Tracer(sc, run_id)
    ctx = Context(spark, tracer, seed)

    def gc_seconds() -> float:
        beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def fresh(path):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    # untimed warm-up: the whole pipeline once on the small slice
    t0 = time.perf_counter()
    CLASSES[workload](ctx, os.path.join(data, "warm")).run(fresh(os.path.join(work, "out")))
    spark.catalog.clearCache()
    warmup_s = time.perf_counter() - t0
    setup_s = time.perf_counter() - t_setup
    print(f"setup {setup_s:.2f}s: generate {gen_s:.2f}s, session {session_start_s:.2f}s, "
          f"warm-up {warmup_s:.2f}s", file=sys.stderr)

    wl = CLASSES[workload](ctx, os.path.join(data, "full"))
    # a traced run alternates untraced and traced passes, starting and
    # ending untraced. Its first pass finishes warming the JVM on the full
    # input and is not a baseline; passes still get faster after it, and
    # comparing each traced pass with later untraced ones keeps that from
    # reading as a negative tracing overhead
    iterations = []
    timed = 0.0
    while True:
        traced = trace and len(iterations) % 2 == 1
        tracer.enabled = traced
        tracer.iteration = len(iterations)
        out = fresh(os.path.join(work, "out"))
        gc0 = gc_seconds()
        start = time.time()
        t_a = time.perf_counter()
        try:
            wl.run(out)
            ran = True
        except Exception:
            traceback.print_exc()
            ran = False
        wall = time.perf_counter() - t_a
        end = time.time()
        it = dict(index=len(iterations), traced=traced, wall_s=wall, start=start,
                  end=end, gc_s=gc_seconds() - gc0, ok=False, max_abs_err=None,
                  vertices_checked=0, extras={})
        tracer.enabled = False
        if ran:
            try:
                ok, err, n = wl.check(out)
                it.update(ok=ok, max_abs_err=err, vertices_checked=n)
                if traced:
                    it["extras"] = wl.extras(out)
            except Exception:
                traceback.print_exc()
        print(f"pass {it['index']} traced={traced} wall {wall:.2f}s ok={it['ok']}",
              file=sys.stderr)
        iterations.append(it)
        spark.catalog.clearCache()
        timed += wall
        if timed >= seconds and (not trace or (len(iterations) >= 3 and not traced)):
            break

    peak_rss_mb = sampler.stop()
    spark_conf = dict(sc.getConf().getAll())
    gateway = sc._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    leftover = host.wait_gone(sampler.children())
    if leftover:
        print(f"processes still alive after shutdown: {leftover}", file=sys.stderr)

    plain = [i["wall_s"] for i in iterations if not i["traced"]]
    wall_s = statistics.median(plain[1:] if trace else plain)
    record = dict(
        workload=workload, seed=seed, seconds=seconds, trace=int(trace), run_id=run_id,
        host=host.host_stamp(), spark_conf=spark_conf, iterations=iterations,
        setup_s=setup_s, gen_s=gen_s, session_start_s=session_start_s,
        warmup_s=warmup_s, jvm_pid=jvm_pid, jvm_hwm_kb=sampler.jvm_hwm_kb,
    )
    if trace:
        import layers

        logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
        metrics = layers.per_layer(
            tracer.spans, logs[0], iterations, cores,
            session_start_s=session_start_s, untraced_wall_s=wall_s,
        )
        units = layers.UNITS
    else:
        metrics = dict(
            setup_s=setup_s,
            wall_s=wall_s,
            edges_per_s=wl.edges / wall_s,
            peak_rss_mb=peak_rss_mb,
        )
        units = END_TO_END_UNITS
    failed = sum(1 for i in iterations if not i["ok"])
    checked = min(i["vertices_checked"] for i in iterations)
    result = dict(
        correct=failed == 0 and checked > 0,
        attempted=len(iterations),
        failed=failed,
        metrics={k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    )
    record["result"] = result
    os.makedirs(records, exist_ok=True)
    stem = os.path.join(records, f"{workload}-s{seed}-t{int(trace)}-{run_id}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    if trace:
        tracer.dump(stem + ".spans.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    return result


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "online_centrality_spark")):
        print("run from the root of a checkout of the engine", file=sys.stderr)
        return 2
    if len(args.workload) == 1:
        result = run_workload(
            args.workload[0], args.seed, args.seconds, bool(args.trace), root
        )
        for name, m in result["metrics"].items():
            print(f"{args.workload[0]} {name} = {m['value']:.6g} {m['unit']}")
        print(json.dumps(result))
        return 0
    combined = dict(correct=True, attempted=0, failed=0, metrics={})
    for w in args.workload:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        sys.stdout.write("\n".join(lines[:-1]) + "\n")
        if proc.returncode != 0 or not lines:
            return proc.returncode or 1
        r = json.loads(lines[-1])
        combined["correct"] &= r["correct"]
        combined["attempted"] += r["attempted"]
        combined["failed"] += r["failed"]
        for k, v in r["metrics"].items():
            combined["metrics"][f"{w}/{k}"] = v
    print(json.dumps(combined))
    return 0


if __name__ == "__main__":
    sys.exit(main())
