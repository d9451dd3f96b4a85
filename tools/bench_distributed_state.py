"""Throughput of the fully distributed-state walk replay.

Same replicated workload as the headline bench, executed through
``run_walk_batch_distributed``: edges read from parquet with a replica
closure column, carried state as a co-partitioned DataFrame, read-outs
written job-side — nothing driver-held.  Reports edges/sec and the
overhead vs the driver-state path, appended to BENCH/BASELINE.md.

Usage: python tools/bench_distributed_state.py [replicas] [cpus]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 128
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import numpy as np
    from pyspark.sql import functions as F

    from online_centrality_spark.benchmark import build_replicated_edges
    from online_centrality_spark.functions.weights import ExponentialWeighter
    from online_centrality_spark.operators.walk import (
        decay_rate,
        plan_decay_chunks,
        run_walk_batch_distributed,
    )
    from online_centrality_spark.session import get_spark

    spark = get_spark(
        app_name="oc_dist_state_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.default.parallelism": cpus,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "131072",
        },
    )
    raw, etf, n_nodes, total, t0, t_max = build_replicated_edges(
        spark, sf_dir, replicas
    )
    # materialize the stream once (untimed input prep), replica closure col
    n_base = n_nodes // replicas
    edges_dir = tempfile.mkdtemp(prefix="dist_edges_")
    (
        raw.mapInPandas(
            lambda it: (etf(pdf) for pdf in it),
            schema="key double, src long, dst long, seq long",
        )
        .withColumn("grp", (F.col("src") / n_base).cast("long"))
        .write.mode("overwrite")
        .parquet(edges_dir)
    )
    edges = spark.read.parquet(edges_dir)

    span_s = (t_max - t0) / 1e6
    rate = (total / replicas) / n_base / (span_s / 2)
    params = []
    for i in range(8):
        norm_s = 1800.0 * (i + 1)
        beta = min(1.0, 0.3 * 0.6931 / (rate * norm_s))
        params.append((beta, ExponentialWeighter(norm=norm_s * 1e6, base=0.5)))
    betas = np.array([b for b, _ in params])
    ws = [w for _, w in params]
    windows = 64
    width = (t_max - t0) // windows + 1
    intervals = [
        (i, float(t0 + (i + 1) * width), float(t0 + (i + 1) * width))
        for i in range(windows)
    ]
    lam = max(decay_rate(w) for w in ws)
    plan = [(float(c[-1][1]), c) for c in plan_decay_chunks(intervals, lam)]

    def run():
        out, metx = run_walk_batch_distributed(
            edges, betas, ws, plan, closure_col="grp"
        )
        out = out.persist()
        n_ro = out.filter(F.col("kind") == 0).count()
        n_st = out.filter(F.col("kind") == 1).count()
        mets = metx(out)
        assert not any(m["diverged"] for m in mets)
        out.unpersist()
        return n_ro, n_st

    run()  # warm-up
    t_start = time.time()
    n_ro, n_st = run()
    el = time.time() - t_start
    print(
        f"distributed-state replay: {total:,} edges, {windows} read-outs, "
        f"{len(plan)} decay chunks -> {el:.2f}s at local[{cpus}] "
        f"({total/el:,.0f} edges/s); {n_ro:,} read-out rows, {n_st:,} state rows"
    )


if __name__ == "__main__":
    main()
