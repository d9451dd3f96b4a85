"""Replicated temporal-walk replay workload (bench + spark-submit job).

The throughput workload of ``bench.py`` and ``jobs/replay_job.py``: the
event-induced edge stream replicated onto disjoint per-replica node
spaces with overlap-compressed time shifts, replayed through the
``TemporalKatz`` walk path with a reference-shaped Exp param grid.
Packaged here (not in the repo-root scripts) so a ``spark-submit
--py-files dist/online_centrality_spark.zip`` job can import it.
"""

from __future__ import annotations

import os
import time


def build_replicated_edges(spark, sf_dir: str, replicas: int, nparts: int = 64):
    """Edge stream from events, replicated onto DISJOINT node spaces.

    Replica ``r`` gets its own copy of the actor dictionary (node ids
    offset by ``r * n_base``) and a time shift of ``r * span/replicas``,
    so the replicated stream keeps the base stream's per-node event rate
    (bounded temporal-Katz dynamics) while modelling a realistic hub-light
    wide graph instead of jamming every edge onto five vertices.  Replica
    node spaces are disjoint, so temporal-walk chains never cross
    replicas: the generation partitioning (whole replicas per partition)
    is a valid chain-closure layout for the walk path
    (``walk_layout='preserve'``).  The generated stream is cached once
    (untimed) and scanned by each decay-chunk superstep job.
    """
    import numpy as np
    import pandas as pd

    from online_centrality_spark.sources.edges import edges_from_events

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    edges, nodes = edges_from_events(events)
    base = edges.orderBy("seq").toPandas()
    n_edges = len(base)
    n_base = nodes.count()
    t_lo, t_hi = int(base["t"].min()), int(base["t"].max())
    span = t_hi - t_lo + 1
    shift = span // replicas + 1  # overlap-compress: total span ~ 2x base
    b = spark.sparkContext.broadcast(
        (
            base["t"].to_numpy(np.int64),
            base["src"].to_numpy(np.int64),
            base["dst"].to_numpy(np.int64),
            base["seq"].to_numpy(np.int64),
        )
    )

    def edge_transform(pdf):
        # fused generation: runs INSIDE the walk kernel task (single
        # Python eval per task — no chained-UDF oversubscription); one
        # merged time-sorted edge frame per task partition, hitting the
        # kernel's sorted-input fast path
        t_arr, s_arr, d_arr, q_arr = b.value
        rs = pdf["id"].to_numpy()
        ts = np.concatenate([t_arr + r * shift for r in rs])
        ss = np.concatenate([s_arr + r * n_base for r in rs])
        ds = np.concatenate([d_arr + r * n_base for r in rs])
        qs = np.concatenate([q_arr] * len(rs))
        o = np.argsort(ts, kind="stable")
        return pd.DataFrame(
            {
                "key": ts[o].astype(np.float64),
                "src": ss[o],
                "dst": ds[o],
                "seq": qs[o],
            }
        )

    raw = spark.range(0, replicas, 1, nparts)
    n_nodes = n_base * replicas
    t_max = t_hi + (replicas - 1) * shift
    return raw, edge_transform, n_nodes, replicas * n_edges, t_lo, t_max


def bench_tk_superstep(spark, sf_dir, replicas, windows=64):
    """Temporal-Katz replay throughput over the replicated stream.

    Walk path: decay-chunked superstep jobs, chain-closed partitions
    preserved from generation, hourly-scale Exp decay norms matching the
    reference experiment shape (CentralityScoreComputer.py:67-85: ~9 Exp
    weighters in one pass, delta=3600 snapshots).  Betas are sized for
    bounded dynamics at the stream's per-node event rate (branching
    beta * rate * norm / ln2 ~ 0.3), mirroring how the reference's tennis
    params relate to its Twitter stream rate.
    """
    import numpy as np

    from online_centrality_spark.functions.weights import ExponentialWeighter
    from online_centrality_spark.operators.temporal_katz import TemporalKatz

    raw, edge_transform, n_nodes, total, t0, t_max = build_replicated_edges(
        spark, sf_dir, replicas
    )
    n_params = int(os.environ.get("BENCH_PARAMS", "8"))
    span_s = (t_max - t0) / 1e6
    base_edges = total / replicas
    n_base = n_nodes // replicas
    rate = base_edges / n_base / (span_s / 2)  # per-node in-rate (edges/s)
    params = []
    for i in range(n_params):
        norm_s = 1800.0 * (i + 1)
        beta = min(1.0, 0.3 * 0.6931 / (rate * norm_s))
        params.append((beta, ExponentialWeighter(norm=norm_s * 1e6, base=0.5)))
    width = (t_max - t0) // windows + 1
    intervals = [
        (i, float(t0 + (i + 1) * width), float(t0 + (i + 1) * width))
        for i in range(windows)
    ]
    # untimed warm-up: spins up the Python workers / Arrow path
    blk = int(os.environ.get("BENCH_WALK_BLOCK", "8192"))
    warm = TemporalKatz(
        params, n_nodes, path="walk", walk_layout="preserve",
        walk_edge_transform=edge_transform, walk_block=blk,
    )
    warm.run_batch(raw, intervals[:1])
    tk = TemporalKatz(
        params, n_nodes, path="walk", walk_layout="preserve",
        walk_edge_transform=edge_transform, walk_block=blk,
    )
    t_start = time.time()
    outs = tk.run_batch(raw, intervals)
    elapsed = time.time() - t_start
    assert np.isfinite(tk.ranks).all(), "non-finite scores"
    assert len(outs) == windows
    rounds = [m["rounds"] for m in tk.walk_metrics]
    info = {
        "decay_chunks": tk.walk_metrics[0]["chunks"],
        "max_rounds": round(max(rounds), 1),
        "mean_rounds": round(sum(rounds) / len(rounds), 1),
    }
    return elapsed, total, info


def bench_tpr_distributed(spark, sf_dir, replicas, windows=64):
    """Distributed-state Temporal PageRank replay (per-closure ordered
    scalar fold via cogroup) over the replicated stream: 64 read-outs,
    2 (alpha, beta) params, state carried as a DataFrame."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from online_centrality_spark.operators.temporal_pagerank_distributed import (
        DistributedTemporalPageRank,
    )

    raw, etf, n_nodes, total, t0, t_max = build_replicated_edges(
        spark, sf_dir, replicas
    )
    n_base = n_nodes // replicas
    edges_dir = tempfile.mkdtemp(prefix="tpr_edges_")
    (
        raw.mapInPandas(
            lambda it: (etf(pdf) for pdf in it),
            schema="key double, src long, dst long, seq long",
        )
        .withColumn("closure", (F.col("src") / n_base).cast("long"))
        .write.mode("overwrite")
        .parquet(edges_dir)
    )
    edges = spark.read.parquet(edges_dir)
    width = (t_max - t0) // windows + 1
    intervals = [
        (i, float(t0 + (i + 1) * width), float(t0 + (i + 1) * width))
        for i in range(windows)
    ]
    params = [(0.85, 0.05), (0.85, 0.5)]
    warm = DistributedTemporalPageRank(params)
    warm.run_batch(edges.limit(200_000), intervals[:1]).count()
    m = DistributedTemporalPageRank(params)
    t_start = time.time()
    ro = m.run_batch(edges, intervals)
    n_rows = ro.count()
    elapsed = time.time() - t_start
    assert n_rows > 0
    warm.release()
    m.release()
    shutil.rmtree(edges_dir, ignore_errors=True)
    return elapsed, total, {"tpr_score_rows": n_rows}


def bench_did_distributed(spark, sf_dir, replicas, windows=64):
    """Distributed-state decayed indegree: full ``SuperstepDriver``
    replay (one chunk = all 64 intervals), segment-explode batch
    read-out, 8-Exp-weighter grid, scores via the partitioned
    distributed sink — all JVM column expressions, no Python rows."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from online_centrality_spark.functions.weights import ExponentialWeighter
    from online_centrality_spark.operators.decayed_indegree import (
        DistributedDecayedIndegree,
    )
    from online_centrality_spark.plans.superstep import SuperstepDriver

    raw, etf, n_nodes, total, t0, t_max = build_replicated_edges(
        spark, sf_dir, replicas
    )
    edges_dir = tempfile.mkdtemp(prefix="did_edges_")
    out_dir = tempfile.mkdtemp(prefix="did_out_")
    (
        raw.mapInPandas(
            lambda it: (etf(pdf) for pdf in it),
            schema="key double, src long, dst long, seq long",
        )
        .select(F.col("key").cast("long").alias("t"), "src", "dst", "seq")
        .write.mode("overwrite")
        .parquet(edges_dir)
    )
    edges = spark.read.parquet(edges_dir)
    params = [
        ExponentialWeighter(norm=1800.0 * (i + 1) * 1e6, base=0.5)
        for i in range(int(os.environ.get("BENCH_PARAMS", "8")))
    ]
    width = (t_max - t0) // windows + 1
    boundaries = [int(t0 + (i + 1) * width) for i in range(windows)]
    did = DistributedDecayedIndegree(params)
    driver = SuperstepDriver(spark, out_dir)
    t_start = time.time()
    driver.run(
        edges, boundaries, "epoch", online=[did], batch_size=windows,
        persist_edges=False,
    )
    elapsed = time.time() - t_start
    n_scores = driver.scores().count()
    assert n_scores > 0
    did.release()
    shutil.rmtree(edges_dir, ignore_errors=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    return elapsed, total, {"did_dist_score_rows": n_scores}


def bench_tk_driver_distributed(spark, sf_dir, replicas, windows=64):
    """FULL replay through ``SuperstepDriver`` in distributed-state mode:
    parquet edge scan with a replica closure column, DataFrame state via
    the cogroup runner, per-interval take_snapshot metrics, and the
    read-outs landing via the partitioned distributed score sink —
    nothing driver-held, no ``toPandas()`` of scores anywhere.

    The timed section is the whole ``driver.run`` (bucketing, interval
    stats, replay, score + metric writes); edge materialization to
    parquet is untimed input prep.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from online_centrality_spark.functions.weights import ExponentialWeighter
    from online_centrality_spark.operators.temporal_katz_distributed import (
        DistributedTemporalKatz,
    )
    from online_centrality_spark.plans.superstep import SuperstepDriver

    raw, etf, n_nodes, total, t0, t_max = build_replicated_edges(
        spark, sf_dir, replicas
    )
    n_base = n_nodes // replicas
    edges_dir = tempfile.mkdtemp(prefix="drv_edges_")
    out_dir = tempfile.mkdtemp(prefix="drv_out_")
    (
        raw.mapInPandas(
            lambda it: (etf(pdf) for pdf in it),
            schema="key double, src long, dst long, seq long",
        )
        .select(
            F.col("key").cast("long").alias("t"),
            "src",
            "dst",
            "seq",
            (F.col("src") / n_base).cast("long").alias("closure"),
        )
        .write.mode("overwrite")
        .parquet(edges_dir)
    )
    edges = spark.read.parquet(edges_dir)
    span_s = (t_max - t0) / 1e6
    rate = (total / replicas) / n_base / (span_s / 2)
    params = []
    for i in range(int(os.environ.get("BENCH_PARAMS", "8"))):
        norm_s = 1800.0 * (i + 1)
        beta = min(1.0, 0.3 * 0.6931 / (rate * norm_s))
        params.append((beta, ExponentialWeighter(norm=norm_s * 1e6, base=0.5)))
    width = (t_max - t0) // windows + 1
    boundaries = [int(t0 + (i + 1) * width) for i in range(windows)]
    tk = DistributedTemporalKatz(params)
    # untimed warm-up (spins up Python workers / Arrow path / JIT),
    # matching the headline superstep bench's warm-up convention
    warm = DistributedTemporalKatz(params)
    warm.run_batch(
        edges.withColumn("key", F.col("t").cast("double")).limit(200_000),
        [(0, float(t0 + width), float(t0 + width))],
        readouts=False,
    )
    driver = SuperstepDriver(spark, out_dir)
    t_start = time.time()
    # persist_edges=False: the source is a cheap parquet re-scan and the
    # run is one batch — caching 50M rows just pressures the heap
    driver.run(
        edges, boundaries, "epoch", online=[tk], batch_size=windows,
        persist_edges=False,
    )
    elapsed = time.time() - t_start
    n_scores = driver.scores().count()
    assert n_scores > 0
    warm.release()
    tk.release()
    shutil.rmtree(edges_dir, ignore_errors=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    return elapsed, total, {"driver_dist_score_rows": n_scores}


