"""Distributed-state Temporal PageRank: per-closure ordered fold.

Parity vs the reference-semantics oracle on a multi-component fixture
with a 360-node space, plus kill/resume parity through the
SuperstepDriver checkpoint protocol.
"""

import numpy as np
import pytest

from online_centrality_spark.operators import (
    DistributedTemporalPageRank,
    attach_closure_components,
)
from online_centrality_spark.plans.superstep import SuperstepDriver
from tests.oracle.reference_oracle import OracleReplay, OracleTemporalPageRank

TPR_PARAMS = [(0.85, 0.05), (0.85, 0.5)]


@pytest.fixture(scope="module")
def big_stream(spark):
    """6 disjoint 60-node blocks (360 nodes total), 3000 edges with
    timestamp ties, interleaved across blocks in time."""
    rng = np.random.default_rng(42)
    n_blocks, block_n, E = 6, 60, 3000
    src = rng.integers(0, block_n, E)
    dst = rng.integers(0, block_n, E)
    blk = rng.integers(0, n_blocks, E)
    src = src + blk * block_n
    dst = dst + blk * block_n
    t = np.sort(rng.integers(0, 40_000, E))
    stream = [(int(tt), int(s), int(d)) for tt, s, d in zip(t, src, dst)]
    rows = [
        (int(tt), int(s), int(d), i + 1)
        for i, (tt, s, d) in enumerate(stream)
    ]
    edges = spark.createDataFrame(rows, "t long, src long, dst long, seq long")
    edges_c = attach_closure_components(edges).persist()
    edges_c.count()
    return stream, edges_c


def oracle_tpr_snapshots(stream, boundaries):
    tpr = OracleTemporalPageRank(TPR_PARAMS)
    captured = {}

    def on_snapshot(iid, boundary):
        captured[iid] = tpr.snapshot()

    OracleReplay(stream, "epoch").run(boundaries, [tpr], on_snapshot=on_snapshot)
    return captured


def scores_map(driver):
    pdf = driver.scores().toPandas()
    out = {}
    for row in pdf.itertuples():
        out.setdefault((row.param_id, row.snapshot_id), {})[row.node_id] = row.score
    return out


def assert_tpr_parity(got, captured, sched):
    for snap in sched:
        i = snap.interval_id
        for j, (a, b) in enumerate(TPR_PARAMS):
            pid = "tpr_a%0.2f_b%0.2f" % (a, b)
            want = {n: v[j] for n, v in captured[i].items() if v[j] > 0}
            g = got.get((pid, i), {})
            assert set(g) == set(want), f"{pid} snap {i}: node sets differ"
            for n, v in want.items():
                assert g[n] == pytest.approx(v, rel=1e-9, abs=1e-12), (pid, i, n)


def test_tpr_distributed_parity(spark, big_stream, tmp_path):
    stream, edges_c = big_stream
    boundaries = [5000 * (i + 1) for i in range(8)]
    captured = oracle_tpr_snapshots(stream, boundaries)

    driver = SuperstepDriver(spark, str(tmp_path / "out"))
    sched = driver.run(
        edges_c, boundaries, "epoch",
        online=[DistributedTemporalPageRank(TPR_PARAMS)], batch_size=3,
    )
    assert_tpr_parity(scores_map(driver), captured, sched)
    # the giant-WCC serialization bound is REPORTED, not hidden: every
    # convergence row carries the batch's max-closure edge share
    import pandas as pd

    conv_files = sorted((tmp_path / "out" / "_metrics").glob("convergence_tpr_*.parquet"))
    assert conv_files, "no TPR convergence files written"
    conv = pd.concat([pd.read_parquet(p) for p in conv_files])
    assert "closure_skew" in conv.columns
    skews = conv["closure_skew"].dropna()
    assert len(skews) > 0 and ((skews > 0) & (skews <= 1.0)).all()
    # 6 same-sized random blocks: no closure should dominate the batch
    assert skews.max() < 0.5


def test_tpr_distributed_resume(spark, big_stream, tmp_path):
    stream, edges_c = big_stream
    boundaries = [5000 * (i + 1) for i in range(8)]
    captured = oracle_tpr_snapshots(stream, boundaries)

    part = SuperstepDriver(spark, str(tmp_path / "p"), str(tmp_path / "ck"))
    sched1 = part.run(
        edges_c, boundaries, "epoch",
        online=[DistributedTemporalPageRank(TPR_PARAMS)],
        max_index=4, batch_size=2,
    )
    assert sched1[-1].interval_id == 3
    resumed = SuperstepDriver(spark, str(tmp_path / "p"), str(tmp_path / "ck"))
    sched2 = resumed.run(
        edges_c, boundaries, "epoch",
        online=[DistributedTemporalPageRank(TPR_PARAMS)],
        resume=True, batch_size=2,
    )
    sched = sched1 + sched2
    assert_tpr_parity(scores_map(resumed), captured, sched)
