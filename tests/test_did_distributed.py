"""Distributed-state decayed indegree: segment-explode batch read-out.

Parity vs the reference-semantics oracle (dedup in-edge last-activation
sums, ``decayed_indegree_computer.py:36-87``) over a multi-snapshot
replay, one interval per chunk and batched, with empty intervals and
timestamp ties; and kill/resume parity through the SuperstepDriver
checkpoint protocol.
"""

import numpy as np
import pytest

from online_centrality_spark.functions.weights import (
    ConstantWeighter,
    ExponentialWeighter,
    PowerWeighter,
)
from online_centrality_spark.operators import DistributedDecayedIndegree
from online_centrality_spark.plans.superstep import SuperstepDriver
from tests.oracle.reference_oracle import OracleDecayedIndegree, OracleReplay

DID_PARAMS = [
    ExponentialWeighter(norm=3600.0, base=0.5),
    PowerWeighter(norm=3600.0, exponent=-1.0),
    ConstantWeighter(1.0),
]


@pytest.fixture(scope="module")
def did_stream(spark):
    """600 edges over 300 nodes with ties and a dead zone (intervals 4-5
    empty) so batching must handle gaps + repeated-edge refreshes."""
    rng = np.random.default_rng(7)
    E = 600
    src = rng.integers(0, 300, E)
    dst = rng.integers(0, 300, E)
    t1 = np.sort(rng.integers(0, 16_000, E // 2))
    t2 = np.sort(rng.integers(24_000, 40_000, E - E // 2))
    t = np.concatenate([t1, t2])
    stream = [(int(tt), int(s), int(d)) for tt, s, d in zip(t, src, dst)]
    rows = [
        (int(tt), int(s), int(d), i + 1) for i, (tt, s, d) in enumerate(stream)
    ]
    edges = spark.createDataFrame(rows, "t long, src long, dst long, seq long")
    edges.persist().count()
    return stream, edges


def oracle_did_snapshots(stream, boundaries):
    did = OracleDecayedIndegree(DID_PARAMS)
    captured = {}

    def on_snapshot(iid, boundary):
        captured[iid] = did.snapshot(boundary)

    OracleReplay(stream, "epoch").run(boundaries, [did], on_snapshot=on_snapshot)
    return captured


def scores_map(driver):
    pdf = driver.scores().toPandas()
    out = {}
    for row in pdf.itertuples():
        out.setdefault((row.param_id, row.snapshot_id), {})[row.node_id] = row.score
    return out


def assert_did_parity(got, captured, sched):
    for snap in sched:
        i = snap.interval_id
        for j, w in enumerate(DID_PARAMS):
            pid = "did_%s" % w
            want = {n: v[j] for n, v in captured[i].items()}
            g = got.get((pid, i), {})
            assert set(g) == set(want), f"{pid} snap {i}: node sets differ"
            for n, v in want.items():
                assert g[n] == pytest.approx(v, rel=1e-9, abs=1e-12), (pid, i, n)


@pytest.mark.parametrize("batch_size", [1, 4])
def test_did_distributed_parity(spark, did_stream, tmp_path, batch_size):
    stream, edges = did_stream
    boundaries = [4000 * (i + 1) for i in range(10)]
    captured = oracle_did_snapshots(stream, boundaries)

    driver = SuperstepDriver(spark, str(tmp_path / "out"))
    sched = driver.run(
        edges, boundaries, "epoch",
        online=[DistributedDecayedIndegree(DID_PARAMS)], batch_size=batch_size,
    )
    assert_did_parity(scores_map(driver), captured, sched)


def test_did_distributed_resume(spark, did_stream, tmp_path):
    stream, edges = did_stream
    boundaries = [4000 * (i + 1) for i in range(10)]
    captured = oracle_did_snapshots(stream, boundaries)

    part = SuperstepDriver(spark, str(tmp_path / "p"), str(tmp_path / "ck"))
    sched1 = part.run(
        edges, boundaries, "epoch",
        online=[DistributedDecayedIndegree(DID_PARAMS)],
        max_index=5, batch_size=3,
    )
    assert sched1[-1].interval_id == 4
    resumed = SuperstepDriver(spark, str(tmp_path / "p"), str(tmp_path / "ck"))
    sched2 = resumed.run(
        edges, boundaries, "epoch",
        online=[DistributedDecayedIndegree(DID_PARAMS)],
        resume=True, batch_size=3,
    )
    sched = sched1 + sched2
    assert_did_parity(scores_map(resumed), captured, sched)
