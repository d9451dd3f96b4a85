"""Checkpoint/resume: kill after superstep k -> resume -> identical scores."""

import shutil

import pytest

from online_centrality_spark.functions.weights import ExponentialWeighter
from online_centrality_spark.operators import (
    DistributedDecayedIndegree,
    DistributedTemporalPageRank,
    attach_closure_components,
)
from online_centrality_spark.operators.temporal_katz import TemporalKatz
from online_centrality_spark.plans.superstep import SuperstepDriver
from online_centrality_spark.sources.edges import edges_from_transcripts
from online_centrality_spark.sources.transcripts import transcripts_spark

PARAMS = [(1.0, ExponentialWeighter(norm=3600.0, base=0.5))]


def make_measures(n_nodes, tk_path):
    return [
        TemporalKatz(PARAMS, n_nodes, path=tk_path),
        DistributedTemporalPageRank([(0.85, 0.5)]),
        DistributedDecayedIndegree([ExponentialWeighter(norm=3600.0, base=0.5)]),
    ]


def scores_map(driver):
    pdf = driver.scores().toPandas()
    return {
        (r.param_id, r.snapshot_id, r.node_id): r.score for r in pdf.itertuples()
    }


@pytest.mark.parametrize("tk_path", ["walk"])
def test_kill_and_resume_identical(spark, tmp_path, tk_path):
    tr = transcripts_spark(spark, n_convs=30, max_turns=10, seed=3)
    edges, nodes = edges_from_transcripts(tr)
    edges = attach_closure_components(edges).persist()
    n_nodes = nodes.count()
    t0 = edges.agg({"t": "min"}).collect()[0][0]
    boundaries = [t0 + 1800 * (i + 1) for i in range(10)]

    # full uninterrupted run
    full = SuperstepDriver(spark, str(tmp_path / "full"), str(tmp_path / "ckpt_full"))
    full.run(
        edges, boundaries, "epoch", online=make_measures(n_nodes, tk_path)
    )
    want = scores_map(full)

    # interrupted run: stop after interval 4 (max_index=5 emits 0..4)
    part = SuperstepDriver(spark, str(tmp_path / "part"), str(tmp_path / "ckpt"))
    sched1 = part.run(
        edges,
        boundaries,
        "epoch",
        online=make_measures(n_nodes, tk_path),
        max_index=5,
    )
    assert sched1[-1].interval_id == 4

    # resume with FRESH measure objects (state restored from checkpoint)
    resumed = SuperstepDriver(spark, str(tmp_path / "part"), str(tmp_path / "ckpt"))
    resumed.run(
        edges,
        boundaries,
        "epoch",
        online=make_measures(n_nodes, tk_path),
        resume=True,
    )
    got = scores_map(resumed)
    assert set(got.keys()) == set(want.keys())
    for k, v in want.items():
        assert got[k] == pytest.approx(v, abs=1e-12), k


def test_distributed_state_driver_parity_and_resume(spark, tmp_path):
    """Distributed-state mode: no driver-held (p, n) array, no toPandas()
    of scores — read-outs land via a partitioned distributed write, state
    is a checkpointed DataFrame. Parity vs the driver-state walk path,
    plus kill/resume parity with fresh measure objects."""
    from online_centrality_spark.operators import (
        DistributedTemporalKatz,
        attach_closure_components,
    )

    tr = transcripts_spark(spark, n_convs=30, max_turns=10, seed=3)
    edges, nodes = edges_from_transcripts(tr)
    edges_c = attach_closure_components(edges).persist()
    n_nodes = nodes.count()
    t0 = edges.agg({"t": "min"}).collect()[0][0]
    boundaries = [t0 + 1800 * (i + 1) for i in range(10)]

    ref = SuperstepDriver(spark, str(tmp_path / "ref"))
    ref.run(
        edges, boundaries, "epoch",
        online=[TemporalKatz(PARAMS, n_nodes, path="walk")], batch_size=4,
    )
    want = scores_map(ref)

    full = SuperstepDriver(spark, str(tmp_path / "full"))
    full.run(
        edges_c, boundaries, "epoch",
        online=[DistributedTemporalKatz(PARAMS)], batch_size=4,
    )
    got = scores_map(full)
    assert set(got.keys()) == set(want.keys())
    for k, v in want.items():
        assert got[k] == pytest.approx(v, rel=1e-9, abs=1e-12), k

    # interrupted at interval 4, resumed with a FRESH measure object
    part = SuperstepDriver(spark, str(tmp_path / "part"), str(tmp_path / "ckpt"))
    sched1 = part.run(
        edges_c, boundaries, "epoch",
        online=[DistributedTemporalKatz(PARAMS)], max_index=5, batch_size=2,
    )
    assert sched1[-1].interval_id == 4
    resumed = SuperstepDriver(spark, str(tmp_path / "part"), str(tmp_path / "ckpt"))
    resumed.run(
        edges_c, boundaries, "epoch",
        online=[DistributedTemporalKatz(PARAMS)], resume=True, batch_size=2,
    )
    got2 = scores_map(resumed)
    assert set(got2.keys()) == set(want.keys())
    for k, v in want.items():
        assert got2[k] == pytest.approx(v, rel=1e-9, abs=1e-12), k
    edges_c.unpersist()


def test_static_distributed_sink_matches_pandas(spark, tmp_path):
    """static_distributed=True: static score tables never visit the
    driver (unioned per chunk, partitioned distributed write) and
    scores() returns exactly the pandas-mode result."""
    from online_centrality_spark.plans.superstep import StaticMeasure

    tr = transcripts_spark(spark, n_convs=20, max_turns=8, seed=5)
    edges, nodes = edges_from_transcripts(tr)
    edges = edges.persist()
    t0 = edges.agg({"t": "min"}).collect()[0][0]
    boundaries = [t0 + 2400 * (i + 1) for i in range(6)]
    static = [
        StaticMeasure("indeg", 0),
        StaticMeasure("indeg", 2),
        StaticMeasure("spr", 0),
    ]

    a = SuperstepDriver(spark, str(tmp_path / "pandas_mode"))
    a.run(edges, boundaries, "epoch", static=static, batch_size=3)
    b = SuperstepDriver(spark, str(tmp_path / "dist_mode"))
    b.run(
        edges, boundaries, "epoch", static=static, batch_size=3,
        static_distributed=True,
    )
    want = {
        (r.measure, r.param_id, r.snapshot_id, r.node_id): r.score
        for r in a.scores().collect()
    }
    got = {
        (r.measure, r.param_id, r.snapshot_id, r.node_id): r.score
        for r in b.scores().collect()
    }
    assert set(got) == set(want)
    for k, v in want.items():
        assert got[k] == pytest.approx(v, rel=1e-12, abs=1e-15), k
