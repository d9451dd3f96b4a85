"""End-to-end parity: Spark superstep engine vs faithful oracle replay.

transcripts -> edge induction -> all temporal + static measures over all
emitted snapshots; per-vertex allclose(1e-6) (the BASELINE.json gate; we
assert tighter at 1e-9 where exactness allows).
"""

import numpy as np
import pytest

from online_centrality_spark.functions.weights import (
    ExponentialWeighter,
    PowerWeighter,
    RayleighWeighter,
)
from online_centrality_spark.operators import (
    DistributedTemporalPageRank,
    attach_closure_components,
)
from online_centrality_spark.operators.decayed_indegree import DecayedIndegree
from online_centrality_spark.operators.temporal_katz import (
    TemporalKatz,
    TruncatedTemporalKatz,
)
from online_centrality_spark.plans.superstep import StaticMeasure, SuperstepDriver
from online_centrality_spark.sources.edges import edges_from_transcripts
from online_centrality_spark.sources.transcripts import transcripts_spark
from tests.oracle.reference_oracle import (
    OracleDecayedIndegree,
    OracleReplay,
    OracleTemporalKatz,
    OracleTemporalPageRank,
    OracleTruncatedTemporalKatz,
    oracle_harmonic,
    oracle_indegree,
    oracle_negative_beta,
    oracle_pagerank,
    sliding_window_edges,
)

EXP_PARAMS = [
    (1.0, ExponentialWeighter(norm=3600.0, base=0.5)),
    (0.5, ExponentialWeighter(norm=7200.0, base=0.5)),
]
NONFACT_PARAMS = [
    (1.0, RayleighWeighter(norm=3600.0, sigma=1.0)),
    (0.7, PowerWeighter(norm=3600.0, exponent=-1.0)),
]
TPR_PARAMS = [(0.85, 0.05), (0.85, 0.5)]
DID_PARAMS = [ExponentialWeighter(norm=3600.0, base=0.5)]


@pytest.fixture(scope="module")
def edge_data(spark):
    tr = transcripts_spark(spark, n_convs=40, max_turns=14, seed=11)
    edges, nodes = edges_from_transcripts(tr)
    edges = edges.persist()
    rows = edges.orderBy("seq").collect()
    stream = [(int(r["t"]), int(r["src"]), int(r["dst"])) for r in rows]
    n_nodes = nodes.count()
    return edges, stream, n_nodes


@pytest.fixture(scope="module")
def closure_edges(edge_data):
    """The same edges keyed by weakly connected component, as the
    distributed-state measures need."""
    edges_c = attach_closure_components(edge_data[0]).persist()
    yield edges_c
    edges_c.unpersist()


def make_boundaries(stream, delta, count):
    t0 = min(t for t, _, _ in stream)
    return [t0 + delta * (i + 1) for i in range(count)]


def run_oracle(stream, boundaries, time_type, params_tk, k=3, tpr_params=TPR_PARAMS):
    tk = OracleTemporalKatz(params_tk)
    ttk = OracleTruncatedTemporalKatz(params_tk, k=k)
    tpr = OracleTemporalPageRank(tpr_params)
    did = OracleDecayedIndegree(DID_PARAMS)
    captured = {}

    def on_snapshot(iid, boundary):
        captured[iid] = dict(
            tk=tk.snapshot(boundary),
            ttk={layer: ttk.snapshot(layer, boundary) for layer in range(k)},
            tpr=tpr.snapshot(),
            did=did.snapshot(boundary),
        )

    replay = OracleReplay(stream, time_type)
    snaps = replay.run(boundaries, [tk, ttk, tpr, did], on_snapshot=on_snapshot)
    return captured, snaps


def engine_scores_map(driver):
    pdf = driver.scores().toPandas()
    out = {}
    for row in pdf.itertuples():
        out.setdefault((row.param_id, row.snapshot_id), {})[row.node_id] = row.score
    return out


def assert_close_maps(got: dict, want: dict, ctx: str, atol=1e-9):
    assert set(got.keys()) == set(want.keys()), f"{ctx}: node sets differ"
    for n in want:
        assert got[n] == pytest.approx(want[n], abs=atol, rel=1e-9), (
            f"{ctx}: node {n}: got {got[n]} want {want[n]}"
        )


@pytest.mark.parametrize("path", ["fold", "walk"])
def test_temporal_parity_epoch(spark, edge_data, tmp_path, path):
    """Temporal PageRank's epoch-mode parity on this same fixture runs in
    test_batching: its one engine pays several Spark jobs per interval,
    which this per-interval replay would repeat for every Katz path."""
    edges, stream, n_nodes = edge_data
    boundaries = make_boundaries(stream, delta=1800, count=20)
    params_tk = EXP_PARAMS if path == "walk" else EXP_PARAMS + NONFACT_PARAMS
    k = 3

    captured, _ = run_oracle(stream, boundaries, "epoch", params_tk, k=k)

    tk = TemporalKatz(params_tk, n_nodes, path=path)
    ttk = TruncatedTemporalKatz(params_tk, n_nodes, k=k, path=path)
    did = DecayedIndegree(DID_PARAMS, spark)
    driver = SuperstepDriver(spark, str(tmp_path / f"out_{path}"))
    sched = driver.run(edges, boundaries, "epoch", online=[tk, ttk, did])
    assert [s.interval_id for s in sched] == sorted(captured.keys())
    got = engine_scores_map(driver)

    for snap in sched:
        i = snap.interval_id
        # temporal katz (every param)
        for j, (beta, w) in enumerate(params_tk):
            pid = "tk_b%0.2f_%s" % (beta, w)
            want = {n: v[j] for n, v in captured[i]["tk"].items()}
            assert_close_maps(got[(pid, i)], want, f"tk {pid} snap {i}")
        # truncated (every layer x param)
        for layer in range(k):
            for j, (beta, w) in enumerate(params_tk):
                pid = "ttk_b%0.2f_%s_length_limit_%i" % (beta, w, layer + 1)
                want = {n: v[j] for n, v in captured[i]["ttk"][layer].items()}
                assert_close_maps(got[(pid, i)], want, f"ttk {pid} snap {i}")
        # decayed indegree
        for j, w in enumerate(DID_PARAMS):
            pid = "did_%s" % w
            want = {n: v[j] for n, v in captured[i]["did"].items()}
            assert_close_maps(got[(pid, i)], want, f"did {pid} snap {i}")


@pytest.mark.parametrize("path", ["walk"])
def test_temporal_parity_index_mode(spark, edge_data, closure_edges, tmp_path, path):
    _, stream, n_nodes = edge_data
    boundaries = [50 * (i + 1) for i in range(8)]
    params_tk = EXP_PARAMS
    captured, _ = run_oracle(stream, boundaries, "index", params_tk, k=2)

    tk = TemporalKatz(params_tk, n_nodes, path=path)
    ttk = TruncatedTemporalKatz(params_tk, n_nodes, k=2, path=path)
    tpr = DistributedTemporalPageRank(TPR_PARAMS)
    did = DecayedIndegree(DID_PARAMS, spark)
    driver = SuperstepDriver(spark, str(tmp_path / f"out_idx_{path}"))
    sched = driver.run(
        closure_edges, boundaries, "index", online=[tk, ttk, tpr, did]
    )
    assert [s.interval_id for s in sched] == sorted(captured.keys())
    got = engine_scores_map(driver)
    for snap in sched:
        i = snap.interval_id
        for j, (beta, w) in enumerate(params_tk):
            pid = "tk_b%0.2f_%s" % (beta, w)
            want = {n: v[j] for n, v in captured[i]["tk"].items()}
            assert_close_maps(got[(pid, i)], want, f"tk {pid} snap {i}")
        for j, w in enumerate(DID_PARAMS):
            pid = "did_%s" % w
            want = {n: v[j] for n, v in captured[i]["did"].items()}
            assert_close_maps(got[(pid, i)], want, f"did {pid} snap {i}")
        for j, (a, b) in enumerate(TPR_PARAMS):
            pid = "tpr_a%0.2f_b%0.2f" % (a, b)
            want = {n: v[j] for n, v in captured[i]["tpr"].items() if v[j] > 0}
            assert_close_maps(got[(pid, i)], want, f"tpr {pid} snap {i}")


def test_static_parity_over_snapshots(spark, edge_data, tmp_path):
    edges, stream, n_nodes = edge_data
    boundaries = make_boundaries(stream, delta=3600, count=10)
    replay = OracleReplay(stream, "epoch")
    snaps = replay.run(boundaries, [])

    static = [
        StaticMeasure("indeg", 0),
        StaticMeasure("indeg", 2),
        StaticMeasure("nbm", 0),
        StaticMeasure("nbm", 2),
        StaticMeasure("spr", 0),
        StaticMeasure("spr", 2),
        StaticMeasure("hc", 2),
    ]
    driver = SuperstepDriver(spark, str(tmp_path / "out_static"))
    sched = driver.run(edges, boundaries, "epoch", static=static)
    got = engine_scores_map(driver)

    for pos, snap in enumerate(sched):
        i = snap.interval_id
        total = snaps[pos]["total_edges"]
        win2 = set(sliding_window_edges(snaps, pos, 2))
        for sm in static:
            g = total if sm.lookback == 0 else win2
            if sm.kind == "indeg":
                want = oracle_indegree(g)
            elif sm.kind == "nbm":
                want = oracle_negative_beta(g)
            elif sm.kind == "spr":
                want = oracle_pagerank(g)
                want = {n: v for n, v in want.items()}
            else:
                want = oracle_harmonic(g)
            atol = 1e-6 if sm.kind == "spr" else 1e-9
            assert_close_maps(
                got.get((sm.param_id, i), {}), want, f"{sm.param_id} snap {i}", atol
            )


def test_temporal_parity_distributed_state(spark, edge_data, closure_edges, tmp_path):
    """Distributed-state mode (DataFrame state + partitioned score sink,
    nothing driver-held) matches the oracle replay per-vertex."""
    from online_centrality_spark.operators import (
        DistributedTemporalKatz,
        DistributedTruncatedTemporalKatz,
    )

    _, stream, _ = edge_data
    boundaries = make_boundaries(stream, delta=1800, count=20)
    k = 3
    captured, _ = run_oracle(stream, boundaries, "epoch", EXP_PARAMS, k=k)

    tk = DistributedTemporalKatz(EXP_PARAMS)
    ttk = DistributedTruncatedTemporalKatz(EXP_PARAMS, k=k)
    driver = SuperstepDriver(spark, str(tmp_path / "out_dist"))
    sched = driver.run(
        closure_edges, boundaries, "epoch", online=[tk, ttk], batch_size=5
    )
    got = engine_scores_map(driver)
    for snap in sched:
        i = snap.interval_id
        for j, (beta, w) in enumerate(EXP_PARAMS):
            pid = "tk_b%0.2f_%s" % (beta, w)
            want = {n: v[j] for n, v in captured[i]["tk"].items()}
            assert_close_maps(got.get((pid, i), {}), want, f"dist tk {pid} snap {i}")
        for layer in range(k):
            for j, (beta, w) in enumerate(EXP_PARAMS):
                pid = "ttk_b%0.2f_%s_length_limit_%i" % (beta, w, layer + 1)
                want = {n: v[j] for n, v in captured[i]["ttk"][layer].items()}
                assert_close_maps(
                    got.get((pid, i), {}), want, f"dist ttk {pid} snap {i}"
                )
