"""Walk-path specifics: decay chunking, distributed chain-closed layout,
divergence guard. (End-to-end oracle parity for path='walk' lives in
test_temporal_parity.py.)"""

import numpy as np
import pytest

from online_centrality_spark.functions.weights import (
    ExponentialWeighter,
    PowerWeighter,
    RayleighWeighter,
)
from online_centrality_spark.operators.temporal_katz import TemporalKatz
from online_centrality_spark.operators.walk import plan_decay_chunks
from tests.oracle.reference_oracle import OracleReplay, OracleTemporalKatz


def _edges_df(spark, stream, n_grp=None):
    rows = [
        (float(t), int(s), int(d), i + 1)
        + ((int(s) // n_grp,) if n_grp else ())
        for i, (t, s, d) in enumerate(stream)
    ]
    cols = "key double, src long, dst long, seq long" + (
        ", grp long" if n_grp else ""
    )
    return spark.createDataFrame(rows, cols)


def _oracle_snapshots(stream, params, boundaries):
    tk = OracleTemporalKatz(params)
    captured = {}
    OracleReplay([(int(t), s, d) for t, s, d in stream], "epoch").run(
        boundaries, [tk], on_snapshot=lambda i, b: captured.update({i: tk.snapshot(b)})
    )
    return captured


def _walk_readouts(df, stream, params, boundaries, **kw):
    n = max(max(s, d) for _, s, d in stream) + 1
    tk = TemporalKatz(params, n, path="walk", **kw)
    intervals = [(i, float(b), float(b)) for i, b in enumerate(boundaries)]
    return tk, tk.run_batch(df, intervals)


def _assert_match(outs, captured, params, atol=1e-9):
    for i, snap in captured.items():
        got = outs[i]
        for j, (beta, w) in enumerate(params):
            pid = "tk_b%0.2f_%s" % (beta, w)
            sub = got[got["param_id"] == pid].set_index("node_id")["score"]
            want = {node: v[j] for node, v in snap.items()}
            assert set(sub.index) == set(want), (pid, i)
            for node, val in want.items():
                assert sub[node] == pytest.approx(val, abs=atol, rel=1e-9), (
                    pid,
                    i,
                    node,
                )


def test_plan_decay_chunks_splits_long_spans():
    ivs = [(i, 1000.0 * (i + 1), 1000.0 * (i + 1)) for i in range(8)]
    # lambda so that two consecutive boundaries exceed SAFE_EXPONENT=500
    chunks = plan_decay_chunks(ivs, lambda_max=0.9)
    assert len(chunks) == 8
    chunks = plan_decay_chunks(ivs, lambda_max=1e-6)
    assert len(chunks) == 1
    assert [iv[0] for iv in chunks[0]] == list(range(8))


def test_plan_decay_chunks_rejects_unsplittable_interval():
    # a SINGLE interval whose own (hi - readout) span exceeds the safe
    # window cannot be fixed by chunking: the read-out rescale would
    # overflow silently (ADVICE r01) — must raise instead
    with pytest.raises(ValueError, match="SAFE_EXPONENT"):
        plan_decay_chunks([(0, 1000.0, 0.0)], lambda_max=1.0)


def test_walk_multi_chunk_parity(spark):
    """Span many decay norms -> several chunk jobs, carry rebased between."""
    rng = np.random.default_rng(5)
    n, E = 9, 400
    t = np.sort(rng.uniform(0, 40000, E)).astype(np.int64)
    src = rng.integers(0, n, E)
    dst = rng.integers(0, n, E)
    stream = list(zip(t.tolist(), src.tolist(), dst.tolist()))
    params = [
        (0.3, ExponentialWeighter(norm=20.0, base=0.5)),
        (0.5, ExponentialWeighter(norm=60.0, base=0.5)),
    ]
    boundaries = [5000.0 * (i + 1) for i in range(8)]
    tk, outs = _walk_readouts(_edges_df(spark, stream), stream, params, boundaries)
    # with norm=20 the 40000-span replay must have decay-chunked
    assert tk.walk_metrics[0]["chunks"] > 1
    captured = _oracle_snapshots(stream, params, boundaries)
    _assert_match(outs, captured, params)


def test_walk_partitioned_by_closure_key(spark):
    """Disjoint node groups partitioned by a closure column == one task."""
    rng = np.random.default_rng(9)
    blocks = 6
    stream = []
    for b in range(blocks):
        E = 120
        t = np.sort(rng.uniform(0, 2000, E)).astype(np.int64)
        src = rng.integers(0, 4, E) + 4 * b
        dst = rng.integers(0, 4, E) + 4 * b
        stream += list(zip(t.tolist(), src.tolist(), dst.tolist()))
    stream.sort()
    params = [(0.4, ExponentialWeighter(norm=100.0, base=0.5))]
    boundaries = [500.0, 1000.0, 1500.0, 2000.0]
    df = _edges_df(spark, stream, n_grp=4)
    _, outs_par = _walk_readouts(
        df, stream, params, boundaries, walk_layout="grp", walk_partitions=5
    )
    _, outs_one = _walk_readouts(df, stream, params, boundaries)
    captured = _oracle_snapshots(stream, params, boundaries)
    _assert_match(outs_par, captured, params)
    _assert_match(outs_one, captured, params)


def test_walk_components_layout(spark):
    """walk_layout='components': the engine derives the closure key with
    its own CC operator; result matches the single-task run exactly."""
    rng = np.random.default_rng(17)
    blocks = 5
    stream = []
    for b in range(blocks):
        E = 80
        t = np.sort(rng.uniform(0, 2000, E)).astype(np.int64)
        src = rng.integers(0, 4, E) + 4 * b
        dst = rng.integers(0, 4, E) + 4 * b
        stream += list(zip(t.tolist(), src.tolist(), dst.tolist()))
    stream.sort()
    params = [(0.4, ExponentialWeighter(norm=100.0, base=0.5))]
    boundaries = [700.0, 1400.0, 2000.0]
    df = _edges_df(spark, stream)
    _, outs_cc = _walk_readouts(
        df, stream, params, boundaries, walk_layout="components",
        walk_partitions=4,
    )
    captured = _oracle_snapshots(stream, params, boundaries)
    _assert_match(outs_cc, captured, params)


def test_walk_divergence_guard(spark):
    """Unbounded dynamics (beta=1, negligible decay, dense chains) raise,
    on the explicit walk path, on the default path, which resolves to
    walk for factorizing weighters, and on the distributed-state
    measure (one closure group)."""
    from pyspark.sql import functions as F

    from online_centrality_spark.operators import DistributedTemporalKatz

    E, n = 4000, 3
    t = np.linspace(0, 10.0, E)
    rng = np.random.default_rng(0)
    src = rng.integers(0, n, E)
    dst = rng.integers(0, n, E)
    stream = list(zip(t.tolist(), src.tolist(), dst.tolist()))
    params = [(1.0, ExponentialWeighter(norm=1e9, base=0.5))]
    df = _edges_df(spark, stream)
    dtk = DistributedTemporalKatz(params)
    runs = [(TemporalKatz(params, n, path=path), df) for path in ("walk", "auto")]
    runs.append((dtk, df.withColumn("closure", F.lit(0))))
    for tk, tk_df in runs:
        with pytest.raises(ValueError, match="overflowed"):
            tk.run_batch(tk_df, [(0, 10.0, 10.0)])
    dtk.release()

    assert TemporalKatz(params, n).path == "walk"
    for w in (
        PowerWeighter(norm=3600.0, exponent=-1.0),
        RayleighWeighter(norm=3600.0, sigma=1.0),
    ):
        assert TemporalKatz([(0.5, w)], n).path == "fold"
    with pytest.raises(ValueError):
        TemporalKatz(params, n, path="scan")


def test_walk_sparse_node_ids_and_self_loops(spark):
    """Sparse (hashed-scale) node ids exercise the sort-unique encode
    branch; self-loops follow the reference's u==v collapse."""
    rng = np.random.default_rng(21)
    base_ids = rng.choice(10**12, size=6, replace=False)
    E = 150
    src_i = rng.integers(0, 6, E)
    dst_i = rng.integers(0, 6, E)
    dst_i[::7] = src_i[::7]  # force periodic self-loops
    t = np.sort(rng.uniform(0, 1500, E)).astype(np.int64)
    stream = [
        (int(t[i]), int(base_ids[src_i[i]]), int(base_ids[dst_i[i]]))
        for i in range(E)
    ]
    params = [(0.3, ExponentialWeighter(norm=80.0, base=0.5))]
    boundaries = [500.0, 1000.0, 1500.0]
    # oracle on compacted ids; engine on raw sparse ids
    compact = {int(b): i for i, b in enumerate(sorted(base_ids))}
    oracle_stream = [(tt, compact[s], compact[d]) for tt, s, d in stream]
    captured = _oracle_snapshots(oracle_stream, params, boundaries)
    # the driver-held dense state can't span 1e12 raw ids (dictionary
    # encoding handles that upstream), so assert the KERNEL-level sparse
    # encode branch directly, then the engine path on compacted ids
    from online_centrality_spark.operators.walk import (
        build_walk_layout,
        walk_totals,
    )

    gsrc = np.array([s for _, s, _ in stream])
    gdst = np.array([d for _, _, d in stream])
    nodes = np.unique(np.concatenate([gsrc, gdst]))
    assert nodes.max() - nodes.min() + 1 > 2 * E + 64  # sparse branch
    src_l = np.searchsorted(nodes, gsrc)
    dst_l = np.searchsorted(nodes, gdst)
    ef, pf, views, fs = build_walk_layout(src_l, dst_l)
    w = params[0][1].weight_np(1500.0 - t.astype(float))
    wi = (params[0][0] * w)[None, :].copy()
    tot, r, resid, div = walk_totals(wi, np.array([0.3]), ef, pf, views, fs)
    assert not div
    # sequential ground truth over compacted ids in basis 1500
    g = np.zeros(E)
    y = np.zeros(len(nodes))
    for i in range(E):
        gi = 0.3 * (y[src_l[i]] + params[0][1].weight(1500.0 - float(t[i])))
        y[dst_l[i]] += gi
        g[i] = gi
    assert np.allclose(tot[0], g, rtol=1e-9)
    # and the full engine path on compacted ids matches the oracle
    df_c = _edges_df(spark, oracle_stream)
    _, outs = _walk_readouts(df_c, oracle_stream, params, boundaries)
    _assert_match(outs, captured, params)


def test_walk_distributed_state_matches_driver_state(spark):
    """Fully distributed-state replay (state co-partitioned DataFrame,
    job-side read-outs, nothing broadcast) over TWO sequential batches
    matches the driver-state engine, including a closure group that goes
    silent in batch 2 (pure-decay carry) and one that first appears
    there."""
    from pyspark.sql import functions as F

    from online_centrality_spark.operators.walk import (
        plan_decay_chunks,
        run_walk_batch_distributed,
    )

    rng = np.random.default_rng(33)
    params = [
        (0.3, ExponentialWeighter(norm=300.0, base=0.5)),
        (0.15, ExponentialWeighter(norm=600.0, base=0.5)),
    ]
    betas = np.array([b for b, _ in params])
    ws = [w for _, w in params]

    def block(b, lo, hi, E=90):
        t = np.sort(rng.uniform(lo, hi, E)).astype(np.int64)
        src = rng.integers(0, 5, E) + 5 * b
        dst = rng.integers(0, 5, E) + 5 * b
        return list(zip(t.tolist(), src.tolist(), dst.tolist()))

    # batch 1: groups 0 and 1; batch 2: groups 1 and 2 (0 silent, 2 new)
    s1 = sorted(block(0, 0, 2000) + block(1, 0, 2000))
    s2 = sorted(block(1, 2000, 4000) + block(2, 2000, 4000))
    b1 = [1000.0, 2000.0]
    b2 = [3000.0, 4000.0]

    def df_of(stream, seq0=0):
        rows = [
            (float(t), int(s), int(d), seq0 + i + 1, int(s) // 5)
            for i, (t, s, d) in enumerate(stream)
        ]
        return spark.createDataFrame(
            rows, "key double, src long, dst long, seq long, grp long"
        )

    # driver-state reference over the concatenated replay
    n = 15
    tk = TemporalKatz(params, n, path="walk")
    all_ivs = [(i, float(b), float(b)) for i, b in enumerate(b1 + b2)]
    full = tk.run_batch(df_of(sorted(s1 + s2)), all_ivs)

    # distributed-state: two batches, state handed over as a DataFrame
    lam = max(
        __import__(
            "online_centrality_spark.operators.walk", fromlist=["x"]
        ).decay_rate(w)
        for w in ws
    )
    state = None
    basis = None
    got = {}
    for ivs, stream, seq0 in ((b1, s1, 0), (b2, s2, 10_000)):
        plan = [
            (float(c[-1][1]), c)
            for c in plan_decay_chunks(
                [(i, float(b), float(b)) for i, b in enumerate(ivs)], lam
            )
        ]
        out, metx = run_walk_batch_distributed(
            df_of(stream, seq0),
            betas,
            ws,
            plan,
            closure_col="grp",
            state_in=state,
            state_basis=basis,
        )
        out = out.persist()
        assert not any(m["diverged"] for m in metx(out))
        ro = out.filter(F.col("kind") == 0).select("interval", "node", "vals")
        for r in ro.collect():
            got[(ivs[r["interval"]], r["node"])] = np.asarray(r["vals"])
        state = out.filter(F.col("kind") == 1).select("node", "closure", "vals")
        state = spark.createDataFrame(state.toPandas())  # cut lineage
        basis = plan[-1][0]

    want = {}
    for iid, pdf in full.items():
        b = (b1 + b2)[iid]
        for pj, pid in enumerate(tk.param_ids):
            sub = pdf[pdf["param_id"] == pid]
            for nd, sc in zip(sub["node_id"], sub["score"]):
                want.setdefault((b, nd), np.zeros(len(params)))[pj] = sc
    assert set(got) == set(want)
    for k in want:
        assert np.allclose(got[k], want[k], rtol=1e-9, atol=1e-12), k
