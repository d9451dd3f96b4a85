"""Superstep batching: one-job-per-B-windows == one-job-per-window == oracle."""

import pytest

from online_centrality_spark.functions.weights import ExponentialWeighter
from online_centrality_spark.operators import (
    DistributedTemporalPageRank,
    attach_closure_components,
)
from online_centrality_spark.operators.temporal_katz import (
    TemporalKatz,
    TruncatedTemporalKatz,
)
from online_centrality_spark.plans.superstep import SuperstepDriver
from online_centrality_spark.sources.edges import edges_from_transcripts
from online_centrality_spark.sources.transcripts import transcripts_spark
from tests.test_temporal_parity import (
    EXP_PARAMS,
    TPR_PARAMS,
    assert_close_maps,
    engine_scores_map,
    make_boundaries,
    run_oracle,
)

# a wide case: more params than the narrow one, and a different batch size
EXP_PARAMS6 = [
    (0.5, ExponentialWeighter(norm=1800.0 * (i + 1), base=0.5)) for i in range(6)
]
TPR_PARAMS5 = [(0.85, 0.1 * i) for i in range(5)]


@pytest.mark.parametrize(
    "params_tk, params_tpr, batch_size",
    [(EXP_PARAMS, TPR_PARAMS, 7), (EXP_PARAMS6, TPR_PARAMS5, 4)],
    ids=["p2_batch7", "p6_batch4"],
)
def test_batched_driver_matches_oracle(
    spark, tmp_path, params_tk, params_tpr, batch_size
):
    tr = transcripts_spark(spark, n_convs=40, max_turns=14, seed=11)
    edges, nodes = edges_from_transcripts(tr)
    edges = attach_closure_components(edges).persist()
    rows = edges.orderBy("seq").collect()
    stream = [(int(r["t"]), int(r["src"]), int(r["dst"])) for r in rows]
    n_nodes = nodes.count()
    boundaries = make_boundaries(stream, delta=1800, count=20)
    k = 2
    captured, _ = run_oracle(
        stream, boundaries, "epoch", params_tk, k=k, tpr_params=params_tpr
    )

    tk = TemporalKatz(params_tk, n_nodes, path="walk")
    ttk = TruncatedTemporalKatz(params_tk, n_nodes, k=k, path="walk")
    tpr = DistributedTemporalPageRank(params_tpr)
    driver = SuperstepDriver(spark, str(tmp_path / "out_batched"))
    sched = driver.run(
        edges, boundaries, "epoch", online=[tk, ttk, tpr], batch_size=batch_size
    )
    assert [s.interval_id for s in sched] == sorted(captured.keys())
    got = engine_scores_map(driver)
    for snap in sched:
        i = snap.interval_id
        for j, (beta, w) in enumerate(params_tk):
            pid = "tk_b%0.2f_%s" % (beta, w)
            want = {n: v[j] for n, v in captured[i]["tk"].items()}
            assert_close_maps(got[(pid, i)], want, f"tk {pid} snap {i}")
            for layer in range(k):
                pid = "ttk_b%0.2f_%s_length_limit_%i" % (beta, w, layer + 1)
                want = {n: v[j] for n, v in captured[i]["ttk"][layer].items()}
                assert_close_maps(got[(pid, i)], want, f"ttk {pid} snap {i}")
        for j, (a, b) in enumerate(params_tpr):
            pid = "tpr_a%0.2f_b%0.2f" % (a, b)
            want = {n: v[j] for n, v in captured[i]["tpr"].items() if v[j] > 0}
            assert_close_maps(got[(pid, i)], want, f"tpr {pid} snap {i}")
    edges.unpersist()


def test_batched_walk_writes_convergence_metrics(spark, tmp_path):
    """North rule: per-partition lineage + convergence metrics land in
    the metrics tree for batched walk supersteps."""
    import glob

    import pandas as pd

    from online_centrality_spark.functions.weights import ExponentialWeighter
    from online_centrality_spark.operators.temporal_katz import TemporalKatz
    from online_centrality_spark.plans.superstep import SuperstepDriver
    from online_centrality_spark.sources.edges import edges_from_transcripts
    from online_centrality_spark.sources.transcripts import transcripts_spark

    tr = transcripts_spark(spark, n_convs=12, max_turns=8, seed=9)
    edges, nodes = edges_from_transcripts(tr)
    n_nodes = nodes.count()
    t0 = edges.agg({"t": "min"}).collect()[0][0]
    boundaries = [t0 + 1800 * (i + 1) for i in range(6)]
    tk = TemporalKatz(
        [(0.5, ExponentialWeighter(norm=3600.0, base=0.5))], n_nodes, path="walk"
    )
    drv = SuperstepDriver(spark, str(tmp_path / "out"))
    sched = drv.run(edges, boundaries, "epoch", online=[tk], batch_size=3)
    files = glob.glob(str(tmp_path / "out" / "_metrics" / "convergence_tk_*.parquet"))
    assert files
    pdf = pd.concat([pd.read_parquet(f) for f in files])
    assert {"measure", "partition", "rounds", "residual", "edges"} <= set(pdf.columns)
    assert (pdf["measure"] == "tk").all()
    assert pdf["edges"].sum() > 0
    # metrics() reads the per-interval rows only, not the convergence
    # files beside them: one non-null row per emitted interval
    met = drv.metrics().toPandas()
    cols = ["interval_id", "total_nodes", "snapshot_edges"]
    assert set(cols) <= set(met.columns)
    assert sorted(met["interval_id"]) == [s.interval_id for s in sched]
    assert met[cols].notna().all().all()
