"""The benchmark workloads, run through the engine's public API.

Each workload reads its generated inputs from a data directory and
offers ``run(out)`` (the timed pipeline; every output column is written
to a sink), ``check(out)`` (off the clock: compares the outputs with
:mod:`reference`) and ``extras()`` (counts for the trace).
"""

from __future__ import annotations

import json
import os

import networkx as nx
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import reference
from tracing import LayerProxy

from online_centrality_spark.functions.weights import ExponentialWeighter
from online_centrality_spark.operators import (
    DistributedDecayedIndegree,
    DistributedTemporalKatz,
    attach_closure_components,
)
from online_centrality_spark.operators.components import (
    connected_components_detail,
    label_propagation,
)
from online_centrality_spark.operators.static_pagerank import static_pagerank
from online_centrality_spark.operators.triangles import triangle_count_per_vertex
from online_centrality_spark.plans.superstep import SuperstepDriver
from online_centrality_spark.sources.edges import edges_from_events

RTOL = 1e-6
ATOL = 1e-12
# oracle budget: closures are sampled until their edges reach this count
SAMPLE_EDGES = 3_000
# label-propagation rounds: synchronous LPA oscillates on these graphs, so
# it always runs the full count
LPA_ROUNDS = 3
# 0 turns off the single-task fallbacks of PageRank and CC, so their
# distributed loops run whatever the graph size
NO_FALLBACK = 0


def _sample_closures(comp_of_edge: np.ndarray, seed: int, budget: int) -> np.ndarray:
    """Seeded sample of closure ids whose edges total at most ``budget``
    (at least two closures)."""
    ids, sizes = np.unique(comp_of_edge, return_counts=True)
    order = np.random.default_rng([seed, 2]).permutation(len(ids))
    picked, total = [], 0
    for i in order:
        if len(picked) >= 2 and total + sizes[i] > budget:
            continue
        picked.append(ids[i])
        total += sizes[i]
    return np.array(picked)


def _compare_scores(got: dict, want: dict) -> tuple[bool, float]:
    """Same keys, values allclose; returns (ok, max abs error)."""
    if set(got) != set(want):
        return False, float("inf")
    keys = list(want)
    g = np.array([got[k] for k in keys])
    w = np.array([want[k] for k in keys])
    err = float(np.max(np.abs(g - w))) if len(keys) else 0.0
    return bool(np.allclose(g, w, rtol=RTOL, atol=ATOL)), err


def _read_sink(path: str, node_ids: np.ndarray):
    """Whole score sink (every column) and the rows of ``node_ids``."""
    table = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    wanted = pa.array(np.asarray(node_ids, dtype=np.int64))
    sub = table.filter(pc.is_in(table.column("node_id"), value_set=wanted))
    return table, sub


class IngestReplay:
    """events -> edges_from_events -> parquet -> attach_closure_components
    -> SuperstepDriver.run(DistributedTemporalKatz and
    DistributedDecayedIndegree, 64 read-outs in one checkpointed batch)
    -> partitioned score sink."""

    def __init__(self, ctx, data_dir: str):
        self.ctx = ctx
        self.data_dir = data_dir
        with open(os.path.join(data_dir, "meta.json")) as f:
            self.meta = json.load(f)
        self.boundaries = self.meta["boundaries"]
        self.tk_params = [tuple(p) for p in self.meta["tk_params"]]
        self.edges = self.meta["edges"]
        self._ref = None

    def tk(self) -> DistributedTemporalKatz:
        return DistributedTemporalKatz(
            [(b, ExponentialWeighter(norm=n, base=0.5)) for b, n in self.tk_params]
        )

    def did(self) -> DistributedDecayedIndegree:
        return DistributedDecayedIndegree(
            [ExponentialWeighter(norm=n, base=0.5) for _, n in self.tk_params]
        )

    def run(self, out: str) -> None:
        spark, tr = self.ctx.spark, self.ctx.tracer
        with tr.span("sources.induce"):
            events = spark.read.parquet(os.path.join(self.data_dir, "events.parquet"))
            edges, self._nodes = edges_from_events(events)
            edges.write.mode("overwrite").parquet(os.path.join(out, "edges"))
        with tr.span("components.closure"):
            edges_c = attach_closure_components(
                spark.read.parquet(os.path.join(out, "edges"))
            )
        tk, did = self.tk(), self.did()
        with tr.span("superstep.run"):
            SuperstepDriver(
                spark, os.path.join(out, "scores"), os.path.join(out, "ckpt")
            ).run(
                edges_c, self.boundaries, "epoch",
                online=[
                    LayerProxy(tk, tr, "walk.run_batch"),
                    LayerProxy(did, tr, "did.run_batch"),
                ],
                batch_size=len(self.boundaries),
            )
        tk.release()
        did.release()

    def extras(self, out: str) -> dict:
        return dict(
            edges_out=pq.ParquetDataset(os.path.join(out, "edges")).read(columns=["t"]).num_rows,
            nodes_out=self._nodes.count(),
        )

    def reference(self):
        if self._ref is None:
            e = reference.induce_edges(os.path.join(self.data_dir, "events.parquet"))
            comp = reference.component_min(reference.graph(e["src"], e["dst"]))
            comp_of_edge = np.array([comp[s] for s in e["src"].tolist()])
            picked = _sample_closures(comp_of_edge, self.ctx.seed, SAMPLE_EDGES)
            m = np.isin(comp_of_edge, picked)
            t, s, d = e["t"][m], e["src"][m], e["dst"][m]
            norms = [n for _, n in self.tk_params]
            self._ref = dict(
                edges=e,
                nodes=np.unique(np.concatenate([s, d])),
                tk=reference.temporal_katz(t, s, d, self.boundaries, self.tk_params),
                did=reference.decayed_indegree(t, s, d, self.boundaries, norms),
                rows=reference.readout_rows(e["t"], e["src"], e["dst"], self.boundaries),
            )
        return self._ref

    def _check_measure(self, measure, param_ids, want, nodes, n_rows, sink):
        table, sub = _read_sink(os.path.join(sink, f"measure={measure}"), nodes)
        scores = table.column("score").to_numpy()
        ok = (
            table.num_rows == n_rows * len(param_ids)
            and bool(np.isfinite(scores).all())
            and set(table.column("param_id").unique().to_pylist()) == set(param_ids)
            and pc.max(table.column("snapshot_id")).as_py() <= len(self.boundaries) - 1
        )
        pos = {p: i for i, p in enumerate(param_ids)}
        got = {
            (int(s), int(n), pos[p]): float(v)
            for s, n, p, v in zip(
                sub.column("snapshot_id").to_pylist(),
                sub.column("node_id").to_pylist(),
                sub.column("param_id").to_pylist(),
                sub.column("score").to_pylist(),
            )
        }
        flat = {
            (i, n, j): v for (i, n), vals in want.items() for j, v in enumerate(vals)
        }
        same, err = _compare_scores(got, flat)
        return ok and same, err

    def check(self, out: str) -> tuple[bool, float, int]:
        ref = self.reference()
        e = ref["edges"]
        got = pq.ParquetDataset(os.path.join(out, "edges")).read().sort_by("seq")
        induced = all(
            np.array_equal(got.column(c).to_numpy(), e[c]) for c in ("t", "src", "dst", "seq")
        )
        sink = os.path.join(out, "scores", "dist")
        ok_tk, err_tk = self._check_measure(
            "tk", self.tk().param_ids, ref["tk"], ref["nodes"], ref["rows"], sink
        )
        ok_did, err_did = self._check_measure(
            "did", self.did().param_ids, ref["did"], ref["nodes"], ref["rows"], sink
        )
        return induced and ok_tk and ok_did, max(err_tk, err_did), len(ref["nodes"])


class StaticGraph:
    """static_pagerank, connected_components, label_propagation and
    triangle_count_per_vertex on one hub-skewed graph."""

    def __init__(self, ctx, data_dir: str):
        self.ctx = ctx
        self.path = os.path.join(data_dir, "graph.parquet")
        with open(os.path.join(data_dir, "meta.json")) as f:
            self.edges = json.load(f)["edges"]
        self._ref = None
        self.cc_rounds = 0

    def run(self, out: str) -> None:
        spark, tr = self.ctx.spark, self.ctx.tracer
        g = spark.read.parquet(self.path)

        def sink(df, name):
            df.write.mode("overwrite").parquet(os.path.join(out, name))

        with tr.span("pagerank"):
            sink(static_pagerank(g, tol=1e-6, collect_threshold=NO_FALLBACK), "pagerank")
        with tr.span("components.cc"):
            labels, self.cc_rounds = connected_components_detail(
                g, collect_threshold=NO_FALLBACK
            )
            sink(labels, "cc")
        with tr.span("components.lpa"):
            sink(label_propagation(g, max_iter=LPA_ROUNDS), "lpa")
        with tr.span("triangles"):
            sink(triangle_count_per_vertex(g), "triangles")

    def extras(self, out: str) -> dict:
        return dict(cc_rounds=self.cc_rounds)

    def reference(self):
        if self._ref is None:
            tbl = pq.read_table(self.path)
            s, d = tbl.column("src").to_numpy(), tbl.column("dst").to_numpy()
            lpa_nodes, lpa = reference.label_propagation(s, d, max_iter=LPA_ROUNDS)
            g = reference.graph(s, d)
            self._ref = dict(
                pagerank=reference.pagerank(s, d),
                cc=reference.component_min(g),
                lpa=dict(zip(lpa_nodes.tolist(), lpa.tolist())),
                triangles=nx.triangles(g),
            )
        return self._ref

    def check(self, out: str) -> tuple[bool, float, int]:
        ref = self.reference()

        def read(name, col):
            t = pq.ParquetDataset(os.path.join(out, name)).read()
            return dict(zip(t.column("node_id").to_pylist(), t.column(col).to_pylist()))

        pr = read("pagerank", "score")
        ok_pr, err = _compare_scores(pr, ref["pagerank"])
        ok = (
            ok_pr
            and read("cc", "component") == ref["cc"]
            and read("lpa", "label") == ref["lpa"]
            and read("triangles", "triangles") == ref["triangles"]
        )
        return ok, err, len(ref["cc"])


WORKLOADS = {
    "ingest-replay": IngestReplay,
    "static-graph": StaticGraph,
}
