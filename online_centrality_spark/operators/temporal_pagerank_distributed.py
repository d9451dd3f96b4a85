"""Distributed-state Temporal PageRank: per-closure ordered Arrow fold.

The Rozenshtein–Gionis update (reference ``temporal_pagerank.py:39-52``)
touches only ``pr(u), pr(v), m(u), m(v)`` per edge ``(u, v)``, so an
edge stream partitioned by a node-disjoint closure key (weakly connected
component of the time-collapsed graph — edges never cross a WCC) splits
into fully independent groups: each group folds its own edges in stable
``(key, seq)`` order over a local dense state block and the result is
EXACT, not approximate.  Unlike temporal Katz, the per-edge
``m(u) *= beta`` makes the recurrence state-multiplicative, so the
Jacobi path-length expansion does not apply — the per-group fold is the
exact distributed plan (the reference itself is one global fold;
``CentralityScoreComputer.py:98-101`` runs it in every experiment).

State is a DataFrame ``(node, closure, vals: array<double>)`` with
``vals = [pr_1..pr_p, m_1..m_p]``, co-partitioned with the edges via
the closure-cogroup envelope :func:`~.walk.closure_cogroup`
(``groupBy(closure).cogroup(...).applyInArrow``), exactly like
:func:`~.walk.run_walk_batch_distributed`.  TPR has no time decay, so
there is no basis to carry — a group with state but no edges is a pure
pass-through that still emits every read-out.

This is the one Temporal PageRank engine: no step collects edges or
state to the driver.
"""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import DataFrame

from .walk import ClosureStateMeasure, closure_cogroup, group_meta, group_metrics


def run_tpr_batch_distributed(
    edges: DataFrame,
    alphas: np.ndarray,
    betas: np.ndarray,
    intervals: list[tuple[int, float, float]],
    closure_col: str,
    state_in: DataFrame | None = None,
):
    """ONE cogroup job: fold each closure group's edges over the carried
    state in stable ``(key, seq)`` order, emitting per-interval read-out
    rows (kind 0: ``vals`` = the p pr scores) and the next state frame
    (kind 1: ``vals`` = ``[pr..., m...]``), plus per-group metrics
    (kind 2).  Returns ``(out_df, group_metrics)``.
    """
    p = len(alphas)
    a_arr = np.asarray(alphas, dtype=np.float64)
    b_arr = np.asarray(betas, dtype=np.float64)
    cuts = [float(hi) for _, hi, _ in intervals]
    iids = [int(iid) for iid, _, _ in intervals]

    def fold(key, gsrc, gdst, snodes, svals, t0):
        nodes = np.unique(np.concatenate([gsrc, gdst, snodes]))
        nl = len(nodes)
        src = np.searchsorted(nodes, gsrc)
        dst = np.searchsorted(nodes, gdst)
        # per-param Python float lists: the fold is one scalar pass per
        # param — plain list indexing beats per-edge numpy slicing by
        # several x at small p (numpy's small-array call overhead
        # dominates an 8-op update)
        prs = [[0.0] * nl for _ in range(p)]
        mss = [[0.0] * nl for _ in range(p)]
        if len(snodes):
            sidx = np.searchsorted(nodes, snodes)
            for j in range(p):
                pr_j, m_j = prs[j], mss[j]
                for t_i, row in zip(sidx.tolist(), svals):  # row: pr..., m...
                    pr_j[t_i] = float(row[j])
                    m_j[t_i] = float(row[p + j])
        src_l = src.tolist()
        dst_l = dst.tolist()
        frames = []
        t1 = time.time()
        iv_cuts = [int(np.searchsorted(key, hi, side="right")) for hi in cuts]
        pos = 0
        for iid, cut in zip(iids, iv_cuts):
            for j in range(p):
                a = float(a_arr[j])
                b = float(b_arr[j])
                one_a = 1.0 - a
                ab = a * (1.0 - b)
                one_b = 1.0 - b
                pr, ms = prs[j], mss[j]
                for i in range(pos, cut):
                    u = src_l[i]
                    v = dst_l[i]
                    if u == v:
                        # reference tuple-assignment collapse (self-loop)
                        mv = ms[v]
                        pr[v] += a * (mv + one_a)
                        ms[v] = mv * (1.0 + ab) + one_a * ab
                    else:
                        emit = a * (ms[u] + one_a)
                        pr[v] += emit
                        ms[v] += one_b * emit
                        ms[u] *= b
                        pr[u] += one_a
            pos = cut
            pr_mat = np.asarray(prs)  # (p, nl)
            mask = (pr_mat > 0).any(axis=0)
            if mask.any():
                frames.append((0, iid, nodes[mask], pr_mat[:, mask].T))
        pr_mat = np.asarray(prs)
        m_mat = np.asarray(mss)
        # next state: nodes with any nonzero pr or mass
        st_mask = (pr_mat != 0).any(axis=0) | (m_mat != 0).any(axis=0)
        if st_mask.any():
            st_vals = np.concatenate([pr_mat[:, st_mask], m_mat[:, st_mask]])
            frames.append((1, -1, nodes[st_mask], st_vals.T))
        finite = np.isfinite(pr_mat).all() and np.isfinite(m_mat).all()
        # a fold is exactly one pass
        return frames, group_meta(1.0, 0.0, len(key), not finite, t0, t1)

    out = closure_cogroup(
        edges, closure_col, float(intervals[-1][1]), state_in, fold
    )
    return out, group_metrics


class DistributedTemporalPageRank(ClosureStateMeasure):
    """Driver-protocol measure wrapping :func:`run_tpr_batch_distributed`
    (``distributed = True``: read-outs land via the partitioned
    distributed score sink, state is a checkpointed DataFrame)."""

    measure = "tpr"
    state_frame_names = ("state",)
    _diverged_msg = "temporal-pagerank state went non-finite"

    def __init__(self, params: list[tuple[float, float]], closure_col: str = "closure"):
        for alpha, beta in params:
            if not (0 < alpha < 1):
                raise ValueError("alpha must be in (0,1)")
            if not (0 <= beta < 1):
                raise ValueError("beta must be in [0,1)")
        self.params = params
        self.alphas = np.array([a for a, _ in params])
        self.betas = np.array([b for _, b in params])
        self.p = len(params)
        self.closure_col = closure_col
        self.walk_metrics: list[dict] = []
        self.reset()

    def reset(self) -> None:
        self.state: DataFrame | None = None

    @property
    def param_ids(self) -> list[str]:
        return ["tpr_a%0.2f_b%0.2f" % (a, b) for a, b in self.params]

    def run_batch(
        self,
        df: DataFrame,
        intervals: list[tuple[int, float, float]],
        readouts: bool = True,
    ) -> DataFrame | None:
        out, _ = run_tpr_batch_distributed(
            df,
            self.alphas,
            self.betas,
            intervals,
            closure_col=self.closure_col,
            state_in=self.state,
        )
        # export keeps positive scores only (temporal_pagerank.py:61-62)
        ro = self._advance(out, readouts, positive_only=True)
        # surface closure skew: the per-closure ordered fold serializes
        # each closure's edges into one task, so a giant WCC bounds the
        # whole batch (semantics-forced — the m(u) *= beta recurrence
        # does not factorize, so the walk expansion does not apply).
        # max/total edge share per closure lands in the convergence
        # parquet so an operator sees the bound instead of guessing.
        tot = sum(m["edges"] for m in self.walk_metrics)
        mx = max((m["edges"] for m in self.walk_metrics), default=0)
        skew = (mx / tot) if tot else 0.0
        for m in self.walk_metrics:
            m["closure_skew"] = skew
        return ro

    def state_frames(self) -> dict[str, DataFrame | None]:
        return {"state": self.state}

    def load_state_frames(self, state: DataFrame | None) -> None:
        self.state = state
