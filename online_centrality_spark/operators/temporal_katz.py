"""Temporal Katz centrality (and truncated variant) as Spark supersteps.

Semantics match the reference's online computers
(``temporal_katz_computer.py:17-62`` for ``tk``, ``:79-130`` for ``ttk``):
per edge (u, v, t), lazily decay both endpoints by ``w(t - last_act)``,
then ``r(v) += beta * (r_decayed(u) + 1)``; snapshot read-out decays every
ever-active node to the boundary time. All parameterizations
(beta, weight-fn) are evaluated in one pass as vector columns.

The per-edge recurrence is order-dependent whenever edges chain through
shared nodes within a window (``graph_simulator.py:34-39``), so a window
cannot be one big commutative aggregation. Two exact execution paths:

- **fold** (any weighter): the window's edges, sorted by the stable
  global rank ``seq``, stream through one Arrow ``mapInPandas`` task that
  keeps the dense ``(P, N)`` rank matrix and applies the recurrence with
  O(P) vector ops per edge.

- **walk** (factorizing weighters; the SCALE path): vectorized Jacobi
  path-length iteration with segmented prefix sums over chain-closed
  partitions — any node count, numerically stable, one Spark job per
  replay batch. See ``walk.py``.

State lives on the driver as O(N*P) numpy arrays between supersteps
(broadcast into tasks), checkpointed by the superstep driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions.weights import ConstantWeighter, Weighter
from .walk import decay_rate, plan_decay_chunks, run_walk_batch

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("node", T.LongType(), False),
        T.StructField("ranks", T.ArrayType(T.DoubleType()), False),
        T.StructField("last", T.DoubleType(), True),  # NaN/null = never activated
    ]
)


def _factorizes(weighters: list[Weighter]) -> bool:
    return all(
        w.factorizes or (isinstance(w, ConstantWeighter) and w.c == 1.0)
        for w in weighters
    )


class TemporalKatz:
    """Param-vectorized temporal Katz over a dictionary-encoded node space.

    ``params``: list of (beta, Weighter). ``n_nodes``: size of the node
    dictionary. ``path``: 'auto' | 'fold' | 'walk'; 'auto' picks ``walk``
    when every weighter factorizes and ``fold`` otherwise.

    Path selection: ``fold`` is exact for every weighter (single ordered
    Arrow task); ``walk`` is the scale path — vectorized path-length
    iteration, any node count, numerically stable, raises on unbounded
    dynamics, distributed across chain-closed partitions (``walk_layout``:
    None = one task; 'preserve' = trust the df's partitioning to be
    node-disjoint; or a column name to repartition by a node-disjoint
    closure key such as a component id).
    """

    measure = "tk"

    def __init__(
        self,
        params: list[tuple[float, Weighter]],
        n_nodes: int,
        path: str = "auto",
        walk_layout: str | None = None,
        walk_partitions: int | None = None,
        walk_tol: float = 1e-12,
        walk_block: int = 8192,
        walk_edge_transform=None,
    ):
        for beta, _ in params:
            if not (0 <= beta <= 1):
                raise ValueError("beta must be in [0,1]")
        self.params = params
        self.betas = np.array([b for b, _ in params], dtype=np.float64)
        self.weighters = [w for _, w in params]
        self.n = n_nodes
        self.p = len(params)
        if path == "auto":
            path = "walk" if _factorizes(self.weighters) else "fold"
        if path not in ("fold", "walk"):
            raise ValueError(f"unknown path {path!r}: expected auto|fold|walk")
        if path == "walk":
            # raises ValueError for a non-factorizing weighter
            self._lambda_max = max(decay_rate(w) for w in self.weighters)
        self.path = path
        self.walk_layout = walk_layout
        self.walk_partitions = walk_partitions
        self.walk_tol = walk_tol
        self.walk_block = walk_block
        self.walk_edge_transform = walk_edge_transform
        self.walk_metrics: list[dict] = []
        self.reset()

    # -- state ------------------------------------------------------------
    def reset(self) -> None:
        self.ranks = np.zeros((self.p, self.n), dtype=np.float64)
        self.last = np.full(self.n, np.nan)  # last activation (nan = never)
        self.basis: float | None = None  # walk path: time the ranks are decayed to

    def state_dict(self) -> dict:
        return {
            "ranks": self.ranks,
            "last": self.last,
            "basis": np.array([np.nan if self.basis is None else self.basis]),
        }

    def load_state(self, d: dict) -> None:
        self.ranks = d["ranks"]
        self.last = d["last"]
        b = float(d["basis"][0])
        self.basis = None if np.isnan(b) else b

    @property
    def param_ids(self) -> list[str]:
        return ["tk_b%0.2f_%s" % (b, w) for b, w in self.params]

    # -- superstep ---------------------------------------------------------
    def superstep(self, window: DataFrame | None, hi: float) -> None:
        """Advance state over one snapshot window ending at ``hi``.

        ``window`` must contain columns (key, src, dst, seq) where ``key``
        is the measure's time axis (epoch seconds or edge index); None or
        empty means an inactive interval (state untouched — decay is lazy).
        """
        if self.path == "fold":
            if window is not None:
                self._superstep_fold(window)
        elif window is None:
            self._rebase(hi)
        else:
            self.run_batch(window, [(0, hi, hi)], readouts=False)

    # fold path: one ordered Arrow task, exact for every weighter
    def _superstep_fold(self, window: DataFrame) -> None:
        ranks0, last0 = self.ranks, self.last
        weighters, betas, n, p = self.weighters, self.betas, self.n, self.p

        def fold(batches):
            ranks = ranks0.copy()
            last = last0.copy()
            for pdf in batches:
                key = pdf["key"].to_numpy(dtype=np.float64)
                src = pdf["src"].to_numpy(dtype=np.int64)
                dst = pdf["dst"].to_numpy(dtype=np.int64)
                for i in range(len(pdf)):
                    u, v, t = src[i], dst[i], key[i]
                    if not np.isnan(last[u]):
                        du = t - last[u]
                        for j in range(p):
                            ranks[j, u] *= weighters[j].weight(du)
                    if v != u and not np.isnan(last[v]):
                        dv = t - last[v]
                        for j in range(p):
                            ranks[j, v] *= weighters[j].weight(dv)
                    ranks[:, v] += betas * (ranks[:, u] + 1.0)
                    last[u] = t
                    last[v] = t
            out = pd.DataFrame(
                {
                    "node": np.arange(n, dtype=np.int64),
                    "ranks": list(ranks.T),
                    "last": last,
                }
            )
            yield out

        result = (
            window.select("key", "src", "dst", "seq")
            .repartition(1)
            .sortWithinPartitions("seq")
            .mapInPandas(fold, schema=_STATE_SCHEMA)
            .toPandas()
        )
        self._absorb_state(result)

    def _absorb_state(self, result: pd.DataFrame) -> None:
        result = result.sort_values("node")
        self.ranks = np.stack(result["ranks"].to_numpy()).T.copy()
        self.last = result["last"].to_numpy(dtype=np.float64).copy()

    # -- walk path (distributed vectorized path-length iteration) --------
    def _rebase(self, new_basis: float) -> None:
        """Decay walk-path state from the current basis to ``new_basis``."""
        if self.basis is not None and new_basis != self.basis:
            dt = new_basis - self.basis
            for j, w in enumerate(self.weighters):
                self.ranks[j] *= w.weight(dt)
        self.basis = new_basis

    def can_batch(self) -> bool:
        return self.path == "walk"

    def run_batch(
        self,
        df: DataFrame,
        intervals: list[tuple[int, float, float]],
        readouts: bool = True,
    ) -> dict[int, pd.DataFrame]:
        """Advance the walk path over B consecutive windows with ONE Spark job.

        ``intervals``: ordered [(interval_id, hi, readout_time)]; ``df``
        must contain exactly the edges of those windows (key <= last hi).
        Returns {interval_id: readout frame}; state ends at the last hi.
        """
        chunks = plan_decay_chunks(intervals, self._lambda_max)
        chunk_plan = [(float(c[-1][1]), c) for c in chunks]
        t_first = chunk_plan[0][0]
        t_last = chunk_plan[-1][0]
        lo: float | None = self.basis
        if self.basis is None:
            self.basis = t_first
        self._rebase(t_first)
        y0_rows = self._walk_y0()  # (rows, n): p for tk, k*p for ttk
        y0_pre = y0_rows.copy()  # basis t_first (for untouched fill)
        active_pre = ~np.isnan(self.last)
        ro, (es_nodes, es_vals), mets = run_walk_batch(
            df,
            self.betas,
            self.weighters,
            y0_rows,
            active_pre,
            chunk_plan,
            lo,
            self.walk_partitions,
            self.walk_layout,
            tol=self.walk_tol,
            block_size=self.walk_block,
            edge_transform=self.walk_edge_transform,
            layers=self._walk_layers,
        )
        self.walk_metrics = [
            dict(chunk_end=t_last, chunks=len(chunk_plan), **m) for m in mets
        ]
        # advance untouched state to the final basis, then merge end-state
        self._rebase(t_last)
        touched = np.zeros(self.n, dtype=bool)
        if len(es_nodes):
            self._walk_absorb(es_nodes, es_vals)
            self.last[es_nodes] = t_last
            touched[es_nodes] = True
        outs: dict[int, pd.DataFrame] = {}
        if readouts:
            n_rows = self._walk_layers * self.p
            fill_nodes = np.nonzero(active_pre & ~touched)[0]
            pids = np.asarray(self.param_ids, dtype=object)
            for iid, hi, rt in intervals:
                t_nodes, t_vals = ro.get(
                    iid, (np.empty(0, np.int64), np.empty((0, n_rows)))
                )
                if len(fill_nodes):
                    # value decayed to rt: y0_pre (basis t_first) / w(t_first - rt)
                    f_vals = y0_pre[:, fill_nodes].T.copy()
                    for r in range(n_rows):
                        f_vals[:, r] /= self.weighters[r % self.p].weight(
                            t_first - float(rt)
                        )
                    all_nodes = np.concatenate([t_nodes, fill_nodes])
                    all_vals = np.concatenate([t_vals, f_vals])
                else:
                    all_nodes, all_vals = t_nodes, t_vals
                m = len(all_nodes)
                outs[iid] = pd.DataFrame(
                    {
                        "param_id": np.repeat(pids, m),
                        "node_id": np.tile(all_nodes, n_rows),
                        "score": np.ascontiguousarray(all_vals.T).ravel(),
                    }
                )
        return outs

    # walk-state hooks (overridden by the truncated variant)
    _walk_layers = 1

    def _walk_y0(self) -> np.ndarray:
        return self.ranks

    def _walk_absorb(self, nodes: np.ndarray, vals: np.ndarray) -> None:
        self.ranks[:, nodes] = vals.T

    # -- read-out ----------------------------------------------------------
    def readout(self, boundary: float) -> pd.DataFrame:
        """Scores of every ever-active node, decayed to ``boundary``.

        Returns tidy (param_id, node_id, score).
        """
        active = ~np.isnan(self.last)
        idx = np.nonzero(active)[0]
        frames = []
        for j, pid in enumerate(self.param_ids):
            if self.path == "walk":
                base = self.basis if self.basis is not None else boundary
                scores = self.ranks[j, idx] * self.weighters[j].weight(boundary - base)
            else:
                dt = boundary - self.last[idx]
                scores = self.ranks[j, idx] * self.weighters[j].weight_np(dt)
            frames.append(
                pd.DataFrame({"param_id": pid, "node_id": idx, "score": scores})
            )
        if not frames:
            return pd.DataFrame(columns=["param_id", "node_id", "score"])
        return pd.concat(frames, ignore_index=True)


class TruncatedTemporalKatz(TemporalKatz):
    """k-layer truncated temporal Katz (walks of length <= layer+1).

    Layers update in descending order so layer ``l`` reads layer ``l-1``
    pre-update (``temporal_katz_computer.py:104-117``); every layer is
    exported (param id suffix ``_length_limit_<l+1>``).
    State is the stacked (P, k*N) vector.
    """

    measure = "ttk"

    def __init__(
        self,
        params: list[tuple[float, Weighter]],
        n_nodes: int,
        k: int = 5,
        path: str = "auto",
    ):
        self.k = k
        super().__init__(params, n_nodes, path=path)

    def reset(self) -> None:
        self.ranks = np.zeros((self.p, self.k * self.n), dtype=np.float64)
        self.last = np.full(self.n, np.nan)
        self.basis = None

    @property
    def param_ids(self) -> list[str]:
        return [
            "ttk_b%0.2f_%s_length_limit_%i" % (b, w, layer + 1)
            for layer in range(self.k)
            for b, w in self.params
        ]

    def _superstep_fold(self, window: DataFrame) -> None:
        ranks0, last0 = self.ranks, self.last
        weighters, betas, n, p, k = self.weighters, self.betas, self.n, self.p, self.k

        def fold(batches):
            ranks = ranks0.reshape(p, k, n).copy()
            last = last0.copy()
            zeros = np.zeros(p)
            for pdf in batches:
                key = pdf["key"].to_numpy(dtype=np.float64)
                src = pdf["src"].to_numpy(dtype=np.int64)
                dst = pdf["dst"].to_numpy(dtype=np.int64)
                for i in range(len(pdf)):
                    u, v, t = src[i], dst[i], key[i]
                    wu = wv = None
                    if not np.isnan(last[u]):
                        wu = np.array(
                            [weighters[j].weight(t - last[u]) for j in range(p)]
                        )
                        ranks[:, :, u] *= wu[:, None]
                    if v != u and not np.isnan(last[v]):
                        wv = np.array(
                            [weighters[j].weight(t - last[v]) for j in range(p)]
                        )
                        ranks[:, :, v] *= wv[:, None]
                    for layer in range(k - 1, -1, -1):
                        shorter = zeros if layer == 0 else ranks[:, layer - 1, u]
                        ranks[:, layer, v] = ranks[:, layer, v] + betas * (shorter + 1.0)
                    last[u] = t
                    last[v] = t
            out = pd.DataFrame(
                {
                    "node": np.arange(n, dtype=np.int64),
                    "ranks": _stack_cols(ranks, n, p, k),
                    "last": last,
                }
            )
            yield out

        result = (
            window.select("key", "src", "dst", "seq")
            .repartition(1)
            .sortWithinPartitions("seq")
            .mapInPandas(fold, schema=_STATE_SCHEMA)
            .toPandas()
        )
        result = result.sort_values("node")
        stacked = np.stack(result["ranks"].to_numpy())  # (n, p*k)
        self.ranks = (
            stacked.reshape(self.n, self.p, self.k)
            .transpose(1, 2, 0)
            .reshape(self.p, self.k * self.n)
            .copy()
        )
        self.last = result["last"].to_numpy(dtype=np.float64).copy()

    # walk-state hooks: (p, k*n) layer-blocked state <-> (k*p, n) rows
    @property
    def _walk_layers(self) -> int:
        return self.k

    def _walk_y0(self) -> np.ndarray:
        return np.ascontiguousarray(
            self.ranks.reshape(self.p, self.k, self.n)
            .transpose(1, 0, 2)
            .reshape(self.k * self.p, self.n)
        )

    def _walk_absorb(self, nodes: np.ndarray, vals: np.ndarray) -> None:
        # vals: (m, k*p) layer-major columns
        per = vals.T.reshape(self.k, self.p, len(nodes)).transpose(1, 0, 2)
        self.ranks.reshape(self.p, self.k, self.n)[:, :, nodes] = per

    def readout(self, boundary: float) -> pd.DataFrame:
        active = ~np.isnan(self.last)
        idx = np.nonzero(active)[0]
        ranks = self.ranks.reshape(self.p, self.k, self.n)
        frames = []
        pids = self.param_ids
        for layer in range(self.k):
            for j in range(self.p):
                pid = pids[layer * self.p + j]
                if self.path == "walk":
                    base = self.basis if self.basis is not None else boundary
                    scores = ranks[j, layer, idx] * self.weighters[j].weight(
                        boundary - base
                    )
                else:
                    dt = boundary - self.last[idx]
                    scores = ranks[j, layer, idx] * self.weighters[j].weight_np(dt)
                frames.append(
                    pd.DataFrame({"param_id": pid, "node_id": idx, "score": scores})
                )
        if not frames:
            return pd.DataFrame(columns=["param_id", "node_id", "score"])
        return pd.concat(frames, ignore_index=True)


def _stack_cols(ranks: np.ndarray, n: int, p: int, k: int) -> list[np.ndarray]:
    """(p, k, n) -> per-node flattened (p*k,) vectors for the state rows."""
    return list(ranks.reshape(p * k, n).T)
