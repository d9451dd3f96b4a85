"""Distributed-state Temporal Katz: nothing driver-held, DataFrames
end-to-end.

The driver-state :class:`~.temporal_katz.TemporalKatz` broadcasts a
``(p, n)`` score matrix per batch and absorbs end-states driver-side —
right for actor dictionaries, wrong for unbounded node spaces (the north
rule's 10^12-turn framing).  This measure keeps the walk state as a
DataFrame ``(node, closure, vals: array<double>)`` co-partitioned with
the edges by a node-disjoint closure key, advanced per batch with
:func:`~.walk.run_walk_batch_distributed` (cogroup + the same vectorized
Jacobi path-length kernel, reference semantics
``temporal_katz_computer.py:43-51``).  Read-outs are returned as a tidy
DataFrame ``(interval_id, param_id, node_id, score)`` and written by the
:class:`~..plans.superstep.SuperstepDriver` with a distributed
partitioned write — no ``toPandas()`` of scores anywhere.

State persistence: the driver checkpoints the state frame (plus a
one-row meta frame carrying the decay basis) as parquet per superstep
batch, so kill/resume parity holds with no driver-held arrays
(``tests/test_resume.py``).

Closure key: any node-disjoint partitioning key works (component id,
tenant id, replica id...).  :func:`attach_closure_components` derives
one in-engine from the time-collapsed graph's weakly connected
components — walks can never leave a WCC, so the partitioning is exact.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..functions.weights import Weighter
from .walk import (
    OVERFLOW_MSG,
    ClosureStateMeasure,
    decay_rate,
    plan_decay_chunks,
    run_walk_batch_distributed,
)


def attach_closure_components(edges: DataFrame, partitions: int | None = None) -> DataFrame:
    """Add a ``closure`` column = weakly-connected-component id of the
    time-collapsed graph (computed with the engine's own CC operator).

    Temporal walks never leave a WCC, so this is an exact node-disjoint
    closure key for the distributed-state runner.  Compute it ONCE over
    the full edge table and reuse across the whole replay.

    ``partitions`` repartitions the result by ``closure`` (the replay's
    cogroup key) so the downstream state exchange starts co-located.
    """
    from .components import connected_components

    cc = connected_components(edges.select("src", "dst"))
    out = edges.join(
        cc.withColumnRenamed("node_id", "src").withColumnRenamed(
            "component", "closure"
        ),
        "src",
    )
    if partitions is not None:
        out = out.repartition(partitions, "closure")
    return out


class DistributedTemporalKatz(ClosureStateMeasure):
    """Param-vectorized temporal Katz with fully distributed state.

    Driver-protocol surface mirrors :class:`TemporalKatz` (``measure``,
    ``param_ids``, ``run_batch``) but ``distributed = True`` tells
    :class:`SuperstepDriver` that ``run_batch`` — the one way this
    measure advances — returns a tidy read-out *DataFrame* covering the
    whole chunk, to be written with a partitioned distributed write
    instead of driver-side pandas.
    """

    measure = "tk"
    state_frame_names = ("walk_state", "meta")
    _layers = 1
    _diverged_msg = OVERFLOW_MSG

    def __init__(
        self,
        params: list[tuple[float, Weighter]],
        closure_col: str = "closure",
        tol: float = 1e-12,
        block_size: int = 8192,
    ):
        for beta, _ in params:
            if not (0 <= beta <= 1):
                raise ValueError("beta must be in [0,1]")
        self.params = params
        self.betas = np.array([b for b, _ in params], dtype=np.float64)
        self.weighters = [w for _, w in params]
        self.p = len(params)
        self._lambda_max = max(decay_rate(w) for w in self.weighters)
        self.closure_col = closure_col
        self.tol = tol
        self.block_size = block_size
        self.walk_metrics: list[dict] = []
        self.reset()

    def reset(self) -> None:
        self.state: DataFrame | None = None  # (node, closure, vals)
        self.basis: float | None = None

    @property
    def param_ids(self) -> list[str]:
        return ["tk_b%0.2f_%s" % (b, w) for b, w in self.params]

    def run_batch(
        self,
        df: DataFrame,
        intervals: list[tuple[int, float, float]],
        readouts: bool = True,
    ) -> DataFrame | None:
        """Advance over B consecutive windows with ONE Spark job; return
        the tidy read-out DataFrame ``(interval_id, param_id, node_id,
        score)`` for all B boundaries (or None with ``readouts=False``).
        """
        chunks = plan_decay_chunks(intervals, self._lambda_max)
        chunk_plan = [(float(c[-1][1]), c) for c in chunks]
        out, _ = run_walk_batch_distributed(
            df,
            self.betas,
            self.weighters,
            chunk_plan,
            closure_col=self.closure_col,
            state_in=self.state,
            state_basis=self.basis,
            tol=self.tol,
            block_size=self.block_size,
            layers=self._layers,
        )
        extra = dict(chunk_end=float(chunk_plan[-1][0]), chunks=len(chunk_plan))
        ro = self._advance(out, readouts, extra=extra)
        self.basis = float(chunk_plan[-1][0])
        return ro

    # -- checkpoint protocol (frames, driver-persisted as parquet) -------
    def state_frames(self) -> dict[str, DataFrame | None]:
        spark = None
        if self.state is not None:
            spark = self.state.sparkSession
        meta = None
        if spark is not None:
            meta = spark.createDataFrame(
                [(float(self.basis) if self.basis is not None else float("nan"),)],
                "basis double",
            )
        return {"walk_state": self.state, "meta": meta}

    def load_state_frames(
        self, walk_state: DataFrame | None, meta: DataFrame | None
    ) -> None:
        self.state = walk_state
        self.basis = None
        if meta is not None:
            b = meta.collect()[0]["basis"]
            self.basis = None if b is None or np.isnan(b) else float(b)


class DistributedTruncatedTemporalKatz(DistributedTemporalKatz):
    """k-layer truncated variant with distributed state (layer ``l``
    reads layer ``l-1``, ``temporal_katz_computer.py:104-117``); state
    rows carry ``k * p`` values layer-major."""

    measure = "ttk"

    def __init__(self, params, k: int = 5, **kw):
        self.k = k
        super().__init__(params, **kw)

    @property
    def _layers(self) -> int:
        return self.k

    @property
    def param_ids(self) -> list[str]:
        return [
            "ttk_b%0.2f_%s_length_limit_%i" % (b, w, layer + 1)
            for layer in range(self.k)
            for b, w in self.params
        ]
