"""Eigenvector centrality by fixed-depth power iteration.

Companion static measure to PageRank / HITS (standard link-graph
toolkit; no reference counterpart — the reference's static baselines
stop at indegree/PageRank/Katz, `centrality_utils/` in
ferencberes/online-centrality).

Semantics (deterministic, oracle-checkable): over the symmetrized
DISTINCT pair graph, with ``v0 = 1`` on every node, repeat ``max_iter``
times ``v <- A v`` and L1-normalize once at the end.  The update is
linear, so per-step normalization (what the engine does for float
headroom) and end-only normalization (what the unrolled SQL oracle
does) yield the same vector exactly — the same commuting-scalar
argument as :mod:`.hits`.

Scale design mirrors :func:`..operators.hits.hits`: a single-task numpy
kernel below ``collect_threshold`` nodes, else one shuffle join + one
map-side-combined groupBy per iteration with ``localCheckpoint``
lineage cuts, optional deterministic hub salting on the score-lookup
join (functions/skew.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

_EV_SCHEMA = StructType(
    [
        StructField("node_id", LongType()),
        StructField("score", DoubleType()),
    ]
)


def eigenvector_numpy(
    src: np.ndarray, dst: np.ndarray, max_iter: int
) -> tuple[np.ndarray, np.ndarray]:
    """Single-node kernel: symmetrize, dedup, power-iterate, L1 norm."""
    pairs = np.unique(
        np.concatenate(
            [np.stack([src, dst], axis=1), np.stack([dst, src], axis=1)]
        ),
        axis=0,
    )
    pairs = pairs[pairs[:, 0] != pairs[:, 1]]
    s, d = pairs[:, 0], pairs[:, 1]
    nodes, inv = np.unique(np.concatenate([s, d]), return_inverse=True)
    si, di = inv[: len(s)], inv[len(s):]
    n = len(nodes)
    v = np.ones(n)
    for _ in range(max_iter):
        v = np.bincount(di, weights=v[si], minlength=n)
        tot = v.sum()
        if tot > 0:
            v /= tot
    return nodes, v


def eigenvector_centrality(
    edges: DataFrame,
    max_iter: int = 12,
    collect_threshold: int = 100_000,
    salt: int = 1,
) -> DataFrame:
    """(node_id, score), L1-normalized; exactly ``max_iter`` iterations
    (fixed depth — the mode the unrolled SQL oracle replays)."""
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    sym = (
        e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .dropDuplicates(["src", "dst"])
    )
    n_nodes = sym.select(F.col("src").alias("n")).distinct().count()
    if n_nodes == 0:
        return edges.sparkSession.createDataFrame([], _EV_SCHEMA)
    if n_nodes <= collect_threshold:
        return _ev_compact(sym, max_iter)
    return _ev_distributed(sym, max_iter, salt)


def _ev_compact(sym: DataFrame, max_iter: int) -> DataFrame:
    def kernel(batches):
        chunks = [pdf for pdf in batches if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        nodes, v = eigenvector_numpy(
            pdf["src"].to_numpy(np.int64),
            pdf["dst"].to_numpy(np.int64),
            max_iter,
        )
        yield pd.DataFrame({"node_id": nodes.astype(np.int64), "score": v})

    return sym.coalesce(1).mapInPandas(kernel, schema=_EV_SCHEMA)


def _ev_distributed(sym: DataFrame, max_iter: int, salt: int = 1) -> DataFrame:
    from ..functions.skew import salted_join

    sym = sym.persist()
    # symmetric graph: the src projection already covers every node
    nodes = sym.select(F.col("src").alias("node_id")).distinct().persist()
    v = nodes.withColumn("score", F.lit(1.0))
    for _ in range(max_iter):
        joined = salted_join(
            sym, v.select("node_id", "score"), key="src", salt=salt,
            dim_key="node_id",
        )
        raw = joined.groupBy(F.col("dst").alias("node_id")).agg(
            F.sum("score").alias("score")
        )
        tot = raw.agg(F.sum("score")).collect()[0][0] or 0.0
        if tot > 0:
            raw = raw.withColumn("score", F.col("score") / F.lit(float(tot)))
        v = (
            nodes.join(raw, "node_id", "left")
            .fillna(0.0, ["score"])
            .localCheckpoint(eager=True)
        )
    return v
