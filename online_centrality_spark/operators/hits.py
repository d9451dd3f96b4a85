"""HITS hub/authority scores on the induced link digraph.

Companion static measure to PageRank (reference analogue: the static
baselines of `centrality_utils/base_computer.py`-style batch scores;
HITS itself has no reference counterpart — it is part of the standard
link-graph toolkit this engine ships alongside PageRank / CC / LPA /
triangles).

Semantics (deterministic, oracle-checkable): over the DISTINCT
``(src, dst)`` pair graph, with ``h0 = 1`` on every node, repeat
``max_iter`` times::

    a <- L1-normalize(A^T h)      (authority: sum of in-neighbor hubs)
    h <- L1-normalize(A a)        (hub: sum of out-neighbor authorities)

Per-step L1 normalization and end-only normalization yield the same
vectors exactly (the update is bilinear, scalars commute), which is what
makes an unrolled-CTE SQL oracle possible; the engine normalizes every
half-step for float headroom.

Scale design mirrors ``static_pagerank``: a compact single-task numpy
kernel under ``collect_threshold`` nodes, else iterative DataFrame
joins with ``localCheckpoint`` lineage cuts per iteration, optional
deterministic hub salting (functions/skew.py) on the score-lookup
joins, and map-side partial aggregation on every groupBy.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

_HITS_SCHEMA = StructType(
    [
        StructField("node_id", LongType()),
        StructField("hub", DoubleType()),
        StructField("authority", DoubleType()),
    ]
)


def hits_numpy(
    src: np.ndarray, dst: np.ndarray, max_iter: int, tol: float
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Single-node HITS kernel over distinct (src, dst) pairs."""
    pairs = np.unique(np.stack([src, dst], axis=1), axis=0)
    s, d = pairs[:, 0], pairs[:, 1]
    nodes, inv = np.unique(np.concatenate([s, d]), return_inverse=True)
    si, di = inv[: len(s)], inv[len(s):]
    n = len(nodes)
    h = np.ones(n) / n
    a = np.zeros(n)
    for _ in range(max_iter):
        a_new = np.bincount(di, weights=h[si], minlength=n)
        tot = a_new.sum()
        if tot > 0:
            a_new /= tot
        h_new = np.bincount(si, weights=a_new[di], minlength=n)
        tot = h_new.sum()
        if tot > 0:
            h_new /= tot
        delta = np.abs(h_new - h).sum() + np.abs(a_new - a).sum()
        h, a = h_new, a_new
        if tol > 0 and delta < tol:
            break
    return nodes, h, a


def hits(
    edges: DataFrame,
    max_iter: int = 50,
    tol: float = 1e-9,
    collect_threshold: int = 100_000,
    salt: int = 1,
) -> DataFrame:
    """(node_id, hub, authority), both vectors L1-normalized.

    ``tol <= 0`` runs exactly ``max_iter`` iterations (no convergence
    collect per round) — the mode the fixed-depth SQL oracle pins.
    """
    dedup = edges.select("src", "dst").dropDuplicates(["src", "dst"])
    n_nodes = (
        dedup.select(F.col("src").alias("n"))
        .unionAll(dedup.select(F.col("dst").alias("n")))
        .distinct()
        .count()
    )
    if n_nodes == 0:
        return edges.sparkSession.createDataFrame([], _HITS_SCHEMA)
    if n_nodes <= collect_threshold:
        return _hits_compact(dedup, max_iter, tol)
    return _hits_distributed(dedup, max_iter, tol, salt)


def _hits_compact(dedup: DataFrame, max_iter: int, tol: float) -> DataFrame:
    def kernel(batches):
        chunks = [pdf for pdf in batches if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        nodes, h, a = hits_numpy(
            pdf["src"].to_numpy(np.int64),
            pdf["dst"].to_numpy(np.int64),
            max_iter,
            tol,
        )
        yield pd.DataFrame(
            {"node_id": nodes.astype(np.int64), "hub": h, "authority": a}
        )

    return dedup.coalesce(1).mapInPandas(kernel, schema=_HITS_SCHEMA)


def _hits_distributed(
    dedup: DataFrame, max_iter: int, tol: float, salt: int = 1
) -> DataFrame:
    from ..functions.skew import salted_join

    dedup = dedup.persist()
    nodes = (
        dedup.select(F.col("src").alias("node_id"))
        .unionAll(dedup.select(F.col("dst").alias("node_id")))
        .distinct()
        .persist()
    )

    def _lookup(scores: DataFrame, key: str, col: str) -> DataFrame:
        """dedup ⋈ scores on ``key`` — hub rows fan out, so a salt above 1
        spreads each hot key over ``salt`` reducers deterministically."""
        return salted_join(
            dedup, scores.select("node_id", col), key=key, salt=salt,
            dim_key="node_id",
        )

    def _normalize(raw: DataFrame, col: str) -> DataFrame:
        tot = raw.agg(F.sum(col)).collect()[0][0] or 0.0
        if tot <= 0:
            return raw
        return raw.withColumn(col, F.col(col) / F.lit(float(tot)))

    h = nodes.withColumn("hub", F.lit(1.0))
    a = nodes.withColumn("authority", F.lit(0.0))
    for _ in range(max_iter):
        a_raw = (
            _lookup(h, "src", "hub")
            .groupBy(F.col("dst").alias("node_id"))
            .agg(F.sum("hub").alias("authority"))
        )
        a_new = (
            nodes.join(_normalize(a_raw, "authority"), "node_id", "left")
            .fillna(0.0, ["authority"])
            .localCheckpoint(eager=True)
        )
        h_raw = (
            _lookup(a_new, "dst", "authority")
            .groupBy(F.col("src").alias("node_id"))
            .agg(F.sum("authority").alias("hub"))
        )
        h_new = (
            nodes.join(_normalize(h_raw, "hub"), "node_id", "left")
            .fillna(0.0, ["hub"])
            .localCheckpoint(eager=True)
        )
        if tol > 0:
            delta = (
                h_new.join(h.select("node_id", F.col("hub").alias("old")), "node_id")
                .agg(F.sum(F.abs(F.col("hub") - F.col("old"))))
                .collect()[0][0]
            )
            da = (
                a_new.join(
                    a.select("node_id", F.col("authority").alias("old")), "node_id"
                )
                .agg(F.sum(F.abs(F.col("authority") - F.col("old"))))
                .collect()[0][0]
            )
            h, a = h_new, a_new
            if (delta or 0.0) + (da or 0.0) < tol:
                break
        else:
            h, a = h_new, a_new
    return h.join(a, "node_id").select("node_id", "hub", "authority")
