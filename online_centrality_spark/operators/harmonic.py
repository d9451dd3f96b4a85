"""Harmonic centrality: h(v) = sum over u != v of 1/d(u, v) (incoming paths).

networkx-parity (the reference calls ``nx.harmonic_centrality(G)``,
``static_harmonic_centrality_computer.py:36``; the per-graph-type variant
``harmonic_centrality_computer.py:19-38`` also supports the raw snapshot
graph). Epsilon is added by the caller-facing wrappers to mirror the
reference's "+0.001 so zero-score nodes appear" rule.

Physical strategies:

- **distributed**: the all-sources BFS of ``bfs.py`` over reversed
  edges, seeded with every node (:func:`.frontier.frontier_sweep`);
  each (target, node) pair first reached at depth d contributes 1/d.
  The weighted variant is the same sweep with a distance column
  (min-plus relaxation: only improved pairs re-enter the frontier).
  State is O(V^2) worst case, which matches the problem (all-pairs
  reachability) — the reference only ever runs this on small
  sliding-window graphs (``CentralityScoreComputer.py:128-133``).
- **compact** (below ``collect_threshold`` nodes): one Arrow task, numpy
  BFS per target.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .bfs import _depth_counts
from .frontier import frontier_sweep

_HC_SCHEMA = T.StructType(
    [
        T.StructField("node_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def harmonic_numpy(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    nodes = np.unique(np.concatenate([src, dst]))
    n = len(nodes)
    idx = {v: i for i, v in enumerate(nodes)}
    pred: list[list[int]] = [[] for _ in range(n)]
    for s, d in zip(src, dst):
        pred[idx[d]].append(idx[s])
    out = np.zeros(n)
    for v in range(n):
        seen = np.zeros(n, dtype=bool)
        seen[v] = True
        frontier = [v]
        depth = 0
        h = 0.0
        while frontier:
            depth += 1
            nxt = []
            for node in frontier:
                for p in pred[node]:
                    if not seen[p]:
                        seen[p] = True
                        h += 1.0 / depth
                        nxt.append(p)
            frontier = nxt
        out[v] = h
    return nodes, out


def harmonic_weighted_numpy(
    src: np.ndarray, dst: np.ndarray, w: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Weighted-distance harmonic centrality (nx ``distance=`` parity):
    Dijkstra over incoming edges per target."""
    import heapq

    nodes = np.unique(np.concatenate([src, dst]))
    n = len(nodes)
    idx = {v: i for i, v in enumerate(nodes)}
    pred: list[list[tuple[int, float]]] = [[] for _ in range(n)]
    for s, d, wt in zip(src, dst, w):
        pred[idx[d]].append((idx[s], float(wt)))
    out = np.zeros(n)
    for v in range(n):
        dist = {v: 0.0}
        heap = [(0.0, v)]
        h = 0.0
        while heap:
            du, u = heapq.heappop(heap)
            if du > dist.get(u, np.inf):
                continue
            if u != v:
                h += 1.0 / du
            for p, wt in pred[u]:
                nd = du + wt
                if nd < dist.get(p, np.inf):
                    dist[p] = nd
                    heapq.heappush(heap, (nd, p))
        out[v] = h
    return nodes, out


def harmonic_centrality(
    edges: DataFrame,
    collect_threshold: int = 20_000,
    max_hops: int = 10_000,
    weight_col: str | None = None,
) -> DataFrame:
    """(node_id, score) harmonic centrality on the dedup digraph.

    ``weight_col`` selects the reference's weighted variant
    (``harmonic_centrality_computer.py:19-38``, nx ``distance=`` attr):
    d(u, v) becomes the min-weight path length. Parallel (src, dst)
    edges dedup to the MINIMUM weight (deterministic; shortest paths
    only ever use the cheapest parallel edge).

    ``max_hops`` caps the rounds of the distributed sweep (the compact
    path is exact and ignores it); it is a round cap, not a semantic
    truncation — a sweep that hits it raises ``RuntimeError``.
    """
    if weight_col is not None:
        dedup = (
            edges.select("src", "dst", F.col(weight_col).cast("double").alias("w"))
            .groupBy("src", "dst")
            .agg(F.min("w").alias("w"))
        )
    else:
        dedup = edges.select("src", "dst").dropDuplicates(["src", "dst"])
    n_nodes = (
        dedup.select(F.col("src").alias("n"))
        .unionAll(dedup.select(F.col("dst").alias("n")))
        .distinct()
        .count()
    )
    if n_nodes == 0:
        return edges.sparkSession.createDataFrame([], _HC_SCHEMA)
    if n_nodes <= collect_threshold:
        def kernel(batches):
            chunks = [pdf for pdf in batches if len(pdf)]
            if not chunks:
                return
            pdf = pd.concat(chunks, ignore_index=True)
            if weight_col is not None:
                nodes, scores = harmonic_weighted_numpy(
                    pdf["src"].to_numpy(np.int64),
                    pdf["dst"].to_numpy(np.int64),
                    pdf["w"].to_numpy(np.float64),
                )
            else:
                nodes, scores = harmonic_numpy(
                    pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64)
                )
            yield pd.DataFrame({"node_id": nodes.astype(np.int64), "score": scores})

        return dedup.coalesce(1).mapInPandas(kernel, schema=_HC_SCHEMA)
    dedup = dedup.persist()
    nodes = (
        dedup.select(F.col("src").alias("node_id"))
        .unionAll(dedup.select(F.col("dst").alias("node_id")))
        .distinct()
        .persist()
    )
    if weight_col is None:
        rev = dedup.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        counts = _depth_counts(rev, nodes, max_hops, "harmonic_centrality")
        gain = counts.filter(F.col("depth") > 0).select(
            "target", (F.col("cnt") / F.col("depth")).alias("gain")
        )
    else:
        gain = _weighted_gains(dedup, nodes, max_hops)
    score = gain.groupBy(F.col("target").alias("node_id")).agg(
        F.sum("gain").alias("s")
    )
    return nodes.join(score, "node_id", "left").select(
        "node_id", F.coalesce(F.col("s"), F.lit(0.0)).alias("score")
    )


def _weighted_gains(dedup: DataFrame, nodes: DataFrame, max_hops: int):
    """``(target, gain = 1/dist)`` for every pair at finite weighted
    distance: min-plus frontier sweep (distributed Bellman-Ford over all
    targets at once) on reversed weighted edges; only IMPROVED pairs
    re-enter the frontier, so rounds are bounded by the max hop count
    of any shortest path and work shrinks as distances settle."""

    def expand(frontier):
        return (
            frontier.join(dedup, frontier["node"] == dedup["dst"])
            .select(
                "target",
                F.col("src").alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
            .groupBy("target", "node")
            .agg(F.min("dist").alias("dist"))
        )

    seeds = nodes.select(
        F.col("node_id").alias("target"),
        F.col("node_id").alias("node"),
        F.lit(0.0).alias("dist"),
    )
    _, dist = frontier_sweep(
        seeds, expand, ["target", "node"], max_hops,
        "harmonic_centrality", value="dist",
    )
    return dist.filter(F.col("node") != F.col("target")).select(
        "target", (1.0 / F.col("dist")).alias("gain")
    )
