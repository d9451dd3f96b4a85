"""Betweenness centrality via pivot-based Brandes dependency accumulation.

North-rule link-graph extension. Brandes (2001) decomposes betweenness
into per-source "dependencies": run a BFS from each source s recording
shortest-path counts sigma(s, v) per level, then sweep the BFS DAG
backwards accumulating delta(s, v) = sum over successors w of
sigma(s,v)/sigma(s,w) * (1 + delta(s,w)); betweenness(v) is the sum of
deltas over sources. Exact all-sources Brandes is O(V*E) — at 10^12
edges nobody runs that, so the operator takes a PIVOT SET: it computes
the exact dependency sum restricted to the pivots (deterministic:
the k smallest node ids by default), which is the standard unbiased
estimator after rescaling by n/k (Brandes & Pich 2007). The driver
query keeps the raw pivot-restricted value so the oracle is exact.

Scale shape: all pivots advance through ONE forward frontier sweep
(:func:`.frontier.frontier_sweep`; each level is one join of the
(source, node, sigma) frontier against the adjacency plus one
anti-join against the visited set) and ONE backward dependency sweep,
one join of level d against level d+1 per level, shared by the node
and edge variants. State is (pivot x reached-node), i.e. k rows per
node, NOT n^2; lineage is cut lazily per level.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bfs import _sym_adjacency
from .frontier import frontier_sweep


def _brandes(edges, pivots, k, directed, max_depth, what):
    """Shared Brandes sweeps: ``(nodes, deltas, parts)``. ``deltas``
    holds one ``(s, v, sigma, delta)`` frame per BFS level, ``parts``
    one ``(s, v, w, part)`` frame per DAG level — the per-edge
    dependency ``sigma_v / sigma_w * (1 + delta_w)`` that the node
    dependency ``delta_v`` sums."""
    adj, nodes = _sym_adjacency(edges, directed)
    if pivots is None:
        pivots = nodes.orderBy("node_id").limit(k)

    def expand(level):
        return (
            level.join(adj, level["v"] == adj["src"])
            .groupBy("s", F.col("dst").alias("v"))
            .agg(F.sum("sigma").alias("sigma"))
        )

    seeds = pivots.select(
        F.col("node_id").alias("s"),
        F.col("node_id").alias("v"),
        F.lit(1.0).alias("sigma"),
    )
    levels, _ = frontier_sweep(seeds, expand, ["s", "v"], max_depth, what)
    # backward dependency sweep: delta at the deepest level is 0
    deltas = [levels[-1].withColumn("delta", F.lit(0.0))]
    parts = []
    for cur in reversed(levels[:-1]):
        succ = deltas[-1].select(
            F.col("s").alias("w_s"),
            F.col("v").alias("w"),
            F.col("sigma").alias("w_sigma"),
            F.col("delta").alias("w_delta"),
        )
        part = (
            cur.join(adj, cur["v"] == adj["src"])
            .join(
                succ,
                (F.col("dst") == F.col("w")) & (cur["s"] == F.col("w_s")),
            )
            .select(
                cur["s"].alias("s"),
                cur["v"].alias("v"),
                F.col("w"),
                (
                    F.col("sigma") / F.col("w_sigma") * (1.0 + F.col("w_delta"))
                ).alias("part"),
            )
            .localCheckpoint(eager=False)
        )
        parts.append(part)
        deltas.append(
            cur.join(
                part.groupBy("s", "v").agg(F.sum("part").alias("delta")),
                ["s", "v"],
                "left",
            )
            .select(
                "s", "v", "sigma",
                F.coalesce("delta", F.lit(0.0)).alias("delta"),
            )
            .localCheckpoint(eager=False)
        )
    return nodes, deltas, parts


def betweenness_from_pivots(
    edges: DataFrame,
    pivots: DataFrame | None = None,
    k: int = 8,
    directed: bool = False,
    max_depth: int = 10_000,
) -> DataFrame:
    """(node_id, bc) — pivot-restricted Brandes betweenness.

    ``pivots`` is a (node_id) frame; default = the ``k`` smallest node
    ids (deterministic). Undirected graphs halve the sum (each shortest
    path is seen from both ends of the dependency sweep). Multiply by
    n/k for the sampled-source estimate of full betweenness.
    """
    nodes, deltas, _ = _brandes(
        edges, pivots, k, directed, max_depth, "betweenness_from_pivots"
    )
    half = 2.0 if not directed else 1.0
    bc = (
        reduce(DataFrame.unionByName, deltas)
        .filter(F.col("v") != F.col("s"))
        .groupBy(F.col("v").alias("node_id"))
        .agg((F.sum("delta") / F.lit(half)).alias("bc"))
    )
    return nodes.join(bc, "node_id", "left").select(
        "node_id", F.coalesce("bc", F.lit(0.0)).alias("bc")
    )


def edge_betweenness_from_pivots(
    edges: DataFrame,
    pivots: DataFrame | None = None,
    k: int = 8,
    directed: bool = False,
    max_depth: int = 10_000,
) -> DataFrame:
    """``(src, dst, ebc)`` — pivot-restricted Brandes EDGE betweenness:
    for every edge, the (weighted) number of pivot-sourced shortest
    paths crossing it — the Girvan–Newman cut signal (the edges that
    carry inter-community traffic score highest; iteratively removing
    them is the classic community split). Same estimator contract as
    :func:`betweenness_from_pivots`: exact on the pivot set
    (deterministic k smallest ids), multiply by n/k for the full-graph
    estimate; undirected sums halve (each path is swept from both
    endpoints). Edges never on a pivot shortest path emit 0.0.

    Scale shape: the node variant's forward and backward sweeps
    (state k rows per node, not n²); the per-DAG-edge dependency
    ``sigma_v / sigma_w * (1 + delta_w)`` is the row the node sweep
    aggregates, summed here per edge instead of per node.
    """
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    if directed:
        # keep edge direction in the output key — folding to
        # least/greatest would merge opposite directed edges
        und = e.dropDuplicates(["src", "dst"])
    else:
        und = (
            e.select(
                F.least("src", "dst").alias("src"),
                F.greatest("src", "dst").alias("dst"),
            ).dropDuplicates(["src", "dst"])
        )
    _, _, parts = _brandes(
        edges, pivots, k, directed, max_depth, "edge_betweenness_from_pivots"
    )
    if not parts:
        return und.select("src", "dst", F.lit(0.0).alias("ebc"))
    half = 2.0 if not directed else 1.0
    all_parts = reduce(DataFrame.unionByName, parts)
    if directed:
        # the DAG edge (v, w) IS the directed edge
        keyed = all_parts.select(
            F.col("v").alias("src"), F.col("w").alias("dst"), "part"
        )
    else:
        keyed = all_parts.select(
            F.least("v", "w").alias("src"),
            F.greatest("v", "w").alias("dst"),
            "part",
        )
    ebc = keyed.groupBy("src", "dst").agg(
        (F.sum("part") / F.lit(half)).alias("ebc")
    )
    return und.join(ebc, ["src", "dst"], "left").select(
        "src", "dst", F.coalesce("ebc", F.lit(0.0)).alias("ebc")
    )
