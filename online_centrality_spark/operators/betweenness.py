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

Scale shape: all pivots advance through the SAME level-synchronous
loop — each forward level is ONE join of the (source, node, sigma)
frontier against the adjacency plus one anti-join against the visited
set; each backward level is one join of level d against level d+1.
State is (pivot x reached-node), i.e. k rows per node, NOT n^2;
lineage cut per level with localCheckpoint like every other fixpoint
loop in the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .components import _nodes


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
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    adj = e.dropDuplicates(["src", "dst"])
    if not directed:
        adj = adj.unionAll(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).dropDuplicates(["src", "dst"])
    adj = adj.persist()
    nodes = _nodes(e).persist()
    if pivots is None:
        pivots = nodes.orderBy("node_id").limit(k)
    level = pivots.select(
        F.col("node_id").alias("s"),
        F.col("node_id").alias("v"),
        F.lit(1.0).alias("sigma"),
    ).localCheckpoint(eager=True)
    visited = level.select("s", "v").localCheckpoint(eager=True)
    levels = [level]
    for _ in range(max_depth):
        nxt = (
            level.join(adj, level["v"] == adj["src"])
            .groupBy("s", F.col("dst").alias("v"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(visited, ["s", "v"], "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionAll(nxt.select("s", "v")).localCheckpoint(
            eager=True
        )
        levels.append(nxt)
        level = nxt
    else:
        raise RuntimeError(
            f"betweenness BFS did not saturate in {max_depth} levels"
        )
    # backward dependency sweep: delta at the deepest level is 0
    deltas = levels[-1].select(
        "s", "v", "sigma", F.lit(0.0).alias("delta")
    ).localCheckpoint(eager=True)
    acc = [deltas]
    for d in range(len(levels) - 2, -1, -1):
        succ = deltas.select(
            F.col("s").alias("w_s"),
            F.col("v").alias("w"),
            F.col("sigma").alias("w_sigma"),
            F.col("delta").alias("w_delta"),
        )
        cur = levels[d]
        contrib = (
            cur.join(adj, cur["v"] == adj["src"])
            .join(
                succ,
                (F.col("dst") == F.col("w")) & (cur["s"] == F.col("w_s")),
            )
            .select(
                cur["s"].alias("s"),
                cur["v"].alias("v"),
                (
                    F.col("sigma") / F.col("w_sigma") * (1.0 + F.col("w_delta"))
                ).alias("part"),
            )
            .groupBy("s", "v")
            .agg(F.sum("part").alias("delta"))
        )
        deltas = (
            cur.join(contrib, ["s", "v"], "left")
            .select(
                "s", "v", "sigma",
                F.coalesce("delta", F.lit(0.0)).alias("delta"),
            )
            .localCheckpoint(eager=True)
        )
        acc.append(deltas)
    all_deltas = acc[0]
    for part in acc[1:]:
        all_deltas = all_deltas.unionAll(part)
    half = 2.0 if not directed else 1.0
    bc = (
        all_deltas.filter(F.col("v") != F.col("s"))
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

    Scale shape: identical to the node variant — the SAME
    level-synchronous forward BFS (state k rows per node, not n²) and
    backward sweep; the per-DAG-edge dependency
    ``sigma_v / sigma_w * (1 + delta_w)`` is exactly the join row the
    node sweep aggregates, captured here per (v, w) before the
    node-level groupBy. Per-level lineage cuts via localCheckpoint.
    """
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    adj = e.dropDuplicates(["src", "dst"])
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
    if not directed:
        adj = adj.unionAll(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).dropDuplicates(["src", "dst"])
    adj = adj.persist()
    nodes = _nodes(e).persist()
    if pivots is None:
        pivots = nodes.orderBy("node_id").limit(k)
    level = pivots.select(
        F.col("node_id").alias("s"),
        F.col("node_id").alias("v"),
        F.lit(1.0).alias("sigma"),
    ).localCheckpoint(eager=True)
    visited = level.select("s", "v").localCheckpoint(eager=True)
    levels = [level]
    for _ in range(max_depth):
        nxt = (
            level.join(adj, level["v"] == adj["src"])
            .groupBy("s", F.col("dst").alias("v"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(visited, ["s", "v"], "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionAll(nxt.select("s", "v")).localCheckpoint(
            eager=True
        )
        levels.append(nxt)
        level = nxt
    else:
        raise RuntimeError(
            f"edge betweenness BFS did not saturate in {max_depth} levels"
        )
    deltas = levels[-1].select(
        "s", "v", "sigma", F.lit(0.0).alias("delta")
    ).localCheckpoint(eager=True)
    edge_parts = []
    for d in range(len(levels) - 2, -1, -1):
        succ = deltas.select(
            F.col("s").alias("w_s"),
            F.col("v").alias("w"),
            F.col("sigma").alias("w_sigma"),
            F.col("delta").alias("w_delta"),
        )
        cur = levels[d]
        per_edge = (
            cur.join(adj, cur["v"] == adj["src"])
            .join(
                succ,
                (F.col("dst") == F.col("w")) & (cur["s"] == F.col("w_s")),
            )
            .select(
                cur["s"].alias("s"),
                cur["v"].alias("v"),
                F.col("w").alias("w"),
                (
                    F.col("sigma") / F.col("w_sigma") * (1.0 + F.col("w_delta"))
                ).alias("part"),
            )
            .localCheckpoint(eager=True)
        )
        edge_parts.append(per_edge)
        deltas = (
            cur.join(
                per_edge.groupBy("s", "v").agg(F.sum("part").alias("delta")),
                ["s", "v"],
                "left",
            )
            .select(
                "s", "v", "sigma",
                F.coalesce("delta", F.lit(0.0)).alias("delta"),
            )
            .localCheckpoint(eager=True)
        )
    half = 2.0 if not directed else 1.0
    if edge_parts:
        all_parts = edge_parts[0]
        for p in edge_parts[1:]:
            all_parts = all_parts.unionAll(p)
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
        out = und.join(ebc, ["src", "dst"], "left")
    else:
        out = und.select("src", "dst", F.lit(None).cast("double").alias("ebc"))
    return out.select(
        "src", "dst", F.coalesce("ebc", F.lit(0.0)).alias("ebc")
    )
