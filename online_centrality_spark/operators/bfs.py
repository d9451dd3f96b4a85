"""Single-source BFS hop distances and the all-sources hop metrics.

North-rule addition (standard link-graph toolkit). Every operator here
is a level-synchronous BFS on :func:`.frontier.frontier_sweep` (one
join + one anti-join and one driver action per level, lineage cut
lazily per round); the callers only tag or aggregate the per-depth
frontiers. Unreached nodes are emitted with ``dist = NULL`` so the
``bfs_distances`` output covers the full node set.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .frontier import frontier_sweep


def bfs_distances(
    edges: DataFrame,
    source: int,
    directed: bool = False,
    max_rounds: int = 10_000,
) -> DataFrame:
    """(node_id, dist) — hop count from ``source`` (NULL if unreachable)."""
    adj, nodes = _sym_adjacency(edges, directed)

    def expand(frontier):
        return (
            adj.join(frontier.withColumnRenamed("node_id", "src"), "src", "left_semi")
            .select(F.col("dst").alias("node_id"))
            .distinct()
        )

    levels, _ = frontier_sweep(
        nodes.filter(F.col("node_id") == source),
        expand, ["node_id"], max_rounds, "bfs_distances",
    )
    dist = reduce(
        DataFrame.unionByName,
        (
            f.select("node_id", F.lit(d).cast("long").alias("dist"))
            for d, f in enumerate(levels)
        ),
    )
    return nodes.join(dist, "node_id", "left").select("node_id", "dist")


def _sym_adjacency(edges: DataFrame, directed: bool):
    """(adj, nodes) for the BFS sweeps — deduplicated adjacency
    (symmetrized unless directed) and the distinct node set, both
    persisted (each feeds every BFS round)."""
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    adj = e.dropDuplicates(["src", "dst"])
    if not directed:
        adj = adj.unionAll(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).dropDuplicates(["src", "dst"])
    nodes = (
        e.select(F.col("src").alias("node_id"))
        .unionAll(e.select(F.col("dst").alias("node_id")))
        .distinct()
        .persist()
    )
    return adj.persist(), nodes


def _resolve_targets(nodes: DataFrame, targets) -> DataFrame:
    """Resolve the BFS source set: ``None`` -> every node (exact
    all-sources), ``int k`` -> the k smallest node ids (the same
    deterministic pivot rule as ``betweenness_from_pivots`` — a
    distributed top-k, no global sort task), DataFrame -> its
    ``node_id`` column intersected with the graph's nodes."""
    if targets is None:
        return nodes
    if isinstance(targets, int):
        if targets <= 0:
            raise ValueError(f"targets must be positive, got {targets}")
        return nodes.orderBy("node_id").limit(targets)
    return (
        targets.select("node_id")
        .distinct()
        .join(nodes, "node_id", "left_semi")
    )


def _depth_counts(adj, seeds, max_rounds: int, what: str):
    """All-sources BFS: ``(target, depth, cnt)`` — how many nodes each
    target in ``seeds`` first reaches at hop distance ``depth`` along
    ``adj`` (depth 0 is the target itself, cnt 1). The sweep state is
    the (target, node) visited relation: quadratic with seeds = all
    nodes (the price of exact all-pairs hop metrics), k rows per node
    with a k-node target sample (the ``betweenness_from_pivots``
    envelope, the 10^12-edge escape hatch). The per-depth frontiers
    fold in ONE union + groupBy after the sweep, not a join per round.
    """

    def expand(frontier):
        return (
            frontier.join(adj, frontier["node"] == adj["src"])
            .select("target", F.col("dst").alias("node"))
            .distinct()
        )

    pairs = seeds.select(
        F.col("node_id").alias("target"), F.col("node_id").alias("node")
    )
    levels, _ = frontier_sweep(
        pairs, expand, ["target", "node"], max_rounds, what
    )
    return (
        reduce(
            DataFrame.unionByName,
            (
                f.select("target", F.lit(d).cast("long").alias("depth"))
                for d, f in enumerate(levels)
            ),
        )
        .groupBy("target", "depth")
        .agg(F.count("*").alias("cnt"))
    )


def eccentricity(
    edges: DataFrame,
    directed: bool = False,
    max_rounds: int = 10_000,
    targets: DataFrame | int | None = None,
) -> DataFrame:
    """(node_id, ecc) — max hop distance from each node to any node it
    can reach (its connected component in the undirected default).

    All-sources BFS (:func:`_depth_counts`): a target's eccentricity is
    the deepest level at which it still gained nodes. ``targets`` (int
    k = the k smallest node ids, or a node_id frame — the
    ``betweenness_from_pivots`` pivot rule) is the 10^12-edge escape
    hatch: EXACT eccentricities for just the sampled nodes, BFS state k
    rows per node instead of n^2; max over a target sample lower-bounds
    the diameter, min upper-bounds the radius."""
    adj, nodes = _sym_adjacency(edges, directed)
    seeds = _resolve_targets(nodes, targets)
    counts = _depth_counts(adj, seeds, max_rounds, "eccentricity")
    return counts.groupBy(F.col("target").alias("node_id")).agg(
        F.max("depth").alias("ecc")
    )


def closeness_centrality(
    edges: DataFrame,
    directed: bool = False,
    max_rounds: int = 10_000,
    targets: DataFrame | int | None = None,
) -> DataFrame:
    """(node_id, reach, total_dist, closeness) — per-component exact
    closeness: ``reach`` = nodes reachable from v (excluding v),
    ``total_dist`` = sum of hop distances to them, ``closeness`` =
    reach / total_dist (0.0 when nothing is reachable).

    Same envelope as :func:`eccentricity`: the per-depth gain counts
    fold into ``reach`` and ``total_dist`` in one groupBy. ``targets``
    (int k = the k smallest node ids, or a node_id frame) is the
    10^12-edge escape hatch: one row per sampled node with its EXACT
    closeness (each sampled BFS still reaches the node's whole
    component), state k rows per node instead of n^2."""
    adj, nodes = _sym_adjacency(edges, directed)
    seeds = _resolve_targets(nodes, targets)
    counts = _depth_counts(adj, seeds, max_rounds, "closeness")
    stats = counts.filter(F.col("depth") > 0).groupBy(F.col("target").alias("node_id")).agg(
        F.sum("cnt").cast("long").alias("reach"),
        F.sum(F.col("cnt") * F.col("depth")).cast("long").alias("total_dist"),
    )
    return (
        seeds.join(stats, "node_id", "left")
        .fillna(0, ["reach", "total_dist"])
        .select(
            "node_id",
            "reach",
            "total_dist",
            F.when(
                F.col("total_dist") > 0,
                F.col("reach").cast("double") / F.col("total_dist"),
            )
            .otherwise(F.lit(0.0))
            .alias("closeness"),
        )
    )


def hop_distribution(
    edges: DataFrame,
    directed: bool = False,
    eff_quantile: float = 0.9,
    max_rounds: int = 10_000,
    targets: DataFrame | int | None = None,
) -> DataFrame:
    """(d, n_pairs, cum_frac, eff_diameter) — the exact hop-distance
    distribution of the graph: how many ordered reachable pairs sit at
    shortest distance ``d``, the cumulative fraction, and the effective
    diameter (smallest ``d`` covering ``eff_quantile`` of all reachable
    pairs — the standard small-world headline metric).

    Same envelope as :func:`eccentricity`: the pairs at distance ``d``
    are the gain counts of depth ``d`` summed over targets, one row per
    depth; the cumulative window over that (diameter-bounded) depth
    frame is explicitly safe. The cumulative fraction is a single
    division of exact integer sums, so engines agree bit-for-bit before
    rounding.

    ``targets`` (int k = the k smallest node ids, or a node_id frame)
    is the 10^12-edge escape hatch: pairs are counted from the sampled
    sources only (state k rows per node), ``n_pairs`` is the exact
    sampled count, and an extra ``est_pairs`` column carries the
    Eppstein–Wang-style ``n/k``-rescaled estimate of the full count;
    ``cum_frac`` / ``eff_diameter`` are ratios, invariant under the
    rescale. The exact path (targets=None) keeps its 4-column schema."""
    adj, nodes = _sym_adjacency(edges, directed)
    seeds = _resolve_targets(nodes, targets)
    sampled = targets is not None
    counts = _depth_counts(adj, seeds, max_rounds, "hop_distribution")
    hd = (
        counts.filter(F.col("depth") > 0)
        .groupBy(F.col("depth").alias("d"))
        .agg(F.sum("cnt").alias("n_pairs"))
    )
    # depth frame is diameter-bounded — the global windows are explicit
    # and safe (same envelope as edge_stream_growth's day frame)
    from pyspark.sql import Window

    w_cum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = hd.select(
        "d",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        (F.sum("n_pairs").over(w_cum) / F.sum("n_pairs").over(w_all)).alias(
            "raw_frac"
        ),
    )
    eff = c.filter(F.col("raw_frac") >= F.lit(eff_quantile)).agg(
        F.min("d").alias("eff_diameter")
    )
    out = c.crossJoin(F.broadcast(eff))
    if sampled:
        # n/k rescale: two 1-row scalar aggregates broadcast onto the
        # diameter-bounded depth frame
        scale = (
            nodes.agg(F.count("*").alias("n_nodes"))
            .crossJoin(F.broadcast(seeds.agg(F.count("*").alias("k_targets"))))
        )
        return out.crossJoin(F.broadcast(scale)).select(
            "d",
            "n_pairs",
            F.round(
                F.col("n_pairs")
                * (F.col("n_nodes").cast("double") / F.col("k_targets")),
                6,
            ).alias("est_pairs"),
            F.round("raw_frac", 6).alias("cum_frac"),
            "eff_diameter",
        )
    return out.select(
        "d",
        "n_pairs",
        F.round("raw_frac", 6).alias("cum_frac"),
        "eff_diameter",
    )
