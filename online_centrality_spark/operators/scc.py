"""Strongly connected components via distributed FW-BW coloring.

North-rule link-graph extension (no reference counterpart; the reference
only ever builds undirected snapshots — ``centrality_utils/*`` — so SCC
is new surface). Semantics are the standard unique SCC partition;
``component`` = min node id inside the SCC.

Algorithm (Orzan-style coloring, the standard distributed SCC plan):

1. **Forward coloring to fixpoint**: every active node starts with its
   own id; iterate ``color(v) = min(color(v), min color over in-edges)``.
   At the fixpoint ``color(v)`` is the minimum active node that reaches
   ``v``, so color classes are forward-reachability regions and each
   class contains its root ``r`` (``color(r) == r``).
2. **Backward sweep within color**: the SCC of root ``r`` is exactly the
   nodes of color ``r`` that reach ``r`` — and every path witnessing
   that stays inside color ``r`` (any intermediate node is mutually
   reachable with ``v`` and ``r``'s region, so it carries the same
   color). Flag ``r``, then propagate the flag backwards along
   same-color edges to fixpoint.
3. Emit the flagged nodes as finished SCCs, drop them (and their
   incident edges) from the active set, repeat. Every outer round
   retires one whole SCC per color class, so real graphs finish in a
   handful of rounds.

Scale shape: every inner round is one grouped/hash-join shuffle over
the ACTIVE edge set, which shrinks monotonically as SCCs retire. The
forward coloring is a :func:`.frontier.fixpoint` (one lazy checkpoint
and one ``(rows, changed)`` aggregate per round); the backward sweep is
a :func:`.frontier.frontier_sweep` that expands only the newly flagged
nodes. Both raise at ``inner_max_iter`` and the outer loop at
``max_iter`` — a truncated SCC answer is never emitted silently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .components import _nodes
from .frontier import fixpoint, frontier_sweep


def strongly_connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    inner_max_iter: int = 200,
) -> DataFrame:
    """(node_id, component) — component = min node id of the node's SCC.

    ``edges`` is a directed edge list with columns ``src``/``dst``;
    multi-edges and self-loops are ignored. Nodes are the endpoints of
    ``edges`` (isolated nodes cannot be represented by an edge list).
    """
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    remaining = _nodes(e).localCheckpoint(eager=True)
    finished: list[DataFrame] = []
    for _ in range(max_iter):
        n_remaining = remaining.count()
        if n_remaining == 0:
            break
        # 1. forward min-color propagation to fixpoint
        def step(colors):
            in_min = (
                e.join(
                    colors.select(
                        F.col("node_id").alias("src"),
                        F.col("color").alias("src_color"),
                    ),
                    "src",
                )
                .groupBy(F.col("dst").alias("node_id"))
                .agg(F.min("src_color").alias("in_min"))
            )
            return colors.join(in_min, "node_id", "left").select(
                "node_id",
                F.least("color", F.coalesce("in_min", F.col("color"))).alias(
                    "color"
                ),
                (F.col("in_min") < F.col("color")).alias("changed"),
            )

        colors, _ = fixpoint(
            remaining.select("node_id", F.col("node_id").alias("color")),
            step, inner_max_iter,
            "strongly_connected_components forward coloring (inner_max_iter)",
            rows=n_remaining,
        )
        # 2. backward flag propagation restricted to same-color edges
        ce = (
            e.join(
                colors.select(
                    F.col("node_id").alias("src"), F.col("color").alias("sc")
                ),
                "src",
            )
            .join(
                colors.select(
                    F.col("node_id").alias("dst"), F.col("color").alias("dc")
                ),
                "dst",
            )
            .filter(F.col("sc") == F.col("dc"))
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )

        def expand(newly):
            return (
                ce.join(newly.select(F.col("node_id").alias("dst")), "dst")
                .select(F.col("src").alias("node_id"))
                .distinct()
            )

        # same-color edges only, so a flagged node carries its root's color
        _, flagged = frontier_sweep(
            colors.filter(F.col("node_id") == F.col("color")).select("node_id"),
            expand, ["node_id"], inner_max_iter,
            "strongly_connected_components backward sweep",
        )
        flagged = flagged.join(colors, "node_id").localCheckpoint(eager=False)
        finished.append(
            flagged.select("node_id", F.col("color").alias("component"))
        )
        remaining = remaining.join(
            flagged.select("node_id"), "node_id", "left_anti"
        ).localCheckpoint(eager=True)
        drop_src = flagged.select(F.col("node_id").alias("src"))
        drop_dst = flagged.select(F.col("node_id").alias("dst"))
        e = (
            e.join(drop_src, "src", "left_anti")
            .join(drop_dst, "dst", "left_anti")
            .localCheckpoint(eager=True)
        )
    # raise only on genuinely unfinished work: the last SCC may retire
    # exactly on iteration max_iter, in which case the top-of-loop
    # emptiness break was never reached but nothing remains
    if not remaining.isEmpty():
        raise RuntimeError(
            f"SCC did not retire every node in {max_iter} outer rounds; "
            "raise max_iter (rounds scale with the SCC condensation depth)"
        )
    if not finished:
        # empty edge list (e.g. a quiet events slice induces no digraph):
        # no SCCs, return an empty typed frame rather than crashing
        return edges.sparkSession.createDataFrame(
            [], "node_id long, component long"
        )
    out = finished[0]
    for part in finished[1:]:
        out = out.unionAll(part)
    return out
