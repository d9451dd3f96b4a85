"""Earliest-arrival temporal reachability (time-respecting paths).

A node ``v`` is temporally reachable from the source when a path
exists whose edge timestamps never decrease — the walk constraint the
reference's temporal centrality measures (``OnlineCentralityBase``
decay over timestamped walks) are built on; this operator exposes the
underlying reachability relation itself (Wu et al., "Path Problems in
Temporal Graphs", VLDB 2014: earliest-arrival semantics).

Algorithm: label-correcting relaxation of arrival times —
``arr(v) = min t over edges (u, v, t) with t >= arr(u)`` — iterated to
fixpoint. Arrival times only decrease and are bounded below, so the
loop converges in at most (longest minimal hop chain) rounds.

Scale shape: a min-plus :func:`.frontier.frontier_sweep` with value
column ``arrival`` — delta relaxation: only nodes whose arrival
improved last round can produce new candidates (the relax term depends
solely on arr(u) and the static edge set), so each round joins the
frontier, not the settled table, against the edge stream on ``src``,
followed by one map-side combinable ``groupBy(dst).min(t)``. The sweep
raises on a hit round cap rather than returning a truncated relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .frontier import frontier_sweep


def temporal_reachability(
    tedges: DataFrame,
    source: int,
    t_start: int | None = None,
    max_iter: int = 100,
) -> DataFrame:
    """(node_id, arrival) for every node temporally reachable from
    ``source`` — ``arrival`` is the earliest time a time-respecting
    path can reach the node (the source itself carries ``t_start``,
    default: min edge time in the stream, so every edge is usable).
    Unreached nodes are omitted.
    """
    spark = tedges.sparkSession
    # every relaxation round probes the edge stream: persist it, or the
    # upstream induction (windows + bucket stitch) re-executes per round
    e = tedges.select("src", "dst", F.col("t").cast("long").alias("t")).persist()
    if t_start is None:
        t_start = e.agg(F.min("t")).collect()[0][0]
        if t_start is None:
            return spark.createDataFrame([], "node_id long, arrival long")

    def expand(frontier):
        return (
            e.join(
                frontier.select(
                    F.col("node_id").alias("src"),
                    F.col("arrival").alias("a"),
                ),
                "src",
            )
            .filter(F.col("t") >= F.col("a"))
            .groupBy(F.col("dst").alias("node_id"))
            .agg(F.min("t").alias("arrival"))
        )

    source_row = spark.createDataFrame(
        [(int(source), int(t_start))], "node_id long, arrival long"
    )
    return frontier_sweep(
        source_row, expand, ["node_id"], max_iter, "temporal_reachability",
        value="arrival",
    )[1]
