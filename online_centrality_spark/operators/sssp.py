"""Weighted single-source shortest paths (distributed Bellman-Ford).

North-rule link-graph addition: min-plus relaxation of nonnegative
edge weights to fixpoint —

    dist(v) = min over edges (u, v, w) of dist(u) + w

iterated with DELTA frontiers (only nodes whose distance improved last
round can improve their out-neighbors; the same argument as
``reachability.temporal_reachability``). Nonnegative weights make the
fixpoint monotone, so extra rounds are no-ops and an unrolled SQL
oracle at depth >= the true convergence round count is exact.

Scale shape: a min-plus :func:`.frontier.frontier_sweep` with value
column ``dist`` — per round one equi-join of the (shrinking) frontier
against the persisted edge list + one map-side-combinable
``groupBy(dst).min``, improvement detection by a left join against the
settled table; loud round-cap guard instead of a silently truncated
relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .frontier import frontier_sweep


def weighted_sssp(
    wedges: DataFrame,
    source: int,
    max_iter: int = 200,
) -> DataFrame:
    """(node_id, dist) for every node reachable from ``source`` over
    ``wedges(src, dst, w)`` with nonnegative ``w``; unreached nodes are
    omitted. Exact double arithmetic: both engine and oracle accumulate
    path sums round-by-round, so the min candidates are bit-identical.
    """
    spark = wedges.sparkSession
    e = wedges.select(
        "src", "dst", F.col("w").cast("double").alias("w")
    ).persist()

    def expand(frontier):
        return (
            e.join(
                frontier.select(
                    F.col("node_id").alias("src"), F.col("dist").alias("a")
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node_id"))
            .agg(F.min(F.col("a") + F.col("w")).alias("dist"))
        )

    source_row = spark.createDataFrame(
        [(int(source), 0.0)], "node_id long, dist double"
    )
    return frontier_sweep(
        source_row, expand, ["node_id"], max_iter, "weighted_sssp",
        value="dist",
    )[1]
