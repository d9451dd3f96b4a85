"""Targeted-attack robustness curve — giant-component decay under
sequential hub removal (Albert–Jeong–Barabási attack protocol).

Level ``k`` removes the ``k`` highest-degree nodes (degree desc,
node-id asc tiebreak — fully deterministic) and reports the surviving
graph's edge/node/component counts and giant-component size. The
resulting curve is the standard resilience diagnostic: robust graphs
lose the giant component slowly, hub-dependent graphs collapse.

Scale shape: the naive protocol is ``max_remove + 1`` separate
connected-components jobs. Instead every level is solved in ONE
star-CC run: an edge with earliest-removal rank ``r = min(rank(a),
rank(b))`` is alive at levels ``0..min(r, max_remove)``, so the edge
list explodes by at most ``max_remove + 1`` copies tagged with their
level, and the composite key ``level * off + node`` feeds a single
:func:`connected_components` call (the `component_evolution` encoding
— levels cannot merge because no edge crosses an encoding stripe).
The hub ranking itself is a ``max_remove``-row TakeOrdered frame
broadcast back onto the degree table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .components import bucketed_component_sizes


def attack_robustness(
    edges: DataFrame, max_remove: int = 10, **cc_kwargs
) -> DataFrame:
    """``(level, n_edges, n_nodes, n_components, largest)`` for each
    removal level ``0..max_remove`` that leaves at least one edge
    (isolated nodes are not represented, consistent with the other
    component operators)."""
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.col("a").alias("n"))
        .unionAll(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    # TakeOrderedAndProject down to max_remove rows FIRST; the global
    # row_number window then sorts a <= max_remove-row frame
    hubs = (
        deg.orderBy(F.col("d").desc(), F.col("n").asc())
        .limit(max_remove)
        .select(
            "n",
            (
                F.row_number().over(
                    Window.orderBy(F.col("d").desc(), F.col("n").asc())
                )
                - 1
            ).alias("rank"),
        )
    )
    none_rank = F.lit(max_remove)
    tagged = (
        und.join(F.broadcast(hubs.withColumnRenamed("n", "a")
                 .withColumnRenamed("rank", "ra")), "a", "left")
        .join(F.broadcast(hubs.withColumnRenamed("n", "b")
              .withColumnRenamed("rank", "rb")), "b", "left")
        .select(
            "a",
            "b",
            F.least(
                F.coalesce(F.col("ra"), none_rank),
                F.coalesce(F.col("rb"), none_rank),
            ).alias("alive_max"),
        )
        .select(
            F.explode(F.sequence(F.lit(0), F.col("alive_max"))).alias("level"),
            "a",
            "b",
        )
        .localCheckpoint(eager=False)
    )
    # shared stripe-encode -> one-CC-run -> decode harness (carries the
    # negative-id and int64-overflow guards)
    sizes = bucketed_component_sizes(
        tagged.select(
            F.col("level").alias("bkt"),
            F.col("a").alias("src"),
            F.col("b").alias("dst"),
        ),
        **cc_kwargs,
    )
    comp_stats = sizes.groupBy(F.col("bkt").alias("level")).agg(
        F.count("*").alias("n_components"),
        F.sum("sz").cast("long").alias("n_nodes"),
        F.max("sz").alias("largest"),
    )
    edge_stats = tagged.groupBy("level").agg(F.count("*").alias("n_edges"))
    return edge_stats.join(comp_stats, "level").select(
        F.col("level").cast("long").alias("level"),
        "n_edges",
        "n_nodes",
        "n_components",
        "largest",
    )


def random_failure(
    edges: DataFrame, percents: list | None = None, **cc_kwargs
) -> DataFrame:
    """``(pct, n_edges, n_nodes, n_components, largest)`` — robustness
    under RANDOM node failure, the literature's comparison twin to
    :func:`attack_robustness` (scale-free graphs shrug off random
    failure but collapse under targeted attack). Levels whose failures
    kill every edge are omitted (one row per level that leaves at
    least one edge, like ``attack_robustness``).

    "Random" is the portable 60-bit md5 hash of the node id taken mod
    100: a node fails at level ``pct`` iff ``hash % 100 < pct`` — a
    deterministic, engine-reproducible, fully MAP-SIDE rule (no
    ranking, no shuffle to decide removal). An edge survives level
    ``pct`` iff ``min(h_a, h_b) >= pct``, so each edge explodes into
    exactly the ladder prefix it survives and the shared
    stripe-encoded CC solves every level at once.
    """
    percents = percents if percents is not None else [0, 10, 20, 30, 40, 50]
    for p in percents:
        # int(12.5) would silently run the 12% level; out-of-range
        # values produce degenerate all-alive/all-dead rungs
        if isinstance(p, bool) or int(p) != p or not (0 <= int(p) <= 100):
            raise ValueError(
                f"random_failure percents must be integers in [0, 100], got {p!r}"
            )
    ladder = sorted(percents)
    spark = edges.sparkSession
    lad = spark.createDataFrame(
        [(i, int(p)) for i, p in enumerate(ladder)], "bkt long, pct long"
    )
    h = lambda c: F.pmod(  # noqa: E731
        F.conv(F.substring(F.md5(F.col(c).cast("string")), 1, 15), 16, 10).cast(
            "long"
        ),
        F.lit(100),
    )
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
        .select("a", "b", F.least(h("a"), h("b")).alias("hmin"))
    )
    tagged = (
        und.crossJoin(F.broadcast(lad))
        .filter(F.col("hmin") >= F.col("pct"))
        .select("bkt", F.col("a").alias("src"), F.col("b").alias("dst"))
        .localCheckpoint(eager=False)
    )
    sizes = bucketed_component_sizes(tagged, **cc_kwargs)
    comp = sizes.groupBy("bkt").agg(
        F.count("*").alias("n_components"),
        F.sum("sz").cast("long").alias("n_nodes"),
        F.max("sz").alias("largest"),
    )
    ecnt = tagged.groupBy("bkt").agg(F.count("*").alias("n_edges"))
    return (
        ecnt.join(comp, "bkt")
        .join(F.broadcast(lad), "bkt")
        .select("pct", "n_edges", "n_nodes", "n_components", "largest")
    )
