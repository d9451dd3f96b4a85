"""k-core decomposition by iterative peeling.

North-rule addition (standard link-graph toolkit; no reference
counterpart). The k-core is the maximal subgraph where every node has
degree >= k; peeling (repeatedly deleting nodes with degree < k)
converges to it regardless of deletion order, which is what makes a
fixed-round unrolled SQL oracle possible.

Scale shape: ``_peel`` and :func:`k_truss` are
:func:`.frontier.fixpoint` loops over the shrinking edge set. A k-core
round is one map-side-combinable degree aggregate plus two semi-join
filters; a k-truss round is the a<b<c triangle join plus one support
aggregate. Each round costs one lazy ``localCheckpoint`` and one
``(rows, changed)`` aggregate; with ``changed`` constant false the peel
stops when the row count holds, and it raises at the round cap.
``core_number`` runs ascending-k peels on the shrinking survivor graph
(the (k+1)-core is inside the k-core, so each step starts from the
previous step's — usually far smaller — edge set).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .frontier import fixpoint


def _und(edges: DataFrame) -> DataFrame:
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    return (
        e.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .dropDuplicates(["a", "b"])
    )


def _peel(und: DataFrame, k: int, max_rounds: int) -> DataFrame:
    """Edge list of the k-core of an undirected simple edge list."""

    def step(cur):
        deg = (
            cur.select(F.col("a").alias("n"))
            .unionAll(cur.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count("*").alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("n")
        return (
            cur.join(keep.withColumnRenamed("n", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("n", "b"), "b", "left_semi")
            .select("a", "b", F.lit(False).alias("changed"))
        )

    # each round removes at least one node until the count holds
    core, _ = fixpoint(und, step, max_rounds, f"k-core peel (k={k}, max_rounds)")
    return core


def k_core(edges: DataFrame, k: int, max_rounds: int = 1000) -> DataFrame:
    """(node_id, core_degree) — members of the k-core with their degree
    inside the core subgraph."""
    core = _peel(_und(edges), k, max_rounds)
    return (
        core.select(F.col("a").alias("node_id"))
        .unionAll(core.select(F.col("b").alias("node_id")))
        .groupBy("node_id")
        .agg(F.count("*").cast("long").alias("core_degree"))
    )


def core_number(edges: DataFrame, max_rounds: int = 1000) -> DataFrame:
    """(node_id, core) — degeneracy core number of every node.

    Ascending-k peels over the shrinking survivor graph: nodes present
    in the k-core but not the (k+1)-core have core number k. Isolated /
    self-loop-only nodes never enter the edge list and are not emitted
    (consistent with the other graph operators, which work on the
    induced simple graph).
    """
    spark = edges.sparkSession
    cur = _und(edges).localCheckpoint(eager=True)
    out: DataFrame | None = None
    k = 1
    while not cur.isEmpty():
        nxt = _peel(cur, k + 1, max_rounds)
        survivors = (
            nxt.select(F.col("a").alias("node_id"))
            .unionAll(nxt.select(F.col("b").alias("node_id")))
            .distinct()
        )
        members = (
            cur.select(F.col("a").alias("node_id"))
            .unionAll(cur.select(F.col("b").alias("node_id")))
            .distinct()
        )
        dropped = members.join(survivors, "node_id", "left_anti").select(
            "node_id", F.lit(k).cast("long").alias("core")
        )
        out = dropped if out is None else out.unionAll(dropped)
        # checkpoint the accumulator: the union chain grows one level
        # per k, and max-k is small (degeneracy), but cut it anyway
        out = out.localCheckpoint(eager=True)
        cur = nxt
        k += 1
    if out is None:
        return spark.createDataFrame([], "node_id long, core long")
    return out


def k_truss(edges: DataFrame, k: int, max_iter: int = 100) -> DataFrame:
    """(a, b) — the k-truss of the undirected simple graph: the maximal
    subgraph where every edge closes at least ``k - 2`` triangles
    *within the subgraph*. Standard peel: count per-edge support via
    the a<b<c triangle join over the CURRENT edge set, drop edges below
    threshold, repeat to fixpoint (the edge set shrinks monotonically,
    so each round's joins get cheaper). A :func:`.frontier.fixpoint`
    loop: it raises rather than return a truncated peel at ``max_iter``.

    North-rule link-graph extension; no reference counterpart.
    """
    sup_needed = k - 2

    def step(cur):
        e2 = cur.select(F.col("a").alias("b"), F.col("b").alias("c"))
        e3 = cur.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
        tris = (
            cur.join(e2, "b")
            .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
            .select("a", "b", "c")
        )
        sup = (
            tris.select(F.col("a").alias("x"), F.col("b").alias("y"))
            .unionAll(tris.select(F.col("a").alias("x"), F.col("c").alias("y")))
            .unionAll(tris.select(F.col("b").alias("x"), F.col("c").alias("y")))
            .groupBy(F.col("x").alias("a"), F.col("y").alias("b"))
            .agg(F.count("*").alias("support"))
        )
        return (
            cur.join(sup, ["a", "b"], "left")
            .filter(F.coalesce(F.col("support"), F.lit(0)) >= sup_needed)
            .select("a", "b", F.lit(False).alias("changed"))
        )

    truss, _ = fixpoint(
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct(),
        step, max_iter, f"k_truss peel (k={k}, max_iter)",
    )
    return truss


def onion_decomposition(edges: DataFrame, max_rounds: int = 10000) -> DataFrame:
    """(node_id, core, layer) — onion decomposition (Hébert-Dufresne,
    Grochow & Allard, Sci. Rep. 2016): the layer-resolved refinement of
    the k-core peel. Stages run k = 1, 2, …; within stage k, BATCHES of
    nodes with current degree <= k are removed repeatedly until none
    qualify; every non-empty batch is one onion layer (global counter),
    and nodes removed during stage k have core number k. The layer
    profile separates tree-like from loopy regions inside the same
    core — a structure fingerprint the scalar core number can't see.

    Scale shape: per layer one map-side degree aggregate + one anti-join
    (the batch) + two semi-join filters (surviving nodes/edges), with
    ``localCheckpoint`` lineage cuts exactly like ``core_number``'s
    ascending-k peels — per-round state is the shrinking survivor
    graph, never a window or driver-held collection. The batch rule
    makes removal order-insensitive, so a fixed-grid unrolled SQL
    oracle replays the identical layers.
    """
    und = _und(edges).localCheckpoint(eager=True)
    alive = (
        und.select(F.col("a").alias("n"))
        .unionAll(und.select(F.col("b").alias("n")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_alive = alive.count()
    cur = und
    k, layer = 1, 0
    outs: list[DataFrame] = []
    for _ in range(max_rounds):
        if n_alive == 0:
            break
        deg = (
            cur.select(F.col("a").alias("n"))
            .unionAll(cur.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count("*").alias("d"))
        )
        high = deg.filter(F.col("d") >= k + 1).select("n")
        batch = alive.join(high, "n", "left_anti").localCheckpoint(eager=True)
        n_batch = batch.count()
        if n_batch == 0:
            k += 1
            continue
        layer += 1
        outs.append(
            batch.select(
                F.col("n").alias("node_id"),
                F.lit(k).cast("long").alias("core"),
                F.lit(layer).cast("long").alias("layer"),
            )
        )
        alive = alive.join(batch, "n", "left_anti").localCheckpoint(eager=True)
        n_alive -= n_batch
        cur = (
            cur.join(alive.withColumnRenamed("n", "a"), "a", "left_semi")
            .join(alive.withColumnRenamed("n", "b"), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
    else:
        raise RuntimeError(
            f"onion decomposition did not finish in {max_rounds} rounds; "
            "raise max_rounds — every non-empty batch removes >= 1 node"
        )
    if not outs:
        spark = edges.sparkSession
        return spark.createDataFrame(
            [], "node_id long, core long, layer long"
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out
