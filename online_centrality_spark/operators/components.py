"""Connected components and label propagation as iterative DataFrame joins.

North-rule additions with no reference counterpart (standard semantics,
validated against pure-python oracles in tests). Every loop here is a
:func:`.frontier.fixpoint`: one lazy checkpoint and one ``(rows,
changed)`` aggregate per round.

- ``connected_components``: weakly connected components, component =
  min node id in the WCC. One distributed plan, alternating large-star
  / small-star contractions: O(log n) rounds regardless of diameter,
  each round two grouped shuffles over the current edge set, which
  SHRINKS towards one star per component. When the canonical edge set
  fits one task (``collect_threshold``), a single-task union-find
  kernel gives the identical labels without the rounds.

- ``label_propagation``: synchronous LPA. Every node starts with its own
  id; each round a node adopts the most frequent label among its
  (undirected, dedup) neighbors, ties broken by the smallest label;
  isolated behavior: keep the current label. Deterministic by
  construction. Runs ``max_iter`` rounds or until no label changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .frontier import fixpoint


def _sym(edges: DataFrame) -> DataFrame:
    """Undirected dedup neighbor pairs (a, b) for both directions."""
    e = edges.select("src", "dst")
    return (
        e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionAll(e.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )


def _nodes(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("node_id"))
        .unionAll(edges.select(F.col("dst").alias("node_id")))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    max_iter: int = 200,
    collect_threshold: int = 100_000,
) -> DataFrame:
    """(node_id, component) — component = min node id in the WCC."""
    labels, _ = connected_components_detail(edges, max_iter, collect_threshold)
    return labels


def _cc_local(cur: DataFrame, nodes: DataFrame) -> DataFrame:
    """Single-task union-find over the canonical pair set (small-graph
    fast path; semantics identical to the round loop by construction)."""
    import pandas as pd

    rows = cur.unionAll(
        nodes.select(F.col("node_id").alias("h"), F.col("node_id").alias("l"))
    ).coalesce(1)

    def kernel(batches):
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:
                parent[x], x = r, parent[x]
            return r

        seen: set = set()
        for pdf in batches:
            for h, l in zip(pdf["h"].tolist(), pdf["l"].tolist()):
                seen.add(h)
                seen.add(l)
                ra, rb = find(h), find(l)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        members: dict = {}
        for n in seen:
            members.setdefault(find(n), []).append(n)
        out_n, out_c = [], []
        for ms in members.values():
            m = min(ms)
            for n in ms:
                out_n.append(n)
                out_c.append(m)
        yield pd.DataFrame({"node_id": out_n, "component": out_c})

    return rows.mapInPandas(kernel, schema="node_id long, component long")


def connected_components_detail(
    edges: DataFrame,
    max_iter: int = 200,
    collect_threshold: int = 100_000,
) -> tuple[DataFrame, int]:
    """Like :func:`connected_components` but also returns the number of
    rounds taken (convergence lineage for tests / metrics).

    Alternating large-star / small-star contractions (the classic
    MapReduce CC plan): the edge set converges in O(log n) rounds to one
    star per component, rooted at the component minimum. Round =
    large-star (every node hooks its LARGER neighbors onto the minimum
    of its closed neighborhood) then small-star (every node hooks its
    smaller-or-equal neighbors onto that minimum). Both preserve
    connectivity; the fixed point is a star forest. Each round is two
    grouped shuffles over the CURRENT edge set, which shrinks as
    components contract, so rounds do not scale with the graph
    diameter. A round's ``changed`` marks the pairs not in the previous
    set: no new pair and the same count means the set held.

    ``collect_threshold``: when the dedup'd canonical edge set fits a
    single task (count <= threshold), a one-pass union-find kernel
    replaces the round loop — identical output (component = min member
    id) without per-round job latency, the same adaptive small-graph
    fallback the harmonic operator uses; rounds is then 0. Pass 0 to
    force the distributed loop (tests pinning round behavior do)."""
    # cut the input once: the pair set and the node set both read it
    e = edges.select("src", "dst").localCheckpoint(eager=False)
    nodes = _nodes(e)
    # canonical undirected pairs (h > l)
    cur = (
        e.select(
            F.greatest("src", "dst").alias("h"), F.least("src", "dst").alias("l")
        )
        .filter(F.col("h") != F.col("l"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_pairs = cur.count()
    # adaptive small-graph fallback: the pair count is also the
    # fixpoint's seed count, so this test costs no extra action
    if collect_threshold and n_pairs <= collect_threshold:
        return _cc_local(cur, nodes), 0

    def step(cur):
        # large-star: neighbors from both directions; for node u emit
        # (v, min(N(u) + {u})) for every neighbor v > u
        sym = cur.select(F.col("h").alias("u"), F.col("l").alias("v")).unionAll(
            cur.select(F.col("l").alias("u"), F.col("h").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        ls = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(
                F.col("v").alias("h"),
                F.least(F.col("mn"), F.col("u")).alias("l"),
            )
            .filter(F.col("h") != F.col("l"))
            .distinct()
        )
        # small-star: pairs are canonical (h > l); for node h emit
        # (l, min(N_small(h))) for every smaller neighbor l, plus
        # (h, min) itself
        mins2 = ls.groupBy("h").agg(F.min("l").alias("m"))
        joined = ls.join(mins2, "h")
        out = joined.select(
            F.col("l").alias("x"), F.col("m").alias("y")
        ).unionAll(joined.select(F.col("h").alias("x"), F.col("m").alias("y")))
        new = (
            out.filter(F.col("x") != F.col("y"))
            .select(F.greatest("x", "y").alias("h"), F.least("x", "y").alias("l"))
            .distinct()
        )
        return new.join(
            cur.withColumn("_old", F.lit(True)), ["h", "l"], "left"
        ).select("h", "l", F.col("_old").isNull().alias("changed"))

    # the cap raises: short of the star forest a node can carry several
    # l labels, and the join below would emit duplicate node_id rows
    cur, rounds = fixpoint(
        cur, step, max_iter, "connected_components star contraction (max_iter)",
        rows=n_pairs,
    )
    labels = (
        nodes.join(
            cur.select(F.col("h").alias("node_id"), F.col("l").alias("component")),
            "node_id",
            "left",
        )
        .select(
            "node_id",
            F.coalesce(F.col("component"), F.col("node_id")).alias("component"),
        )
    )
    return labels, rounds


def bucketed_component_sizes(e: DataFrame, **cc_kwargs) -> DataFrame:
    """``(bkt, component, sz)`` — per-bucket WCC sizes of a ``(bkt,
    src, dst)`` edge frame, every bucket solved in ONE run of the
    star-contraction CC by encoding the composite key ``(bkt, node)``
    as the single long ``bkt * off + node`` with ``off > max node id``
    — buckets can never merge because no edge crosses an encoding
    stripe, so the per-bucket component minimum decodes back exactly.
    The only driver-held values are the encoding scalars (the k-means
    seed-read pattern). Shared harness of :func:`component_evolution`,
    :func:`threshold_profile` and the robustness operators. It reads
    ``e`` three times, so callers pass a cut (lazily checkpointed) frame.
    """
    mx = e.agg(
        F.greatest(F.max("src"), F.max("dst")).alias("mxn"),
        F.least(F.min("src"), F.min("dst")).alias("mnn"),
        F.max("bkt").alias("mxd"),
        F.min("bkt").alias("mnd"),
    ).first()
    if mx["mxn"] is None:
        return e.sparkSession.createDataFrame(
            [], "bkt long, component long, sz long"
        )
    if mx["mnn"] < 0 or mx["mnd"] < 0:
        raise ValueError(
            "bucketed components need non-negative node ids and buckets"
        )
    off = mx["mxn"] + 1
    if (mx["mxd"] + 1) * off >= 2**62:
        raise ValueError(
            "bucket*offset encoding would overflow int64; densify node ids "
            "(e.g. via add_global_seq) first"
        )
    enc = e.select(
        (F.col("bkt") * F.lit(off) + F.col("src")).alias("src"),
        (F.col("bkt") * F.lit(off) + F.col("dst")).alias("dst"),
    )
    labels = connected_components(enc, **cc_kwargs)
    return labels.groupBy(
        F.expr(f"node_id div {off}").alias("bkt"), "component"
    ).agg(F.count("*").alias("sz"))


def threshold_profile(
    wedges: DataFrame,
    thresholds: list,
    weight_col: str = "w",
    **cc_kwargs,
) -> DataFrame:
    """``(threshold, n_edges, n_nodes, n_components, largest)`` — the
    percolation profile of a weighted graph: component structure of the
    subgraph ``w >= threshold`` for every rung of the ladder that
    leaves at least one edge (rungs where the cut kills every edge are
    omitted, like :func:`attack_robustness`'s levels), revealing where
    the giant component breaks apart as the similarity cut tightens.

    One star-CC run covers the whole ladder: each edge explodes into
    the rungs it survives (bounded ``len(thresholds)``× blowup), and
    the rung index feeds :func:`bucketed_component_sizes`'s stripe
    encoding — exactly the `attack_robustness` shape with thresholds in
    place of removal levels.
    """
    ladder = sorted(thresholds)
    spark = wedges.sparkSession
    lad = spark.createDataFrame(
        [(i, float(t)) for i, t in enumerate(ladder)], "bkt long, th double"
    )
    e = wedges.select(
        F.least("src", "dst").alias("src"),
        F.greatest("src", "dst").alias("dst"),
        F.col(weight_col).alias("w"),
    ).filter(F.col("src") != F.col("dst"))
    tagged = (
        e.crossJoin(F.broadcast(lad))
        .filter(F.col("w") >= F.col("th"))
        .select("bkt", "src", "dst")
        .dropDuplicates(["bkt", "src", "dst"])
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
        .select(
            F.col("th").alias("threshold"),
            "n_edges",
            "n_nodes",
            "n_components",
            "largest",
        )
    )


def component_evolution(
    pairs: DataFrame,
    t_col: str = "t",
    bucket_us: int = 86_400_000_000,
    **cc_kwargs,
) -> DataFrame:
    """Per-time-bucket connectivity profile of a timestamped edge
    stream: ``(day, n_components, n_nodes, largest)`` where ``day`` is
    the integer bucket ``t div bucket_us`` and the three counts describe
    the weakly connected components of the edges falling in that bucket
    — the "does the interaction graph fragment or coalesce over time"
    series. One star-CC run for all buckets via
    :func:`bucketed_component_sizes`.
    """
    e = pairs.select(
        F.expr(f"{t_col} div {bucket_us}").alias("bkt"),
        "src",
        "dst",
    ).filter(F.col("src") != F.col("dst")).localCheckpoint(eager=False)
    sizes = bucketed_component_sizes(e, **cc_kwargs)
    return sizes.groupBy(F.col("bkt").alias("day")).agg(
        F.count("*").alias("n_components"),
        F.sum("sz").cast("long").alias("n_nodes"),
        F.max("sz").alias("largest"),
    )


def _majority(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """``(node_id, best)``: the most frequent label among each node's
    neighbors in ``sym``, ties broken by the smallest label — one
    map-side-combinable (node, label) vote count plus a per-node top-1
    window bounded by the node's distinct neighbor-label count."""
    votes = (
        sym.join(labels.select(F.col("node_id").alias("a"), "label"), "a")
        .groupBy(F.col("b").alias("node_id"), "label")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("node_id").orderBy(
        F.col("cnt").desc(), F.col("label").asc()
    )
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("node_id", F.col("label").alias("best"))
    )


def label_propagation(edges: DataFrame, max_iter: int = 10) -> DataFrame:
    """(node_id, label) — synchronous LPA with deterministic min-label ties."""
    sym = _sym(edges).persist()

    def step(labels):
        return labels.join(_majority(sym, labels), "node_id", "left").select(
            "node_id",
            F.coalesce(F.col("best"), F.col("label")).alias("label"),
            (F.col("best") != F.col("label")).alias("changed"),
        )

    labels, _ = fixpoint(
        _nodes(edges).select("node_id", F.col("node_id").alias("label")),
        step, max_iter, "label_propagation", strict=False,
    )
    sym.unpersist()
    return labels


def seeded_label_spreading(
    edges: DataFrame, seeds: DataFrame, max_iter: int = 5
) -> DataFrame:
    """(node_id, label) — semi-supervised label spreading with clamped
    seeds: the weak-supervision primitive (spread a small
    hand/heuristic-labeled set — spam/quality/topic — over the graph).

    ``seeds`` is (node_id, label); seed labels never change. Each
    synchronous round, every NON-seed node takes the majority label
    among its currently-labeled neighbors (ties broken by the smallest
    label; no labeled neighbor → keeps its current label, initially
    unlabeled). Runs exactly ``max_iter`` rounds unless a round changes
    nothing — majority vote is idempotent at the fixpoint, so an
    early-exited engine state equals the oracle's fixed unroll, while a
    2-cycle oscillation (sync LPA can oscillate) never converges and
    both sides stop at the same round count. Nodes still unlabeled
    after the last round are omitted.

    Scale shape per round: the :func:`label_propagation` round (one
    edge-keyed join, one vote count, one per-node top-1 window) over
    the labeled nodes, with the label frame carrying an ``is_seed``
    clamp bit.
    """
    sym = _sym(edges).persist()
    seed = (
        _nodes(edges)
        .join(
            seeds.select("node_id", F.col("label").alias("_sl")),
            "node_id",
            "left",
        )
        .select(
            "node_id",
            F.col("_sl").alias("label"),
            F.col("_sl").isNotNull().alias("is_seed"),
        )
    )

    def step(state):
        best = _majority(sym, state.filter(F.col("label").isNotNull()))
        return state.join(best, "node_id", "left").select(
            "node_id",
            F.when(F.col("is_seed"), F.col("label"))
            .otherwise(F.coalesce(F.col("best"), F.col("label")))
            .alias("label"),
            "is_seed",
            (
                ~F.col("is_seed")
                & F.col("best").isNotNull()
                & (F.col("label").isNull() | (F.col("best") != F.col("label")))
            ).alias("changed"),
        )

    state, _ = fixpoint(
        seed, step, max_iter, "seeded_label_spreading", strict=False
    )
    sym.unpersist()
    return state.filter(F.col("label").isNotNull()).select(
        "node_id", "label"
    )
