"""Bridges (cut edges) and articulation points (cut vertices) —
2-edge- and 2-vertex-connectivity, distributed.

Tarjan's classic algorithms for both are DFS low-link passes, which do
not parallelize; this module uses covering lemmas that hold for ANY
rooted spanning forest (not just DFS trees), so the tree can come from
level-synchronous BFS — the traversal that distributes.

Bridge lemma:

    tree edge (parent, c) is a bridge
      <=>  no non-tree edge "covers" it
      <=>  min over x in subtree(c) of
             mindepth(x) := min over non-tree edges (x, y)
                              of depth(lca(x, y))
           is >= depth(c),

because a non-tree edge (u, v) has exactly one endpoint inside
subtree(c) iff c lies strictly below lca(u, v) on one of the two tree
paths. Non-tree edges always sit on a cycle themselves, so the bridge
set is a subset of the forest, and it is independent of WHICH spanning
forest was built (bridges are a graph property).

Articulation lemma (same frame): removing vertex c splits the child
subtrees of c into GROUPS connected by the non-tree edges whose lca is
exactly c (an edge between two different child subtrees meets the tree
precisely at c); a group survives the removal iff some member subtree
has a non-tree edge escaping STRICTLY above c (subtree-min < depth(c)
— the same subtree-min the bridge rule uses). So:

    non-root c is an articulation point  <=>  some child group has no
                                              escaping member
    a root is an articulation point      <=>  its children form >= 2
                                              groups

(edges incident to c itself vanish with c and are excluded from the
child graph). Verified against networkx on random graphs.

Pipeline (all DataFrame joins, lineage cut per round):
  1. BFS forest from each component's min node (roots via star-CC):
     O(diameter) frontier rounds, min-parent tie-break.
  2. Binary-lifting ancestor tables anc[2^k]: O(log depth) self-joins,
     O(n log depth) state — never the O(n * depth) ancestor closure.
  3. Per non-tree edge: lca NODE and DEPTH via depth equalization +
     binary descent (lazily checkpointed join chains).
  4. Subtree-min of mindepth by bottom-up depth layers.
  5. Bridges: covering rule. Articulation points: lift both endpoints
     of each lca-level cross edge to the lca's child level (one more
     binary lift), solve the per-vertex child-group CC in ONE
     stripe-encoded star-CC run (the ``bucketed_component_sizes``
     encoding), then apply the group rule.

Scale: every step shuffles on node keys; per-round state is O(n) rows
(plus O(n log D) lifting tables). Depth of a BFS forest on small-world
graphs is O(log n); a pathological path graph costs O(n) rounds — the
same envelope as every frontier traversal in this repo.

Reference parity: the reference repo has no connectivity-decomposition
operators; these extend the link-graph toolkit (SURVEY §2.9 family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: sentinel "no covering edge" depth — deeper than any real tree level
_INF = 1 << 62


def _bfs_forest(adj: DataFrame, roots: DataFrame, max_rounds: int):
    """(node_id, depth, parent) for every reachable node; parent NULL
    on roots. Deterministic: first reach wins, min-id parent breaks
    same-level ties. Returns (tree, max_depth_reached)."""
    visited = roots.select(
        "node_id",
        F.lit(0).cast("long").alias("depth"),
        F.lit(None).cast("long").alias("parent"),
    ).localCheckpoint(eager=True)
    frontier = visited.select("node_id")
    max_depth = 0
    for r in range(1, max_rounds + 1):
        nxt = (
            adj.join(
                frontier.withColumnRenamed("node_id", "src"), "src"
            )
            .groupBy(F.col("dst").alias("node_id"))
            .agg(F.min("src").alias("parent"))
            .join(visited.select("node_id"), "node_id", "left_anti")
            .localCheckpoint(eager=False)
        )
        # one action per round: the row count materializes the lazy
        # checkpoint (and ``visited``'s) and is the stop test
        if nxt.count() == 0:
            return visited, max_depth
        visited = visited.unionByName(
            nxt.select(
                "node_id", F.lit(r).cast("long").alias("depth"), "parent"
            )
        ).localCheckpoint(eager=False)
        frontier = nxt.select("node_id")
        max_depth = r
    raise RuntimeError(f"bridges BFS did not saturate in {max_rounds} rounds")


def _lift_tables(tree: DataFrame, max_depth: int) -> list[DataFrame]:
    """anc[k] = 2^k-th-ancestor tables (node, anc), k = 0..K."""
    tables = [
        tree.filter(F.col("parent").isNotNull())
        .select(
            F.col("node_id").alias("node"), F.col("parent").alias("anc")
        )
    ]
    k = 1
    while (1 << k) <= max_depth:
        prev = tables[-1]
        nxt = (
            prev.alias("lo")
            .join(prev.alias("hi"), F.col("lo.anc") == F.col("hi.node"))
            .select(
                F.col("lo.node").alias("node"),
                F.col("hi.anc").alias("anc"),
            )
            .localCheckpoint(eager=False)
        )
        tables.append(nxt)
        k += 1
    return tables


def _lift_by(
    frame: DataFrame, node_col: str, delta_col: str, tables
) -> DataFrame:
    """Replace ``node_col`` with its ``delta_col``-th ancestor (the
    delta must be a valid height). Processes the delta's bits high to
    low; the frame comes back with ``delta_col`` consumed to 0."""
    for k in range(len(tables) - 1, -1, -1):
        bit = 1 << k
        take = (F.col(delta_col).bitwiseAND(F.lit(bit))) != 0
        t = tables[k].select(
            F.col("node").alias("__ln"), F.col("anc").alias("__la")
        )
        frame = (
            frame.join(t, frame[node_col] == t["__ln"], "left")
            .withColumn(
                "__nn",
                F.when(
                    take & F.col("__la").isNotNull(), F.col("__la")
                ).otherwise(F.col(node_col)),
            )
            .withColumn(
                "__nd",
                F.when(take, F.col(delta_col) - bit).otherwise(
                    F.col(delta_col)
                ),
            )
            .drop("__ln", "__la", node_col, delta_col)
            .withColumnRenamed("__nn", node_col)
            .withColumnRenamed("__nd", delta_col)
        )
    return frame


def _nte_lca(
    nte: DataFrame, tree: DataFrame, tables: list[DataFrame]
) -> DataFrame:
    """(oa, ob, dlca, lca) per non-tree edge: the lca's depth and node
    id, with the ORIGINAL endpoints carried alongside the moving
    pointers."""
    depth_of = tree.select(
        F.col("node_id").alias("__dn"), F.col("depth").alias("__dd")
    )
    nt = nte.select(F.col("a").alias("oa"), F.col("b").alias("ob"))
    nt = (
        nt.join(depth_of, nt["oa"] == F.col("__dn"))
        .withColumn("da", F.col("__dd"))
        .drop("__dn", "__dd")
    )
    nt = (
        nt.join(depth_of, nt["ob"] == F.col("__dn"))
        .withColumn("db", F.col("__dd"))
        .drop("__dn", "__dd")
    )
    # moving pointers u (deeper) / v; equalize u down to depth dv
    nt = nt.select(
        "oa",
        "ob",
        F.when(F.col("da") >= F.col("db"), F.col("oa"))
        .otherwise(F.col("ob"))
        .alias("u"),
        F.when(F.col("da") >= F.col("db"), F.col("ob"))
        .otherwise(F.col("oa"))
        .alias("v"),
        (F.greatest("da", "db") - F.least("da", "db")).alias("__delta"),
        F.least("da", "db").alias("dv"),
    )
    nt = _lift_by(nt, "u", "__delta", tables).drop("__delta")
    nt = nt.localCheckpoint(eager=True)
    # binary descent: advance both pointers while 2^k ancestors differ
    for k in range(len(tables) - 1, -1, -1):
        t_u = tables[k].select(
            F.col("node").alias("__un"), F.col("anc").alias("__ua")
        )
        t_v = tables[k].select(
            F.col("node").alias("__vn"), F.col("anc").alias("__va")
        )
        nt = nt.join(t_u, nt["u"] == t_u["__un"], "left").join(
            t_v, nt["v"] == t_v["__vn"], "left"
        )
        move = (
            (F.col("u") != F.col("v"))
            & F.col("__ua").isNotNull()
            & F.col("__va").isNotNull()
            & (F.col("__ua") != F.col("__va"))
        )
        nt = (
            nt.withColumn(
                "new_u", F.when(move, F.col("__ua")).otherwise(F.col("u"))
            )
            .withColumn(
                "new_v", F.when(move, F.col("__va")).otherwise(F.col("v"))
            )
            .withColumn(
                "new_dv",
                F.when(move, F.col("dv") - (1 << k)).otherwise(
                    F.col("dv")
                ),
            )
            .drop("__un", "__ua", "__vn", "__va", "u", "v", "dv")
            .withColumnRenamed("new_u", "u")
            .withColumnRenamed("new_v", "v")
            .withColumnRenamed("new_dv", "dv")
        )
        # lazy: no action is needed between descent rounds — the next
        # consumer materializes the whole chain in one job
        nt = nt.localCheckpoint(eager=False)
    parent_t = tables[0].select(
        F.col("node").alias("__pn"), F.col("anc").alias("__pa")
    )
    nt = nt.join(parent_t, nt["u"] == parent_t["__pn"], "left")
    return nt.select(
        "oa",
        "ob",
        F.when(F.col("u") == F.col("v"), F.col("dv"))
        .otherwise(F.col("dv") - 1)
        .alias("dlca"),
        F.when(F.col("u") == F.col("v"), F.col("u"))
        .otherwise(F.col("__pa"))
        .alias("lca"),
    ).localCheckpoint(eager=True)


def _forest_analysis(edges: DataFrame, max_rounds: int):
    """Shared frame pipeline for bridges/articulation points. Returns
    None on an empty graph, else a dict with the simple edge set,
    forest, max depth, tree-edge frame, lifting tables, per-non-tree
    -edge lca frame (None on forests), and the per-node subtree-min
    ``work`` frame (node_id, depth, parent, m)."""
    e = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    if e.isEmpty():
        return None
    adj = (
        e.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(
            e.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )
    )
    from .components import connected_components

    comp = connected_components(
        e.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    roots = comp.select(F.col("component").alias("node_id")).distinct()
    tree, max_depth = _bfs_forest(adj, roots, max_rounds)
    tree_edges = (
        tree.filter(F.col("parent").isNotNull())
        .select(
            F.least("parent", "node_id").alias("a"),
            F.greatest("parent", "node_id").alias("b"),
            F.col("node_id").alias("child"),
            F.col("depth").alias("child_depth"),
        )
    )
    nte = e.join(tree_edges.select("a", "b"), ["a", "b"], "left_anti")
    tables = _lift_tables(tree, max(max_depth, 1))
    lca_pairs = None
    if not nte.isEmpty():
        lca_pairs = _nte_lca(nte, tree, tables)

    if lca_pairs is None:
        work = tree.select(
            "node_id", "depth", "parent", F.lit(_INF).alias("m")
        ).localCheckpoint(eager=True)
    else:
        scatter = lca_pairs.select(
            F.col("oa").alias("n"), "dlca"
        ).unionAll(lca_pairs.select(F.col("ob").alias("n"), "dlca"))
        mdr = scatter.groupBy(F.col("n").alias("node_id")).agg(
            F.min("dlca").alias("md")
        )
        work = (
            tree.join(mdr, "node_id", "left")
            .select(
                "node_id",
                "depth",
                "parent",
                F.coalesce(F.col("md"), F.lit(_INF)).alias("m"),
            )
            .localCheckpoint(eager=True)
        )
        # bottom-up subtree-min by depth layers
        for d in range(max_depth, 0, -1):
            up = (
                work.filter(F.col("depth") == d)
                .groupBy(F.col("parent").alias("node_id"))
                .agg(F.min("m").alias("child_m"))
            )
            work = (
                work.join(up, "node_id", "left")
                .select(
                    "node_id",
                    "depth",
                    "parent",
                    F.least(
                        F.col("m"),
                        F.coalesce(F.col("child_m"), F.lit(_INF)),
                    ).alias("m"),
                )
                # lazy: the layer loop builds one plan; the consumer's
                # action materializes it
                .localCheckpoint(eager=False)
            )
    return {
        "e": e,
        "tree": tree,
        "max_depth": max_depth,
        "tree_edges": tree_edges,
        "tables": tables,
        "lca_pairs": lca_pairs,
        "work": work,
    }


def bridges(edges: DataFrame, max_rounds: int = 10_000) -> DataFrame:
    """(a, b) with a < b — every bridge of the undirected simple graph.

    Self-loops are dropped; duplicate rows and opposite orientations
    collapse into one undirected edge.
    """
    fa = _forest_analysis(edges, max_rounds)
    if fa is None:
        return edges.sparkSession.createDataFrame([], "a long, b long")
    if fa["lca_pairs"] is None:
        # forest graph: every edge is a bridge
        return fa["tree_edges"].select("a", "b")
    return (
        fa["tree_edges"]
        .join(
            fa["work"].select(F.col("node_id").alias("child"), "m"),
            "child",
        )
        .filter(F.col("m") >= F.col("child_depth"))
        .select("a", "b")
    )


def articulation_points(
    edges: DataFrame, max_rounds: int = 10_000
) -> DataFrame:
    """(node_id) — every articulation (cut) vertex of the undirected
    simple graph, via the child-group rule above."""
    fa = _forest_analysis(edges, max_rounds)
    spark = edges.sparkSession
    if fa is None:
        return spark.createDataFrame([], "node_id long")
    tree, work, tables = fa["tree"], fa["work"], fa["tables"]
    children = (
        tree.filter(F.col("parent").isNotNull())
        .select(F.col("parent").alias("c"), F.col("node_id").alias("ch"))
    )
    glabel = None
    if fa["lca_pairs"] is not None:
        depth_of = tree.select(
            F.col("node_id").alias("__dn"), F.col("depth").alias("__dd")
        )
        # cross edges at their lca: lift both endpoints to the lca's
        # CHILD level (depth dlca + 1); endpoints equal to the lca are
        # excluded — those edges die with the vertex
        cg = fa["lca_pairs"].filter(
            (F.col("oa") != F.col("lca")) & (F.col("ob") != F.col("lca"))
        )
        cg = (
            cg.join(depth_of, cg["oa"] == F.col("__dn"))
            .withColumn("__del_a", F.col("__dd") - F.col("dlca") - 1)
            .drop("__dn", "__dd")
        )
        cg = (
            cg.join(depth_of, cg["ob"] == F.col("__dn"))
            .withColumn("__del_b", F.col("__dd") - F.col("dlca") - 1)
            .drop("__dn", "__dd")
        )
        cg = cg.withColumnRenamed("oa", "chu").withColumnRenamed(
            "ob", "chv"
        )
        cg = _lift_by(cg, "chu", "__del_a", tables)
        cg = _lift_by(cg, "chv", "__del_b", tables)
        cg_edges = cg.select(
            F.col("lca").alias("bkt"),
            F.col("chu").alias("src"),
            F.col("chv").alias("dst"),
        ).localCheckpoint(eager=False)
        if not cg_edges.isEmpty():
            # one stripe-encoded star-CC run over ALL per-vertex child
            # graphs (the bucketed_component_sizes encoding)
            mx = cg_edges.agg(
                F.greatest(F.max("src"), F.max("dst"), F.max("bkt")).alias(
                    "mxn"
                ),
                F.least(F.min("src"), F.min("dst"), F.min("bkt")).alias(
                    "mnn"
                ),
            ).first()
            if mx["mnn"] < 0:
                raise ValueError(
                    "articulation_points needs non-negative node ids"
                )
            off = mx["mxn"] + 1
            if off * off >= 2**62:
                raise ValueError(
                    "bucket*offset encoding would overflow int64; densify "
                    "node ids (e.g. via add_global_seq) first"
                )
            from .components import connected_components

            enc = cg_edges.select(
                (F.col("bkt") * F.lit(off) + F.col("src")).alias("src"),
                (F.col("bkt") * F.lit(off) + F.col("dst")).alias("dst"),
            )
            labels = connected_components(enc)
            glabel = labels.select(
                F.expr(f"node_id div {off}").alias("c"),
                F.expr(f"node_id % {off}").alias("ch"),
                F.expr(f"component % {off}").alias("lbl"),
            )
    grp = children.join(
        glabel if glabel is not None else children.limit(0).select(
            "c", "ch", F.col("ch").alias("lbl")
        ),
        ["c", "ch"],
        "left",
    ).select("c", "ch", F.coalesce(F.col("lbl"), F.col("ch")).alias("lbl"))
    # escape: the child's subtree reaches STRICTLY above c
    # (depth(c) = depth(ch) - 1)
    ch_m = work.select(
        F.col("node_id").alias("ch"),
        "m",
        (F.col("depth") - 1).alias("c_depth"),
    )
    grp = grp.join(ch_m, "ch").select(
        "c",
        "lbl",
        (F.col("m") < F.col("c_depth")).cast("int").alias("esc"),
    )
    per_group = grp.groupBy("c", "lbl").agg(F.max("esc").alias("g_esc"))
    per_c = per_group.groupBy("c").agg(
        F.count("*").alias("n_groups"),
        F.sum(1 - F.col("g_esc")).alias("n_trapped"),
    )
    verdict = tree.join(
        per_c, tree["node_id"] == per_c["c"], "left"
    ).select(
        "node_id",
        F.col("parent").isNull().alias("is_root"),
        F.coalesce(F.col("n_groups"), F.lit(0)).alias("n_groups"),
        F.coalesce(F.col("n_trapped"), F.lit(0)).alias("n_trapped"),
    )
    return verdict.filter(
        (F.col("is_root") & (F.col("n_groups") >= 2))
        | (~F.col("is_root") & (F.col("n_trapped") >= 1))
    ).select("node_id")


def two_edge_components(
    edges: DataFrame, max_rounds: int = 10_000
) -> DataFrame:
    """(node_id, component) — 2-edge-connected components: the
    connected components left after deleting every bridge (component =
    min member id, the star-CC labeling convention). Two nodes share a
    component iff they stay connected under ANY single edge failure —
    the fault-tolerance partition of the graph.

    Composes the two audited pieces: the ``bridges`` cut set and one
    star-CC run over the surviving edges; nodes whose every incident
    edge is a bridge come back as singletons."""
    spark = edges.sparkSession
    e = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    if e.isEmpty():
        return spark.createDataFrame([], "node_id long, component long")
    br = bridges(e.select(F.col("a").alias("src"), F.col("b").alias("dst")),
                 max_rounds)
    rem = e.join(br, ["a", "b"], "left_anti")
    nodes = (
        e.select(F.col("a").alias("node_id"))
        .unionAll(e.select(F.col("b").alias("node_id")))
        .distinct()
    )
    from .components import connected_components

    cc = connected_components(
        rem.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    return nodes.join(cc, "node_id", "left").select(
        "node_id",
        F.coalesce(F.col("component"), F.col("node_id")).alias("component"),
    )
