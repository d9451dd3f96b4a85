"""Static PageRank with networkx-parity semantics, DataFrame-iterative,
and the one power-iteration step that PageRank, static Katz, HITS,
SALSA and eigenvector centrality all run on.

The reference delegates to ``nx.pagerank(G, alpha, max_iter)``
(``static_pagerank_computer.py:42``) on the dedup digraph. networkx's
documented power iteration: out-weight-normalized push, teleport and
dangling mass to the personalization vector (uniform by default), stop
when the L1 change < N * tol (tol = 1e-6), raise if ``max_iter`` is
exhausted. We reproduce that exactly so per-vertex scores match to
allclose(1e-6).

The step, over an edge frame ``(src, dst, w)``, is one linear push
followed by an optional L1 rescale::

    x'[v] = alpha * sum_{u->v} x[u] * w(u, v) / W(u)  +  c * b[v] / k

``W(u)`` is the out-weight of ``u`` along the push, or 1. ``b`` is a
per-node bias column and ``c`` its per-round scalar ``dangling * D +
const``, with ``D`` the mass held by nodes with ``W = 0``. The start
vector is ``b / k``. Every variant differs only in these inputs:

==========  ==============  ====  ==========  =====================  =======
variant     graph           push  W(u)        c * b / k              rescale
==========  ==============  ====  ==========  =====================  =======
PageRank,   dedup digraph   1     out-weight  (alpha D + 1 - alpha)  no
PPR,                                          * [v in T] / |T|
weighted
static      dedup (multi-   1     1           alpha * indeg(v)       no
Katz        graph if
            ``weighted``)
eigen-      symmetrized,    1     1           0, start 1/n           yes
vector      no self-loops
HITS        dedup digraph   2     1           0, start 1/n           yes
SALSA       dedup, no       2     out-weight  0, start 1/n           yes
            self-loops
==========  ==============  ====  ==========  =====================  =======

and in when they stop: PageRank when the round's L1 change < n * tol
(``strict`` raises at the cap); Katz when it is < n * tol or exactly
zero (the next term is all zero: a DAG runs out of walks), raising at
the cap; HITS when ``L1(dh) + L1(da) < tol`` if ``tol`` > 0, returning
at the cap; eigenvector and SALSA run a fixed depth. ``T`` is the
teleport set (every node, or the PPR seeds). With two pushes a round
first pushes along the edges (the authority vector), then along the
reversed edges (the hub vector, whose ``W`` is then the in-weight), and
rescales both at the end of the round: the update is linear, so that
equals rescaling after each half (and SALSA's end-only normalization).

Two physical strategies behind one logical operator:

- **distributed** (default for big graphs): the vectors live in a
  DataFrame; each push is one join against a copy of the edges
  hash-partitioned on its key (hub-salted when ``salt`` > 1,
  functions/skew.py), then one ``groupBy`` that sums the pushed rows
  together with the node rows, so the node's columns ride along
  instead of a second join (map-side partial agg absorbs hub skew;
  AQE re-splits skewed reducers). Each round ends in a lazy
  ``localCheckpoint`` that keeps plans O(1), and exactly ONE driver
  collect: the round's L1 change, max change, vector sums and the next
  round's dangling mass in one aggregate, which also materializes the
  checkpoint. Rescaling costs no action: the sums come back as literals
  that divide the next round's input. A rescaled round so learns its
  own sum only in that collect and measures its L1 change one round
  later, against the rescaled previous vector; a stop then returns that
  previous vector (one extra push round, the same answer).

- **compact** (node count at most ``collect_threshold``): the whole graph
  ships through one Arrow task and iterates in numpy — the right plan
  when the graph is a per-snapshot window over a small actor dictionary
  (a 100-iteration loop of Spark jobs over 10 nodes is the wrong plan).
"""

from __future__ import annotations

from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.skew import salted_join


class PageRankDiverged(RuntimeError):
    pass


_NO_SEED = "personalized_pagerank: no seed is a graph node"


class _Power(NamedTuple):
    """The inputs that tell one variant of the step from another."""

    max_iter: int
    alpha: float = 1.0  # push scale
    out_weight: bool = False  # W(u) = out-weight along the push, else 1
    dangling: float = 0.0  # c = dangling * D + const
    const: float = 0.0
    in_bias: float = 0.0  # b = in_bias * in-weight, k = 1; 0: b = [v in T]
    rescale: bool = False  # L1-normalize every vector after each round
    cols: tuple = ("score",)  # one output column per push
    stop: Callable[[int], float] = lambda n: 0.0  # L1 threshold for n nodes
    error: Exception | None = None  # raised at the cap; None returns


def _pagerank_spec(what, alpha, max_iter, tol, strict) -> _Power:
    return _Power(
        max_iter, alpha, out_weight=True, dangling=alpha, const=1.0 - alpha,
        stop=lambda n: n * tol,
        error=PageRankDiverged(
            f"{what} failed to converge in {max_iter} iterations"
        ) if strict else None,
    )


def _schema(p: _Power) -> T.StructType:
    return T.StructType(
        [T.StructField("node_id", T.LongType(), False)]
        + [T.StructField(c, T.DoubleType(), False) for c in p.cols]
    )


def _power_numpy(src, dst, w, seeds, p: _Power):
    """The numpy kernel of the step: (node ids sorted, [vector per
    push]) for push weights ``w`` and teleport set ``seeds`` (None =
    every node)."""
    nodes = np.unique(np.concatenate([src, dst]))
    n = len(nodes)
    if n == 0:
        return nodes, [np.zeros(0)] * len(p.cols)
    s = np.searchsorted(nodes, src)
    d = np.searchsorted(nodes, dst)
    if p.in_bias:
        b, k = p.in_bias * np.bincount(d, weights=w, minlength=n), 1.0
    else:
        b = np.ones(n) if seeds is None else np.isin(nodes, seeds) * 1.0
        k = b.sum()
        if k == 0:
            raise ValueError(_NO_SEED)
    sides = [(s, d), (d, s)][: len(p.cols)]
    wsum = [
        np.bincount(a, weights=w, minlength=n) if p.out_weight else np.ones(n)
        for a, _ in sides
    ]
    vecs = [np.zeros(n)] * (len(sides) - 1) + [b / k]
    stop = p.stop(n)
    for _ in range(p.max_iter):
        old = vecs
        c = p.dangling * old[-1][wsum[0] == 0].sum() + p.const
        vecs = []
        for (a, z), ws in zip(sides, wsum):
            prev = vecs[-1] if vecs else old[-1]
            share = p.alpha * prev / np.where(ws > 0, ws, 1.0)
            x = np.bincount(z, weights=share[a] * w, minlength=n)
            x += c * b / k
            vecs.append(x)
        if p.rescale:
            vecs = [x / x.sum() if x.sum() > 0 else x for x in vecs]
        if sum(np.abs(x - o).sum() for x, o in zip(vecs, old)) < stop:
            return nodes, vecs
    if p.error is not None:
        raise p.error
    return nodes, vecs


def pagerank_numpy(
    src: np.ndarray,
    dst: np.ndarray,
    alpha: float = 0.85,
    max_iter: int = 100,
    tol: float = 1e-6,
    strict: bool = True,
) -> tuple[np.ndarray, np.ndarray]:
    """networkx-parity power iteration on dedup edge arrays.

    Returns (node_ids sorted, ranks); the compact path's kernel with
    unit weights and every node in the teleport set.
    """
    nodes, (x,) = _power_numpy(
        src, dst, np.ones(len(src)), None,
        _pagerank_spec("pagerank", alpha, max_iter, tol, strict),
    )
    return nodes, x


def _compact(g: DataFrame, seeds, p: _Power) -> DataFrame:
    seed_vals = (
        None
        if seeds is None
        else np.array([r[0] for r in seeds.collect()], dtype=np.int64)
    )

    def kernel(batches):
        chunks = [pdf for pdf in batches if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        nodes, vecs = _power_numpy(
            pdf["src"].to_numpy(np.int64),
            pdf["dst"].to_numpy(np.int64),
            pdf["w"].to_numpy(np.float64),
            seed_vals, p,
        )
        yield pd.DataFrame(
            {"node_id": nodes.astype(np.int64), **dict(zip(p.cols, vecs))}
        )

    return g.coalesce(1).mapInPandas(kernel, schema=_schema(p))


def _distributed(g, by_key, sides, n, seeds, p: _Power, salt):
    """The distributed loop: (frame of node_id + one column per push,
    [(round, l1_delta, max_delta)])."""
    # one shuffle gives every node with its out- and in-weight
    deg = (
        g.select(F.col("src").alias("node_id"), F.col("w").alias("wout"),
                 F.lit(0.0).alias("win"))
        .unionAll(g.select(F.col("dst").alias("node_id"),
                           F.lit(0.0).alias("wout"), F.col("w").alias("win")))
        .groupBy("node_id")
        .agg(F.sum("wout").alias("wout"), F.sum("win").alias("win"))
    )
    # teleport indicator: every node, or seeds ∩ nodes. The seed frame is
    # user-supplied and typically tiny — but NO broadcast hint: AQE
    # broadcasts small sides on its own, and a corpus-sized seed set
    # must be allowed to shuffle (the prepare_training_data lesson).
    ind = F.lit(1.0)
    if seeds is not None:
        deg = deg.join(seeds.withColumn("ind", F.lit(1.0)), "node_id", "left")
        ind = F.coalesce(F.col("ind"), F.lit(0.0))
    ws = [f"W{j}" for j in range(len(sides))]
    base = deg.select(
        "node_id",
        (F.col("win") * p.in_bias if p.in_bias else ind).alias("b"),
        *[(F.col(a) if p.out_weight else F.lit(1.0)).alias(w)
          for a, w in zip(("wout", "win"), ws)],
    ).localCheckpoint(eager=False)
    k, dangle_b = base.agg(
        F.sum("b"), F.sum(F.when(F.col("W0") == 0, F.col("b")))
    ).collect()[0]
    if p.in_bias:
        k = 1.0
    elif not k:
        raise ValueError(_NO_SEED)
    # Per push j: vj = this round's vector, raw (a rescaled round learns
    # its own sum only in its stats collect); pvj = the previous round's
    # vector, rescaled by the sum that collect returned; qvj = the one
    # before. So with rescaling the change of round r is measured in
    # round r + 1 (pv against qv), without it in round r (v against pv).
    vs = [f"v{j}" for j in range(len(sides))]
    pv = [f"p{v}" for v in vs]
    qv = [f"q{v}" for v in vs]
    new, old = (pv, qv) if p.rescale else (vs, pv)
    # the start vector is b / k, its dangling mass a closed form of the
    # same aggregate, not a job; no earlier iterate: infinite change
    state = base.select(
        "node_id", "b", *ws,
        *[(F.col("b") / F.lit(k) if v == vs[-1] else F.lit(0.0)).alias(v)
          for v in vs],
        *[F.lit(float("inf")).alias(q) for q in pv],
    )
    tot = [1.0] * len(vs)
    dangle = (dangle_b or 0.0) / k
    stop = p.stop(n)
    rows = []
    for i in range(1, p.max_iter + 1):
        c = p.dangling * dangle + p.const
        frame = state.select(
            "node_id", "b", *ws,
            *[(F.col(v) / F.lit(t)).alias(q) for v, t, q in zip(vs, tot, pv)],
            *[F.col(a).alias(q) for a, q in zip(pv, qv)],
        )
        x = pv[-1]
        for (a, z), w, v in zip(sides, ws, vs):
            push = salted_join(
                by_key[a], frame.select("node_id", w, F.col(x).alias("x")),
                key=a, salt=salt, dim_key="node_id",
            ).select(
                F.col(z).alias("node_id"),
                (F.col("x") * F.col("w") / F.col(w)).alias("contrib"),
            )
            # the pushed rows and the node rows meet in ONE shuffle: the
            # node's columns ride along instead of a second join
            keep = frame.columns[1:]
            frame = (
                frame.withColumn("contrib", F.lit(0.0))
                .unionByName(push, allowMissingColumns=True)
                .groupBy("node_id")
                .agg(*[F.max(col).alias(col) for col in keep],
                     F.sum("contrib").alias("contrib"))
                .select(
                    "node_id", *keep,
                    (F.lit(p.alpha) * F.col("contrib")
                     + F.lit(c) * F.col("b") / F.lit(k)).alias(v),
                )
            )
            x = v
        # lazy: the stats collect below is the materializing action, so
        # each round costs ONE driver action
        state = frame.select("node_id", "b", *ws, *vs, *pv, *qv)
        state = state.localCheckpoint(eager=False)
        deltas = [F.abs(F.col(a) - F.col(b)) for a, b in zip(new, old)]
        got = state.agg(
            *[F.sum(v) for v in vs], *[F.sum(d) for d in deltas],
            *[F.max(d) for d in deltas],
            F.sum(F.when(F.col("W0") == 0, F.col(vs[-1]))),
        ).collect()[0]
        m = len(vs)
        if p.rescale:
            tot = [float(t) if t and t > 0 else 1.0 for t in got[:m]]
        l1 = sum(float(d) for d in got[m: 2 * m])
        rows.append((i, l1, max(float(d) for d in got[2 * m: 3 * m])))
        dangle = float(got[-1] or 0.0) / tot[-1]
        if l1 < stop:
            return state.select("node_id", *new), rows
    if p.error is not None:
        raise p.error
    return state.select(
        "node_id", *[(F.col(v) / F.lit(t)).alias(v) for v, t in zip(vs, tot)]
    ), rows


def _power(g: DataFrame, seeds, p: _Power, collect_threshold, salt=1):
    """Shared prologue over ``g = (src, dst, w)``: node count,
    empty-graph return, compact-or-distributed choice. Returns
    (node_id + ``p.cols`` frame, per-round rows); rows are empty off
    the distributed path."""
    # the node count below materializes the edges once for both paths
    g = g.localCheckpoint(eager=False)
    n = (
        g.select(F.col("src").alias("n"))
        .unionAll(g.select(F.col("dst").alias("n")))
        .distinct()
        .count()
    )
    if n == 0:
        return g.sparkSession.createDataFrame([], _schema(p)), []
    if n <= collect_threshold:
        return _compact(g, seeds, p), []
    sides = [("src", "dst"), ("dst", "src")][: len(p.cols)]
    # one copy of the edges per push, hash-partitioned on the key it
    # joins on, so no round shuffles the edges; released on the way out
    by_key = {a: g.repartition(a).persist() for a, _ in sides}
    try:
        out, rows = _distributed(g, by_key, sides, n, seeds, p, salt)
    finally:
        for e in by_key.values():
            e.unpersist()
    return out.toDF("node_id", *p.cols), rows


def _dedup(edges: DataFrame) -> DataFrame:
    """The dedup digraph with unit push weights."""
    return (
        edges.select("src", "dst")
        .dropDuplicates(["src", "dst"])
        .withColumn("w", F.lit(1.0))
    )


def static_pagerank(
    edges: DataFrame,
    alpha: float = 0.85,
    max_iter: int = 100,
    tol: float = 1e-6,
    collect_threshold: int = 100_000,
    strict: bool = True,
    salt: int = 1,
) -> DataFrame:
    """(node_id, score) networkx-parity PageRank on the dedup digraph.

    ``salt`` > 1 applies explicit hub salting to the per-iteration
    contribution join (functions/skew.py) in the distributed path.
    """
    return _power(
        _dedup(edges), None,
        _pagerank_spec("pagerank", alpha, max_iter, tol, strict),
        collect_threshold, salt,
    )[0]


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    alpha: float = 0.85,
    max_iter: int = 100,
    tol: float = 1e-6,
    collect_threshold: int = 100_000,
    strict: bool = True,
    salt: int = 1,
) -> DataFrame:
    """(node_id, score) PPR on the dedup digraph, restarting at ``seeds``
    (a 1-column DataFrame of node ids; rows not in the graph are
    ignored; uniform restart over the rest).

    The teleport set is the seeds, which also receive the dangling mass
    (networkx's documented default — dangling defaults to the
    personalization vector); everything else is :func:`static_pagerank`.
    """
    seed_df = seeds.select(F.col(seeds.columns[0]).alias("node_id")).distinct()
    return _power(
        _dedup(edges), seed_df,
        _pagerank_spec("personalized pagerank", alpha, max_iter, tol, strict),
        collect_threshold, salt,
    )[0]


def weighted_pagerank(
    wedges: DataFrame,
    alpha: float = 0.85,
    max_iter: int = 100,
    tol: float = 1e-6,
    collect_threshold: int = 100_000,
    strict: bool = True,
    salt: int = 1,
) -> DataFrame:
    """(node_id, score) — PageRank with weight-proportional transitions.

    networkx-parity semantics for a weighted digraph (``nx.pagerank``
    with ``weight=``): input is ``(src, dst, w)``; multiplicities of a
    pair are summed; the push step sends ``rank * w / W_src`` along each
    edge where ``W_src`` is the source's total out-weight, dangling mass
    (``W_src = 0``) redistributes uniformly, teleport is uniform. With
    all weights equal this reduces exactly to :func:`static_pagerank`.
    """
    w = (
        wedges.select("src", "dst", F.col("w").cast("double").alias("w"))
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    return _power(
        w, None,
        _pagerank_spec("weighted pagerank", alpha, max_iter, tol, strict),
        collect_threshold, salt,
    )[0]


def pagerank_convergence(
    edges: DataFrame,
    alpha: float = 0.85,
    iters: int = 30,
    salt: int = 1,
) -> DataFrame:
    """(iter, l1_delta, max_delta) — the per-iteration convergence
    profile of the DISTRIBUTED PageRank loop: for every superstep the
    L1 and max absolute per-node rank change against the previous
    iterate. This is the north-star "per-iteration convergence
    metrics" surface exposed as queryable data (the temporal family
    writes the same telemetry to ``_metrics/`` parquet;
    ``plans/superstep.py``): an operator planning a 10^12-edge run
    reads the delta curve to pick its iteration budget instead of
    guessing.

    Fixed depth (no early exit) so the unrolled SQL oracle is
    round-for-round identical. The rows are the distributed loop's own
    per-round stats collect, so the profile costs no extra job over
    :func:`static_pagerank`.
    """
    _, rows = _power(
        _dedup(edges), None,
        _pagerank_spec("pagerank", alpha, iters, 0.0, False), 0, salt,
    )
    return edges.sparkSession.createDataFrame(
        rows, "iter long, l1_delta double, max_delta double"
    )
