"""Static PageRank with networkx-parity semantics, DataFrame-iterative.

The reference delegates to ``nx.pagerank(G, alpha, max_iter)``
(``static_pagerank_computer.py:42``) on the dedup digraph. networkx's
documented power iteration: out-weight-normalized push, teleport and
dangling mass to the personalization vector (uniform by default), stop
when the L1 change < N * tol (tol = 1e-6), raise if ``max_iter`` is
exhausted. We reproduce that exactly so per-vertex scores match to
allclose(1e-6).

Every public function here runs ONE power-iteration step and differs
only in its inputs: the push weight ``w`` of each edge and the teleport
set ``T`` (every node for plain and weighted PageRank, the seeds for
personalized PageRank). With ``W(u)`` the total out-weight of ``u``
(its out-degree when ``w = 1``) and ``D`` the rank held by dangling
nodes (``W = 0``)::

    x'[v] = alpha * sum_{u->v} x[u] * w(u, v) / W(u)
            + (alpha * D + 1 - alpha) * [v in T] / |T|

so teleport AND dangling mass land uniformly on ``T``, which is also the
start vector.

Two physical strategies behind one logical operator:

- **distributed** (default for big graphs): ranks live in a DataFrame;
  each round is one push join (hub-salted when ``salt`` > 1,
  functions/skew.py) + ``groupBy(dst).sum`` (map-side partial agg absorbs
  hub skew; AQE re-splits skewed reducers), a lazy ``localCheckpoint``
  that keeps plans O(1), and exactly ONE driver collect: the round's L1
  change, max change and the next round's dangling mass in one
  aggregate, which also materializes the checkpoint.

- **compact** (node count at most ``collect_threshold``): the whole graph
  ships through one Arrow task and iterates in numpy — the right plan
  when the graph is a per-snapshot window over a small actor dictionary
  (a 100-iteration loop of Spark jobs over 10 nodes is the wrong plan).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.skew import salted_join


class PageRankDiverged(RuntimeError):
    pass


_NO_SEED = "personalized_pagerank: no seed is a graph node"

_PR_SCHEMA = T.StructType(
    [
        T.StructField("node_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def _power_numpy(src, dst, w, seeds, alpha, max_iter, tol, strict, what):
    """The numpy kernel of the step: (node ids sorted, ranks) for push
    weights ``w`` and teleport set ``seeds`` (None = every node)."""
    nodes = np.unique(np.concatenate([src, dst]))
    n = len(nodes)
    if n == 0:
        return nodes, np.array([])
    s = np.searchsorted(nodes, src)
    d = np.searchsorted(nodes, dst)
    ind = np.ones(n) if seeds is None else np.isin(nodes, seeds) * 1.0
    k = ind.sum()
    if k == 0:
        raise ValueError(_NO_SEED)
    wout = np.bincount(s, weights=w, minlength=n)
    dangling = wout == 0
    safe_out = np.where(wout > 0, wout, 1.0)
    x = ind / k
    for _ in range(max_iter):
        xlast = x
        share = alpha * xlast / safe_out
        x = np.bincount(d, weights=share[s] * w, minlength=n)
        x += (alpha * xlast[dangling].sum() + (1.0 - alpha)) * ind / k
        if np.abs(x - xlast).sum() < n * tol:
            return nodes, x
    if strict:
        raise PageRankDiverged(
            f"{what} failed to converge in {max_iter} iterations"
        )
    return nodes, x  # fixed-iteration mode (strict=False)


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
    return _power_numpy(
        src, dst, np.ones(len(src)), None, alpha, max_iter, tol, strict,
        "pagerank",
    )


def _compact(g: DataFrame, seeds, alpha, max_iter, tol, strict, what):
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
        nodes, ranks = _power_numpy(
            pdf["src"].to_numpy(np.int64),
            pdf["dst"].to_numpy(np.int64),
            pdf["w"].to_numpy(np.float64),
            seed_vals, alpha, max_iter, tol, strict, what,
        )
        yield pd.DataFrame({"node_id": nodes.astype(np.int64), "score": ranks})

    return g.coalesce(1).mapInPandas(kernel, schema=_PR_SCHEMA)


def _distributed(g: DataFrame, n: int, seeds, alpha, max_iter, tol, strict,
                 salt, what):
    """The distributed loop: (ranks, [(round, l1_delta, max_delta)])."""
    g = g.persist()
    nodes = (
        g.select(F.col("src").alias("node_id"))
        .unionAll(g.select(F.col("dst").alias("node_id")))
        .distinct()
    )
    # teleport indicator: every node, or seeds ∩ nodes. The seed frame is
    # user-supplied and typically tiny — but NO broadcast hint: AQE
    # broadcasts small sides on its own, and a corpus-sized seed set
    # must be allowed to shuffle (the prepare_training_data lesson).
    tele = (
        nodes.withColumn("ind", F.lit(1.0))
        if seeds is None
        else nodes.join(seeds.withColumn("ind", F.lit(1.0)), "node_id", "left")
    )
    wout = g.groupBy(F.col("src").alias("node_id")).agg(F.sum("w").alias("wout"))
    base = tele.join(wout, "node_id", "left").fillna(0.0, ["wout", "ind"]).persist()
    k, dangle_tele = base.agg(
        F.sum("ind"), F.sum(F.when(F.col("wout") == 0, F.col("ind")))
    ).collect()[0]
    if not k:
        raise ValueError(_NO_SEED)
    # start uniform over the teleport set: the first dangling mass is a
    # closed form of the same aggregate, not a job
    dangle = (dangle_tele or 0.0) / k
    ranks = base.select("node_id", "wout", (F.col("ind") / F.lit(k)).alias("rank"))
    rows = []
    for i in range(1, max_iter + 1):
        push = (
            salted_join(g, ranks, key="src", salt=salt, dim_key="node_id")
            .groupBy(F.col("dst").alias("node_id"))
            .agg(F.sum(F.col("rank") * F.col("w") / F.col("wout")).alias("contrib"))
        )
        c = alpha * dangle + (1.0 - alpha)
        new_ranks = (
            base.join(push, "node_id", "left")
            .select(
                "node_id",
                "wout",
                (
                    F.lit(alpha) * F.coalesce(F.col("contrib"), F.lit(0.0))
                    + F.lit(c) * F.col("ind") / F.lit(k)
                ).alias("rank"),
            )
            # lazy: the stats collect below is the materializing action,
            # so each round costs ONE job
            .localCheckpoint(eager=False)
        )
        delta = F.abs(F.col("rank") - F.col("old"))
        l1, mx, dangle = (
            new_ranks.join(
                ranks.select("node_id", F.col("rank").alias("old")), "node_id"
            )
            .agg(
                F.sum(delta),
                F.max(delta),
                F.sum(F.when(F.col("wout") == 0, F.col("rank"))),
            )
            .collect()[0]
        )
        rows.append((i, float(l1), float(mx)))
        dangle = float(dangle or 0.0)
        ranks = new_ranks
        if l1 < n * tol:
            return ranks, rows
    if strict:
        raise PageRankDiverged(
            f"{what} failed to converge in {max_iter} iterations"
        )
    return ranks, rows


def _pagerank(g: DataFrame, seeds, alpha, max_iter, tol, strict,
              collect_threshold, salt, what):
    """Shared prologue over ``g = (src, dst, w)``, one row per pair:
    node count, empty-graph return, compact-or-distributed choice.
    Returns (scores, per-round rows); rows are empty off the
    distributed path."""
    n = (
        g.select(F.col("src").alias("n"))
        .unionAll(g.select(F.col("dst").alias("n")))
        .distinct()
        .count()
    )
    if n == 0:
        return g.sparkSession.createDataFrame([], _PR_SCHEMA), []
    if n <= collect_threshold:
        return _compact(g, seeds, alpha, max_iter, tol, strict, what), []
    ranks, rows = _distributed(
        g, n, seeds, alpha, max_iter, tol, strict, salt, what
    )
    return ranks.select("node_id", F.col("rank").alias("score")), rows


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
    return _pagerank(
        _dedup(edges), None, alpha, max_iter, tol, strict,
        collect_threshold, salt, "pagerank",
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
    return _pagerank(
        _dedup(edges), seed_df, alpha, max_iter, tol, strict,
        collect_threshold, salt, "personalized pagerank",
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
    return _pagerank(
        w, None, alpha, max_iter, tol, strict,
        collect_threshold, salt, "weighted pagerank",
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
    _, rows = _pagerank(
        _dedup(edges), None, alpha, iters, 0.0, False, 0, salt, "pagerank"
    )
    return edges.sparkSession.createDataFrame(
        rows, "iter long, l1_delta double, max_delta double"
    )
