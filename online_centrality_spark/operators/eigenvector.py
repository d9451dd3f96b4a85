"""Eigenvector centrality by fixed-depth power iteration.

Companion static measure to PageRank / HITS (standard link-graph
toolkit; no reference counterpart — the reference's static baselines
stop at indegree/PageRank/Katz, `centrality_utils/` in
ferencberes/online-centrality).

Semantics (deterministic, oracle-checkable): over the symmetrized
DISTINCT pair graph, with ``v0 = 1`` on every node, repeat ``max_iter``
times ``v <- A v`` and L1-normalize once at the end.  The update is
linear, so per-step normalization (what the engine does for float
headroom) and end-only normalization (what the unrolled SQL oracle
does) yield the same vector exactly — the same commuting-scalar
argument as :mod:`.hits`.

Scale design: the one-push variant of the power step in
:mod:`.static_pagerank` with ``W = 1``, no bias, start ``1/n`` and a
rescale every round, run on the symmetrized graph. It shares that
module's compact numpy kernel below ``collect_threshold`` nodes and
its distributed loop: one push join (hub-salted when ``salt`` > 1) +
map-side-combined groupBy per round, one lazy lineage cut and
one stats collect, whose vector sum rescales the next round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .static_pagerank import _Power, _dedup, _power


def eigenvector_centrality(
    edges: DataFrame,
    max_iter: int = 12,
    collect_threshold: int = 100_000,
    salt: int = 1,
) -> DataFrame:
    """(node_id, score), L1-normalized; exactly ``max_iter`` iterations
    (fixed depth — the mode the unrolled SQL oracle replays)."""
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    sym = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    p = _Power(max_iter, rescale=True)
    return _power(_dedup(sym), None, p, collect_threshold, salt)[0]
