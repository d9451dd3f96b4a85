"""SALSA hub/authority scores (Lempel & Moran, WWW 2000).

The random-walk variant of HITS: instead of raw neighbor sums, each
step is a stochastic redistribution —

    a(j) = sum_{i -> j} h(i) / outdeg(i)
    h(i) = sum_{i -> j} a(j) / indeg(j)

so hubs split their mass across their out-links and authorities split
theirs across their in-links (the TKC-effect fix over HITS: a dense
clique cannot hoard score). No reference counterpart — part of the
standard link-graph toolkit this engine ships alongside PageRank /
HITS / eigenvector.

Determinism / oracle parity: the update is linear with FIXED degree
denominators, so running ``max_iter`` rounds unnormalized and applying
one L1 normalization per vector at the end equals any per-step
normalization schedule (scalars commute — the HITS/eigenvector
argument). The engine rescales every round.

Scale shape: SALSA is the two-push variant of the power step in
:mod:`.static_pagerank` with ``W(u)`` the out-weight along each push
(the out-degree forward, the in-degree along the reversed edges), no
bias and start ``1/n``. It runs that module's distributed loop only
(``collect_threshold=0``, as ``pagerank_convergence`` does): per round
two push joins with map-side groupBy-sums, one lazy lineage cut
and one stats collect, whose vector sums rescale the next round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .static_pagerank import _Power, _dedup, _power


def salsa(edges: DataFrame, max_iter: int = 12) -> DataFrame:
    """(node_id, hub, authority) after ``max_iter`` SALSA rounds,
    each vector L1-normalized at the end; nodes the walk never reaches
    on a side carry 0.0 there."""
    p = _Power(
        max_iter, out_weight=True, rescale=True, cols=("authority", "hub")
    )
    g = _dedup(edges.filter(F.col("src") != F.col("dst")))
    return _power(g, None, p, 0)[0].select("node_id", "hub", "authority")
