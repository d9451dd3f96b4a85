"""HITS hub/authority scores on the induced link digraph.

Companion static measure to PageRank (reference analogue: the static
baselines of `centrality_utils/base_computer.py`-style batch scores;
HITS itself has no reference counterpart — it is part of the standard
link-graph toolkit this engine ships alongside PageRank / CC / LPA /
triangles).

Semantics (deterministic, oracle-checkable): over the DISTINCT
``(src, dst)`` pair graph, with ``h0 = 1`` on every node, repeat
``max_iter`` times::

    a <- L1-normalize(A^T h)      (authority: sum of in-neighbor hubs)
    h <- L1-normalize(A a)        (hub: sum of out-neighbor authorities)

Per-step L1 normalization and end-only normalization yield the same
vectors exactly (the update is bilinear, scalars commute), which is what
makes an unrolled-CTE SQL oracle possible; the engine normalizes every
round for float headroom.

Scale design: HITS is the two-push variant of the power step in
:mod:`.static_pagerank` (``W = 1``, no bias, start ``1/n``, rescale
every round), so it shares that module's compact numpy kernel below
``collect_threshold`` nodes and its distributed loop: per round one
push join along the edges and one along the reversed edges (hub-salted
when ``salt`` > 1), each summed in one groupBy, one lazy
lineage cut and one stats collect, whose vector sums rescale
the next round. With ``tol`` > 0 that loop measures a round's change
one round later, so it pushes one extra round and returns the vectors
of the round the compact kernel stops at.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .static_pagerank import _Power, _dedup, _power


def hits(
    edges: DataFrame,
    max_iter: int = 50,
    tol: float = 1e-9,
    collect_threshold: int = 100_000,
    salt: int = 1,
) -> DataFrame:
    """(node_id, hub, authority), both vectors L1-normalized.

    ``tol <= 0`` runs exactly ``max_iter`` iterations — the mode the
    fixed-depth SQL oracle pins; otherwise the loop stops once the
    round's ``L1(delta hub) + L1(delta authority) < tol``.
    """
    p = _Power(
        max_iter, rescale=True, cols=("authority", "hub"),
        stop=lambda n: tol,
    )
    out, _ = _power(_dedup(edges), None, p, collect_threshold, salt)
    return out.select("node_id", "hub", "authority")
