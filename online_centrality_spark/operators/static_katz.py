"""Static Katz centrality (power-series), DataFrame-iterative.

Reference semantics (``concept_drift/experiment_utils.py:21-43``): column
sums of ``sum_i (alpha * A)^i`` — equivalently the iteration
``k <- alpha * A^T k + alpha * indeg`` started from its first term
``alpha * indeg`` — with a divergence guard ``alpha < 1 / lambda_max``
(``get_1_per_lambda``, ``experiment_utils.py:14-19``) and a
mean-absolute-delta stopping rule. Optionally binarized (dedup)
weights, matching the reference's ``binary=True`` default.

Used by the reference only as a concept-drift ground truth; here it is a
first-class operator. Multi-edge weights: ``weighted=True`` keeps
parallel-edge multiplicity as the A entry; default binarizes.

Scale design: that iteration is the one-push variant of the power step
in :mod:`.static_pagerank` with ``W = 1`` and the bias ``alpha *
indeg``, so Katz shares that module's compact numpy kernel below
``collect_threshold`` nodes and its distributed loop (one push join,
one lazy lineage cut and one stats collect per round). Both
paths return every node of src ∪ dst (0.0 where no walk ends), stop
when a term's mean absolute value drops below ``tol`` or the term is
all zero (a DAG runs out of walks), and raise ``RuntimeError`` when
``max_iter`` terms do not get there.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .static_pagerank import _Power, _power, _power_numpy

# the least positive double: an L1 change below it is exactly zero
_ZERO_TERM = float(np.nextafter(0.0, 1.0))


def _katz_spec(alpha, max_iter, tol) -> _Power:
    return _Power(
        max_iter, alpha, const=1.0, in_bias=alpha,
        stop=lambda n: max(n * tol, _ZERO_TERM),
        error=RuntimeError(
            f"katz series did not converge (alpha={alpha} too large?)"
        ),
    )


def katz_numpy(
    src: np.ndarray,
    dst: np.ndarray,
    alpha: float,
    max_iter: int = 200,
    tol: float = 1e-10,
    weighted: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """Reference-faithful series on edge arrays: score = column sums of
    ``sum_i (alpha A)^i`` (walks ENDING at the node)."""
    if not weighted:
        # binarize parallel edges
        src, dst = np.unique(np.stack([src, dst], axis=1), axis=0).T
    nodes, (score,) = _power_numpy(
        src, dst, np.ones(len(src)), None, _katz_spec(alpha, max_iter, tol)
    )
    return nodes, score


def static_katz(
    edges: DataFrame,
    alpha: float = 0.05,
    max_iter: int = 200,
    tol: float = 1e-10,
    weighted: bool = False,
    collect_threshold: int = 100_000,
) -> DataFrame:
    """(node_id, score) static Katz on the (optionally binarized) graph."""
    g = edges.select("src", "dst")
    if not weighted:
        g = g.dropDuplicates(["src", "dst"])
    return _power(
        g.withColumn("w", F.lit(1.0)), None,
        _katz_spec(alpha, max_iter, tol), collect_threshold,
    )[0]
