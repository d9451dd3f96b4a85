"""One level-synchronous frontier sweep for the BFS and min-plus loops.

Every traversal operator in the engine (BFS distances, all-pairs hop
metrics, harmonic centrality, the Brandes forward sweep, bow-tie
reachability, weighted SSSP, earliest-arrival reachability and the SCC
backward flagging) is the same loop: expand the frontier through the
edges, keep the candidates that are new (or, with a value column,
improved), stop when nothing is left, and merge into a settled frame.
:func:`frontier_sweep` is that loop; callers supply only the expansion
and fold the per-depth frontiers into their own output.

Scale shape per round: the caller's expansion (one join of the
frontier against the persisted edges plus one per-key aggregate), one
anti-join (or, with a value column, a left join) against the settled
frame, and exactly ONE driver action: the frontier's row count, which
is both the stop test and the job that materializes the frontier's
lazy ``localCheckpoint``. The settled frame is checkpointed lazily too
and materialized by the next round's join — the round shape of the
distributed PageRank loop, so plans stay O(1) at any depth.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def frontier_sweep(
    seeds: DataFrame,
    expand: Callable[[DataFrame], DataFrame],
    keys: list[str],
    max_rounds: int,
    what: str,
    value: str | None = None,
) -> tuple[list[DataFrame], DataFrame]:
    """Sweep from ``seeds`` to the fixpoint; return ``(levels,
    settled)``.

    ``expand(frontier)`` returns the next candidates, at most one row
    per ``keys``. A candidate enters the new frontier when its key is
    not yet settled or — with a ``value`` column (a distance or an
    arrival time) — when its value is smaller than the settled one;
    the settled frame then keeps the minimum. ``levels[0]`` is the
    checkpointed seeds and ``levels[d]`` the non-empty frontier of
    depth ``d``, with every column ``expand`` produced; ``settled``
    holds ``keys`` (and ``value``) of every level.

    Round cap: at most ``max_rounds`` expansions run, and a sweep whose
    deepest non-empty frontier is at depth D needs ``max_rounds >= D +
    1`` (the empty expansion D + 1 is the stop test). If expansion
    ``max_rounds`` is still non-empty the sweep raises ``RuntimeError``
    naming ``what`` rather than returning a truncated relation.
    """
    cols = keys + ([value] if value else [])
    frontier = seeds.localCheckpoint(eager=False)
    settled = frontier.select(*cols)
    levels = [frontier]
    for _ in range(max_rounds):
        cand = expand(frontier)
        if value is None:
            new = cand.join(settled, keys, "left_anti")
        else:
            old = settled.withColumnRenamed(value, "_settled")
            new = (
                cand.join(old, keys, "left")
                .filter(
                    F.col("_settled").isNull()
                    | (F.col(value) < F.col("_settled"))
                )
                .drop("_settled")
            )
        frontier = new.localCheckpoint(eager=False)
        if frontier.count() == 0:
            return levels, settled
        levels.append(frontier)
        merged = settled.unionByName(frontier.select(*cols))
        if value is not None:
            merged = merged.groupBy(*keys).agg(F.min(value).alias(value))
        settled = merged.localCheckpoint(eager=False)
    raise RuntimeError(
        f"{what}: the frontier is still non-empty after {max_rounds} "
        "rounds; raise the round cap"
    )
