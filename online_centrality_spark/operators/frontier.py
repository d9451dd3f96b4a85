"""The engine's two iteration primitives: a frontier sweep and a fixpoint.

:func:`frontier_sweep` is the level-synchronous BFS / min-plus loop
(BFS distances, all-pairs hop metrics, harmonic centrality, the Brandes
forward sweep, bow-tie reachability, weighted SSSP, earliest-arrival
reachability, the SCC backward flagging). Use it when a round touches
only the keys the previous round reached: callers supply the expansion
and fold the per-depth frontiers into their own output.

:func:`fixpoint` is the whole-state loop (star-CC contraction, label
propagation, seeded label spreading, the SCC forward coloring, the
k-core and k-truss peels). Use it when every round rewrites the whole
state — a label per node or a shrinking edge set — and the loop stops
when a round changes nothing.

Scale shape per round, both: the caller's joins and aggregates, a lazy
``localCheckpoint`` of the round's output, and exactly ONE driver
action that is both the stop test and the job that materializes the
checkpoint (a row count for the sweep, one ``(rows, changed)``
aggregate for the fixpoint) — the round shape of the distributed
PageRank loop, so plans stay O(1) at any depth.
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


def fixpoint(
    seed: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_rounds: int,
    what: str,
    strict: bool = True,
    rows: int | None = None,
) -> tuple[DataFrame, int]:
    """Iterate ``step`` from ``seed`` to its fixpoint; return ``(state,
    rounds)``.

    ``step(state)`` returns the next state plus a boolean ``changed``
    column. A round converges when no row is ``changed`` and the row
    count held: label frames mark moved labels; a shrinking edge set
    marks rows absent from the previous state (no new row and the same
    count = the same set); peels use a constant false (the count held).
    ``rows`` is the seed's row count when the caller already has it
    (the seed is then taken as is); otherwise the seed is checkpointed
    and counted, one action.

    Round cap: a fixpoint whose last changing round is R needs
    ``max_rounds >= R + 1``. At the cap the loop raises
    ``RuntimeError`` naming ``what`` or, with ``strict=False`` (a
    contract of "at most ``max_rounds`` rounds"), returns the state.
    """
    state = seed
    if rows is None:
        state = seed.localCheckpoint(eager=False)
        rows = state.count()
    for rnd in range(1, max_rounds + 1):
        nxt = step(state).localCheckpoint(eager=False)
        n, changed = nxt.agg(
            F.count(F.lit(1)), F.count(F.when(F.col("changed"), 1))
        ).collect()[0]
        state = nxt.drop("changed")
        if changed == 0 and n == rows:
            return state, rnd
        rows = n
    if strict:
        raise RuntimeError(
            f"{what}: no fixpoint after {max_rounds} rounds; raise the "
            "round cap"
        )
    return state, max_rounds
