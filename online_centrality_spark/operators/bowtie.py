"""Bow-tie decomposition of a directed graph (Broder et al., WWW '00).

North-rule link-graph extension (no reference counterpart; the
reference — ``centrality_utils/*`` — only builds undirected snapshot
graphs, so macro-structure of the digraph is new surface). The classic
web-graph macro map: every node is classified relative to the largest
strongly connected component (the CORE):

- ``CORE`` — the giant SCC (largest by node count, ties broken by the
  smallest component id);
- ``IN`` — reaches the CORE but is not inside it (any node that both
  reaches and is reached by the CORE is mutually reachable with it and
  therefore IS the CORE, so IN/OUT/CORE are disjoint by construction);
- ``OUT`` — reachable from the CORE but not inside it;
- ``TUBE`` — on an IN→OUT passage that bypasses the CORE: reachable
  from IN and reaching OUT, but in none of the three classes above;
- ``TENDRIL_IN`` — hangs off IN (reachable from IN, no path to OUT);
- ``TENDRIL_OUT`` — feeds OUT (reaches OUT, not reachable from IN);
- ``OTHER`` — in the CORE's weakly connected component but attached
  only through tendrils (Broder lumps these into TENDRILS; kept
  separate here so the partition is exact and auditable);
- ``DISCONNECTED`` — outside the CORE's weak component entirely.

Scale shape: one SCC run (``operators/scc.py``: active-set FW-BW
coloring) plus FIVE reachability sweeps on
:func:`.frontier.frontier_sweep` (forward/backward from CORE, forward
from IN, backward from OUT, undirected from CORE) — O(effective
diameter) rounds, never O(n). The final classification is a single
pass of node-keyed left joins against the (node-bounded) marker
frames; the only collected scalar is the 1-row giant-SCC pick. The
class-precedence CASE is identical to the SQL oracle's, so the
per-node partition is engine-reproducible bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .frontier import frontier_sweep
from .scc import strongly_connected_components


def _reach(
    edges: DataFrame, seeds: DataFrame, max_rounds: int, what: str
) -> DataFrame:
    """All ``node_id``s reachable from ``seeds`` along ``edges``
    (seeds included): O(|E| * diameter) work worst case, O(|E|) on
    expander-like graphs where the frontier saturates fast."""

    def expand(frontier):
        return (
            edges.join(frontier.select(F.col("node_id").alias("src")), "src")
            .select(F.col("dst").alias("node_id"))
            .distinct()
        )

    return frontier_sweep(
        seeds.select("node_id").distinct(), expand, ["node_id"], max_rounds,
        f"bowtie_decomposition {what} sweep",
    )[1]


def _flag(df: DataFrame, name: str) -> DataFrame:
    return df.select("node_id", F.lit(True).alias(name))


def bowtie_decomposition(
    edges: DataFrame, max_rounds: int = 10_000
) -> DataFrame:
    """(node_id, bowtie_class) — the Broder bow-tie class of every
    endpoint of the directed edge list (self-loops ignored; isolated
    nodes cannot be represented by an edge list). ``bowtie_class`` is
    one of CORE / IN / OUT / TUBE / TENDRIL_IN / TENDRIL_OUT / OTHER /
    DISCONNECTED — a deterministic exact partition (see module doc)."""
    spark = edges.sparkSession
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node_id"))
        .unionAll(e.select(F.col("dst").alias("node_id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if nodes.isEmpty():
        return spark.createDataFrame([], "node_id long, bowtie_class string")
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    sym = e.unionAll(rev).distinct().localCheckpoint(eager=True)

    labels = strongly_connected_components(e)
    giant_row = (
        labels.groupBy("component")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("component").asc())
        .limit(1)
        .collect()[0]
    )
    giant = giant_row["component"]
    core = (
        labels.filter(F.col("component") == F.lit(giant))
        .select("node_id")
        .localCheckpoint(eager=True)
    )

    bwd = _reach(e, core, max_rounds, "CORE-forward")  # core -> v
    fwd = _reach(rev, core, max_rounds, "CORE-backward")  # v -> core
    in_nodes = fwd.join(core, "node_id", "left_anti").localCheckpoint(
        eager=True
    )
    out_nodes = bwd.join(core, "node_id", "left_anti").localCheckpoint(
        eager=True
    )
    from_in = _reach(e, in_nodes, max_rounds, "IN-forward")
    to_out = _reach(rev, out_nodes, max_rounds, "OUT-backward")
    wcc = _reach(sym, core, max_rounds, "CORE-undirected")

    cls = (
        nodes.join(_flag(core, "is_core"), "node_id", "left")
        .join(_flag(in_nodes, "is_in"), "node_id", "left")
        .join(_flag(out_nodes, "is_out"), "node_id", "left")
        .join(_flag(from_in, "from_in"), "node_id", "left")
        .join(_flag(to_out, "to_out"), "node_id", "left")
        .join(_flag(wcc, "in_wcc"), "node_id", "left")
    )
    # precedence identical to the SQL oracle's CASE: core > in > out >
    # tube > tendrils > weakly-attached > disconnected
    return cls.select(
        "node_id",
        F.when(F.col("is_core"), F.lit("CORE"))
        .when(F.col("is_in"), F.lit("IN"))
        .when(F.col("is_out"), F.lit("OUT"))
        .when(F.col("from_in") & F.col("to_out"), F.lit("TUBE"))
        .when(F.col("from_in"), F.lit("TENDRIL_IN"))
        .when(F.col("to_out"), F.lit("TENDRIL_OUT"))
        .when(F.col("in_wcc"), F.lit("OTHER"))
        .otherwise(F.lit("DISCONNECTED"))
        .alias("bowtie_class"),
    )
