"""Edge induction: transcript / event tables → timestamped directed edges.

Implements the interaction-adjacency rule (FIXTURES.md §1, replacing the
reference's Twitter mention stream, ``ScheduleScoreUpdater.ipynb`` cell 8):
within each ``conv_id`` ordered by ``turn_idx``, every consecutive turn
pair emits one directed edge ``actor(k) -> actor(k+1)`` stamped with the
*later* turn's timestamp. Actor ids are dictionary-encoded to dense longs
sorted lexicographically (deterministic). The global stable edge order
``seq`` (sort by ``(t, conv_id, turn_idx)``) materializes the reference's
load-bearing file order (``graph_simulator.py:34-39``: edges are replayed
sequentially in list order within an epoch).

All of this is window/lag + joins + a two-pass partition-offset rank —
no per-row Python anywhere; the ordering rank is computed with a
count-per-partition pass plus an Arrow ``mapInPandas`` offset add, the
scalable alternative to a single-partition ``row_number()`` window.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def add_global_seq(
    df: DataFrame,
    order_cols: list[str],
    seq_col: str = "seq",
    num_partitions: int | None = None,
) -> DataFrame:
    """Attach a 1-based global ordering rank over ``order_cols``.

    Scale-aware replacement for ``row_number().over(Window.orderBy(...))``
    (which collapses to a single partition): range-repartition on the
    ordering key, sort within partitions, count rows per partition, then
    add per-partition offsets in one Arrow pass. ``order_cols`` must be a
    unique key for the rank to be total and deterministic.
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    sdf = (
        df.repartitionByRange(num_partitions, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    counts = {
        row["_pid"]: row["cnt"]
        for row in sdf.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    b_offsets = spark.sparkContext.broadcast(offsets)
    out_schema = sdf.drop("_pid").schema.add(seq_col, "long", False)

    def attach(batches):
        local = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["_pid"].iloc[0])
            start = b_offsets.value.get(pid, 0) + local
            local += len(pdf)
            out = pdf.drop(columns=["_pid"])
            out[seq_col] = np.arange(start + 1, start + 1 + len(pdf), dtype=np.int64)
            yield out

    return sdf.mapInPandas(attach, schema=out_schema)


def per_key_rank(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """0-based rank of each row within its ``key_cols`` group ordered by
    ``order_cols`` — the supernode-safe replacement for
    ``row_number().over(partitionBy(key).orderBy(order))``, whose sort
    puts a hub key's entire group in ONE task (degree-bounded straggler
    at 10^8-degree hubs).

    Physical plan: range-repartition on (key, order), local sort, local
    rank in one Arrow pass. Because range partitioning keeps each key's
    rows contiguous ACROSS partitions, only the keys that straddle a
    partition boundary (at most ``num_partitions - 1`` of them, bounded
    by parallelism — never by data) need stitching: their per-partition
    counts are collected and broadcast as (pid, key) offsets.
    ``(key_cols + order_cols)`` must be a unique row key for the rank to
    be total and deterministic.
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    cols = list(key_cols) + list(order_cols)
    sdf = (
        df.repartitionByRange(num_partitions, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    cnt = sdf.groupBy("_pid", *key_cols).agg(F.count("*").alias("_n"))
    spanning = (
        cnt.groupBy(*key_cols)
        .agg(
            F.count("*").alias("_np"),
            F.collect_list(F.struct("_pid", "_n")).alias("_parts"),
        )
        .filter(F.col("_np") > 1)
        .collect()
    )
    # (pid, key tuple) -> rank offset of that key's first row in that pid
    offsets: dict[tuple, int] = {}
    for r in spanning:
        kt = tuple(r[k] for k in key_cols)
        acc = 0
        for pid, n in sorted((p["_pid"], p["_n"]) for p in r["_parts"]):
            offsets[(pid,) + kt] = acc
            acc += n
    b_off = spark.sparkContext.broadcast(offsets)
    out_schema = sdf.drop("_pid").schema.add(rank_col, "long", False)
    keys = list(key_cols)

    def attach(batches):
        import pandas as pd

        prev_key: tuple | None = None
        prev_n = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["_pid"].iloc[0])
            local = pdf.groupby(keys, sort=False).cumcount().to_numpy(np.int64)
            first = tuple(pdf.iloc[0][k] for k in keys)
            if prev_key == first:
                # a key's run continuing from the previous Arrow batch:
                # bump its leading contiguous block by the carried count
                same = np.ones(len(pdf), dtype=bool)
                for k, v in zip(keys, first):
                    same &= pdf[k].to_numpy() == v
                brk = np.nonzero(~same)[0]
                stop = int(brk[0]) if len(brk) else len(pdf)
                local[:stop] += prev_n
            prev_key = tuple(pdf.iloc[-1][k] for k in keys)
            prev_n = int(local[-1]) + 1  # pre-offset: within-pid count
            off = b_off.value
            if off:
                pid_rows = {
                    kt[1:]: v for kt, v in off.items() if kt[0] == pid
                }
                if pid_rows:
                    off_df = pd.DataFrame(
                        [(*k, v) for k, v in pid_rows.items()],
                        columns=keys + ["_off"],
                    )
                    merged = (
                        pdf[keys]
                        .merge(off_df, on=keys, how="left")["_off"]
                        .fillna(0)
                        .to_numpy(np.int64)
                    )
                    local = local + merged
            out = pdf.drop(columns=["_pid"])
            out[rank_col] = local
            yield out

    return sdf.mapInPandas(attach, schema=out_schema)


def dictionary_encode(values: DataFrame, value_col: str, id_col: str = "node_id") -> DataFrame:
    """Dense 0-based ids for distinct values, sorted lexicographically.

    Built on :func:`add_global_seq` so it scales to large dictionaries;
    the result is small relative to the fact table and is broadcast at
    join time.
    """
    distinct = values.select(value_col).distinct()
    ranked = add_global_seq(distinct, [value_col], seq_col="_rank")
    return ranked.select(
        (F.col("_rank") - F.lit(1)).cast("long").alias(id_col), F.col(value_col)
    )


def actor_expr(role_col: str = "role", tool_col: str = "tool") -> F.Column:
    """Actor id of a turn: ``role`` unless role='tool', then ``tool:<tool>``."""
    return F.when(
        F.col(role_col) == "tool", F.concat(F.lit("tool:"), F.col(tool_col))
    ).otherwise(F.col(role_col))


def _induce_edges(
    df: DataFrame,
    session_col: str,
    order_col: str,
    actor: F.Column,
    t_expr: F.Column,
) -> tuple[DataFrame, DataFrame]:
    """Shared induction: lag within session + dictionary encode + seq."""
    w = Window.partitionBy("_session").orderBy("_order")
    turns = df.select(
        F.col(session_col).alias("_session"),
        F.col(order_col).alias("_order"),
        actor.alias("dst_actor"),
        t_expr.alias("t"),
    ).withColumn("src_actor", F.lag("dst_actor").over(w))
    raw = turns.filter(F.col("src_actor").isNotNull()).select(
        "t", "src_actor", "dst_actor", "_session", "_order"
    )
    nodes = dictionary_encode(
        raw.select(F.col("src_actor").alias("actor")).unionAll(
            raw.select(F.col("dst_actor").alias("actor"))
        ),
        "actor",
    ).localCheckpoint(eager=False)
    enc = (
        raw.join(
            F.broadcast(nodes.withColumnRenamed("actor", "src_actor")).withColumnRenamed(
                "node_id", "src"
            ),
            "src_actor",
        )
        .join(
            F.broadcast(nodes.withColumnRenamed("actor", "dst_actor")).withColumnRenamed(
                "node_id", "dst"
            ),
            "dst_actor",
        )
        .select("t", "src", "dst", "_session", "_order")
    )
    seq = add_global_seq(enc, ["t", "_session", "_order"])
    edges = seq.select("t", "src", "dst", "seq")
    return edges, nodes


def edges_from_transcripts(transcripts: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Transcripts ``(conv_id, turn_idx, role, text, tool, ts)`` → edges.

    Returns ``(edges, nodes)`` where ``edges(t: long epoch-seconds,
    src: long, dst: long, seq: long)`` (FIXTURES.md §2) and
    ``nodes(node_id, actor)`` is the dictionary.
    """
    return _induce_edges(
        transcripts,
        session_col="conv_id",
        order_col="turn_idx",
        actor=actor_expr(),
        t_expr=F.col("ts").cast("long"),
    )


def edges_from_events(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Events ``(event_id, ts, user_id, event_type, ...)`` → edges.

    Same induction rule with ``user_id`` as the session, ``event_type`` as
    the actor, and microsecond timestamps (events carry sub-second times).
    """
    return _induce_edges(
        events,
        session_col="user_id",
        order_col="event_id",
        actor=F.col("event_type"),
        # parquet loads as TIMESTAMP_NTZ; session tz is UTC so the cast is
        # a pure type change and matches DuckDB's epoch_us on the raw value
        t_expr=F.unix_micros(F.col("ts").cast("timestamp")),
    )


def actor_transition_counts(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """(src_actor, dst_actor, n_edges) — the collapsed role/tool
    adjacency summary of the induced link graph (how often each actor
    kind hands off to each other kind across the whole stream).

    One map-side-combinable ``groupBy`` over the edge table; the actor
    dictionary is tiny by construction (roles x tools), so both joins
    broadcast — a justified hint, unlike corpus-cardinality sides.
    """
    n1 = nodes.select(
        F.col("node_id").alias("src"), F.col("actor").alias("src_actor")
    )
    n2 = nodes.select(
        F.col("node_id").alias("dst"), F.col("actor").alias("dst_actor")
    )
    return (
        edges.groupBy("src", "dst")
        .agg(F.count("*").alias("n_edges"))
        .join(F.broadcast(n1), "src")
        .join(F.broadcast(n2), "dst")
        .select("src_actor", "dst_actor", "n_edges")
    )


def user_interaction_pairs(
    events: "DataFrame",
    gap_seconds: float = 60.0,
    time_buckets: int = 64,
) -> DataFrame:
    """Timestamped user-interaction pairs ``(src, dst, t)``: within each
    ``event_type`` stream ordered by ``(ts, event_id)``, consecutive
    events closer than ``gap_seconds`` emit ``prev_user -> user`` stamped
    with the LATER event's time. Keeps multiplicity (one row per
    qualifying consecutive pair) — the temporal-motif input;
    :func:`user_interaction_digraph` is its distinct projection.

    Scale shape: the naive plan is ``lag() OVER (PARTITION BY
    event_type)``, which collapses each type's WHOLE stream into one
    sorted task — with a handful of event types that is a few giant
    tasks at 100 TB. Instead the stream is cut into ``time_buckets``
    fixed-width time slices, the lag runs per ``(event_type, bucket)``
    (parallel, bounded tasks), and the bucket boundaries are stitched
    with a window over the per-bucket first/last summary — a table with
    one row per non-empty ``(event_type, bucket)``, tiny by
    construction. Both halves are pure JVM window/join work.
    """
    ev = events.select(
        F.col("event_type").alias("k"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        F.col("event_id").alias("o"),
        "user_id",
    )
    lo, hi = ev.agg(F.min("t"), F.max("t")).first()
    if lo is None:
        return ev.select(
            F.col("user_id").alias("src"),
            F.col("user_id").alias("dst"),
            F.col("t"),
        ).limit(0)
    width = max((hi - lo) // time_buckets + 1, 1)
    ev = ev.withColumn("b", ((F.col("t") - F.lit(lo)) / F.lit(width)).cast("long"))
    w = Window.partitionBy("k", "b").orderBy("t", "o")
    inner = ev.select(
        "k", "t", "o", "user_id", "b",
        F.lag("user_id").over(w).alias("prev_user"),
        F.lag("t").over(w).alias("prev_t"),
    )
    # per-(k, b) first/last rows: one row per non-empty bucket each
    asc = Window.partitionBy("k", "b").orderBy("t", "o")
    desc = Window.partitionBy("k", "b").orderBy(F.desc("t"), F.desc("o"))
    firsts = (
        ev.withColumn("_rn", F.row_number().over(asc))
        .filter(F.col("_rn") == 1)
        .select("k", "b", F.col("user_id").alias("first_user"), F.col("t").alias("first_t"))
    )
    lasts = (
        ev.withColumn("_rn", F.row_number().over(desc))
        .filter(F.col("_rn") == 1)
        .select("k", "b", F.col("user_id").alias("last_user"), F.col("t").alias("last_t"))
    )
    bw = Window.partitionBy("k").orderBy("b")
    stitched = (
        firsts.join(lasts, ["k", "b"])
        .select(
            "k", "b", "first_user", "first_t",
            F.lag("last_user").over(bw).alias("prev_user"),
            F.lag("last_t").over(bw).alias("prev_t"),
        )
        .filter(F.col("prev_user").isNotNull())
        .select(
            "prev_user", F.col("first_user").alias("user_id"),
            "prev_t", F.col("first_t").alias("t"),
        )
    )
    pairs = inner.filter(F.col("prev_user").isNotNull()).select(
        "prev_user", "user_id", "prev_t", "t"
    ).unionAll(stitched)
    gap_us = int(gap_seconds * 1_000_000)
    return pairs.filter(
        (F.col("t") - F.col("prev_t") <= gap_us)
        & (F.col("prev_user") != F.col("user_id"))
    ).select(
        F.col("prev_user").alias("src"), F.col("user_id").alias("dst"), "t"
    )


def user_interaction_digraph(
    events: DataFrame,
    gap_seconds: float = 60.0,
    time_buckets: int = 64,
) -> DataFrame:
    """Distinct self-loop-free edge list ``(src, dst)`` of
    :func:`user_interaction_pairs` — the digraph the SCC / condensation
    queries run on."""
    return (
        user_interaction_pairs(events, gap_seconds, time_buckets)
        .select("src", "dst")
        .distinct()
    )


def edge_stream_growth(edges: DataFrame) -> DataFrame:
    """(day, new_nodes, new_edges, cum_nodes, cum_edges) — graph-evolution
    profile of a timestamped edge stream: how many nodes / distinct
    (src, dst) pairs appear for the first time each day, plus running
    totals.

    Scale shape: two map-side-combinable first-appearance aggregations
    (min(t) per node via a union of the endpoint projections, min(t) per
    pair), each bucketed to a day, then per-day counts. The cumulative
    sums are windows over the DAY frame — one row per day, bounded by
    calendar time (a decade of 10^12-turn traffic is still < 4k rows),
    so the single-partition window is explicit and safe, the same
    envelope as :func:`~.transcripts.daily_activity`'s rolling sum.
    """
    day = F.to_date(F.timestamp_micros(F.col("first_t"))).alias("day")
    node_first = (
        edges.select(F.col("src").alias("node"), "t")
        .unionAll(edges.select(F.col("dst").alias("node"), "t"))
        .groupBy("node")
        .agg(F.min("t").alias("first_t"))
        .select(day)
        .groupBy("day")
        .agg(F.count("*").alias("new_nodes"))
    )
    edge_first = (
        edges.groupBy("src", "dst")
        .agg(F.min("t").alias("first_t"))
        .select(day)
        .groupBy("day")
        .agg(F.count("*").alias("new_edges"))
    )
    spine = (
        edges.select(F.to_date(F.timestamp_micros(F.col("t"))).alias("day"))
        .distinct()
    )
    daily = (
        spine.join(node_first, "day", "left")
        .join(edge_first, "day", "left")
        .fillna(0, ["new_nodes", "new_edges"])
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        "new_nodes",
        "new_edges",
        F.sum("new_nodes").over(w).alias("cum_nodes"),
        F.sum("new_edges").over(w).alias("cum_edges"),
    )


def event_type_trigrams(
    events: DataFrame,
    gap_seconds: float = 3600.0,
    top_k: int = 20,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_col: str = "event_id",
) -> DataFrame:
    """(trigram, n) — the ``top_k`` most frequent length-3 event-type
    sequences across user streams (behavioral-motif mining: the
    tool-chain / action-pattern counterpart of ``actor_transitions``'
    bigrams). A trigram counts when both consecutive gaps are within
    ``gap_seconds``.

    Scale shape: the double-lag window partitions on the USER key
    (high-cardinality, well-distributed — the same envelope as
    ``response_latency``; per-partition state is one user's stream, not
    an event_type's), then one map-side-combinable groupBy over at most
    |types|^3 distinct trigrams and a TakeOrderedAndProject top-k with
    a deterministic tiebreak.
    """
    gap_us = int(gap_seconds * 1e6)
    t = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(user_col).orderBy(ts_col, order_col)
    seq = events.select(
        F.col(type_col).alias("c"),
        t.alias("t"),
        F.lag(type_col, 1).over(w).alias("b"),
        F.lag(t, 1).over(w).alias("tb"),
        F.lag(type_col, 2).over(w).alias("a"),
        F.lag(t, 2).over(w).alias("ta"),
    )
    tri = seq.filter(
        F.col("a").isNotNull()
        & ((F.col("t") - F.col("tb")) <= gap_us)
        & ((F.col("tb") - F.col("ta")) <= gap_us)
    ).select(
        F.concat_ws(">", F.col("a"), F.col("b"), F.col("c")).alias("trigram")
    )
    return (
        tri.groupBy("trigram")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("trigram").asc())
        .limit(top_k)
    )


def age_degree_profile(pairs: DataFrame) -> DataFrame:
    """(first_day, n_nodes, total_degree) — the preferential-attachment
    test surface: nodes cohorted by the day they first appeared in the
    timestamped interaction stream ``(src, dst, t)``, with the cohort's
    exact FINAL distinct-neighbor degree total. A rich-get-richer graph
    shows early cohorts holding disproportionate total degree
    (total_degree/n_nodes falling with first_day) — the Barabási–Albert
    signature `edge_stream_growth`'s pure arrival counts can't see.

    Scale shape: one union of the two endpoint projections feeds BOTH
    aggregates — min(t) per node (first appearance) and distinct
    undirected neighbor count per node — then one day-keyed rollup of
    the joined frame. Exact integers end to end (day = integer div of
    microseconds), so the gate hash is partition-layout-proof.
    """
    e = pairs.filter(F.col("src") != F.col("dst"))
    ends = e.select(
        F.col("src").alias("node"), F.col("dst").alias("nbr"), "t"
    ).unionAll(
        e.select(F.col("dst").alias("node"), F.col("src").alias("nbr"), "t")
    )
    first = ends.groupBy("node").agg(F.min("t").alias("t_first"))
    deg = (
        ends.select("node", "nbr")
        .distinct()
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    return (
        first.join(deg, "node")
        .groupBy(
            F.expr("CAST(t_first DIV 86400000000 AS LONG)").alias("first_day")
        )
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("d").cast("long").alias("total_degree"),
        )
    )


def tie_persistence(pairs: DataFrame) -> DataFrame:
    """``(n_days, n_edges)`` — the tie-persistence histogram of the
    timestamped interaction stream ``(src, dst, t)``: for every
    distinct undirected pair, the number of DISTINCT calendar days
    (UTC, integer div of epoch microseconds) on which it was active,
    rolled up to a histogram. A heavy 1-day bucket means the graph is
    mostly one-shot contacts; a fat tail means persistent
    relationships — the standard repeated-tie profile of temporal
    network analysis. No reference counterpart
    (``/root/reference/python`` replays streams but never profiles
    tie persistence).

    Scale shape: one distinct over (pair, day) — the only shuffle that
    sees edge-sized data, and it combines map-side because multiplicity
    within a day collapses before the exchange — then two
    map-side-combinable groupBys, the second over the DAY-cardinality
    histogram frame. Exact integers end to end.
    """
    e = pairs.filter(F.col("src") != F.col("dst")).select(
        F.least("src", "dst").alias("a"),
        F.greatest("src", "dst").alias("b"),
        F.expr("CAST(t DIV 86400000000 AS LONG)").alias("day"),
    )
    per_pair = (
        e.distinct()
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_days"))
    )
    return (
        per_pair.groupBy("n_days")
        .agg(F.count("*").cast("long").alias("n_edges"))
        .select(F.col("n_days").cast("long").alias("n_days"), "n_edges")
    )
