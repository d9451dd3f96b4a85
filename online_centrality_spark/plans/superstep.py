"""Checkpointed, resumable superstep driver for the replay engine.

Replaces the reference's single-threaded per-edge replay loop
(``graph_simulator.py:41-109``, dispatched from
``CentralityScoreComputer.py:147-150``) with one Spark job (or a few) per
snapshot interval:

1. Edges are bucketed once into snapshot intervals with a JVM column
   expression over the boundary array (Catalyst prunes on it afterwards).
2. Per emitted interval, each online measure advances one superstep over
   the interval's edge window, then reads out scores decayed to the
   boundary; static measures recompute on the total / sliding-window
   graph (plain range predicates over ``interval_id``).
3. Scores and per-interval metrics land in parquet partitioned by
   ``snapshot_id``; measure state is checkpointed per superstep, so a
   killed run resumes from the last completed interval with identical
   results (tested).
"""

from __future__ import annotations

import json
import shutil
import time as _time
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .snapshots import SnapshotInterval, epoch_schedule, index_schedule
from ..operators.harmonic import harmonic_centrality
from ..operators.static_degree import static_indegree, static_negative_beta
from ..operators.static_pagerank import static_pagerank


def _interval_id_expr(bounds: list[int], key_col: str) -> str:
    """SQL expression: number of ``bounds`` strictly below ``key_col``.

    Uniform spacing → integer ceil-division (O(1) per row, exact for
    integral keys/boundaries). Otherwise a balanced comparison tree —
    O(log k) comparisons on the evaluation path (total expression size
    is still O(k), which Catalyst handles fine at hundreds of
    boundaries).
    """
    n = len(bounds)
    if n == 0:
        return "CAST(0 AS INT)"
    if n == 1:
        return f"CAST(IF({bounds[0]} < {key_col}, 1, 0) AS INT)"
    deltas = {bounds[i + 1] - bounds[i] for i in range(n - 1)}
    if len(deltas) == 1:
        d = deltas.pop()
        if d > 0:
            b0 = bounds[0]
            return (
                f"CAST(greatest(0L, least(CAST({n} AS BIGINT), "
                f"(CAST({key_col} AS BIGINT) - {b0} + {d - 1}) DIV {d})) AS INT)"
            )

    def rec(lo: int, hi: int) -> str:
        if lo == hi:
            return str(lo)
        mid = (lo + hi) // 2
        return f"IF({bounds[mid]} < {key_col}, {rec(mid + 1, hi)}, {rec(lo, mid)})"

    return f"CAST({rec(0, n)} AS INT)"


@dataclass(frozen=True)
class StaticMeasure:
    """A (kind, lookback) static measure family member.

    ``lookback == 0`` → total graph; ``lookback > 0`` → union of the last
    ``lookback`` emitted interval windows (dedup), mirroring
    ``get_graph_from_snapshots`` (base_computer.py:12-23). Param-id
    strings follow the reference exactly.
    """

    kind: str  # 'indeg' | 'nbm' | 'spr' | 'hc'
    lookback: int = 0
    alpha: float = 0.85
    max_iter: int = 100

    @property
    def graph_type(self) -> str:
        return "snapshot_%i" % self.lookback if self.lookback > 0 else "total"

    @property
    def param_id(self) -> str:
        if self.kind == "spr":
            return "spr_%s_a%0.2f_i%i" % (self.graph_type, self.alpha, self.max_iter)
        return "%s_%s" % (self.kind, self.graph_type)


class SuperstepDriver:
    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        checkpoint_dir: str | None = None,
        table_format: str = "parquet",
    ):
        """``table_format`` selects the distributed score sink's storage
        format (path-based ``save``); on an Iceberg deployment the same
        sink is a catalog-table ``writeTo(...).overwritePartitions()`` —
        a session-catalog config change, not an engine change."""
        self.spark = spark
        self.out_dir = Path(out_dir)
        self.ckpt_dir = Path(checkpoint_dir) if checkpoint_dir else None
        self.table_format = table_format

    # ------------------------------------------------------------------
    def run(
        self,
        edges: DataFrame,
        boundaries: list[int],
        time_type: str = "epoch",
        online: list | None = None,
        static: list[StaticMeasure] | None = None,
        max_index: int | None = None,
        resume: bool = False,
        batch_size: int = 1,
        persist_edges: bool = True,
        static_distributed: bool = False,
    ) -> list[SnapshotInterval]:
        """``batch_size`` > 1 groups consecutive snapshot intervals so
        walk-path temporal measures advance B windows with one Spark job
        (``run_batch``); read-outs per boundary stay driver-side. Other
        measures run one superstep per interval as usual.

        ``persist_edges=False`` skips caching the bucketed edge frame —
        right when the source is a cheap columnar re-scan (parquet) and
        the run is batched (few passes over the edges), where the cache's
        memory pressure costs more than the re-scans.

        ``static_distributed=True`` keeps static-measure score tables as
        DataFrames end-to-end: per chunk, each static measure's
        per-interval outputs are unioned and written through the same
        partitioned distributed sink as the distributed-state online
        measures (no ``toPandas()`` of scores) — the mode for node
        spaces where a score table should never visit the driver."""
        online = online or []
        static = static or []
        key_col = "t" if time_type == "epoch" else "seq"

        if time_type == "epoch":
            t_max = edges.agg(F.max("t")).collect()[0][0]
            schedule = epoch_schedule(boundaries, t_max, max_index)
        else:
            num_edges = edges.count()
            schedule = index_schedule(boundaries, num_edges, max_index)
        if not schedule:
            return []

        bucketed = self._bucket(edges, boundaries, key_col, schedule, persist_edges)
        stats = self._interval_stats(bucketed, time_type)

        start_from = 0
        if resume and self.ckpt_dir is not None:
            start_from = self._restore(online) + 1

        remaining = [s for s in schedule if s.interval_id >= start_from]
        chunks = [
            remaining[i : i + batch_size]
            for i in range(0, len(remaining), batch_size)
        ]
        # distributed-state measures (scores stay DataFrames end-to-end)
        # ALWAYS take the batch path, whatever the chunk size
        dist = [m for m in online if getattr(m, "distributed", False)]
        self._dist_only = (
            bool(dist)
            and len(dist) == len(online)
            and (not static or static_distributed)
        )
        for chunk in chunks:
            t_chunk = _time.time()
            batched = (
                [m for m in online if m not in dist
                 and getattr(m, "can_batch", lambda: False)()]
                if len(chunk) > 1
                else []
            )
            batch_outs: dict[int, dict] = {}
            if batched or dist:
                cdf = bucketed.filter(
                    (F.col("interval_id") >= chunk[0].interval_id)
                    & (F.col("interval_id") <= chunk[-1].interval_id)
                )
                intervals = [
                    (s.interval_id, float(s.hi), float(s.boundary)) for s in chunk
                ]
                for m in batched:
                    batch_outs[id(m)] = m.run_batch(cdf, intervals)
                    self._write_convergence(m, chunk[-1].interval_id)
                # a measure's NEXT run_batch unpersists the cached frame
                # its pending read-out write still reads from — join all
                # in-flight writes before advancing any dist measure
                self._join_writes()
                for m in dist:
                    # read-outs stay a DataFrame: one distributed
                    # partitioned write for the whole chunk, no pandas.
                    # The write commit runs on a side thread, overlapped
                    # with this chunk's driver-side metric/score tail
                    ro = m.run_batch(cdf, intervals)
                    self._submit_write(self._write_dist_scores, m, ro)
                    self._write_convergence(m, chunk[-1].interval_id)
            if static_distributed and static:
                for sm in static:
                    self._write_static_dist(bucketed, sm, chunk)
            n_parts = bucketed.rdd.getNumPartitions()
            metric_rows = []
            for snap in chunk:
                i = snap.interval_id
                t0 = _time.time()
                window = bucketed.filter(F.col("interval_id") == i)
                has_edges = stats["edge_counts"].get(i, 0) > 0
                win_or_none = window if has_edges else None
                rows = []
                for m in online:
                    if m in dist:
                        continue
                    if m in batched:
                        out = batch_outs[id(m)][i]
                    else:
                        m.superstep(win_or_none, float(snap.hi))
                        out = m.readout(float(snap.boundary))
                    out["measure"] = m.measure
                    rows.append(out)
                for sm in static:
                    if static_distributed:
                        continue  # written per chunk via the dist sink
                    out = self._static_scores(bucketed, sm, i)
                    out["measure"] = sm.kind
                    out["param_id"] = sm.param_id
                    rows.append(out)
                self._write_scores(rows, i)
                metric_rows.append(
                    self._metric_row(snap, stats, _time.time() - t0, n_parts)
                )
            self._write_metrics(metric_rows, chunk[-1].interval_id)
            if self.ckpt_dir is not None:
                # the manifest must never claim a chunk whose async
                # dist-score commit is still in flight: a crash between
                # the manifest write and the parquet commit would make
                # resume skip a chunk with missing scores. The join
                # costs only the (rare) case where the write outlives
                # the whole driver-side tail.
                self._join_writes()
                self._checkpoint(online, chunk[-1].interval_id)
            del t_chunk
        self._join_writes()
        return schedule

    # -- async score-write commit ----------------------------------------
    def _submit_write(self, fn, *args) -> None:
        """Run a distributed sink write on a side thread so its commit
        overlaps the chunk's driver-side tail (metric extraction,
        snapshot score files, checkpointing). At most one write is in
        flight per driver; exceptions re-raise at the next join."""
        import concurrent.futures as _cf

        if getattr(self, "_writer", None) is None:
            self._writer = _cf.ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="dist-score-write"
            )
            self._pending_writes: list = []
        self._pending_writes.append(self._writer.submit(fn, *args))

    def _join_writes(self) -> None:
        for fut in getattr(self, "_pending_writes", []):
            fut.result()  # propagate write failures loudly
        if getattr(self, "_pending_writes", None):
            self._pending_writes = []

    # ------------------------------------------------------------------
    def _bucket(
        self,
        edges: DataFrame,
        boundaries: list[int],
        key_col: str,
        schedule: list[SnapshotInterval],
        persist: bool = True,
    ) -> DataFrame:
        last = schedule[-1]
        bounds = [int(b) for b in boundaries[: last.interval_id + 1]]
        # interval_id = number of boundaries strictly below the key.
        # O(1) per edge for uniform deltas (integer ceil-div — keys and
        # boundaries are integral), O(log k) balanced-comparison tree
        # otherwise; the old size(filter(array(...))) form was O(k) per
        # edge (457 compares/edge on the tennis shape).
        expr = _interval_id_expr(bounds, key_col)
        bucketed = (
            edges.withColumn("key", F.col(key_col).cast("double"))
            .filter(F.col("key") <= F.lit(float(last.hi)))
            .withColumn("interval_id", F.expr(expr))
        )
        return bucketed.persist() if persist else bucketed

    def _interval_stats(self, bucketed: DataFrame, time_type: str) -> dict:
        """Cumulative graph stats per interval (take_snapshot parity:
        graph_simulator.py:19-30 reports total/window node+edge counts).

        All stat families collect in ONE tagged-union job: the aggregate
        branches become sibling stages of a single job and schedule
        concurrently, instead of three driver-serialized jobs — this was
        the biggest fixed (Amdahl) stage of a distributed replay."""
        # one distinct pass over (interval, node) feeds BOTH per-interval
        # distinct node counts and first-appearance counts (the naive
        # form shuffled the 2x-edges node list twice)
        nodes_iv = (
            bucketed.select("interval_id", F.col("src").alias("node"))
            .unionAll(bucketed.select("interval_id", F.col("dst").alias("node")))
            .distinct()
            .persist()
        )
        parts = [
            bucketed.groupBy("interval_id")
            .agg(F.count("*").alias("cnt"))
            .select(F.lit("edge_counts").alias("stat"), "interval_id", "cnt"),
            nodes_iv.groupBy("interval_id")
            .agg(F.count("*").alias("cnt"))
            .select(F.lit("win_nodes").alias("stat"), "interval_id", "cnt"),
            nodes_iv.groupBy("node")
            .agg(F.min("interval_id").alias("interval_id"))
            .groupBy("interval_id")
            .agg(F.count("*").alias("cnt"))
            .select(F.lit("first_node").alias("stat"), "interval_id", "cnt"),
        ]
        # first interval each distinct edge appears in: only consumed by
        # index-mode total_edges (DiGraph dedup) — skip the (src, dst)
        # shuffle entirely in epoch mode
        if time_type == "index":
            parts.append(
                bucketed.groupBy("src", "dst")
                .agg(F.min("interval_id").alias("interval_id"))
                .groupBy("interval_id")
                .agg(F.count("*").alias("cnt"))
                .select(F.lit("first_edge").alias("stat"), "interval_id", "cnt")
            )
        union = parts[0]
        for p in parts[1:]:
            union = union.unionAll(p)
        stats: dict[str, dict] = {
            "edge_counts": {},
            "win_nodes": {},
            "first_node": {},
            "first_edge": {},
        }
        for r in union.collect():
            stats[r["stat"]][r["interval_id"]] = r["cnt"]
        nodes_iv.unpersist()
        stats["time_type"] = time_type
        return stats

    def _static_scores_df(
        self, bucketed: DataFrame, sm: StaticMeasure, i: int
    ) -> DataFrame:
        if sm.lookback == 0:
            g = bucketed.filter(F.col("interval_id") <= i)
        else:
            g = bucketed.filter(
                (F.col("interval_id") >= i - sm.lookback + 1)
                & (F.col("interval_id") <= i)
            )
        if sm.kind == "indeg":
            out = static_indegree(g)
        elif sm.kind == "nbm":
            out = static_negative_beta(g)
        elif sm.kind == "spr":
            out = static_pagerank(g, alpha=sm.alpha, max_iter=sm.max_iter)
        elif sm.kind == "hc":
            out = harmonic_centrality(g).select(
                "node_id", (F.col("score") + F.lit(0.001)).alias("score")
            )
        else:
            raise ValueError(sm.kind)
        return out

    def _static_scores(
        self, bucketed: DataFrame, sm: StaticMeasure, i: int
    ) -> pd.DataFrame:
        return self._static_scores_df(bucketed, sm, i).toPandas()

    def _write_static_dist(
        self, bucketed: DataFrame, sm: StaticMeasure, chunk
    ) -> None:
        """Static scores as DataFrames end-to-end: one partitioned write
        per (measure, chunk) — the chunk's per-interval score tables are
        unioned (the iterative measures still run their own supersteps
        eagerly; only the SINK changes).  Each StaticMeasure owns its own
        ``dist_static/<param_id>`` subtree (param ids are unique where
        measure kinds are not), so dynamic partition overwrite stays
        idempotent per measure."""
        frames = []
        for snap in chunk:
            i = snap.interval_id
            frames.append(
                self._static_scores_df(bucketed, sm, i).select(
                    F.lit(sm.kind).alias("measure"),
                    F.lit(sm.param_id).alias("param_id"),
                    F.col("node_id").cast("long").alias("node_id"),
                    F.col("score").cast("double").alias("score"),
                    F.lit(i).alias("snapshot_id"),
                )
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        (
            out.repartition("snapshot_id")
            .write.mode("overwrite")
            .format(self.table_format)
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("snapshot_id")
            .save(str(self.out_dir / "dist_static" / sm.param_id))
        )

    def _write_scores(self, rows: list[pd.DataFrame], i: int) -> None:
        frames = [r for r in rows if len(r)]
        if not rows and getattr(self, "_dist_only", False):
            # distributed-only run: every score row lands in the dist
            # tree — 64 empty placeholder files per replay are pure
            # serial driver overhead
            return
        path = self.out_dir / f"snapshot_id={i}"
        path.mkdir(parents=True, exist_ok=True)
        if frames:
            merged = pd.concat(frames, ignore_index=True)[
                ["measure", "param_id", "node_id", "score"]
            ]
            merged["node_id"] = merged["node_id"].astype("int64")
            merged["score"] = merged["score"].astype("float64")
        else:
            merged = pd.DataFrame(
                {
                    "measure": pd.Series(dtype="string"),
                    "param_id": pd.Series(dtype="string"),
                    "node_id": pd.Series(dtype="int64"),
                    "score": pd.Series(dtype="float64"),
                }
            )
        merged.to_parquet(path / "part-0.parquet", index=False)

    def _write_dist_scores(self, m, ro: DataFrame | None) -> None:
        """Distributed score sink: the read-out DataFrame of a
        distributed-state measure is written with a partitioned
        distributed write (never collected).  Dynamic partition
        overwrite keeps re-runs/resumes idempotent per interval; each
        measure owns its own ``dist/measure=<m>`` subtree so measures
        never clobber each other."""
        if ro is None:
            return
        out = ro.select(
            "param_id",
            F.col("node_id").cast("long").alias("node_id"),
            F.col("score").cast("double").alias("score"),
            F.col("interval_id").alias("snapshot_id"),
        )
        (
            # co-locate each snapshot's rows before the partitioned write:
            # without this every task writes a file into every partition
            # dir (tasks x intervals small files + commit overhead)
            out.repartition("snapshot_id")
            .write.mode("overwrite")
            .format(self.table_format)
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("snapshot_id")
            .save(str(self.out_dir / "dist" / f"measure={m.measure}"))
        )

    def _metric_row(
        self,
        snap: SnapshotInterval,
        stats: dict,
        elapsed: float,
        n_partitions: int,
    ) -> dict:
        i = snap.interval_id
        cum = lambda d: sum(v for k, v in d.items() if k <= i)  # noqa: E731
        if stats["time_type"] == "epoch":
            total_edges = cum(stats["edge_counts"])  # MultiDiGraph keeps parallels
        else:
            total_edges = cum(stats["first_edge"])  # DiGraph dedups
        return dict(
            interval_id=i,
            boundary=float(snap.boundary),
            total_nodes=cum(stats["first_node"]),
            total_edges=total_edges,
            snapshot_nodes=stats["win_nodes"].get(i, 0),
            snapshot_edges=stats["edge_counts"].get(i, 0),
            superstep_sec=elapsed,
            n_partitions=n_partitions,
        )

    def _write_metrics(self, rows: list[dict], upto_interval: int) -> None:
        """One take_snapshot-parity metrics file per chunk (per-interval
        rows inside); chunk-end naming keeps resume runs collision-free."""
        if not rows:
            return
        path = self.out_dir / "_metrics"
        path.mkdir(parents=True, exist_ok=True)
        pd.DataFrame(rows).to_parquet(
            path / f"intervals_{upto_interval}.parquet", index=False
        )

    def _write_convergence(self, m, upto_interval: int) -> None:
        """Per-partition convergence/lineage rows for iterative measures
        (the north rule's per-partition lineage + convergence metrics):
        walk-path batches report (partition, edges, rounds, residual,
        kernel timings) per task."""
        mets = getattr(m, "walk_metrics", None)
        if not mets:
            return
        pdf = pd.DataFrame(mets)
        pdf.insert(0, "measure", m.measure)
        pdf.insert(1, "upto_interval", upto_interval)
        path = self.out_dir / "_metrics"
        path.mkdir(parents=True, exist_ok=True)
        pdf.to_parquet(
            path / f"convergence_{m.measure}_{upto_interval}.parquet",
            index=False,
        )

    # -- checkpoint / resume -------------------------------------------
    def _checkpoint(self, online: list, i: int) -> None:
        step = self.ckpt_dir / f"step_{i}"
        step.mkdir(parents=True, exist_ok=True)
        for m in online:
            if hasattr(m, "state_dict"):
                np.savez(step / f"{m.measure}.npz", **m.state_dict())
            elif hasattr(m, "state_frames"):
                for name, df in m.state_frames().items():
                    if df is not None:
                        df.write.mode("overwrite").parquet(
                            str(step / f"{m.measure}_{name}.parquet")
                        )
        manifest = {"completed": i}
        (self.ckpt_dir / "manifest.json").write_text(json.dumps(manifest))
        # keep only the two most recent steps
        steps = sorted(
            (p for p in self.ckpt_dir.glob("step_*")),
            key=lambda p: int(p.name.split("_")[1]),
        )
        for old in steps[:-2]:
            shutil.rmtree(old, ignore_errors=True)

    def _restore(self, online: list) -> int:
        manifest_path = self.ckpt_dir / "manifest.json"
        if not manifest_path.exists():
            return -1
        completed = json.loads(manifest_path.read_text())["completed"]
        step = self.ckpt_dir / f"step_{completed}"
        for m in online:
            if hasattr(m, "state_dict"):
                with np.load(step / f"{m.measure}.npz") as d:
                    m.load_state(dict(d.items()))
            elif hasattr(m, "state_frames"):
                names = getattr(m, "state_frame_names", ("edge_state", "active"))
                frames = {}
                for name in names:
                    p = step / f"{m.measure}_{name}.parquet"
                    if p.exists():
                        # materialize so lineage doesn't dangle on checkpoint
                        # files the rolling cleanup will delete
                        frames[name] = self.spark.read.parquet(str(p)).localCheckpoint(
                            eager=True
                        )
                    else:
                        frames[name] = None
                m.load_state_frames(**frames)
        return completed

    # -- outputs ---------------------------------------------------------
    def scores(self) -> DataFrame:
        cols = ["measure", "param_id", "node_id", "score", "snapshot_id"]
        parts = []
        if any(self.out_dir.glob("snapshot_id=*")):
            parts.append(
                self.spark.read.option("basePath", str(self.out_dir))
                .parquet(str(self.out_dir / "snapshot_id=*"))
            )
        dist_dir = self.out_dir / "dist"
        if dist_dir.exists():
            parts.append(
                self.spark.read.option("basePath", str(dist_dir)).parquet(
                    str(dist_dir)
                )
            )
        st_dir = self.out_dir / "dist_static"
        if st_dir.exists():
            for child in sorted(st_dir.glob("*")):
                parts.append(
                    self.spark.read.option("basePath", str(child)).parquet(
                        str(child)
                    )
                )
        if not parts:
            raise FileNotFoundError(f"no score outputs under {self.out_dir}")
        out = parts[0].select(*cols)
        for p in parts[1:]:
            out = out.unionByName(p.select(*cols))
        return out

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(str(self.out_dir / "_metrics"))
