"""Benchmark harness: headline engine queries at $SPARK_GRAFT_SF_DIR.

Prints ONE COMPACT JSON line as the LAST line of stdout — SCALARS ONLY
plus the 9-row round-1 subset map (driver parse contract; the r03/r04
driver captures truncated an oversized final line, so the full per-row
map now lives ONLY in BENCH/last_run_stats.json and the last line is
kept under ~1 KB by construction):
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "value_r01_subset": ..., "queries": {<the 9 r01 rows>: sec},
     "n_queries": ..., "sf": ..., "cpus": ..., "probes": {...},
     "edges_per_sec_superstep": ..., ..., "stats_file": "..."}

The headline superstep metric replays a deterministically replicated
copy of the induced event edge stream (disjoint per-replica node
spaces, overlap-compressed time shifts — no external data) through the
temporal-Katz WALK path (decay-chunked single-job replay, chain-closed
partitions, generation fused into the kernel), reporting edges/sec over
64 snapshot read-outs with an 8-param Exp grid sized for bounded
dynamics. Replica count via $BENCH_REPLICAS (default 512 → ~50M edges
at sf0.1); $BENCH_QUERIES restricts to a comma-separated subset (used
by tools/bench_scaling.py); $BENCH_WALK_BLOCK tunes the cache block.

Noise robustness, two layers:
- every row runs $BENCH_TRIALS times (default 3; the heavy full-replay
  rows $BENCH_HEAVY_TRIALS, default 2) with ``clearCache`` between
  trials; ``queries`` reports the BEST trial and the stats file keeps
  per-row {best, spread, trials, jobs, probe}, ``jobs`` being the most
  Spark jobs one trial ran (each row runs under its own job group).
- PROBE-GATED RETRY (VERDICT r04 #5): a ~4 s hardware probe is stamped
  at suite start/end and every $BENCH_PROBE_EVERY rows (default 20).
  Rows whose governing probe sits below the documented healthy floor
  (burn >= 134 Mops OR stream >= 45 it/s — BENCH/BASELINE.md bands)
  are re-run once after the suite if a later probe shows the host
  healthy again (up to $BENCH_RETRY_ATTEMPTS fresh probes,
  $BENCH_RETRY_WAIT s apart), merging best-of; rows that never saw a
  healthy phase keep their probe annotation in the stats file so the
  driver record is self-explaining instead of inheriting DRAM-phase
  noise as a "regression".
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402


from online_centrality_spark.benchmark import (  # noqa: E402
    bench_did_distributed,
    bench_tk_driver_distributed,
    bench_tk_superstep,
    bench_tpr_distributed,
    build_replicated_edges,
)

# documented healthy-phase floors (BENCH/BASELINE.md): a probe below
# BOTH bands marks a degraded DRAM phase
HEALTHY_BURN_MOPS = 134.0
HEALTHY_STREAM_ITERS = 45.0

R01_SUBSET = (
    "tk_superstep_walk", "edge_induction", "decayed_indegree",
    "static_pagerank30", "connected_components", "triangle_counts",
    "minhash_lsh", "ann_lsh_topk", "ngram_jaccard",
)


def _probe_burn(n):
    s = 0
    for i in range(n):
        s += i * i
    return s


def _probe_stream(n):
    import numpy as np

    a = np.arange(5_000_000, dtype=np.float64)
    s = 0.0
    for _ in range(n):
        s += float((a * 1.0000001 + 0.5).sum())
    return s


def hw_probe(nproc: int = 8) -> dict:
    """~4 s hardware phase probe (same kernels as tools/bench_scaling.py):
    pure-Python compute Mops/s and DRAM-streaming iters/s. Emitted at
    suite start/end and every few rows so a run landing in one of this
    VM's documented slow phases (3-16x DRAM swings) is self-evident in
    the record AND retryable once the phase passes."""
    import multiprocessing as mp

    N = 20_000_000
    with mp.get_context("spawn").Pool(nproc) as pool:
        pool.map(_probe_burn, [1000] * nproc)  # warm the pool
        t = time.time()
        pool.map(_probe_burn, [N] * nproc)
        burn = nproc * N / (time.time() - t) / 1e6
        t = time.time()
        pool.map(_probe_stream, [8] * nproc)
        stream = nproc * 8 / (time.time() - t)
    return {"burn_mops": round(burn, 1), "stream_iters": round(stream, 2)}


def probe_healthy(p: dict | None) -> bool:
    if p is None:
        return True  # probes disabled: never gate
    return (
        p["burn_mops"] >= HEALTHY_BURN_MOPS
        or p["stream_iters"] >= HEALTHY_STREAM_ITERS
    )


def _entry_row(qname):
    import __spark_entry__ as entry_mod

    fn = getattr(entry_mod, f"q_{qname}")
    return lambda spark, sf_dir: fn(spark, sf_dir).count()


def _build_rows(spark, sf_dir, trials_n, heavy_n, heavy_extras=False):
    """Ordered row table: (name, fn(spark, sf_dir), n_trials, replay_key).
    replay_key is None for plain rows; for full-replay rows it names the
    edges/sec extra their best trial feeds."""

    def minhash(spark, sf_dir):
        from online_centrality_spark.dedup.minhash import minhash_lsh_candidates

        return minhash_lsh_candidates(
            spark.read.parquet(f"{sf_dir}/documents.parquet"), k=16, num_bands=4
        ).count()

    def ann_lsh(spark, sf_dir):
        from online_centrality_spark.similarity.ann import lsh_topk

        return lsh_topk(
            spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
            spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200),
            k=10,
        ).count()

    def emb_lsh(spark, sf_dir):
        # bucketed near-dup path: candidates from 24x4 hyperplane
        # buckets, JVM cosine verify, hub buckets capped
        from online_centrality_spark.dedup.embedding import embedding_near_dups_lsh

        return embedding_near_dups_lsh(
            spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
            threshold=0.4, num_tables=24, num_planes=4, max_bucket_size=2000,
        ).count()

    def emb_blocked(spark, sf_dir):
        # exact distributed near-dups: one Arrow task per block pair,
        # no driver collect — the pair source feeding the graph queries
        from online_centrality_spark.dedup.embedding import (
            embedding_near_dups_blocked,
        )

        return embedding_near_dups_blocked(
            spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
            threshold=0.4, num_blocks=8,
        ).count()

    def ngram(spark, sf_dir):
        # scale path: cap shingle doc-frequency (the exact uncapped
        # variant is the sf0.01 correctness query)
        from online_centrality_spark.dedup.ngram import ngram_jaccard_pairs

        return ngram_jaccard_pairs(
            spark.read.parquet(f"{sf_dir}/documents.parquet"),
            n=2, threshold=0.2, max_doc_freq=500,
        ).count()

    def ngram_cont(spark, sf_dir):
        # directed containment twin of ngram_jaccard; same df cap
        from online_centrality_spark.dedup.ngram import ngram_containment_pairs

        return ngram_containment_pairs(
            spark.read.parquet(f"{sf_dir}/documents.parquet"),
            n=2, threshold=0.5, max_doc_freq=500,
        ).count()

    rows: list[tuple] = []

    def add(name, fn=None, n=None):
        rows.append((name, fn or _entry_row(name), n or trials_n, None))

    # headline: distributed temporal-walk superstep throughput
    replicas = int(os.environ.get("BENCH_REPLICAS", "512"))
    rows.append((
        "tk_superstep_walk",
        lambda s, d: bench_tk_superstep(s, d, replicas),
        trials_n,
        "edges_per_sec_superstep",
    ))
    add("edge_induction")
    add("decayed_indegree")
    rows.append((
        "static_pagerank30", _entry_row("static_pagerank"), trials_n, None,
    ))
    add("connected_components")
    add("triangle_counts")
    add("minhash_lsh", minhash)
    add("ann_lsh_topk", ann_lsh)
    add("embedding_dedup_lsh", emb_lsh)
    add("embedding_dedup_blocked", emb_blocked)
    add("ngram_jaccard", ngram)
    # round-3 link-graph extensions
    add("scc")
    add("temporal_motifs")
    add("random_walks")
    # round-4 additions
    add("eigenvector")
    # closeness / temporal_reachability / hop_distribution are O(n*m)
    # all-sources sweeps — ~2 min each at sf0.1, so they run only when
    # asked (recorded with probe stamps in BENCH/BASELINE.md); the
    # SAMPLED closeness estimator below is the always-on scale path
    if heavy_extras:
        add("closeness", n=1)
        add("temporal_reachability", n=1)
        add("hop_distribution", n=1)
    add("mis")
    # salsa: 12 lineage-cut rounds, one checkpoint per round; one trial
    # keeps the suite lean (spread is phase-dominated)
    add("salsa", n=1)
    add("bpe_merges")
    add("funnel")
    add("event_trigrams")
    add("two_hop_reach")
    add("negative_sampling")
    add("asof_value")
    add("zipf_profile")
    add("khop_features")
    add("wl_refinement")
    add("embedding_outliers")
    add("grouped_split")
    add("temporal_split")
    add("rich_club")
    add("burstiness")
    add("component_evolution")
    add("densest_subgraph")
    add("disparity_backbone")
    add("edge_persistence")
    add("attack_robustness")
    add("butterflies")
    add("attribute_assortativity")
    add("graph_summary")
    add("domain_divergence")
    add("transition_entropy")
    add("doc_novelty")
    add("cohort_retention")
    add("spam_mass")
    add("msf", n=1)
    add("avg_neighbor_degree")
    add("doc_surprisal")
    add("clustering_by_degree")
    add("activity_heatmap")
    add("vocab_growth")
    add("strength_disparity")
    add("oov_rate")
    add("threshold_profile")
    add("inequality_profile")
    add("user_diversity")
    add("mutual_knn")
    # round-5 scale paths: LSH-candidate mutual-kNN (no all-pairs
    # stage) and the sampled-target closeness estimator (k=32 sources,
    # state k rows per node instead of n^2)
    add("mutual_knn_lsh")
    add("closeness_sampled")
    add("hopdist_sampled")
    add("ecc_sampled")
    # round-5 batch 3: SemDeDup (kmeans clusters -> within-cluster
    # cosine pruning, the O(n^2/k) corpus-scale semantic dedup)
    add("semantic_dedup")
    # round-5 pipeline additions: mergeable HLL sketch, scan-stage
    # chunking, and the composed dedup->quality->chunk mixture report
    add("hll_distinct")
    add("chunk_documents")
    add("training_mix")
    # round-5 batch 4: FM-sketch neighbourhood function (the linear-
    # per-round twin of the exact hop_distribution)
    add("anf_reach")
    # round-5 batch 5: directed containment dedup (df-capped scale path)
    # and A-ES quality-weighted sampling (scan-stage key + top-k window)
    add("ngram_containment", ngram_cont)
    add("weighted_sample")
    add("cluster_silhouette")
    add("cramers_v")
    add("edge_overlap")
    add("community_conductance")
    add("higher_motifs")
    add("session_flows")
    add("random_failure")
    add("bowtie", n=1)
    add("pagerank_convergence", n=1)
    add("bipartite_projection")
    add("token_sketch")
    add("triangle_estimate")
    add("label_spreading", n=1)
    add("weighted_walks", n=1)
    add("latency_sketch")
    # round-5 batch 6: time-series trio (z-anomalies, autocorr, CUSUM),
    # TPC-H star-join closers, Jones-Plassmann coloring, and the
    # config-model / Katz-index null-model pair
    add("daily_anomalies")
    add("activity_autocorr")
    add("changepoint")
    add("returned_items")
    add("local_supplier_volume")
    add("graph_coloring", n=1)
    add("config_model")
    add("katz_index")
    # round-5 batch 7: skip-gram pair extraction, SoftDeDup weights,
    # SFT pair mining, boilerplate phrase extraction
    add("walk_cooccurrence", n=1)
    add("soft_dedup")
    add("dialogue_pairs")
    add("boilerplate_ngrams")
    add("onion", n=1)
    add("dup_flow")
    add("reciprocity_latency")
    add("pipeline_funnel")
    add("age_degree")
    add("collective_influence")
    add("neighborhood_overlap")
    add("square_census")
    add("user_churn")
    add("tie_persistence")
    add("priority_discount")
    add("large_orders")
    add("lexical_saturation")
    add("embedding_covariance")
    add("session_return")
    add("char_entropy")
    add("markov_stationary")
    add("label_centroids")
    add("weighted_clustering")
    add("dedup_thresholds")
    add("edge_betweenness")
    add("source_overlap")
    add("bigram_entropy")
    add("reorder_gaps")
    add("directed_assortativity")
    add("component_sizes")
    add("cluster_sizes")
    add("activation_latency")
    # round-5 batch 21: the unwitnessed physical shapes (semi/anti/
    # rollup) + the JSON tool co-occurrence projection
    add("returned_priority")
    add("dormant_customers")
    add("revenue_rollup")
    add("tool_cooccurrence")
    add("type_pivot")
    add("feature_hashing")
    add("bridges", n=1)
    add("table_profile")
    add("integrity_checks")
    add("articulation_points", n=1)
    add("neighbor_sampling")
    add("readability")
    add("two_edge_components", n=1)
    add("rank_overlap")
    add("scd2_history")
    add("dataset_card")
    # full replays through the distributed-state drivers (cogroup
    # state, partitioned score sink — no driver-held arrays)
    rows.append((
        "tk_driver_distributed",
        lambda s, d: bench_tk_driver_distributed(s, d, replicas),
        heavy_n,
        "edges_per_sec_driver_dist",
    ))
    rows.append((
        "tpr_distributed",
        lambda s, d: bench_tpr_distributed(s, d, replicas),
        heavy_n,
        "edges_per_sec_tpr_dist",
    ))
    rows.append((
        "did_distributed",
        lambda s, d: bench_did_distributed(s, d, replicas),
        heavy_n,
        "edges_per_sec_did_dist",
    ))
    return rows


def compact_line(timings, stats, extras, sf, cpus, probe_start, probe_end,
                 stats_file="BENCH/last_run_stats.json"):
    """The LAST-stdout-line record: scalars + the 9-row r01 subset map.
    Everything per-row lives in the stats file — tested < 1 KB so the
    driver's tail capture can never truncate it again."""
    return {
        "metric": "headline engine queries wallclock, best-of-N per row "
        "(full per-row map in the stats file)",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        # apples-to-apples subtotal over the round-1 query set
        "value_r01_subset": round(
            sum(timings.get(q, 0.0) for q in R01_SUBSET), 3
        ),
        "queries": {q: timings[q] for q in R01_SUBSET if q in timings},
        "n_queries": len(timings),
        "sf": sf,
        "cpus": cpus,
        "probes": {"start": probe_start, "end": probe_end},
        **extras,
        "stats_file": stats_file,
    }


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 8)
    trials_n = int(os.environ.get("BENCH_TRIALS", "3"))
    heavy_n = int(os.environ.get("BENCH_HEAVY_TRIALS", "2"))
    probe_every = int(os.environ.get("BENCH_PROBE_EVERY", "20"))
    retry_attempts = int(os.environ.get("BENCH_RETRY_ATTEMPTS", "2"))
    retry_wait = float(os.environ.get("BENCH_RETRY_WAIT", "60"))
    only = os.environ.get("BENCH_QUERIES")
    only = set(only.split(",")) if only else None
    probes_on = os.environ.get("BENCH_PROBES", "1") != "0"

    probe_start = hw_probe() if probes_on else None

    from online_centrality_spark.session import get_spark

    spark = get_spark(
        app_name="oc_spark_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.default.parallelism": cpus,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "131072",
            # the distributed-state replay shuffles ~50M rows twice in
            # the single local JVM; headroom avoids GC-pressure cliffs
            "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "24g"),
        },
    )

    timings: dict[str, float] = {}
    stats: dict[str, dict] = {}
    extras: dict[str, float] = {}

    sc = spark.sparkContext

    def execute(name, fn, n, replay_key, probe):
        """Run a row's trials; returns nothing, merges into the record.
        Replay fns return (elapsed, n_edges, info); plain fns return a
        count. The trials run under the job group ``name``; ``jobs``
        is the most Spark jobs one trial ran."""
        results = []
        jobs = 0
        sc.setJobGroup(name, name)
        for _ in range(n):
            spark.catalog.clearCache()
            before = set(sc.statusTracker().getJobIdsForGroup(name))
            t = time.time()
            r = fn(spark, sf_dir)
            elapsed = time.time() - t
            if replay_key is not None:
                elapsed = r[0]
            results.append((elapsed, r))
            after = set(sc.statusTracker().getJobIdsForGroup(name))
            jobs = max(jobs, len(after - before))
        best_t = min(e for e, _ in results)
        prev = stats.get(name)
        merged = sorted(
            [round(e, 3) for e, _ in results]
            + (prev["trials"] if prev else [])
        )
        timings[name] = merged[0]
        stats[name] = {
            "best": merged[0],
            "spread": round(merged[-1] - merged[0], 3),
            "trials": merged,
            "jobs": max(jobs, prev["jobs"] if prev else 0),
        }
        if probe is not None:
            stats[name]["probe"] = probe
            stats[name]["probe_healthy"] = probe_healthy(probe)
        if replay_key is not None and (prev is None or best_t <= prev["best"]):
            best = min((r for r in results), key=lambda r: r[0])
            extras[replay_key] = round(best[1][1] / best[1][0], 1)
            extras.update(best[1][2])
            if name == "tk_superstep_walk":
                extras["superstep_edges"] = best[1][1]

    heavy_extras = os.environ.get("BENCH_HEAVY_EXTRAS") == "1" or bool(
        only and {"closeness", "temporal_reachability", "hop_distribution"} & only
    )
    rows = _build_rows(spark, sf_dir, trials_n, heavy_n, heavy_extras)
    if only is not None:
        rows = [r for r in rows if r[0] in only]

    current_probe = probe_start
    row_probe: dict[str, dict | None] = {}
    for i, (name, fn, n, replay_key) in enumerate(rows):
        if probes_on and i > 0 and i % probe_every == 0:
            current_probe = hw_probe()
        row_probe[name] = current_probe
        execute(name, fn, n, replay_key, current_probe)

    probe_end = hw_probe() if probes_on else None

    # ---- probe-gated retry: re-run degraded-phase rows once healthy ----
    retried: list[str] = []
    if probes_on:
        flagged = [
            (name, fn, n, rk)
            for (name, fn, n, rk) in rows
            if not probe_healthy(row_probe.get(name))
        ]
        if flagged:
            fresh = probe_end
            attempts = 0
            while not probe_healthy(fresh) and attempts < retry_attempts:
                time.sleep(retry_wait)
                fresh = hw_probe()
                attempts += 1
            if probe_healthy(fresh):
                for name, fn, n, rk in flagged:
                    execute(name, fn, 1 if n > 1 else n, rk, fresh)
                    retried.append(name)
                probe_end = hw_probe() if probes_on else None
            # else: rows keep probe_healthy=false annotations — the
            # record is self-explaining, not silently noisy

    sf = sf_dir.rstrip("/").split("sf")[-1]
    sf = float(sf) if sf.replace(".", "").isdigit() else sf
    result = compact_line(
        timings, stats, extras, sf, int(cpus), probe_start, probe_end
    )
    full = dict(result)
    full["queries"] = timings  # the full map — file only, never stdout
    full["query_stats"] = stats
    full["trials"] = trials_n
    full["heavy_trials"] = heavy_n
    full["retried_rows"] = retried
    try:
        os.makedirs("BENCH", exist_ok=True)
        with open("BENCH/last_run_stats.json", "w") as f:
            json.dump(full, f, indent=1)
    except OSError:
        pass  # read-only checkout: stdout summary still complete
    # the compact summary is the LAST stdout line (driver parse
    # contract; size pinned < 1 KB by tests/test_bench_contract.py)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
