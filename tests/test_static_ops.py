"""Static measures + graph algorithms vs pure-python oracles."""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from online_centrality_spark.operators.components import (
    connected_components,
    label_propagation,
)
from online_centrality_spark.operators.harmonic import harmonic_centrality
from online_centrality_spark.operators.static_degree import (
    static_indegree,
    static_negative_beta,
)
from online_centrality_spark.operators.static_pagerank import (
    PageRankDiverged,
    personalized_pagerank,
    static_pagerank,
    weighted_pagerank,
)
from online_centrality_spark.operators.triangles import (
    triangle_count,
    triangle_count_per_vertex,
)
from tests.oracle.reference_oracle import (
    oracle_harmonic,
    oracle_indegree,
    oracle_negative_beta,
    oracle_pagerank,
)


def random_edge_set(seed, n_nodes=30, n_edges=120):
    rng = np.random.default_rng(seed)
    src = rng.integers(0, n_nodes, n_edges)
    dst = rng.integers(0, n_nodes, n_edges)
    return {(int(s), int(d)) for s, d in zip(src, dst)}


def to_df(spark, edge_set):
    pdf = pd.DataFrame(sorted(edge_set), columns=["src", "dst"])
    return spark.createDataFrame(pdf)


def as_map(df):
    return {r["node_id"]: r["score"] for r in df.collect()}


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_static_indegree(spark, seed):
    es = random_edge_set(seed)
    got = as_map(static_indegree(to_df(spark, es)))
    want = oracle_indegree(es)
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-12)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_static_negative_beta(spark, seed):
    es = random_edge_set(seed)
    got = as_map(static_negative_beta(to_df(spark, es)))
    want = oracle_negative_beta(es)
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9)


@pytest.mark.parametrize("seed", [0, 1])
@pytest.mark.parametrize("threshold", [0, 100_000])  # distributed vs compact
def test_static_pagerank(spark, seed, threshold):
    es = random_edge_set(seed, n_nodes=25, n_edges=80)
    got = as_map(static_pagerank(to_df(spark, es), collect_threshold=threshold))
    want = oracle_pagerank(es)
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-6)


_DIVERGE_PAIRS = [
    (0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5),
    (5, 6), (6, 7), (7, 8), (8, 9), (0, 5), (9, 4), (6, 10),  # 10 dangles
]


@pytest.mark.parametrize("threshold", [0, 100_000])  # distributed vs compact
@pytest.mark.parametrize(
    "what", ["pagerank", "personalized pagerank", "weighted pagerank"]
)
def test_pagerank_strict_raises_diverged(spark, what, threshold):
    """strict=True with too few rounds for tol raises PageRankDiverged
    naming the variant, on both physical paths."""
    kw = dict(max_iter=2, tol=1e-15, strict=True, collect_threshold=threshold)
    edges = to_df(spark, set(_DIVERGE_PAIRS))
    with pytest.raises(Exception) as ei:
        if what == "pagerank":
            static_pagerank(edges, **kw).collect()
        elif what == "personalized pagerank":
            seeds = spark.createDataFrame([(0,), (3,)], "node_id long")
            personalized_pagerank(edges, seeds, **kw).collect()
        else:
            wedges = edges.withColumn("w", (edges["src"] % 3 + 1).cast("double"))
            weighted_pagerank(wedges, **kw).collect()
    # the compact kernel raises inside its Arrow task, which Spark
    # re-raises on the driver as a PythonException carrying the
    # original "PageRankDiverged: <message>" line
    text = f"{ei.typename}: {ei.value}"
    assert ei.type is PageRankDiverged or threshold > 0
    assert re.search(
        rf"\bPageRankDiverged: {what} failed to converge in 2 iterations", text
    )


@pytest.mark.parametrize("seed", [0, 1])
@pytest.mark.parametrize("threshold", [0, 100_000])
def test_harmonic(spark, seed, threshold):
    es = random_edge_set(seed, n_nodes=20, n_edges=60)
    got = as_map(harmonic_centrality(to_df(spark, es), collect_threshold=threshold))
    want = oracle_harmonic(es, epsilon=0.0)
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9)


def oracle_wcc(edge_set):
    nodes = set()
    for s, d in edge_set:
        nodes.update((s, d))
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edge_set:
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    # component id = min node id in component
    comp = {}
    for n in nodes:
        comp[n] = find(n)
    # path-compress fully
    changed = True
    while changed:
        changed = False
        for n in nodes:
            if comp[n] != comp[comp[n]]:
                comp[n] = comp[comp[n]]
                changed = True
    return comp


def oracle_lpa(edge_set, max_iter=10):
    nodes = sorted({n for e in edge_set for n in e})
    nbrs = {n: set() for n in nodes}
    for s, d in edge_set:
        if s != d:
            nbrs[s].add(d)
            nbrs[d].add(s)
    labels = {n: n for n in nodes}
    for _ in range(max_iter):
        new = {}
        changed = 0
        for n in nodes:
            if not nbrs[n]:
                new[n] = labels[n]
                continue
            counts = {}
            for m in nbrs[n]:
                counts[labels[m]] = counts.get(labels[m], 0) + 1
            best = min(sorted(counts), key=lambda l: (-counts[l], l))
            new[n] = best
            if best != labels[n]:
                changed += 1
        labels = new
        if changed == 0:
            break
    return labels


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_connected_components(spark, seed):
    # sparse graph so multiple components exist
    es = random_edge_set(seed, n_nodes=60, n_edges=45)
    got = {r["node_id"]: r["component"] for r in connected_components(to_df(spark, es)).collect()}
    want = oracle_wcc(es)
    assert got == want


@pytest.mark.parametrize("seed", [0, 1])
def test_label_propagation(spark, seed):
    es = random_edge_set(seed, n_nodes=25, n_edges=50)
    got = {r["node_id"]: r["label"] for r in label_propagation(to_df(spark, es), max_iter=5).collect()}
    want = oracle_lpa(es, max_iter=5)
    assert got == want


def oracle_triangles(edge_set):
    nbrs = {}
    for s, d in edge_set:
        if s == d:
            continue
        nbrs.setdefault(s, set()).add(d)
        nbrs.setdefault(d, set()).add(s)
    count = 0
    per_node = {n: 0 for n in nbrs}
    for a in nbrs:
        for b in nbrs[a]:
            if b <= a:
                continue
            common = nbrs[a] & nbrs[b]
            for c in common:
                if c > b:
                    count += 1
                    per_node[a] += 1
                    per_node[b] += 1
                    per_node[c] += 1
    return count, per_node


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_triangle_count(spark, seed):
    es = random_edge_set(seed, n_nodes=15, n_edges=70)
    df = to_df(spark, es)
    want_total, want_per = oracle_triangles(es)
    assert triangle_count(df) == want_total
    got_per = {
        r["node_id"]: r["triangles"]
        for r in triangle_count_per_vertex(df).collect()
    }
    for n, c in want_per.items():
        assert got_per[n] == c


def test_salted_pagerank_matches_unsalted(spark):
    """Explicit hub salting (functions/skew.py) leaves scores unchanged
    on a hub-skewed star + chain graph."""
    import numpy as np

    from online_centrality_spark.operators.static_pagerank import static_pagerank

    rng = np.random.default_rng(11)
    hub_edges = [(int(s), 0) for s in rng.integers(1, 40, 300)]
    chain = [(i, i + 1) for i in range(1, 39)]
    rows = [(s, d) for s, d in hub_edges + chain]
    edges = spark.createDataFrame(rows, "src long, dst long")
    plain = (
        static_pagerank(edges, max_iter=40, strict=False, collect_threshold=0)
        .toPandas()
        .set_index("node_id")["score"]
    )
    salted = (
        static_pagerank(
            edges, max_iter=40, strict=False, collect_threshold=0, salt=4
        )
        .toPandas()
        .set_index("node_id")["score"]
    )
    assert set(plain.index) == set(salted.index)
    for n in plain.index:
        assert abs(plain[n] - salted[n]) < 1e-12


def test_static_katz_matches_dense_series(spark):
    """Engine Katz (compact + distributed) vs a dense matrix-power oracle
    (reference semantics: column sums of sum_i (alpha A)^i, binarized —
    concept_drift/experiment_utils.py:21-43)."""
    import numpy as np

    from online_centrality_spark.operators.static_katz import static_katz

    rng = np.random.default_rng(5)
    n, E = 25, 160
    src = rng.integers(0, n, E)
    dst = rng.integers(0, n, E)
    edges = spark.createDataFrame(
        [(int(s), int(d)) for s, d in zip(src, dst)], "src long, dst long"
    )
    A = np.zeros((n, n))
    A[src, dst] = 1.0  # binarized
    alpha = 0.05
    total = np.zeros(n)
    term = np.ones(n)
    M = alpha * A
    P = M.copy()
    for _ in range(200):
        contrib = P.sum(axis=0)
        total += contrib
        if np.abs(contrib).mean() < 1e-12:
            break
        P = P @ M
    present = sorted(set(src.tolist()) | set(dst.tolist()))
    for threshold in (100_000, 0):  # compact, then distributed
        got = (
            static_katz(edges, alpha=alpha, collect_threshold=threshold)
            .toPandas()
            .set_index("node_id")["score"]
        )
        assert sorted(got.index) == present
        for node in present:
            assert got[node] == pytest.approx(total[node], abs=1e-9), (
                threshold,
                node,
            )


@pytest.mark.parametrize("threshold", [100_000, 0])  # compact, distributed
def test_static_katz_keeps_every_node_and_stops_on_a_zero_term(
    spark, threshold
):
    """Both paths return every node of src ∪ dst (0.0 where no walk
    ends), and a series whose next term is all zero (a DAG) returns at
    tol=0 instead of raising."""
    from online_centrality_spark.operators.static_katz import static_katz

    def run(pairs, **kw):
        out = static_katz(
            to_df(spark, pairs), alpha=0.1, collect_threshold=threshold, **kw
        )
        return as_map(out)

    a = 0.1
    # node 0 has no in-edge; k_v = sum_{u->v} a (1 + k_u) gives
    # k1 = 2a + a k2 and k2 = a + a k1
    got = run({(0, 1), (1, 2), (2, 1)})
    k1 = (2 * a + a * a) / (1 - a * a)
    assert got == pytest.approx({0: 0.0, 1: k1, 2: a + a * k1}, abs=1e-9)
    # the DAG 0 -> 1 -> 2 runs out of walks after two terms
    got = run({(0, 1), (1, 2)}, tol=0.0)
    assert got == pytest.approx({0: 0.0, 1: a, 2: a + a * a}, abs=1e-15)


def _hits_oracle(pairs, max_iter, tol):
    """Dense HITS, L1-normalized each round: (round it stops at, hubs,
    authorities)."""
    nodes = sorted({v for p in pairs for v in p})
    ix = {v: i for i, v in enumerate(nodes)}
    adj = np.zeros((len(nodes), len(nodes)))
    for s, d in pairs:
        adj[ix[s], ix[d]] = 1.0
    h, a = np.full(len(nodes), 1.0 / len(nodes)), np.zeros(len(nodes))
    for rnd in range(1, max_iter + 1):
        a_new = adj.T @ h
        h_new = adj @ a_new
        a_new, h_new = a_new / a_new.sum(), h_new / h_new.sum()
        delta = np.abs(h_new - h).sum() + np.abs(a_new - a).sum()
        h, a = h_new, a_new
        if delta < tol:
            break
    return rnd, dict(zip(nodes, h)), dict(zip(nodes, a))


_KATZ_CAP = {(0, 1), (1, 2), (2, 0), (2, 3), (3, 1)}


@pytest.mark.parametrize(
    "case", ["katz-compact", "katz-distributed", "hits-distributed"]
)
def test_power_family_stop_and_cap_boundary(spark, case):
    """The shared power loop stops where its kernel does. Static Katz on
    _KATZ_CAP (alpha=0.1, tol=1e-6) converges in round 6: a cap of 5
    raises, a cap of 6 returns, on both paths. Distributed HITS with
    tol > 0 stops at the oracle's round with the oracle's vectors, as
    the compact kernel does."""
    import random

    from online_centrality_spark.operators import hits
    from online_centrality_spark.operators.static_katz import (
        katz_numpy,
        static_katz,
    )

    if case.startswith("katz"):
        threshold = 100_000 if case == "katz-compact" else 0
        edges = to_df(spark, _KATZ_CAP)
        kw = dict(alpha=0.1, tol=1e-6, collect_threshold=threshold)
        with pytest.raises(Exception, match="katz series did not converge"):
            static_katz(edges, max_iter=5, **kw).collect()
        got = as_map(static_katz(edges, max_iter=6, **kw))
        src, dst = (np.array(c) for c in zip(*sorted(_KATZ_CAP)))
        nodes, want = katz_numpy(src, dst, 0.1, max_iter=6, tol=1e-6)
        assert got == pytest.approx(dict(zip(nodes.tolist(), want)), abs=1e-12)
        return
    rng = random.Random(7)  # the test_hits_distributed_matches_compact graph
    pairs = list({(rng.randrange(30), rng.randrange(30)) for _ in range(150)})
    pairs = [(s, d) for s, d in pairs if s != d]
    rnd, want_h, want_a = _hits_oracle(pairs, 50, 1e-6)
    assert rnd == 17  # stops well before the cap
    prev_h = _hits_oracle(pairs, rnd - 1, 0.0)[1]
    assert max(abs(prev_h[v] - want_h[v]) for v in want_h) > 1e-9
    edges = spark.createDataFrame(pairs, "src long, dst long")
    for threshold in (100_000, 0):
        got = {
            r["node_id"]: (r["hub"], r["authority"])
            for r in hits(
                edges, max_iter=50, tol=1e-6, collect_threshold=threshold
            ).collect()
        }
        assert got.keys() == want_h.keys()
        for v in got:
            assert got[v][0] == pytest.approx(want_h[v], abs=1e-12)
            assert got[v][1] == pytest.approx(want_a[v], abs=1e-12)


def test_cc_star_vs_hashmin_and_round_count(spark):
    """The star contraction agrees with the oracle and converges in
    O(log n) rounds on a long path (diameter 119), where one-hop label
    propagation would need O(diameter)."""
    from online_centrality_spark.operators.components import (
        connected_components_detail,
    )

    # long path (diameter 119) + a separate clique + isolated-ish pair
    path = [(i, i + 1) for i in range(120)]
    clique = [(200 + a, 200 + b) for a in range(6) for b in range(a + 1, 6)]
    es = path + clique + [(300, 301)]
    df = to_df(spark, es)
    # collect_threshold=0 pins the DISTRIBUTED star contraction
    star, r_star = connected_components_detail(df, collect_threshold=0)
    want = oracle_wcc(es)
    got_star = {r["node_id"]: r["component"] for r in star.collect()}
    assert got_star == want
    assert 0 < r_star <= 12, r_star
    # the single-task union-find fast path (default threshold) agrees
    fast, r_fast = connected_components_detail(df)
    assert r_fast == 0  # fast path taken
    assert {r["node_id"]: r["component"] for r in fast.collect()} == want


# the path 0-1-2-3-4 closed by the chord 4-2: a triangle {2, 3, 4}
# with a two-edge tail, so the peels keep a non-empty answer
LOLLIPOP = {(0, 1), (1, 2), (2, 3), (3, 4), (4, 2)}


def _cap_case(name, df, cap):
    """Run one fixpoint operator with round cap ``cap``; return
    ``(answer, expected)``."""
    from online_centrality_spark.operators.components import (
        connected_components_detail,
    )
    from online_centrality_spark.operators.kcore import k_core, k_truss
    from online_centrality_spark.operators.scc import (
        strongly_connected_components,
    )

    if name == "star_cc":
        labels, rounds = connected_components_detail(
            df, max_iter=cap, collect_threshold=0
        )
        got = {r["node_id"]: r["component"] for r in labels.collect()}
        # the reported rounds include the confirming round R + 1
        return (got, rounds), ({n: 0 for n in range(5)}, cap)
    if name == "scc":
        got = strongly_connected_components(df, inner_max_iter=cap)
        return {r["node_id"]: r["component"] for r in got.collect()}, {
            0: 0, 1: 1, 2: 2, 3: 2, 4: 2
        }
    if name == "k_core":
        got = k_core(df, 2, max_rounds=cap)
        return {r["node_id"]: r["core_degree"] for r in got.collect()}, {
            2: 2, 3: 2, 4: 2
        }
    got = k_truss(df, 3, max_iter=cap)
    return {(r["a"], r["b"]) for r in got.collect()}, {(2, 3), (2, 4), (3, 4)}


@pytest.mark.parametrize(
    "name, last_change",
    [
        # star CC reports 3 rounds: two contractions and the check
        ("star_cc", 2),
        # forward coloring reaches node 4 with color 0 in round 4
        ("scc", 4),
        # k = 2 peels edge 0-1, then edge 1-2
        ("k_core", 2),
        # k = 3 drops the two tail edges in round 1
        ("k_truss", 1),
    ],
)
def test_fixpoint_round_cap_boundary(spark, name, last_change):
    """A fixpoint whose last changing round is R returns the answer at a
    round cap of R + 1 and raises at R instead of truncating."""
    df = to_df(spark, LOLLIPOP)
    got, want = _cap_case(name, df, last_change + 1)
    assert got == want
    with pytest.raises(RuntimeError, match="no fixpoint after"):
        _cap_case(name, df, last_change)


def test_label_propagation_returns_at_round_cap(spark):
    """LPA's contract is "at most max_iter rounds": at a cap below its
    fixpoint it returns the capped labels (the oracle's unroll)."""
    want = oracle_lpa(LOLLIPOP, max_iter=1)
    assert want != oracle_lpa(LOLLIPOP, max_iter=2)  # the cap cuts
    got = label_propagation(to_df(spark, LOLLIPOP), max_iter=1)
    assert {r["node_id"]: r["label"] for r in got.collect()} == want


def test_fixpoint_loops_release_cached_inputs(spark):
    """The label loops, the bucketed-CC harness and the bridge family
    leave no cache entries behind once their output is collected."""
    from online_centrality_spark.operators import (
        articulation_points,
        bridges,
        two_edge_components,
    )
    from online_centrality_spark.operators.components import (
        seeded_label_spreading,
        threshold_profile,
    )
    from online_centrality_spark.operators.robustness import attack_robustness

    spark.catalog.clearCache()
    df = to_df(spark, LOLLIPOP)
    seeds = spark.createDataFrame([(0, 7)], "node_id long, label long")
    wdf = spark.createDataFrame(
        [(a, b, float(a + b)) for a, b in sorted(LOLLIPOP)],
        "src long, dst long, w double",
    )
    label_propagation(df).collect()
    seeded_label_spreading(df, seeds).collect()
    connected_components(df, collect_threshold=0).collect()
    threshold_profile(wdf, [0.0, 5.0], collect_threshold=0).collect()
    attack_robustness(df, max_remove=2, collect_threshold=0).collect()
    assert {(r["a"], r["b"]) for r in bridges(df).collect()} == {(0, 1), (1, 2)}
    assert {r["node_id"] for r in articulation_points(df).collect()} == {1, 2}
    assert len(two_edge_components(df).collect()) == 5
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_power_loop_and_sources_release_cached_inputs(spark):
    """The five power-family operators on the distributed loop, the
    global and per-key rank helpers, event edge induction and n-gram
    Jaccard leave no cache entries behind once their output is
    collected."""
    from online_centrality_spark.dedup.ngram import ngram_jaccard_pairs
    from online_centrality_spark.operators import hits
    from online_centrality_spark.operators.eigenvector import (
        eigenvector_centrality,
    )
    from online_centrality_spark.operators.salsa import salsa
    from online_centrality_spark.operators.static_katz import static_katz
    from online_centrality_spark.sources.edges import (
        add_global_seq,
        edges_from_events,
        per_key_rank,
    )

    spark.catalog.clearCache()
    df = to_df(spark, LOLLIPOP)
    static_pagerank(df, max_iter=2, strict=False, collect_threshold=0).collect()
    hits(df, max_iter=2, collect_threshold=0).collect()
    eigenvector_centrality(df, max_iter=2, collect_threshold=0).collect()
    static_katz(df, alpha=0.1, tol=1e-3, collect_threshold=0).collect()
    salsa(df, max_iter=2).collect()
    add_global_seq(df, ["src", "dst"]).collect()
    per_key_rank(df, ["src"], ["dst"]).collect()
    events = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 7, "a"), (2, "2024-01-01 00:00:01", 7, "b"),
         (3, "2024-01-01 00:00:02", 7, "a")],
        "event_id long, ts string, user_id long, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    edges, nodes = edges_from_events(events)
    edges.collect()
    nodes.collect()
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox sleeps")],
        "doc_id long, text string",
    )
    ngram_jaccard_pairs(docs, n=2, threshold=0.1).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_supplier_customer_queries_release_cached_inputs(spark):
    """The contract queries that share one supplier->customer edge frame
    between two rankings leave no cache entries behind."""
    import sys

    sys.path.insert(0, ".")
    import __spark_entry__ as entry

    spark.catalog.clearCache()
    assert entry.q_spam_mass(spark, entry.SF_SMOKE).collect()
    assert entry.q_rank_overlap(spark, entry.SF_SMOKE).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_weighted_harmonic_matches_dijkstra_oracle(spark):
    """C8 weighted variant (nx distance= parity): compact Dijkstra kernel
    and distributed min-plus supersteps both match a dense Dijkstra
    oracle, incl. parallel-edge min-weight dedup."""
    import heapq

    from online_centrality_spark.operators.harmonic import harmonic_centrality

    rng = np.random.default_rng(5)
    n, E = 24, 90
    src = rng.integers(0, n, E)
    dst = rng.integers(0, n, E)
    w = np.round(rng.uniform(0.5, 4.0, E), 3)
    rows = [
        (int(s), int(d), float(ww)) for s, d, ww in zip(src, dst, w) if s != d
    ]
    rows += [(rows[0][0], rows[0][1], rows[0][2] + 1.0)]  # parallel edge, heavier
    df = spark.createDataFrame(rows, "src long, dst long, distance double")

    # dense oracle: per-target Dijkstra over incoming min-weight edges
    adj: dict = {}
    for s, d, ww in rows:
        adj[(s, d)] = min(adj.get((s, d), float("inf")), ww)
    pred: dict = {}
    for (s, d), ww in adj.items():
        pred.setdefault(d, []).append((s, ww))
    nodes = sorted({x for s, d, _ in rows for x in (s, d)})
    want = {}
    for v in nodes:
        dist = {v: 0.0}
        heap = [(0.0, v)]
        while heap:
            du, u = heapq.heappop(heap)
            if du > dist.get(u, float("inf")):
                continue
            for p, ww in pred.get(u, []):
                nd = du + ww
                if nd < dist.get(p, float("inf")):
                    dist[p] = nd
                    heapq.heappush(heap, (nd, p))
        want[v] = sum(1.0 / d for u, d in dist.items() if u != v)

    for thresh in (20_000, 0):  # compact kernel, then distributed path
        got = {
            r["node_id"]: r["score"]
            for r in harmonic_centrality(
                df, collect_threshold=thresh, weight_col="distance"
            ).collect()
        }
        assert set(got) == set(want), thresh
        for v in nodes:
            assert got[v] == pytest.approx(want[v], abs=1e-9), (thresh, v)
