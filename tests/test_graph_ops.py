"""Round-3 link-graph toolkit: clustering, assortativity, link
prediction, k-core, BFS, personalized PageRank."""

import math
import random

import pytest

from online_centrality_spark.operators import (
    bfs_distances,
    core_number,
    degree_assortativity,
    k_core,
    link_prediction_scores,
    local_clustering,
    personalized_pagerank,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


# --- local clustering ----------------------------------------------------

def test_lcc_triangle_plus_tail(spark):
    # triangle 0-1-2 plus tail 2-3
    e = _edges(spark, [(0, 1), (1, 2), (0, 2), (2, 3)])
    out = {r["node_id"]: r for r in local_clustering(e).collect()}
    assert out[0]["degree"] == 2 and out[0]["lcc"] == pytest.approx(1.0)
    assert out[2]["degree"] == 3 and out[2]["lcc"] == pytest.approx(1 / 3)
    assert out[3]["degree"] == 1 and out[3]["lcc"] == 0.0


def test_lcc_ignores_duplicates_and_direction(spark):
    e = _edges(spark, [(0, 1), (1, 0), (1, 2), (0, 2), (0, 2)])
    out = {r["node_id"]: r for r in local_clustering(e).collect()}
    assert all(out[n]["lcc"] == pytest.approx(1.0) for n in (0, 1, 2))


# --- assortativity -------------------------------------------------------

def test_assortativity_star_is_negative(spark):
    # star: hubs connect to leaves only -> perfectly disassortative
    e = _edges(spark, [(0, i) for i in range(1, 6)])
    row = degree_assortativity(e).collect()[0]
    assert row["n_edges"] == 5
    assert row["assortativity"] == pytest.approx(-1.0)


def test_assortativity_matches_numpy(spark):
    import numpy as np

    rng = random.Random(3)
    pairs = sorted({tuple(sorted((rng.randrange(12), rng.randrange(12))))
                    for _ in range(40)})
    pairs = [p for p in pairs if p[0] != p[1]]
    e = _edges(spark, pairs)
    row = degree_assortativity(e).collect()[0]
    deg = {}
    for a, b in pairs:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    xs = [deg[a] for a, b in pairs] + [deg[b] for a, b in pairs]
    ys = [deg[b] for a, b in pairs] + [deg[a] for a, b in pairs]
    want = np.corrcoef(xs, ys)[0, 1]
    assert row["assortativity"] == pytest.approx(want, abs=1e-9)


# --- link prediction -----------------------------------------------------

def test_link_prediction_square(spark):
    # 4-cycle 0-1-2-3-0: the two diagonals are the only candidates,
    # each with two common neighbors of degree 2
    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 0)])
    out = {(r["a"], r["b"]): r for r in link_prediction_scores(e).collect()}
    assert set(out) == {(0, 2), (1, 3)}
    r = out[(0, 2)]
    assert r["cn"] == 2
    assert r["jaccard"] == pytest.approx(1.0)  # identical neighborhoods
    assert r["adamic_adar"] == pytest.approx(2 / math.log(2))


def test_link_prediction_excludes_existing_edges(spark):
    e = _edges(spark, [(0, 1), (1, 2), (0, 2), (2, 3), (1, 3)])
    out = {(r["a"], r["b"]) for r in link_prediction_scores(e).collect()}
    assert (0, 2) not in out  # adjacent
    assert (0, 3) in out  # cn = {1, 2}


def test_link_prediction_center_degree_cap(spark):
    # star through hub 0: cap below hub degree kills all candidates
    e = _edges(spark, [(0, i) for i in range(1, 5)])
    assert link_prediction_scores(e).count() == 6  # C(4,2) leaf pairs
    assert link_prediction_scores(e, max_center_degree=3).count() == 0


# --- k-core --------------------------------------------------------------

def test_k_core_triangle_with_tails(spark):
    # triangle + pendant chain: 2-core is exactly the triangle
    e = _edges(spark, [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4)])
    out = {r["node_id"]: r["core_degree"] for r in k_core(e, 2).collect()}
    assert out == {0: 2, 1: 2, 2: 2}
    assert k_core(e, 3).count() == 0


def test_core_number(spark):
    # K4 (core 3) + triangle hanging off (core 2) + pendant (core 1)
    k4 = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    tri = [(3, 4), (4, 5), (3, 5)]
    pend = [(5, 6)]
    out = {r["node_id"]: r["core"]
           for r in core_number(_edges(spark, k4 + tri + pend)).collect()}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3, 4: 2, 5: 2, 6: 1}


# --- BFS -----------------------------------------------------------------

def test_bfs_chain_and_unreachable(spark):
    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (10, 11)])
    out = {r["node_id"]: r["dist"] for r in bfs_distances(e, 0).collect()}
    assert out[0] == 0 and out[1] == 1 and out[2] == 2 and out[3] == 3
    assert out[10] is None and out[11] is None


def test_bfs_directed_vs_undirected(spark):
    e = _edges(spark, [(1, 0), (1, 2)])
    und = {r["node_id"]: r["dist"] for r in bfs_distances(e, 0).collect()}
    assert und == {0: 0, 1: 1, 2: 2}
    dire = {r["node_id"]: r["dist"]
            for r in bfs_distances(e, 0, directed=True).collect()}
    assert dire == {0: 0, 1: None, 2: None}


# --- personalized PageRank ----------------------------------------------

def _ppr(spark, pairs, seeds, **kw):
    e = _edges(spark, pairs)
    s = spark.createDataFrame([(x,) for x in seeds], "node_id long")
    return {r["node_id"]: r["score"]
            for r in personalized_pagerank(e, s, **kw).collect()}


def test_ppr_mass_concentrates_at_seed(spark):
    # symmetric chain: restart at one end skews mass there
    pairs = [(i, i + 1) for i in range(5)] + [(i + 1, i) for i in range(5)]
    out = _ppr(spark, pairs, [0])
    assert sum(out.values()) == pytest.approx(1.0, abs=1e-6)
    assert out[0] > out[2] > out[5]


def test_ppr_uniform_seed_set_matches_pagerank_shape(spark):
    from online_centrality_spark.operators import static_pagerank

    rng = random.Random(11)
    pairs = list({(rng.randrange(9), rng.randrange(9)) for _ in range(30)})
    pairs = [(s, d) for s, d in pairs if s != d]
    e = _edges(spark, pairs)
    nodes = sorted({x for p in pairs for x in p})
    # seeding EVERY node uniformly = plain PageRank exactly
    out = _ppr(spark, pairs, nodes)
    pr = {r["node_id"]: r["score"] for r in static_pagerank(e).collect()}
    for n in nodes:
        assert out[n] == pytest.approx(pr[n], abs=1e-6)


def test_ppr_distributed_matches_compact(spark):
    rng = random.Random(5)
    pairs = list({(rng.randrange(20), rng.randrange(20)) for _ in range(80)})
    pairs = [(s, d) for s, d in pairs if s != d]
    compact = _ppr(spark, pairs, [0, 7])
    dist = _ppr(spark, pairs, [0, 7], collect_threshold=0)
    salted = _ppr(spark, pairs, [0, 7], collect_threshold=0, salt=3)
    assert compact.keys() == dist.keys() == salted.keys()
    for n in compact:
        assert dist[n] == pytest.approx(compact[n], abs=1e-7)
        assert salted[n] == pytest.approx(compact[n], abs=1e-7)


def test_ppr_no_valid_seed_raises(spark):
    with pytest.raises(Exception, match="no seed"):
        _ppr(spark, [(0, 1)], [99])
    with pytest.raises(Exception, match="no seed"):
        _ppr(spark, [(0, 1)], [99], collect_threshold=0)


# --- k-truss ---------------------------------------------------------------

def test_k_truss_matches_networkx(spark):
    import networkx as nx

    rng = random.Range = random.Random(41)
    pairs = list({(rng.randrange(18), rng.randrange(18)) for _ in range(70)})
    pairs = [(a, b) for a, b in pairs if a != b]
    from online_centrality_spark.operators import k_truss

    for k in (3, 4):
        got = {
            tuple(sorted((r["a"], r["b"])))
            for r in k_truss(_edges(spark, pairs), k).collect()
        }
        G = nx.Graph(pairs)
        want = {tuple(sorted(e)) for e in nx.k_truss(G, k).edges}
        assert got == want, k


def test_k_truss_two_cliques_bridge(spark):
    from online_centrality_spark.operators import k_truss

    # two 4-cliques joined by a bridge: 4-truss = the cliques, no bridge
    cl1 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    cl2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    pairs = cl1 + cl2 + [(3, 10)]
    got = {
        tuple(sorted((r["a"], r["b"])))
        for r in k_truss(_edges(spark, pairs), 4).collect()
    }
    assert got == {tuple(sorted(e)) for e in cl1 + cl2}


# --- maximal independent set ---------------------------------------------

def _check_mis(pairs, labels):
    """Independence: no edge inside the set. Maximality: every outside
    node has an in-set neighbor."""
    in_set = {n for n, f in labels.items() if f}
    adj = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    for a, b in pairs:
        assert not (a in in_set and b in in_set and a != b), (a, b)
    for n, f in labels.items():
        if not f:
            assert adj.get(n, set()) & in_set, n


def test_mis_path_and_star(spark):
    from online_centrality_spark.operators.mis import maximal_independent_set

    for pairs in (
        [(i, i + 1) for i in range(9)],                     # path
        [(0, i) for i in range(1, 8)],                      # star
        [(0, 1), (1, 2), (2, 0), (3, 4)],                   # triangle + edge
    ):
        labels = {
            r["node_id"]: r["in_mis"]
            for r in maximal_independent_set(_edges(spark, pairs)).collect()
        }
        assert set(labels) == {n for p in pairs for n in p}
        _check_mis(pairs, labels)


def test_mis_random_and_deterministic(spark):
    from online_centrality_spark.operators.mis import maximal_independent_set

    rng = random.Random(17)
    pairs = list({(rng.randrange(40), rng.randrange(40)) for _ in range(120)})
    pairs = [(a, b) for a, b in pairs if a != b]
    df = _edges(spark, pairs)
    l1 = {r["node_id"]: r["in_mis"] for r in maximal_independent_set(df).collect()}
    l2 = {r["node_id"]: r["in_mis"] for r in maximal_independent_set(df).collect()}
    _check_mis(pairs, l1)
    assert l1 == l2  # hash priorities -> identical set on rerun


# --- temporal reachability -------------------------------------------------

def _tedges(spark, triples):
    return spark.createDataFrame(triples, "src long, dst long, t long")


def py_earliest_arrival(triples, source, t_start):
    arr = {source: t_start}
    changed = True
    while changed:
        changed = False
        for u, v, t in triples:
            if u in arr and t >= arr[u] and (v not in arr or t < arr[v]):
                arr[v] = t
                changed = True
    return arr


def test_temporal_reachability_respects_time(spark):
    from online_centrality_spark.operators.reachability import (
        temporal_reachability,
    )

    # 0->1 at t=10, 1->2 at t=5: 2 is NOT reachable (time decreases),
    # but 1->3 at t=20 is; 0->4 at t=1 usable from t_start=0
    triples = [(0, 1, 10), (1, 2, 5), (1, 3, 20), (0, 4, 1)]
    got = {
        r["node_id"]: r["arrival"]
        for r in temporal_reachability(
            _tedges(spark, triples), source=0, t_start=0
        ).collect()
    }
    assert got == {0: 0, 1: 10, 3: 20, 4: 1}
    assert 2 not in got


def test_temporal_reachability_matches_python_replay(spark):
    from online_centrality_spark.operators.reachability import (
        temporal_reachability,
    )

    rng = random.Random(23)
    triples = [
        (rng.randrange(15), rng.randrange(15), rng.randrange(100))
        for _ in range(120)
    ]
    triples = [(u, v, t) for u, v, t in triples if u != v]
    got = {
        r["node_id"]: r["arrival"]
        for r in temporal_reachability(
            _tedges(spark, triples), source=3, t_start=0
        ).collect()
    }
    assert got == py_earliest_arrival(triples, 3, 0)


def test_temporal_reachability_empty_stream(spark):
    from online_centrality_spark.operators.reachability import (
        temporal_reachability,
    )

    out = temporal_reachability(_tedges(spark, []), source=0)
    assert out.count() == 0


# --- frontier round cap ----------------------------------------------------

# 0 -> 1 -> 2 -> 3 (weight 1.0, times 1, 2, 3): every sweep below has its
# deepest non-empty frontier at depth 3, so a cap of 4 must finish and a
# cap of 3 must raise.
_PATH = [(0, 1, 1), (1, 2, 2), (2, 3, 3)]
_PATH_DEPTH = 3


def _path(spark):
    return spark.createDataFrame(
        [(u, v, 1.0, t) for u, v, t in _PATH],
        "src long, dst long, w double, t long",
    )


def _by_node(df, col):
    return {r["node_id"]: r[col] for r in df.collect()}


def _path_bfs(spark, cap):
    return _by_node(bfs_distances(_path(spark), 0, max_rounds=cap), "dist")


def _path_ecc(spark, cap):
    from online_centrality_spark.operators import eccentricity

    return _by_node(eccentricity(_path(spark), max_rounds=cap), "ecc")


def _path_bc(spark, cap):
    from online_centrality_spark.operators import betweenness_from_pivots

    out = betweenness_from_pivots(_path(spark), max_depth=cap)
    return _by_node(out, "bc")


def _path_ebc(spark, cap):
    from online_centrality_spark.operators.betweenness import (
        edge_betweenness_from_pivots,
    )

    out = edge_betweenness_from_pivots(_path(spark), max_depth=cap)
    return {(r["src"], r["dst"]): r["ebc"] for r in out.collect()}


def _path_bowtie(spark, cap):
    from online_centrality_spark.operators import bowtie_decomposition

    out = bowtie_decomposition(_path(spark), max_rounds=cap)
    return _by_node(out, "bowtie_class")


def _path_sssp(spark, cap):
    from online_centrality_spark.operators.sssp import weighted_sssp

    return _by_node(weighted_sssp(_path(spark), 0, max_iter=cap), "dist")


def _path_reach(spark, cap):
    from online_centrality_spark.operators.reachability import (
        temporal_reachability,
    )

    out = temporal_reachability(_path(spark), 0, max_iter=cap)
    return _by_node(out, "arrival")


def _path_harmonic(weight_col):
    def run(spark, cap):
        from online_centrality_spark.operators import harmonic_centrality

        out = harmonic_centrality(
            _path(spark), collect_threshold=0, max_hops=cap,
            weight_col=weight_col,
        )
        return {k: round(v, 12) for k, v in _by_node(out, "score").items()}

    return run


_HARMONIC_PATH = {0: 0.0, 1: 1.0, 2: 1.5, 3: round(1 + 1 / 2 + 1 / 3, 12)}


@pytest.mark.parametrize(
    "run, want",
    [
        (_path_bfs, {0: 0, 1: 1, 2: 2, 3: 3}),
        (_path_ecc, {0: 3, 1: 2, 2: 2, 3: 3}),
        (_path_bc, {0: 0.0, 1: 2.0, 2: 2.0, 3: 0.0}),
        (_path_ebc, {(0, 1): 3.0, (1, 2): 4.0, (2, 3): 3.0}),
        (_path_bowtie, {0: "CORE", 1: "OUT", 2: "OUT", 3: "OUT"}),
        (_path_sssp, {0: 0.0, 1: 1.0, 2: 2.0, 3: 3.0}),
        (_path_reach, {0: 1, 1: 1, 2: 2, 3: 3}),
        (_path_harmonic(None), _HARMONIC_PATH),
        (_path_harmonic("w"), _HARMONIC_PATH),
    ],
    ids=[
        "bfs_distances", "eccentricity", "betweenness", "edge_betweenness",
        "bowtie", "weighted_sssp", "temporal_reachability", "harmonic",
        "weighted_harmonic",
    ],
)
def test_frontier_round_cap_boundary(spark, run, want):
    # the cap counts expansions: depth D needs D + 1 (the empty one stops
    # the sweep); a cap of D raises instead of truncating the answer
    assert run(spark, _PATH_DEPTH + 1) == want
    with pytest.raises(RuntimeError):
        run(spark, _PATH_DEPTH)
