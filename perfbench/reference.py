"""Independent references for the benchmark's correctness checks.

Nothing here calls the engine: induction and label propagation are
replayed in numpy from their stated rules, the temporal measures and
PageRank come from the dict-based oracle in ``tests/oracle``, and
components and triangles come from networkx.
"""

from __future__ import annotations

import networkx as nx
import numpy as np
import pyarrow.parquet as pq

from online_centrality_spark.functions.weights import ExponentialWeighter
from tests.oracle.reference_oracle import (
    OracleDecayedIndegree,
    OracleTemporalKatz,
    oracle_pagerank,
)


def induce_edges(events_path: str) -> dict[str, np.ndarray]:
    """Interaction-adjacency rule: within each user ordered by event_id,
    consecutive events emit ``type(k) -> type(k+1)`` at the later time;
    actors get dense ids in lexicographic order; ``seq`` ranks edges by
    time (times are unique). Returns columns sorted by ``seq``."""
    tbl = pq.read_table(events_path)
    user = tbl.column("user_id").to_numpy()
    eid = tbl.column("event_id").to_numpy()
    ts = tbl.column("ts").cast("int64").to_numpy()
    etype = np.array(tbl.column("event_type").to_pylist(), dtype=object)
    order = np.lexsort((eid, user))
    user, ts, etype = user[order], ts[order], etype[order]
    same = user[1:] == user[:-1]
    src_a, dst_a, t = etype[:-1][same], etype[1:][same], ts[1:][same]
    actors = np.unique(np.concatenate([src_a, dst_a]).astype(str))
    src = np.searchsorted(actors, src_a.astype(str)).astype(np.int64)
    dst = np.searchsorted(actors, dst_a.astype(str)).astype(np.int64)
    by_t = np.argsort(t, kind="stable")
    return dict(
        t=t[by_t],
        src=src[by_t],
        dst=dst[by_t],
        seq=np.arange(1, len(t) + 1, dtype=np.int64),
        n_nodes=len(actors),
    )


def graph(src: np.ndarray, dst: np.ndarray) -> nx.Graph:
    """Undirected simple graph of the edge list (self-loops dropped)."""
    g = nx.Graph()
    g.add_edges_from(zip(src.tolist(), dst.tolist()))
    g.remove_edges_from(nx.selfloop_edges(g))
    return g


def component_min(g: nx.Graph) -> dict[int, int]:
    """node -> smallest node id of its weakly connected component."""
    out: dict[int, int] = {}
    for comp in nx.connected_components(g):
        m = min(comp)
        for n in comp:
            out[n] = m
    return out


def pagerank(src: np.ndarray, dst: np.ndarray, tol: float = 1e-6) -> dict[int, float]:
    return oracle_pagerank(set(zip(src.tolist(), dst.tolist())), tol=tol)


def label_propagation(
    src: np.ndarray, dst: np.ndarray, max_iter: int = 10
) -> tuple[np.ndarray, np.ndarray]:
    """Synchronous LPA: each round every node takes the label most
    frequent among its undirected dedup neighbours, ties to the smallest
    label; a node with no neighbours keeps its label; stop after
    ``max_iter`` rounds or when no label changes. Returns
    ``(nodes, labels)``."""
    nodes = np.unique(np.concatenate([src, dst]))
    a = np.concatenate([src, dst])
    b = np.concatenate([dst, src])
    keep = a != b
    pairs = np.unique(np.stack([a[keep], b[keep]], axis=1), axis=0)
    ai = np.searchsorted(nodes, pairs[:, 0])
    bi = np.searchsorted(nodes, pairs[:, 1])
    label = nodes.copy()
    for _ in range(max_iter):
        la = label[ai]
        o = np.lexsort((la, bi))
        kb, kl = bi[o], la[o]
        start = np.ones(len(kb), bool)
        start[1:] = (kb[1:] != kb[:-1]) | (kl[1:] != kl[:-1])
        idx = np.nonzero(start)[0]
        cnt = np.diff(np.append(idx, len(kb)))
        gb, gl = kb[idx], kl[idx]
        best = np.lexsort((gl, -cnt, gb))
        first = np.ones(len(best), bool)
        first[1:] = gb[best][1:] != gb[best][:-1]
        win = best[first]
        new = label.copy()
        new[gb[win]] = gl[win]
        changed = int((new != label).sum())
        label = new
        if changed == 0:
            break
    return nodes, label


def _replay(oracle, t, src, dst, boundaries, snapshot):
    """Scores per (interval, node) at each boundary: apply every edge up
    to and including the boundary, then read out decayed to it."""
    out: dict[tuple[int, int], list[float]] = {}
    ptr, n = 0, len(t)
    for i, b in enumerate(boundaries):
        while ptr < n and t[ptr] <= b:
            oracle.update(int(src[ptr]), int(dst[ptr]), int(t[ptr]))
            ptr += 1
        for node, vals in snapshot(oracle, b).items():
            out[(i, node)] = vals
    return out


def temporal_katz(t, src, dst, boundaries, tk_params):
    params = [(beta, ExponentialWeighter(norm=norm, base=0.5)) for beta, norm in tk_params]
    return _replay(
        OracleTemporalKatz(params), t, src, dst, boundaries,
        lambda o, b: o.snapshot(b),
    )


def decayed_indegree(t, src, dst, boundaries, norms):
    params = [ExponentialWeighter(norm=norm, base=0.5) for norm in norms]
    return _replay(
        OracleDecayedIndegree(params), t, src, dst, boundaries,
        lambda o, b: o.snapshot(b),
    )


def readout_rows(t, src, dst, boundaries) -> int:
    """Rows a full read-out emits per param: every node seen so far, at
    every boundary from its first edge on."""
    nodes = np.concatenate([src, dst])
    times = np.concatenate([t, t])
    o = np.lexsort((times, nodes))
    first = np.ones(len(o), bool)
    first[1:] = nodes[o][1:] != nodes[o][:-1]
    t_first = times[o][first]
    b = np.asarray(boundaries)
    return int((len(b) - np.searchsorted(b, t_first, side="left")).sum())
