"""Line-faithful *semantics* oracle for ferencberes/online-centrality.

A clean-room, dict-based reimplementation of the reference's replay
simulator and score computers, used only as the golden source in tests
(the reference's own environment — Python 3.5, networkx 1.x — is extinct,
and networkx/scipy are not installed here). Every rule cites the
reference file:line it mirrors. Deliberately structured differently from
both the reference (no numpy score matrices, no networkx) and the engine
(no Spark): per-node dicts and explicit loops, tiny-fixture scale only.

Covered semantics:
- replay with epoch boundaries incl. inactive intervals + trailing flush
  (``graph_simulator.py:41-78``) and edge-index boundaries
  (``graph_simulator.py:80-109``)
- TemporalKatz / TruncatedTemporalKatz lazy decay + update
  (``temporal_katz_computer.py:26-51,104-117``)
- TemporalPageRank update rule (``temporal_pagerank.py:39-52``)
- decayed indegree: snapshot recompute over dedup in-edges
  (``decayed_indegree_computer.py:36-60,71-87``; batch_score_part="" path)
- static indegree / negative-beta / PageRank / harmonic on total or
  sliding-window dedup graphs (``static_*_computer.py``,
  ``base_computer.py:12-23``), with networkx-parity PageRank
  (power iteration, dangling mass, L1 tol = 1e-6 * N, max_iter)
"""

from __future__ import annotations

from collections import deque

from online_centrality_spark.functions.weights import Weighter


# ---------------------------------------------------------------------------
# online computers
# ---------------------------------------------------------------------------


class OracleTemporalKatz:
    """Mirrors TemporalKatzComputer (temporal_katz_computer.py:17-62)."""

    def __init__(self, params: list[tuple[float, Weighter]]):
        self.params = params  # list of (beta, weighter)
        self.rank: dict[int, list[float]] = {}
        self.last: dict[int, int] = {}

    def _decayed(self, node: int, time: int) -> list[float]:
        r = self.rank.get(node, [0.0] * len(self.params))
        if node in self.last:
            dt = time - self.last[node]
            r = [v * w.weight(dt) for v, (_, w) in zip(r, self.params)]
        return r

    def update(self, src: int, dst: int, time: int) -> None:
        sr = self._decayed(src, time)
        tr = self._decayed(dst, time)
        self.rank[src] = sr
        self.rank[dst] = [
            t + beta * (s + 1.0) for t, s, (beta, _) in zip(tr, sr, self.params)
        ]
        self.last[src] = time
        self.last[dst] = time

    def snapshot(self, time: int) -> dict[int, list[float]]:
        return {node: self._decayed(node, time) for node in self.last}


class OracleTruncatedTemporalKatz:
    """Mirrors TruncatedTemporalKatzComputer (temporal_katz_computer.py:79-130)."""

    def __init__(self, params: list[tuple[float, Weighter]], k: int = 5):
        self.params = params
        self.k = k
        # rank[layer][node] -> list per param
        self.rank: list[dict[int, list[float]]] = [{} for _ in range(k)]
        self.last: dict[int, int] = {}

    def _decayed(self, layer: int, node: int, time: int) -> list[float]:
        r = self.rank[layer].get(node, [0.0] * len(self.params))
        if node in self.last:
            dt = time - self.last[node]
            r = [v * w.weight(dt) for v, (_, w) in zip(r, self.params)]
        return r

    def update(self, src: int, dst: int, time: int) -> None:
        for layer in reversed(range(self.k)):
            if layer == 0:
                shorter = [0.0] * len(self.params)
            else:
                shorter = self._decayed(layer - 1, src, time)
            sr = self._decayed(layer, src, time)
            tr = self._decayed(layer, dst, time)
            self.rank[layer][src] = sr
            self.rank[layer][dst] = [
                t + beta * (s + 1.0)
                for t, s, (beta, _) in zip(tr, shorter, self.params)
            ]
        self.last[src] = time
        self.last[dst] = time

    def snapshot(self, layer: int, time: int) -> dict[int, list[float]]:
        return {node: self._decayed(layer, node, time) for node in self.last}


class OracleTemporalPageRank:
    """Mirrors TemporalPageRankComputer (temporal_pagerank.py:20-52)."""

    def __init__(self, params: list[tuple[float, float]]):
        self.params = params  # list of (alpha, beta)
        self.pr: dict[int, list[float]] = {}
        self.mass: dict[int, list[float]] = {}

    def _get(self, d: dict[int, list[float]], node: int) -> list[float]:
        return d.setdefault(node, [0.0] * len(self.params))

    def update(self, src: int, dst: int, time=None) -> None:
        for i, (alpha, beta) in enumerate(self.params):
            pr_s, pr_t = self._get(self.pr, src), self._get(self.pr, dst)
            m_s, m_t = self._get(self.mass, src), self._get(self.mass, dst)
            new_pr_s = pr_s[i] + (1.0 - alpha)
            new_pr_t = pr_t[i] + (m_s[i] + (1.0 - alpha)) * alpha
            new_m_t = m_t[i] + (m_s[i] + (1.0 - alpha)) * alpha * (1 - beta)
            new_m_s = m_s[i] * beta
            pr_s[i], pr_t[i], m_s[i], m_t[i] = new_pr_s, new_pr_t, new_m_s, new_m_t

    def snapshot(self) -> dict[int, list[float]]:
        """Positive scores only (temporal_pagerank.py:61-62)."""
        return {n: list(v) for n, v in self.pr.items()}


class OracleDecayedIndegree:
    """Mirrors DecayedIndegreeComputer with batch_score_part=""
    (decayed_indegree_computer.py:36-87): score(v) at readout time T is the
    sum over *distinct* in-edges (w,v) of the total graph of
    weight(T - last_activation(w,v)); update also refreshes the source
    node's stored rank, and both endpoints become "active" (exported).
    """

    def __init__(self, params: list[Weighter]):
        self.params = params
        self.edge_last: dict[tuple[int, int], int] = {}
        self.in_edges: dict[int, set[int]] = {}
        self.active: set[int] = set()

    def _olr(self, node: int, time: int) -> list[float]:
        vals = [0.0] * len(self.params)
        for w_node in self.in_edges.get(node, ()):  # dedup in-edges
            dt = time - self.edge_last[(w_node, node)]
            for i, wf in enumerate(self.params):
                vals[i] += 1.0 * wf.weight(dt)
        return vals

    def update(self, src: int, dst: int, time: int) -> None:
        self.active.add(src)
        self.active.add(dst)
        self.in_edges.setdefault(dst, set()).add(src)
        self.edge_last[(src, dst)] = time

    def snapshot(self, time: int) -> dict[int, list[float]]:
        return {node: self._olr(node, time) for node in self.active}


# ---------------------------------------------------------------------------
# static measures on a dedup digraph (set of (src, dst) pairs)
# ---------------------------------------------------------------------------


def _graph_nodes(edge_set: set[tuple[int, int]]) -> set[int]:
    nodes: set[int] = set()
    for s, d in edge_set:
        nodes.add(s)
        nodes.add(d)
    return nodes


def oracle_indegree(edge_set, epsilon: float = 0.001) -> dict[int, float]:
    """static_indegree_computer.py:32-43 (dedup in-degree + epsilon)."""
    deg = {n: 0 for n in _graph_nodes(edge_set)}
    for _, d in edge_set:
        deg[d] += 1
    return {n: c + epsilon for n, c in deg.items()}


def oracle_negative_beta(edge_set, epsilon: float = 0.001) -> dict[int, float]:
    """static_negative_beta_measure_computer.py:31-49: for each node v,
    sum over in-edges (u,v) of 1/outdeg(u) (outdeg 0 -> 1.0), + epsilon."""
    nodes = _graph_nodes(edge_set)
    outdeg = {n: 0 for n in nodes}
    for s, _ in edge_set:
        outdeg[s] += 1
    score = {n: 0.0 for n in nodes}
    for s, d in edge_set:
        score[d] += 1.0 / outdeg[s] if outdeg[s] > 0 else 1.0
    return {n: v + epsilon for n, v in score.items()}


def oracle_pagerank(
    edge_set, alpha: float = 0.85, max_iter: int = 100, tol: float = 1e-6
) -> dict[int, float]:
    """networkx-parity PageRank on a dedup digraph (the reference calls
    nx.pagerank, static_pagerank_computer.py:42): uniform start and
    teleport, dangling mass redistributed uniformly, L1 stopping rule
    err < N * tol.
    """
    nodes = sorted(_graph_nodes(edge_set))
    n = len(nodes)
    if n == 0:
        return {}
    succ: dict[int, list[int]] = {v: [] for v in nodes}
    for s, d in edge_set:
        succ[s].append(d)
    x = {v: 1.0 / n for v in nodes}
    dangling = [v for v in nodes if not succ[v]]
    for _ in range(max_iter):
        xlast = x
        x = {v: 0.0 for v in nodes}
        danglesum = alpha * sum(xlast[v] for v in dangling)
        for v in nodes:
            out = succ[v]
            if out:
                share = alpha * xlast[v] / len(out)
                for u in out:
                    x[u] += share
        for v in nodes:
            x[v] += danglesum / n + (1.0 - alpha) / n
        err = sum(abs(x[v] - xlast[v]) for v in nodes)
        if err < n * tol:
            return x
    raise RuntimeError("pagerank power iteration failed to converge")


def oracle_harmonic(edge_set, epsilon: float = 0.001) -> dict[int, float]:
    """networkx harmonic_centrality parity: h(v) = sum over u != v of
    1/d(u, v) using *incoming* shortest-path distance; + epsilon
    (static_harmonic_centrality_computer.py:31-42). BFS on the reversed
    graph from each target node."""
    nodes = _graph_nodes(edge_set)
    pred: dict[int, list[int]] = {v: [] for v in nodes}
    for s, d in edge_set:
        pred[d].append(s)
    result = {}
    for v in nodes:
        dist = {v: 0}
        frontier = [v]
        h = 0.0
        depth = 0
        while frontier:
            depth += 1
            nxt = []
            for node in frontier:
                for p in pred[node]:
                    if p not in dist:
                        dist[p] = depth
                        h += 1.0 / depth
                        nxt.append(p)
            frontier = nxt
        result[v] = h + epsilon
    return result


# ---------------------------------------------------------------------------
# replay simulator
# ---------------------------------------------------------------------------


class OracleReplay:
    """Faithful replay of OnlineGraphSimulator (graph_simulator.py).

    ``edges`` is the stream in file order: list of (t, src, dst). Online
    computers receive every edge; ``snapshots`` collects, per emitted
    interval, the boundary time plus total/window edge sets for static
    measures. ``lookback_graphs[lb]`` reproduces get_graph_from_snapshots
    (base_computer.py:12-23): union of the last ``lb`` interval edge
    lists, dedup.
    """

    def __init__(self, edges, time_type: str = "epoch"):
        assert time_type in ("epoch", "index")
        self.time_type = time_type
        self.edges = list(edges)
        # group by epoch preserving in-epoch file order (graph_extractor.py:8-19)
        edge_map: dict[int, list[tuple[int, int]]] = {}
        for t, s, d in self.edges:
            edge_map.setdefault(t, []).append((s, d))
        self.timestamps = sorted(edge_map)
        self.edge_map = edge_map

    def run(self, boundaries, computers, max_index=None, on_snapshot=None):
        """Returns list of snapshot records:
        dict(interval_id, boundary, total_edges=set, interval_edges=list).
        Calls ``comp.update(src, dst, time)`` for each edge in order.
        """
        if self.time_type == "index":
            return self._run_index(boundaries, computers, max_index, on_snapshot)
        return self._run_epoch(boundaries, computers, max_index, on_snapshot)

    def _run_epoch(self, boundaries, computers, max_index=None, on_snapshot=None):
        snapshots = []
        total: set[tuple[int, int]] = set()
        window: list[tuple[int, int]] = []
        prev_epoch, interval_id = -1, 0
        terminate = False
        current = 0

        def emit(iid):
            snapshots.append(
                dict(
                    interval_id=iid,
                    boundary=boundaries[iid],
                    total_edges=set(total),
                    interval_edges=list(window),
                )
            )
            window.clear()
            if on_snapshot is not None:
                on_snapshot(iid, boundaries[iid])

        def apply_epoch(epoch):
            for s, d in self.edge_map[epoch]:
                total.add((s, d))
                window.append((s, d))
                for comp in computers:
                    comp.update(s, d, epoch)

        for epoch in self.timestamps:
            current = epoch
            applied = False
            if current <= boundaries[interval_id]:
                apply_epoch(current)
                applied = True
            while (not terminate) and current >= boundaries[interval_id]:
                if (
                    max_index is not None and interval_id >= max_index - 1
                ) or interval_id == len(boundaries) - 1:
                    terminate = True
                if terminate or (
                    current >= boundaries[interval_id]
                    and prev_epoch < boundaries[interval_id]
                ):
                    emit(interval_id)
                    if terminate:
                        return snapshots
                    interval_id += 1
            if not applied:
                apply_epoch(current)
            prev_epoch = current
        # trailing flush (graph_simulator.py:74-77)
        if (
            interval_id > 1
            and current > boundaries[interval_id - 1]
            and current < boundaries[interval_id]
        ):
            emit(interval_id)
        return snapshots

    def _run_index(self, boundaries, computers, max_index=None, on_snapshot=None):
        snapshots = []
        total: set[tuple[int, int]] = set()
        window: list[tuple[int, int]] = []
        interval_id = 0
        edge_idx = 1
        num_edges = len(self.edges)
        for epoch in self.timestamps:
            for s, d in self.edge_map[epoch]:
                total.add((s, d))
                window.append((s, d))
                for comp in computers:
                    comp.update(s, d, edge_idx)
                terminate = (
                    (max_index is not None and edge_idx >= max_index)
                    or (interval_id == len(boundaries) - 1 and edge_idx == boundaries[-1])
                    or edge_idx == num_edges
                )
                if terminate or edge_idx == boundaries[interval_id]:
                    snapshots.append(
                        dict(
                            interval_id=interval_id,
                            boundary=boundaries[interval_id],
                            total_edges=set(total),
                            interval_edges=list(window),
                        )
                    )
                    window.clear()
                    if on_snapshot is not None:
                        on_snapshot(interval_id, boundaries[interval_id])
                    if terminate:
                        return snapshots
                    interval_id += 1
                edge_idx += 1
        return snapshots


def sliding_window_edges(snapshots, upto_idx: int, lookback: int):
    """Union of the last ``lookback`` interval edge lists at snapshot
    ``upto_idx`` (dedup), mirroring the deque in base_computer.py:12-23."""
    dq: deque = deque()
    for i in range(upto_idx + 1):
        dq.append(snapshots[i]["interval_edges"])
        while len(dq) > lookback:
            dq.popleft()
    merged: set[tuple[int, int]] = set()
    for lst in dq:
        merged.update(lst)
    return merged
