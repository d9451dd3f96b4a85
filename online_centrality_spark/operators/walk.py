"""Distributed temporal-walk (Jacobi path-length) kernel for Temporal Katz.

The distributed execution path of ``temporal_katz.py`` (besides the
single-task ``fold``), designed for **large node spaces and long
windows**: no dense ``n x n`` state, and values stay bounded whenever the
true scores are (unbounded dynamics raise instead of overflowing).

Semantics (identical to the reference computer,
``temporal_katz_computer.py:43-51``): per edge ``(u, v, t)`` in stable
``seq`` order, ``r(v) <- decay(r(v)) + beta * (decay(r(u)) + 1)``. In the
basis "decayed to batch end ``T``" (exponential decay telescopes across a
node's activation gaps — ``weight_funtions.py:33-34`` factorization), the
recurrence becomes the decay-free forward fold

    g_i = beta * ( y0[u_i] + w(T - t_i) + sum_{j < i, dst_j = u_i} g_j )

whose fixed point expands as a geometric series over temporal-walk path
length: round 1 injects ``beta * (y0[u] + w)``, round ``l+1`` propagates
round ``l`` one hop along the time-ordered chain.  Each round is ONE
segmented exclusive prefix-sum over edges grouped by node — fully
vectorized (no per-edge Python), with gather indices precomputed once per
task.  Contributions of length-``l`` walks carry ``beta^l`` (times decay),
so for any bounded parameterization the rounds converge geometrically;
iteration stops when the residual round is below ``tol`` (default 1e-12)
of each edge's own running total, i.e. the result matches the sequential
fold far below the 1e-6 parity gate.

Numerical domain: values in basis ``T`` scale like ``exp(-lambda * (T -
t))`` with ``lambda = |ln base| / norm``.  A batch is therefore chunked so
that every read-out boundary ``b`` in a chunk satisfies ``(T_chunk - b) *
lambda_max <= SAFE_EXPONENT`` — contributions older than that are *truly*
zero in float64 at read-out time, so the cut loses nothing
(:func:`plan_decay_chunks`).  State carried across chunks is rebased by
one vectorized multiply (lazy decay, as the reference does per-touch).

Distribution contract: temporal-walk chains never leave a weakly
connected component of the (time-collapsed) graph, so any partitioning of
the edge stream by a **node-disjoint closure key** (connected component —
derivable in-engine via ``walk_layout='components'`` — replica id,
tenant id, ...) makes groups independent and the result exact.  One
group kernel, :func:`walk_group`, resolves a group's chains locally and
returns its read-outs and end state; two state adapters feed it:

- **broadcast state** (:func:`run_walk_batch`): driver-held ``(p, n)``
  arrays, broadcast per batch and gathered per task in a
  ``mapInPandas`` kernel (right for actor dictionaries);
- **distributed state** (:func:`run_walk_batch_distributed`): a state
  DataFrame co-partitioned with the edges, meeting them in the
  closure-cogroup envelope :func:`closure_cogroup`
  (``cogroup(...).applyInArrow``, shared with the distributed Temporal
  PageRank fold) — nothing driver-held, right for unbounded node spaces.

Without a closure key the broadcast adapter falls back to a single task
(still ~4x faster than the per-edge ``fold`` because all work is
vectorized).  Hub actors skew *within* a component; they cost O(1) per
edge here (prefix sums are oblivious to degree), which is the kernel's
answer to the north rule's hub-skew clause.
"""

from __future__ import annotations

import math
import time

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.weights import ConstantWeighter, ExponentialWeighter, Weighter

#: stay well clear of float64's denormal onset (exp(-708)); read-outs
#: rescale by at most exp(+SAFE_EXPONENT).
SAFE_EXPONENT = 500.0

WALK_ROW_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.IntegerType(), False),  # 0 readout, 1 endstate, 2 metrics
        T.StructField("interval", T.LongType(), False),
        T.StructField("nodes", T.BinaryType(), False),  # int64 node ids
        T.StructField("vals", T.BinaryType(), False),  # (m, p) float64 scores
    ]
)


def decay_rate(w: Weighter) -> float:
    """lambda = |ln base| / norm for Exp; 0 for Const(1)."""
    if isinstance(w, ExponentialWeighter):
        return abs(math.log(w.base)) / w.norm
    if isinstance(w, ConstantWeighter) and w.c == 1.0:
        return 0.0
    raise ValueError(f"walk path requires factorizing weighters, got {w!r}")


def plan_decay_chunks(
    intervals: list[tuple[int, float, float]], lambda_max: float
) -> list[list[tuple[int, float, float]]]:
    """Group ordered ``(interval_id, hi, readout_time)`` into chunks such
    that every read-out in a chunk is within ``SAFE_EXPONENT`` decay units
    of the chunk's end (the basis time)."""
    chunks: list[list[tuple[int, float, float]]] = []
    cur: list[tuple[int, float, float]] = []
    for iid, hi, rt in intervals:
        # a single interval whose own span exceeds the safe window cannot
        # be split by chunking: its read-out rescale would overflow
        # without tripping the round-total divergence guard
        if (float(hi) - float(rt)) * lambda_max > SAFE_EXPONENT:
            raise ValueError(
                f"interval {iid}: (hi - readout_time) * lambda "
                f"= {(float(hi) - float(rt)) * lambda_max:.1f} exceeds "
                f"SAFE_EXPONENT={SAFE_EXPONENT}; read-outs this far from "
                "the interval end underflow/overflow float64"
            )
    for iv in intervals:
        cand = cur + [iv]
        t_end = cand[-1][1]
        first_rt = min(rt for _, _, rt in cand)
        if cur and (t_end - first_rt) * lambda_max > SAFE_EXPONENT:
            chunks.append(cur)
            cur = [iv]
        else:
            cur = cand
    if cur:
        chunks.append(cur)
    return chunks


def build_walk_layout(src: np.ndarray, dst: np.ndarray):
    """Per-task gather/scatter indices for the round prefix-sums.

    Posts are edges ordered by ``(dst, position)``.  For each edge ``i``
    (which *reads* node ``src_i``), the chain input is the prefix sum of
    posts ``j < i`` on node ``src_i``.  Those prefix sums MUST restart at
    zero per node: magnitudes inside a decay chunk span ``exp(lambda *
    span)`` (up to e^500), so a single global running sum would
    catastrophically cancel small segments that follow large ones.  Each
    node's posts are therefore scattered into a row of a power-of-2
    length-bucketed padded matrix and summed with a row-wise ``cumsum`` —
    per-segment exact, fully vectorized, and the index structures below
    are built once per task and reused by every round and parameter.

    Returns ``(edge_flat, pred_flat, views, flat_size)``:

    - ``edge_flat[e]``: flat slot of edge ``e``'s post,
    - ``pred_flat[i]``: flat slot holding edge ``i``'s chain prefix after
      the row cumsums (``flat_size`` = the always-zero slot for edges
      with no predecessor),
    - ``views``: list of ``(offset, rows, width)`` row-matrix extents to
      ``cumsum`` per round.
    """
    E = len(src)
    idx = np.arange(E, dtype=np.int64)
    post_order = np.lexsort((idx, dst))
    pdst = dst[post_order]
    pseq = post_order
    seg_first = np.zeros(E, dtype=bool)
    if E:
        seg_first[0] = True
        seg_first[1:] = pdst[1:] != pdst[:-1]
    seg_id = np.cumsum(seg_first) - 1 if E else np.empty(0, np.int64)
    seg_start_idx = np.nonzero(seg_first)[0]
    n_seg = len(seg_start_idx)
    seg_len = np.diff(np.concatenate([seg_start_idx, [E]]))
    # power-of-2 length classes; segments packed as rows per class
    cls = np.zeros(n_seg, dtype=np.int64)
    if n_seg:
        cls = np.ceil(np.log2(np.maximum(seg_len, 1))).astype(np.int64)
        cls[seg_len == 1] = 0
    views: list[tuple[int, int, int]] = []
    seg_row_base = np.zeros(n_seg, dtype=np.int64)  # flat index of row start
    off = 0
    for c in np.unique(cls):
        members = np.nonzero(cls == c)[0]
        width = 1 << int(c)
        rows = len(members)
        seg_row_base[members] = off + np.arange(rows, dtype=np.int64) * width
        views.append((off, rows, width))
        off += rows * width
    flat_size = off
    # post slot s (post order) -> flat = row base of its segment + position
    pos_in_seg = np.arange(E, dtype=np.int64) - seg_start_idx[seg_id] if E else idx
    post_flat = seg_row_base[seg_id] + pos_in_seg if E else idx
    edge_flat = np.empty(E, dtype=np.int64)
    edge_flat[post_order] = post_flat
    # predecessor post of each read: last post j < i with dst_j == src_i
    comp_posts = pdst * np.int64(E + 1) + pseq
    comp_reads = src * np.int64(E + 1) + idx
    pos = np.searchsorted(comp_posts, comp_reads)
    pred = pos - 1
    valid = (pred >= 0) & (pdst[np.clip(pred, 0, max(E - 1, 0))] == src)
    pred_flat = np.where(valid, post_flat[np.clip(pred, 0, max(E - 1, 0))], flat_size)
    return edge_flat, pred_flat, views, flat_size


def walk_totals(
    w_inject: np.ndarray,  # (p, E): beta_j * (y0[src] + w_j(T - t))
    betas: np.ndarray,
    edge_flat: np.ndarray,
    pred_flat: np.ndarray,
    views: list[tuple[int, int, int]],
    flat_size: int,
    tol: float = 1e-12,
    max_rounds: int | None = None,
) -> tuple[np.ndarray, int, float, bool]:
    """Iterate rounds until the residual round is negligible.

    Termination is GUARANTEED for finite blocks: round ``r`` carries only
    walks of path length ``r``, and no within-block walk is longer than
    the block's edge count, so ``g`` becomes exactly zero after at most
    ``E`` rounds even for explosive parameterizations (which the
    reference computes too — scores just get astronomically large).  The
    only genuine failure mode is float64 overflow, reported as
    ``diverged`` (callers raise with the param context).

    Returns ``(totals (p, E), rounds, max_residual, diverged)``.
    """
    p, E = w_inject.shape
    if max_rounds is None:
        max_rounds = E + 8  # chain-length bound: g == 0 by round E
    g = w_inject.copy()
    total = g.copy()
    # +1: trailing always-zero slot gathered by predecessor-less reads
    F = np.zeros(flat_size + 1)
    active = np.ones(p, dtype=bool)
    resid = 0.0
    diverged = False
    r = 0
    for r in range(1, max_rounds + 1):
        all_done = True
        for j in np.nonzero(active)[0]:
            F.fill(0.0)
            F[edge_flat] = g[j]
            for off, rows, width in views:
                if width == 1:
                    continue
                view = F[off : off + rows * width].reshape(rows, width)
                np.cumsum(view, axis=1, out=view)
            gj = betas[j] * F[pred_flat]
            total[j] += gj
            g[j] = gj
            m_abs = float(np.abs(gj).max()) if E else 0.0
            if not np.isfinite(m_abs):
                diverged = True  # float64 overflow: truly unbounded params
                break
            # convergence must be relative PER EDGE: magnitudes inside a
            # chunk span e^{lambda * span}, so a chunk-global threshold
            # would truncate the series for early (heavily decayed) edges
            # whose read-outs rescale right back up. total >= round-1
            # injection = beta * w > 0, so the ratio is well-defined.
            # rounds and totals are nonnegative, so total == 0 implies
            # gj == 0 (fully-underflowed edges): mask the 0/0
            ta = np.abs(total[j])
            m = (
                float((np.abs(gj) / np.where(ta > 0.0, ta, 1.0)).max())
                if E
                else 0.0
            )
            if m < tol:
                active[j] = False
            else:
                all_done = False
                resid = max(resid, m)
        if all_done or diverged:
            break
    return total, r, resid, diverged


def order_edges(key, seq, src, dst):
    """A group's edges in stable ``(key, seq)`` order.

    The sort is skipped only for input already in that order: a
    key-monotone check alone would miss seq disorder at timestamp ties,
    silently applying tied chained edges out of the reference's stable
    seq order."""
    dk = np.diff(key)
    if np.any((dk < 0) | ((dk == 0) & (np.diff(seq) < 0))):
        order = np.lexsort((seq, key))
        return key[order], src[order], dst[order]
    return key, src, dst


def encode_nodes(*ids: np.ndarray):
    """Local node encoding of a group: a dense range slice when the ids
    are packed (the common chain-closed layout), else sort-unique.

    Returns ``(nodes, [local index array per input array])``."""
    all_ids = np.concatenate(ids)
    n_lo = int(all_ids.min())
    n_hi = int(all_ids.max())
    if n_hi - n_lo + 1 <= 2 * len(all_ids) + 64:
        nodes = np.arange(n_lo, n_hi + 1, dtype=np.int64)
        return nodes, [a - n_lo for a in ids]
    nodes = np.unique(all_ids)
    return nodes, [np.searchsorted(nodes, a) for a in ids]


def group_meta(rounds, residual, edges, diverged, t0, t1) -> np.ndarray:
    """The 7-float per-group metrics vector (see :func:`decode_meta`):
    ``t0`` is the group's start, ``t1`` the end of its input decoding."""
    tc = TaskContext.get()
    pid = tc.partitionId() if tc is not None else -1
    return np.array(
        [
            float(pid),
            rounds,
            residual,
            float(edges),
            1.0 if diverged else 0.0,
            t1 - t0,
            time.time() - t1,
        ]
    )


def decode_meta(b: bytes) -> dict:
    v = np.frombuffer(b, np.float64)
    return dict(
        partition=int(v[0]),
        rounds=float(v[1]),
        residual=float(v[2]),
        edges=int(v[3]),
        diverged=bool(v[4]),
        t_input=float(v[5]),
        t_compute=float(v[6]),
    )


def walk_group(
    key: np.ndarray,
    src: np.ndarray,
    dst: np.ndarray,
    nodes: np.ndarray,
    y0loc: np.ndarray,
    y0_active: np.ndarray,
    betas: np.ndarray,
    weighters: list[Weighter],
    chunk_plan: list[tuple[float, list[tuple[int, float, float]]]],
    t0: float,
    tol: float = 1e-12,
    block_size: int = 8192,
    layers: int = 1,
):
    """The group kernel: advance one chain-closed edge group over the
    WHOLE batch of decay chunks in one pass.

    ``key/src/dst`` are the group's edges in ``(key, seq)`` order with
    ``src/dst`` local indices into ``nodes``; ``y0loc`` ``(nl, p_rows)``
    is the carried state in the basis of the first chunk end (rebased in
    place), ``y0_active`` marks the nodes that carry state.

    ``chunk_plan``: ordered ``(chunk_end, [(iid, hi, rt), ...])`` decay
    chunks (:func:`plan_decay_chunks`).  Because groups are chain-closed,
    no cross-task synchronization is needed between chunks — each group
    rebases its local carry to the next chunk basis itself (one vector
    multiply), so a replay of any number of snapshots costs ONE Spark
    job.

    ``layers`` > 1 runs the TRUNCATED variant: layer ``l`` reads only
    layer ``l-1`` (``temporal_katz_computer.py:104-117``), so the state
    is ``layers * p`` rows (layer-major) and each block needs exactly
    ``layers`` prefix-sum passes — no convergence iteration at all.

    Returns ``(frames, meta)``: ``frames`` lists ``(kind, interval,
    nodes, vals (m, p_rows))`` — one read-out (kind 0) per interval,
    then the end state (kind 1) in the basis of the last chunk end —
    and ``meta`` is the :func:`group_meta` vector.
    """
    p = len(betas)
    p_rows = layers * p
    nl = len(nodes)
    # Blocked execution: rounds stream over cache-resident edge blocks
    # instead of the whole group (which hits the DRAM-bandwidth wall at
    # high core counts). Exact because temporal walks never go
    # backward in time: blocks are processed in time order and a
    # per-node CARRY of fully-converged earlier-block totals feeds
    # each block's round-1 injection. Read-out boundaries are block
    # cuts, so the carry at a cut IS the read-out accumulator.
    carry = np.zeros((nl, p_rows))
    touched = np.zeros(nl, dtype=bool)
    frames = []
    rounds_sum = edges_sum = 0
    resid_max = 0.0
    diverged_any = False
    basis = float(chunk_plan[0][0])
    pos_lo = 0
    t1 = time.time()
    for t_end, ivs in chunk_plan:
        t_end = float(t_end)
        if t_end != basis:
            # local rebase to the new chunk basis (lazy decay carry)
            for r in range(p_rows):
                fac = weighters[r % p].weight(t_end - basis)
                carry[:, r] *= fac
                y0loc[:, r] *= fac
            basis = t_end
        hi_cut = int(np.searchsorted(key, t_end, side="right"))
        iv_cuts = [
            int(np.searchsorted(key, float(hi), side="right")) for _, hi, _ in ivs
        ]
        block_starts = sorted(
            set(range(pos_lo, hi_cut, block_size)) | set(iv_cuts) | {pos_lo, hi_cut}
        )
        iv_ptr = 0

        def emit_readouts_upto(pos):
            # every boundary cut is a block cut, so equality hits
            nonlocal iv_ptr
            while iv_ptr < len(ivs) and iv_cuts[iv_ptr] <= pos:
                iid, hi, rt = ivs[iv_ptr]
                mask = touched | y0_active
                if mask.any():
                    scores = carry[mask] + y0loc[mask]  # basis t_end
                    for r in range(p_rows):
                        scores[:, r] /= weighters[r % p].weight(t_end - float(rt))
                    frames.append((0, iid, nodes[mask], scores))
                iv_ptr += 1

        emit_readouts_upto(pos_lo)
        for s, e in zip(block_starts[:-1], block_starts[1:]):
            if e > s:
                bsrc = src[s:e]
                bdst = dst[s:e]
                B = e - s
                edge_flat, pred_flat, views, flat_size = build_walk_layout(bsrc, bdst)
                base_in = y0loc + carry  # (nl, p_rows)
                if layers == 1:
                    w_inject = np.empty((p, B))
                    for j in range(p):
                        w_inject[j] = betas[j] * (
                            base_in[bsrc, j] + weighters[j].weight_np(t_end - key[s:e])
                        )
                    totals, rounds, resid, diverged = walk_totals(
                        w_inject, betas, edge_flat, pred_flat, views, flat_size, tol=tol
                    )
                else:
                    # truncated: layer l reads only layer l-1 ->
                    # exactly `layers` prefix passes, no iteration
                    totals = np.empty((p_rows, B))
                    FB = np.zeros(flat_size + 1)
                    for j in range(p):
                        wv = weighters[j].weight_np(t_end - key[s:e])
                        totals[j] = betas[j] * wv
                        for l in range(1, layers):
                            FB.fill(0.0)
                            FB[edge_flat] = totals[(l - 1) * p + j]
                            for off, rws, width in views:
                                if width == 1:
                                    continue
                                view = FB[off : off + rws * width].reshape(rws, width)
                                np.cumsum(view, axis=1, out=view)
                            totals[l * p + j] = betas[j] * (
                                wv + base_in[bsrc, (l - 1) * p + j] + FB[pred_flat]
                            )
                    # layered path has no per-round isfinite check:
                    # verify the block's totals so an overflowing
                    # parameterization raises like the iterative path
                    rounds, resid = layers, 0.0
                    diverged = not np.isfinite(totals).all()
                np.add.at(carry, bdst, np.ascontiguousarray(totals.T))
                touched[bsrc] = True
                touched[bdst] = True
                rounds_sum += rounds * B
                edges_sum += B
                resid_max = max(resid_max, resid)
                diverged_any = diverged_any or diverged
            emit_readouts_upto(e)
        pos_lo = hi_cut
    end = touched | y0_active
    if end.any():
        frames.append((1, -1, nodes[end], carry[end] + y0loc[end]))
    mean_rounds = rounds_sum / edges_sum if edges_sum else 0.0
    meta = group_meta(mean_rounds, resid_max, len(key), diverged_any, t0, t1)
    return frames, meta


#: raised (with the diverged groups' metrics) by both walk state paths
OVERFLOW_MSG = (
    "temporal-walk scores overflowed float64 (unbounded dynamics "
    "for these (beta, weighter) params)"
)


def make_walk_kernel(
    betas: np.ndarray,
    weighters: list[Weighter],
    y0_bcast,
    active_bcast,
    chunk_plan: list[tuple[float, list[tuple[int, float, float]]]],
    tol: float = 1e-12,
    block_size: int = 8192,
    edge_transform=None,
    key_lo: float | None = None,
    layers: int = 1,
):
    """Broadcast-state adapter of :func:`walk_group`: a ``mapInPandas``
    kernel whose task holds one (or more) chain-closed edge groups and
    gathers its carried state from the ``(p_rows, n)`` broadcast
    ``y0_bcast`` (basis of the first chunk end).

    ``edge_transform`` (optional) maps the task's raw input frame to the
    edge frame ``(key, src, dst, seq)`` INSIDE the kernel — fusing edge
    generation/decoding into the same Python worker avoids a chained
    pandas-UDF pipeline (two Python evals + a JVM row-conversion hop per
    task, which oversubscribes cores at high parallelism). The key-range
    cut is applied here when a transform is used.

    Emits one packed binary row per (kind, interval): node ids as int64
    bytes and the (m, rows) score matrix as float64 bytes — collected
    via Arrow and decoded with ``np.frombuffer`` on the driver.
    """

    def kernel(batches):
        t0 = time.time()
        pdfs = [b for b in batches if len(b)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        if edge_transform is not None:
            pdf = edge_transform(pdf)
        key = pdf["key"].to_numpy(np.float64)
        seq = pdf["seq"].to_numpy(np.int64)
        gsrc = pdf["src"].to_numpy(np.int64)
        gdst = pdf["dst"].to_numpy(np.int64)
        del pdf
        if edge_transform is not None:
            keep = key <= float(chunk_plan[-1][0])
            if key_lo is not None:
                keep &= key > float(key_lo)
            if not keep.all():
                key = key[keep]
                seq = seq[keep]
                gsrc = gsrc[keep]
                gdst = gdst[keep]
        if len(key) == 0:
            return
        key, gsrc, gdst = order_edges(key, seq, gsrc, gdst)
        nodes, (src, dst) = encode_nodes(gsrc, gdst)
        ever = np.zeros(len(nodes), dtype=bool)
        ever[src] = True
        ever[dst] = True
        y0loc = np.ascontiguousarray(y0_bcast.value[:, nodes].T)  # (nl, p_rows)
        # y0-active nodes with no edge in the task are the driver's to
        # fill (they are NOT in the read-outs or the end-state)
        y0_active = active_bcast.value[nodes] & ever
        frames, meta = walk_group(
            key, src, dst, nodes, y0loc, y0_active, betas, weighters,
            chunk_plan, t0, tol=tol, block_size=block_size, layers=layers,
        )
        rows = [
            (kind, iid, n.tobytes(), np.ascontiguousarray(v).tobytes())
            for kind, iid, n, v in frames
        ]
        rows.append((2, -1, b"", meta.tobytes()))
        yield pd.DataFrame(rows, columns=["kind", "interval", "nodes", "vals"])

    return kernel


def run_walk_batch(
    df: DataFrame,
    betas: np.ndarray,
    weighters: list[Weighter],
    y0: np.ndarray,
    y0_active: np.ndarray,
    chunk_plan: list[tuple[float, list[tuple[int, float, float]]]],
    lo: float | None,
    partitions: int | None,
    closure_col: str | None,
    tol: float = 1e-12,
    block_size: int = 8192,
    edge_transform=None,
    layers: int = 1,
):
    """ONE Spark job: advance the walk state over a whole batch of decay
    chunks (cross-chunk carry is task-local under chain closure).

    With ``edge_transform``, ``df`` is the raw source (any schema); the
    transform builds ``(key, src, dst, seq)`` inside the kernel task and
    the key-range cut moves there too (supported for the 'preserve' and
    single-task layouts).

    Returns ``(readouts, endstate, metrics)``:
    ``readouts[iid] = (nodes ndarray, scores (m, p) ndarray)``,
    ``endstate = (nodes ndarray, scores (m, p) ndarray)``.
    """
    spark = df.sparkSession
    sc = spark.sparkContext
    t_last = float(chunk_plan[-1][0])
    p = layers * len(betas)
    nparts = partitions or sc.defaultParallelism
    if edge_transform is not None:
        if closure_col not in (None, "preserve"):
            raise ValueError(
                "edge_transform requires the 'preserve' or single-task layout"
            )
        sel = df if closure_col == "preserve" else df.coalesce(1)
    else:
        cond = F.col("key") <= F.lit(t_last)
        if lo is not None:
            cond = cond & (F.col("key") > F.lit(float(lo)))
        sel = df.select("key", "src", "dst", "seq").filter(cond)
        if closure_col is None:
            # no chain-closure key: exact only as a single ordered task
            sel = sel.coalesce(1)
        elif closure_col == "components":
            # derive the closure key in-engine: walks cannot leave a
            # weakly connected component of the time-collapsed graph
            from .temporal_katz_distributed import attach_closure_components

            sel = attach_closure_components(sel, nparts).select(
                "key", "src", "dst", "seq"
            )
        elif closure_col != "preserve":
            # a node-disjoint closure column ('preserve' keeps the df's
            # partitioning, which the caller guarantees node-disjoint)
            sel = (
                df.filter(cond)
                .repartition(nparts, closure_col)
                .select("key", "src", "dst", "seq")
            )
    y0_b = sc.broadcast(y0)
    act_b = sc.broadcast(y0_active)
    kernel = make_walk_kernel(
        betas, weighters, y0_b, act_b, chunk_plan, tol=tol,
        block_size=block_size, edge_transform=edge_transform,
        key_lo=lo if edge_transform is not None else None,
        layers=layers,
    )
    out = sel.mapInPandas(kernel, schema=WALK_ROW_SCHEMA).toPandas()
    y0_b.destroy()
    act_b.destroy()
    ro_nodes: dict[int, list] = {}
    ro_vals: dict[int, list] = {}
    es_nodes: list = []
    es_vals: list = []
    metrics = []
    for kind, iid, nb, vb in zip(
        out["kind"].to_numpy(),
        out["interval"].to_numpy(),
        out["nodes"].to_numpy(),
        out["vals"].to_numpy(),
    ):
        if kind == 0:
            ro_nodes.setdefault(int(iid), []).append(
                np.frombuffer(nb, np.int64)
            )
            ro_vals.setdefault(int(iid), []).append(
                np.frombuffer(vb, np.float64).reshape(-1, p)
            )
        elif kind == 1:
            es_nodes.append(np.frombuffer(nb, np.int64))
            es_vals.append(np.frombuffer(vb, np.float64).reshape(-1, p))
        else:
            metrics.append(decode_meta(vb))
    diverged = [m for m in metrics if m["diverged"]]
    if diverged:
        raise ValueError(f"{OVERFLOW_MSG}: {diverged[:3]}")
    readouts = {
        iid: (np.concatenate(ro_nodes[iid]), np.concatenate(ro_vals[iid]))
        for iid in ro_nodes
    }
    if es_nodes:
        endstate = (np.concatenate(es_nodes), np.concatenate(es_vals))
    else:
        endstate = (np.empty(0, np.int64), np.empty((0, p)))
    return readouts, endstate, metrics


# ---------------------------------------------------------------------------
# Fully distributed state: nothing driver-held, nothing broadcast.
# ---------------------------------------------------------------------------

#: carried state of the closure-cogroup measures (``vals`` is the node's
#: state row: ``layers * p`` walk scores, or TPR's ``[pr..., m...]``)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("node", T.LongType(), False),
        T.StructField("closure", T.LongType(), False),
        T.StructField("vals", T.ArrayType(T.DoubleType()), False),
    ]
)

DIST_ROW_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.IntegerType(), False),  # 0 readout, 1 state, 2 metrics
        T.StructField("interval", T.LongType(), False),
        T.StructField("node", T.LongType(), False),
        T.StructField("closure", T.LongType(), True),
        T.StructField("vals", T.ArrayType(T.DoubleType()), True),
        T.StructField("meta", T.BinaryType(), True),
    ]
)

_ARROW_ROW_SCHEMA = pa.schema(
    [
        ("kind", pa.int32()),
        ("interval", pa.int64()),
        ("node", pa.int64()),
        ("closure", pa.int64()),
        ("vals", pa.list_(pa.float64())),
        ("meta", pa.binary()),
    ]
)


def read_group(key_tuple, etbl, stbl):
    """Decode one cogroup call's Arrow inputs into ``(closure, key, src,
    dst, snodes, svals)``: edges in stable ``(key, seq)`` order, state
    node ids and their ``(n_state, width)`` state rows; None for a
    group with neither edges nor state."""

    def col(tbl, name, dtype):
        if not tbl.num_rows:
            return np.empty(0, dtype)
        arr = tbl.column(name).to_numpy(zero_copy_only=False)
        return arr.astype(dtype, copy=False)

    key = col(etbl, "key", np.float64)
    snodes = col(stbl, "node", np.int64)
    if not len(key) and not len(snodes):
        return None
    k0 = key_tuple[0]
    closure = int(k0.as_py() if hasattr(k0, "as_py") else k0)
    key, src, dst = order_edges(
        key, col(etbl, "seq", np.int64), col(etbl, "src", np.int64),
        col(etbl, "dst", np.int64),
    )
    svals = None
    if len(snodes):
        flat = stbl.column("vals").combine_chunks().flatten()
        svals = flat.to_numpy(zero_copy_only=False).reshape(len(snodes), -1)
    return closure, key, src, dst, snodes, svals


def pack_group(closure: int, frames: list, meta: np.ndarray) -> pa.Table:
    """One group's output table: the rows of every ``(kind, interval,
    nodes, vals)`` frame (``vals`` widths may differ per frame) and a
    final metrics row with null ``vals`` and the ``meta`` bytes."""
    counts = [len(f[2]) for f in frames] + [1]
    m = sum(counts) - 1
    widths = np.array([f[3].shape[1] for f in frames], np.int64)
    offsets = np.zeros(m + 1, np.int64)
    np.cumsum(np.repeat(widths, counts[:-1]), out=offsets[1:])
    flat = np.concatenate([np.ravel(f[3]) for f in frames] + [np.empty(0)])
    vals = pa.concat_arrays(
        [
            pa.ListArray.from_arrays(
                pa.array(offsets.astype(np.int32), pa.int32()),
                pa.array(flat, pa.float64()),
            ),
            pa.array([None], pa.list_(pa.float64())),
        ]
    )
    kinds = np.array([f[0] for f in frames] + [2], np.int32)
    ivs = np.array([f[1] for f in frames] + [-1], np.int64)
    nodes = [f[2] for f in frames] + [np.array([-1], np.int64)]
    return pa.table(
        {
            "kind": pa.array(np.repeat(kinds, counts), pa.int32()),
            "interval": pa.array(np.repeat(ivs, counts), pa.int64()),
            "node": pa.array(np.concatenate(nodes), pa.int64()),
            "closure": pa.array(np.full(m + 1, closure, np.int64), pa.int64()),
            "vals": vals,
            "meta": pa.array([None] * m + [meta.tobytes()], pa.binary()),
        }
    )


def closure_cogroup(
    edges: DataFrame,
    closure_col: str,
    t_last: float,
    state_in: DataFrame | None,
    group_fn,
) -> DataFrame:
    """The closure-cogroup envelope shared by the distributed-state
    measures: ``groupBy(closure).cogroup(...).applyInArrow`` of the edges
    with ``key <= t_last`` and the carried ``STATE_SCHEMA`` frame.

    Each call decodes its group (:func:`read_group`), runs
    ``group_fn(key, src, dst, snodes, svals, t0) -> (frames, meta)`` and
    packs the result (:func:`pack_group`) into ``DIST_ROW_SCHEMA`` rows:
    kind 0 read-outs, kind 1 next state, kind 2 metrics.  pyarrow
    Tables go in and out — no pandas materialization on either side
    (the row count here is the whole edge stream).
    """
    e = edges.select(
        F.col("key").cast("double").alias("key"),
        "src",
        "dst",
        "seq",
        F.col(closure_col).cast("long").alias("closure"),
    ).filter(F.col("key") <= F.lit(t_last))
    if state_in is None:
        state_in = edges.sparkSession.createDataFrame([], STATE_SCHEMA)
    srows = state_in.select(
        "node", F.col("closure").cast("long").alias("closure"), "vals"
    )

    def kernel(key_tuple, etbl, stbl):
        t0 = time.time()
        group = read_group(key_tuple, etbl, stbl)
        if group is None:
            return _ARROW_ROW_SCHEMA.empty_table()
        closure, *arrays = group
        frames, meta = group_fn(*arrays, t0)
        return pack_group(closure, frames, meta)

    return (
        e.groupBy("closure")
        .cogroup(srows.groupBy("closure"))
        .applyInArrow(kernel, schema=DIST_ROW_SCHEMA)
    )


def group_metrics(out: DataFrame) -> list[dict]:
    """Collect and decode the per-group metrics rows (kind 2) of a
    closure-cogroup job output."""
    return [decode_meta(r["meta"]) for r in out.filter(F.col("kind") == 2).collect()]


def run_walk_batch_distributed(
    edges: DataFrame,
    betas: np.ndarray,
    weighters: list[Weighter],
    chunk_plan: list[tuple[float, list[tuple[int, float, float]]]],
    closure_col: str,
    state_in: DataFrame | None = None,
    state_basis: float | None = None,
    tol: float = 1e-12,
    block_size: int = 8192,
    layers: int = 1,
):
    """Distributed-state temporal-walk replay: the complement of
    :func:`run_walk_batch` for node spaces too large for driver-held
    ``(p, n)`` state.

    State is a DataFrame ``(node, closure, vals: array<double>)`` in the
    basis ``state_basis`` (the previous batch's last chunk end); edges
    carry a node-disjoint ``closure_col``. The two sides meet in
    :func:`closure_cogroup` (``groupBy(closure).cogroup(...)
    .applyInArrow``) — Spark's native two-sided grouped map, so the
    state rows reach exactly their group's kernel call without widening
    the edge schema.  Each group rebases its carried state to the first
    chunk basis and runs :func:`walk_group` — a group with carried state
    but no edges this batch is pure decay and still emits every
    read-out.  The job output IS the product: tidy read-out rows plus
    the next state frame; the driver touches only the per-group metrics.
    The cogroup's task count follows ``spark.sql.shuffle.partitions``
    (plus AQE coalescing).

    Returns ``(out_df, group_metrics)``: persist/write ``out_df`` and
    split on ``kind`` (0 = read-out ``(interval, node, vals)``, 1 =
    next-state ``(node, closure, vals)``); ``group_metrics(out_df)``
    collects the per-group convergence rows (small).
    """
    p = len(betas)
    p_rows = layers * p
    basis = float(chunk_plan[0][0])
    sb = float(state_basis) if state_basis is not None else basis

    def advance(key, gsrc, gdst, snodes, svals, t0):
        nodes, (src, dst, sidx) = encode_nodes(gsrc, gdst, snodes)
        y0loc = np.zeros((len(nodes), p_rows))
        if len(snodes):
            y0loc[sidx] = svals
        y0_active = np.zeros(len(nodes), dtype=bool)
        y0_active[sidx] = True
        # rebase carried state to the first chunk basis
        if sb != basis:
            for r in range(p_rows):
                y0loc[:, r] *= weighters[r % p].weight(basis - sb)
        return walk_group(
            key, src, dst, nodes, y0loc, y0_active, betas, weighters,
            chunk_plan, t0, tol=tol, block_size=block_size, layers=layers,
        )

    out = closure_cogroup(
        edges, closure_col, float(chunk_plan[-1][0]), state_in, advance
    )
    return out, group_metrics


class ClosureStateMeasure:
    """Driver-protocol tail shared by the closure-cogroup measures
    (``distributed = True``: ``run_batch`` returns a tidy read-out
    DataFrame ``(interval_id, param_id, node_id, score)`` for the
    :class:`~..plans.superstep.SuperstepDriver`'s partitioned write, and
    the state is a checkpointed DataFrame).  Subclasses set ``state``,
    ``param_ids``, ``walk_metrics`` and ``_diverged_msg``."""

    distributed = True
    _out_cached: DataFrame | None = None

    def _advance(
        self,
        out: DataFrame,
        readouts: bool,
        extra: dict | None = None,
        positive_only: bool = False,
    ) -> DataFrame | None:
        """Persist the job output ``out`` once, collect its per-group
        metrics (one action runs the cogroup job), raise on divergence,
        cut the next state from it with an eager localCheckpoint (bounds
        lineage across batches) and return the read-out frame, which
        reads from the same cache (None with ``readouts=False``)."""
        self.release()
        out = self._out_cached = out.persist()
        self.walk_metrics = [dict(extra or {}, **m) for m in group_metrics(out)]
        bad = [m for m in self.walk_metrics if m["diverged"]]
        if bad:
            raise ValueError(f"{self._diverged_msg}: {bad[:3]}")
        self.state = (
            out.filter(F.col("kind") == 1)
            .select("node", "closure", "vals")
            .localCheckpoint(eager=True)
        )
        if not readouts:
            return None
        ro = out.filter(F.col("kind") == 0).select(
            F.col("interval").alias("interval_id"),
            F.col("node").alias("node_id"),
            F.posexplode("vals").alias("pos", "score"),
        )
        if positive_only:
            ro = ro.filter(F.col("score") > 0)
        pid_arr = F.array(*[F.lit(p) for p in self.param_ids])
        return ro.select(
            "interval_id",
            pid_arr[F.col("pos")].alias("param_id"),
            "node_id",
            "score",
        )

    def release(self) -> None:
        """Drop the cached job output (bench hygiene / end of replay)."""
        if self._out_cached is not None:
            self._out_cached.unpersist()
            self._out_cached = None
