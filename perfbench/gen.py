"""Seeded input generator for the benchmark workloads.

Runs as its own process, apart from the system under test:

    python3 perfbench/gen.py --workload ingest-replay --seed 7 --out DIR

and writes, for the full input and for the small warm-up slice, the
workload's parquet tables plus a ``meta.json`` with the replay
boundaries and Temporal-Katz parameters sized from the generated
traffic. The same seed always gives the same files.

Traffic dimensions (see README.md for why each was chosen):

- ``ingest-replay``: event stream of zipf-sized tenants; each tenant has
  its own event-type vocabulary, so the induced graph's closures are
  node-disjoint per tenant. Dimensions: event count, tenant count, tenant
  zipf exponent, events per user, type-popularity skew.
- ``static-graph``: graph mixing zipf-hub edges with local ring edges in
  blocks, some blocks left as separate components. Dimensions: node
  count, edge count, hub share, hub zipf exponent, locality width, block
  size, share of nodes the hubs reach.

Timestamps are unique microseconds (``timestamp[us]``): the nanosecond
timestamps pandas writes by default fail the Spark 4 parquet reader.
"""

from __future__ import annotations

import argparse
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HOUR_US = 3600 * 1_000_000
# branching factor beta * rate * norm / ln2 kept well below 0.5, so the
# temporal-walk dynamics stay bounded on the busiest node
BRANCHING = 0.3

SIZES = {
    "ingest-replay": {
        "full": dict(events=50_000, tenants=32, tenant_zipf=1.1,
                     events_per_user=24, type_zipf=0.8, boundaries=64, params=8),
        "warm": dict(events=1_000, tenants=2, tenant_zipf=1.1,
                     events_per_user=24, type_zipf=0.8, boundaries=4, params=8),
    },
    "static-graph": {
        "full": dict(nodes=30_000, edges=22_000, hub_share=0.4,
                     hub_zipf=0.9, local_width=3, block=20, hub_nodes=0.7),
        # directed rings only: PageRank converges in one iteration, so the
        # warm-up runs every plan of the four operators at little cost
        "warm": dict(nodes=600, edges=0, hub_share=0.0,
                     hub_zipf=0.9, local_width=1, block=20, hub_nodes=0.7),
    },
}


def _zipf_weights(n: int, exponent: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** exponent
    return w / w.sum()


def _unique_times(rng, n: int, span_us: int) -> np.ndarray:
    """``n`` strictly increasing microsecond offsets in ``[0, span_us)``."""
    u = np.sort(rng.random(n))
    return np.floor(u * (span_us - n)).astype(np.int64) + np.arange(n, dtype=np.int64)


def _tk_params(edge_t: np.ndarray, edge_dst: np.ndarray, params: int) -> list[list[float]]:
    """(beta, norm_us) per param: Exp half-lives of 30 min, 1 h, 1.5 h...,
    betas sized on the busiest node's in-rate."""
    span_s = max((int(edge_t.max()) - int(edge_t.min())) / 1e6, 1.0)
    rate_max = np.bincount(edge_dst).max() / span_s
    norms = [1800.0 * (i + 1) for i in range(params)]
    return [
        [min(1.0, BRANCHING * math.log(2) / (rate_max * n)), n * 1e6]
        for n in norms
    ]


def _boundaries(edge_t: np.ndarray, n: int) -> list[int]:
    """``n`` uniformly spaced boundaries, the last one at the last edge."""
    t_lo, t_hi = int(edge_t.min()), int(edge_t.max())
    width = (t_hi - t_lo) // n
    return [t_hi - (n - 1 - i) * width for i in range(n)]


def gen_events(rng, events, tenants, tenant_zipf, events_per_user, type_zipf,
               boundaries, params):
    sizes = np.maximum(
        np.round(_zipf_weights(tenants, tenant_zipf) * events).astype(np.int64),
        events_per_user,
    )
    e_total = int(sizes.sum())
    # time-ordered event slots, each owned by one tenant
    owner = rng.permutation(np.repeat(np.arange(tenants), sizes))
    user = np.empty(e_total, np.int64)
    etype = np.empty(e_total, dtype=object)
    user_base = 0
    for t in range(tenants):
        slots = np.nonzero(owner == t)[0]
        n_t = len(slots)
        n_users = max(2, n_t // events_per_user)
        vocab = max(8, int(4 * math.sqrt(n_t)))
        user[slots] = user_base + rng.integers(0, n_users, n_t)
        kinds = rng.choice(vocab, size=n_t, p=_zipf_weights(vocab, type_zipf))
        names = np.array(["%03d:%05d" % (t, k) for k in range(vocab)], dtype=object)
        etype[slots] = names[kinds]
        user_base += n_users
    ts = _unique_times(rng, e_total, boundaries * HOUR_US) + 1_700_000_000 * 1_000_000
    table = pa.table(
        {
            "event_id": pa.array(np.arange(e_total, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(user),
            "event_type": pa.array(etype.tolist(), pa.string()),
        }
    )
    # an event becomes an edge's time unless it is its user's first event
    _, first = np.unique(user, return_index=True)
    is_edge = np.ones(e_total, bool)
    is_edge[first] = False
    edge_t = ts[is_edge]
    # dense per-type in-degree for the rate bound
    _, type_code = np.unique(etype[is_edge].astype(str), return_inverse=True)
    meta = dict(
        boundaries=_boundaries(edge_t, boundaries),
        tk_params=_tk_params(edge_t, type_code, params),
        edges=int(is_edge.sum()),
    )
    return {"events": table}, meta


def gen_static(rng, nodes, edges, hub_share, hub_zipf, local_width, block, hub_nodes):
    """Node ids fall in blocks of ``block``; each block is a ring plus
    local edges to the next ``local_width`` ids, and hub edges join the
    first ``hub_nodes`` share of the ids to zipf-ranked hubs among them.
    The remaining blocks stay separate components."""
    n_hub = int(edges * hub_share)
    n_local = edges - n_hub
    reach = int(nodes * hub_nodes)
    perm = rng.permutation(reach)  # hub rank -> node id
    hub_src = rng.integers(0, reach, n_hub)
    hub_dst = perm[rng.choice(reach, size=n_hub, p=_zipf_weights(reach, hub_zipf))]
    ring = np.arange(nodes, dtype=np.int64)
    loc_src = rng.integers(0, nodes, n_local)
    loc_off = rng.integers(1, local_width + 1, n_local)

    def in_block(v, off):
        start = v - v % block
        return start + (v - start + off) % np.minimum(block, nodes - start)

    src = np.concatenate([ring, hub_src, loc_src]).astype(np.int64)
    dst = np.concatenate([in_block(ring, 1), hub_dst, in_block(loc_src, loc_off)])
    keep = src != dst
    src, dst = src[keep], dst[keep].astype(np.int64)
    table = pa.table({"src": pa.array(src), "dst": pa.array(dst)})
    return {"graph": table}, dict(edges=int(len(src)))


GENERATORS = {
    "ingest-replay": gen_events,
    "static-graph": gen_static,
}


def generate(workload: str, seed: int, out: str) -> None:
    for part, stream in (("full", 0), ("warm", 1)):
        rng = np.random.default_rng([seed, stream])
        tables, meta = GENERATORS[workload](rng, **SIZES[workload][part])
        d = os.path.join(out, part)
        os.makedirs(d, exist_ok=True)
        for name, table in tables.items():
            pq.write_table(table, os.path.join(d, f"{name}.parquet"))
        meta.update(workload=workload, seed=seed, part=part)
        with open(os.path.join(d, "meta.json"), "w") as f:
            json.dump(meta, f)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    generate(args.workload, args.seed, args.out)


if __name__ == "__main__":
    main()
