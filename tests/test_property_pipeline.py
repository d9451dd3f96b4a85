"""Property tests (hypothesis) for the pipeline kernels.

Seeded-random property style elsewhere in the suite; here hypothesis
drives the input shapes directly. Spark round-trips are slow, so the
example counts are small and deadlines disabled — the properties, not
the volume, carry the weight:

- pack_sequences: bin assignment is a pure function of (id-ordered
  token counts, budget) — invariant to bucket count AND to input
  partitioning, and every bin boundary obeys the greedy rule.
- connected_components fast path: agrees with a python union-find on
  arbitrary small graphs, including self-loops and singletons.
"""

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from online_centrality_spark.operators.components import (
    connected_components_detail,
)
from online_centrality_spark.text import pack_sequences

pytestmark = pytest.mark.filterwarnings("ignore")

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@st.composite
def token_tables(draw):
    n = draw(st.integers(min_value=1, max_value=40))
    ids = draw(
        st.lists(
            st.integers(min_value=0, max_value=10_000),
            min_size=n, max_size=n, unique=True,
        )
    )
    toks = draw(
        st.lists(st.integers(min_value=0, max_value=300), min_size=n, max_size=n)
    )
    budget = draw(st.integers(min_value=1, max_value=500))
    return ids, toks, budget


@SLOW
@given(token_tables())
def test_pack_sequences_greedy_property(spark, table):
    ids, toks, budget = table
    pdf = pd.DataFrame({"doc_id": ids, "n": toks})
    df = spark.createDataFrame(pdf).repartition(3)
    got = (
        pack_sequences(df, budget=budget, tokens_col="n", num_buckets=4)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    prev = 0
    for r in got.itertuples():
        assert r.bin == prev // budget
        assert r.bin_offset == prev % budget
        prev += r.n_tokens
    one = (
        pack_sequences(df.coalesce(1), budget=budget, tokens_col="n",
                       num_buckets=1)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert got.equals(one)


@st.composite
def small_graphs(draw):
    n = draw(st.integers(min_value=1, max_value=25))
    m = draw(st.integers(min_value=0, max_value=40))
    edges = draw(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=n),
                st.integers(min_value=0, max_value=n),
            ),
            min_size=m, max_size=m,
        )
    )
    return edges or [(0, 0)]


def py_wcc(edges):
    nodes = {x for e in edges for x in e}
    parent = {v: v for v in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        ra, rb = find(s), find(d)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in nodes}


@SLOW
@given(small_graphs())
def test_cc_fast_path_matches_union_find(spark, edges):
    df = spark.createDataFrame(
        pd.DataFrame(edges, columns=["src", "dst"]).astype("int64")
    )
    labels, rounds = connected_components_detail(df)
    assert rounds == 0  # fast path taken at this size
    got = {r["node_id"]: r["component"] for r in labels.collect()}
    assert got == py_wcc(edges)
