"""Hand fixtures for batch 26: deterministic GraphSAGE-style neighbor
sampling and the Flesch-Kincaid readability histogram."""

import hashlib

import pytest

from online_centrality_spark.operators.neighborhood import neighbor_sampling
from online_centrality_spark.text.analysis import readability


def _h(src, dst):
    s = f"{src}#{dst}"
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_neighbor_sampling_caps_by_hash_rank(spark):
    """Node 1 has 3 out-edges; fanout (2,) keeps the 2 smallest md5
    ranks — recomputed with python hashlib as the reference."""
    el = [(1, 2), (1, 3), (1, 4)]
    df = spark.createDataFrame(el, "src long, dst long")
    out = neighbor_sampling(df, seeds=1, fanout=(2,)).collect()
    kept = {(r["src"], r["dst"]) for r in out}
    expected = set(sorted(el, key=lambda e: (_h(*e), e[1]))[:2])
    assert kept == expected
    assert all(r["seed"] == 1 and r["hop"] == 1 for r in out)


def test_neighbor_sampling_two_hops_follow_frontier(spark):
    """Hop-2 sources must be exactly the hop-1 destinations."""
    el = [(1, 2), (2, 3), (3, 4), (2, 5)]
    df = spark.createDataFrame(el, "src long, dst long")
    rows = neighbor_sampling(df, seeds=1, fanout=(5, 5)).collect()
    h1 = {(r["src"], r["dst"]) for r in rows if r["hop"] == 1}
    h2 = {(r["src"], r["dst"]) for r in rows if r["hop"] == 2}
    assert h1 == {(1, 2)}
    assert h2 == {(2, 3), (2, 5)}
    assert all(r["seed"] == 1 for r in rows)


def test_neighbor_sampling_deterministic_across_runs(spark):
    el = [(i, j) for i in range(6) for j in range(6) if i != j]
    df = spark.createDataFrame(el, "src long, dst long")
    a = sorted(map(tuple, neighbor_sampling(df, 3, (2, 2)).collect()))
    b = sorted(map(tuple, neighbor_sampling(df, 3, (2, 2)).collect()))
    assert a == b and len(a) > 0


def test_neighbor_sampling_validates_args(spark):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="fanout"):
        neighbor_sampling(df, 1, ())
    with pytest.raises(ValueError, match="fanout"):
        neighbor_sampling(df, 1, (0,))
    with pytest.raises(ValueError, match="seeds"):
        neighbor_sampling(df, 0, (2,))


def test_readability_by_hand(spark):
    """'The cat sat.' -> w=3, sy=3, se=1 ->
    grade = 0.39*3 + 11.8*1 - 15.59 = -2.62 -> bucket -3. A vowelless
    'word' still counts 1 syllable; letterless docs are skipped."""
    docs = spark.createDataFrame(
        [(1, "The cat sat."), (2, "zzz."), (3, "123 !!!")],
        "doc_id long, text string",
    )
    got = {
        r["grade_bucket"]: r["n_docs"] for r in readability(docs).collect()
    }
    # doc 2: w=1, sy=1, se=1 -> 0.39 + 11.8 - 15.59 = -3.4 -> -4
    assert got == {-3: 1, -4: 1}


def test_readability_clamps_extremes(spark):
    """A 200-word single 'sentence' pushes the grade above 30 -> the
    bucket clamps."""
    long_doc = " ".join(["onomatopoeia"] * 200) + "."
    docs = spark.createDataFrame([(1, long_doc)], "doc_id long, text string")
    got = readability(docs).collect()
    assert len(got) == 1 and got[0]["grade_bucket"] == 30


def test_scd2_intervals_by_hand(spark):
    """u1: A@10, A@20 (collapsed), B@30 -> [A: 10..30), [B: 30..NULL);
    u2 single row -> open interval; A@10, NULL@20, A@30 -> three
    intervals (a NULL transition is a change)."""
    import datetime

    TS0 = datetime.datetime(2024, 1, 1)

    def ts(sec):
        return TS0 + datetime.timedelta(seconds=sec)

    from online_centrality_spark.operators.asof import scd2_intervals

    df = spark.createDataFrame(
        [("u1", ts(10), "A"), ("u1", ts(20), "A"), ("u1", ts(30), "B"),
         ("u2", ts(5), "X")],
        "user_id string, ts timestamp, state string",
    )
    out = scd2_intervals(
        df, ["user_id"], "ts", ["state"], dedup_consecutive=True
    ).collect()
    rows = {(r["user_id"], r["state"]): (r["valid_from_us"], r["valid_to_us"])
            for r in out}
    base = 1704067200 * 1_000_000
    assert rows == {
        ("u1", "A"): (base + 10_000_000, base + 30_000_000),
        ("u1", "B"): (base + 30_000_000, None),
        ("u2", "X"): (base + 5_000_000, None),
    }
    # without compaction the duplicate A row keeps its own interval
    out2 = scd2_intervals(df, ["user_id"], "ts", ["state"]).collect()
    assert len(out2) == 4

    nulls = spark.createDataFrame(
        [("u3", ts(10), "A"), ("u3", ts(20), None), ("u3", ts(30), "A")],
        "user_id string, ts timestamp, state string",
    )
    out3 = scd2_intervals(
        nulls, ["user_id"], "ts", ["state"], dedup_consecutive=True
    ).collect()
    assert sorted(
        (r["valid_from_us"], r["state"], r["valid_to_us"]) for r in out3
    ) == [
        (base + 10_000_000, "A", base + 20_000_000),
        (base + 20_000_000, None, base + 30_000_000),
        (base + 30_000_000, "A", None),
    ]


def test_scd2_intervals_validates_args(spark):
    import pytest as _pytest

    from online_centrality_spark.operators.asof import scd2_intervals

    df = spark.createDataFrame([("u", 1)], "k string, v int")
    with _pytest.raises(ValueError):
        scd2_intervals(df, [], "v", ["v"])


def test_dataset_card_by_hand(spark):
    """3 docs, one exact duplicate pair, two languages with 'en'
    dominant -> every card field hand-computable."""
    from online_centrality_spark.text.analysis import dataset_card

    docs = spark.createDataFrame(
        [(1, "hello world", "en"), (2, "hello world", "en"),
         (3, "bonjour", "fr")],
        "doc_id long, text string, lang string",
    )
    r = dataset_card(docs).collect()[0]
    assert (r["n_docs"], r["total_chars"], r["n_langs"]) == (3, 29, 2)
    # tokens: 'hello','world' x2 + 'bonjour' = 5
    assert r["total_tokens"] == 5
    assert (r["top_lang"], r["top_lang_share"]) == ("en", 0.666667)
    assert r["dup_rate"] == 0.333333
