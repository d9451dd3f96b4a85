"""Hand-computed fixtures for the round-5 batch-22 contract queries:
the PIVOT wide conditional aggregation and the hash-trick sparse
feature extractor."""

import datetime
import hashlib

import pytest

import __spark_entry__ as entry
from online_centrality_spark.text import hashed_features

TS = datetime.datetime

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id string, event_type string, "
    "value double, props string"
)


def _md5_bucket(s: str, buckets: int = 64) -> int:
    """Reference implementation of the portable hash's bucket rule."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % buckets


def test_type_pivot_by_hand(spark, tmp_path):
    """1970-01-01 was a Thursday (dow 3 under the 0=Monday rule);
    1970-01-05 a Monday (dow 0). Two clicks + one view on Thursday,
    one purchase on Monday; every absent cell must be 0, not null.
    Pre-1970 days need floor division and a non-negative modulus:
    1969-12-20 was a Saturday (5), 1969-12-31 a Wednesday (2). The
    DuckDB oracle gives the same table."""
    import duckdb

    ev = spark.createDataFrame(
        [
            (1, TS(1970, 1, 1, 10, 0), "u1", "click", 1.0, "{}"),
            (2, TS(1970, 1, 1, 11, 0), "u1", "click", 1.0, "{}"),
            (3, TS(1970, 1, 1, 12, 0), "u2", "view", 1.0, "{}"),
            (4, TS(1970, 1, 5, 9, 0), "u1", "purchase", 1.0, "{}"),
            (5, TS(1969, 12, 20, 12, 0), "u1", "signup", 1.0, "{}"),
            (6, TS(1969, 12, 31, 12, 0), "u2", "error", 1.0, "{}"),
        ],
        EVENTS_SCHEMA,
    )
    ev.write.parquet(str(tmp_path / "events.parquet"))
    cols = ["dow", "n_click", "n_error", "n_purchase", "n_signup", "n_view"]
    want = {
        3: (2, 0, 0, 0, 1),
        0: (0, 0, 1, 0, 0),
        5: (0, 0, 0, 1, 0),
        2: (0, 1, 0, 0, 0),
    }
    got = {
        r["dow"]: tuple(r[c] for c in cols[1:])
        for r in entry.q_type_pivot(spark, str(tmp_path)).collect()
    }
    assert got == want
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{tmp_path}/events.parquet/*.parquet'"
    )
    oracle = con.sql(entry.oracle_sql()["type_pivot"]).df()
    assert {
        int(r["dow"]): tuple(int(r[c]) for c in cols[1:])
        for _, r in oracle.iterrows()
    } == want


def test_hashed_features_matches_reference_md5(spark):
    """Every output cell's idx must equal the python-md5 reference
    bucket of its namespaced feature string, and counts must recount."""
    df = spark.createDataFrame(
        [("u1", "click", 7), ("u1", "click", 7), ("u1", "view", 9),
         ("u2", "click", 7)],
        "user_id string, event_type string, k long",
    )
    out = hashed_features(df, "user_id", ["event_type", "k"], 64).collect()
    expected = {}
    for uid, ty, k in [("u1", "click", 7), ("u1", "click", 7),
                       ("u1", "view", 9), ("u2", "click", 7)]:
        for s in (f"event_type:{ty}", f"k:{k}"):
            key = (uid, _md5_bucket(s))
            expected[key] = expected.get(key, 0) + 1
    assert {(r["id"], r["idx"]): r["n"] for r in out} == expected


def test_hashed_features_null_values_dropped(spark):
    df = spark.createDataFrame(
        [("u1", None), ("u1", "x")], "user_id string, event_type string"
    )
    out = hashed_features(df, "user_id", ["event_type"], 8).collect()
    assert len(out) == 1 and out[0]["n"] == 1


def test_hashed_features_namespacing(spark):
    """The same raw value in two feature columns hashes through its
    column namespace — buckets follow the namespaced strings, not the
    shared value."""
    df = spark.createDataFrame([("u1", "x", "x")], "id string, a string, b string")
    out = {r["idx"] for r in hashed_features(df, "id", ["a", "b"], 64).collect()}
    assert out == {_md5_bucket("a:x"), _md5_bucket("b:x")}


def test_hashed_features_validates_args(spark):
    df = spark.createDataFrame([("u1", "x")], "id string, a string")
    with pytest.raises(ValueError):
        hashed_features(df, "id", [], 64)
    with pytest.raises(ValueError):
        hashed_features(df, "id", ["a"], 0)
