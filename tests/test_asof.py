"""As-of join + rolling time-range stats: known-answer cases, tie
semantics, tolerance, and a DuckDB ASOF JOIN cross-check."""

from __future__ import annotations

import datetime as dt

import duckdb
import pytest
from pyspark.sql import functions as F

from smos_spark.operators.asof import asof_join, rolling_stats

UTC = dt.timezone.utc
SF = "/root/testdata/sf0.001"


def _ts(s: float):
    return dt.datetime.fromtimestamp(s, UTC).replace(tzinfo=None)


@pytest.fixture(scope="module")
def frames(spark):
    left = spark.createDataFrame(
        [
            ("a", _ts(10.0), "L1"),
            ("a", _ts(20.0), "L2"),
            ("a", _ts(5.0), "L0"),
            ("b", _ts(10.0), "L3"),
        ],
        "conv_id string, ts timestamp, lbl string",
    )
    right = spark.createDataFrame(
        [
            ("a", _ts(8.0), 100),
            ("a", _ts(10.0), 200),
            ("a", _ts(19.5), 300),
            ("b", _ts(11.0), 400),
        ],
        "conv_id string, ts timestamp, rid int",
    )
    return left, right


def _by_lbl(df):
    return {r["lbl"]: (r["ts_right"], r["rid_right"]) for r in df.collect()}

def test_backward_exact(frames):
    left, right = frames
    out = _by_lbl(asof_join(left, right))
    assert out["L0"] == (None, None)              # nothing at or before 5
    assert out["L1"] == (_ts(10.0), 200)          # exact match visible
    assert out["L2"] == (_ts(19.5), 300)
    assert out["L3"] == (None, None)              # b's only right row is later


def test_backward_no_exact(frames):
    left, right = frames
    out = _by_lbl(asof_join(left, right, allow_exact_matches=False))
    assert out["L1"] == (_ts(8.0), 100)           # strict <


def test_forward(frames):
    left, right = frames
    out = _by_lbl(asof_join(left, right, direction="forward"))
    assert out["L0"] == (_ts(8.0), 100)
    assert out["L1"] == (_ts(10.0), 200)
    assert out["L2"] == (None, None)
    assert out["L3"] == (_ts(11.0), 400)
    strict = _by_lbl(
        asof_join(left, right, direction="forward", allow_exact_matches=False)
    )
    assert strict["L1"] == (_ts(19.5), 300)


def test_tolerance(frames):
    left, right = frames
    out = _by_lbl(asof_join(left, right, tolerance_sec=1.0))
    assert out["L1"] == (_ts(10.0), 200)          # dist 0 <= 1
    assert out["L2"] == (_ts(19.5), 300)          # dist 0.5 <= 1
    tight = _by_lbl(asof_join(left, right, tolerance_sec=0.25))
    assert tight["L2"] == (None, None)            # dist 0.5 > 0.25, row kept


def test_right_ts_tie_deterministic(spark):
    left = spark.createDataFrame(
        [("a", _ts(10.0), "L")], "conv_id string, ts timestamp, lbl string"
    )
    right = spark.createDataFrame(
        [("a", _ts(9.0), 1), ("a", _ts(9.0), 7), ("a", _ts(9.0), 3)],
        "conv_id string, ts timestamp, rid int",
    )
    got = asof_join(left, right).collect()[0]
    assert got["rid_right"] == 7                  # greatest order_col wins
    fwd = asof_join(left, right, direction="forward").collect()[0]
    assert fwd["rid_right"] is None               # all right rows are earlier
    # forward tie-break: move left before the tied right rows
    left2 = spark.createDataFrame(
        [("a", _ts(1.0), "L")], "conv_id string, ts timestamp, lbl string"
    )
    fwd2 = asof_join(left2, right, direction="forward").collect()[0]
    assert fwd2["rid_right"] == 7


def test_asof_matches_duckdb_on_events(spark):
    sf_dir = SF
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    left = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    right = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    got = {
        r["event_id"]: r["click_id_right"]
        for r in asof_join(left, right, on="user_id").collect()
    }
    con = duckdb.connect()
    exp = dict(
        con.execute(
            f"""
            WITH e AS (SELECT * FROM read_parquet('{sf_dir}/events.parquet'))
            SELECT l.event_id, r.event_id
            FROM (SELECT * FROM e WHERE event_type='purchase') l
            ASOF LEFT JOIN (SELECT * FROM e WHERE event_type='click') r
              ON l.user_id = r.user_id AND r.ts <= l.ts
            """
        ).fetchall()
    )
    assert got == exp and len(got) > 50


def test_rolling_stats_known(spark):
    df = spark.createDataFrame(
        [
            ("a", _ts(0.0), 1.0),
            ("a", _ts(5.0), 2.5),
            ("a", _ts(10.0), 4.0),
            ("a", _ts(100.0), 8.0),
            ("b", _ts(10.0), 7.0),
        ],
        "conv_id string, ts timestamp, value double",
    )
    out = {
        (r["conv_id"], r["ts"]): (
            r["roll_cnt"], r["roll_sum_cents"], r["roll_min"], r["roll_max"]
        )
        for r in rolling_stats(df, window_sec=10.0).collect()
    }
    assert out[("a", _ts(0.0))] == (1, 100, 1.0, 1.0)
    assert out[("a", _ts(5.0))] == (2, 350, 1.0, 2.5)
    assert out[("a", _ts(10.0))] == (3, 750, 1.0, 4.0)   # 0.0 is inside [0,10]
    assert out[("a", _ts(100.0))] == (1, 800, 8.0, 8.0)
    assert out[("b", _ts(10.0))] == (1, 700, 7.0, 7.0)


def test_rolling_bucketed_equals_plain(spark):
    """Ghost-bucket variant ≡ plain keyed windows, including boundary
    rows exactly at bucket edges and sf events data."""
    from smos_spark.operators.asof import rolling_stats, rolling_stats_bucketed

    edge = spark.createDataFrame(
        [
            ("a", _ts(0.0), 1.0),
            ("a", _ts(10.0), 2.0),    # exactly one window width later
            ("a", _ts(10.5), 3.0),
            ("a", _ts(20.0), 4.0),    # frame [10, 20] spans two buckets
            ("a", _ts(29.999999), 5.0),
            ("b", _ts(15.0), 6.0),
        ],
        "conv_id string, ts timestamp, value double",
    )
    for df, w in ((edge, 10.0),):
        a = sorted(map(tuple, rolling_stats(df, w).collect()))
        b = sorted(map(tuple, rolling_stats_bucketed(df, w).collect()))
        assert a == b

    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("event_id", F.col("user_id").cast("string").alias("conv_id"), "ts", "value")
    )
    a = sorted(map(tuple, rolling_stats(ev, 86400.0).collect()))
    b = sorted(map(tuple, rolling_stats_bucketed(ev, 86400.0).collect()))
    assert a == b and len(a) > 100


def test_asof_bucketed_equals_plain(spark):
    """Ghost-bucket as-of ≡ plain asof_join with the same tolerance,
    on bucket-edge cases and the sf events purchase←click join."""
    from smos_spark.operators.asof import asof_join, asof_join_bucketed

    left = spark.createDataFrame(
        [
            ("a", _ts(10.0), "L1"),   # exact bucket edge
            ("a", _ts(19.9), "L2"),
            ("a", _ts(20.0), "L3"),
            ("a", _ts(35.0), "L4"),   # no right row within 10 s
        ],
        "conv_id string, ts timestamp, lbl string",
    )
    right = spark.createDataFrame(
        [
            ("a", _ts(10.0), 1),
            ("a", _ts(12.5), 2),
            ("a", _ts(19.9), 3),
        ],
        "conv_id string, ts timestamp, rid int",
    )
    a = sorted(map(tuple, asof_join(left, right, tolerance_sec=10.0).collect()))
    b = sorted(map(tuple, asof_join_bucketed(left, right, 10.0).collect()))
    assert a == b

    ev = spark.read.parquet(f"{SF}/events.parquet")
    pl = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    pr = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    a = sorted(
        map(tuple, asof_join(pl, pr, on="user_id", tolerance_sec=86400.0).collect())
    )
    b = sorted(map(tuple, asof_join_bucketed(pl, pr, 86400.0, on="user_id").collect()))
    assert a == b and len(a) > 50


def test_rolling_quantiles_bucketed_equals_plain(spark):
    """Quantile columns obey the same twin identity as the other
    rolling aggregates: the (key, bucket) ghost-copy form reproduces
    the plain per-key RANGE frame exactly."""
    from smos_spark.operators.asof import rolling_stats, rolling_stats_bucketed

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "user_id", "ts", "value"
    )
    kw = dict(window_sec=43200.0, on="user_id", quantiles=(0.5, 0.9, 0.99))
    plain = rolling_stats(ev, **kw).orderBy("event_id").collect()
    twin = rolling_stats_bucketed(ev, **kw).orderBy("event_id").collect()
    assert twin == plain
    cols = plain[0].asDict()
    assert "roll_p50" in cols and "roll_p90" in cols and "roll_p99" in cols


def test_rolling_bucketed_null_ts_equals_plain(spark):
    """A NULL ts is its own frame in the plain form (the key's NULL-ts
    rows, equal under RANGE ordering); the twin must not count a ghost
    copy of those rows into it."""
    from smos_spark.operators.asof import rolling_stats, rolling_stats_bucketed

    df = spark.createDataFrame(
        [("a", _ts(s), float(i)) for i, s in enumerate((0.0, 30.0, 59.0, 60.0, 90.0, 200.0))]
        + [("a", None, 5.0), ("a", None, 10.0)],
        "conv_id string, ts timestamp, value double",
    )
    plain = sorted(map(tuple, rolling_stats(df, 60.0).collect()), key=str)
    twin = sorted(map(tuple, rolling_stats_bucketed(df, 60.0).collect()), key=str)
    assert twin == plain
    nulls = [r for r in plain if r[1] is None]
    assert [(r[3], r[4]) for r in nulls] == [(2, 1500), (2, 1500)]
