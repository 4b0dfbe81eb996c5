"""Skew-aware auto-dispatch (*_auto entry points, PLANS.md §28):
routing decisions and row-identity with the plain keyed-window forms
in all three regimes (no hot keys / split / twin-wholesale)."""

from __future__ import annotations

import datetime as dt
from functools import reduce

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smos_spark.operators import dispatch
from smos_spark.operators.dispatch import (
    asof_join_auto,
    counter_rate_auto,
    detect_hot_keys,
    event_funnel_auto,
    hot_key_predicate,
    largest_gaps_auto,
    rolling_stats_auto,
)

SF = "/root/testdata/sf0.001"

# detection knobs used throughout: cutoff = max(400*0.25, 5) = 100
# sampled rows — the hot key (~5000 rows, ~1250 sampled) clears it,
# cold keys (~67 rows, ~17 sampled) never do
HOT = dict(hot_threshold=400, sample_fraction=0.25, seed=42)


@pytest.fixture(scope="module")
def skewed(spark):
    """sf0.001 events with one pathological user (~5000 of ~6000 rows,
    incl. a NULL-keyed series): the shape the dispatcher exists for."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    hot = (
        ev.crossJoin(spark.range(5).withColumnRenamed("id", "_r"))
        .withColumn("user_id", F.lit(999_999).cast("long"))
        .withColumn(
            "event_id", F.col("event_id") * 10 + F.col("_r")
        )
        .withColumn(
            "ts",
            F.timestamp_micros(
                F.unix_micros(F.col("ts").cast("timestamp")) + F.col("_r") * 137
            ).cast("timestamp_ntz"),
        )
        .drop("_r")
    )
    nulls = ev.limit(40).withColumn("user_id", F.lit(None).cast("long"))
    df = ev.unionByName(hot).unionByName(nulls).cache()
    df.count()
    return df


def _sorted(df):
    # rows contain NULLs and mixed types: sort by a type-tagged string
    # key (a total order), then compare the tuple lists for equality
    return sorted(
        map(tuple, df.collect()),
        key=lambda t: [(x is None, type(x).__name__, str(x)) for x in t],
    )


def test_detect_hot_keys_regimes(spark, skewed):
    hot = detect_hot_keys(skewed, ["user_id"], **HOT)
    assert hot == [(999_999,)]
    # nothing qualifies under an astronomically high threshold
    assert detect_hot_keys(skewed, ["user_id"], hot_threshold=10**9) == []
    # more hot keys than max_hot -> None (twin-wholesale signal)
    assert (
        detect_hot_keys(
            skewed, ["user_id"], hot_threshold=4, sample_fraction=1.0, max_hot=1
        )
        is None
    )


def test_hot_key_predicate_is_total_over_nulls(spark, skewed):
    pred = hot_key_predicate(["user_id"], [(999_999,), (None,)])
    n_hot = skewed.where(pred).count()
    n_cold = skewed.where(~pred).count()
    # NULL-keyed rows must land in exactly one branch, not vanish
    assert n_hot + n_cold == skewed.count()
    assert skewed.where(pred & F.col("user_id").isNull()).count() == 40


def _routes():
    """route → (frames from the skewed corpus, *_auto form, plain form);
    both forms take the frames positionally."""
    from smos_spark.operators.asof import asof_join, rolling_stats
    from smos_spark.operators.downsample import counter_rate, largest_gaps
    from smos_spark.operators.events import event_funnel

    roll = dict(window_sec=86400.0, value_col="value", on="user_id")
    asof = dict(
        on="user_id",
        right_cols=["event_id"],
        order_col="event_id",
        tolerance_sec=86400.0,
    )
    rate = dict(key_cols=("user_id",), counter_col="counter", width_sec=43200.0)
    gaps = dict(key_cols=("user_id",), top_k=3)
    funnel = dict(steps=("view", "click", "purchase"), key_cols=("user_id",))
    return {
        "rolling_stats": (
            lambda ev: (ev,),
            lambda d, **k: rolling_stats_auto(d, **roll, **k),
            lambda d: rolling_stats(d, **roll),
        ),
        "asof_join": (
            lambda ev: (
                ev.where(F.col("event_type") == "purchase"),
                ev.where(F.col("event_type") == "click"),
            ),
            lambda lf, rt, **k: asof_join_auto(lf, rt, **asof, **k),
            lambda lf, rt: asof_join(lf, rt, **asof),
        ),
        "counter_rate": (
            lambda ev: (
                ev.withColumn("counter", (F.col("event_id") % 1000).cast("long")),
            ),
            lambda d, **k: counter_rate_auto(d, **rate, **k),
            lambda d: counter_rate(d, **rate),
        ),
        "largest_gaps": (
            lambda ev: (ev,),
            lambda d, **k: largest_gaps_auto(d, **gaps, **k),
            lambda d: largest_gaps(d, **gaps),
        ),
        "event_funnel": (
            lambda ev: (ev,),
            lambda d, **k: event_funnel_auto(d, **funnel, **k),
            lambda d: event_funnel(d, **funnel),
        ),
    }


# regime → (knobs, split limit, the hot list the router must see)
REGIMES = {
    "no_hot": (
        dict(hot_threshold=10**6, sample_fraction=0.25, seed=42),
        dispatch.MAX_SPLIT_KEYS,
        [],
    ),
    "split": (HOT, dispatch.MAX_SPLIT_KEYS, [(999_999,)]),
    # every key with >= 5 rows is hot; the corpus has 17 keys (15
    # users, the hot one, NULL), more than the lowered split limit
    "wholesale": (dict(hot_threshold=4, sample_fraction=1.0, seed=1), 4, None),
}


@pytest.mark.parametrize("regime", list(REGIMES))
@pytest.mark.parametrize("route", list(_routes()))
def test_auto_identity(spark, skewed, monkeypatch, route, regime):
    """Every *_auto route equals its plain form in every regime, on a
    corpus with a hot key and NULL-keyed rows."""
    frames_of, auto, plain = _routes()[route]
    knobs, max_split, expect_hot = REGIMES[regime]
    monkeypatch.setattr(dispatch, "MAX_SPLIT_KEYS", max_split)
    frames = frames_of(skewed)
    # the router samples heat on the union of all frames' keys
    keys = reduce(DataFrame.unionAll, (f.select("user_id") for f in frames))
    got_hot = detect_hot_keys(keys, ["user_id"], **knobs, max_hot=max_split)
    assert got_hot == expect_hot
    assert _sorted(auto(*frames, **knobs)) == _sorted(plain(*frames))


def test_asof_join_auto_without_tolerance_is_plain(spark, skewed):
    """Without a tolerance the twin has no bucket width: plain path."""
    from smos_spark.operators.asof import asof_join

    purchases = skewed.where(F.col("event_type") == "purchase")
    clicks = skewed.where(F.col("event_type") == "click")
    kw = dict(on="user_id", right_cols=["event_id"], order_col="event_id")
    no_tol = asof_join_auto(purchases, clicks, **kw, **HOT)
    assert _sorted(no_tol) == _sorted(asof_join(purchases, clicks, **kw))


def _edge_cases():
    """case → (*_auto form taking the frame and the heat knobs, plain
    form taking the frame) for a zero or negative window, tolerance or
    width."""
    from smos_spark.operators.asof import asof_join, rolling_stats
    from smos_spark.operators.downsample import largest_gaps

    def halves(d):
        return d.where(F.col("event_id") % 2 == 0), d.where(F.col("event_id") % 2 == 1)

    def asof(tol):
        kw = dict(on="user_id", right_cols=["event_id"], tolerance_sec=tol)
        return (
            lambda d, k: asof_join_auto(*halves(d), **kw, **k),
            lambda d: asof_join(*halves(d), **kw),
        )

    def roll(win):
        kw = dict(window_sec=win, on="user_id")
        return (
            lambda d, k: rolling_stats_auto(d, **kw, **k),
            lambda d: rolling_stats(d, **kw),
        )

    gaps = dict(key_cols=("user_id",), top_k=2)
    return {
        "asof_zero_tolerance": asof(0.0),
        "asof_negative_tolerance": asof(-1.0),
        "rolling_zero_window": roll(0.0),
        "rolling_negative_window": roll(-1.0),
        "largest_gaps_zero_width": (
            lambda d, k: largest_gaps_auto(d, width_sec=0.0, **gaps, **k),
            lambda d: largest_gaps(d, **gaps),
        ),
    }


def _outcome(run):
    try:
        return "rows", _sorted(run())
    except ValueError as e:
        return "ValueError", str(e)


@pytest.mark.parametrize("case", list(_edge_cases()))
def test_auto_edge_arguments_ignore_heat(spark, case):
    """An *_auto call's outcome for an edge argument (a zero or
    negative window, tolerance or width) does not depend on sampled
    heat: cold and hot routes both give the plain form's rows, or the
    same ValueError."""
    auto, plain = _edge_cases()[case]
    t0 = dt.datetime(2024, 1, 1)
    # user 1 is hot (24 rows, ts ties in pairs); user 2 is cold
    rows = [(i, 1, t0 + dt.timedelta(seconds=7 * (i // 2)), float(i)) for i in range(24)]
    rows += [(100 + i, 2, t0 + dt.timedelta(minutes=i), 1.0) for i in range(3)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    cold = dict(hot_threshold=10**9, sample_fraction=1.0, seed=1)
    hot = dict(hot_threshold=10, sample_fraction=1.0, seed=1)
    assert detect_hot_keys(df, ["user_id"], **hot) == [(1,)]
    got_cold = _outcome(lambda: auto(df, cold))
    got_hot = _outcome(lambda: auto(df, hot))
    assert got_hot == got_cold
    if got_cold[0] == "rows":
        assert got_cold == _outcome(lambda: plain(df))


@pytest.mark.slow
def test_dispatch_scale_smoke_pathological_key(spark):
    """PLANS.md §28 scale audit: ~4M synthetic rows with ONE key
    holding ~20% of them. The dispatcher must (a) detect the key and
    route it through the bucketed twin (pinned in the optimized plan),
    (b) keep every window partition's input bounded (the twin's
    (key, bucket) groups stay small even for the hot key), and
    (c) produce checksum-identical results to the plain form."""
    N = 4_000_000
    WIN = 3600.0
    base = spark.range(N).select(
        F.when(F.col("id") % 5 == 0, F.lit(999_999))
        .otherwise(F.col("id") % 50_000)
        .cast("long")
        .alias("user_id"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000)
            + ((F.col("id") * 7_919) % (86_400 * 30)) * 1_000_000
            + F.col("id") % 1_000_000
        ).alias("ts"),
        ((F.col("id") % 997) / 10.0).alias("value"),
    )

    from smos_spark.operators.dispatch import detect_hot_keys, rolling_stats_auto

    knobs = dict(hot_threshold=400_000, sample_fraction=0.002, seed=42)
    hot = detect_hot_keys(base, ["user_id"], **knobs)
    assert hot == [(999_999,)]

    out = rolling_stats_auto(base, WIN, "value", on="user_id", **knobs)
    # (a) the hot branch runs the twin: its window partitions on the
    # derived time bucket, visible as _bkt in the optimized plan
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "_bkt" in plan, plan

    # (b) bounded partitions: with real+ghost copies, a (key, bucket)
    # window group holds at most 2x the rows of one bucket — measure
    # the actual max and check it is a tiny fraction of the hot key's
    # ~800k rows (the plain form would sort all of them in ONE task)
    win_us = int(WIN * 1_000_000)
    per_bucket_max = (
        base.groupBy(
            "user_id",
            F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / win_us),
        )
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert 2 * per_bucket_max < 0.05 * (N // 5)

    # (c) checksum identity with the plain form (aggregates, not a
    # full 8M-row collect)
    from smos_spark.operators.asof import rolling_stats

    def checksum(df):
        return df.agg(
            F.count(F.lit(1)),
            F.sum("roll_cnt"),
            F.sum("roll_sum_cents"),
            F.sum(F.hash("user_id", "roll_min", "roll_max").cast("long")),
        ).first()

    assert checksum(out) == checksum(
        rolling_stats(base, WIN, "value", on="user_id")
    )
