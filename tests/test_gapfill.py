"""Gap-fill semantics: missing buckets exist as NULL rows (never absent,
never zero), ffill and linear interpolation behave.

Reference analog: [0.198517, nan, nan] for a 3-day read with days 2-3
missing (/root/reference/tests/test_ICreshuffle.py:39-52).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from smos_spark.operators.gapfill import (
    forward_fill,
    gap_fill,
    interpolate_linear,
)
from smos_spark.operators.rollup import rollup_from_raw
from smos_spark.schema import TIERS


def test_gap_buckets_materialized_as_null_rows(spark, transcripts, transcripts_pdf):
    tier = rollup_from_raw(transcripts, "1h")
    filled = gap_fill(tier, "1h").toPandas()

    # dense: every conv covers every hour between its min and max bucket
    for cid, g in filled.groupby("conv_id"):
        hours = g.bucket_start.sort_values()
        assert (hours.diff().dropna() == pd.Timedelta(hours=1)).all()

    # the forced >2h holes (conv_idx % 10 == 0) produce NULL rows
    gaps = filled[filled.n_turns.isna()]
    assert len(gaps) > 0
    hole_convs = {f"conv{i:06d}" for i in range(0, 60, 10)}
    assert hole_convs & set(gaps.conv_id.unique())

    # NULL means NULL everywhere: no zero-filled counters
    assert gaps[["n_turns", "len_sum", "len_cnt"]].isna().all().all()

    # observed buckets are untouched by the join
    obs = filled[filled.n_turns.notna()]
    base = tier.toPandas()
    assert len(obs) == len(base)


def test_explicit_range_gapfill(spark, transcripts):
    """Explicit [start,end] → every conv padded to the same span
    (the reference's unconditional tstamps_for_daterange grid)."""
    tier = rollup_from_raw(transcripts, "1d")
    filled = gap_fill(tier, "1d", start="2025-01-01", end="2025-01-04").toPandas()
    per_conv = filled.groupby("conv_id").bucket_start.count()
    assert (per_conv == 4).all()


def test_forward_fill(spark):
    df = spark.createDataFrame(
        [
            ("a", 1, 10.0),
            ("a", 2, None),
            ("a", 3, None),
            ("a", 4, 40.0),
            ("b", 1, None),
            ("b", 2, 7.0),
        ],
        "conv_id string, bucket_start int, v double",
    )
    got = (
        forward_fill(df, ["v"])
        .toPandas()
        .sort_values(["conv_id", "bucket_start"])
        .v.tolist()
    )
    assert got[:4] == [10.0, 10.0, 10.0, 40.0]
    assert pd.isna(got[4]) and got[5] == 7.0  # leading NULL stays


def test_interpolate_linear(spark):
    df = spark.createDataFrame(
        [
            ("a", 1, 10.0),
            ("a", 2, None),
            ("a", 3, None),
            ("a", 4, 40.0),
            ("a", 5, None),  # trailing stays NULL
        ],
        "conv_id string, bucket_start int, v double",
    )
    got = (
        interpolate_linear(df, ["v"])
        .toPandas()
        .sort_values(["conv_id", "bucket_start"])
        .v.tolist()
    )
    assert got[:4] == [10.0, 20.0, 30.0, 40.0]
    assert pd.isna(got[4])


def test_interpolate_window_equals_pandas(spark, transcripts):
    """The JVM-window linear interpolation must agree with the pandas
    grouped-map reference on the gap-filled hourly tier."""
    import numpy as np

    from smos_spark.operators.gapfill import (
        gap_fill,
        interpolate_linear,
        interpolate_linear_pandas,
    )
    from smos_spark.operators.rollup import reaggregate, rollup_from_raw

    h1 = reaggregate(rollup_from_raw(transcripts, "1m"), "1h").select(
        "conv_id", "bucket_start", "n_turns", "len_sum"
    )
    filled = gap_fill(h1, "1h")
    cols = ["n_turns", "len_sum"]
    a = (
        interpolate_linear(filled, cols)
        .toPandas()
        .sort_values(["conv_id", "bucket_start"])
        .reset_index(drop=True)
    )
    b = (
        interpolate_linear_pandas(filled, cols)
        .toPandas()
        .sort_values(["conv_id", "bucket_start"])
        .reset_index(drop=True)
    )
    assert len(a) == len(b) and len(a) > 0
    # interior gaps actually got interpolated somewhere
    assert a.n_turns.notna().sum() > filled.where("n_turns is not null").count()
    for c in cols:
        np.testing.assert_allclose(
            a[c].to_numpy(dtype=float), b[c].to_numpy(dtype=float), equal_nan=True
        )


def test_null_key_series_keeps_observed_values(spark):
    """A NULL conv_id is a series like any other: its observed buckets
    keep their values and its gaps become NULL rows (an equi-join on
    the key never matches NULL, which blanked the whole series)."""
    rows = [
        (None, "2025-01-01 00:00:00", 1),
        (None, "2025-01-01 03:00:00", 4),
        ("k", "2025-01-01 01:00:00", 2),
        ("k", "2025-01-01 02:00:00", 3),
    ]
    tier = spark.createDataFrame(rows, "conv_id string, b string, n_turns long").select(
        "conv_id", F.col("b").cast("timestamp").alias("bucket_start"), "n_turns"
    )
    got = gap_fill(tier, "1h").toPandas().sort_values("bucket_start")
    null_key = got[got.conv_id.isna()]
    assert [str(b) for b in null_key.bucket_start] == [
        f"2025-01-01 0{h}:00:00" for h in range(4)
    ]
    assert null_key.n_turns.tolist()[0] == 1 and null_key.n_turns.tolist()[3] == 4
    assert null_key.n_turns.iloc[1:3].isna().all()
    assert got[got.conv_id == "k"].n_turns.tolist() == [2, 3]


def test_minute_grid_chunked_long_span(spark):
    """A year-long conv gap-fills at the 1m tier exactly: its one gap
    is one sequence() of about 527k minutes, bounded by the observed
    buckets."""
    rows = [
        ("c1", "2024-01-03 07:30:00"),
        ("c1", "2025-01-03 07:31:00"),  # ~1 year later
        ("c2", "2024-06-01 00:00:00"),
        ("c2", "2024-06-01 00:05:00"),
    ]
    tier = spark.createDataFrame(rows, "conv_id string, b string").select(
        "conv_id", F.col("b").cast("timestamp").alias("bucket_start")
    )
    grid = gap_fill(tier, "1m")
    counts = {r.conv_id: r.n for r in grid.groupBy("conv_id").agg(F.count("*").alias("n")).collect()}
    # 2024 is a leap year: 366 days * 1440 + 2 extra minutes
    assert counts["c1"] == 366 * 1440 + 2
    assert counts["c2"] == 6
    bounds = grid.groupBy("conv_id").agg(
        F.min("bucket_start").alias("lo"), F.max("bucket_start").alias("hi")
    ).collect()
    got = {r.conv_id: (str(r.lo), str(r.hi)) for r in bounds}
    assert got["c1"] == ("2024-01-03 07:30:00", "2025-01-03 07:31:00")


def test_minute_grid_dst_timezone_exact(spark):
    """The 1m step is a fixed duration: under a DST session timezone
    the minute count across a spring-forward transition equals the
    epoch span, with no duplicate or missing buckets."""
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        rows = [("c1", "2024-03-09 12:00:00"), ("c1", "2024-03-11 12:00:00")]
        tier = spark.createDataFrame(rows, "conv_id string, b string").select(
            "conv_id", F.col("b").cast("timestamp").alias("bucket_start")
        )
        grid = gap_fill(tier, "1m")
        stats = grid.agg(
            F.count("*").alias("n"),
            F.count_distinct("bucket_start").alias("nd"),
            (
                (
                    F.unix_timestamp(F.max("bucket_start"))
                    - F.unix_timestamp(F.min("bucket_start"))
                )
                / 60
                + 1
            ).alias("span_minutes"),
        ).collect()[0]
        assert stats.n == stats.nd == int(stats.span_minutes)
        # spring-forward weekend: 47 wall-clock hours = 2821 minute buckets
        assert stats.n == 47 * 60 + 1
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


# (first, last) local noon across each 2024 America/New_York transition,
# and the buckets each tier holds between them: spring-forward loses an
# hour (47 h), fall-back gains one (49 h); a day bucket is a local
# midnight either way
DST_WEEKENDS = {
    "spring": (("2024-03-09 12:00:00", "2024-03-11 12:00:00"), 47),
    "fall": (("2024-11-02 12:00:00", "2024-11-04 12:00:00"), 49),
}


@pytest.mark.parametrize("weekend", sorted(DST_WEEKENDS))
@pytest.mark.parametrize("tier", ["1m", "1h", "1d"])
def test_gap_fill_dst_weekends_exact(spark, tier, weekend):
    """Across both DST transitions every tier's grid is exact: one row
    per elapsed unit (minutes and hours are fixed durations, days are
    the local midnights `date_trunc('day')` makes), observed values kept,
    with or without an explicit range."""
    (lo, hi), hours = DST_WEEKENDS[weekend]
    unit = TIERS[tier]["unit"]
    want = {"minute": hours * 60 + 1, "hour": hours + 1, "day": 3}[unit]
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        tier_df = spark.createDataFrame(
            [("c1", lo, 1), ("c1", hi, 2)], "conv_id string, b string, n_turns long"
        ).select(
            "conv_id",
            F.date_trunc(unit, F.col("b").cast("timestamp")).alias("bucket_start"),
            "n_turns",
        )
        for kw in ({}, {"start": lo, "end": hi}):
            grid = gap_fill(tier_df, tier, **kw)
            stats = grid.agg(
                F.count("*").alias("n"),
                F.count_distinct("bucket_start").alias("nd"),
                F.sort_array(F.collect_list("n_turns")).alias("obs"),
                F.count_distinct(F.date_format("bucket_start", "HH:mm")).alias("clock"),
            ).collect()[0]
            assert stats.n == stats.nd == want, kw
            assert stats.obs == [1, 2], kw
            if unit == "day":
                # every day bucket is a local midnight
                assert stats.clock == 1, kw
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
