"""M4 downsample, reset-aware counter rate, largest-gap detection.

Hand-computed expectations on tiny frames (the FIXTURES.md §1 unit
size), plus invariants on a denser synthetic series.
"""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from smos_spark.operators.downsample import counter_rate, largest_gaps, m4_downsample

UTC = dt.timezone.utc


def _t(minute: int, second: int = 0) -> dt.datetime:
    return dt.datetime(2024, 3, 1, 10, minute, second, tzinfo=UTC)


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )


def test_m4_keeps_exactly_the_four_anchor_rows(spark):
    # one user, one 1-hour bucket: first(e1), max(e3=9.0), min(e4=1.0),
    # last(e5); e2 is interior and must be dropped
    df = _events(
        spark,
        [
            (1, 7, _t(0), 5.0),
            (2, 7, _t(10), 6.0),
            (3, 7, _t(20), 9.0),
            (4, 7, _t(30), 1.0),
            (5, 7, _t(40), 4.0),
        ],
    )
    out = {r["event_id"]: r.asDict() for r in m4_downsample(df).collect()}
    assert sorted(out) == [1, 3, 4, 5]
    assert out[1]["is_first"] and not out[1]["is_last"]
    assert out[3]["is_max"] and not out[3]["is_min"]
    assert out[4]["is_min"]
    assert out[5]["is_last"]
    assert all(
        r["bucket_start"] == dt.datetime(2024, 3, 1, 10, 0) for r in out.values()
    )


def test_m4_single_point_bucket_carries_all_flags(spark):
    df = _events(spark, [(1, 7, _t(0), 5.0), (2, 8, _t(1), 2.0)])
    rows = m4_downsample(df).collect()
    assert len(rows) == 2
    for r in rows:
        assert r["is_first"] and r["is_last"] and r["is_min"] and r["is_max"]


def test_m4_tie_break_is_deterministic(spark):
    # two rows with identical (ts, value): event_id breaks every tie,
    # so e1 is first+min+max and e2 is last
    df = _events(spark, [(1, 7, _t(0), 5.0), (2, 7, _t(0), 5.0)])
    out = {r["event_id"]: r.asDict() for r in m4_downsample(df).collect()}
    assert out[1]["is_first"] and out[1]["is_min"] and out[1]["is_max"]
    assert not out[1]["is_last"]
    assert out[2]["is_last"] and not out[2]["is_first"]


def test_m4_pixel_error_free_invariant(spark):
    """The defining M4 property: per (key, bucket) the kept rows
    realize the bucket's exact min, max, first-ts and last-ts."""
    rows = [
        (i, i % 3, _t((7 * i) % 60, i % 60), float((i * 37) % 101))
        for i in range(300)
    ]
    df = _events(spark, rows)
    kept = m4_downsample(df, width_sec=600.0)
    full = df.withColumn(
        "bucket_start",
        F.timestamp_micros(
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.pmod(F.unix_micros(F.col("ts").cast("timestamp")), F.lit(600_000_000))
        ),
    )
    truth = full.groupBy("user_id", "bucket_start").agg(
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
        F.min("ts").alias("ts_min"),
        F.max("ts").alias("ts_max"),
        F.count(F.lit(1)).alias("n"),
    )
    got = kept.groupBy("user_id", "bucket_start").agg(
        F.min(F.when(F.col("is_min"), F.col("value"))).alias("g_v_min"),
        F.max(F.when(F.col("is_max"), F.col("value"))).alias("g_v_max"),
        F.min(F.when(F.col("is_first"), F.col("ts"))).alias("g_ts_min"),
        F.max(F.when(F.col("is_last"), F.col("ts"))).alias("g_ts_max"),
    )
    j = truth.join(got, ["user_id", "bucket_start"], "full_outer")
    ok = (
        (F.col("v_min") == F.col("g_v_min"))
        & (F.col("v_max") == F.col("g_v_max"))
        & (F.col("ts_min") == F.col("g_ts_min"))
        & (F.col("ts_max") == F.col("g_ts_max"))
    )
    assert j.where(~F.coalesce(ok, F.lit(False))).count() == 0
    # compression actually happened: ≤4 rows kept per bucket
    over = (
        kept.groupBy("user_id", "bucket_start")
        .count()
        .where(F.col("count") > 4)
        .count()
    )
    assert over == 0


def test_counter_rate_handles_resets(spark):
    # counter: 10 → 40 → 5 (reset) → 25 across two hourly buckets
    df = spark.createDataFrame(
        [
            (1, 7, _t(0), 10),
            (2, 7, _t(20), 40),
            (3, 7, _t(40), 5),
            (4, 7, dt.datetime(2024, 3, 1, 11, 5, tzinfo=UTC), 25),
        ],
        "event_id long, user_id long, ts timestamp, counter long",
    )
    out = {
        r["bucket_start"].hour: r.asDict()
        for r in counter_rate(df, counter_col="counter").collect()
    }
    # hour 10: first sample 0 + (40-10) + reset→5  = 35
    assert out[10]["increase"] == 35 and out[10]["n_samples"] == 3
    # hour 11: 25-5 = 20
    assert out[11]["increase"] == 20 and out[11]["n_samples"] == 1


def test_counter_rate_monotone_equals_plain_delta(spark):
    # without resets the total increase telescopes to last-first
    rows = [(i, 7, _t(i % 60, (i * 7) % 60), 100 + 3 * i) for i in range(50)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, counter long"
    )
    total = (
        counter_rate(df, counter_col="counter", width_sec=600.0)
        .agg(F.sum("increase"))
        .collect()[0][0]
    )
    assert total == 3 * 49


def test_largest_gaps_known(spark):
    df = _events(
        spark,
        [
            (1, 7, _t(0), 1.0),
            (2, 7, _t(1), 1.0),     # gap 60 s
            (3, 7, _t(31), 1.0),    # gap 1800 s  <- largest
            (4, 7, _t(41), 1.0),    # gap 600 s   <- second
            (5, 8, _t(0), 1.0),     # other user: no gap (single sample)
        ],
    )
    out = largest_gaps(df, top_k=2).collect()
    by_rank = {(r["user_id"], r["gap_rank"]): r.asDict() for r in out}
    assert len(out) == 2  # user 8 emits nothing
    assert by_rank[(7, 1)]["gap_us"] == 1800 * 1_000_000
    assert by_rank[(7, 1)]["gap_end"] == dt.datetime(2024, 3, 1, 10, 31)
    assert by_rank[(7, 2)]["gap_us"] == 600 * 1_000_000


def test_largest_gaps_rank_tie_prefers_earlier(spark):
    # two equal 120 s gaps: the earlier gap_end must get rank 1
    df = _events(
        spark,
        [
            (1, 7, _t(0), 1.0),
            (2, 7, _t(2), 1.0),
            (3, 7, _t(4), 1.0),
        ],
    )
    out = {r["gap_rank"]: r.asDict() for r in largest_gaps(df, top_k=2).collect()}
    assert out[1]["gap_end"] == dt.datetime(2024, 3, 1, 10, 2)
    assert out[2]["gap_end"] == dt.datetime(2024, 3, 1, 10, 4)


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet("/root/testdata/sf0.01/events.parquet").cache()


def test_counter_rate_bucketed_identical(spark, events):
    """Bounded-partition counter_rate == keyed counter_rate on real
    data at a width small enough to force many buckets and boundary
    carries across EMPTY buckets (sparse per-user sampling)."""
    from pyspark.sql.window import Window
    from smos_spark.operators.downsample import counter_rate, counter_rate_bucketed

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cents = F.floor(F.col("value") * 100).cast("long") + 100
    counters = events.select(
        "event_id",
        "user_id",
        "ts",
        F.pmod(F.sum(cents).over(w), F.lit(50000)).alias("counter"),
    ).cache()
    a = counter_rate(counters, width_sec=3600.0).orderBy("user_id", "bucket_start")
    b = counter_rate_bucketed(counters, width_sec=3600.0).orderBy(
        "user_id", "bucket_start"
    )
    assert a.collect() == b.collect()


def test_largest_gaps_bucketed_identical(spark, events):
    from smos_spark.operators.downsample import largest_gaps, largest_gaps_bucketed

    a = largest_gaps(events, top_k=3).orderBy("user_id", "gap_rank")
    b = largest_gaps_bucketed(events, top_k=3, width_sec=3600.0).orderBy(
        "user_id", "gap_rank"
    )
    assert a.collect() == b.collect()


def test_bucketed_carry_crosses_empty_buckets(spark):
    """Planted sparse key: samples in buckets 0 and 5 (four EMPTY
    buckets between) — the boundary carry must still connect them;
    a ghost-copy-to-adjacent-bucket scheme would not."""
    import datetime as dt

    from smos_spark.operators.downsample import (
        counter_rate,
        counter_rate_bucketed,
        largest_gaps,
        largest_gaps_bucketed,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, 7, t0, 10),
        (2, 7, t0 + dt.timedelta(seconds=10), 25),
        (3, 7, t0 + dt.timedelta(hours=5), 5),    # reset after 4 empty hours
        (4, 7, t0 + dt.timedelta(hours=5, minutes=1), 30),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, counter long"
    )
    a = counter_rate(df, width_sec=3600.0).orderBy("bucket_start").collect()
    b = counter_rate_bucketed(df, width_sec=3600.0).orderBy("bucket_start").collect()
    assert a == b
    # bucket 0: 0 (first) + 15; bucket 5: reset→5 + 25
    inc = {r["bucket_start"].hour: r["increase"] for r in b}
    assert inc[0] == 15 and inc[5] == 30
    g1 = largest_gaps(df.withColumnRenamed("counter", "value"), top_k=2).collect()
    g2 = largest_gaps_bucketed(
        df.withColumnRenamed("counter", "value"), top_k=2, width_sec=3600.0
    ).collect()
    assert sorted(map(tuple, g1)) == sorted(map(tuple, g2))
    assert max(r["gap_us"] for r in g2) == (5 * 3600 - 10) * 1_000_000


def test_counter_rate_bucketed_null_key(spark):
    """A NULL-keyed counter series must keep its cross-bucket carry
    (null-safe join regression pin)."""
    from smos_spark.operators.downsample import counter_rate, counter_rate_bucketed

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, None, t0, 10),
        (2, None, t0 + dt.timedelta(hours=2), 30),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, counter long"
    )
    a = sorted(map(tuple, counter_rate(df, width_sec=3600.0).collect()))
    b = sorted(map(tuple, counter_rate_bucketed(df, width_sec=3600.0).collect()))
    assert a == b
    incs = {r[1].hour: r[2] for r in b}
    assert incs[2] == 20


class TestLttb:
    def _run(self, spark, rows, n_segments=4):
        from smos_spark.operators.downsample import lttb_downsample

        t0 = dt.datetime(2024, 3, 1, tzinfo=UTC)
        data = [
            (i, 1, t0 + dt.timedelta(hours=h), v)
            for i, (h, v) in enumerate(rows)
        ]
        return lttb_downsample(
            _events(spark, data), "value", ("user_id",), n_segments=n_segments
        ).collect()

    def test_hand_computed_selection(self, spark):
        # 6h slices: seg0 {h0,h2 @1.0}, seg1 {h6,h8 @1.0, SPIKE h7 @9.0},
        # seg2 {h13 @1.0}, seg3 {h19 @1.0, h20 @3.0}. Neighbor centroids
        # of seg1 are both at y=100 cents, so the colinear candidates
        # score 0 and the spike must win; seg2's lone point is chosen
        # trivially; endpoints are the day's first/last rows.
        out = self._run(
            spark,
            [(0, 1.0), (2, 1.0), (6, 1.0), (7, 9.0), (8, 1.0),
             (13, 1.0), (19, 1.0), (20, 3.0)],
        )
        by = {(r.anchor, r.seg): r for r in out}
        assert len(out) == 4
        assert by[("first", 0)].val_cents == 100
        assert by[("last", 3)].val_cents == 300
        assert by[("triangle", 1)].val_cents == 900
        assert by[("triangle", 2)].val_cents == 100

    def test_single_point_day_emits_one_first_row(self, spark):
        out = self._run(spark, [(5, 2.5)])
        assert len(out) == 1 and out[0].anchor == "first"
        assert out[0].val_cents == 250

    def test_validation(self, spark):
        from smos_spark.operators.downsample import lttb_downsample

        df = _events(spark, [(0, 1, dt.datetime(2024, 3, 1, tzinfo=UTC), 1.0)])
        with pytest.raises(ValueError, match="n_segments"):
            lttb_downsample(df, "value", ("user_id",), n_segments=2)


class TestCounterRateStream:
    def test_counter_rate_stream_matches_batch(self, spark, run_stream):
        """Streaming reset-aware increase() over a random micro-batch
        split == batch counter_rate minus each key's final still-open
        bucket (case "counter_rate" of test_stream_fold)."""
        from test_stream_fold import check_fold_twin

        check_fold_twin(spark, run_stream, "counter_rate", split_seed=0)

    def test_float_counter_refused(self, spark):
        from smos_spark.operators.downsample import counter_rate_stream

        df = spark.createDataFrame(
            [(1, 1, dt.datetime(2024, 3, 1, 10, 0), 1.5)],
            "event_id long, user_id long, ts timestamp, counter double",
        )
        with pytest.raises(ValueError, match="integer-typed"):
            counter_rate_stream(df, counter_col="counter")


class TestGapAlerts:
    def test_known_gaps(self, spark):
        from smos_spark.operators.downsample import gap_alerts

        rows = [
            (1, 7, _t(0)), (2, 7, _t(1)),          # 60 s gap: below
            (3, 7, _t(20)),                        # 19 min gap: alert
            (4, 7, _t(25)), (5, 7, _t(59)),        # 34 min gap: alert
            (6, 8, _t(0)),                         # other key, 1 sample
            (7, 8, _t(40)),                        # 40 min gap: alert
        ]
        df = spark.createDataFrame(
            [(e, u, t, 0.0) for e, u, t in rows],
            "event_id long, user_id long, ts timestamp, value double",
        )
        got = {
            (r["user_id"], r["gap_start"], r["gap_end"])
            for r in gap_alerts(df, min_gap_sec=600.0).collect()
        }
        naive = lambda m: dt.datetime(2024, 3, 1, 10, m)  # noqa: E731
        assert got == {
            (7, naive(1), naive(20)),
            (7, naive(25), naive(59)),
            (8, naive(0), naive(40)),
        }

    def test_matches_largest_gaps_superset(self, spark, events):
        """Every top-k largest gap above the threshold appears in the
        threshold output with the identical µs width."""
        from smos_spark.operators.downsample import gap_alerts, largest_gaps

        thr = 600.0
        alerts = {
            (r["user_id"], r["gap_start"], r["gap_end"]): r["gap_us"]
            for r in gap_alerts(events, min_gap_sec=thr).collect()
        }
        for r in largest_gaps(events, top_k=3).collect():
            if r["gap_us"] >= thr * 1e6:
                key = (r["user_id"], r["gap_start"], r["gap_end"])
                assert alerts.get(key) == r["gap_us"]

    def test_bad_threshold_rejected(self, spark, events):
        from smos_spark.operators.downsample import (
            gap_alerts,
            gap_alerts_stream,
        )

        with pytest.raises(ValueError):
            gap_alerts(events, min_gap_sec=0.0)
        with pytest.raises(ValueError):
            gap_alerts_stream(events, min_gap_sec=-5.0)

    def test_gap_alerts_stream_matches_batch(self, spark, run_stream):
        """Streaming gap alerts over a random micro-batch split ==
        batch row-for-row — a gap closes exactly when its closing
        sample arrives, so there is NO open-tail deficit (case
        "gap_alerts" of test_stream_fold)."""
        from test_stream_fold import check_fold_twin

        check_fold_twin(spark, run_stream, "gap_alerts", split_seed=0)
