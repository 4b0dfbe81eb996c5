"""Ordered event funnel + cohort retention: hand-computed cases."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from smos_spark.operators.events import cohort_retention, event_funnel

UTC = dt.timezone.utc


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )


def _t(day: int, hour: int = 0, minute: int = 0) -> dt.datetime:
    return dt.datetime(2024, 3, day, hour, minute, tzinfo=UTC)


def test_funnel_requires_strict_order(spark):
    df = _ev(
        spark,
        [
            # user 1: completes in order
            (1, 1, _t(1, 9), "view"),
            (2, 1, _t(1, 10), "click"),
            (3, 1, _t(1, 11), "purchase"),
            # user 2: purchase BEFORE click — funnel stalls at click
            (4, 2, _t(1, 9), "view"),
            (5, 2, _t(1, 10), "purchase"),
            (6, 2, _t(1, 11), "click"),
            # user 3: never views — everything NULL despite click
            (7, 3, _t(1, 9), "click"),
        ],
    )
    out = {r["user_id"]: r.asDict() for r in event_funnel(df).collect()}
    assert out[1]["steps_completed"] == 3
    assert out[1]["t3"] == dt.datetime(2024, 3, 1, 11)
    assert out[2]["steps_completed"] == 2 and out[2]["t3"] is None
    assert out[2]["t2"] == dt.datetime(2024, 3, 1, 11)  # the LATER click
    assert out[3]["steps_completed"] == 0 and out[3]["t1"] is None
    assert len(out) == 3  # user 3 still present (denominator preserved)


def test_funnel_earliest_completion_wins(spark):
    # two clicks after view: t2 must be the earlier one; a click at the
    # exact same timestamp as the view does NOT count (strict order)
    df = _ev(
        spark,
        [
            (1, 1, _t(1, 9), "view"),
            (2, 1, _t(1, 9), "click"),   # simultaneous — ignored
            (3, 1, _t(1, 12), "click"),
            (4, 1, _t(1, 15), "click"),
        ],
    )
    out = event_funnel(df).collect()[0]
    assert out["t2"] == dt.datetime(2024, 3, 1, 12)
    assert out["steps_completed"] == 2


def test_funnel_view_after_first_click_can_still_gate_purchase(spark):
    # earliest view is at 10:00; click at 09:00 precedes it (no), click
    # at 11:00 qualifies; purchase at 10:30 precedes the qualifying
    # click so the funnel stalls at step 2
    df = _ev(
        spark,
        [
            (1, 1, _t(1, 10, 0), "view"),
            (2, 1, _t(1, 9, 0), "click"),
            (3, 1, _t(1, 11, 0), "click"),
            (4, 1, _t(1, 10, 30), "purchase"),
        ],
    )
    out = event_funnel(df).collect()[0]
    assert out["t1"] == dt.datetime(2024, 3, 1, 10, 0)
    assert out["t2"] == dt.datetime(2024, 3, 1, 11, 0)
    assert out["t3"] is None


def test_cohort_retention_known(spark):
    rows = [
        # user 1: days 1, 2, 4  (cohort day1 → offsets 0,1,3)
        (1, 1, _t(1, 8), "view"),
        (2, 1, _t(2, 9), "view"),
        (3, 1, _t(4, 7), "view"),
        # user 2: day 1 twice, day 4  (offsets 0,3 — dup day collapses)
        (4, 2, _t(1, 1), "view"),
        (5, 2, _t(1, 23), "view"),
        (6, 2, _t(4, 12), "view"),
        # user 3: day 2 only (own cohort, offset 0)
        (7, 3, _t(2, 5), "view"),
    ]
    out = {
        (r["cohort_start"].day, r["offset_buckets"]): r["n_active"]
        for r in cohort_retention(_ev(spark, rows)).collect()
    }
    assert out[(1, 0)] == 2       # users 1+2 on their cohort day
    assert out[(1, 1)] == 1       # user 1 back on day 2
    assert out[(1, 3)] == 2       # both back on day 4
    assert out[(2, 0)] == 1       # user 3's own cohort
    assert len(out) == 4


def test_cohort_total_equals_distinct_users(spark):
    rows = [(i, i % 5, _t(1 + i % 7, i % 24), "view") for i in range(200)]
    df = _ev(spark, rows)
    total_cohort0 = (
        cohort_retention(df)
        .where(F.col("offset_buckets") == 0)
        .agg(F.sum("n_active"))
        .collect()[0][0]
    )
    assert total_cohort0 == 5  # every user appears in exactly one cohort


def test_parse_json_fields_typed_and_malformed(spark):
    """Explicit-schema JSON parse: typed fields, NULL on malformed
    (PERMISSIVE) or absent fields, FAILFAST raises; matches DuckDB's
    JSON path extraction on the well-formed rows."""
    import duckdb
    import pytest
    from pyspark.sql.utils import AnalysisException  # noqa: F401
    from smos_spark.operators.events import parse_json_fields

    rows = [
        (1, '{"k": 87, "tag": "a"}'),
        (2, '{"k": 0}'),
        (3, "not json {"),
        (4, None),
        (5, '{"tag": "only"}'),
    ]
    df = spark.createDataFrame(rows, "event_id long, props string")
    out = parse_json_fields(df, fields={"k": "bigint", "tag": "string"})
    got = {r["event_id"]: (r["k"], r["tag"]) for r in out.collect()}
    assert got == {1: (87, "a"), 2: (0, None), 3: (None, None),
                   4: (None, None), 5: (None, "only")}
    exp = dict(
        duckdb.sql(
            """
        SELECT event_id,
               CAST(json_extract(props, '$.k') AS BIGINT)
        FROM (VALUES (1, '{"k": 87, "tag": "a"}'), (2, '{"k": 0}'),
                     (5, '{"tag": "only"}')) v(event_id, props)
    """
        ).fetchall()
    )
    for eid, k in exp.items():
        assert got[eid][0] == k
    strict = parse_json_fields(df, fields={"k": "bigint"}, mode="FAILFAST")
    with pytest.raises(Exception, match="FAILFAST|Malformed"):
        strict.collect()
    with pytest.raises(ValueError):
        parse_json_fields(df, fields={})


def test_event_funnel_stepwise_identical(spark):
    """Stepwise (hot-key-safe) funnel == window funnel on the sf
    events, including keys that stall at every stage."""
    from smos_spark.operators.events import event_funnel, event_funnel_stepwise

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    a = event_funnel(ev).orderBy("user_id")
    b = event_funnel_stepwise(ev).orderBy("user_id")
    ca, cb = a.collect(), b.collect()
    assert len(ca) == len(cb) and ca == cb


def test_event_funnel_stepwise_null_key(spark):
    """NULL keys are a regular group to groupBy/windows — the stepwise
    joins must be null-safe or anonymous-user funnels silently report
    zero progression (regression pin)."""
    import datetime as dt

    from smos_spark.operators.events import event_funnel, event_funnel_stepwise

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, None, t0, "view"),
        (2, None, t0 + dt.timedelta(minutes=1), "click"),
        (3, None, t0 + dt.timedelta(minutes=2), "purchase"),
        (4, 7, t0, "view"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    key = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    a = sorted(map(tuple, event_funnel(df).collect()), key=key)
    b = sorted(map(tuple, event_funnel_stepwise(df).collect()), key=key)
    assert a == b
    null_row = [r for r in event_funnel_stepwise(df).collect()
                if r["user_id"] is None][0]
    assert null_row["steps_completed"] == 3


class TestUserGrowth:
    def test_known_growth_curve(self, spark):
        import datetime as dt

        from smos_spark.operators.events import user_growth

        t0 = dt.datetime(2024, 1, 1)
        rows = [
            ("u1", t0), ("u2", t0),                      # day 0: 2 new
            ("u1", t0 + dt.timedelta(days=1)),           # day 1: 0 new
            ("u3", t0 + dt.timedelta(days=2)),           # day 2: 1 new
            ("u1", t0 + dt.timedelta(days=2)),
            ("u1", t0 + dt.timedelta(days=2)),           # dup row, same day
        ]
        df = spark.createDataFrame(rows, "user_id string, ts timestamp")
        out = {r["bucket_start"].day: r for r in user_growth(df).collect()}
        assert (out[1]["new_keys"], out[1]["active_keys"], out[1]["cum_keys"]) == (2, 2, 2)
        assert (out[2]["new_keys"], out[2]["active_keys"], out[2]["cum_keys"]) == (0, 1, 2)
        assert (out[3]["new_keys"], out[3]["active_keys"], out[3]["cum_keys"]) == (1, 2, 3)

    def test_partition_invariant(self, spark):
        import datetime as dt

        import numpy as np

        from smos_spark.operators.events import user_growth

        rng = np.random.default_rng(71)
        t0 = dt.datetime(2024, 1, 1)
        rows = [
            ("u%d" % rng.integers(0, 40),
             t0 + dt.timedelta(hours=int(rng.integers(0, 600))))
            for _ in range(500)
        ]
        df = spark.createDataFrame(rows, "user_id string, ts timestamp")
        a = user_growth(df).orderBy("bucket_start").collect()
        b = user_growth(df.repartition(13)).orderBy("bucket_start").collect()
        assert a == b and a[-1]["cum_keys"] == 40


class TestPeriodCompare:
    def test_wow_known_answer_and_calendar_alignment(self, spark):
        import datetime as dt

        from smos_spark.operators.events import period_compare

        t0 = dt.datetime(2024, 1, 1)
        rows = [
            ("k", t0, 100),
            ("k", t0 + dt.timedelta(days=7), 150),
            ("k", t0 + dt.timedelta(days=8), 90),   # no day-1 base → dropped
            ("k", t0 + dt.timedelta(days=14), 75),
        ]
        df = spark.createDataFrame(rows, "k string, ts timestamp, v long")
        out = {r["bucket_start"].day: r
               for r in period_compare(df, "v", ["k"]).collect()}
        assert set(out) == {8, 15}
        assert (out[8]["cur"], out[8]["prev"], out[8]["delta"]) == (150, 100, 50)
        assert out[8]["ratio_ppm"] == 1_500_000
        assert (out[15]["prev"], out[15]["delta"]) == (150, -75)
        assert out[15]["ratio_ppm"] == 500_000

    def test_negative_and_zero_base(self, spark):
        import datetime as dt

        from smos_spark.operators.events import period_compare

        t0 = dt.datetime(2024, 1, 1)
        rows = [
            ("k", t0, -30), ("k", t0 + dt.timedelta(days=7), -45),
            ("z", t0, 0), ("z", t0 + dt.timedelta(days=7), 10),
        ]
        df = spark.createDataFrame(rows, "k string, ts timestamp, v long")
        out = {r["k"]: r for r in period_compare(df, "v", ["k"]).collect()}
        assert out["k"]["delta"] == -15 and out["k"]["ratio_ppm"] is None
        assert out["z"]["ratio_ppm"] is None  # zero base

    def test_floor_division_negative_numerator(self, spark):
        import datetime as dt

        from smos_spark.operators.events import period_compare

        t0 = dt.datetime(2024, 1, 1)
        rows = [("k", t0, 7), ("k", t0 + dt.timedelta(days=7), -7)]
        df = spark.createDataFrame(rows, "k string, ts timestamp, v long")
        r = period_compare(df, "v", ["k"]).collect()[0]
        # FLOOR(-7e6/7) = -1_000_000 exactly
        assert r["ratio_ppm"] == -1_000_000

    def test_scaled_total_above_int64_is_exact(self, spark):
        """cur·1e6 exceeds 2^63 for a total just above 2^63/1e6: the
        ratio is still exact (decimal(38,0) numerator) instead of an
        ARITHMETIC_OVERFLOW abort under ANSI."""
        import datetime as dt

        from smos_spark.operators.events import period_compare

        cur, prev = 2**63 // 1_000_000 + 1, 3_000_000_000_001
        assert cur * 1_000_000 > 2**63 - 1
        t0 = dt.datetime(2024, 1, 1)
        rows = [("k", t0, prev), ("k", t0 + dt.timedelta(days=7), cur)]
        df = spark.createDataFrame(rows, "k string, ts timestamp, v long")
        r = period_compare(df, "v", ["k"]).collect()[0]
        assert (r["cur"], r["prev"], r["delta"]) == (cur, prev, cur - prev)
        assert r["ratio_ppm"] == cur * 1_000_000 // prev


class TestConversionLag:
    def test_known_answers(self, spark):
        import datetime as dt

        from smos_spark.operators.events import conversion_lag

        t0 = dt.datetime(2024, 1, 1)
        rows = [
            # converts 90 min after first view (later views ignored)
            ("a", "view", t0), ("a", "view", t0 + dt.timedelta(minutes=5)),
            ("a", "purchase", t0 + dt.timedelta(minutes=90)),
            ("a", "purchase", t0 + dt.timedelta(minutes=400)),
            # purchase BEFORE any view → dropped
            ("b", "purchase", t0), ("b", "view", t0 + dt.timedelta(hours=1)),
            # never converts → dropped
            ("c", "view", t0),
            # converts at the same instant → lag 0 kept
            ("d", "view", t0), ("d", "purchase", t0),
        ]
        df = spark.createDataFrame(rows, "user_id string, event_type string, ts timestamp")
        out = {r["key"]: r for r in conversion_lag(
            df, "event_type", "view", "purchase").collect()}
        assert set(out) == {"a", "d"}
        assert out["a"]["lag_us"] == 90 * 60 * 1_000_000
        assert out["a"]["first_from_ts"] == t0
        assert out["d"]["lag_us"] == 0
