"""Hysteresis two-threshold alerting: known raise/clear sequences,
dead-band flap suppression, events_only, the one-exchange plan pin,
and the streaming twin's row-for-row batch equality."""

from __future__ import annotations

import datetime as dt

import pytest

from smos_spark.operators.alerting import hysteresis_alerts, hysteresis_stream

UTC = dt.timezone.utc


def _ts(s: float):
    return dt.datetime.fromtimestamp(s, UTC).replace(tzinfo=None)


@pytest.fixture(scope="module")
def gauge(spark):
    # key "a": rises through the dead band (no flap), crosses hi,
    # oscillates inside (hi, lo) while active (stays raised), clears
    # at lo, re-raises.  key "b": never crosses hi.  NULLs excluded.
    rows = [
        ("a", _ts(1), 1, 40.0),    # <= lo while already inactive: stays 0
        ("a", _ts(2), 2, 90.0),    # dead band, inactive
        ("a", _ts(3), 3, 150.0),   # == hi -> raise
        ("a", _ts(4), 4, 120.0),   # dead band while active: stays raised
        ("a", _ts(5), 5, 51.0),    # still above lo: stays raised
        ("a", _ts(6), 6, 50.0),    # == lo -> clear
        ("a", _ts(7), 7, 149.9),   # dead band after clear: stays inactive
        ("a", _ts(8), 8, 200.0),   # -> raise again
        ("b", _ts(1), 9, 149.0),   # never reaches hi
        ("b", _ts(2), 10, 10.0),   # <= lo but never active: no event
        ("b", None, 11, 500.0),    # NULL ts excluded
        ("b", _ts(3), 12, None),   # NULL value excluded
    ]
    return spark.createDataFrame(
        rows, "user_id string, ts timestamp, event_id int, value double"
    )


def test_known_raise_clear_sequence(spark, gauge):
    got = {
        (r["user_id"], r["event_id"]): (r["alert_active"], r["event"])
        for r in hysteresis_alerts(
            gauge, "value", hi=150.0, lo=50.0, key_cols=["user_id"]
        ).collect()
    }
    assert got == {
        ("a", 1): (0, None),
        ("a", 2): (0, None),
        ("a", 3): (1, "raise"),
        ("a", 4): (1, None),
        ("a", 5): (1, None),
        ("a", 6): (0, "clear"),
        ("a", 7): (0, None),
        ("a", 8): (1, "raise"),
        ("b", 9): (0, None),
        ("b", 10): (0, None),
    }


def test_events_only_and_initial_raise(spark):
    # a series whose FIRST row is already >= hi raises on that row
    df = spark.createDataFrame(
        [("k", _ts(1), 1, 500.0), ("k", _ts(2), 2, 10.0), ("k", _ts(3), 3, 70.0)],
        "user_id string, ts timestamp, event_id int, value double",
    )
    ev = hysteresis_alerts(
        df, "value", hi=100.0, lo=20.0, key_cols=["user_id"], events_only=True
    ).collect()
    assert [(r["event_id"], r["event"]) for r in ev] == [(1, "raise"), (2, "clear")]


def test_no_flap_inside_dead_band(spark):
    # oscillation strictly inside (lo, hi) after one raise: exactly
    # one event total — the Schmitt-trigger guarantee
    rows = [("k", _ts(i), i, v) for i, v in enumerate(
        [150.0, 149.0, 51.0, 149.0, 51.0, 149.0, 51.0], start=1)]
    df = spark.createDataFrame(
        rows, "user_id string, ts timestamp, event_id int, value double"
    )
    ev = hysteresis_alerts(
        df, "value", hi=150.0, lo=50.0, key_cols=["user_id"], events_only=True
    ).collect()
    assert [(r["event_id"], r["event"]) for r in ev] == [(1, "raise")]


def test_bad_thresholds_rejected(spark, gauge):
    with pytest.raises(ValueError):
        hysteresis_alerts(gauge, "value", hi=50.0, lo=50.0)
    with pytest.raises(ValueError):
        hysteresis_stream(gauge, "value", hi=10.0, lo=20.0)


def test_single_exchange_plan(spark, gauge):
    """The LOCF window and the transition lag share one partitioning:
    exactly ONE Exchange in the physical plan."""
    plan = (
        hysteresis_alerts(gauge, "value", hi=150.0, lo=50.0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1, plan


def test_hysteresis_stream_matches_batch(spark, run_stream):
    """Streaming twin over a random micro-batch split == batch
    events_only rows, row-for-row (case "hysteresis" of
    test_stream_fold)."""
    from test_stream_fold import check_fold_twin

    check_fold_twin(spark, run_stream, "hysteresis", split_seed=0)


class TestThresholdHold:
    def test_known_fire_resolve_sequence(self, spark):
        from smos_spark.operators.alerting import threshold_hold_alerts

        rows = [
            ("a", _ts(0), 1, 150.0),   # run starts, age 0 < 10: pending
            ("a", _ts(5), 2, 150.0),   # age 5: pending
            ("a", _ts(10), 3, 150.0),  # age 10 >= 10 -> fire
            ("a", _ts(12), 4, 150.0),  # still firing
            ("a", _ts(14), 5, 50.0),   # condition drops -> resolve
            ("a", _ts(16), 6, 150.0),  # NEW run (reset), pending
            ("a", _ts(27), 7, 150.0),  # age 11 -> fire again
            ("a", _ts(28), 8, 20.0),   # -> resolve
            ("b", _ts(0), 9, 150.0),   # run shorter than hold:
            ("b", _ts(5), 10, 150.0),  # never fires
        ]
        df = spark.createDataFrame(
            rows, "user_id string, ts timestamp, event_id int, value double"
        )
        got = {
            (r["user_id"], r["event_id"]): (r["cond"], r["firing"], r["event"])
            for r in threshold_hold_alerts(
                df, "value", hi=100.0, hold_sec=10.0, key_cols=["user_id"]
            ).collect()
        }
        assert got == {
            ("a", 1): (1, 0, None),
            ("a", 2): (1, 0, None),
            ("a", 3): (1, 1, "fire"),
            ("a", 4): (1, 1, None),
            ("a", 5): (0, 0, "resolve"),
            ("a", 6): (1, 0, None),
            ("a", 7): (1, 1, "fire"),
            ("a", 8): (0, 0, "resolve"),
            ("b", 9): (1, 0, None),
            ("b", 10): (1, 0, None),
        }

    def test_zero_hold_fires_immediately(self, spark):
        from smos_spark.operators.alerting import threshold_hold_alerts

        df = spark.createDataFrame(
            [("k", _ts(1), 1, 150.0), ("k", _ts(2), 2, 10.0)],
            "user_id string, ts timestamp, event_id int, value double",
        )
        ev = threshold_hold_alerts(
            df, "value", hi=100.0, hold_sec=0.0, key_cols=["user_id"],
            events_only=True,
        ).collect()
        assert [(r["event_id"], r["event"]) for r in ev] == [
            (1, "fire"), (2, "resolve")
        ]

    def test_negative_hold_rejected(self, spark):
        from smos_spark.operators.alerting import threshold_hold_alerts

        df = spark.createDataFrame(
            [("k", _ts(1), 1, 1.0)],
            "user_id string, ts timestamp, event_id int, value double",
        )
        with pytest.raises(ValueError):
            threshold_hold_alerts(df, "value", hi=1.0, hold_sec=-1.0)

    def test_single_exchange_plan(self, spark):
        from smos_spark.operators.alerting import threshold_hold_alerts

        df = spark.createDataFrame(
            [("k", _ts(1), 1, 1.0)],
            "user_id string, ts timestamp, event_id int, value double",
        )
        plan = (
            threshold_hold_alerts(
                df, "value", hi=100.0, hold_sec=10.0, key_cols=["user_id"]
            )
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("Exchange") == 1, plan

    def test_threshold_hold_stream_matches_batch(self, spark, run_stream):
        """Streaming `for:` twin over a random micro-batch split ==
        batch events_only rows (case "threshold_hold" of
        test_stream_fold)."""
        from test_stream_fold import check_fold_twin

        check_fold_twin(spark, run_stream, "threshold_hold", split_seed=0)


class TestDrawdownAlerts:
    def test_known_record_sequence(self, spark):
        import datetime as dt

        from smos_spark.operators.alerting import drawdown_alerts

        t0 = dt.datetime(2024, 1, 1)
        vals = [100, 120, 90, 110, 60, 80, 130, 70, 65]
        # dd:      0    0  30  10  60  40   0  60  65
        # records ≥ 20: 30 (idx2), 60 (idx4), 65 (idx8) — the second 60
        # at idx7 equals the record and must NOT re-alert
        df = spark.createDataFrame(
            [("k", t0 + dt.timedelta(minutes=i), i, v)
             for i, v in enumerate(vals)],
            "g string, ts timestamp, i long, v long",
        )
        out = drawdown_alerts(
            df, "v", threshold=20, key_cols=("g",), tie_cols=("i",)
        ).orderBy("ts").collect()
        assert [(r["drawdown"], r["value"]) for r in out] == [
            (30, 90), (60, 60), (65, 65)
        ]
        assert all(r["peak"] in (120, 130) for r in out)

    def test_threshold_validation(self, spark):
        import pytest as _pt

        from smos_spark.operators.alerting import drawdown_alerts

        df = spark.createDataFrame([("k", 1)], "g string, v long")
        with _pt.raises(ValueError):
            drawdown_alerts(df, "v", threshold=0)

    def test_single_exchange_plan(self, spark):
        import datetime as dt

        from smos_spark.operators.alerting import drawdown_alerts

        df = spark.createDataFrame(
            [("k", dt.datetime(2024, 1, 1), 0, 5)],
            "g string, ts timestamp, i long, v long",
        )
        plan = (
            drawdown_alerts(df, "v", threshold=10, key_cols=("g",),
                            tie_cols=("i",))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("Exchange hashpartitioning") == 1

    def test_stream_matches_batch(self, spark, run_stream):
        """Streaming record-drawdown alerts over a random micro-batch
        split == batch row-for-row (case "drawdown" of
        test_stream_fold)."""
        from test_stream_fold import check_fold_twin

        check_fold_twin(spark, run_stream, "drawdown", split_seed=0)

    def test_stream_keeps_later_tie_at_last_ts(self, spark, run_stream):
        """A row in a later micro-batch at the key's last ts with a
        later tie is folded in, as in batch: dropping it would lose
        the record it sets."""
        from smos_spark.operators.alerting import (
            drawdown_alerts,
            drawdown_alerts_stream,
        )

        t0 = _ts(0)
        schema = "g string, ts timestamp, i long, v long"
        mb1 = spark.createDataFrame([("k", t0, 1, 100)], schema)
        mb2 = spark.createDataFrame([("k", t0, 2, 50)], schema)
        kw = dict(threshold=10, key_cols=("g",), tie_cols=("i",))
        got = run_stream(
            "dd_tie",
            lambda s: drawdown_alerts_stream(s, "v", watermark="0 seconds", **kw),
            [mb1, mb2],
        ).collect()
        want = drawdown_alerts(mb1.union(mb2), "v", **kw).collect()
        assert len(want) == 1
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))
