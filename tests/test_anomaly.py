"""Seasonal-baseline and CUSUM anomaly detectors (operators/anomaly.py).

The CUSUM tests pin the load-bearing identity: the windowed closed
form S_i = P_i − min(0, min_prefix(P_i)) must equal the textbook
sequential fold S_i = max(0, S_{i-1} + d_i) row for row — verified
against a pure-Python integer fold on seeded random data, plus a
hand-built level-shift series where the flag onset is known.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from smos_spark.operators.anomaly import (
    cusum_changepoints,
    cusum_fixed,
    cusum_stream,
    seasonal_anomaly,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ev(spark, rows):
    return spark.createDataFrame(
        [Row(event_id=i, key=k, ts=ts, value=v) for i, (k, ts, v) in enumerate(rows)]
    )


class TestSeasonalAnomaly:
    def test_flags_exact_hand_computed_bucket(self, spark):
        # one (key, dow, hour) bucket: values 1.00 ×8 and one 9.00.
        # cents x: 100×8, 900; n=9, S=1700, Q=80000+810000=890000.
        # dev(900) = 9·900−1700 = 6400; var_n3 = 9·890000−1700² = 5120000.
        # k=2/1: dev² = 40.96e6 > 4·var_n3 = 20.48e6 → flag. For
        # x=100: dev = −800, 0.64e6 ≤ 20.48e6 → no flag.
        rows = [("a", T0 + dt.timedelta(minutes=m), 1.0) for m in range(8)]
        rows.append(("a", T0 + dt.timedelta(minutes=8), 9.0))
        out = seasonal_anomaly(
            _ev(spark, rows), "value", ["key"], ["event_id"], k_num=2, k_den=1
        ).collect()
        assert len(out) == 1
        r = out[0]
        assert (r.value_cents, r.n, r.dev_n) == (900, 9, 6400)

    def test_constant_bucket_never_flags(self, spark):
        rows = [("a", T0 + dt.timedelta(minutes=m), 5.0) for m in range(10)]
        out = seasonal_anomaly(
            _ev(spark, rows), "value", ["key"], ["event_id"], k_num=1, k_den=100
        )
        assert out.count() == 0

    def test_min_count_gate(self, spark):
        # 3-row bucket with an extreme outlier: suppressed by min_count=4
        rows = [
            ("a", T0, 1.0),
            ("a", T0 + dt.timedelta(minutes=1), 1.0),
            ("a", T0 + dt.timedelta(minutes=2), 99.0),
        ]
        df = _ev(spark, rows)
        assert (
            seasonal_anomaly(
                df, "value", ["key"], ["event_id"], k_num=1, k_den=1, min_count=4
            ).count()
            == 0
        )
        assert (
            seasonal_anomaly(
                df, "value", ["key"], ["event_id"], k_num=1, k_den=1, min_count=2
            ).count()
            > 0
        )

    def test_buckets_split_by_hour_and_group(self, spark):
        # same value pattern in two hours: each hour is its own
        # baseline, so the cross-hour "outlier" does not flag
        rows = [("a", T0 + dt.timedelta(minutes=m), 1.0) for m in range(5)]
        rows += [("a", T0 + dt.timedelta(hours=1, minutes=m), 9.0) for m in range(5)]
        out = seasonal_anomaly(
            _ev(spark, rows), "value", ["key"], ["event_id"], k_num=1, k_den=1
        )
        assert out.count() == 0

    def test_rejects_bad_params(self, spark):
        df = _ev(spark, [("a", T0, 1.0)])
        with pytest.raises(ValueError):
            seasonal_anomaly(df, "value", ["key"], ["event_id"], k_num=0)
        with pytest.raises(ValueError):
            seasonal_anomaly(df, "value", ["key"], ["event_id"], min_count=0)


def _fold_reference(values_cents, slack_cents, h_cents):
    """Textbook integer CUSUM fold, n-scaled like the operator."""
    n, s = len(values_cents), sum(values_cents)
    out, cur = [], 0
    for x in values_cents:
        cur = max(0, cur + (n * x - s - n * slack_cents))
        out.append(cur)
    return [
        (i, c) for i, c in enumerate(out) if c > n * h_cents
    ]


class TestCusumChangepoints:
    def test_level_shift_flags_after_onset(self, spark):
        # 20 samples at 10.0 then 20 at 30.0: mean 20, so the shifted
        # half accumulates; with slack 5.00 the statistic exceeds
        # h=10.00 only inside the shifted segment
        vals = [10.0] * 20 + [30.0] * 20
        rows = [("a", T0 + dt.timedelta(minutes=i), v) for i, v in enumerate(vals)]
        out = cusum_changepoints(
            _ev(spark, rows),
            "value",
            ["key"],
            tie_cols=["event_id"],
            slack_cents=500,
            h_cents=1000,
        ).collect()
        got = sorted(r.event_id for r in out)
        expect = [i for i, _ in _fold_reference(
            [1000] * 20 + [3000] * 20, 500, 1000)]
        assert got == expect
        assert got and min(got) >= 20  # flags only after the shift

    def test_closed_form_equals_sequential_fold(self, spark):
        # seeded random integers: windowed closed form == textbook fold.
        # reference cents go through the SAME double round-trip as the
        # operator (floor((v/100)·100) can drop a cent: 12.34·100 =
        # 1233.99…), so both sides quantize identically.
        import math
        import random

        rng = random.Random(7)
        for key_count in (1, 3):
            rows, expect = [], {}
            for k in range(key_count):
                vals = [rng.randint(0, 4000) for _ in range(200)]
                cents = [math.floor((v / 100.0) * 100) for v in vals]
                expect[f"k{k}"] = _fold_reference(cents, 300, 2000)
                rows += [
                    (f"k{k}", T0 + dt.timedelta(seconds=i), v / 100.0)
                    for i, v in enumerate(vals)
                ]
            out = cusum_changepoints(
                _ev(spark, rows),
                "value",
                ["key"],
                tie_cols=["event_id"],
                slack_cents=300,
                h_cents=2000,
            ).collect()
            got = {}
            base = {f"k{k}": 200 * k for k in range(key_count)}
            for r in out:
                got.setdefault(r.key, []).append(
                    (r.event_id - base[r.key], r.cusum_n)
                )
            for k, exp in expect.items():
                assert sorted(got.get(k, [])) == exp, k

    def test_no_flags_on_stationary_series_with_slack(self, spark):
        vals = [10.0, 10.5] * 50
        rows = [("a", T0 + dt.timedelta(minutes=i), v) for i, v in enumerate(vals)]
        out = cusum_changepoints(
            _ev(spark, rows),
            "value",
            ["key"],
            tie_cols=["event_id"],
            slack_cents=100,
            h_cents=500,
        )
        assert out.count() == 0

    def test_single_exchange_plan(self, spark):
        rows = [("a", T0 + dt.timedelta(minutes=i), float(i)) for i in range(5)]
        out = cusum_changepoints(
            _ev(spark, rows), "value", ["key"], tie_cols=["event_id"]
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1

    def test_rejects_bad_params(self, spark):
        df = _ev(spark, [("a", T0, 1.0)])
        with pytest.raises(ValueError):
            cusum_changepoints(df, "value", ["key"], h_cents=0)
        with pytest.raises(ValueError):
            cusum_changepoints(df, "value", ["key"], slack_cents=-1)


def _fixed_fold_reference(values_cents, target_cents, slack_cents, h_cents, s0=0):
    """Textbook fixed-target integer CUSUM fold."""
    out, cur = [], s0
    for i, x in enumerate(values_cents):
        cur = max(0, cur + (x - target_cents - slack_cents))
        if cur > h_cents:
            out.append((i, cur))
    return out


class TestCusumFixed:
    def test_matches_sequential_fold(self, spark):
        import math
        import random

        rng = random.Random(11)
        rows, expect = [], {}
        for k in range(3):
            vals = [rng.randint(0, 4000) for _ in range(200)]
            cents = [math.floor((v / 100.0) * 100) for v in vals]
            expect[f"k{k}"] = _fixed_fold_reference(cents, 1800, 300, 5000)
            rows += [
                (f"k{k}", T0 + dt.timedelta(seconds=i), v / 100.0)
                for i, v in enumerate(vals)
            ]
        out = cusum_fixed(
            _ev(spark, rows),
            "value",
            ["key"],
            target_cents=1800,
            tie_cols=["event_id"],
            slack_cents=300,
            h_cents=5000,
        ).collect()
        got, base = {}, {f"k{k}": 200 * k for k in range(3)}
        for r in out:
            got.setdefault(r.key, []).append(
                (r.event_id - base[r.key], r.cusum_cents)
            )
        for k, exp in expect.items():
            assert sorted(got.get(k, [])) == exp, k

    def test_single_exchange_plan(self, spark):
        rows = [("a", T0 + dt.timedelta(minutes=i), float(i)) for i in range(5)]
        out = cusum_fixed(
            _ev(spark, rows), "value", ["key"], target_cents=100,
            tie_cols=["event_id"],
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1

    def test_rejects_bad_params(self, spark):
        df = _ev(spark, [("a", T0, 1.0)])
        with pytest.raises(ValueError):
            cusum_fixed(df, "value", ["key"], target_cents=100, h_cents=0)
        with pytest.raises(ValueError):
            cusum_fixed(
                df, "value", ["key"], target_cents=100, slack_cents=-1
            )


class TestCusumStream:
    def test_cusum_stream_matches_batch(self, spark, run_stream):
        """Streaming fixed-target CUSUM over a random micro-batch split
        must equal the batch operator row-for-row: the 16-byte state
        per key is exactly the batch fold's carry (case "cusum" of
        test_stream_fold)."""
        from test_stream_fold import check_fold_twin

        check_fold_twin(spark, run_stream, "cusum", split_seed=0)

    def test_rejects_bad_params(self, spark):
        df = _ev(spark, [("a", T0, 1.0)])
        with pytest.raises(ValueError):
            cusum_stream(df, "value", ["key"], target_cents=100, h_cents=0)


class TestSeasonalProfileAndStream:
    def test_frozen_self_profile_equals_default(self, spark):
        """Scoring against an explicitly-built profile of the SAME
        window must equal the self-profile path bit-for-bit."""
        import random

        from smos_spark.operators.anomaly import seasonal_profile

        rng = random.Random(3)
        rows = [
            (f"k{i % 3}", T0 + dt.timedelta(minutes=2 * i), rng.uniform(0, 50))
            for i in range(400)
        ]
        rows.append(("k0", T0 + dt.timedelta(minutes=1), 500.0))
        df = _ev(spark, rows)
        prof = seasonal_profile(df, "value", ["key"])
        got = seasonal_anomaly(
            df, "value", ["key"], ["event_id"], k_num=3, k_den=2, profile=prof
        )
        exp = seasonal_anomaly(df, "value", ["key"], ["event_id"], k_num=3, k_den=2)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, exp.collect())
        )
        assert exp.count() > 0

    def test_frozen_profile_lags_scoring_window(self, spark):
        """Production shape: baseline from week 1, scored rows from
        week 2. A week-2 value normal for week 2 but far from the
        week-1 baseline DOES flag — and a bucket absent from the
        frozen profile is dropped by the inner join."""
        from smos_spark.operators.anomaly import seasonal_profile

        week1 = [("a", T0 + dt.timedelta(minutes=m), 1.0) for m in range(8)]
        week1.append(("a", T0 + dt.timedelta(minutes=8), 1.04))
        df1 = _ev(spark, week1)
        prof = seasonal_profile(df1, "value", ["key"])
        # same dow+hour one week later; 9.0 is wild vs the 1.0x baseline
        week2 = [
            ("a", T0 + dt.timedelta(days=7, minutes=m), 9.0) for m in range(3)
        ]
        # plus a bucket (hour+3) the profile never saw
        week2 += [("a", T0 + dt.timedelta(days=7, hours=3), 1.0)]
        out = seasonal_anomaly(
            _ev(spark, week2), "value", ["key"], ["event_id"],
            k_num=2, k_den=1, profile=prof,
        ).collect()
        assert len(out) == 3  # the unseen-bucket row is dropped, not scored
        assert all(r.value_cents == 900 for r in out)

    def test_seasonal_stream_matches_batch(self, spark, run_stream):
        """Stream-static scoring against a frozen profile must equal
        batch scoring of the same rows against the same profile."""
        import pandas as pd

        from smos_spark.operators.anomaly import (
            seasonal_anomaly_stream,
            seasonal_profile,
        )
        from smos_spark.synth import synth_transcripts

        turns = (
            synth_transcripts(spark, n_conv=40, seed=23)
            .where(F.col("ts").isNotNull())
            .select(
                "conv_id", "role", "ts", "turn_idx",
                F.length("text").cast("double").alias("value"),
            )
            .where(F.col("value").isNotNull())
            .cache()
        )
        prof = seasonal_profile(turns, "value", ["role"]).cache()
        prof.count()
        cut = turns.selectExpr("percentile_approx(ts, 0.5) as c").collect()[0][0]
        key = ["role", "conv_id", "turn_idx"]
        got = (
            run_stream(
                "seasonal_stream_t",
                lambda s: seasonal_anomaly_stream(
                    s, prof, "value", ["role"], ["conv_id", "turn_idx"],
                    k_num=3, k_den=2,
                ),
                [
                    turns.where(F.col("ts") <= F.lit(cut)),
                    turns.where(F.col("ts") > F.lit(cut)),
                ],
            )
            .toPandas()
            .sort_values(key)
            .reset_index(drop=True)
        )
        exp = (
            seasonal_anomaly(
                turns, "value", ["role"], ["conv_id", "turn_idx"],
                k_num=3, k_den=2, profile=prof,
            )
            .toPandas()
            .sort_values(key)
            .reset_index(drop=True)
        )
        assert len(got) == len(exp) and len(got) > 0
        pd.testing.assert_frame_equal(got[exp.columns], exp)


class TestTrendSlope:
    def test_hand_computed_slope(self, spark):
        from smos_spark.operators.anomaly import trend_slope

        # x (hours since 2024-01-01) = 0,1,2; y = 100,200,300 cents.
        # n=3 Σx=3 Σy=600 Σxy=800 Σx²=5 → num=3·800−3·600=600,
        # den=3·5−3²=6: slope = 100 cents/hour exactly.
        rows = [("a", T0 + dt.timedelta(hours=h), 1.0 + h) for h in range(3)]
        out = trend_slope(
            _ev(spark, rows), "value", ["key"], epoch="2024-01-01"
        ).collect()
        assert len(out) == 1
        r = out[0]
        assert (r.n, r.slope_num, r.slope_den) == (3, 600, 6)

    def test_zero_denominator_single_bucket(self, spark):
        from smos_spark.operators.anomaly import trend_slope

        rows = [
            ("a", T0 + dt.timedelta(minutes=m), float(m)) for m in range(5)
        ]  # all inside hour bucket 0
        out = trend_slope(
            _ev(spark, rows), "value", ["key"], epoch="2024-01-01"
        ).collect()
        assert len(out) == 1 and out[0].slope_den == 0

    def test_trend_moments_merge(self, spark):
        """Window partials add: merging two halves' moments yields the
        same num/den as the direct full-window slope — the tier
        daily→range assembly contract."""
        import random

        from smos_spark.operators.anomaly import trend_slope

        rng = random.Random(5)
        rows = [
            (f"k{i % 4}", T0 + dt.timedelta(minutes=31 * i), rng.uniform(-20, 90))
            for i in range(600)
        ]
        df = _ev(spark, rows)
        cut = T0 + dt.timedelta(minutes=31 * 300)
        halves = [
            trend_slope(
                df.where(F.col("ts") < F.lit(cut)), "value", ["key"],
                epoch="2024-01-01", keep_moments=True,
            ),
            trend_slope(
                df.where(F.col("ts") >= F.lit(cut)), "value", ["key"],
                epoch="2024-01-01", keep_moments=True,
            ),
        ]
        merged = (
            halves[0].unionByName(halves[1])
            .groupBy("key")
            .agg(
                F.sum("n").alias("n"),
                F.sum("sum_x").alias("sx"),
                F.sum("sum_y").alias("sy"),
                F.sum("sum_xy").alias("sxy"),
                F.sum("sum_xx").alias("sxx"),
            )
            .select(
                "key",
                F.col("n"),
                (F.col("n").cast("decimal(38,0)") * F.col("sxy")
                 - F.col("sx") * F.col("sy")).cast("long").alias("slope_num"),
                (F.col("n").cast("decimal(38,0)") * F.col("sxx")
                 - F.col("sx") * F.col("sx")).cast("long").alias("slope_den"),
            )
        )
        direct = trend_slope(df, "value", ["key"], epoch="2024-01-01")
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, direct.collect())
        )

    def test_single_exchange_plan(self, spark):
        from smos_spark.operators.anomaly import trend_slope

        rows = [("a", T0 + dt.timedelta(hours=i), float(i)) for i in range(5)]
        out = trend_slope(_ev(spark, rows), "value", ["key"])
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1

    def test_rejects_bad_params(self, spark):
        from smos_spark.operators.anomaly import trend_slope

        df = _ev(spark, [("a", T0, 1.0)])
        with pytest.raises(ValueError):
            trend_slope(df, "value", ["key"], min_count=1)
        with pytest.raises(ValueError):
            trend_slope(df, "value", ["key"], x_unit_s=0)
        with pytest.raises(ValueError):
            trend_slope(df, "value", ["key"], cents=0)


class TestTheilSen:
    _SCHEMA = "user_id string, ts timestamp, value double"
    _T0 = dt.datetime(2024, 1, 1)

    def _m(self, minute: int) -> dt.datetime:
        return self._T0 + dt.timedelta(minutes=minute)

    def test_outlier_robust_golden(self, spark):
        from smos_spark.operators.anomaly import theil_sen_slope, trend_slope

        # clean 100 cents/min trend + one wild outlier at minute 10
        rows = [
            ("u", self._m(0), 1.00),
            ("u", self._m(1), 2.00),
            ("u", self._m(2), 3.00),
            ("u", self._m(10), 50.00),
        ]
        df = spark.createDataFrame(rows, self._SCHEMA)
        [r] = theil_sen_slope(
            df, "value", ["user_id"], epoch="2024-01-01", x_unit_s=60
        ).collect()
        # 6 pairwise slopes sorted: 100,100,100,490,533.3,587.5 —
        # lower median (position 3) is the (200, 2) pair under the
        # (slope, num, den) tiebreak
        assert r["n_pairs"] == 6
        assert r["slope_num"] * 1 == 200 and r["slope_den"] == 2
        assert r["slope_num"] / r["slope_den"] == 100.0
        # the OLS fit is dragged far above the robust one by the outlier
        [o] = trend_slope(
            df, "value", ["user_id"], epoch="2024-01-01", x_unit_s=60
        ).collect()
        assert o["slope_num"] / o["slope_den"] > 300

    def test_same_bucket_pairs_dropped(self, spark):
        from smos_spark.operators.anomaly import theil_sen_slope

        rows = [  # both samples in minute 0: no pair with distinct x
            ("u", self._T0, 1.00),
            ("u", self._T0 + dt.timedelta(seconds=30), 9.00),
        ]
        out = theil_sen_slope(
            spark.createDataFrame(rows, self._SCHEMA),
            "value", ["user_id"], epoch="2024-01-01", x_unit_s=60,
        ).collect()
        assert out == []

    def test_odd_pair_count_is_exact_element(self, spark):
        from smos_spark.operators.anomaly import theil_sen_slope

        rows = [  # 3 points -> 3 pairs; median slope is an element
            ("u", self._m(0), 0.00),
            ("u", self._m(1), 1.00),   # slope 100
            ("u", self._m(3), 9.00),   # slopes: (0,3)=300, (1,3)=400
        ]
        [r] = theil_sen_slope(
            spark.createDataFrame(rows, self._SCHEMA),
            "value", ["user_id"], epoch="2024-01-01", x_unit_s=60,
        ).collect()
        assert r["n_pairs"] == 3
        assert (r["slope_num"], r["slope_den"]) == (900, 3)

    def test_rejects_bad_params(self, spark):
        from smos_spark.operators.anomaly import theil_sen_slope

        df = spark.createDataFrame([], self._SCHEMA)
        with pytest.raises(ValueError):
            theil_sen_slope(df, "value", ["user_id"], cents=0)
        with pytest.raises(ValueError):
            theil_sen_slope(df, "value", ["user_id"], x_unit_s=0)


# ------------------------------------------------------------ mann-kendall
def test_mann_kendall_matches_bruteforce(spark):
    import itertools

    import numpy as np

    from smos_spark.operators.anomaly import mann_kendall

    rng = np.random.default_rng(17)
    rows = []
    series = {}
    for g in ("up", "down", "flat", "noisy"):
        ts0 = 1_700_000_000
        n = 40
        if g == "up":
            ys = np.arange(n) * 1.5 + rng.integers(0, 2, n)
        elif g == "down":
            ys = -np.arange(n) * 2.0
        elif g == "flat":
            ys = np.full(n, 7.0)
        else:
            ys = rng.normal(0, 100, n)
        xs = np.arange(n) * 60  # one per minute bucket (x_unit_s=60)
        series[g] = (xs // 60, np.floor(ys * 100).astype(int))
        rows += [
            (g, float(ys[i]), ts0 + int(xs[i])) for i in range(n)
        ]
    df = spark.createDataFrame(rows, "g string, v double, epoch long").select(
        "g", "v", F.timestamp_seconds("epoch").alias("ts")
    )
    out = {
        r["g"]: r
        for r in mann_kendall(
            df, "v", ["g"], epoch="1970-01-01", x_unit_s=60
        ).collect()
    }
    for g, (xs, ys) in series.items():
        s = n_pairs = 0
        for i, j in itertools.combinations(range(len(xs)), 2):
            if xs[i] < xs[j]:
                n_pairs += 1
                s += int(np.sign(ys[j] - ys[i]))
            elif xs[i] > xs[j]:
                n_pairs += 1
                s += int(np.sign(ys[i] - ys[j]))
        assert out[g]["s_stat"] == s, g
        assert out[g]["n_pairs"] == n_pairs, g
        assert out[g]["n_samples"] == len(xs)
        import math

        assert out[g]["tau_ppm"] == math.floor(s / n_pairs * 1e6), g
    assert out["up"]["tau_ppm"] > 900_000
    assert out["down"]["tau_ppm"] == -1_000_000
    assert out["flat"]["s_stat"] == 0


def test_mann_kendall_same_bucket_pairs_excluded(spark):
    from smos_spark.operators.anomaly import mann_kendall

    # 3 samples in ONE hour bucket → no cross-bucket pair → dropped
    df = spark.createDataFrame(
        [("g", 1.0, "2024-01-01 10:00:00"),
         ("g", 2.0, "2024-01-01 10:20:00"),
         ("g", 3.0, "2024-01-01 10:40:00")],
        "g string, v double, ts string",
    ).select("g", "v", F.col("ts").cast("timestamp").alias("ts"))
    assert mann_kendall(df, "v", ["g"], epoch="2024-01-01").count() == 0


def test_mann_kendall_partition_invariant(spark):
    import numpy as np

    from smos_spark.operators.anomaly import mann_kendall

    rng = np.random.default_rng(5)
    rows = [
        ("k%d" % (i % 3), float(rng.normal(0, 50)), 1_700_000_000 + i * 3600)
        for i in range(90)
    ]
    df = spark.createDataFrame(rows, "g string, v double, e long").select(
        "g", "v", F.timestamp_seconds("e").alias("ts")
    )
    a = mann_kendall(df, "v", ["g"]).orderBy("g").collect()
    b = mann_kendall(df.repartition(13), "v", ["g"]).orderBy("g").collect()
    assert a == b


# ----------------------------------------------------- classical decompose
def test_classical_decompose_recovers_planted_seasonality(spark):
    import numpy as np

    from smos_spark.operators.anomaly import classical_decompose

    # planted series: exact linear trend + ZERO-MEAN period-24
    # seasonal (±500 alternating), one event per hour for 10 days —
    # the 2×24 CMA's window covers each phase with total weight
    # exactly once, so a zero-mean pattern vanishes from the trend
    # EXACTLY and the decomposition is bit-recoverable
    n = 240
    seas = [500 if h % 2 == 0 else -500 for h in range(n)]
    rows = [
        ("g", float(1000 + 10 * h + seas[h]), 1_700_000_000 - 1_700_000_000 % 3600 + h * 3600)
        for h in range(n)
    ]
    df = spark.createDataFrame(rows, "g string, v double, e long").select(
        "g", "v", F.timestamp_seconds("e").alias("ts")
    )
    out = (
        classical_decompose(df, "v", ["g"], cents=1)
        .orderBy("bucket_start")
        .collect()
    )
    # inner span only: n - 2*12 rows
    assert len(out) == n - 24
    for i, r in enumerate(out):
        h = i + 12  # grid position of this inner row
        assert r["y_cents"] == 1000 + 10 * h + seas[h]
        # CMA of the linear part is exact; the seasonal part cancels
        assert r["trend_x2p"] == 48 * (1000 + 10 * h)
        assert r["detr_x2p"] == 48 * seas[h]
        assert r["detr_x2p"] == 48 * r["y_cents"] - r["trend_x2p"]
        # phase mean of the recovered seasonal is the planted index
        assert r["seas_num"] == 48 * seas[h] * r["seas_den"]


def test_classical_decompose_gapless_grid_zero_fill(spark):
    from smos_spark.operators.anomaly import classical_decompose

    # two events 30 hours apart: grid densifies the gap with zeros, so
    # the inner span emits 31-24 = 7 rows
    df = spark.createDataFrame(
        [("g", 1.0, "2024-01-01 00:30:00"), ("g", 2.0, "2024-01-02 06:30:00")],
        "g string, v double, ts string",
    ).select("g", "v", F.col("ts").cast("timestamp").alias("ts"))
    out = classical_decompose(df, "v", ["g"]).collect()
    assert len(out) == 31 - 24
    # all-zero interior rows decompose to zero trend and detrended
    assert all(r["y_cents"] == 0 for r in out)


def test_classical_decompose_validates_period(spark):
    import pytest

    from smos_spark.operators.anomaly import classical_decompose

    df = spark.createDataFrame([("g", 1.0, "2024-01-01")], "g string, v double, ts string")
    with pytest.raises(ValueError):
        classical_decompose(df, "v", ["g"], period=7)  # odd


def test_seasonal_adjust_planted_remainder_zero(spark):
    from smos_spark.operators.anomaly import seasonal_adjust

    n = 240
    seas = [500 if h % 2 == 0 else -500 for h in range(n)]
    rows = [
        ("g", float(1000 + 10 * h + seas[h]),
         1_700_000_000 - 1_700_000_000 % 3600 + h * 3600)
        for h in range(n)
    ]
    df = spark.createDataFrame(rows, "g string, v double, e long").select(
        "g", "v", F.timestamp_seconds("e").alias("ts")
    )
    out = seasonal_adjust(df, "v", ["g"], cents=1).collect()
    assert len(out) == n - 24
    # planted trend+seasonal decompose exactly → remainder exactly 0
    assert all(r["rem_num"] == 0 for r in out)
    # 216 inner rows / 24 phases = 9 buckets per phase → den = 48·9
    assert all(r["rem_den"] == 48 * 9 for r in out)


def test_seasonal_adjust_identity_vs_decompose(spark):
    import numpy as np

    from smos_spark.operators.anomaly import classical_decompose, seasonal_adjust

    rng = np.random.default_rng(9)
    rows = [
        ("g", float(rng.integers(0, 1000)), 1_700_000_000 + h * 1800)
        for h in range(300)
    ]
    df = spark.createDataFrame(rows, "g string, v double, e long").select(
        "g", "v", F.timestamp_seconds("e").alias("ts")
    )
    dec = {
        r["bucket_start"]: r
        for r in classical_decompose(df, "v", ["g"]).collect()
    }
    adj = seasonal_adjust(df, "v", ["g"]).collect()
    assert len(adj) == len(dec)
    for r in adj:
        d = dec[r["bucket_start"]]
        assert r["rem_num"] == d["detr_x2p"] * d["seas_den"] - d["seas_num"]
        assert r["rem_den"] == 48 * d["seas_den"]
        assert r["trend_x2p"] == d["trend_x2p"]
