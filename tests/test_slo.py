"""SLO burn-rate alerts (operators/slo.py).

Pins the multiwindow policy on hand-computed counters: exact flag
decisions at the threshold boundary (strict > — a burn rate exactly
equal to the threshold must NOT fire), the floor-ppm display columns,
and the sparse-series contract that the long window is a RANGE frame
over the integer bucket index (a traffic gap shortens the long sum —
a rows-based frame would silently stretch it across the gap).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row

from smos_spark.operators.slo import slo_burn_rate

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)
B0 = int(T0.replace(tzinfo=dt.timezone.utc).timestamp()) // 3600


def _ev(spark, rows):
    """rows: (key, hour_offset, n_ok, n_err) -> one event per unit."""
    out = []
    for key, hour, n_ok, n_err in rows:
        base = T0 + dt.timedelta(hours=hour)
        for i in range(n_ok):
            out.append(Row(key=key, ts=base + dt.timedelta(seconds=i), is_err=False))
        for i in range(n_err):
            out.append(
                Row(key=key, ts=base + dt.timedelta(seconds=600 + i), is_err=True)
            )
    return spark.createDataFrame(out)


class TestBurnRate:
    def _run(self, spark, rows, **kw):
        kw.setdefault("short_sec", 3600)
        kw.setdefault("long_buckets", 3)
        kw.setdefault("budget_ppm", 500_000)
        kw.setdefault("fast_num", 1)
        kw.setdefault("fast_den", 1)
        kw.setdefault("slow_num", 1)
        kw.setdefault("slow_den", 1)
        out = slo_burn_rate(_ev(spark, rows), "is_err", **kw)
        return {r.bucket - B0: r for r in out.collect()}

    def test_hand_computed_flags_and_ppm(self, spark):
        # budget 50%: burn = 2·err/tot, threshold 1/1 for both windows.
        # h0: 1/4 err -> burn 0.5 (no); h1: 3/4 -> 1.5 (fast yes);
        # h2-h3 silent; h4: 2/2 -> 2.0 (fast yes).
        by = self._run(
            spark, [("a", 0, 3, 1), ("a", 1, 1, 3), ("a", 4, 0, 2)]
        )
        assert set(by) == {0, 1, 4}
        r0, r1, r4 = by[0], by[1], by[4]
        assert (r0.total, r0.errors, r0.fast_exceeded) == (4, 1, 0)
        assert r0.burn_fast_ppm == 500_000  # floor(0.5e6) exactly
        assert (r1.fast_exceeded, r1.burn_fast_ppm) == (1, 1_500_000)
        assert (r4.total, r4.errors, r4.fast_exceeded) == (2, 2, 1)

    def test_boundary_burn_equal_threshold_does_not_fire(self, spark):
        # long window at h1 spans h0..h1: 4/8 err -> burn exactly 1.0;
        # strict > means slow_exceeded = 0 and therefore alert = 0
        # even though fast fired.
        by = self._run(spark, [("a", 0, 3, 1), ("a", 1, 1, 3)])
        r1 = by[1]
        assert (r1.long_total, r1.long_errors) == (8, 4)
        assert r1.burn_slow_ppm == 1_000_000
        assert (r1.fast_exceeded, r1.slow_exceeded, r1.alert) == (1, 0, 0)

    def test_gap_shortens_long_window_range_frame(self, spark):
        # h4 is 3 buckets after h1, so the 3-bucket RANGE frame [2,4]
        # holds ONLY h4 -> slow fires from h4's own counters. A
        # rows-between frame would have pulled h0/h1 in and diluted it.
        by = self._run(
            spark, [("a", 0, 3, 1), ("a", 1, 1, 3), ("a", 4, 0, 2)]
        )
        r4 = by[4]
        assert (r4.long_total, r4.long_errors) == (2, 2)
        assert (r4.slow_exceeded, r4.alert) == (1, 1)

    def test_keys_are_independent(self, spark):
        # b's clean traffic in h1 must not dilute a's long window.
        out = slo_burn_rate(
            _ev(spark, [("a", 0, 0, 4), ("b", 0, 4, 0), ("b", 1, 4, 0)]),
            "is_err",
            key_cols=("key",),
            short_sec=3600,
            long_buckets=3,
            budget_ppm=500_000,
            fast_num=1,
            fast_den=1,
            slow_num=1,
            slow_den=1,
        ).collect()
        rows = {(r.key, r.bucket - B0): r for r in out}
        assert len(rows) == 3
        assert rows[("a", 0)].alert == 1
        assert rows[("b", 0)].alert == 0 and rows[("b", 1)].alert == 0
        assert rows[("b", 1)].long_total == 8

    def test_validation(self, spark):
        df = _ev(spark, [("a", 0, 1, 1)])
        with pytest.raises(ValueError, match="budget_ppm"):
            slo_burn_rate(df, "is_err", budget_ppm=0)
        with pytest.raises(ValueError, match="budget_ppm"):
            slo_burn_rate(df, "is_err", budget_ppm=2_000_000)
        with pytest.raises(ValueError, match="long_buckets"):
            slo_burn_rate(df, "is_err", long_buckets=0)
        with pytest.raises(ValueError, match="positive"):
            slo_burn_rate(df, "is_err", fast_num=0)


class TestErrorBudget:
    def test_hand_computed_margin_and_reset(self, spark):
        from smos_spark.operators.slo import error_budget

        rows = [
            ("a", 0, 3, 1),   # cum 4/1: margin 4·5e5−1e6 = +1e6
            ("a", 1, 1, 3),   # cum 8/4: margin exactly 0 -> NOT exhausted
            ("a", 2, 0, 2),   # cum 10/6: margin −1e6 -> exhausted
            # next calendar month: cumulative state resets
            ("a", 31 * 24, 1, 0),
        ]
        out = sorted(
            error_budget(
                _ev(spark, rows), "is_err", key_cols=("key",),
                short_sec=3600, budget_ppm=500_000,
            ).collect(),
            key=lambda r: r.bucket,
        )
        m1, m2 = out[:3], out[3]
        assert [r.cum_total for r in m1] == [4, 8, 10]
        assert [r.budget_margin for r in m1] == [1_000_000, 0, -1_000_000]
        assert [r.exhausted for r in m1] == [0, 0, 1]
        assert m1[0].burn_mtd_ppm == 500_000 and m1[1].burn_mtd_ppm == 1_000_000
        assert (m2.cum_total, m2.cum_errors, m2.exhausted) == (1, 0, 0)
        with pytest.raises(ValueError, match="budget_ppm"):
            error_budget(_ev(spark, rows), "is_err", budget_ppm=0)


KW = dict(
    short_sec=3600,
    long_buckets=3,
    budget_ppm=500_000,
    fast_num=1,
    fast_den=1,
    slow_num=1,
    slow_den=1,
)


class TestSloStream:
    def test_stream_matches_batch_minus_open_buckets(self, spark, run_stream):
        """Streaming emits a bucket once a later one appears; output ==
        batch rows minus each key's final (open) bucket, values
        row-for-row identical."""
        import pandas as pd
        from pyspark.sql import functions as F

        from smos_spark.operators.slo import slo_stream

        rows = [
            ("a", 0, 3, 1), ("a", 1, 1, 3), ("a", 4, 0, 2), ("a", 5, 5, 1),
            ("b", 0, 4, 0), ("b", 2, 1, 7), ("b", 3, 2, 2),
        ]
        df = _ev(spark, rows).cache()
        # three time-ordered micro-batches split at hour boundaries
        chunks = [
            df.where(
                (df.ts >= T0 + dt.timedelta(hours=lo))
                & (df.ts < T0 + dt.timedelta(hours=hi))
            )
            for lo, hi in ((0, 2), (2, 4), (4, 24))
        ]
        got = (
            run_stream(
                "slo_stream_t",
                lambda s: slo_stream(
                    s, "is_err", key_cols=("key",), watermark="0 seconds", **KW
                ),
                chunks,
            )
            .toPandas()
            .sort_values(["key", "bucket"])
            .reset_index(drop=True)
        )
        batch = slo_burn_rate(df, "is_err", key_cols=("key",), **KW)
        w_max = batch.groupBy("key").agg(F.max("bucket").alias("mx"))
        exp = (
            batch.join(w_max, "key")
            .where(F.col("bucket") < F.col("mx"))
            .drop("mx")
            .toPandas()
            .sort_values(["key", "bucket"])
            .reset_index(drop=True)
        )
        assert len(got) == len(exp) and len(got) > 0
        pd.testing.assert_frame_equal(got[exp.columns], exp)

    def test_stream_drops_late_rows_for_published_buckets(self, spark, run_stream):
        """A row for an already-emitted bucket arriving in a later
        micro-batch is dropped, never amending a published alert."""
        from smos_spark.operators.slo import slo_stream

        early = _ev(spark, [("a", 0, 1, 1), ("a", 1, 1, 0)])
        late = _ev(spark, [("a", 0, 0, 5), ("a", 2, 1, 0)])
        out = run_stream(
            "slo_stream_late",
            lambda s: slo_stream(
                s, "is_err", key_cols=("key",), watermark="0 seconds", **KW
            ),
            [early, late],
        )
        rows = {r.bucket: r for r in out.collect()}
        # bucket 0 emitted from batch 1 with its original counters
        assert rows[min(rows)].total == 2 and rows[min(rows)].errors == 1
        # bucket 1 emitted when bucket 2 arrived; the late bucket-0
        # rows did not re-enter bucket 1's long window
        b1 = rows[min(rows) + 1]
        assert (b1.total, b1.long_total, b1.long_errors) == (1, 3, 1)


class TestApdex:
    def test_known_answer_and_exactness(self, spark):
        import datetime as dt

        from smos_spark.operators.slo import apdex

        t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
        # T = 1s: sat ≤ 1e6, tol ≤ 4e6, fru > 4e6
        lats = [500_000, 1_000_000, 1_500_000, 4_000_000, 4_000_001, 9_999_999]
        df = spark.createDataFrame(
            [("svc", t0, int(v)) for v in lats],
            "g string, ts timestamp, lat long",
        )
        r = apdex(df, "lat", t_us=1_000_000, group_cols=["g"]).collect()[0]
        assert (r["satisfied"], r["tolerating"], r["frustrated"]) == (2, 2, 2)
        assert r["apdex_x2n"] == 6 and r["n"] == 6
        assert r["apdex_ppm"] == 500_000
        assert r["bucket_start"] == t0

    def test_lifetime_mode_and_validation(self, spark):
        import pytest as _pt

        from smos_spark.operators.slo import apdex

        df = spark.createDataFrame(
            [("a", 100), ("a", 100), (None, None)], "g string, lat long"
        )
        out = apdex(df, "lat", t_us=200, group_cols=["g"], bucket_sec=None)
        r = [x for x in out.collect() if x["g"] == "a"][0]
        assert r["apdex_ppm"] == 1_000_000 and "bucket_start" not in out.columns
        with _pt.raises(ValueError):
            apdex(df, "lat", t_us=0)
        with _pt.raises(ValueError):
            apdex(df, "lat", t_us=10, bucket_sec=0)

    def test_partition_invariant(self, spark):
        import datetime as dt

        import numpy as np

        from smos_spark.operators.slo import apdex

        rng = np.random.default_rng(51)
        t0 = dt.datetime(2024, 1, 1)
        rows = [
            ("s%d" % (i % 3), t0 + dt.timedelta(seconds=int(i * 97)),
             int(rng.integers(0, 10_000_000)))
            for i in range(300)
        ]
        df = spark.createDataFrame(rows, "g string, ts timestamp, lat long")
        a = apdex(df, "lat", t_us=1_000_000, group_cols=["g"]).orderBy(
            "g", "bucket_start").collect()
        b = apdex(df.repartition(13), "lat", t_us=1_000_000,
                  group_cols=["g"]).orderBy("g", "bucket_start").collect()
        assert a == b and len(a) > 3
