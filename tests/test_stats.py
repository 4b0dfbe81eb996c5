"""Exact-arithmetic statistical aggregates: value checks vs numpy and
partition-invariance (the bit-determinism the exact DuckDB oracles rely
on — see operators/stats.py module docstring)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from smos_spark.operators.stats import grouped_pearson, histogram, hourly_profile
from smos_spark.operators.text import distinctive_terms


@pytest.fixture(scope="module")
def pairs(spark):
    rows = []
    rng = np.random.default_rng(7)
    for g in ("a", "b", "c"):
        xs = rng.integers(0, 1000, 200)
        noise = rng.integers(-200, 200, 200)
        ys = {"a": xs + noise, "b": -2 * xs + noise, "c": noise * 0}[g]
        rows += [(g, int(x), int(y)) for x, y in zip(xs, ys)]
    rows.append(("d", 5, 9))  # n=1 group → NULL corr
    return spark.createDataFrame(rows, "g string, x long, y long").cache()


def test_pearson_matches_numpy(spark, pairs):
    out = {r["g"]: r for r in grouped_pearson(pairs, "x", "y", ["g"]).collect()}
    pdf = pairs.toPandas()
    for g in ("a", "b"):
        sub = pdf[pdf.g == g]
        expect = np.corrcoef(sub.x, sub.y)[0, 1]
        got = out[g]["corr_ppm"] / 1e6
        assert math.isclose(got, expect, abs_tol=2e-6), (g, got, expect)
        assert out[g]["n_pairs"] == len(sub)
    assert out["c"]["corr_ppm"] is None  # constant y → undefined
    assert out["d"]["corr_ppm"] is None  # n < 2 → undefined


def test_pearson_partition_invariant(spark, pairs):
    a = grouped_pearson(pairs, "x", "y", ["g"]).orderBy("g").collect()
    b = (
        grouped_pearson(pairs.repartition(17), "x", "y", ["g"])
        .orderBy("g")
        .collect()
    )
    assert a == b


def test_pearson_exact_beyond_int64_squares(spark):
    """|x| ≈ 4e9 makes x² overflow int64 (ARITHMETIC_OVERFLOW under
    ANSI); the decimal moments keep the result exact."""
    from fractions import Fraction

    xs = [4_000_000_000, -4_100_000_003, 3_900_000_017]
    ys = [1, 5, 2]
    df = spark.createDataFrame(
        [("g", x, y) for x, y in zip(xs, ys)], "g string, x long, y long"
    )
    got = grouped_pearson(df, "x", "y", ["g"]).collect()[0]

    n = Fraction(len(xs))
    sx, sy = Fraction(sum(xs)), Fraction(sum(ys))
    num = n * sum(Fraction(x * y) for x, y in zip(xs, ys)) - sx * sy
    d1 = n * sum(Fraction(x * x) for x in xs) - sx * sx
    d2 = n * sum(Fraction(y * y) for y in ys) - sy * sy
    corr = float(num) / math.sqrt(float(d1) * float(d2))
    assert got["n_pairs"] == 3
    assert got["corr_ppm"] == math.floor(corr * 1_000_000)
    # the exact correlation (num/√(d1·d2), rational before the root)
    # agrees to the ppm
    exact_sq = num * num / (d1 * d2)
    assert abs(got["corr_ppm"] / 1e6 - math.copysign(math.sqrt(exact_sq), num)) < 2e-6


def test_histogram_counts_and_edges(spark):
    df = spark.createDataFrame(
        [(float(v),) for v in (0, 49.9, 50, 99.9, 100, -0.1, -50)] + [(None,)],
        "v double",
    )
    out = {r["bin"]: r for r in histogram(df, "v", width=50.0).collect()}
    # floor semantics: [-0.1, -50] → bins -1/-1, [0,49.9] → 0, [50,99.9] → 1
    assert out[-1]["n"] == 2 and out[0]["n"] == 2 and out[1]["n"] == 2
    assert out[2]["n"] == 1  # 100 starts bin 2
    assert out[1]["bin_lo"] == 50.0 and out[-1]["bin_lo"] == -50.0
    assert sum(r["n"] for r in out.values()) == 7  # NULL excluded


def test_histogram_rejects_bad_width(spark):
    df = spark.range(1).withColumn("v", F.lit(1.0))
    with pytest.raises(ValueError):
        histogram(df, "v", width=0)


def test_hourly_profile_buckets(spark):
    # 1970-01-01 was a Thursday → dow 4 under 0=Sunday numbering
    df = spark.createDataFrame(
        [
            ("1970-01-01 00:30:00", 10),
            ("1970-01-01 00:45:00", 20),
            ("1970-01-04 23:59:59", 7),  # Sunday → dow 0, hour 23
        ],
        "s string, len long",
    ).select(F.to_timestamp("s").alias("ts"), "len")
    out = {(r["dow"], r["hour"]): r for r in
           hourly_profile(df, value_col="len").collect()}
    assert out[(4, 0)]["n"] == 2 and out[(4, 0)]["mean_ppm"] == 15_000_000
    assert out[(0, 23)]["n"] == 1 and out[(0, 23)]["mean_ppm"] == 7_000_000


def test_distinctive_terms_ranking(spark):
    # "rare" appears only in doc 1 (df=1); "common" in all docs (df=3)
    docs = spark.createDataFrame(
        [
            (1, "rare rare common zeta"),
            (2, "common common alpha"),
            (3, "common beta beta beta"),
        ],
        "doc_id long, text string",
    )
    out = distinctive_terms(docs, k=2).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: rare tf=2/df=1 (score 2.0) beats zeta 1/1 (1.0) beats common 1/3
    assert [r["term"] for r in by_doc[1]] == ["rare", "zeta"]
    assert by_doc[1][0]["tf"] == 2 and by_doc[1][0]["df_docs"] == 1
    # doc 3: beta 3/1 then common 1/3 vs ... beta wins, common ranks below beta
    assert by_doc[3][0]["term"] == "beta"
    assert all(len(v) == 2 for v in by_doc.values())


def test_autocorrelation_known_answers(spark):
    """Alternating series → lag-1 ACF = -1 (floor → -1_000_000);
    a linear ramp → +1; constants and short series → NULL."""
    import datetime as dt
    from smos_spark.operators.stats import autocorrelation

    def rows(key, vals):
        t0 = dt.datetime(2024, 1, 1)
        return [
            (key, t0 + dt.timedelta(seconds=i), i, v) for i, v in enumerate(vals)
        ]

    df = spark.createDataFrame(
        rows("alt", [1, -1] * 8)
        + rows("ramp", list(range(10)))
        + rows("const", [5] * 6)
        + rows("short", [3]),
        "conv_id string, ts timestamp, event_id long, vc long",
    )
    got = {
        r["conv_id"]: (r["n_pairs"], r["acf_ppm"])
        for r in autocorrelation(
            df, "vc", key_cols=["conv_id"], tie_cols=["event_id"]
        ).collect()
    }
    assert got["alt"] == (15, -1_000_000)
    assert got["ramp"] == (9, 1_000_000)
    assert got["const"][1] is None  # constant: zero variance
    assert "short" not in got       # no lagged pair at all


def test_autocorrelation_lag_k(spark):
    """Period-2 series at lag 2 is perfectly self-similar (+1) while
    lag 1 is -1 — the lag parameter must actually shift."""
    import datetime as dt
    from smos_spark.operators.stats import autocorrelation

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [("p", t0 + dt.timedelta(seconds=i), i, (1 if i % 2 == 0 else -1))
         for i in range(12)],
        "conv_id string, ts timestamp, event_id long, vc long",
    )
    a1 = autocorrelation(df, "vc", lag=1, key_cols=["conv_id"],
                         tie_cols=["event_id"]).first()
    a2 = autocorrelation(df, "vc", lag=2, key_cols=["conv_id"],
                         tie_cols=["event_id"]).first()
    assert a1["acf_ppm"] == -1_000_000 and a2["acf_ppm"] == 1_000_000
    import pytest as _pt

    with _pt.raises(ValueError):
        autocorrelation(df, "vc", lag=0)


def test_lagged_crosscorr_known_answers(spark):
    """x anticipating y by one bucket exactly (y_{t+1} = 10·x_t) gives
    ppm 10^6; anti-correlation gives -10^6; unmatched buckets drop."""
    import datetime as dt

    from smos_spark.operators.stats import lagged_crosscorr

    day = 86400
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for d, v in enumerate([1.0, 2.0, 3.0, 4.0]):
        rows.append(("u", "a", t0 + dt.timedelta(seconds=d * day), v))
    for d, v in zip(range(1, 5), [10.0, 20.0, 30.0, 40.0]):
        rows.append(("u", "b", t0 + dt.timedelta(seconds=d * day), v))
    # an extra x bucket with no matching y (day 10): must be dropped
    rows.append(("u", "a", t0 + dt.timedelta(seconds=10 * day), 7.0))
    # a second user with anti-correlated series
    for d, (xv, yv) in enumerate(zip([1.0, 2.0, 3.0], [30.0, 20.0, 10.0])):
        rows.append(("w", "a", t0 + dt.timedelta(seconds=d * day), xv))
        rows.append(("w", "b", t0 + dt.timedelta(seconds=(d + 1) * day), yv))
    df = spark.createDataFrame(
        rows, "user_id string, event_type string, ts timestamp, value double"
    )
    out = {
        r["user_id"]: (r["n_pairs"], r["xcorr_ppm"])
        for r in lagged_crosscorr(
            df, "event_type", "a", "b",
            group_cols=["user_id"], width_sec=86400.0, lag_buckets=1,
        ).collect()
    }
    assert out["u"] == (4, 1_000_000)
    assert out["w"] == (3, -1_000_000)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        lagged_crosscorr(df, "event_type", "a", "b", lag_buckets=-1)


# ---------------------------------------------------------------- spearman
def test_spearman_matches_scipy_formula(spark):
    # hand-checkable monotone + tied data per group
    rows = []
    rng = np.random.default_rng(11)
    for g in ("m", "n"):
        xs = rng.integers(0, 50, 120)  # heavy ties
        ys = xs * 3 + rng.integers(-5, 5, 120) if g == "m" else rng.integers(0, 50, 120)
        rows += [(g, int(x), int(y)) for x, y in zip(xs, ys)]
    df = spark.createDataFrame(rows, "g string, x long, y long")
    from smos_spark.operators.stats import grouped_spearman

    out = {r["g"]: r for r in grouped_spearman(df, "x", "y", ["g"]).collect()}
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["g", "x", "y"])
    for g in ("m", "n"):
        sub = pdf[pdf.g == g]
        # spearman = pearson over average ranks (no scipy in the env)
        rx = sub["x"].rank(method="average")
        ry = sub["y"].rank(method="average")
        expect = np.corrcoef(rx, ry)[0, 1]
        got = out[g]["rho_ppm"] / 1e6
        assert math.isclose(got, expect, abs_tol=2e-6), (g, got, expect)


def test_spearman_perfect_monotone_and_constant(spark):
    rows = [("a", i, i * i) for i in range(1, 30)]  # monotone, nonlinear
    rows += [("c", i, 7) for i in range(10)]  # constant y
    df = spark.createDataFrame(rows, "g string, x long, y long")
    from smos_spark.operators.stats import grouped_spearman

    out = {r["g"]: r for r in grouped_spearman(df, "x", "y", ["g"]).collect()}
    assert out["a"]["rho_ppm"] == 1_000_000 or out["a"]["rho_ppm"] == 999_999
    assert out["c"]["rho_ppm"] is None


def test_spearman_partition_invariant(spark, pairs):
    from smos_spark.operators.stats import grouped_spearman

    a = grouped_spearman(pairs, "x", "y", ["g"]).orderBy("g").collect()
    b = (
        grouped_spearman(pairs.repartition(13), "x", "y", ["g"])
        .orderBy("g")
        .collect()
    )
    assert a == b


# ------------------------------------------------------------- winsorized
def test_winsorized_matches_numpy(spark):
    from smos_spark.operators.stats import winsorized_stats

    rng = np.random.default_rng(3)
    vals = rng.integers(-500, 500, 200).tolist() + [99999, -99999]  # outliers
    df = spark.createDataFrame([("k", int(v)) for v in vals], "g string, v long")
    out = winsorized_stats(df, "v", ["g"], lo_pct=5, hi_pct=95).collect()[0]
    s = np.sort(np.array(vals))
    n = len(s)
    lo = int(s[(n - 1) * 5 // 100])
    hi = int(s[(n - 1) * 95 // 100])
    clipped = np.clip(s, lo, hi)
    assert out["n"] == n
    assert out["lo_cents"] == lo and out["hi_cents"] == hi
    assert out["winsor_sum"] == int(clipped.sum())
    assert out["winsor_mean_ppm"] == math.floor(clipped.sum() / n * 1e6)


def test_winsorized_outliers_clipped_mean_robust(spark):
    from smos_spark.operators.stats import winsorized_stats

    base = [("g", v) for v in range(100)]  # 0..99
    spiked = base + [("g", 10_000_000)]
    out = winsorized_stats(
        spark.createDataFrame(spiked, "g string, v long"), "v", ["g"]
    ).collect()[0]
    # spike clipped to p95 → mean stays near the bulk
    assert out["hi_cents"] < 200
    assert out["winsor_mean_ppm"] < 200 * 1_000_000


def test_winsorized_degenerate_single_row(spark):
    from smos_spark.operators.stats import winsorized_stats

    df = spark.createDataFrame([("g", 42)], "g string, v long")
    out = winsorized_stats(df, "v", ["g"]).collect()[0]
    assert (out["n"], out["lo_cents"], out["hi_cents"], out["winsor_sum"]) == (
        1,
        42,
        42,
        42,
    )


def test_winsorized_validates_pcts(spark):
    from smos_spark.operators.stats import winsorized_stats

    df = spark.createDataFrame([("g", 1)], "g string, v long")
    with pytest.raises(ValueError):
        winsorized_stats(df, "v", ["g"], lo_pct=60, hi_pct=40)


def test_spearman_and_winsorized_plan_single_exchange(spark, pairs):
    """Rank windows (x and y), tie-count windows, and the final
    Pearson aggregation reuse ONE Exchange on the group key; same for
    winsorized's row_number + pick windows + aggregation."""
    from smos_spark.operators.stats import grouped_spearman, winsorized_stats

    for df in (
        grouped_spearman(pairs, "x", "y", ["g"]),
        winsorized_stats(pairs, "x", ["g"]),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        n_exchange = plan.count("Exchange") - plan.count("ReusedExchange")
        assert n_exchange <= 1, plan


# ------------------------------------------------------------- drawdown
def test_max_drawdown_known_series(spark):
    import datetime as dt

    from smos_spark.operators.stats import max_drawdown

    t0 = dt.datetime(2024, 1, 1)
    vals = [100, 120, 90, 110, 60, 80, 130, 70]
    # peaks:  100 120 120 120 120 120 130 130
    # dd:       0   0  30  10  60  40   0  60  → max 60, FIRST at idx 4
    df = spark.createDataFrame(
        [("k", t0 + dt.timedelta(minutes=i), i, v) for i, v in enumerate(vals)],
        "g string, ts timestamp, i long, v long",
    )
    r = max_drawdown(df, "v", ["g"], tie_cols=["i"]).collect()[0]
    assert r["max_drawdown"] == 60
    assert r["peak_at_trough"] == 120 and r["trough"] == 60
    assert r["trough_ts"] == t0 + dt.timedelta(minutes=4)


def test_max_drawdown_monotone_rise_is_zero(spark):
    import datetime as dt

    from smos_spark.operators.stats import max_drawdown

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [("k", t0 + dt.timedelta(minutes=i), i, 10 * i) for i in range(6)],
        "g string, ts timestamp, i long, v long",
    )
    r = max_drawdown(df, "v", ["g"], tie_cols=["i"]).collect()[0]
    # zero drawdown attained first at the very first sample
    assert r["max_drawdown"] == 0 and r["trough_ts"] == t0


def test_max_drawdown_matches_bruteforce(spark):
    import datetime as dt

    import numpy as np

    from smos_spark.operators.stats import max_drawdown

    rng = np.random.default_rng(31)
    t0 = dt.datetime(2024, 1, 1)
    rows, expect = [], {}
    for g in ("a", "b"):
        vals = rng.integers(-1000, 1000, 150)
        peaks = np.maximum.accumulate(vals)
        dd = peaks - vals
        expect[g] = int(dd.max())
        rows += [
            (g, t0 + dt.timedelta(seconds=int(i)), int(i), int(v))
            for i, v in enumerate(vals)
        ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, i long, v long")
    out = {r["g"]: r for r in max_drawdown(df, "v", ["g"], tie_cols=["i"]).collect()}
    for g, e in expect.items():
        assert out[g]["max_drawdown"] == e, g


# --------------------------------------------------------------- streaks
def test_longest_streak_directions_and_strictness(spark):
    import datetime as dt

    from smos_spark.operators.stats import longest_streak

    t0 = dt.datetime(2024, 1, 1)
    vals = [1, 2, 3, 3, 4, 2, 5, 6, 7, 8, 1]
    df = spark.createDataFrame(
        [("k", t0 + dt.timedelta(minutes=i), i, v) for i, v in enumerate(vals)],
        "g string, ts timestamp, i long, v long",
    )
    up_strict = longest_streak(df, "v", ["g"], tie_cols=["i"]).collect()[0]
    # strict runs: [1,2,3],[3,4],[2,5,6,7,8],[1] → longest 5
    assert up_strict["longest_streak"] == 5
    assert up_strict["n_samples"] == 11 and up_strict["n_streaks"] == 4
    up_loose = longest_streak(
        df, "v", ["g"], tie_cols=["i"], strict=False
    ).collect()[0]
    # plateaus extend: [1,2,3,3,4] → 5; [2,5,6,7,8] → 5
    assert up_loose["longest_streak"] == 5 and up_loose["n_streaks"] == 3
    down = longest_streak(
        df, "v", ["g"], tie_cols=["i"], direction="down"
    ).collect()[0]
    # falls: [4,2],[8,1] → 2
    assert down["longest_streak"] == 2
    import pytest as _pt

    with _pt.raises(ValueError):
        longest_streak(df, "v", ["g"], direction="sideways")


def test_longest_streak_single_sample(spark):
    import datetime as dt

    from smos_spark.operators.stats import longest_streak

    df = spark.createDataFrame(
        [("k", dt.datetime(2024, 1, 1), 0, 5)],
        "g string, ts timestamp, i long, v long",
    )
    r = longest_streak(df, "v", ["g"], tie_cols=["i"]).collect()[0]
    assert (r["n_samples"], r["longest_streak"], r["n_streaks"]) == (1, 1, 1)


# ---------------------------------------------------------- concentration
def test_concentration_known_answers(spark):
    from smos_spark.operators.stats import concentration

    # perfectly equal: gini = 0; single owner: gini = (n-1)/n
    rows = [("eq", 10)] * 4 + [("one", 0), ("one", 0), ("one", 0), ("one", 100)]
    df = spark.createDataFrame(rows, "g string, v long")
    out = {r["g"]: r for r in concentration(df, "v", ["g"]).collect()}
    eq = out["eq"]
    assert eq["gini_num"] == 0
    # HHI equal over 4: 4·100/1600 = 0.25
    assert eq["hhi_ppm"] == 250_000
    one = out["one"]
    # gini: (2·(1·0+2·0+3·0+4·100) − 5·100) / (4·100) = 300/400
    assert (one["gini_num"], one["gini_den"]) == (300, 400)
    assert one["hhi_ppm"] == 1_000_000


def test_concentration_matches_bruteforce(spark):
    import numpy as np

    from smos_spark.operators.stats import concentration

    rng = np.random.default_rng(41)
    vals = rng.integers(0, 10_000, 200)
    df = spark.createDataFrame([("g", int(v)) for v in vals], "g string, v long")
    r = concentration(df, "v", ["g"]).collect()[0]
    s = np.sort(vals)
    n = len(s)
    gini = (2 * np.sum((np.arange(1, n + 1) * s).astype(object))
            - (n + 1) * int(s.sum())) / (n * int(s.sum()))
    assert abs(r["gini_num"] / r["gini_den"] - gini) < 1e-12
    hhi = float(np.sum(s.astype(object) ** 2)) / float(int(s.sum())) ** 2
    assert r["hhi_ppm"] == int(np.floor(hhi * 1e6))
    assert r["n"] == n and r["total"] == int(s.sum())


def test_concentration_excludes_negative_and_empty_total(spark):
    from smos_spark.operators.stats import concentration

    df = spark.createDataFrame(
        [("neg", -5), ("neg", 10), ("zero", 0), ("zero", 0)],
        "g string, v long",
    )
    out = {r["g"]: r for r in concentration(df, "v", ["g"]).collect()}
    assert out["neg"]["n"] == 1 and out["neg"]["total"] == 10
    assert "zero" not in out  # total 0 → dropped


# ------------------------------------------------------------ standardize
def test_standardize_matches_numpy(spark):
    from smos_spark.operators.stats import standardize

    rng = np.random.default_rng(61)
    vals = rng.integers(-500, 500, 120)
    df = spark.createDataFrame(
        [("g", int(i), int(v)) for i, v in enumerate(vals)],
        "g string, i long, v long",
    )
    out = {r["i"]: r["z_ppm"] for r in standardize(df, "v", ["g"]).collect()}
    mu, sd = vals.mean(), vals.std()  # population sigma
    for i, v in enumerate(vals):
        expect = (v - mu) / sd
        assert abs(out[i] / 1e6 - expect) < 2e-6, i


def test_standardize_constant_group_null_and_passthrough(spark):
    from smos_spark.operators.stats import standardize

    df = spark.createDataFrame(
        [("c", 1, 7, "x"), ("c", 2, 7, "y"), ("s", 3, 9, "z")],
        "g string, i long, v long, extra string",
    )
    out = standardize(df, "v", ["g"])
    rows = {r["i"]: r for r in out.collect()}
    assert rows[1]["z_ppm"] is None and rows[2]["z_ppm"] is None
    assert rows[3]["z_ppm"] is None  # single-row group
    assert rows[1]["extra"] == "x"  # passthrough preserved
    assert set(out.columns) == {"g", "i", "v", "extra", "z_ppm"}


def test_standardize_null_group_matches_pandas(spark):
    """A NULL group is scored against its own moments (null-safe join
    back), not silently given a NULL z-score."""
    import pandas as pd

    from smos_spark.operators.stats import standardize

    rows = [(None, 1, 3), (None, 2, 8), (None, 3, 10), ("a", 4, 1), ("a", 5, 6)]
    df = spark.createDataFrame(rows, "g string, i long, v long")
    got = {r["i"]: r["z_ppm"] for r in standardize(df, "v", ["g"]).collect()}

    pdf = pd.DataFrame(rows, columns=["g", "i", "v"])
    grp = pdf.groupby(pdf.g.fillna("<null>")).v
    z = (pdf.v - grp.transform("mean")) / grp.transform("std", ddof=0)
    want = dict(zip(pdf.i, np.floor(z * 1_000_000).astype("int64")))
    assert got[1] is not None and got[3] is not None
    assert all(abs(got[i] - want[i]) <= 1 for i in want), (got, want)


def test_standardize_zero_row_shuffle_plan(spark):
    from smos_spark.operators.stats import standardize

    df = spark.createDataFrame([("g", 1, 1)], "g string, i long, v long")
    plan = standardize(df, "v", ["g"])._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


# ------------------------------------------------------------- top movers
def test_top_movers_known_answer(spark):
    import datetime as dt

    from smos_spark.operators.stats import top_movers

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # day totals: a: 100, 150, 40 → deltas +50, -110
    #             b: 10,  200, 190 → deltas +190, -10
    for d, tot in enumerate([100, 150, 40]):
        rows.append(("a", t0 + dt.timedelta(days=d), tot))
    for d, tot in enumerate([10, 200, 190]):
        rows.append(("b", t0 + dt.timedelta(days=d), tot))
    df = spark.createDataFrame(rows, "k string, ts timestamp, v long")
    out = top_movers(df, "v", "k", width_sec=86400, k=1).orderBy(
        "bucket_start").collect()
    # day 1: |+190| (b) beats |+50| (a); day 2: |-110| (a) beats |-10|
    assert [(r["key"], r["delta"]) for r in out] == [("b", 190), ("a", -110)]
    assert all(r["rank"] == 1 for r in out)


def test_top_movers_skips_silent_buckets_and_ties(spark):
    import datetime as dt

    from smos_spark.operators.stats import top_movers

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("a", t0, 100),
        ("a", t0 + dt.timedelta(days=3), 130),  # prev ACTIVE day is day 0
        ("b", t0 + dt.timedelta(days=3), 50),   # no prev → excluded
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v long")
    out = top_movers(df, "v", "k", width_sec=86400, k=5).collect()
    assert len(out) == 1
    assert (out[0]["key"], out[0]["prev"], out[0]["delta"]) == ("a", 100, 30)
    # deterministic tie: equal |delta| and delta → key ascending
    rows2 = [
        ("x", t0, 10), ("x", t0 + dt.timedelta(days=1), 20),
        ("y", t0, 10), ("y", t0 + dt.timedelta(days=1), 20),
    ]
    df2 = spark.createDataFrame(rows2, "k string, ts timestamp, v long")
    out2 = top_movers(df2, "v", "k", width_sec=86400, k=1).collect()
    assert len(out2) == 1 and out2[0]["key"] == "x"
