"""Exact-arithmetic anomaly detection over retention-tier inputs.

Two detectors every production time-series engine grows once tiers
exist — "this point is far from its seasonal baseline" and "this
series level-shifted" — built with the same discipline as
operators/stats.py so both ship EXACT DuckDB oracles instead of
tolerance checks:

* values are integer-quantized up front (floor(v*cents));
* every comparison is a cross-multiplied INTEGER inequality — no
  sqrt, no division, no float sigma anywhere;
* sums that could exceed int64 at 10^12-row scale are aggregated in
  decimal(38,0) (Spark) / HUGEINT (DuckDB), both exact.

`seasonal_anomaly` is the classic hour-of-week baseline test: one
bounded groupBy (output ≤ groups·168 rows) broadcast-joined back onto
the stream — the raw side is scanned, never shuffled on rows.

`cusum_changepoints` is a one-sided CUSUM level-shift detector. The
textbook recurrence S_i = max(0, S_{i-1} + (v_i − μ − slack)) is a
sequential fold, but it has a closed windowed form: with
d_i = v_i − μ − slack and prefix sums P_i = Σ_{j≤i} d_j,

    S_i = P_i − min(0, min_{j≤i} P_j)

so the whole detector is two cumulative window functions (sum + min)
over the per-key time order — pure JVM window exchange, no UDF, no
iteration, and expressible verbatim in ANSI SQL for the oracle. To
keep μ = Σv/n exact we multiply the recurrence through by the per-key
count n: d'_i = n·v_i − Σv − n·slack (all integers), flagging when
S'_i > n·h. Every quantity is n× the textbook one, so the flag set is
identical and the arithmetic stays in ℤ.

`cusum_fixed` / `cusum_stream` are the fixed-target form (the textbook
CUSUM: deviations measured against a KNOWN target mean rather than the
per-key sample mean — the only form a stream can compute, since the
sample mean needs the whole series). The batch variant is the same
closed windowed form minus the per-key aggregates; the streaming twin
is a fold step on streaming/fold.py's `keyed_fold_stream` (which
states its ordering and lateness contract), carrying O(1) state per
key — (last statistic, last event-time) — and is row-for-row equal to
the batch operator.

Reference analog: the reference ships per-variable validity masks and
fixed-decimal image statistics (/root/reference/src/smos/smos_ic/
interface.py:63-93, tests/test_ICreshuffle.py:52); at tier scale the
same per-variable scrutiny becomes baseline/shift tests over the
rolled-up series.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from smos_spark.functions.timegrid import bucket_index, bucket_start, dow_hour, to_us
from smos_spark.streaming.fold import keyed_fold_stream, schema_ddl

__all__ = [
    "seasonal_anomaly",
    "seasonal_profile",
    "seasonal_anomaly_stream",
    "cusum_changepoints",
    "cusum_fixed",
    "cusum_stream",
    "trend_slope",
    "theil_sen_slope",
    "mann_kendall",
    "mad_outliers",
    "classical_decompose",
    "seasonal_adjust",
]

_DEC = "decimal(38,0)"


def seasonal_anomaly(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    id_cols: list[str],
    ts_col: str = "ts",
    k_num: int = 2,
    k_den: int = 1,
    min_count: int = 4,
    cents: int = 100,
    profile: DataFrame | None = None,
) -> DataFrame:
    """Rows whose value deviates more than (k_num/k_den)·σ from their
    (group, day-of-week, hour-of-day) seasonal baseline.

    Pass `profile` (a `seasonal_profile` table, possibly built from a
    different — e.g. trailing — window) to score against a FROZEN
    baseline instead of the self-profile; `cents` must match the
    profile's. With a frozen profile the inner join drops rows whose
    (group, dow, hour) bucket the profile never saw.

    The baseline includes the point itself (population moments over
    the full bucket), so a constant bucket can never self-flag: zero
    variance forces zero deviation. The flag test is the exact
    integer inequality

        k_den² · (n·x − S)²  >  k_num² · (n·Q − S²),   n ≥ min_count

    with x = floor(v·cents), S = Σx, Q = Σx² — both sides are
    decimal(38,0) products of int64 sums, exact for |x| < ~2^31 and
    buckets up to ~10^10 rows (10^30 ≪ 10^38), where a double σ would
    round and an int64 product would overflow.

    Plan: one map-side-combined aggregation to ≤ groups·168 profile
    rows, broadcast-joined back onto the stream — the raw side is
    never shuffled, so the operator costs two scans and zero
    row-shuffles at any scale. Output: group cols, id cols, ts,
    value_cents, bucket n, dev_n = n·x − S (the n-scaled deviation,
    sign-preserving) — bounded by the true anomaly rate.
    """
    if k_num <= 0 or k_den <= 0:
        raise ValueError("k_num and k_den must be positive")
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    base = _prepare_seasonal(df, value_col, group_cols, id_cols, ts_col, cents)
    prof = (
        profile
        if profile is not None
        else _profile_from_base(base, group_cols)
    )
    return _score_against_profile(
        base, prof, group_cols, id_cols, ts_col, k_num, k_den, min_count
    )


def _prepare_seasonal(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    id_cols: list[str],
    ts_col: str,
    cents: int,
) -> DataFrame:
    dow, hour = dow_hour(ts_col)
    vc = F.floor(F.col(value_col).cast("double") * cents).cast("long")
    return df.where(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        *group_cols,
        *id_cols,
        F.col(ts_col).cast("timestamp").alias(ts_col),
        dow.alias("_dow"),
        hour.alias("_hour"),
        vc.alias("value_cents"),
    )


def _profile_from_base(base: DataFrame, group_cols: list[str]) -> DataFrame:
    return base.groupBy(*group_cols, "_dow", "_hour").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value_cents").cast(_DEC)).alias("_s"),
        F.sum(
            (F.col("value_cents").cast(_DEC) * F.col("value_cents").cast(_DEC))
        ).alias("_q"),
    )


def _score_against_profile(
    base: DataFrame,
    prof: DataFrame,
    group_cols: list[str],
    id_cols: list[str],
    ts_col: str,
    k_num: int,
    k_den: int,
    min_count: int,
) -> DataFrame:
    joined = base.join(
        F.broadcast(prof), on=[*group_cols, "_dow", "_hour"], how="inner"
    )
    n_dec = F.col("n").cast(_DEC)
    dev = n_dec * F.col("value_cents").cast(_DEC) - F.col("_s")
    var_n3 = n_dec * F.col("_q") - F.col("_s") * F.col("_s")
    flag = (F.lit(k_den * k_den).cast(_DEC) * dev * dev) > (
        F.lit(k_num * k_num).cast(_DEC) * var_n3
    )
    return (
        joined.where((F.col("n") >= min_count) & flag)
        .select(
            *group_cols,
            *id_cols,
            F.col(ts_col),
            F.col("value_cents"),
            F.col("n"),
            dev.cast("long").alias("dev_n"),
        )
    )


def seasonal_profile(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    ts_col: str = "ts",
    cents: int = 100,
) -> DataFrame:
    """The (group, dow, hour) seasonal baseline table on its own:
    per-bucket count n, Σcents `_s` and Σcents² `_q` as decimal(38,0)
    — ≤ groups·168 rows, built by one map-side-combined aggregation.

    Persist it (e.g. nightly over the trailing window) and score live
    data against the FROZEN profile with `seasonal_anomaly(df, ...,
    profile=...)` in batch or `seasonal_anomaly_stream` on a stream —
    the production pattern: the baseline lags, the scoring is
    stateless. The moments are mergeable (sum n/_s/_q across windows)
    like every tier partial in this package.
    """
    base = _prepare_seasonal(df, value_col, group_cols, [], ts_col, cents)
    return _profile_from_base(base, group_cols)


def seasonal_anomaly_stream(
    stream: DataFrame,
    profile: DataFrame,
    value_col: str,
    group_cols: list[str],
    id_cols: list[str],
    ts_col: str = "ts",
    k_num: int = 2,
    k_den: int = 1,
    min_count: int = 4,
    cents: int = 100,
) -> DataFrame:
    """Structured Streaming twin of frozen-profile `seasonal_anomaly`:
    score a live stream against a static `seasonal_profile` table via
    a stream-static BROADCAST join + the same exact integer
    inequality. Completely stateless (no watermark needed, append
    mode): each row is scored once, on arrival, against the baseline
    — output is row-for-row identical to scoring the same rows in
    batch with the same profile (pinned in
    test_seasonal_stream_matches_batch). At any scale the stream side
    never shuffles; the profile broadcast is bounded by group-key
    cardinality ·168.
    """
    if k_num <= 0 or k_den <= 0:
        raise ValueError("k_num and k_den must be positive")
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    base = _prepare_seasonal(
        stream, value_col, group_cols, id_cols, ts_col, cents
    )
    return _score_against_profile(
        base, profile, group_cols, id_cols, ts_col, k_num, k_den, min_count
    )


def cusum_changepoints(
    df: DataFrame,
    value_col: str,
    key_cols: list[str],
    ts_col: str = "ts",
    tie_cols: list[str] | None = None,
    slack_cents: int = 0,
    h_cents: int = 100,
    cents: int = 100,
) -> DataFrame:
    """One-sided (upward) CUSUM level-shift detector per key, exact.

    Per key with n samples and integer-cent sum S, each time-ordered
    sample contributes d'_i = n·x_i − S − n·slack_cents (the textbook
    deviation-minus-allowance, multiplied through by n so the per-key
    mean μ = S/n never becomes a fraction). With prefix sums
    P_i = Σ_{j≤i} d'_j, the CUSUM statistic is

        S'_i = P_i − min(0, min_{j≤i} P_j)

    — algebraically identical to the max(0, ·) fold, but computable
    with two cumulative window functions instead of a sequential
    recurrence. A row is flagged when S'_i > n·h_cents, i.e. the
    unscaled CUSUM exceeded h_cents cents. Flagged rows are emitted
    with cusum_n = S'_i (the n-scaled statistic), so consecutive rows
    of one sustained excursion all appear — callers wanting only
    onset points keep the first per burst.

    All arithmetic is decimal(38,0): |P_i| ≤ n·max|d'| ≈ n²·|x|,
    exact to n ≈ 10^16 per key — far beyond any bounded conversation.

    Plan: ONE hash exchange on the key (both the per-key totals and
    the ordered cumulative sum/min reuse the same Window partition),
    one sort, zero joins, zero UDFs. Sequential per key by nature —
    same keyed-window class as EWMA (operators/smooth.py); route
    pathologically hot keys through a bucket twin first (PLANS.md
    §27) if a single key ever exceeds a partition.
    """
    if h_cents <= 0:
        raise ValueError("h_cents must be positive")
    if slack_cents < 0:
        raise ValueError("slack_cents must be >= 0")
    ties = list(tie_cols or [])
    vc = F.floor(F.col(value_col).cast("double") * cents).cast("long")
    base = df.where(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        *key_cols,
        F.col(ts_col).cast("timestamp").alias(ts_col),
        *[F.col(t) for t in ties],
        vc.alias("value_cents"),
    )
    w_all = Window.partitionBy(*key_cols)
    w_ord = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col(ts_col), *[F.col(t) for t in ties])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n = F.count(F.lit(1)).over(w_all)
    s = F.sum(F.col("value_cents").cast(_DEC)).over(w_all)
    d = (
        n.cast(_DEC) * F.col("value_cents").cast(_DEC)
        - s
        - n.cast(_DEC) * F.lit(slack_cents).cast(_DEC)
    )
    with_d = base.withColumn("_n", n).withColumn("_d", d)
    # two projections: Spark cannot nest window expressions, but both
    # specs share one (partition, sort), so the plan carries a single
    # exchange + sort feeding consecutive Window operators.
    with_p = with_d.withColumn("_p", F.sum("_d").over(w_ord))
    runmin = F.min("_p").over(w_ord)
    cusum = F.col("_p") - F.least(F.lit(0).cast(_DEC), runmin)
    out = (
        with_p.withColumn("_cusum", cusum)
        .where(
            F.col("_cusum")
            > F.col("_n").cast(_DEC) * F.lit(h_cents).cast(_DEC)
        )
        .select(
            *key_cols,
            F.col(ts_col),
            *[F.col(t) for t in ties],
            F.col("value_cents"),
            F.col("_cusum").cast("long").alias("cusum_n"),
        )
    )
    return out


def cusum_fixed(
    df: DataFrame,
    value_col: str,
    key_cols: list[str],
    target_cents: int,
    ts_col: str = "ts",
    tie_cols: list[str] | None = None,
    slack_cents: int = 0,
    h_cents: int = 100,
    cents: int = 100,
) -> DataFrame:
    """Fixed-target one-sided CUSUM per key (textbook form): deviations
    d_i = x_i − target − slack in integer cents against a KNOWN target
    mean, folded by S_i = max(0, S_{i-1} + d_i) and flagged when
    S_i > h_cents.

    Computed exactly via the same closed windowed form as
    `cusum_changepoints` — S_i = P_i − min(0, min_prefix(P_i)) over
    prefix sums P of d — but with NO per-key aggregates (the target is
    a constant), so the plan is two cumulative window functions over
    one hash exchange and nothing else. This is the batch twin of
    `cusum_stream`: identical flag set, identical cusum_cents values.

    Output: key cols, ts, tie cols, value_cents, cusum_cents (long).
    Arithmetic in decimal(38,0): |P| ≤ n·max|d|, exact to ~10^28
    row-cents per key.
    """
    if h_cents <= 0:
        raise ValueError("h_cents must be positive")
    if slack_cents < 0:
        raise ValueError("slack_cents must be >= 0")
    ties = list(tie_cols or [])
    vc = F.floor(F.col(value_col).cast("double") * cents).cast("long")
    base = df.where(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        *key_cols,
        F.col(ts_col).cast("timestamp").alias(ts_col),
        *[F.col(t) for t in ties],
        vc.alias("value_cents"),
    )
    w_ord = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col(ts_col), *[F.col(t) for t in ties])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = (
        F.col("value_cents").cast(_DEC)
        - F.lit(int(target_cents) + int(slack_cents)).cast(_DEC)
    )
    with_p = base.withColumn("_p", F.sum(d).over(w_ord))
    runmin = F.min("_p").over(w_ord)
    cusum = F.col("_p") - F.least(F.lit(0).cast(_DEC), runmin)
    return (
        with_p.withColumn("_cusum", cusum)
        .where(F.col("_cusum") > F.lit(int(h_cents)).cast(_DEC))
        .select(
            *key_cols,
            F.col(ts_col),
            *[F.col(t) for t in ties],
            F.col("value_cents"),
            F.col("_cusum").cast("long").alias("cusum_cents"),
        )
    )


def cusum_stream(
    stream: DataFrame,
    value_col: str,
    key_cols: Sequence[str],
    target_cents: int,
    ts_col: str = "ts",
    tie_cols: Sequence[str] = (),
    slack_cents: int = 0,
    h_cents: int = 100,
    cents: int = 100,
    watermark: str = "1 hour",
):
    """Structured Streaming twin of `cusum_fixed`: a fold step on
    `keyed_fold_stream` (ordering and lateness contract in
    streaming/fold.py).

    State per key is exactly the batch fold's carry — (current CUSUM
    statistic in cents, last event-time micros), 16 bytes — so the
    streaming flag set and cusum_cents values are row-for-row
    IDENTICAL to running `cusum_fixed` over the same rows in batch.
    Within each micro-batch the kernel evaluates the fold with the
    SAME vectorized closed form (cumsum + running-min over the
    state-seeded deviation array — no per-row Python), emitting only
    flagged rows (append mode). Rows with NULL ts or NULL value are
    excluded, as in batch.
    """
    if h_cents <= 0:
        raise ValueError("h_cents must be positive")
    if slack_cents < 0:
        raise ValueError("slack_cents must be >= 0")
    import numpy as np

    keys = list(key_cols)
    ties = list(tie_cols)
    shift = int(target_cents) + int(slack_cents)
    h = int(h_cents)
    src = stream.where(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        *keys,
        F.col(ts_col).cast("timestamp").alias(ts_col),
        *[F.col(t) for t in ties],
        F.floor(F.col(value_col).cast("double") * cents)
        .cast("long")
        .alias("value_cents"),
    )

    def step(carry, pdf):
        d = pdf["value_cents"].to_numpy(dtype=np.int64) - shift
        # seeded closed form: fold from state s0 == closed form over
        # the array with s0 prepended as a virtual first deviation
        # (max(0, 0 + s0) = s0 since s0 >= 0), then drop the seed row
        p = np.cumsum(np.concatenate(([np.int64(carry[0])], d)))
        runmin = np.minimum.accumulate(np.minimum(p, 0))
        s_all = (p - runmin)[1:]
        mask = s_all > h
        return (int(s_all[-1]),), pdf.loc[mask].assign(cusum_cents=s_all[mask])

    return keyed_fold_stream(
        src, keys, ts_col, ties, "s long", (0,), step,
        schema_ddl(src) + ", cusum_cents long", watermark,
    )


def trend_slope(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    ts_col: str = "ts",
    cents: int = 100,
    epoch: str = "2020-01-01",
    x_unit_s: float = 3600,
    min_count: int = 2,
    keep_moments: bool = False,
) -> DataFrame:
    """Per-group OLS trend slope of value vs. time, as an EXACT
    rational: slope (cents per x_unit) = slope_num / slope_den with

        slope_num = n·Σ(x·y) − Σx·Σy
        slope_den = n·Σx²   − (Σx)²      (≥ 0)

    where x = floor(seconds since `epoch` / x_unit_s) and
    y = floor(v·cents). Emitting the integer numerator/denominator
    instead of a double keeps the result bit-identical across engines
    (the DuckDB oracle computes the same sums in HUGEINT). All
    aggregation runs in decimal(38,0) — exact up to 10³⁸ — and the
    two outputs are cast to int64 at the end; pick `epoch` near the
    data and a coarse `x_unit_s` so they fit: with X = max|x| and
    Y = max|y|, |slope_num| ≤ n²·X·Y and slope_den ≤ n²·X², so e.g.
    hourly units over a 3-year window (X ≈ 2.6e4) keep both in int64
    for groups up to ~3·10⁶ rows at Y ≤ 10⁶. slope_den = 0 (all rows
    in one x bucket) means an undefined slope; such groups are
    emitted so callers can test it — groups with n < min_count are
    dropped.

    keep_moments=True appends the raw partials (sum_x, sum_y, sum_xy,
    sum_xx as decimal(38,0)) — they ADD across windows like every
    tier partial in this package (same contract as sketch.kmv's
    keep_hashes), so a daily→range slope assembly needs no raw
    re-scan (pinned in test_trend_moments_merge).

    Plan: one map-side-combined aggregation (partial sums per input
    partition, one shuffle of ≤ |groups| rows) — zero broadcast, zero
    window, zero UDF. The per-series linear-trend fit the reference's
    climatology consumers run downstream of its TS reshuffle
    (/root/reference/src/smos_ic/interface.py image-stat pattern, per
    SURVEY §2.4 A-extensions), re-expressed as one declarative moment
    aggregation.
    """
    if min_count < 2:
        raise ValueError("min_count must be >= 2")
    if cents <= 0:
        raise ValueError("cents must be positive")
    xs = bucket_index(ts_col, to_us(x_unit_s, "x_unit_s"), epoch)
    y = F.floor(F.col(value_col).cast("double") * cents).cast("long")
    base = df.where(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        *group_cols,
        xs.cast(_DEC).alias("_x"),
        y.cast(_DEC).alias("_y"),
    )
    agg = base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
    )
    n = F.col("n").cast(_DEC)
    moments = (
        [
            F.col("_sx").alias("sum_x"),
            F.col("_sy").alias("sum_y"),
            F.col("_sxy").alias("sum_xy"),
            F.col("_sxx").alias("sum_xx"),
        ]
        if keep_moments
        else []
    )
    return agg.where(F.col("n") >= min_count).select(
        *group_cols,
        F.col("n"),
        (n * F.col("_sxy") - F.col("_sx") * F.col("_sy"))
        .cast("long")
        .alias("slope_num"),
        (n * F.col("_sxx") - F.col("_sx") * F.col("_sx"))
        .cast("long")
        .alias("slope_den"),
        *moments,
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    id_cols: list[str],
    k_num: int = 5,
    k_den: int = 1,
    cents: int = 100,
) -> DataFrame:
    """Robust per-group outliers by median absolute deviation: flag
    rows with |v − median(v)| > (k_num/k_den) · MAD, the
    Hampel-identifier rule (public; Leys et al. 2013).  Unlike the
    σ-based `seasonal_anomaly`, a few extreme rows cannot inflate the
    threshold — median and MAD have a 50% breakdown point.

    Exactness: v is floored to integer cents; the two medians are
    exact interpolated percentiles of integers, so every intermediate
    is an integer or half-integer — doubling both sides of the
    comparison (`dev2 = |2v − 2·med|`, `mad2 = median(dev2)`, flag iff
    dev2·k_den > k_num·mad2) keeps every compared quantity an
    integer-valued double < 2^53, bit-identical across engines.
    Output: id cols + group cols + ``value_cents``, ``dev2``
    (= 2|v − med|), ``med2`` (= 2·median), ``mad2`` (= median of the
    group's dev2, i.e. 2·MAD) for the flagged rows only.

    Plan: two percentile groupBys joined back by broadcast.  Exact
    medians are value-buffering aggregates, so EACH of the two
    aggregations carries the groups' value buffers across its
    exchange — O(rows) bytes in O(groups) rows, twice.  That is the
    price of the exactness contract; callers who can trade exactness
    for one pass should pre-bin with `sketch.hist_build` and take
    `sketch.hist_quantiles` instead.
    """
    if k_den <= 0 or k_num <= 0:
        raise ValueError("k_num and k_den must be positive integers")
    v = F.floor(F.col(value_col) * cents).cast("long")
    src = df.where(F.col(value_col).isNotNull())
    for g in group_cols:
        src = src.where(F.col(g).isNotNull())
    base = src.select(*id_cols, *group_cols, v.alias("value_cents"))
    med = base.groupBy(*group_cols).agg(
        (F.percentile("value_cents", F.lit(0.5)) * 2).alias("med2")
    )
    dev = base.join(F.broadcast(med), group_cols).withColumn(
        "dev2", F.abs(2 * F.col("value_cents") - F.col("med2"))
    )
    mad = dev.groupBy(*group_cols).agg(
        F.percentile("dev2", F.lit(0.5)).alias("mad2")
    )
    return (
        dev.join(F.broadcast(mad), group_cols)
        .where(
            F.col("dev2") * F.lit(k_den) > F.lit(k_num) * F.col("mad2")
        )
        .select(
            *id_cols, *group_cols, "value_cents", "dev2", "med2", "mad2"
        )
    )


def theil_sen_slope(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    ts_col: str = "ts",
    cents: int = 100,
    epoch: str = "2020-01-01",
    x_unit_s: float = 3600,
) -> DataFrame:
    """Per-group Theil–Sen trend slope: the median of the pairwise
    slopes (y_j − y_i)/(x_j − x_i) over all sample pairs with distinct
    x buckets — the standard robust alternative to `trend_slope`'s
    OLS fit (up to ~29% outliers cannot move it; public estimator,
    Sen 1968).  x and y are the same integer quantizations as
    `trend_slope` (x = floor-to-unit epoch bucket, y = floor(v·cents)).

    The selected slope is emitted as the EXACT integer rational
    (slope_num = y_j − y_i, slope_den = x_j − x_i > 0) of the chosen
    pair.  Selection rule, identical in both engines: order the
    pairwise slopes by (num/den as double, num, den) and take the
    element at position (n_pairs+1) div 2 — the lower median, always
    an element of the set, never an average.  The double sort key is
    ONE division of two exactly-representable int64s, bit-identical
    across engines; the (num, den) tiebreak pins the permutation when
    two rationals collide in double space.  Groups whose samples all
    share one x bucket have no pairs and are dropped.

    Scale shape: the pair generation is a per-group self-join —
    O(n²) pairs per group, the same documented bounded-group contract
    as flow.training_pairs: group by (key, calendar unit) so n is the
    per-unit sample count, not the key's lifetime.  The join is an
    equi-join on the group columns (one Exchange reused by the
    row_number window on the same keys); the non-equi x < x' predicate
    is a post-join filter, never a nested-loop over the raw table.
    """
    if cents <= 0:
        raise ValueError("cents must be positive")
    xs = bucket_index(ts_col, to_us(x_unit_s, "x_unit_s"), epoch)
    y = F.floor(F.col(value_col).cast("double") * cents).cast("long")
    base = df.where(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(*group_cols, xs.alias("_x"), y.alias("_y"))
    a = base
    b = base
    for c in ["_x", "_y"]:
        b = b.withColumnRenamed(c, c + "2")
    pairs = a.join(b, group_cols).where(F.col("_x") < F.col("_x2"))
    num = (F.col("_y2") - F.col("_y")).alias("_num")
    den = (F.col("_x2") - F.col("_x")).alias("_den")
    sl = pairs.select(*group_cols, num, den).withColumn(
        "_s", F.col("_num").cast("double") / F.col("_den").cast("double")
    )
    w = Window.partitionBy(*group_cols)
    ordered = w.orderBy("_s", "_num", "_den")
    ranked = sl.select(
        *group_cols,
        F.col("_num"),
        F.col("_den"),
        F.row_number().over(ordered).alias("_rn"),
        F.count(F.lit(1)).over(w).alias("n_pairs"),
    )
    # lower-median position (n+1) div 2 in pure integer arithmetic:
    # (n+1) − ((n+1) mod 2) is an exact multiple of 2, so the double
    # division below is the true integer (same guard as hourly_profile)
    np1 = F.col("n_pairs") + F.lit(1)
    lower_med = ((np1 - F.pmod(np1, F.lit(2))) / F.lit(2)).cast("long")
    return ranked.where(F.col("_rn") == lower_med).select(
        *group_cols,
        F.col("n_pairs"),
        F.col("_num").alias("slope_num"),
        F.col("_den").alias("slope_den"),
    )


def mann_kendall(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    ts_col: str = "ts",
    cents: int = 100,
    epoch: str = "2020-01-01",
    x_unit_s: float = 3600,
) -> DataFrame:
    """Per-group Mann–Kendall trend test statistic: S = Σ_{x_i < x_j}
    sign(y_j − y_i) over all sample pairs with distinct time buckets —
    the standard non-parametric "is there a monotonic trend?"
    companion to `theil_sen_slope` (public test, Mann 1945 / Kendall
    1975), sharing its exact quantization (x = floor-to-unit epoch
    bucket, y = floor(v·cents)) and its pair generation, so the two
    can be read off the SAME bounded pair join in a combined
    dashboard.

    Everything emitted is exact: n_samples, n_pairs (pairs with
    strictly increasing x — same-bucket pairs contribute nothing, the
    standard tie handling), s_stat = Σ sign ∈ int64, and
    tau_ppm = floor(S·1e6 / n_pairs) — Kendall's tau-a against the
    comparable-pair count, ONE double division of two exact ints.
    Groups with no cross-bucket pair are dropped (no trend is
    definable).

    Scale shape: identical to theil_sen_slope — a per-group equi-join
    self-pairing (O(n²) pairs per group) under the documented
    bounded-group contract: group by (key, calendar unit) so n is the
    per-unit sample count. The sign aggregation is map-side combined;
    unlike Theil–Sen there is no window sort, so the post-join plan is
    a single bounded aggregation.
    """
    if cents <= 0:
        raise ValueError("cents must be positive")
    xs = bucket_index(ts_col, to_us(x_unit_s, "x_unit_s"), epoch)
    y = F.floor(F.col(value_col).cast("double") * cents).cast("long")
    base = df.where(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(*group_cols, xs.alias("_x"), y.alias("_y"))
    b = base
    for c in ["_x", "_y"]:
        b = b.withColumnRenamed(c, c + "2")
    pairs = base.join(b, group_cols).where(F.col("_x") < F.col("_x2"))
    sgn = F.signum((F.col("_y2") - F.col("_y")).cast("double")).cast("long")
    counts = base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_samples")
    )
    stat = pairs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(sgn).alias("s_stat"),
    )
    tau_ppm = F.floor(
        F.col("s_stat").cast("double")
        / F.col("n_pairs").cast("double")
        * 1_000_000
    ).cast("long")
    return stat.join(counts, group_cols).select(
        *group_cols,
        "n_samples",
        "n_pairs",
        "s_stat",
        tau_ppm.alias("tau_ppm"),
    )


def classical_decompose(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    ts_col: str = "ts",
    period: int = 24,
    width_sec: float = 3600,
    cents: int = 100,
) -> DataFrame:
    """Classical additive seasonal decomposition of a per-group
    activity series (the moving-average method behind
    statsmodels.seasonal_decompose, Kendall/Stuart textbook form),
    kept EXACT end-to-end by working in scaled integers:

    * the series is the per-(group, width_sec bucket) sum of
      floor(v·cents), densified to a gapless grid (missing buckets are
      0 — the natural reading for activity totals, same grid
      convention as gapfill);
    * trend: the centered 2×period moving average. For even period
      2m the textbook weights are (½, 1, …, 1, ½)/period over
      [t−m, t+m]; multiplied through by 2·period they are the pure
      integer  trend_x2p = y[t−m] + 2·Σ_{t−m+1..t+m−1} y + y[t+m]
      (computed as 2·Σ_{[−m,+m]} − y[−m] − y[+m], one window frame
      plus a lag and a lead over the SAME sort);
    * detrended: detr_x2p = 2·period·y − trend_x2p (exact int64);
    * seasonal: per (group, phase = bucket mod period), the SUM and
      COUNT of detr_x2p over the buckets where the trend is defined —
      emitted as the exact rational (seas_num, seas_den) rather than a
      rounded index, theil_sen_slope's emit-the-rational discipline
      (the remainder at any row is detr_x2p − seas_num/seas_den,
      reconstructible exactly by the caller).

    Only rows with a full trend window (the inner span of the grid)
    are emitted. Output per bucket: group cols, bucket_start
    (timestamp), y_cents, trend_x2p, detr_x2p, seas_num, seas_den.

    Plan: one map-side-combined bucket aggregation (shuffle
    O(groups·buckets)); the dense grid is a per-group sequence explode
    (gapfill's generator) left-joined to the sums; then one Exchange
    on the group feeds the ordered trend window, and one more window
    partitioned by (group, phase) attaches the seasonal sums. Grid
    size is span/width per group — bounded by the calendar range, not
    the input row count.
    """
    if period < 2 or period % 2 != 0:
        raise ValueError("period must be an even integer >= 2")
    width_us = to_us(width_sec)
    if cents <= 0:
        raise ValueError("cents must be positive")
    m = period // 2
    b = bucket_index(ts_col, width_us)
    vc = F.floor(F.col(value_col).cast("double") * cents).cast("long")
    sums = (
        df.where(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
        .select(*group_cols, b.alias("_b"), vc.alias("_vc"))
        .groupBy(*group_cols, "_b")
        .agg(F.sum("_vc").alias("_y"))
    )
    span = sums.groupBy(*group_cols).agg(
        F.min("_b").alias("_b0"), F.max("_b").alias("_b1")
    )
    grid = span.select(
        *group_cols,
        F.explode(F.sequence(F.col("_b0"), F.col("_b1"))).alias("_b"),
    )
    dense = grid.join(sums, [*group_cols, "_b"], "left").select(
        *group_cols,
        F.col("_b"),
        F.coalesce(F.col("_y"), F.lit(0)).alias("_y"),
    )
    wo = Window.partitionBy(*group_cols).orderBy("_b")
    frame = wo.rowsBetween(-m, m)
    trend = (
        F.lit(2) * F.sum("_y").over(frame)
        - F.lag("_y", m).over(wo)
        - F.lead("_y", m).over(wo)
    )
    n_win = F.count(F.lit(1)).over(frame)
    valid = (
        dense.withColumn("_t2p", trend)
        .withColumn("_nw", n_win)
        .where(F.col("_t2p").isNotNull() & (F.col("_nw") == period + 1))
        .withColumn(
            "_d2p", F.lit(2 * period) * F.col("_y") - F.col("_t2p")
        )
        .withColumn("_phase", F.pmod(F.col("_b"), F.lit(period)))
    )
    wp = Window.partitionBy(*group_cols, "_phase")
    return valid.select(
        *group_cols,
        bucket_start("_b", width_us).alias("bucket_start"),
        F.col("_y").alias("y_cents"),
        F.col("_t2p").alias("trend_x2p"),
        F.col("_d2p").alias("detr_x2p"),
        F.sum("_d2p").over(wp).alias("seas_num"),
        F.count(F.lit(1)).over(wp).alias("seas_den"),
    )


def seasonal_adjust(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    ts_col: str = "ts",
    period: int = 24,
    width_sec: float = 3600,
    cents: int = 100,
) -> DataFrame:
    """Seasonally-adjusted remainder series on top of
    `classical_decompose` — THE standard decomposition product (what
    "seasonally adjusted" means in every published economic series):
    remainder = detrended − seasonal index, emitted as the EXACT
    rational

        rem = (detr_x2p·seas_den − seas_num) / (2·period·seas_den)

    (numerator/denominator int64 — detr_x2p is already ×2·period and
    the seasonal index is the phase mean seas_num/seas_den at the same
    scale, so one cross-multiplication clears both). A caller ranks
    anomalies by |rem_num|/rem_den or compares rem against a threshold
    by cross-multiplying — never a float.

    Same plan as classical_decompose plus one projection (no extra
    shuffle). Output: group cols, bucket_start, y_cents, trend_x2p,
    rem_num, rem_den.
    """
    dec = classical_decompose(
        df, value_col, group_cols,
        ts_col=ts_col, period=period, width_sec=width_sec, cents=cents,
    )
    rem_num = (
        F.col("detr_x2p") * F.col("seas_den") - F.col("seas_num")
    ).alias("rem_num")
    rem_den = (F.lit(2 * period) * F.col("seas_den")).alias("rem_den")
    return dec.select(
        *group_cols, "bucket_start", "y_cents", "trend_x2p",
        rem_num, rem_den,
    )
