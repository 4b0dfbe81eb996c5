"""Exact-arithmetic statistical aggregates for series dashboards.

Three aggregations every time-series/corpus dashboard needs —
correlation between two activity streams, value histograms, and
calendar seasonality profiles — built so the FLOATING-POINT result is
bit-deterministic across partitionings and engines, which is what lets
each ship an exact DuckDB oracle instead of a tolerance check:

* every sum/moment is an INTEGER aggregate (order-independent);
* products that could exceed int64 at 10^12-row group sizes run in
  decimal(38,0) (Spark) / HUGEINT (DuckDB) — both exact;
* exactly ONE double expression per output value, in a fixed order
  (cast exact ints → divide / sqrt → floor to ppm fixed-point).

All three are single groupBy aggregations with map-side partial
combine — the canonical "shuffle carries O(groups) rows, not O(input)"
shape (the same reason the tier cascade re-aggregates partials,
operators/rollup.py).

Reference analog: the reference's per-variable image statistics are
fixed-decimals asserted to 4 places in its tests
(/root/reference/tests/test_ICreshuffle.py:52); here the fixed-point
discipline is pushed into the operators so the assertions can be
EXACT.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from smos_spark.functions.joins import null_safe_join

__all__ = [
    "autocorrelation",
    "concentration",
    "grouped_pearson",
    "grouped_spearman",
    "histogram",
    "hourly_profile",
    "lagged_crosscorr",
    "longest_streak",
    "max_drawdown",
    "standardize",
    "top_movers",
    "winsorized_stats",
]

_DEC = "decimal(38,0)"


def grouped_pearson(
    df: DataFrame,
    x: str,
    y: str,
    group_cols: list[str],
    out_col: str = "corr_ppm",
) -> DataFrame:
    """Pearson correlation of two INTEGER columns per group, emitted as
    floor(corr·1e6) (ppm fixed point; NULL when either side is
    constant or the group has < 2 rows).

    corr = (n·Σxy − Σx·Σy) / √((n·Σx² − (Σx)²)·(n·Σy² − (Σy)²)) over
    decimal(38,0): each value is cast to decimal before it is squared
    or multiplied, so the products and moments are exact integers for
    any int64 input while n·max|x| and n·max|y| stay below ~10^19
    (then n·Σx² ≤ (n·max|x|)² < 10^38): a 10^12-row group with |x| up
    to ~10^7, or a 3-row group with |x| up to ~3·10^18. Beyond that
    Spark's ANSI mode raises ARITHMETIC_OVERFLOW rather than returning
    a wrong value. Quantize floats first (e.g. floor(v·100)). The only
    doubles are the final division's operands (exact while the
    decimals are < 2^53 — always true at the sf scales the oracle
    checks; beyond that the decimal→double rounding is still
    deterministic round-to-nearest).

    One aggregation, map-side partials; no window, no join."""
    xd = F.col(x).cast("long").cast(_DEC)
    yd = F.col(y).cast("long").cast(_DEC)
    agg = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(xd).alias("_sx"),
        F.sum(yd).alias("_sy"),
        F.sum(xd * xd).alias("_sxx"),
        F.sum(yd * yd).alias("_syy"),
        F.sum(xd * yd).alias("_sxy"),
    )
    n = F.col("_n").cast(_DEC)
    sx, sy = F.col("_sx"), F.col("_sy")
    num = n * F.col("_sxy") - sx * sy
    d1 = n * F.col("_sxx") - sx * sx
    d2 = n * F.col("_syy") - sy * sy
    corr = F.when(
        (d1 > 0) & (d2 > 0),
        num.cast("double") / F.sqrt(d1.cast("double") * d2.cast("double")),
    )
    return agg.select(
        *group_cols,
        F.col("_n").alias("n_pairs"),
        F.floor(corr * 1_000_000).cast("long").alias(out_col),
    )


def histogram(
    df: DataFrame,
    value_col: str,
    width: float,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Fixed-width value histogram per group: bin = floor(value/width)
    (one double division — identical everywhere), count per
    (group, bin). One map-side-combined aggregation; the shuffle is
    O(groups·bins) whatever the input size — the fixed-size-state
    family again (cf. operators/sketch.py). NULL values are excluded
    (they have no bin)."""
    if width <= 0:
        raise ValueError("width must be > 0")
    group_cols = list(group_cols or [])
    b = F.floor(F.col(value_col).cast("double") / F.lit(float(width))).cast("long")
    return (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*group_cols, b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("bin_lo", (F.col("bin").cast("double") * F.lit(float(width))))
    )


def hourly_profile(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str | None = None,
    group_cols: list[str] | None = None,
    cents: int = 100,
) -> DataFrame:
    """Calendar seasonality: event count (and mean value in ppm) per
    (group, day-of-week, hour-of-day).

    dow/hour come from pure integer epoch-µs arithmetic —
    dow = (epoch_days + 4) % 7 with 0=Sunday (1970-01-01 was a
    Thursday) — NOT from the engines' dayofweek(), whose numbering
    conventions differ (Spark: 1=Sunday; DuckDB dow: 0=Sunday; ISO
    variants elsewhere). The mean aggregates floor(value·cents) as
    int64 and performs one double division chain at the end, so the
    ppm output is bit-identical cross-engine. One aggregation,
    map-side partials, output bounded by groups·168 rows."""
    group_cols = list(group_cols or [])
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    # exact integer division: (us - us%N)/N divides an exact multiple,
    # so the double quotient is the true integer — a bare floor(us/N)
    # could round across a boundary for timestamps within ~0.4 µs of
    # midnight, while the DuckDB twin's `//` is true integer division.
    day_us, hour_us = 86_400_000_000, 3_600_000_000
    days = ((us - F.pmod(us, F.lit(day_us))) / F.lit(day_us)).cast("long")
    hours = ((us - F.pmod(us, F.lit(hour_us))) / F.lit(hour_us)).cast("long")
    dow = F.pmod(days + 4, F.lit(7)).cast("int")
    hour = F.pmod(hours, F.lit(24)).cast("int")
    base = df.select(
        *group_cols, dow.alias("dow"), hour.alias("hour"),
        *(
            [F.floor(F.col(value_col).cast("double") * cents).cast("long").alias("_vc")]
            if value_col
            else []
        ),
    )
    aggs: list[Column] = [F.count(F.lit(1)).alias("n")]
    if value_col:
        aggs.append(F.sum("_vc").alias("_svc"))
    out = base.groupBy(*group_cols, "dow", "hour").agg(*aggs)
    if value_col:
        mean_ppm = F.floor(
            F.col("_svc").cast("double")
            / F.col("n").cast("double")
            / F.lit(float(cents))
            * 1_000_000
        ).cast("long")
        out = out.withColumn("mean_ppm", mean_ppm).drop("_svc")
    return out


def autocorrelation(
    df: DataFrame,
    value_col: str,
    lag: int = 1,
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
    tie_cols: list[str] | None = None,
    out_col: str = "acf_ppm",
) -> DataFrame:
    """Lag-k sample autocorrelation per key: Pearson between v_t and
    v_{t-k} over consecutive samples in (ts, *tie_cols) order —
    exactly `grouped_pearson` on lag-paired rows, so the same
    exact-integer-moment / one-double-chain / ppm-floor discipline
    (and the same exact DuckDB oracle shape) applies. The value column
    must already be integer-quantized (floor(v*100) etc.), like every
    stats input here.

    Output: key cols, n_pairs (samples with a lag-k predecessor),
    acf_ppm (NULL when either side is constant or n_pairs < 2).

    Plan: one per-key ordered window for the lag, then one
    map-side-combined aggregation. There is no hot-key twin: a key's
    samples sort in one partition, so this relies on the bounded-group
    contract, as `interval_coverage` does — key by (entity, calendar
    unit) when one entity's series is too long for one task.
    """
    if lag < 1:
        raise ValueError("lag must be >= 1")
    from pyspark.sql.window import Window

    keys = list(key_cols or ["conv_id"])
    ties = list(tie_cols or [])
    w = Window.partitionBy(*keys).orderBy(
        F.col(ts_col), *[F.col(t) for t in ties]
    )
    v = F.col(value_col).cast("long")
    paired = (
        df.where(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
        .select(*keys, F.col(ts_col), *[F.col(t) for t in ties], v.alias("_y"))
        .withColumn("_x", F.lag("_y", lag).over(w))
        .where(F.col("_x").isNotNull())
    )
    return grouped_pearson(paired, "_x", "_y", keys, out_col=out_col)


def lagged_crosscorr(
    df: DataFrame,
    series_col: str,
    x_series: str,
    y_series: str,
    ts_col: str = "ts",
    value_col: str = "value",
    width_sec: float = 3600.0,
    lag_buckets: int = 1,
    group_cols: list[str] | None = None,
    cents: int = 100,
    out_col: str = "xcorr_ppm",
) -> DataFrame:
    """Lead/lag cross-correlation between two named series: the
    Pearson correlation of series-x's per-bucket total at time t with
    series-y's total at t + lag_buckets (does `x_series` activity
    anticipate `y_series` activity `lag_buckets` buckets later?).
    `autocorrelation`'s two-stream generalization — lag 0 with
    x_series == y_series degenerates to a constant 1.

    Per (group, bucket) both series are reduced to exact integer cent
    sums; x buckets are paired with y buckets shifted back by the lag
    (INNER join — only co-observed bucket pairs correlate; gap-fill
    first if silent buckets should count as zero), and the pairs feed
    the same exact decimal(38,0) moment formula as `grouped_pearson`,
    emitted as floor(corr·1e6) ppm with the identical one-double
    expression. Per-bucket sums must stay < ~2^31 for the int64
    pre-aggregation products (quantize coarser or shorten buckets
    otherwise).

    Plan: one map-side-combined aggregation over (group, bucket,
    series) — shuffle carries O(groups·buckets) rows, never O(input) —
    then a self-equi-join of that bounded table on (group, shifted
    bucket) and one more bounded Pearson aggregation. The raw side is
    scanned once and never window-sorted.
    """
    if lag_buckets < 0:
        raise ValueError("lag_buckets must be >= 0 (swap the series)")
    width_us = int(round(width_sec * 1_000_000))
    if width_us <= 0:
        raise ValueError(f"width_sec must be positive, got {width_sec}")
    groups = list(group_cols or [])
    v = F.floor(F.col(value_col) * cents).cast("long")
    # integer `div`, never a double division: a quotient one ulp above
    # an integer boundary would bucket-split the engines (post-epoch
    # timestamps are positive, so truncating div == floor on both)
    bucket = F.expr(
        f"unix_micros(cast({ts_col} as timestamp)) div {width_us}L"
    )
    base = (
        df.where(
            F.col(ts_col).isNotNull()
            & F.col(value_col).isNotNull()
            & F.col(series_col).isin(x_series, y_series)
        )
        .groupBy(*groups, F.col(series_col).alias("_s"), bucket.alias("_b"))
        .agg(F.sum(v).alias("_c"))
    )
    xs = base.where(F.col("_s") == x_series).select(
        *groups, F.col("_b"), F.col("_c").alias("_x")
    )
    ys = base.where(F.col("_s") == y_series).select(
        *groups,
        (F.col("_b") - F.lit(lag_buckets)).alias("_b"),
        F.col("_c").alias("_y"),
    )
    pairs = xs.join(ys, [*groups, "_b"])
    return grouped_pearson(pairs, "_x", "_y", groups, out_col=out_col)


def grouped_spearman(
    df: DataFrame,
    x: str,
    y: str,
    group_cols: list[str],
    out_col: str = "rho_ppm",
) -> DataFrame:
    """Spearman rank correlation of two INTEGER columns per group,
    emitted as floor(rho·1e6) — `grouped_pearson` applied to DOUBLED
    average ranks, which keeps the tie-handling exact: the average
    rank of a tie run [r, r+c−1] is r + (c−1)/2, a half-integer, so
    2·avg_rank = 2·rank + c − 1 is always an int64 (rank = min-rank
    over the group, c = the run's tie count). Pearson over the doubled
    ranks equals Pearson over the ranks (correlation is
    scale-invariant), so the standard tie-corrected Spearman rho comes
    out of the same exact-integer-moment / one-double-chain machinery
    as `grouped_pearson` — no float rank, no approximation.

    Ranks are ≤ n per group, so the decimal(38,0) cross products stay
    exact far beyond any real group size (n up to ~10^9 keeps
    n·Σr² < 10^37).

    Plan: one Exchange on the group columns feeding two in-partition
    Sorts (the rank windows for x and y), then the bounded Pearson
    aggregation — the per-group sort makes this the documented
    bounded-group contract (group by (key, calendar unit), as
    theil_sen_slope does), not an arbitrarily-hot-key operator.
    """
    from pyspark.sql.window import Window

    base = df.where(F.col(x).isNotNull() & F.col(y).isNotNull()).select(
        *group_cols,
        F.col(x).cast("long").alias("_xv"),
        F.col(y).cast("long").alias("_yv"),
    )
    ranked = base
    for col, out in (("_xv", "_rx2"), ("_yv", "_ry2")):
        wr = Window.partitionBy(*group_cols).orderBy(col)
        wt = Window.partitionBy(*group_cols, col)
        ranked = ranked.withColumn(
            out,
            (
                F.lit(2) * F.rank().over(wr)
                + F.count(F.lit(1)).over(wt)
                - F.lit(1)
            ).cast("long"),
        )
    return grouped_pearson(ranked, "_rx2", "_ry2", group_cols, out_col=out_col)


def winsorized_stats(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    lo_pct: int = 5,
    hi_pct: int = 95,
) -> DataFrame:
    """Winsorized integer aggregate per group: clip every value into
    [p_lo, p_hi] before summing, where p_q is the ELEMENT at the
    deterministic 1-indexed position (n−1)·q div 100 + 1 of the
    group's ascending sort (the "lower" empirical quantile — always a
    member of the set, never an interpolation, so the whole pipeline
    stays in int64 and both engines agree bit-for-bit; same selection
    discipline as theil_sen_slope's lower median). Equal values make
    the position→value map deterministic regardless of row_number's
    tie permutation, because the order column IS the value.

    Output per group: n, lo_cents / hi_cents (the clip thresholds),
    winsor_sum (Σ of clipped values, exact int64) and winsor_mean_ppm
    (ONE double division of two exact ints, floored to ppm — the
    outlier-robust mean a monitoring dashboard plots instead of the
    raw mean). Input must already be integer-quantized
    (floor(v·cents), like every stats operator here).

    Plan: one Exchange on the group columns, one in-partition Sort
    shared by the row_number and the conditional-pick window
    aggregates, then one map-side-combined final aggregation — the
    bounded-group contract (group by (key, calendar unit)).
    """
    from pyspark.sql.window import Window

    if not (0 <= lo_pct <= hi_pct <= 100):
        raise ValueError("need 0 <= lo_pct <= hi_pct <= 100")
    v = F.col(value_col).cast("long")
    base = df.where(v.isNotNull()).select(*group_cols, v.alias("_v"))
    wo = Window.partitionBy(*group_cols).orderBy("_v")
    wg = Window.partitionBy(*group_cols)
    ranked = base.select(
        *group_cols,
        F.col("_v"),
        F.row_number().over(wo).alias("_rn"),
        F.count(F.lit(1)).over(wg).alias("_n"),
    )
    # (n-1)*q div 100 + 1 in pure integer arithmetic (non-negative, so
    # pmod-subtract division is the true integer quotient)
    def _pos(q: int) -> Column:
        prod = (F.col("_n") - F.lit(1)) * F.lit(q)
        return ((prod - F.pmod(prod, F.lit(100))) / F.lit(100)).cast(
            "long"
        ) + F.lit(1)

    picked = ranked.select(
        *group_cols,
        F.col("_v"),
        F.max(F.when(F.col("_rn") == _pos(lo_pct), F.col("_v"))).over(wg).alias("_lo"),
        F.max(F.when(F.col("_rn") == _pos(hi_pct), F.col("_v"))).over(wg).alias("_hi"),
    )
    clipped = F.greatest(F.least(F.col("_v"), F.col("_hi")), F.col("_lo"))
    agg = picked.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("_lo").alias("lo_cents"),
        F.min("_hi").alias("hi_cents"),
        F.sum(clipped).alias("winsor_sum"),
    )
    mean_ppm = F.floor(
        F.col("winsor_sum").cast("double")
        / F.col("n").cast("double")
        * 1_000_000
    ).cast("long")
    return agg.withColumn("winsor_mean_ppm", mean_ppm)


def max_drawdown(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    ts_col: str = "ts",
    tie_cols: list[str] | None = None,
) -> DataFrame:
    """Per-group maximum drawdown: the largest peak-to-trough drop of
    an INTEGER series in time order — max_t(cummax_{≤t}(v) − v_t), the
    standard worst-regression statistic for any monitored gauge
    (success rates, throughput, account balances). Also emits the
    running peak (max), the trough value at the worst drop, and the
    drop's timestamp — the first time the maximum drawdown is attained
    (earliest ts, then tie columns, a deterministic pick in both
    engines).

    All arithmetic is int64: one cumulative-max window over the
    (ts, *ties) order, a subtraction, then one ordered pick via
    row_number over (drawdown DESC, ts ASC, ties ASC). Groups are the
    usual bounded (key, calendar unit); two window frames and the
    final filter share ONE Exchange.

    Input must already be integer-quantized (floor(v·cents))."""
    from pyspark.sql.window import Window

    ties = list(tie_cols or [])
    v = F.col(value_col).cast("long")
    base = df.where(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(*group_cols, F.col(ts_col), *[F.col(t) for t in ties], v.alias("_v"))
    wo = Window.partitionBy(*group_cols).orderBy(
        F.col(ts_col), *[F.col(t) for t in ties]
    )
    peaked = base.withColumn(
        "_peak",
        F.max("_v").over(wo.rowsBetween(Window.unboundedPreceding, 0)),
    ).withColumn("_dd", F.col("_peak") - F.col("_v"))
    pick = Window.partitionBy(*group_cols).orderBy(
        F.col("_dd").desc(),
        F.col(ts_col),
        *[F.col(t) for t in ties],
    )
    return (
        peaked.withColumn("_rn", F.row_number().over(pick))
        .where(F.col("_rn") == 1)
        .select(
            *group_cols,
            F.col("_dd").alias("max_drawdown"),
            F.col("_peak").alias("peak_at_trough"),
            F.col("_v").alias("trough"),
            F.col(ts_col).alias("trough_ts"),
        )
    )


def longest_streak(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    ts_col: str = "ts",
    tie_cols: list[str] | None = None,
    direction: str = "up",
    strict: bool = True,
) -> DataFrame:
    """Per-group longest monotonic run: the maximum number of
    CONSECUTIVE samples (time order) whose integer values keep
    rising (direction="up") or falling ("down"); strict=False allows
    plateaus to extend a run. Gaps-and-islands on the sign of the
    first difference — a lag window flags run breaks, a running sum
    numbers the runs, and two bounded aggregations count them.

    Output per group: n_samples, longest_streak (run LENGTH in
    samples; a single sample is a run of 1), n_streaks (number of
    maximal runs). Everything is int64 comparisons — exact in both
    engines. One Exchange feeds the lag window, the island window,
    and both aggregations (bounded-group contract, as everywhere).
    """
    from pyspark.sql.window import Window

    if direction not in ("up", "down"):
        raise ValueError(f"direction must be up|down, got {direction!r}")
    ties = list(tie_cols or [])
    v = F.col(value_col).cast("long")
    base = df.where(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(*group_cols, F.col(ts_col), *[F.col(t) for t in ties], v.alias("_v"))
    wo = Window.partitionBy(*group_cols).orderBy(
        F.col(ts_col), *[F.col(t) for t in ties]
    )
    prev = F.lag("_v").over(wo)
    if direction == "up":
        keeps = (F.col("_v") > prev) if strict else (F.col("_v") >= prev)
    else:
        keeps = (F.col("_v") < prev) if strict else (F.col("_v") <= prev)
    breaks = F.when(prev.isNull() | ~keeps, F.lit(1)).otherwise(F.lit(0))
    runs = base.withColumn("_brk", breaks).withColumn(
        "_run",
        F.sum("_brk").over(wo.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_run = runs.groupBy(*group_cols, "_run").agg(
        F.count(F.lit(1)).alias("_len")
    )
    return per_run.groupBy(*group_cols).agg(
        F.sum("_len").alias("n_samples"),
        F.max("_len").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


def concentration(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Concentration of a non-negative INTEGER measure across the rows
    of each group — two standard inequality indices, both emitted as
    exact int64 rationals (numerator, denominator) so the contract
    never touches a float:

    * Gini (population form, ascending sort, ties broken arbitrarily —
      the index value is tie-invariant because equal values contribute
      symmetric rank sums):
          gini = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx)
      emitted as the exact int64 rational (gini_num, gini_den);
    * Herfindahl–Hirschman index  HHI = Σ x_i² / (Σx)², emitted as
      floor(HHI·1e6) — no sort needed, pure map-side integer sums
      (decimal(38,0) for the squares), ONE double division chain
      (grouped_pearson's documented fixed-point discipline).

    Rows with NULL or negative values are excluded (shares are
    undefined); groups whose total is 0 are dropped. The Gini rank
    products i·x stay int64 under the bounded-group contract
    (i ≤ per-unit n). Plan: one Exchange for the rank window (Gini
    needs the sorted prefix products), aggregations reuse it.
    """
    from pyspark.sql.window import Window

    group_cols = list(group_cols or [])
    v = F.col(value_col).cast("long")
    base = df.where(F.col(value_col).isNotNull() & (v >= 0)).select(
        *group_cols, v.alias("_v")
    )
    wo = Window.partitionBy(*group_cols).orderBy("_v")
    ranked = base.withColumn("_i", F.row_number().over(wo))
    agg = ranked.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_v").alias("_sx"),
        F.sum(F.col("_i") * F.col("_v")).alias("_six"),
        F.sum(F.col("_v").cast(_DEC) * F.col("_v").cast(_DEC)).alias("_sxx"),
    )
    gini_num = F.lit(2) * F.col("_six") - (F.col("n") + 1) * F.col("_sx")
    gini_den = F.col("n") * F.col("_sx")
    hhi_den = F.col("_sx").cast(_DEC) * F.col("_sx").cast(_DEC)
    hhi_ppm = F.floor(
        F.col("_sxx").cast("double") / hhi_den.cast("double") * 1_000_000
    ).cast("long")
    return agg.where(F.col("_sx") > 0).select(
        *group_cols,
        F.col("n"),
        F.col("_sx").alias("total"),
        gini_num.cast("long").alias("gini_num"),
        gini_den.cast("long").alias("gini_den"),
        hhi_ppm.alias("hhi_ppm"),
    )


def standardize(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    out_col: str = "z_ppm",
) -> DataFrame:
    """Per-row z-score against the row's group (population σ), the
    standard feature-scaling transform of a training-data pipeline,
    emitted as floor(z·1e6):

        z = (x − μ)/σ_pop = (n·x − S) / √(n·Q − S²)

    — numerator and radicand are EXACT integer/decimal aggregates
    (S = Σx, Q = Σx² in decimal(38,0)), so the only floats are the
    final fixed-order chain (cast → sqrt → divide → floor), bit-equal
    cross-engine. Rows in constant or single-row groups get NULL
    (σ = 0). A NULL group value is a group like any other: the moments
    join back null-safely. Input must be integer-quantized.

    Plan: one map-side-combined aggregation to O(groups) moment rows,
    broadcast-joined back onto the stream — the raw side is never
    shuffled (seasonal_anomaly's zero-row-shuffle shape). All input
    columns pass through with the score appended.
    """
    v = F.col(value_col).cast("long")
    moments = (
        df.where(v.isNotNull())
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("_zn"),
            F.sum(v.cast(_DEC)).alias("_zs"),
            F.sum(v.cast(_DEC) * v.cast(_DEC)).alias("_zq"),
        )
    )
    joined = null_safe_join(df, F.broadcast(moments), group_cols, "left")
    num = F.col("_zn").cast(_DEC) * v.cast(_DEC) - F.col("_zs")
    rad = (
        F.col("_zn").cast(_DEC) * F.col("_zq")
        - F.col("_zs") * F.col("_zs")
    )
    z = F.when(
        rad > 0,
        num.cast("double") / F.sqrt(rad.cast("double")),
    )
    # group columns first, as a join on column names orders them
    rest = [c for c in df.columns if c not in group_cols]
    return joined.select(
        *group_cols, *rest, F.floor(z * 1_000_000).cast("long").alias(out_col)
    )


def top_movers(
    df: DataFrame,
    value_col: str,
    key_col: str,
    ts_col: str = "ts",
    width_sec: int = 86400,
    k: int = 5,
) -> DataFrame:
    """Biggest bucket-over-bucket movers: for every time bucket, the
    k keys whose total changed the most in absolute terms vs their
    previous ACTIVE bucket — the "what just spiked/crashed" dashboard
    panel. Deterministic rank: (|Δ| DESC, Δ DESC, key ASC).

    Δ compares a key's consecutive ACTIVE buckets (lag over the key's
    own bucket series — a silent bucket is skipped, not zero-filled;
    callers wanting dense deltas should gap-fill first). All sums and
    deltas are exact int64; the only per-row work after the bucket
    reduction is a lag and a rank over the O(keys·buckets) counter
    table — the raw stream is reduced map-side and never
    window-sorted.

    Output: bucket_start, key, cur (bucket total), prev, delta, rank.
    """
    from pyspark.sql.window import Window

    if width_sec <= 0:
        raise ValueError("width_sec must be positive")
    if k <= 0:
        raise ValueError("k must be positive")
    width_us = int(width_sec) * 1_000_000
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    b = ((us - F.pmod(us, F.lit(width_us))) / F.lit(width_us)).cast("long")
    v = F.col(value_col).cast("long")
    totals = (
        df.where(F.col(ts_col).isNotNull() & v.isNotNull())
        .groupBy(F.col(key_col).alias("key"), b.alias("_b"))
        .agg(F.sum(v).alias("cur"))
    )
    wk = Window.partitionBy("key").orderBy("_b")
    with_prev = totals.withColumn("prev", F.lag("cur").over(wk)).where(
        F.col("prev").isNotNull()
    ).withColumn("delta", F.col("cur") - F.col("prev"))
    wr = Window.partitionBy("_b").orderBy(
        F.abs(F.col("delta")).desc(), F.col("delta").desc(), F.col("key")
    )
    return (
        with_prev.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= k)
        .select(
            F.timestamp_micros(F.col("_b") * F.lit(width_us)).alias(
                "bucket_start"
            ),
            "key",
            "cur",
            "prev",
            "delta",
            "rank",
        )
    )
