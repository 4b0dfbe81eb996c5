"""SLO error-budget burn-rate alerts over the event stream.

The multiwindow, multi-burn-rate alert policy (Google SRE workbook
ch. 5, public): an alert fires only when the error-budget burn rate
exceeds its threshold over BOTH a short window (recency — the page
stops quickly once the problem stops) and a long window (severity —
one bad minute cannot page).  This is the canonical *derived alert
series* a retention-tier engine computes from its rolled-up counters,
the same tier discipline as operators/anomaly.py.

Exactness contract (house rules, see operators/anomaly.py):

* the only inputs are integer COUNTS per fixed bucket (`total`,
  `errors`) — no ratios are materialized before the comparison;
* burn rate  errors/total / (budget_ppm/10^6)  >  num/den  is decided
  by the cross-multiplied INTEGER inequality
      errors · 10^6 · den  >  total · budget_ppm · num
  evaluated in decimal(38,0) (Spark) / HUGEINT (DuckDB) so it stays
  exact at 10^12-row scale;
* the display columns `burn_fast_ppm` / `burn_slow_ppm` are
  floor(burn · 10^6) computed with the IDENTICAL double expression in
  both engines (same operands, same order — bit-equal, so the floor
  is equal), matching the xcorr_ppm convention in operators/stats.py.

Long windows are rolling sums over the SHORT buckets via a
rangeBetween frame on the integer bucket index, so bucket gaps (no
traffic) shorten the long sum instead of silently stretching it —
rows-between would be wrong on sparse series.

Scale: one groupBy down to (key, bucket) counters — the raw stream is
scanned once and reduced map-side; the window exchange afterwards
moves only O(keys · buckets) counter rows, never raw events.

Reference analog: the reference's per-day RFI/quality-flag fraction
screens (/root/reference/src/smos/smos_l2/reshuffle.py:60-75) are
exactly this shape — a ratio-of-counters health signal per time
bucket; at tier scale it becomes a windowed burn-rate policy.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from smos_spark.functions.timegrid import bucket_index, bucket_start, floor_ts, to_us

__all__ = ["apdex", "slo_burn_rate", "slo_stream", "error_budget"]

_DEC = "decimal(38,0)"


def _dec(col):
    return col.cast(_DEC)


def slo_burn_rate(
    df: DataFrame,
    is_error_col: str,
    ts_col: str = "ts",
    key_cols: Sequence[str] = (),
    short_sec: float = 3600,
    long_buckets: int = 6,
    budget_ppm: int = 250_000,
    fast_num: int = 6,
    fast_den: int = 5,
    slow_num: int = 21,
    slow_den: int = 20,
) -> DataFrame:
    """Multiwindow multi-burn-rate SLO alerts per key.

    Parameters mirror the SRE-workbook policy: `budget_ppm` is the
    error budget 1−SLO in parts-per-million (250_000 = a 75 % SLO);
    the fast policy fires when the burn rate over ONE short bucket
    exceeds fast_num/fast_den, the slow policy when the burn over the
    trailing `long_buckets` buckets exceeds slow_num/slow_den; `alert`
    is 1 only when BOTH fire (the multiwindow AND).

    Output: one row per (key, bucket) with the short/long counters,
    floor-ppm burn rates, and the integer-exact `fast_exceeded`,
    `slow_exceeded`, `alert` flags (0/1 bigint).
    """
    if not 0 < budget_ppm <= 1_000_000:
        raise ValueError(f"budget_ppm must be in (0, 10^6], got {budget_ppm}")
    if long_buckets < 1:
        raise ValueError(f"long_buckets must be >= 1, got {long_buckets}")
    if min(fast_num, fast_den, slow_num, slow_den) <= 0:
        raise ValueError("burn-rate thresholds must be positive rationals")
    keys = list(key_cols)

    width_us = to_us(short_sec, "short_sec")
    bucket = bucket_index(ts_col, width_us)
    counters = (
        df.where(F.col(ts_col).isNotNull())
        .groupBy(*keys, bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(
                F.when(F.col(is_error_col), F.lit(1)).otherwise(F.lit(0))
            ).alias("errors"),
        )
    )

    w = (
        Window.partitionBy(*keys)
        .orderBy("bucket")
        .rangeBetween(-(int(long_buckets) - 1), 0)
    )
    long_total = F.sum("total").over(w)
    long_errors = F.sum("errors").over(w)

    def _exceeded(err, tot, num, den):
        lhs = _dec(err) * _dec(F.lit(1_000_000)) * _dec(F.lit(int(den)))
        rhs = _dec(tot) * _dec(F.lit(int(budget_ppm))) * _dec(F.lit(int(num)))
        return F.when(lhs > rhs, F.lit(1)).otherwise(F.lit(0)).cast("long")

    def _ppm(err, tot):
        # identical double expression both engines; floor of bit-equal
        # doubles is equal (xcorr_ppm convention)
        burn = (
            err.cast("double")
            * F.lit(1_000_000.0)
            / (tot.cast("double") * F.lit(float(budget_ppm)))
        )
        return F.floor(burn * F.lit(1_000_000.0)).cast("long")

    out = (
        counters.withColumn("long_total", long_total)
        .withColumn("long_errors", long_errors)
        .withColumn("bucket_ts", bucket_start("bucket", width_us))
        .withColumn("burn_fast_ppm", _ppm(F.col("errors"), F.col("total")))
        .withColumn(
            "burn_slow_ppm", _ppm(F.col("long_errors"), F.col("long_total"))
        )
        .withColumn(
            "fast_exceeded",
            _exceeded(F.col("errors"), F.col("total"), fast_num, fast_den),
        )
        .withColumn(
            "slow_exceeded",
            _exceeded(
                F.col("long_errors"), F.col("long_total"), slow_num, slow_den
            ),
        )
        .withColumn(
            "alert",
            (F.col("fast_exceeded") * F.col("slow_exceeded")).cast("long"),
        )
    )
    return out.select(
        *keys,
        "bucket",
        "bucket_ts",
        "total",
        "errors",
        "long_total",
        "long_errors",
        "burn_fast_ppm",
        "burn_slow_ppm",
        "fast_exceeded",
        "slow_exceeded",
        "alert",
    )


def error_budget(
    df: DataFrame,
    is_error_col: str,
    ts_col: str = "ts",
    key_cols: Sequence[str] = (),
    short_sec: float = 3600,
    budget_ppm: int = 250_000,
) -> DataFrame:
    """Month-to-date error-budget accounting per key — the report
    companion to `slo_burn_rate`'s paging policy (SRE workbook ch. 2,
    public): how much of the month's budget is burned at each bucket.

    Per (key, calendar month, bucket): the bucket counters, the
    month-to-date cumulative counters, the MTD burn in floor-ppm (the
    identical double expression as slo_burn_rate — bit-equal), the
    EXACT integer margin

        budget_margin = cum_total · budget_ppm − cum_errors · 10⁶

    (positive = budget left, in "ppm-events"; computed in
    decimal(38,0) and emitted as int64 — exact while
    cum_total · budget_ppm < 2⁶³, i.e. up to ~9·10¹² rows per
    key-month at the default budget), and the integer-exact
    `exhausted` flag (margin < 0, decided on the decimal, never the
    double).  The cumulative frame is rowsBetween over the non-empty
    buckets — gaps contribute nothing to a cumulative sum, so unlike
    the burn-rate long window no range frame is needed.

    Scale: same shape as slo_burn_rate — one map-side reduction to
    (key, month, bucket) counters, then a cumulative window over the
    O(keys·buckets) counter table only.
    """
    if not 0 < budget_ppm <= 1_000_000:
        raise ValueError(f"budget_ppm must be in (0, 10^6], got {budget_ppm}")
    keys = list(key_cols)
    width_us = to_us(short_sec, "short_sec")
    bucket = bucket_index(ts_col, width_us)
    counters = (
        df.where(F.col(ts_col).isNotNull())
        .groupBy(
            *keys,
            F.date_trunc("month", F.col(ts_col)).alias("month"),
            bucket.alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(
                F.when(F.col(is_error_col), F.lit(1)).otherwise(F.lit(0))
            ).alias("errors"),
        )
    )
    w = (
        Window.partitionBy(*keys, "month")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    margin = _dec(F.col("cum_total")) * _dec(F.lit(int(budget_ppm))) - _dec(
        F.col("cum_errors")
    ) * _dec(F.lit(1_000_000))
    burn = (
        F.col("cum_errors").cast("double")
        * F.lit(1_000_000.0)
        / (F.col("cum_total").cast("double") * F.lit(float(budget_ppm)))
    )
    return (
        counters.withColumn("cum_total", F.sum("total").over(w))
        .withColumn("cum_errors", F.sum("errors").over(w))
        .withColumn("bucket_ts", bucket_start("bucket", width_us))
        .withColumn(
            "burn_mtd_ppm",
            F.floor(burn * F.lit(1_000_000.0)).cast("long"),
        )
        .withColumn("budget_margin", margin.cast("long"))
        .withColumn(
            "exhausted",
            F.when(margin < F.lit(0).cast(_DEC), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .select(
            *keys,
            "month",
            "bucket",
            "bucket_ts",
            "total",
            "errors",
            "cum_total",
            "cum_errors",
            "burn_mtd_ppm",
            "budget_margin",
            "exhausted",
        )
    )


def slo_stream(
    stream: DataFrame,
    is_error_col: str,
    ts_col: str = "ts",
    key_cols: Sequence[str] = (),
    short_sec: float = 3600,
    long_buckets: int = 6,
    budget_ppm: int = 250_000,
    fast_num: int = 6,
    fast_den: int = 5,
    slow_num: int = 21,
    slow_den: int = 20,
    watermark: str = "1 hour",
):
    """Structured Streaming twin of `slo_burn_rate` (§2.8 parity, the
    cusum_stream / des_stream incremental-path contract).

    State per key is the trailing `long_buckets` bucket counters —
    three parallel int64 arrays plus the last emitted bucket index, a
    fixed few hundred bytes — maintained across micro-batches via
    applyInPandasWithState.  A bucket's row is emitted exactly once,
    when a LATER bucket first appears for the key (the bucket is then
    closed), so the streaming output equals the batch output minus
    each key's final, still-open bucket — row-for-row IDENTICAL
    values (pinned in test_slo_stream_matches_batch): the ppm columns
    evaluate the same IEEE double expression (numpy float64 ==
    Spark double, operand order preserved) and the exceeded flags use
    arbitrary-precision Python ints, matching the batch decimal(38,0)
    cross-multiplication exactly.

    Within a micro-batch, raw rows reduce to per-bucket counters with
    one vectorized pandas groupby; long-window sums come from
    cumulative sums + searchsorted over the bounded counter arrays.
    The only Python-level iteration is the exceeded-flag comprehension
    over EMITTED COUNTER ROWS (one per closed bucket, never per raw
    row) — the same counter-table bound as the batch plan.  Rows whose
    bucket is at or before the key's last emitted bucket arrived too
    late to amend an already-published alert and are DROPPED — bound
    disorder with the source watermark, which also bounds how long a
    bucket can stay open.
    """
    if not 0 < budget_ppm <= 1_000_000:
        raise ValueError(f"budget_ppm must be in (0, 10^6], got {budget_ppm}")
    if long_buckets < 1:
        raise ValueError(f"long_buckets must be >= 1, got {long_buckets}")
    if min(fast_num, fast_den, slow_num, slow_den) <= 0:
        raise ValueError("burn-rate thresholds must be positive rationals")
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    keys = list(key_cols)
    width_us = to_us(short_sec, "short_sec")
    nl = int(long_buckets)
    budget = int(budget_ppm)
    fn_, fd_, sn_, sd_ = int(fast_num), int(fast_den), int(slow_num), int(slow_den)

    src = (
        stream.where(F.col(ts_col).isNotNull())
        .withWatermark(ts_col, watermark)
        .select(
            *keys,
            F.col(ts_col),
            bucket_index(ts_col, width_us).alias("_bucket"),
            F.when(F.col(is_error_col), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("_err"),
        )
    )
    grp = keys if keys else [F.lit(0).alias("_g")]
    if not keys:
        src = src.withColumn("_g", F.lit(0))
        grp = ["_g"]

    key_fields = [f for f in src.schema.fields if f.name in keys]
    out_schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in key_fields)
        + (", " if key_fields else "")
        + "bucket long, bucket_ts timestamp, total long, errors long, "
        "long_total long, long_errors long, burn_fast_ppm long, "
        "burn_slow_ppm long, fast_exceeded long, slow_exceeded long, "
        "alert long"
    )
    state_schema = (
        "buckets array<long>, totals array<long>, errs array<long>, "
        "last_emitted long"
    )
    _NONE = -(1 << 62)  # sentinel: nothing emitted yet

    def _fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:  # pragma: no cover - NoTimeout configured
            state.remove()
            return iter([])
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return iter([])
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        g = pdf.groupby("_bucket")["_err"].agg(["count", "sum"])
        nb = g.index.to_numpy(dtype=np.int64)
        nt = g["count"].to_numpy(dtype=np.int64)
        ne = g["sum"].to_numpy(dtype=np.int64)
        if state.exists:
            sb, st, se, last_em = state.get
            sb = np.asarray(sb, dtype=np.int64)
            st = np.asarray(st, dtype=np.int64)
            se = np.asarray(se, dtype=np.int64)
        else:
            sb = st = se = np.empty(0, dtype=np.int64)
            last_em = _NONE
        keep = nb > last_em  # late data for a published bucket: dropped
        nb, nt, ne = nb[keep], nt[keep], ne[keep]
        if not len(nb):
            return iter([])
        # merge state + new counters (both already bucket-sorted)
        ab = np.concatenate([sb, nb])
        order = np.argsort(ab, kind="mergesort")
        ab = ab[order]
        at = np.concatenate([st, nt])[order]
        ae = np.concatenate([se, ne])[order]
        ub, inv = np.unique(ab, return_inverse=True)
        # exact int64 scatter-add (bincount's float64 weights would
        # round above 2^53)
        ut = np.zeros(len(ub), dtype=np.int64)
        ue = np.zeros(len(ub), dtype=np.int64)
        np.add.at(ut, inv, at)
        np.add.at(ue, inv, ae)

        mx = int(ub[-1])
        emit = (ub < mx) & (ub > last_em)
        new_last = int(ub[emit][-1]) if emit.any() else last_em
        if emit.any():
            ct = np.cumsum(ut)
            ce = np.cumsum(ue)
            idx = np.nonzero(emit)[0]
            lo = np.searchsorted(ub, ub[idx] - (nl - 1), side="left")
            lt = ct[idx] - np.where(lo > 0, ct[lo - 1], 0)
            le = ce[idx] - np.where(lo > 0, ce[lo - 1], 0)
            eb, et, ee = ub[idx], ut[idx], ue[idx]
            # ppm: IDENTICAL double expression as the batch plan
            bf = np.floor(
                ((ee.astype(np.float64) * 1_000_000.0)
                 / (et.astype(np.float64) * float(budget)))
                * 1_000_000.0
            ).astype(np.int64)
            bs = np.floor(
                ((le.astype(np.float64) * 1_000_000.0)
                 / (lt.astype(np.float64) * float(budget)))
                * 1_000_000.0
            ).astype(np.int64)
            # flags: arbitrary-precision ints over counter rows only
            fx = np.fromiter(
                (1 if int(e) * 1_000_000 * fd_ > int(t) * budget * fn_ else 0
                 for e, t in zip(ee.tolist(), et.tolist())),
                dtype=np.int64, count=len(eb),
            )
            sx = np.fromiter(
                (1 if int(e) * 1_000_000 * sd_ > int(t) * budget * sn_ else 0
                 for e, t in zip(le.tolist(), lt.tolist())),
                dtype=np.int64, count=len(eb),
            )
            out = pd.DataFrame(
                {
                    "bucket": eb,
                    "bucket_ts": pd.to_datetime(eb * width_us, unit="us"),
                    "total": et,
                    "errors": ee,
                    "long_total": lt.astype(np.int64),
                    "long_errors": le.astype(np.int64),
                    "burn_fast_ppm": bf,
                    "burn_slow_ppm": bs,
                    "fast_exceeded": fx,
                    "slow_exceeded": sx,
                    "alert": fx * sx,
                }
            )
            for i, kcol in enumerate(keys):
                out.insert(i, kcol, key[i])
        else:
            out = None
        # prune to the trailing window of the (still open) max bucket
        keep2 = ub > mx - nl
        state.update(
            (
                ub[keep2].tolist(),
                ut[keep2].tolist(),
                ue[keep2].tolist(),
                int(new_last),
            )
        )
        return iter([out]) if out is not None else iter([])

    return src.groupBy(*grp).applyInPandasWithState(
        _fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def apdex(
    df: DataFrame,
    latency_col: str,
    t_us: int,
    group_cols: list[str] | None = None,
    bucket_sec: float | None = 3600,
    ts_col: str = "ts",
) -> DataFrame:
    """Apdex score per (group, bucket): the Application Performance
    Index (public Apdex Alliance spec) — with target threshold T,
    samples are *satisfied* (latency ≤ T), *tolerating*
    (T < latency ≤ 4T) or *frustrated* (> 4T), and

        apdex = (satisfied + tolerating/2) / n .

    Kept exact by the ×2 trick: apdex_x2n = 2·satisfied + tolerating
    over a denominator of 2·n, both int64, emitted alongside the
    conventional floor-ppm score (ONE double division of two exact
    ints). ``t_us`` is the target in integer microseconds (> 0);
    latencies must already be integer µs (e.g. flow.response_latency
    output). NULL latencies are excluded; negative latencies count as
    satisfied (≤ T), callers should pre-filter if that is wrong.

    Plan: one map-side-combined aggregation — shuffle carries
    O(groups·buckets) rows of four int64 counters, never O(input).
    ``bucket_sec=None`` scores each group's lifetime instead of
    calendar buckets.
    """
    if t_us <= 0:
        raise ValueError("t_us must be a positive integer (microseconds)")
    groups = list(group_cols or [])
    lat = F.col(latency_col).cast("long")
    base = df.where(lat.isNotNull())
    keys: list = [*groups]
    if bucket_sec is not None:
        width_us = to_us(bucket_sec, "bucket_sec")
        base = base.where(F.col(ts_col).isNotNull()).withColumn(
            "_bkt", floor_ts(ts_col, width_us)
        )
        keys.append("_bkt")
    sat = F.sum(F.when(lat <= t_us, 1).otherwise(0)).alias("satisfied")
    tol = F.sum(
        F.when((lat > t_us) & (lat <= 4 * t_us), 1).otherwise(0)
    ).alias("tolerating")
    fru = F.sum(F.when(lat > 4 * t_us, 1).otherwise(0)).alias("frustrated")
    agg = base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"), sat, tol, fru
    )
    x2n = (F.lit(2) * F.col("satisfied") + F.col("tolerating")).alias(
        "apdex_x2n"
    )
    ppm = F.floor(
        (F.lit(2) * F.col("satisfied") + F.col("tolerating")).cast("double")
        / (F.lit(2) * F.col("n")).cast("double")
        * 1_000_000
    ).cast("long").alias("apdex_ppm")
    out = agg.select(*keys, "n", "satisfied", "tolerating", "frustrated", x2n, ppm)
    if bucket_sec is not None:
        out = out.withColumnRenamed("_bkt", "bucket_start")
    return out
