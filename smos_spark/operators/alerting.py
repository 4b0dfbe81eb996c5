"""Hysteresis (two-threshold) alerting over a per-key value series.

The standard monitoring raise/clear discipline (Nagios/Prometheus
`for:`-style alerting, classic Schmitt-trigger semantics, public
knowledge): an alert RAISES when the value crosses at or above the
high threshold and CLEARS only when it falls at or below the low
threshold — values in the (lo, hi) dead band keep the previous state,
so a series oscillating around a single threshold cannot flap.  This
is the derived alert-state series a retention-tier engine computes
from its gauges, the same alert family as operators/slo.py
(burn-rate) and operators/anomaly.py (statistical).

Semantics per key, rows ordered by (ts, *ties):

* classification  c_i = +1 if v_i >= hi, -1 if v_i <= lo, else NULL;
* state_i = last non-NULL c_j for j <= i, else the initial state 0
  (inactive) — a forward fill (LOCF) of the crossing events;
* ``alert_active`` = (state == +1);
* ``event`` = 'raise' on the first active row after an inactive one
  (or an initially-active first row), 'clear' on the converse, NULL
  otherwise.

Exactness: the only arithmetic is the two comparisons ``v >= hi`` /
``v <= lo`` on the raw column — IEEE comparisons with a constant are
bit-deterministic and identical across Spark and DuckDB, so the
output is exact with no cents scaling needed (house rules,
operators/anomaly.py module header).

Spark-first shape (batch): ONE window exchange on the key.  The LOCF
is ``last(c, ignorenulls=True)`` over rowsBetween(unboundedPreceding,
current) — the same engine-native forward fill as
`gapfill.forward_fill` — and the transition flag is one further
``lag`` over the SAME window partitioning, so Catalyst plans both in
a single sort+exchange (no second shuffle).  All expressions are
whole-stage-codegen; no UDF.

Scale: partition size is one key's full series — the same keyed-
ordered-window class as forward_fill/ewma.  Hysteresis state is
inherently sequential per key (each state depends on the previous
crossing), so the bucketed two-level decomposition used by
counter_rate_bucketed does NOT apply verbatim; for hot keys the
crossing rows are sparse, and the documented mitigation is to
pre-filter to crossing rows plus a per-bucket carry — not implemented
until a workload needs it (see operators/dispatch.py for the
auto-dispatch pattern).  A key's alert state is O(1); the streaming
twins are fold steps on streaming/fold.py's `keyed_fold_stream` (which
states their ordering and lateness contract) and run in bounded state
at any stream length.

Reference analog: the reference's quality-flag gating raises/clears a
per-cell usability verdict from threshold crossings of RFI fractions
(/root/reference/src/smos/smos_l2/reshuffle.py:60-75); at tier scale
the natural generalization is the stateful two-threshold alert.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from smos_spark.functions.timegrid import epoch_us, to_us
from smos_spark.streaming.fold import keyed_fold_stream, schema_ddl

__all__ = [
    "drawdown_alerts",
    "drawdown_alerts_stream",
    "hysteresis_alerts",
    "hysteresis_stream",
    "threshold_hold_alerts",
    "threshold_hold_stream",
]


def hysteresis_alerts(
    df: DataFrame,
    value_col: str,
    hi: float,
    lo: float,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    tie_cols: Sequence[str] = ("event_id",),
    events_only: bool = False,
) -> DataFrame:
    """Two-threshold raise/clear alert state per key (batch).

    Output: the input key/ts/tie/value columns plus
    ``alert_active`` (int 0/1) and ``event`` ('raise' | 'clear' |
    NULL).  ``events_only=True`` keeps only transition rows — the
    compact alert log.  Rows with NULL ts or NULL value are excluded
    (they carry no crossing information and no orderable position).
    """
    if not lo < hi:
        raise ValueError("need lo < hi (dead band between them)")
    keys = list(key_cols)
    ties = list(tie_cols)
    v = F.col(value_col)
    cls = F.when(v >= F.lit(hi), F.lit(1)).when(v <= F.lit(lo), F.lit(-1))
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(ts_col), *[F.col(t) for t in ties])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_lag = Window.partitionBy(*keys).orderBy(
        F.col(ts_col), *[F.col(t) for t in ties]
    )
    base = df.where(
        F.col(ts_col).isNotNull() & v.isNotNull()
    ).withColumn(
        "_state", F.coalesce(F.last(cls, ignorenulls=True).over(w), F.lit(0))
    )
    active = (F.col("_state") == 1).cast("int")
    prev_active = F.coalesce(
        (F.lag(F.col("_state")).over(w_lag) == 1).cast("int"), F.lit(0)
    )
    out = base.withColumn("alert_active", active).withColumn(
        "event",
        F.when((active == 1) & (prev_active == 0), F.lit("raise")).when(
            (active == 0) & (prev_active == 1), F.lit("clear")
        ),
    ).drop("_state")
    if events_only:
        out = out.where(F.col("event").isNotNull())
    return out


def hysteresis_stream(
    stream: DataFrame,
    value_col: str,
    hi: float,
    lo: float,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    tie_cols: Sequence[str] = ("event_id",),
    watermark: str = "1 hour",
):
    """Structured Streaming twin of `hysteresis_alerts`: a fold step on
    `keyed_fold_stream` (ordering and lateness contract in
    streaming/fold.py).

    State per key is the batch fold's carry — (current alert state as
    -1/0/+1, last event-time micros), 16 bytes, O(1) in stream length.
    Emits ONLY transition rows (append mode; the ``events_only=True``
    batch twin), each exactly once; row-for-row equal to the batch
    operator over the same rows.
    """
    if not lo < hi:
        raise ValueError("need lo < hi (dead band between them)")
    keys = list(key_cols)
    ties = list(tie_cols)
    src = stream.where(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        *keys,
        F.col(ts_col).cast("timestamp").alias(ts_col),
        *[F.col(t) for t in ties],
        F.col(value_col).cast("double").alias(value_col),
    )

    def step(carry, pdf):
        (s0,) = carry
        v = pdf[value_col].to_numpy(dtype=np.float64)
        cls = np.where(v >= hi, 1.0, np.where(v <= lo, -1.0, np.nan))
        # seeded LOCF: prepend the carried state as a virtual first
        # classification, forward-fill, drop the seed row
        filled = (
            pd.Series(np.concatenate(([np.float64(s0)], cls)))
            .ffill()
            .to_numpy()[1:]
            .astype(np.int64)
        )
        active = (filled == 1).astype(np.int64)
        prev = np.concatenate(([np.int64(1 if s0 == 1 else 0)], active[:-1]))
        mask = active != prev
        out = pdf.loc[mask].assign(
            alert_active=active[mask].astype(np.int32),
            event=np.where(active[mask] == 1, "raise", "clear"),
        )
        return (int(filled[-1]),), out

    return keyed_fold_stream(
        src, keys, ts_col, ties, "state int", (0,), step,
        schema_ddl(src) + ", alert_active int, event string", watermark,
    )


def threshold_hold_alerts(
    df: DataFrame,
    value_col: str,
    hi: float,
    hold_sec: float,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    tie_cols: Sequence[str] = ("event_id",),
    events_only: bool = False,
) -> DataFrame:
    """Hold-duration ("for:") alerting per key: the condition
    ``value >= hi`` must hold CONTINUOUSLY for at least ``hold_sec``
    before the alert fires — the Prometheus `for:` clause / Nagios
    soft-state semantics (public), sample-based: a row is *pending*
    while its true-run is younger than ``hold_sec`` and *firing* once
    ``ts - run_start >= hold_sec``; any false sample resets the run.

    Single-window formulation (no per-(key,run) second shuffle): the
    run start is recovered as the LOCF of *run-start markers* — a row
    marks a run start when the condition is true and the previous row's
    was not (or no previous row exists).  ``last(marker_us,
    ignorenulls)`` over the ordered key window then carries each true
    row its own run's start, and firing is the pure integer-µs
    comparison ``us - run_start_us >= hold_us``.  Marker, LOCF,
    transition lag all share ONE window partitioning → one Exchange,
    all codegen (plan pinned in tests).

    Events: ``'fire'`` on the first firing row of a run, ``'resolve'``
    on the first non-firing row after a firing one (condition dropped
    — a run that ends stops firing at the next sample).  Output adds
    ``cond`` (0/1), ``firing`` (0/1), ``event``; ``events_only=True``
    keeps transitions.  Rows with NULL ts/value are excluded.

    Exactness: one IEEE comparison against the ``hi`` constant plus
    int64 microsecond arithmetic — exact in both engines.

    Scale: one key-partitioned ordered window (the forward_fill
    class); alert state is O(1) per key.  Reference analog: the
    reference's n-consecutive-orbits quality gate before a cell is
    trusted (/root/reference/src/smos/smos_l2/reshuffle.py:60-75
    fraction screens) is this hold discipline at tier scale.
    """
    hold_us = to_us(hold_sec, "hold_sec", zero_ok=True)
    keys = list(key_cols)
    ties = list(tie_cols)
    v = F.col(value_col)
    order = [F.col(ts_col), *[F.col(t) for t in ties]]
    w_loc = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_lag = Window.partitionBy(*keys).orderBy(*order)
    base = (
        df.where(F.col(ts_col).isNotNull() & v.isNotNull())
        .withColumn("_us", epoch_us(ts_col))
        .withColumn("_cond", (v >= F.lit(hi)).cast("int"))
    )
    prev_cond = F.lag(F.col("_cond")).over(w_lag)
    marker = F.when(
        (F.col("_cond") == 1) & (prev_cond.isNull() | (prev_cond == 0)),
        F.col("_us"),
    )
    run_start = F.last(marker, ignorenulls=True).over(w_loc)
    firing = (
        (F.col("_cond") == 1) & (F.col("_us") - run_start >= F.lit(hold_us))
    ).cast("int")
    out = base.withColumn("firing", firing)
    prev_firing = F.coalesce(F.lag(F.col("firing")).over(w_lag), F.lit(0))
    out = (
        out.withColumn(
            "event",
            F.when(
                (F.col("firing") == 1) & (prev_firing == 0), F.lit("fire")
            ).when(
                (F.col("firing") == 0) & (prev_firing == 1), F.lit("resolve")
            ),
        )
        .withColumn("cond", F.col("_cond"))
        .drop("_us", "_cond")
    )
    if events_only:
        out = out.where(F.col("event").isNotNull())
    return out


def threshold_hold_stream(
    stream: DataFrame,
    value_col: str,
    hi: float,
    hold_sec: float,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    tie_cols: Sequence[str] = ("event_id",),
    watermark: str = "1 hour",
):
    """Structured Streaming twin of `threshold_hold_alerts`: a fold
    step on `keyed_fold_stream` (ordering and lateness contract in
    streaming/fold.py).

    State per key is the batch fold's carry — (current run's start
    micros or the no-run sentinel, whether the alert was firing, last
    processed micros), 24 bytes, O(1) in stream length.  Emits ONLY
    transition rows ('fire'/'resolve'; the ``events_only=True`` batch
    twin), each exactly once, row-for-row equal to batch over the same
    rows.
    """
    hold_us = to_us(hold_sec, "hold_sec", zero_ok=True)
    keys = list(key_cols)
    ties = list(tie_cols)
    src = stream.where(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        *keys,
        F.col(ts_col).cast("timestamp").alias(ts_col),
        *[F.col(t) for t in ties],
        F.col(value_col).cast("double").alias(value_col),
    )
    _NONE = -(1 << 62)

    def step(carry, pdf):
        run0, wf0 = carry
        us = pdf["_ts_us"].to_numpy(dtype=np.int64)
        v = pdf[value_col].to_numpy(dtype=np.float64)
        cond = v >= hi
        # seeded run-start LOCF: prepend the carried run start (NaN if
        # no open run), mark batch-local run starts where cond rises
        prev_cond = np.concatenate(([run0 != _NONE], cond[:-1]))
        marker = np.where(
            cond & ~prev_cond, us.astype(np.float64), np.nan
        )
        seed = np.float64(run0) if run0 != _NONE else np.nan
        run_start = (
            pd.Series(np.concatenate(([seed], marker))).ffill().to_numpy()[1:]
        )
        firing = (
            cond & ~np.isnan(run_start) & (us - run_start >= hold_us)
        ).astype(np.int64)
        prev_f = np.concatenate(([np.int64(wf0)], firing[:-1]))
        # persist: open run start only while cond holds at the tail
        tail_run = (
            int(run_start[-1]) if cond[-1] and not np.isnan(run_start[-1])
            else _NONE
        )
        mask = firing != prev_f
        out = pdf.loc[mask].assign(
            cond=cond[mask].astype(np.int32),
            firing=firing[mask].astype(np.int32),
            event=np.where(firing[mask] == 1, "fire", "resolve"),
        )
        return (tail_run, int(firing[-1])), out

    return keyed_fold_stream(
        src, keys, ts_col, ties, "run_start_us long, was_firing int",
        (_NONE, 0), step,
        schema_ddl(src) + ", cond int, firing int, event string", watermark,
    )


def drawdown_alerts(
    df: DataFrame,
    value_col: str,
    threshold: int,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    tie_cols: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Record-drawdown alerting per key: emit a row every time the
    running drawdown (peak-so-far − value, stats.max_drawdown's gauge)
    reaches at least ``threshold`` AND strictly exceeds every earlier
    drawdown of the key — "this regression is the worst we have ever
    seen", the paging form of the batch summary statistic (equal-depth
    re-visits do NOT re-page; only a NEW record does).

    Input values must already be integer-quantized; ``threshold`` is
    in the same integer units and must be positive. Output: key cols,
    ts, value, peak, drawdown — exact int64 throughout. Two cumulative
    window frames (running max of v; running max of dd over the
    PRECEDING rows) over one ordered partition: a single Exchange, all
    codegen.
    """
    if threshold <= 0:
        raise ValueError("threshold must be a positive integer")
    keys = list(key_cols)
    ties = list(tie_cols)
    v = F.col(value_col).cast("long")
    w = Window.partitionBy(*keys).orderBy(
        F.col(ts_col), *[F.col(t) for t in ties]
    )
    base = df.where(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(*keys, F.col(ts_col), *[F.col(t) for t in ties], v.alias("_v"))
    peaked = base.withColumn(
        "_peak", F.max("_v").over(w.rowsBetween(Window.unboundedPreceding, 0))
    ).withColumn("_dd", F.col("_peak") - F.col("_v"))
    prev_record = F.max("_dd").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        peaked.withColumn("_prev", F.coalesce(prev_record, F.lit(-1)))
        .where(
            (F.col("_dd") >= F.lit(int(threshold)))
            & (F.col("_dd") > F.col("_prev"))
        )
        .select(
            *keys,
            F.col(ts_col),
            F.col("_v").alias("value"),
            F.col("_peak").alias("peak"),
            F.col("_dd").alias("drawdown"),
        )
    )


def drawdown_alerts_stream(
    stream: DataFrame,
    value_col: str,
    threshold: int,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    tie_cols: Sequence[str] = ("event_id",),
    watermark: str = "1 hour",
):
    """Structured Streaming twin of `drawdown_alerts`: a fold step on
    `keyed_fold_stream` (ordering and lateness contract in
    streaming/fold.py).

    A record drawdown is knowable AT its own row — running peak and
    running record are both carryable scalars — so the streamed alerts
    equal batch row-for-row with zero emission lag (gap_alerts'
    class). State per key: (peak, record drawdown, last event-time
    µs) — 24 bytes, O(1).
    """
    if threshold <= 0:
        raise ValueError("threshold must be a positive integer")
    keys = list(key_cols)
    ties = list(tie_cols)
    src = stream.where(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        *keys,
        F.col(ts_col).cast("timestamp").alias(ts_col),
        *[F.col(t) for t in ties],
        F.col(value_col).cast("long").alias("_v"),
    )
    out_schema = (
        schema_ddl(src.select(*keys)) + (", " if keys else "")
        + f"{ts_col} timestamp, value long, peak long, drawdown long"
    )
    thr = int(threshold)

    def step(carry, pdf):
        peak0, rec0 = carry
        vs = pdf["_v"].to_numpy(dtype=np.int64)
        seed = np.int64(peak0) if peak0 is not None else vs[0]
        peak = np.maximum.accumulate(np.maximum(vs, seed))
        dd = peak - vs
        # running record BEFORE each row: carried record, then dd prefix
        prev = np.maximum.accumulate(
            np.concatenate(([np.int64(rec0)], dd[:-1]))
        )
        mask = (dd >= thr) & (dd > prev)
        us = pdf["_ts_us"].to_numpy(dtype=np.int64)
        out = pd.DataFrame({
            ts_col: pd.to_datetime(us[mask], unit="us"),
            "value": vs[mask],
            "peak": peak[mask],
            "drawdown": dd[mask],
        })
        return (int(peak[-1]), int(max(rec0, int(dd.max())))), out

    return keyed_fold_stream(
        src, keys, ts_col, ties, "peak long, record long", (None, -1), step,
        out_schema, watermark,
    )
