"""Exponentially-weighted smoothing over per-key time series.

EWMA is the classic streaming smoother (`y_t = (1-α)·y_{t-1} + α·x_t`,
the `adjust=False` recurrence): monitoring dashboards, anomaly
baselines, and label-smoothing features all want it, and it is the one
ubiquitous time-series transform the rest of this package's
window algebra cannot express — the recurrence is inherently
sequential per key, so a RANGE/ROWS frame cannot compute it and a
Python loop per row would be the forbidden slow path.

Spark-first shape (same transport as `compress_series`,
operators/compress.py): repartition on the key, sort within
partitions by (key, ts, ties), and stream Arrow batches through ONE
mapInPandas. Every batch is emitted IMMEDIATELY — the carry between
batches is only the last smoothed value + key of the partition tail
(O(1) state, not rows), and the leading run of the next batch is
re-seeded from it by prepending the carried value to the pandas
kernel's input. The seeded continuation is BIT-IDENTICAL to running
the kernel over the unsplit series (the recurrence step sees the same
float operands either way; pinned in
test_ewma_group_carry_across_arrow_batches), so batch boundaries are
invisible — and a single key spanning arbitrarily many batches costs
O(rows), never the O(rows·batches) concat of a row-carry design.

Exactness: the pandas recurrence multiplies exactly like DuckDB's
``list_reduce(…, (acc, x) -> acc*(1-α) + x*α)`` — verified bit-equal
on the contract data — so the operator ships an EXACT oracle despite
being float recursion.

`ewma_stream` / `des_stream` are the Structured Streaming twins: fold
steps on `keyed_fold_stream` (streaming/fold.py states their ordering
and lateness contract) that carry the batch operator's (y) / (s1, s2)
per key, so the streaming output equals the batch operator
row-for-row.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smos_spark.streaming.fold import keyed_fold_stream, schema_ddl

__all__ = ["ewma", "ewma_stream", "des", "des_stream"]


def _seeded_ewma(vals: pd.Series, alpha: float, y0: float | None) -> np.ndarray:
    """pandas adjust=False EWMA of `vals`, optionally seeded with the
    previous smoothed value y0: prepend y0, run the SAME kernel, drop
    the seed row — bit-identical to the kernel over the unsplit
    series (the recurrence step sees identical operands)."""
    v = vals.astype("float64")
    if y0 is None:
        return v.ewm(alpha=alpha, adjust=False).mean().to_numpy()
    seeded = pd.concat(
        [pd.Series([y0], dtype="float64"), v], ignore_index=True
    )
    return seeded.ewm(alpha=alpha, adjust=False).mean().iloc[1:].to_numpy()


def _same_key(a, b) -> bool:
    """NULL-safe key-tuple equality: Arrow maps nullable numeric keys
    to NaN, and NaN != NaN would restart the recursion at every batch
    boundary of a NULL-keyed series."""
    return all(
        (x == y) or (pd.isna(x) and pd.isna(y)) for x, y in zip(a, b)
    )


def _run_bounds(pdf: pd.DataFrame, keys: Sequence[str]) -> list[int]:
    """Boundaries ``[0, s_1, ..., len(pdf)]`` of the runs of equal key
    tuples in a key-sorted batch, NULL-safe like `_same_key`."""
    change = np.zeros(len(pdf), dtype=bool)
    for k in keys:
        col = pdf[k]
        change |= ((col != col.shift()) & ~(col.isna() & col.shift().isna())).to_numpy()
    # row 0 always opens a run (its shift-compare is NULL-keyed)
    return [0, *(np.flatnonzero(change[1:]) + 1).tolist(), len(pdf)]


def ewma(
    df: DataFrame,
    alpha: float,
    value_col: str = "value",
    key_cols: Sequence[str] = ("conv_id",),
    ts_col: str = "ts",
    tie_cols: Sequence[str] = (),
    out_col: str = "ewma",
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-row EWMA of ``value_col`` per key in (ts, *ties) order:
    ``y_1 = x_1``; ``y_t = (1-alpha)·y_{t-1} + alpha·x_t``.

    Rows with NULL ts or NULL value are EXCLUDED (a decay step over a
    missing sample is undefined and engines disagree on NaN handling;
    gap-fill first if the series needs regularization). Output: the
    selected key/ts/tie/value columns plus ``out_col`` (double).

    Scale shape: rows of one key land in one partition (the recurrence
    is inherently sequential per key — a single conversation with 10⁹
    turns would straggle; conversations are bounded objects), but
    WITHIN the partition state is O(1) per Arrow batch: each batch is
    smoothed and emitted immediately, carrying only (key, last y)
    forward — no row buffering, no whole-group materialization.
    """
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    keys = list(key_cols)
    ties = list(tie_cols)
    cols = [*keys, ts_col, *ties, value_col]
    src = df.where(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(*cols)
    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism * 2
    arranged = src.repartition(n_parts, *keys).sortWithinPartitions(
        *keys, ts_col, *ties
    )
    schema = f"{schema_ddl(src)}, {out_col} double"

    def _stream(batches):
        carry_key: tuple | None = None
        carry_y: float | None = None
        for pdf in batches:
            if not len(pdf):
                continue
            out = pdf.copy()
            # all groups of the batch in one C-implemented call
            out[out_col] = (
                pdf[value_col]
                .astype("float64")
                .groupby([pdf[k] for k in keys], sort=False, dropna=False)
                .ewm(alpha=alpha, adjust=False)
                .mean()
                .reset_index(level=list(range(len(keys))), drop=True)
            )
            # the leading run may continue the previous batch's tail
            # group: re-smooth just those rows seeded with the carried
            # value (input is sorted by keys, so the run is a prefix)
            if carry_key is not None and _same_key(
                tuple(pdf.iloc[0][k] for k in keys), carry_key
            ):
                end = _run_bounds(pdf, keys)[1]
                out.iloc[:end, out.columns.get_loc(out_col)] = _seeded_ewma(
                    pdf[value_col].iloc[:end], alpha, carry_y
                )
            carry_key = tuple(pdf.iloc[-1][k] for k in keys)
            carry_y = float(out[out_col].iloc[-1])
            yield out

    return arranged.mapInPandas(_stream, schema=schema)


def ewma_stream(
    stream: DataFrame,
    alpha: float,
    value_col: str = "value",
    key_cols: Sequence[str] = ("conv_id",),
    ts_col: str = "ts",
    tie_cols: Sequence[str] = (),
    out_col: str = "ewma",
    watermark: str = "1 hour",
):
    """Structured Streaming twin of `ewma`: per-key smoothed values
    maintained across micro-batches by `keyed_fold_stream`, under the
    ordering and lateness contract stated in streaming/fold.py.

    State per key is exactly the batch operator's carry — (last
    smoothed y, last event-time micros), 16 bytes — so the streaming
    output is row-for-row IDENTICAL to running `ewma` over the same
    rows in batch (the seeded continuation is bit-exact). Emits every
    input row of the micro-batch with its smoothed value appended
    (outputMode append). Rows with NULL ts or NULL value are excluded,
    as in batch.
    """
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    keys = list(key_cols)
    ties = list(tie_cols)
    src = stream.where(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(*keys, ts_col, *ties, value_col)

    def step(carry, pdf):
        vals = _seeded_ewma(pdf[value_col], alpha, carry[0])
        return (float(vals[-1]),), pdf.assign(**{out_col: vals})

    return keyed_fold_stream(
        src, keys, ts_col, ties, "y double", (None,), step,
        f"{schema_ddl(src)}, {out_col} double", watermark,
    )


def _seeded_des(
    vals: pd.Series,
    alpha: float,
    s1_0: float | None,
    s2_0: float | None,
) -> tuple[np.ndarray, np.ndarray]:
    """Brown double smoothing of `vals`: s1 = EWMA(x), s2 = EWMA(s1),
    both adjust=False, optionally seeded with carried (s1, s2).  The
    chained seeding is bit-identical to the unsplit series — each
    recurrence is the proven-seedable single EWMA (`_seeded_ewma`)."""
    s1 = _seeded_ewma(vals, alpha, s1_0)
    s2 = _seeded_ewma(pd.Series(s1, dtype="float64"), alpha, s2_0)
    return s1, s2


def _des_outputs(s1: np.ndarray, s2: np.ndarray, alpha: float):
    """level / trend / one-step forecast from the two smoothed series
    (Brown 1959, public): level = 2·s1 − s2, trend = α/(1−α)·(s1−s2),
    forecast₁ = level + trend.  Expression order matches the DuckDB
    oracle exactly (same doubles in, same doubles out)."""
    level = 2.0 * s1 - s2
    trend = (alpha / (1.0 - alpha)) * (s1 - s2)
    return level, trend, level + trend


def des(
    df: DataFrame,
    alpha: float,
    value_col: str = "value",
    key_cols: Sequence[str] = ("conv_id",),
    ts_col: str = "ts",
    tie_cols: Sequence[str] = (),
    num_partitions: int | None = None,
) -> DataFrame:
    """Brown's double exponential smoothing per key — the engine's
    trend-aware forecaster (public textbook method; Brown 1959 /
    Hyndman-Athanasopoulos fpp3 §8.2).  Two chained adjust=False
    EWMAs: ``s1_t = (1-α)s1_{t-1} + αx_t``, ``s2_t = (1-α)s2_{t-1} +
    αs1_t`` (both seeded with x₁), from which per row:

    * ``des_level``    = 2·s1 − s2          (current smoothed level)
    * ``des_trend``    = α/(1−α)·(s1 − s2)  (per-step slope estimate)
    * ``des_forecast`` = level + trend      (one-step-ahead forecast)

    Same transport and carry discipline as `ewma`: one mapInPandas
    over key-partitioned, (key, ts, ties)-sorted Arrow batches; the
    inter-batch carry is (key, s1, s2) — O(1) state, every batch
    emitted immediately, seeded continuation bit-identical to the
    unsplit series (pinned in test_des_carry_across_arrow_batches).
    Both recurrences run in pandas' C ewm kernel — no per-row Python.

    Rows with NULL ts or value are excluded, as in `ewma`.
    """
    if not (0.0 < alpha < 1.0):
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    keys = list(key_cols)
    ties = list(tie_cols)
    cols = [*keys, ts_col, *ties, value_col]
    src = df.where(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(*cols)
    n_parts = (
        num_partitions
        or df.sparkSession.sparkContext.defaultParallelism * 2
    )
    arranged = src.repartition(n_parts, *keys).sortWithinPartitions(
        *keys, ts_col, *ties
    )
    schema = schema_ddl(src) + ", des_level double, des_trend double, des_forecast double"

    def _stream(batches):
        carry_key: tuple | None = None
        carry: tuple[float, float] | None = None
        for pdf in batches:
            if not len(pdf):
                continue
            bounds = _run_bounds(pdf, keys)
            s1_all = np.empty(len(pdf))
            s2_all = np.empty(len(pdf))
            for lo, hi in zip(bounds[:-1], bounds[1:]):
                seed1 = seed2 = None
                if (
                    lo == 0
                    and carry_key is not None
                    and _same_key(
                        tuple(pdf.iloc[0][k] for k in keys), carry_key
                    )
                ):
                    seed1, seed2 = carry
                s1_all[lo:hi], s2_all[lo:hi] = _seeded_des(
                    pdf[value_col].iloc[lo:hi], alpha, seed1, seed2
                )
            out = pdf.copy()
            level, trend, fc = _des_outputs(s1_all, s2_all, alpha)
            out["des_level"] = level
            out["des_trend"] = trend
            out["des_forecast"] = fc
            carry_key = tuple(pdf.iloc[-1][k] for k in keys)
            carry = (float(s1_all[-1]), float(s2_all[-1]))
            yield out

    return arranged.mapInPandas(_stream, schema=schema)


def des_stream(
    stream: DataFrame,
    alpha: float,
    value_col: str = "value",
    key_cols: Sequence[str] = ("conv_id",),
    ts_col: str = "ts",
    tie_cols: Sequence[str] = (),
    watermark: str = "1 hour",
):
    """Structured Streaming twin of `des`: per-key (s1, s2, last
    event-time µs) state — 24 bytes — carried across micro-batches by
    `keyed_fold_stream` (ordering and lateness contract in
    streaming/fold.py), so the streaming output equals the batch
    operator row-for-row.
    """
    if not (0.0 < alpha < 1.0):
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    keys = list(key_cols)
    ties = list(tie_cols)
    src = stream.where(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(*keys, ts_col, *ties, value_col)

    def step(carry, pdf):
        s1, s2 = _seeded_des(pdf[value_col], alpha, *carry)
        level, trend, fc = _des_outputs(s1, s2, alpha)
        out = pdf.assign(des_level=level, des_trend=trend, des_forecast=fc)
        return (float(s1[-1]), float(s2[-1])), out

    return keyed_fold_stream(
        src, keys, ts_col, ties, "s1 double, s2 double", (None, None), step,
        schema_ddl(src) + ", des_level double, des_trend double, des_forecast double",
        watermark,
    )
