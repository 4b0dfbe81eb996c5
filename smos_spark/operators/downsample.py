"""Presentation-rate downsampling and per-series diagnostics.

The north-rule pipeline is rollup + downsample + retention; the tier
rollups (``rollup.py``) keep *aggregates* per bucket, while the
operators here keep or derive *representative rows*:

* ``m4_downsample`` — the M4 width-bucket downsample (Jugel et al.,
  VLDB 2014, public): per (key, pixel bucket) keep only the rows
  realizing first / last / min / max of the value.  M4 is the
  error-free choice for line-chart rendering: connecting the kept
  points reproduces the exact pixel raster of the full series at the
  chosen width.  Reference parity: this is the presentation-side
  twin of the reference's bulk reshuffle→plot path
  (/root/reference/src/smos/interface.py:222-254 reads dense series
  for plotting); at 10^12 turns you downsample server-side instead.
* ``counter_rate`` — reset-aware per-bucket increase of a cumulative
  counter (the Prometheus ``increase()`` semantics, public): a sample
  below its predecessor is a counter reset, contributing its own
  value instead of a negative delta.
* ``largest_gaps`` — per-key top-k largest sampling gaps (outage /
  data-loss detection); integer-µs arithmetic end-to-end.

Scale shape: each operator is ONE hash Exchange on its window
partition key. ``m4_downsample`` partitions by (key, bucket) so the
densest single bucket — not the hottest key — bounds task size; the
four orderings are in-partition sorts on the same Exchange.
``counter_rate``, ``largest_gaps`` and ``gap_alerts`` read each row's
predecessor from one mechanism, ``_prev``: a ``lag`` over the key
window. Their ``*_bucketed`` twins run the same body with a width,
which makes ``_prev`` a two-level adjacency carry — the lag runs
inside (key, width bucket), bounded for ANY key, and each bucket's
first row takes the previous NON-EMPTY bucket's last row from a
per-key window over the O(span/width) bucket rows, however many
empty buckets lie between — the hot-key path, proven identical to the
keyed versions in tests.

The streaming twins (``counter_rate_stream``, ``gap_alerts_stream``)
are fold steps on streaming/fold.py's ``keyed_fold_stream``, which
states their ordering and lateness contract.

All comparisons are on raw column values (ordering, never float
arithmetic except the caller-visible counter deltas), so the DuckDB
twins in ``__spark_entry__.oracle_sql`` match exactly.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from smos_spark.operators.asof import _bucket
from smos_spark.operators.rollup import _width_bucket
from smos_spark.streaming.fold import keyed_fold_stream, schema_ddl

__all__ = [
    "m4_downsample",
    "lttb_downsample",
    "counter_rate",
    "counter_rate_bucketed",
    "counter_rate_stream",
    "largest_gaps",
    "largest_gaps_bucketed",
    "gap_alerts",
    "gap_alerts_stream",
]


def m4_downsample(
    df: DataFrame,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
    width_sec: float = 3600.0,
    origin: str | None = None,
    tie_cols: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Keep the ≤4 anchor rows (first/last/min/max) per (key, bucket).

    Rows with NULL ``ts_col`` or ``value_col`` are dropped (they can
    render nothing).  Ties are broken deterministically by
    (ts, *tie_cols) so the same anchors are chosen on every engine
    and every run.  Output: the input's key/ts/value columns plus
    ``bucket_start`` and four booleans ``is_first/is_last/is_min/
    is_max`` (one row may carry several — a bucket with one point is
    all four).
    """
    keys = [F.col(k) for k in key_cols]
    ties = [F.col(t) for t in tie_cols]
    work = (
        df.where(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
        .withColumn("bucket_start", _width_bucket(F.col(ts_col), width_sec, origin))
    )
    part = Window.partitionBy(*keys, F.col("bucket_start"))
    ts, val = F.col(ts_col), F.col(value_col)
    orders = {
        "is_first": [ts.asc(), *[t.asc() for t in ties]],
        "is_last": [ts.desc(), *[t.desc() for t in ties]],
        "is_min": [val.asc(), ts.asc(), *[t.asc() for t in ties]],
        "is_max": [val.desc(), ts.asc(), *[t.asc() for t in ties]],
    }
    for name, order in orders.items():
        work = work.withColumn(
            name, F.row_number().over(part.orderBy(*order)) == 1
        )
    flags = [F.col(n) for n in orders]
    kept = work.where(flags[0] | flags[1] | flags[2] | flags[3])
    return kept.select(
        *key_cols, "bucket_start", *tie_cols, ts_col, value_col, *orders.keys()
    )


_DEC = "decimal(38,0)"
_DAY_US = 86_400_000_000


def lttb_downsample(
    df: DataFrame,
    value_col: str,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    n_segments: int = 12,
) -> DataFrame:
    """Largest-triangle downsampling per (key, day) — the perceptual
    companion to `m4_downsample` (Steinarsson 2013, public): keep the
    day's first and last points plus, per interior time slice, the
    point forming the largest triangle with its neighbor slices.

    Variant note (documented deviation, like symbolic.py's equal-width
    SAX): classic LTTB anchors each triangle on the PREVIOUSLY
    SELECTED point, an inherently sequential chain.  This implements
    the bucket-centroid variant from the same thesis — both anchors
    are neighbor-slice centroids — which is embarrassingly parallel
    (pure window algebra, no recursion) and visually equivalent for
    dashboard rendering.

    Exactness: with x = day-offset µs and y = floor(value·100), the
    triangle-area comparison multiplies through by the centroid
    denominators so every score is the absolute value of an integer:

        S_p = (sxp·nn − sxn·np)·(y_p·np − syp)
              − (sxp − x_p·np)·(syp·nn − syn·np)

    evaluated in decimal(38,0) (HUGEINT in DuckDB) — exact while
    n_prev·n_next·86400e6·max_cents·n_prev < 10³⁸, i.e. segments up
    to ~10⁶ points at cents ≤ 10⁶.  Ties break by (score desc, x asc,
    y asc), so both engines select identical rows.

    Scale shape: one map-side reduction to (key, day, seg) sums, a
    lag/lead window over that counter table, and ONE equi-join of the
    raw rows back to their slice's neighbor sums (co-partitioned on
    (key, day, seg)) followed by a per-slice top-1 window — no
    nested-loop geometry, no per-row Python.
    """
    if n_segments < 3:
        raise ValueError(f"n_segments must be >= 3, got {n_segments}")
    keys = list(key_cols)

    b = (
        df.where(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
        .select(
            *keys,
            F.date_trunc("day", F.col(ts_col)).alias("day"),
            F.col(ts_col).alias("ts"),
            (
                F.unix_micros(F.col(ts_col).cast("timestamp"))
                - F.unix_micros(
                    F.date_trunc("day", F.col(ts_col)).cast("timestamp")
                )
            ).alias("x"),
            F.floor(F.col(value_col).cast("double") * F.lit(100))
            .cast("long")
            .alias("val_cents"),
        )
        .withColumn(
            "seg",
            F.expr(f"x * {int(n_segments)}L div {_DAY_US}L"),
        )
    )

    s = b.groupBy(*keys, "day", "seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast(_DEC).alias("sx"),
        F.sum("val_cents").cast(_DEC).alias("sy"),
    )
    w1 = Window.partitionBy(*keys, "day").orderBy("seg")
    s = (
        s.withColumn("np", F.lag("n").over(w1))
        .withColumn("sxp", F.lag("sx").over(w1))
        .withColumn("syp", F.lag("sy").over(w1))
        .withColumn("nn", F.lead("n").over(w1))
        .withColumn("sxn", F.lead("sx").over(w1))
        .withColumn("syn", F.lead("sy").over(w1))
        .withColumn("pos", F.row_number().over(w1))
        .withColumn(
            "cnt", F.count(F.lit(1)).over(Window.partitionBy(*keys, "day"))
        )
    )

    wd_asc = Window.partitionBy(*keys, "day").orderBy(
        F.col("x").asc(), F.col("val_cents").asc()
    )
    wd_desc = Window.partitionBy(*keys, "day").orderBy(
        F.col("x").desc(), F.col("val_cents").desc()
    )
    ends = (
        b.withColumn("rn_a", F.row_number().over(wd_asc))
        .withColumn("rn_d", F.row_number().over(wd_desc))
        .where((F.col("rn_a") == 1) | (F.col("rn_d") == 1))
        .withColumn(
            "anchor",
            F.when(F.col("rn_a") == 1, F.lit("first")).otherwise(
                F.lit("last")
            ),
        )
        .select(*keys, "day", "seg", "ts", "val_cents", "anchor")
    )

    dec = lambda c: c.cast(_DEC)  # noqa: E731
    interior = s.where((F.col("pos") > 1) & (F.col("pos") < F.col("cnt")))
    joined = b.join(interior, [*keys, "day", "seg"])
    score_signed = (
        (F.col("sxp") * dec(F.col("nn")) - F.col("sxn") * dec(F.col("np")))
        * (dec(F.col("val_cents")) * dec(F.col("np")) - F.col("syp"))
    ) - (
        (F.col("sxp") - dec(F.col("x")) * dec(F.col("np")))
        * (F.col("syp") * dec(F.col("nn")) - F.col("syn") * dec(F.col("np")))
    )
    ws = Window.partitionBy(*keys, "day", "seg").orderBy(
        F.abs(score_signed).desc(), F.col("x").asc(), F.col("val_cents").asc()
    )
    tri = (
        joined.withColumn("rn", F.row_number().over(ws))
        .where(F.col("rn") == 1)
        .select(
            *keys, "day", "seg", "ts", "val_cents", F.lit("triangle").alias("anchor")
        )
    )
    return ends.unionByName(tri)


def _prev(df: DataFrame, keys: Sequence[str], us: Column, ties: Sequence[str],
          cols: Sequence[str], width_us: int | None = None) -> DataFrame:
    """``df`` plus ``_prev``: one struct of the predecessor row's
    ``cols`` in (ts, *ties) order within its key, NULL for a key's first
    row (``us`` is the ts as epoch micros).

    Without ``width_us`` this is a ``lag`` over the key window. With it,
    the lag runs inside (key, width bucket), and each bucket leads with
    one carried row: the previous non-empty bucket's last row (a struct
    max per bucket, lagged over the key's bucket rows). Carried rows are
    dropped after the lag."""
    row = F.struct(*[F.col(c).alias(c) for c in cols])
    order = [us, *[F.col(t) for t in ties]]
    if width_us is None:
        w = Window.partitionBy(*keys).orderBy(*order)
        return df.withColumn("_prev", F.lag(row).over(w))
    b = df.withColumn("_pbkt", _bucket(us, width_us))
    # struct max: deterministic and map-side combinable
    last = b.groupBy(*keys, "_pbkt").agg(
        F.max(F.struct(*order, row.alias("_row")))["_row"].alias("_row")
    )
    w_b = Window.partitionBy(*keys).orderBy("_pbkt")
    carry = last.select(*keys, "_pbkt", F.lag("_row").over(w_b).alias("_row")).where(
        F.col("_row").isNotNull()
    )
    framed = b.withColumn("_carried", F.lit(False)).unionByName(
        carry.select(*keys, "_pbkt", "_row.*", F.lit(True).alias("_carried")),
        allowMissingColumns=True,
    )
    w_in = Window.partitionBy(*keys, "_pbkt").orderBy(F.col("_carried").desc(), *order)
    return (
        framed.withColumn("_prev", F.lag(row).over(w_in))
        .where(~F.col("_carried"))
        .select(*df.columns, "_prev")
    )


def _counter_rate(df, key_cols, ts_col, counter_col, width_sec, origin, tie_cols,
                  bounded=False) -> DataFrame:
    """The body of `counter_rate` and, ``bounded``, of its twin."""
    bucket = _width_bucket(F.col(ts_col), width_sec, origin).alias("bucket_start")
    width_us = int(round(width_sec * 1_000_000)) if bounded else None
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = df.where(F.col(ts_col).isNotNull() & F.col(counter_col).isNotNull())
    v, prev = F.col(counter_col), F.col("_prev")[counter_col]
    delta = (
        F.when(prev.isNull(), F.lit(0))
        .when(v >= prev, v - prev)
        .otherwise(v)
    )
    return (
        _prev(base, key_cols, us, tie_cols, [counter_col], width_us)
        .groupBy(*key_cols, bucket)
        .agg(
            F.sum(delta).alias("increase"),
            F.count(F.lit(1)).alias("n_samples"),
        )
    )


def counter_rate(
    df: DataFrame,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    counter_col: str = "counter",
    width_sec: float = 3600.0,
    origin: str | None = None,
    tie_cols: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Per-bucket increase of a cumulative counter with reset handling.

    Prometheus ``increase()`` semantics (public): sample-over-sample
    delta is ``v - prev`` when monotone, else ``v`` (the counter reset
    to 0 and climbed back to v; the pre-reset remainder is
    unknowable and dropped).  A key's first sample contributes 0 — no
    predecessor exists to measure from.  Output: one row per
    (key, bucket) with ``increase`` (sum of deltas, exact for integer
    counters) and ``n_samples``.
    """
    return _counter_rate(df, key_cols, ts_col, counter_col, width_sec, origin, tie_cols)


def _gaps(df, key_cols, ts_col, tie_cols, width_us=None) -> DataFrame:
    """Every inter-sample gap per key: key cols, tie cols, ``gap_start``
    (the predecessor's ts), ``gap_end`` (this sample's ts) and
    ``gap_us``, in integer µs. A key's first sample opens no gap."""
    # cast("timestamp"): parquet NTZ timestamps are not valid unix_micros
    # input; the cast is a no-op under the session's pinned UTC tz
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    start = F.col("_prev")[ts_col]
    return (
        _prev(df.where(F.col(ts_col).isNotNull()), key_cols, us, tie_cols, [ts_col], width_us)
        .select(
            *key_cols,
            *tie_cols,
            start.alias("gap_start"),
            F.col(ts_col).alias("gap_end"),
            (us - F.unix_micros(start.cast("timestamp"))).alias("gap_us"),
        )
        .where(F.col("gap_us").isNotNull())
    )


def _largest_gaps(df, key_cols, ts_col, top_k, tie_cols, width_us=None) -> DataFrame:
    """The body of `largest_gaps` and of its twin: the gap frame,
    ranked top-k per key."""
    rank_w = Window.partitionBy(*key_cols).orderBy(
        F.col("gap_us").desc(), F.col("gap_end").asc(), *[F.col(t).asc() for t in tie_cols]
    )
    return (
        _gaps(df, key_cols, ts_col, tie_cols, width_us)
        .withColumn("gap_rank", F.row_number().over(rank_w))
        .where(F.col("gap_rank") <= top_k)
        .select(*key_cols, "gap_start", "gap_end", "gap_us", "gap_rank")
    )


def largest_gaps(
    df: DataFrame,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    top_k: int = 3,
    tie_cols: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Top-k largest inter-sample gaps per key (outage detection).

    Gap = µs between consecutive samples in (ts, *tie_cols) order;
    a key's first sample opens no gap.  Ranking breaks ties by
    earlier ``gap_end`` (then tie cols) so top-k is deterministic.
    Output: key cols, ``gap_start``, ``gap_end``, ``gap_us``,
    ``gap_rank`` (1 = largest).
    """
    return _largest_gaps(df, key_cols, ts_col, top_k, tie_cols)


def counter_rate_bucketed(
    df: DataFrame,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    counter_col: str = "counter",
    width_sec: float = 3600.0,
    origin: str | None = None,
    tie_cols: Sequence[str] = ("event_id",),
) -> DataFrame:
    """`counter_rate` with BOUNDED window partitions — the hot-key
    path (a single hot counter key with 10^9 samples makes the plain
    per-key lag window one sort task). The same body reads each
    sample's predecessor through ``_prev``'s two-level carry over
    ``width_sec`` buckets (module docstring): partition size is
    bounded by samples per width for ANY key, and the carry crosses
    any number of EMPTY buckets (pinned in tests), which a naive
    ghost-copy-to-next-bucket would miss. Results identical to
    `counter_rate` (asserted in tests)."""
    return _counter_rate(
        df, key_cols, ts_col, counter_col, width_sec, origin, tie_cols, bounded=True
    )


def largest_gaps_bucketed(
    df: DataFrame,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    top_k: int = 3,
    tie_cols: Sequence[str] = ("event_id",),
    width_sec: float = 86400.0,
) -> DataFrame:
    """`largest_gaps` with BOUNDED window partitions — the hot-key
    path. The same body reads each gap's start through ``_prev``'s
    two-level carry over ``width_sec`` buckets (module docstring), so
    the gap across each bucket boundary is found however many empty
    buckets apart. The final top-k rank per key runs over per-sample
    gap rows, but `row_number() <= k` is cut map-side by
    WindowGroupLimit, so its shuffle is O(keys·k·tasks) regardless of
    key heat. A ``width_sec`` <= 0 is a ValueError. Results identical
    to `largest_gaps` (asserted)."""
    if width_sec <= 0:
        raise ValueError(f"width_sec must be positive, got {width_sec}")
    width_us = int(round(width_sec * 1_000_000))
    return _largest_gaps(df, key_cols, ts_col, top_k, tie_cols, width_us)


def counter_rate_stream(
    stream: DataFrame,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    counter_col: str = "counter",
    width_sec: float = 3600.0,
    tie_cols: Sequence[str] = ("event_id",),
    watermark: str = "1 hour",
):
    """Structured Streaming twin of `counter_rate` (the slo_stream
    emit-on-close contract applied to Prometheus ``increase()``
    semantics): a fold step on `keyed_fold_stream` (ordering and
    lateness contract in streaming/fold.py).

    State per key is the batch fold's carry: the OPEN bucket's partial
    (bucket index, increase, n_samples), the last sample's value for
    the cross-bucket / cross-batch predecessor and the last event-time
    micros — five int64s, O(1) in stream length.  A bucket's row is emitted exactly once, when a
    LATER bucket first appears for the key, so the streaming output
    equals the batch output minus each key's final still-open bucket —
    row-for-row identical values.  A late row can never land in an
    already-published bucket: that bucket ends before the key's last
    processed ts.

    Exactness contract: the counter column must be INTEGER-typed (the
    exact-sum guarantee; float counters would make the per-bucket sum
    order-sensitive) — enforced, ValueError otherwise.  Reset handling
    is the batch rule verbatim: delta = v - prev when monotone, else v;
    a key's first sample contributes 0.
    """
    width_us = int(round(width_sec * 1_000_000))
    if width_us <= 0:
        raise ValueError(f"width_sec must be positive, got {width_sec}")
    keys = list(key_cols)
    ties = list(tie_cols)
    src = stream.where(
        F.col(ts_col).isNotNull() & F.col(counter_col).isNotNull()
    ).select(
        *keys,
        F.col(ts_col).cast("timestamp").alias(ts_col),
        *[F.col(t) for t in ties],
        F.col(counter_col).alias("_v"),
    )
    vtype = src.schema["_v"].dataType.simpleString()
    if vtype not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"counter column must be integer-typed for the exact-sum "
            f"contract, got {vtype}"
        )
    out_schema = (
        schema_ddl(src.select(*keys)) + (", " if keys else "")
        + "bucket_start timestamp, increase long, n_samples long"
    )
    _NONE = -(1 << 62)

    def step(carry, pdf):
        ob, oi, on, lv = carry
        us = pdf["_ts_us"].to_numpy(dtype=np.int64)
        buckets = us // width_us
        v = pdf["_v"].to_numpy(dtype=np.int64)
        prev = np.concatenate(
            ([np.int64(lv if lv != _NONE else 0)], v[:-1])
        )
        delta = np.where(v >= prev, v - prev, v)
        if lv == _NONE:
            delta[0] = 0  # key's first sample ever: no predecessor
        # merge the open-bucket partial with this batch's buckets
        ub, inv = np.unique(buckets, return_inverse=True)
        inc = np.bincount(inv, weights=delta).astype(np.int64)
        cnt = np.bincount(inv).astype(np.int64)
        if ob != _NONE:
            if ub[0] == ob:
                inc[0] += oi
                cnt[0] += on
            else:
                ub = np.concatenate(([np.int64(ob)], ub))
                inc = np.concatenate(([np.int64(oi)], inc))
                cnt = np.concatenate(([np.int64(on)], cnt))
        # all but the last (max) bucket are now closed: emit them
        carry = (int(ub[-1]), int(inc[-1]), int(cnt[-1]), int(v[-1]))
        out = pd.DataFrame({
            "bucket_start": pd.to_datetime(ub[:-1] * width_us, unit="us"),
            "increase": inc[:-1],
            "n_samples": cnt[:-1],
        })
        return carry, out

    return keyed_fold_stream(
        src, keys, ts_col, ties,
        "open_bucket long, open_inc long, open_n long, last_v long",
        (_NONE, 0, 0, _NONE), step, out_schema, watermark,
    )


def gap_alerts(
    df: DataFrame,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    min_gap_sec: float = 3600.0,
    tie_cols: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Threshold gap detection per key: every inter-sample gap of at
    least ``min_gap_sec`` — the alerting twin of `largest_gaps`
    (which ranks; this thresholds — a heartbeat-loss / outage monitor
    needs *every* breach, not the top-k).

    Output: key cols, ``gap_start``, ``gap_end``, ``gap_us`` — one row
    per qualifying gap, exact int64 microsecond arithmetic.  A key's
    first sample opens no gap (no predecessor).  One key-partitioned
    lag window, all codegen.
    """
    if min_gap_sec <= 0:
        raise ValueError("min_gap_sec must be positive")
    min_gap_us = int(round(min_gap_sec * 1_000_000))
    return (
        _gaps(df, key_cols, ts_col, tie_cols)
        .where(F.col("gap_us") >= F.lit(min_gap_us))
        .select(*key_cols, "gap_start", "gap_end", "gap_us")
    )


def gap_alerts_stream(
    stream: DataFrame,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    min_gap_sec: float = 3600.0,
    tie_cols: Sequence[str] = ("event_id",),
    watermark: str = "1 hour",
):
    """Structured Streaming twin of `gap_alerts`: a fold step on
    `keyed_fold_stream` (ordering and lateness contract in
    streaming/fold.py).

    A gap is knowable exactly when its CLOSING sample arrives, so the
    streaming output is row-for-row IDENTICAL to batch over the same
    rows — no open-tail deficit at all, unlike the emit-on-close bucket
    twins.  State per key is the previous sample's event-time micros
    (plus the fold's last_us) — 16 bytes, O(1).
    """
    if min_gap_sec <= 0:
        raise ValueError("min_gap_sec must be positive")
    keys = list(key_cols)
    ties = list(tie_cols)
    min_gap_us = int(round(min_gap_sec * 1_000_000))
    src = stream.where(F.col(ts_col).isNotNull()).select(
        *keys,
        F.col(ts_col).cast("timestamp").alias(ts_col),
        *[F.col(t) for t in ties],
    )
    out_schema = (
        schema_ddl(src.select(*keys)) + (", " if keys else "")
        + "gap_start timestamp, gap_end timestamp, gap_us long"
    )

    def step(carry, pdf):
        (prev_us,) = carry
        us = pdf["_ts_us"].to_numpy(dtype=np.int64)
        prev = np.concatenate(([us[0] if prev_us is None else prev_us], us[:-1]))
        gap = us - prev
        mask = gap >= min_gap_us
        mask[0] &= prev_us is not None  # a key's first sample opens no gap
        out = pd.DataFrame({
            "gap_start": pd.to_datetime(prev[mask], unit="us"),
            "gap_end": pd.to_datetime(us[mask], unit="us"),
            "gap_us": gap[mask],
        })
        return (int(us[-1]),), out

    return keyed_fold_stream(
        src, keys, ts_col, ties, "prev_us long", (None,), step,
        out_schema, watermark,
    )
