"""Point-in-time (as-of) joins and rolling time-range statistics.

Two classic time-series operators the transcript engine needs and
vanilla Spark lacks as built-ins:

* `asof_join`: for every left row, attach the single right row with
  the greatest `ts <= left.ts` (direction="backward", the default) or
  the smallest `ts >= left.ts` (direction="forward") within the same
  key — e.g. "which tool call most recently preceded this user turn",
  the transcript analog of the reference's nearest-in-time image
  lookup (`/root/reference/src/smos/smos_ic/interface.py` reads the
  image nearest a requested date along the time axis).

  Spark-first shape: NOT a range join (O(n·m) candidate explosion,
  then a per-row argmax) and NOT a theta join — instead both sides
  are unioned on (key, ts) and a single ordered window propagates the
  last-seen right payload onto left rows (`last(..., ignorenulls)`
  over unbounded-preceding). ONE shuffle on the key, whole-stage
  codegen, no candidate blowup: cost is sort + linear scan per key,
  the same plan at sf0.001 and at 10^12 turns. An optional
  `tolerance` bounds staleness (match dropped, not filtered — left
  rows survive with NULLs, as-of is a LEFT join).

  Tie semantics (documented, deterministic): right rows sort before
  left rows at equal ts when `allow_exact_matches` (so an exact-ts
  right row is visible to the left row), after them otherwise; among
  right rows tied on ts the one with the greatest `order_col` wins.

* `rolling_stats`: per-key trailing-window aggregates over event time
  (count / integer-exact sum / min / max over the last `window_sec`
  seconds at every row) via a RANGE frame on int64 epoch micros —
  the within-series twin of the tier rollup's bucketed aggregates.
  One shuffle on the key; the frame arithmetic is integer-exact so
  results are bit-stable across partitionings and engines.

Hot keys: both operators partition their one ordered window on the
key, so a pathologically hot key is a single sort task. Each
``*_bucketed`` twin runs the same body over a halo (`_halo`): every
row goes to its own width-w time bucket ``_bkt`` and, when its ts is
not NULL, a ghost copy goes to ``_bkt + 1``. A trailing frame of
width w spans at most two width-w buckets, so a window partitioned on
(key, ``_bkt``) sees every row the frame needs, and ghosts are dropped
after it. Partitions hold at most 2x the rows of one bucket for ANY
key, at the cost of 2x the shuffled rows (right rows only, for the
join). A NULL ts gets no ghost: its frame is its key's NULL-ts rows,
all in one (key, NULL) partition. Buckets are at least 1 µs wide, so
a zero window or tolerance is valid on both paths.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = ["asof_join", "asof_join_bucketed", "rolling_stats", "rolling_stats_bucketed"]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str] = "conv_id",
    ts_col: str = "ts",
    direction: str = "backward",
    tolerance_sec: float | None = None,
    allow_exact_matches: bool = True,
    right_cols: Sequence[str] | None = None,
    suffix: str = "_right",
    order_col: str | None = None,
) -> DataFrame:
    """LEFT as-of join: every left row, plus the nearest right row's
    columns (renamed ``<col><suffix>``) or NULLs when no right row
    qualifies. ``right_cols`` defaults to all non-key, non-ts right
    columns; the matched right timestamp is always emitted as
    ``<ts_col><suffix>``.

    ``order_col`` (default: first of ``right_cols``) breaks ts ties
    among right rows — greatest value wins — so the result is
    deterministic even on tied input timestamps. A negative
    ``tolerance_sec`` is a ValueError.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    if tolerance_sec is not None and tolerance_sec < 0:
        raise ValueError(f"tolerance_sec must be >= 0, got {tolerance_sec}")
    keys = [on] if isinstance(on, str) else list(on)
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (*keys, ts_col)]
    right_cols = list(right_cols)
    if not right_cols:
        raise ValueError("right side must contribute at least one column")
    order_col = order_col or right_cols[0]

    payload = F.struct(
        F.col(order_col).alias("_tie"),
        F.col(ts_col).alias(ts_col),
        *[F.col(c).alias(c) for c in right_cols],
    )
    # right rows must sort BEFORE left at equal ts to be visible to an
    # exact match under a trailing window (and after it otherwise);
    # forward direction flips the scan, so the flag flips with it
    exact_first = allow_exact_matches == (direction == "backward")
    r = right.select(
        *keys,
        F.col(ts_col).alias("_ts"),
        F.lit(0 if exact_first else 2).alias("_side"),
        payload.alias("_payload"),
    )
    l = left.select(
        *left.columns,
        F.col(ts_col).alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(r.schema["_payload"].dataType).alias("_payload"),
    )
    unioned = l.unionByName(r, allowMissingColumns=True)

    if direction == "backward":
        # ascending scan; among tied right rows the LAST seen wins, so
        # order ties ascending by _tie -> greatest _tie is last
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col("_ts").asc(), F.col("_side").asc(), F.col("_payload._tie").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    else:
        # descending scan: the last right row seen walking DOWN from
        # +inf to the current ts is the smallest ts >= left.ts
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col("_ts").desc(), F.col("_side").desc(), F.col("_payload._tie").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    matched = unioned.withColumn(
        "_match", F.last("_payload", ignorenulls=True).over(w)
    ).where(F.col("_side") == 1)

    m = F.col("_match")
    if tolerance_sec is not None:
        tol_us = int(round(tolerance_sec * 1_000_000))
        dist = F.unix_micros(F.col("_ts").cast("timestamp")) - F.unix_micros(
            m[ts_col].cast("timestamp")
        )
        if direction == "forward":
            dist = -dist
        m = F.when(dist <= F.lit(tol_us), F.col("_match"))

    out = matched.select(
        *left.columns,
        m[ts_col].alias(f"{ts_col}{suffix}"),
        *[m[c].alias(f"{c}{suffix}") for c in right_cols],
    )
    return out


def _bucket(us: Column, width_us: int) -> Column:
    """Width-µs time bucket of epoch micros, at least 1 µs wide (the
    double division is exact for |us| < 2^53, so floor never rounds
    across a bucket edge)."""
    return F.floor(us / F.lit(max(width_us, 1)))


def _halo(frame: DataFrame, us: Column, width_us: int) -> DataFrame:
    """`frame` with each row in its own bucket ``_bkt`` (``_ghost`` 0)
    plus, when ``us`` is not NULL, a ghost copy in ``_bkt + 1``
    (``_ghost`` 1). One scan: the copies are generated, not unioned."""
    bkt = _bucket(us, width_us)
    copies = F.when(us.isNull(), F.array(bkt)).otherwise(F.array(bkt, bkt + 1))
    return frame.select("*", F.posexplode(copies).alias("_ghost", "_bkt"))


def _q_name(prefix: str, q: float) -> str:
    """roll_p50 / roll_p90 / roll_p99_9 — deterministic quantile names."""
    return f"{prefix}p" + f"{q * 100:g}".replace(".", "_")


def rolling_stats(
    df: DataFrame,
    window_sec: float,
    value_col: Column | str = "value",
    on: str | Sequence[str] = "conv_id",
    ts_col: str = "ts",
    prefix: str = "roll_",
    quantiles: Sequence[float] = (),
) -> DataFrame:
    """Trailing event-time window per key: for every row, aggregates
    over rows with ``ts in (row.ts - window_sec, row.ts]`` (inclusive
    current row, exclusive at the trailing edge is avoided — the frame
    is closed on both ends, matching SQL RANGE semantics).

    Emits ``<prefix>cnt`` (rows in frame), ``<prefix>sum`` (exact
    int64 sum of the value scaled by 100 — centi-units — so the
    result is order-independent and engine-portable; floats summed in
    frame order are not), ``<prefix>min`` / ``<prefix>max``, and one
    ``<prefix>p<q>`` column per requested quantile — EXACT linear-
    interpolation percentiles over the centi-unit longs (a function of
    the frame multiset, so order-independent; bit-identical to
    DuckDB's ``quantile_cont`` on the same ints — verified in the
    contract suite). A negative ``window_sec`` is a ValueError.
    """
    if window_sec < 0:
        raise ValueError(f"window_sec must be >= 0, got {window_sec}")
    keys = [on] if isinstance(on, str) else list(on)
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    cents = F.round(v * 100).cast("long")
    win_us = int(round(window_sec * 1_000_000))
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.unix_micros(F.col(ts_col).cast("timestamp")))
        .rangeBetween(-win_us, 0)
    )
    return df.select(
        *df.columns,
        F.count(F.lit(1)).over(w).alias(f"{prefix}cnt"),
        F.sum(cents).over(w).alias(f"{prefix}sum_cents"),
        F.min(v).over(w).alias(f"{prefix}min"),
        F.max(v).over(w).alias(f"{prefix}max"),
        *[
            F.percentile(cents, F.lit(q)).over(w).alias(_q_name(prefix, q))
            for q in quantiles
        ],
    )


def rolling_stats_bucketed(
    df: DataFrame,
    window_sec: float,
    value_col: Column | str = "value",
    on: str | Sequence[str] = "conv_id",
    ts_col: str = "ts",
    prefix: str = "roll_",
    quantiles: Sequence[float] = (),
) -> DataFrame:
    """`rolling_stats` with BOUNDED window partitions — the hot-key
    path. The plain implementation partitions by key alone, so one
    pathologically hot key (a 10^9-turn conversation) is a single
    sort+scan task. This twin runs `rolling_stats` itself over the
    halo (module docstring) with (key, ``_bkt``) as its key, then drops
    the ghosts. Results are identical to `rolling_stats` (asserted in
    tests); cost is 2× the shuffled rows in exchange for
    straggler-free scaling.
    """
    keys = [on] if isinstance(on, str) else list(on)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    haloed = _halo(df, us, int(round(window_sec * 1_000_000)))
    out = rolling_stats(
        haloed, window_sec, value_col, [*keys, "_bkt"], ts_col, prefix, quantiles
    )
    return out.where(F.col("_ghost") == 0).drop("_ghost", "_bkt")


def asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    tolerance_sec: float,
    on: str | Sequence[str] = "conv_id",
    ts_col: str = "ts",
    right_cols: Sequence[str] | None = None,
    suffix: str = "_right",
    order_col: str | None = None,
) -> DataFrame:
    """Backward as-of join with BOUNDED window partitions — the
    hot-key path, available whenever a staleness bound (`tolerance`)
    exists. A backward match within tolerance w lies in
    [left.ts - w, left.ts], which spans at most two width-w time
    buckets — so this twin runs `asof_join` itself with (key, ``_bkt``)
    as its key, left rows in their own bucket and right rows haloed
    (module docstring). Results are identical to
    `asof_join(..., tolerance_sec=w)` (asserted in tests); exact
    matches are allowed (the backward default).
    """
    if tolerance_sec is None:
        raise ValueError("asof_join_bucketed requires a tolerance_sec")
    keys = [on] if isinstance(on, str) else list(on)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    width_us = int(round(tolerance_sec * 1_000_000))
    return asof_join(
        left.withColumn("_bkt", _bucket(us, width_us)),
        _halo(right, us, width_us).drop("_ghost"),
        [*keys, "_bkt"],
        ts_col,
        tolerance_sec=tolerance_sec,
        right_cols=right_cols,
        suffix=suffix,
        order_col=order_col,
    ).drop("_bkt")
