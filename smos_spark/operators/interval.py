"""Interval (range-overlap) join — attach point events to the
intervals that contain them.

The missing piece of the time-series join algebra next to `asof_join`
(nearest-in-time) and `gap_fill` (per-key gap emission): "which session /
maintenance window / attribution window does this event fall in".
Reference analog: the per-date image lookup resolves a timestamp into
the file interval covering it (/root/reference/src/smos/interface.py
date-indexed multi-file datasets); here the interval side is a
first-class table (e.g. `session_stats` output).

Spark-first shape: NOT the naive theta join
``l.ts BETWEEN r.start AND r.end`` — Catalyst plans that as
BroadcastNestedLoop/cartesian-per-key, O(points × intervals) at every
scale. Instead the classic bucketed range join (the same technique
Databricks' range-join optimization and every streaming interval join
use, public knowledge):

* pick a bucket width W (default: provided by the caller, typically
  the P99 interval length);
* every interval is exploded into the width-W buckets it spans —
  ``floor(start/W) .. floor(end/W)``, a bounded fan-out of
  ``len/W + 1`` copies;
* every point belongs to exactly ONE bucket, so the (key, bucket)
  equi-join matches each (point, interval) pair at most once — no
  post-join dedup — and the final ``start <= ts <= end`` filter is
  exact;
* a guard rejects intervals spanning more than ``max_buckets``
  buckets (a degenerate year-long interval under a minute-wide W
  would fan out 500k copies); widen W instead.

One shuffle on (key, bucket) for each side; fan-out bounded by
interval-length/W. Equi-join means AQE can split skewed buckets.
"""

from __future__ import annotations

from functools import reduce
from operator import and_
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from smos_spark.functions.timegrid import bucket_index, epoch_us, floor_ts, to_us

__all__ = [
    "interval_join",
    "interval_join_stream",
    "interval_attribute",
    "interval_concurrency",
    "interval_coverage",
]


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    width_sec: float,
    on: str | Sequence[str] = "conv_id",
    ts_col: str = "ts",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    how: str = "inner",
    max_buckets: int = 4096,
) -> DataFrame:
    """Join every point row to every interval row of the same key with
    ``start_col <= ts < = end_col`` (both ends inclusive — SQL BETWEEN
    semantics). Output: all point columns + all non-key interval
    columns (caller renames collisions beforehand; a collision
    raises). ``how="inner"`` keeps matched points; ``how="left"``
    keeps unmatched points with NULL interval columns.

    ``width_sec`` is the bucket width; intervals longer than
    ``max_buckets * width_sec`` raise at plan-build time on the
    driver-side guard column (checked distributedly, fails the job
    rather than silently exploding).

    NULL handling: points with NULL ts and intervals with NULL bounds
    cannot overlap anything — dropped from the join (for
    ``how="left"`` the NULL-ts points still surface with NULL
    interval columns).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner|left, got {how!r}")
    win_us = to_us(width_sec)
    keys = [on] if isinstance(on, str) else list(on)
    clash = (set(intervals.columns) - set(keys)) & set(points.columns)
    if clash:
        raise ValueError(
            f"interval columns collide with point columns: {sorted(clash)}; "
            "rename before joining"
        )
    p = points.where(F.col(ts_col).isNotNull()).withColumn(
        "_bkt", bucket_index(ts_col, win_us)
    )
    iv = intervals.where(
        F.col(start_col).isNotNull()
        & F.col(end_col).isNotNull()
        & (F.col(end_col) >= F.col(start_col))
    )
    b0, b1 = bucket_index(start_col, win_us), bucket_index(end_col, win_us)
    # distributed guard: raise_error inside the span expression fails
    # the job on the first degenerate interval instead of fanning out
    span = b1 - b0 + 1
    span = F.when(
        span > max_buckets,
        F.raise_error(
            F.concat(
                F.lit(
                    f"interval_join: interval spans more than {max_buckets} "
                    f"buckets of {width_sec}s — widen width_sec (key="
                ),
                F.concat_ws(",", *[F.col(k).cast("string") for k in keys]),
                F.lit(")"),
            )
        ).cast("long"),
    ).otherwise(span)
    iv = iv.withColumn(
        "_bkt", F.explode(F.sequence(b0, b0 + span - 1))
    )

    cond = [p["_bkt"] == iv["_bkt"]] + [
        p[k].eqNullSafe(iv[k]) for k in keys
    ]
    joined = p.join(iv, cond, "inner").where(
        (p[ts_col] >= iv[start_col]) & (p[ts_col] <= iv[end_col])
    )
    out_cols = [p[c] for c in points.columns] + [
        iv[c] for c in intervals.columns if c not in keys
    ]
    matched = joined.select(*out_cols)
    if how == "inner":
        return matched
    # left: a point is unmatched only if NO interval matched — union
    # the anti-join remainder (incl. NULL-ts points, which never enter
    # the bucketed join) with NULL interval columns. The anti-join
    # must be NULL-SAFE on every point column: with plain equality a
    # matched row carrying a NULL attribute never equals its own image
    # in `matched` and would be re-emitted as unmatched. `matched` is
    # persisted briefly so the bucketed join runs ONCE, not once per
    # union branch (bounded lifetime via the package cache ring).
    from smos_spark.operators.dedup import _release_later

    matched = matched.persist()
    _release_later(matched)
    seen = matched.select(*[F.col(c) for c in points.columns]).distinct()
    anti = [points[c].eqNullSafe(seen[c]) for c in points.columns]
    unmatched = points.join(seen, anti, "left_anti").select(
        *points.columns,
        *[
            F.lit(None).cast(intervals.schema[c].dataType).alias(c)
            for c in intervals.columns
            if c not in keys
        ],
    )
    return matched.unionByName(unmatched)


def interval_join_stream(
    points: DataFrame,
    intervals: DataFrame,
    max_len_sec: float,
    on: str | Sequence[str] = "conv_id",
    ts_col: str = "ts",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Structured Streaming twin of ``interval_join(how="inner")``: a
    stream-stream inner join with WATERMARKED STATE BOUNDS (§2.8
    parity — the incremental-path contract applied to the range-join
    algebra).

    Where the batch operator buckets to avoid the nested-loop plan,
    the streaming engine's symmetric hash join already equi-matches on
    the key; what it needs instead is a bound on HOW LONG each side's
    state must be retained. Two declarations provide it:

    * watermarks on both event-time columns (points.ts,
      intervals.start_ts) bound disorder;
    * ``max_len_sec`` — the maximum interval length, enforced
      distributedly with the same raise_error guard as the batch
      operator — closes the time-range condition
      ``i.start <= p.ts <= i.start + max_len``, from which Spark
      derives both sides' state eviction horizons (a point older than
      watermark+max_len can never match a future interval and is
      dropped from state; same for intervals).

    Output: all point columns + all non-key interval columns, exactly
    the batch inner join's schema — streaming output equals the batch
    operator on the same rows (pinned in
    test_interval_join_stream_matches_batch). NULL-ts points and
    NULL-bound intervals cannot match and are dropped, as in batch.
    """
    max_us = to_us(max_len_sec, "max_len_sec")
    keys = [on] if isinstance(on, str) else list(on)
    clash = (set(intervals.columns) - set(keys)) & set(points.columns)
    if clash:
        raise ValueError(
            f"interval columns collide with point columns: {sorted(clash)}; "
            "rename before joining"
        )
    p = points.where(F.col(ts_col).isNotNull()).withWatermark(ts_col, watermark)
    too_long = epoch_us(end_col) - epoch_us(start_col) > max_us
    guard = F.when(
        too_long,
        F.raise_error(
            F.concat(
                F.lit(
                    f"interval_join_stream: interval longer than "
                    f"max_len_sec={max_len_sec} (key="
                ),
                F.concat_ws(",", *[F.col(k).cast("string") for k in keys]),
                F.lit(") — state bounds would be violated; widen max_len_sec"),
            )
        ),
    ).otherwise(F.lit(True))
    iv = (
        intervals.where(
            F.col(start_col).isNotNull()
            & F.col(end_col).isNotNull()
            & (F.col(end_col) >= F.col(start_col))
        )
        .where(guard)
        .withWatermark(start_col, watermark)
    )
    cond = [p[k].eqNullSafe(iv[k]) for k in keys] + [
        p[ts_col] >= iv[start_col],
        p[ts_col] <= iv[end_col],
        # redundant with end<=start+max_len but stated on WATERMARKED
        # columns so the engine can derive the state eviction bound.
        # The interval literal is INTEGER MICROSECONDS (max_us, the
        # same rounding as the guard): a float repr like 5e-05 would
        # not parse as an INTERVAL and could disagree with the guard's
        # rounding at sub-microsecond widths.
        p[ts_col] <= iv[start_col] + F.expr(f"INTERVAL {max_us} MICROSECOND"),
    ]
    joined = p.join(iv, reduce(and_, cond), "inner")
    return joined.select(
        *[p[c] for c in points.columns],
        *[iv[c] for c in intervals.columns if c not in keys],
    )


def interval_concurrency(
    intervals: DataFrame,
    width_sec: float = 3600.0,
    key_cols: Sequence[str] = (),
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    closed: bool = True,
    tie_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-bucket PEAK CONCURRENCY (and exit level) of a set of
    intervals — "how many conversations were active at once" — via
    the classic boundary-sweep: each interval contributes +1 at its
    start and -1 at its end, and the running sum of the
    time-ordered deltas IS the concurrency curve (textbook sweep-line
    / the `generate_series`-free form of the SQL "active sessions
    gauge", public knowledge).

    ``closed=True`` (default) counts an interval as active through
    BOTH endpoints ([s, e] — at a timestamp where one conversation
    ends and another starts, both are active): ties at equal t order
    starts before ends.  ``closed=False`` gives half-open [s, e)
    (ends before starts), the non-overlapping back-to-back reading.
    The per-bucket peak is order-independent beyond that choice: at
    equal (t, delta) the prefix sums reach the same extremes whatever
    the order inside the run of equal deltas.

    Exactness: pure integer +1/-1 sums — exact at any scale in both
    engines.  Intervals with NULL endpoints are excluded; an interval
    with s == e counts at that instant under closed=True and never
    under closed=False (both documented, both pinned).

    Spark-first, scale-first shape — the naive form is ONE global
    ordered window (single-partition sort: a scale killer).  Instead
    the two-level decomposition of downsample.counter_rate_bucketed:

    * deltas bucketed to ``width_sec`` grid cells; the in-bucket
      running sum is a window over (key, bucket) — partition size
      bounded by boundaries per bucket, for ANY total span;
    * the level ENTERING each bucket is the per-key cumulative sum of
      per-bucket delta totals — O(span/width) rows per key, one
      window over the tiny bucket-level table;
    * bucket peak = max(entering level, entering + max in-bucket
      running sum): the entering level itself is a candidate peak
      because concurrency holds it until the bucket's first boundary.

    Only buckets containing >= 1 boundary are emitted; in a silent
    bucket the gauge holds the previous row's ``level_end``
    (documented gap semantics: as in a tier before `gap_fill`, a
    silent bucket is an absent row).

    Output: key cols + ``bucket_start`` (timestamp), ``peak_active``
    (long), ``level_end`` (long), ``n_starts``/``n_ends`` (long).

    Reference analog: the reference's per-day image-stack occupancy
    (how many orbit files cover a date —
    /root/reference/src/smos/interface.py date-indexed multi-file
    datasets) is this gauge with day buckets.
    """
    width_us = to_us(width_sec)
    keys = list(key_cols)
    ties = list(tie_cols)
    # end-before-start (+1 sorts after -1) for half-open; start-before-
    # end for closed.  Encode as a sort column so ONE expression serves
    # both: order by (t, _ord) ascending.
    start_ord, end_ord = (0, 1) if closed else (1, 0)
    d_start = intervals.where(
        F.col(start_col).isNotNull() & F.col(end_col).isNotNull()
    ).select(
        *keys,
        F.col(start_col).cast("timestamp").alias("_t"),
        F.lit(1).cast("long").alias("_d"),
        F.lit(start_ord).alias("_ord"),
        *[F.col(t) for t in ties],
    )
    d_end = intervals.where(
        F.col(start_col).isNotNull() & F.col(end_col).isNotNull()
    ).select(
        *keys,
        F.col(end_col).cast("timestamp").alias("_t"),
        F.lit(-1).cast("long").alias("_d"),
        F.lit(end_ord).alias("_ord"),
        *[F.col(t) for t in ties],
    )
    deltas = d_start.unionByName(d_end).withColumn(
        "bucket_start", floor_ts("_t", width_us)
    )
    order = [F.col("_t"), F.col("_ord"), *[F.col(t) for t in ties]]
    w_in = (
        Window.partitionBy(*keys, "bucket_start")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = deltas.withColumn("_run", F.sum("_d").over(w_in))
    per_bucket = local.groupBy(*keys, "bucket_start").agg(
        F.max("_run").alias("_peak_local"),
        F.sum("_d").alias("_bd"),
        F.sum(F.when(F.col("_d") == 1, 1).otherwise(0)).alias("n_starts"),
        F.sum(F.when(F.col("_d") == -1, 1).otherwise(0)).alias("n_ends"),
    )
    w_b = (
        Window.partitionBy(*keys)
        .orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return per_bucket.select(
        *keys,
        F.col("bucket_start"),
        F.greatest(
            F.coalesce(F.sum("_bd").over(w_b), F.lit(0)),
            F.coalesce(F.sum("_bd").over(w_b), F.lit(0))
            + F.col("_peak_local"),
        ).alias("peak_active"),
        (
            F.coalesce(F.sum("_bd").over(w_b), F.lit(0)) + F.col("_bd")
        ).alias("level_end"),
        F.col("n_starts").cast("long").alias("n_starts"),
        F.col("n_ends").cast("long").alias("n_ends"),
    )


def interval_coverage(
    intervals: DataFrame,
    key_cols: Sequence[str],
    start_col: str = "start_ts",
    end_col: str = "end_ts",
) -> DataFrame:
    """Per-key UNION length of a set of possibly-overlapping intervals
    — merge overlaps, measure what remains: total covered time, island
    count, and the longest island. The classic gaps-and-islands
    reduction (public SQL folklore; the textbook sweep is "an interval
    starts a new island iff its start exceeds the running max of all
    earlier ends"), and `interval_concurrency`'s integral twin:
    coverage = measure of {t : concurrency(t) >= 1}.

    Semantics (all pinned): intervals are half-open [s, e); touching
    intervals (s == previous running-max end) MERGE — back-to-back
    sessions form one island; rows with NULL endpoints or e < s are
    excluded; zero-length intervals (e == s) add no coverage but do
    participate in merging. All arithmetic is integer epoch-µs — exact
    in both engines at any scale.

    Output per key: n_intervals, n_islands, covered_us (Σ island
    lengths), max_island_us.

    Plan shape: one Exchange on the key columns feeding one
    in-partition Sort on (start, end); the island detector is a
    running-max window (rows unbounded-preceding → 1 preceding) plus a
    running sum of new-island flags — two frames over the SAME sort,
    one Window node — then two bounded aggregations. Per-key interval
    counts are the partition bound, so use the documented
    bounded-group contract: key by (entity, calendar unit), as the
    contract query does, and a key's unit-worth of intervals sorts in
    one partition. (A two-level bucketed decomposition like
    interval_concurrency's exists for pathological keys; the gauge
    operator already provides it — coverage over a hot key can be read
    off its concurrency curve.)
    """
    keys = list(key_cols)
    if not keys:
        raise ValueError("key_cols must be non-empty")
    s_us, e_us = epoch_us(start_col), epoch_us(end_col)
    base = intervals.where(
        F.col(start_col).isNotNull()
        & F.col(end_col).isNotNull()
        & (e_us >= s_us)
    ).select(*keys, s_us.alias("_s"), e_us.alias("_e"))
    wo = Window.partitionBy(*keys).orderBy("_s", "_e")
    prev_max_e = F.max("_e").over(
        wo.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = base.withColumn(
        "_new",
        F.when(
            prev_max_e.isNull() | (F.col("_s") > prev_max_e), F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn(
        "_island",
        F.sum("_new").over(
            wo.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    islands = flagged.groupBy(*keys, "_island").agg(
        F.min("_s").alias("_is"),
        F.max("_e").alias("_ie"),
        F.count(F.lit(1)).alias("_n"),
    )
    return islands.groupBy(*keys).agg(
        F.sum("_n").alias("n_intervals"),
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("_ie") - F.col("_is")).alias("covered_us"),
        F.max(F.col("_ie") - F.col("_is")).alias("max_island_us"),
    )


def interval_attribute(
    points: DataFrame,
    intervals: DataFrame,
    width_sec: float,
    mode: str = "first",
    on: str | Sequence[str] = "conv_id",
    ts_col: str = "ts",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    interval_id_cols: Sequence[str] | None = None,
    tie_cols: Sequence[str] = (),
    max_buckets: int = 4096,
) -> DataFrame:
    """Single-touch attribution: for every interval, keep exactly ONE
    matching point — the FIRST (mode="first": earliest (ts, *ties),
    first-touch attribution) or the LAST (mode="last": latest,
    last-touch) — instead of `interval_join`'s all-pairs output. The
    marketing-attribution reduction of the range join, with the same
    bucketed equi-join underneath (never a nested-loop range join).

    ``interval_id_cols`` names the columns that identify one interval
    (default: all non-key interval columns); the deterministic pick is
    row_number over (ts, *ties) per (key, interval id). Intervals with
    no matching point simply don't appear (inner semantics).

    Plan: the bucketed interval_join plus ONE window on the joined
    table partitioned by the interval identity — fan-out bounded by
    interval_join's guard, pick bounded by matches-per-interval.
    """
    if mode not in ("first", "last"):
        raise ValueError(f"mode must be first|last, got {mode!r}")
    keys = [on] if isinstance(on, str) else list(on)
    ids = list(
        interval_id_cols
        if interval_id_cols is not None
        else [c for c in intervals.columns if c not in keys]
    )
    if not ids:
        raise ValueError("interval_id_cols must identify the interval")
    joined = interval_join(
        points,
        intervals,
        width_sec,
        on=on,
        ts_col=ts_col,
        start_col=start_col,
        end_col=end_col,
        how="inner",
        max_buckets=max_buckets,
    )
    order = [F.col(ts_col), *[F.col(t) for t in tie_cols]]
    if mode == "last":
        order = [c.desc() for c in order]
    w = Window.partitionBy(*keys, *ids).orderBy(*order)
    return (
        joined.withColumn("_pick", F.row_number().over(w))
        .where(F.col("_pick") == 1)
        .drop("_pick")
    )
