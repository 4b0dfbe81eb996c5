"""Duration-weighted and representative-value time aggregates.

The tier rollups (``rollup.py``) aggregate *sample-weighted* moments;
the operators here aggregate by *time*, the other half of a metrics
store's read path (public analogs: TimescaleDB's ``time_weight`` /
``state_agg`` / ``heartbeat_agg`` toolkit aggregates, and the OHLC
candlestick every market-data store ships):

* ``ohlc`` — per (key, width bucket): open / high / low / close in
  exact integer cents plus count and sum.  Reference parity: the
  bulk-read + per-cell summary path (/root/reference/src/smos/
  interface.py:164-220 reads a dense series then summarizes
  client-side); at 10^12 turns the summary must be the query.
* ``time_weighted_avg`` — per (key, day): the LOCF (last observation
  carried forward) time-weighted mean.  Each sample's value covers
  [ts, next_ts) clipped to the day end; the day's final sample covers
  through the day end (no carry into later, sample-free days — the
  in-bucket LOCF contract, documented rather than hidden).  Output is
  the EXACT integer numerator (cents·µs, decimal(38,0)) and
  denominator (µs) — callers divide; the contract never emits a float
  whose decimal→double rounding could differ between engines.
* ``state_durations`` — per (key, state): total µs spent in the state
  (each row holds its state until the key's next row; the final open
  row is excluded) plus the number of closed intervals.
* ``uptime`` — heartbeat liveness: per key, the total µs covered by
  the union of [ts, ts+liveness) intervals, computed gap-wise as
  Σ least(liveness, next_ts−ts) + liveness for the final beat.

Scale shape: ``ohlc`` is a single-Exchange aggregate — min_by/max_by
over a (ts, tie) struct gives deterministic open/close with map-side
partial combine and NO per-key Window (the struct-ordered buffers
compile to SortAggregate, whose in-partition sort is by the GROUP
key, never a per-key time sort); the other three need one lag/lead
window per key (one Exchange) followed by a partial-aggregating
groupBy whose clustering contains the window key, so the exchange is
reused (plan-pinned: one Exchange total).  All arithmetic is
integer (cents, µs), so the DuckDB oracles match exactly.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from smos_spark.functions.timegrid import DAY_US, bucket_start, epoch_us, floor_div, floor_ts, to_us

__all__ = [
    "ohlc",
    "ohlc_merge",
    "time_weighted_avg",
    "time_weighted_buckets",
    "weighted_median",
    "state_durations",
    "uptime",
    "uptime_partials",
    "uptime_merge",
    "state_duration_partials",
    "state_duration_merge",
]


def _cents(col: F.Column) -> F.Column:
    """Exact integer centi-units: floor(value·100) — floor (not
    round) so no half-way rounding-mode delta can exist between
    engines."""
    return F.floor(col * 100).cast("long")


def ohlc(
    df: DataFrame,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
    width_sec: float = 3600.0,
    origin: str | None = None,
    tie_cols: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Candlestick summary per (key, bucket): open (first value in
    (ts, *ties) order), high, low, close (last), n_samples, and the
    exact cents sum.

    Single-Exchange aggregate: open/close via ``min_by``/``max_by``
    on a (ts, *ties) struct — deterministic because the tie columns
    make the struct unique.  The struct-typed buffers compile to
    partial + final SortAggregate (struct buffers are not
    hash-mutable), still map-side-combined across ONE exchange with
    no per-key Window — at 10^12 rows the same shuffle shape as the
    1m tier rollup (rollup.py:89): the bucket key bounds skew by
    time, not by key popularity.
    """
    keys = [F.col(k) for k in key_cols]
    order = F.struct(F.col(ts_col), *[F.col(t) for t in tie_cols])
    v = _cents(F.col(value_col))
    return (
        df.where(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(
            *keys,
            floor_ts(ts_col, to_us(width_sec), origin).alias("bucket_start"),
        )
        .agg(
            F.min_by(v, order).alias("open_cents"),
            F.max(v).alias("high_cents"),
            F.min(v).alias("low_cents"),
            F.max_by(v, order).alias("close_cents"),
            F.count(F.lit(1)).alias("n_samples"),
            F.sum(v).alias("vsum_cents"),
        )
    )


def time_weighted_avg(
    df: DataFrame,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
    tie_cols: Sequence[str] = ("event_id",),
) -> DataFrame:
    """LOCF time-weighted mean per (key, calendar day), exact.

    Sample i covers [ts_i, min(next_ts_i, day_end)) at value_i, where
    next_ts is the key's next sample GLOBALLY (so a mid-day gap inside
    the day is covered by carry-forward) and day_end clips coverage at
    midnight (no cross-day carry).  Output per (key, day):

    * ``twa_num`` — Σ cents_i · weight_us_i  (decimal(38,0), exact)
    * ``twa_den`` — Σ weight_us_i            (bigint, exact)

    ``twa_num / twa_den`` is the TWA in cents; the division is left to
    the caller because cents·µs sums exceed 2^53 and a decimal→double
    cast is the one step whose rounding an engine pair can disagree
    on.  Keys observed once still emit a row (their sample covers
    through its day end).
    """
    keys = [F.col(k) for k in key_cols]
    w = Window.partitionBy(*keys).orderBy(
        F.col(ts_col), *[F.col(t) for t in tie_cols]
    )
    ts_us = epoch_us(ts_col)
    day = F.date_trunc("day", F.col(ts_col))
    day_end_us = epoch_us(day) + F.lit(DAY_US)
    next_us = F.lead(ts_us).over(w)
    weight = F.least(F.coalesce(next_us, day_end_us), day_end_us) - ts_us
    return (
        df.where(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
        .select(
            *keys,
            day.alias("day"),
            _cents(F.col(value_col)).alias("_c"),
            weight.alias("_w"),
        )
        .groupBy(*key_cols, "day")
        .agg(
            F.sum(
                F.col("_c").cast("decimal(38,0)") * F.col("_w")
            ).cast("decimal(38,0)").alias("twa_num"),
            F.sum("_w").alias("twa_den"),
        )
    )


def state_durations(
    df: DataFrame,
    key_cols: Sequence[str] = ("conv_id",),
    ts_col: str = "ts",
    state_col: str = "role",
    tie_cols: Sequence[str] = ("turn_idx",),
) -> DataFrame:
    """Total time each key spends in each state (TimescaleDB
    ``state_agg`` analog): each row holds ``state_col`` from its ts
    until the key's next row; the key's final row opens an interval
    with no end and is excluded.  Output per (key, state):
    ``total_us`` and ``n_intervals`` (closed intervals only; a state
    never followed by another row yields no row).

    One lag/lead Exchange per key, then a partial-aggregating groupBy
    on (key, state) — the state cardinality (roles) is tiny, so the
    second aggregate is map-side-combined to near-nothing.
    """
    keys = [F.col(k) for k in key_cols]
    w = Window.partitionBy(*keys).orderBy(
        F.col(ts_col), *[F.col(t) for t in tie_cols]
    )
    dur = F.lead(epoch_us(ts_col)).over(w) - epoch_us(ts_col)
    return (
        df.where(F.col(ts_col).isNotNull() & F.col(state_col).isNotNull())
        .select(*keys, F.col(state_col), dur.alias("_dur"))
        .where(F.col("_dur").isNotNull())
        .groupBy(*key_cols, state_col)
        .agg(
            F.sum("_dur").alias("total_us"),
            F.count(F.lit(1)).alias("n_intervals"),
        )
    )


def uptime(
    df: DataFrame,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    liveness_sec: float = 300.0,
    tie_cols: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Heartbeat liveness per key (TimescaleDB ``heartbeat_agg``
    analog): each beat asserts liveness for ``liveness_sec``; the
    covered time is the measure of the union of [ts, ts+liveness)
    intervals.  Because beats are processed in order, the union is
    exactly Σ least(liveness_us, next_ts−ts) over consecutive pairs
    plus liveness_us for the final beat — no interval-merge pass.

    Output per key: ``n_beats``, ``span_us`` (last−first beat) and
    ``up_us`` (covered µs; ≤ span_us + liveness_us).
    """
    live_us = to_us(liveness_sec, "liveness_sec", zero_ok=True)
    keys = [F.col(k) for k in key_cols]
    w = Window.partitionBy(*keys).orderBy(
        F.col(ts_col), *[F.col(t) for t in tie_cols]
    )
    ts_us = epoch_us(ts_col)
    gap = F.lead(ts_us).over(w) - ts_us
    covered = F.coalesce(F.least(gap, F.lit(live_us)), F.lit(live_us))
    return (
        df.where(F.col(ts_col).isNotNull())
        .select(*keys, ts_us.alias("_us"), covered.alias("_cov"))
        .groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("n_beats"),
            (F.max("_us") - F.min("_us")).alias("span_us"),
            F.sum("_cov").alias("up_us"),
        )
    )


def time_weighted_buckets(
    df: DataFrame,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
    width_sec: float = 3600.0,
    max_span_buckets: int = 1024,
    tie_cols: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Bucketed LOCF time-weighted mean WITH cross-bucket carry — the
    hypertable rollup primitive for irregular series (TimescaleDB
    ``time_bucket_gapfill`` + ``locf`` + ``average(time_weight(…))``
    composed, public semantics).  Unlike `time_weighted_avg` (which
    clips at day ends), each sample's coverage interval [ts, next_ts)
    is SPLIT across every width bucket it overlaps, so a bucket with
    no samples still emits a row when a carried observation covers it.
    A key's final sample opens an unbounded interval and contributes
    nothing (coverage ends at the last observation).

    Output per (key, bucket_start): ``twa_num`` (Σ cents·overlap_µs,
    decimal(38,0), exact), ``twa_den`` (Σ overlap_µs ≤ bucket width).
    ``twa_den < width·10⁶`` marks partially-covered buckets.

    Scale shape: one lag/lead Exchange per key, then a per-row
    ``sequence`` fan-out bounded by ``max_span_buckets`` (a coverage
    interval spanning more buckets raises distributedly via
    `raise_error` — the same guard discipline as interval_join: widen
    the bucket or cap the series rather than silently exploding), and
    a map-side-combined groupBy on (key, bucket) — fan-out rows
    combine before the second exchange, which carries O(keys·buckets).
    """
    width_us = to_us(width_sec)
    if max_span_buckets <= 0:
        raise ValueError("max_span_buckets must be positive")
    keys = [F.col(k) for k in key_cols]
    w = Window.partitionBy(*keys).orderBy(
        F.col(ts_col), *[F.col(t) for t in tie_cols]
    )
    us = epoch_us(ts_col)
    src = (
        df.where(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
        .select(
            *keys,
            us.alias("_us"),
            F.lead(us).over(w).alias("_end"),
            _cents(F.col(value_col)).alias("_c"),
        )
        .where(F.col("_end").isNotNull() & (F.col("_end") > F.col("_us")))
    )
    b0 = floor_div(F.col("_us"), width_us)
    b1 = floor_div(F.col("_end") - 1, width_us)  # _end is exclusive
    span = b1 - b0 + 1
    span = F.when(
        span > max_span_buckets,
        F.raise_error(
            F.concat(
                F.lit(
                    f"time_weighted_buckets: coverage interval spans more "
                    f"than {max_span_buckets} buckets of {width_sec}s — "
                    f"widen width_sec or raise max_span_buckets (key="
                ),
                F.concat_ws(
                    ",", *[F.col(k).cast("string") for k in key_cols]
                ),
                F.lit(")"),
            )
        ).cast("long"),
    ).otherwise(span)
    exploded = src.select(
        *key_cols,
        "_us",
        "_end",
        "_c",
        F.explode(
            F.sequence(b0, b0 + span - 1)
        ).alias("_b"),
    )
    b_start = F.col("_b") * F.lit(width_us)
    overlap = F.least(F.col("_end"), b_start + F.lit(width_us)) - F.greatest(
        F.col("_us"), b_start
    )
    return (
        exploded.select(
            *key_cols,
            bucket_start("_b", width_us).alias("bucket_start"),
            F.col("_c"),
            overlap.alias("_w"),
        )
        .groupBy(*key_cols, "bucket_start")
        .agg(
            F.sum(F.col("_c").cast("decimal(38,0)") * F.col("_w"))
            .cast("decimal(38,0)")
            .alias("twa_num"),
            F.sum("_w").alias("twa_den"),
        )
    )


def uptime_partials(
    df: DataFrame,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    liveness_sec: float = 300.0,
    unit: str = "day",
    tie_cols: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Per-(key, calendar chunk) uptime partials that MERGE EXACTLY
    into coarser ranges — the tier-cascade partial-reaggregation
    contract (rollup.py / sketch.kmv discipline) applied to
    interval-union state.  Each partial carries ``n_beats``,
    ``first_us``/``last_us`` (the chunk's beat extremes) and ``up_us``
    (the chunk-local union measure, last beat's liveness tail
    included).  `uptime_merge` stitches time-disjoint partials by
    correcting each seam: the earlier chunk counted a full liveness
    tail, the truth is least(liveness, next.first − cur.last), so the
    merged measure equals the direct-from-raw computation EXACTLY
    (pinned in test + the weekly contract row).
    """
    live_us = to_us(liveness_sec, "liveness_sec", zero_ok=True)
    keys = [F.col(k) for k in key_cols]
    chunk = F.date_trunc(unit, F.col(ts_col))
    w = Window.partitionBy(*keys, chunk).orderBy(
        F.col(ts_col), *[F.col(t) for t in tie_cols]
    )
    ts_us = epoch_us(ts_col)
    gap = F.lead(ts_us).over(w) - ts_us
    covered = F.coalesce(F.least(gap, F.lit(live_us)), F.lit(live_us))
    return (
        df.where(F.col(ts_col).isNotNull())
        .select(
            *key_cols,
            chunk.alias("chunk"),
            ts_us.alias("_us"),
            covered.alias("_cov"),
        )
        .groupBy(*key_cols, "chunk")
        .agg(
            F.count(F.lit(1)).alias("n_beats"),
            F.min("_us").alias("first_us"),
            F.max("_us").alias("last_us"),
            F.sum("_cov").alias("up_us"),
        )
    )


def uptime_merge(
    partials: DataFrame,
    key_cols: Sequence[str] = ("user_id",),
    group_cols: Sequence[str] = ("week",),
    liveness_sec: float = 300.0,
) -> DataFrame:
    """EXACT merge of time-disjoint `uptime_partials` chunks into one
    row per (key, *group_cols) — bit-equal to computing `uptime` on
    the group's raw beats directly.

    Seam correction: chunk i's partial already counted a full
    liveness tail for its final beat; the union across the seam is
    least(liveness, first_{i+1} − last_i), so each seam contributes
    that minus liveness (≤ 0).  One lag over (key, group) ordered by
    chunk — partials are O(keys·chunks) rows, so the window is over
    the already-aggregated table, never the raw beats — then a
    groupBy on the same clustering (exchange reused).
    """
    live_us = to_us(liveness_sec, "liveness_sec", zero_ok=True)
    keys = [F.col(k) for k in key_cols]
    groups = [F.col(g) for g in group_cols]
    w = Window.partitionBy(*keys, *groups).orderBy("chunk")
    seam = (
        F.least(
            F.lit(live_us),
            F.col("first_us") - F.lag(F.col("last_us")).over(w),
        )
        - F.lit(live_us)
    )
    return (
        partials.withColumn("_seam", F.coalesce(seam, F.lit(0)))
        .groupBy(*key_cols, *group_cols)
        .agg(
            F.sum("n_beats").alias("n_beats"),
            (F.max("last_us") - F.min("first_us")).alias("span_us"),
            F.sum(F.col("up_us") + F.col("_seam")).alias("up_us"),
        )
    )


def state_duration_partials(
    df: DataFrame,
    key_cols: Sequence[str] = ("conv_id",),
    ts_col: str = "ts",
    state_col: str = "role",
    unit: str = "day",
    tie_cols: Sequence[str] = ("turn_idx",),
) -> tuple[DataFrame, DataFrame]:
    """Per-(key, calendar chunk) state-duration partials that merge
    EXACTLY into coarser ranges (`state_duration_merge`) — the
    companion to `uptime_partials` for `state_durations`.

    Returns TWO bounded tables:

    * states:   (key, chunk, state, total_us, n_intervals) — closed
      intervals within the chunk, exactly `state_durations` applied
      chunk-locally;
    * boundary: (key, chunk, first_us, last_us, last_state) — what the
      merge needs to attribute each seam: the interval from chunk i's
      final row to chunk i+1's first row belongs to chunk i's last
      state (that row holds its state until the NEXT observation,
      wherever it lands).

    Both are O(keys·chunks·states) — partial-aggregated long before
    any cross-chunk work.
    """
    keys = [F.col(k) for k in key_cols]
    chunk = F.date_trunc(unit, F.col(ts_col))
    src = df.where(
        F.col(ts_col).isNotNull() & F.col(state_col).isNotNull()
    ).select(
        *key_cols,
        chunk.alias("chunk"),
        F.col(state_col).alias("state"),
        epoch_us(ts_col).alias("_us"),
        *[F.col(t) for t in tie_cols],
    )
    w = Window.partitionBy(*keys, "chunk").orderBy(
        "_us", *[F.col(t) for t in tie_cols]
    )
    dur = F.lead("_us").over(w) - F.col("_us")
    states = (
        src.withColumn("_dur", dur)
        .where(F.col("_dur").isNotNull())
        .groupBy(*key_cols, "chunk", "state")
        .agg(
            F.sum("_dur").alias("total_us"),
            F.count(F.lit(1)).alias("n_intervals"),
        )
    )
    order = F.struct(F.col("_us"), *[F.col(t) for t in tie_cols])
    boundary = src.groupBy(*key_cols, "chunk").agg(
        F.min("_us").alias("first_us"),
        F.max("_us").alias("last_us"),
        F.max_by(F.col("state"), order).alias("last_state"),
    )
    return states, boundary


def state_duration_merge(
    states: DataFrame,
    boundary: DataFrame,
    key_cols: Sequence[str] = ("conv_id",),
    group_cols: Sequence[str] = ("week",),
) -> DataFrame:
    """EXACT merge of `state_duration_partials` chunks into one row
    per (key, *group_cols, state) — bit-equal to `state_durations`
    over the group's raw rows.

    Each seam between consecutive chunks of a group contributes
    (next.first_us − cur.last_us) µs and one closed interval to
    cur.last_state — exactly the interval the chunk-local computation
    had to leave open.  Seams are one lag over the O(keys·chunks)
    boundary table; the final group-by unions them with the
    chunk-local totals.  `group_cols` must already be columns of BOTH
    inputs (derive them from `chunk` before calling).
    """
    w = Window.partitionBy(
        *[F.col(k) for k in key_cols], *[F.col(g) for g in group_cols]
    ).orderBy("chunk")
    seams = (
        boundary.select(
            *key_cols,
            *group_cols,
            "chunk",
            (F.col("first_us") - F.lag("last_us").over(w)).alias("total_us"),
            F.lag("last_state").over(w).alias("state"),
        )
        .where(F.col("total_us").isNotNull())
        .withColumn("n_intervals", F.lit(1).cast("long"))
        .select(*key_cols, *group_cols, "state", "total_us", "n_intervals")
    )
    chunked = states.select(
        *key_cols, *group_cols, "state", "total_us", "n_intervals"
    )
    return (
        chunked.unionByName(seams)
        .groupBy(*key_cols, *group_cols, "state")
        .agg(
            F.sum("total_us").alias("total_us"),
            F.sum("n_intervals").alias("n_intervals"),
        )
    )


def ohlc_merge(
    partials: DataFrame,
    width_sec: float,
    key_cols: Sequence[str] = ("user_id",),
    origin: str | None = None,
) -> DataFrame:
    """EXACT reaggregation of `ohlc` buckets into coarser ones (the
    tier-cascade contract for candlesticks, e.g. 1h→1d): open is the
    earliest fine bucket's open (min_by on bucket_start — fine buckets
    are disjoint, so bucket order IS sample order), close the latest's
    close, high/low/volume fold as max/min/sum.  Merged output is
    bit-equal to running `ohlc` on the raw rows at the coarse width
    (fine bucket boundaries never split an open/close: the earliest
    sample of the coarse bucket is the earliest sample of its earliest
    non-empty fine bucket).  One map-side-combined aggregation over
    the O(keys·buckets) partials — no raw re-scan.
    """
    return (
        partials.groupBy(
            *[F.col(k) for k in key_cols],
            floor_ts("bucket_start", to_us(width_sec), origin).alias("bucket_start"),
        )
        .agg(
            F.min_by(F.col("open_cents"), F.col("bucket_start")).alias(
                "open_cents"
            ),
            F.max("high_cents").alias("high_cents"),
            F.min("low_cents").alias("low_cents"),
            F.max_by(F.col("close_cents"), F.col("bucket_start")).alias(
                "close_cents"
            ),
            F.sum("n_samples").alias("n_samples"),
            F.sum("vsum_cents").alias("vsum_cents"),
        )
    )


def weighted_median(
    df: DataFrame,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
    tie_cols: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Duration-weighted (LOCF) median per (key, calendar day): the
    value the series spends at least half of its covered time at or
    below — `time_weighted_avg`'s robust sibling, with the identical
    coverage contract (sample i holds [ts_i, min(next_ts_i, day_end)),
    the day's final sample holds through the day end, no cross-day
    carry).

    Exactness: values are integer cents, weights integer µs; the
    lower weighted median is the unique cents level where the
    cumulative weight first reaches half the total, found by the pure
    integer crossing test 2·(cumw − w) < total ≤ 2·cumw — no
    averaging, no float, so the DuckDB twin matches bit-for-bit.

    Output per (key, day): ``wmedian_cents`` (the crossing level),
    ``total_us`` (the day's covered µs — always the full distance
    from the first sample to midnight), ``n_samples``.

    Plan: the `time_weighted_avg` lead window (one Exchange on key),
    then a groupBy on (key, day, cents) that collapses the weight
    mass to distinct levels — the cumulative window that follows
    runs over (key, day) partitions of at most |distinct levels|
    rows, never the raw samples, so the ordered pass is bounded by
    value cardinality while the heavy reduction is map-side combined.
    """
    keys = [F.col(k) for k in key_cols]
    w = Window.partitionBy(*keys).orderBy(
        F.col(ts_col), *[F.col(t) for t in tie_cols]
    )
    ts_us = epoch_us(ts_col)
    day = F.date_trunc("day", F.col(ts_col))
    day_end_us = epoch_us(day) + F.lit(DAY_US)
    next_us = F.lead(ts_us).over(w)
    weight = F.least(F.coalesce(next_us, day_end_us), day_end_us) - ts_us
    levels = (
        df.where(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
        .select(
            *keys,
            day.alias("day"),
            _cents(F.col(value_col)).alias("cents"),
            weight.alias("_w"),
        )
        .groupBy(*key_cols, "day", "cents")
        .agg(F.sum("_w").alias("_lw"), F.count(F.lit(1)).alias("_ln"))
    )
    part = Window.partitionBy(*key_cols, "day")
    cum = part.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = levels.select(
        *key_cols,
        F.col("day"),
        F.col("cents"),
        F.sum("_lw").over(cum).alias("_cumw"),
        F.col("_lw").alias("_w"),
        F.sum("_lw").over(part).alias("total_us"),
        F.sum("_ln").over(part).alias("n_samples"),
    )
    return ranked.where(
        (2 * (F.col("_cumw") - F.col("_w")) < F.col("total_us"))
        & (2 * F.col("_cumw") >= F.col("total_us"))
    ).select(
        *key_cols,
        F.col("day"),
        F.col("cents").alias("wmedian_cents"),
        F.col("total_us"),
        F.col("n_samples"),
    )
