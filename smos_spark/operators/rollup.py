"""Retention-tier rollup cascade — the engine's core aggregation.

The reference's core operation is the img2ts pivot: time-major daily
images → location-major per-point series, clustered into 5°×5° cell
files (/root/reference/src/smos/smos_ic/reshuffle_ic.py:85-91,
docs/img2ts.rst:8-16). Our analog is a keyed windowed aggregation:
raw turns → per-(conv_id, bucket) partial aggregates at the 1m tier,
then *exact* re-aggregation 1m→1h→1d (sums/counts/min/max re-aggregate
losslessly; rates and means are derived views, never stored).

Scale notes (100 TB / 1000 executors):
* One wide shuffle on (conv_id, bucket) per tier build; coarser tiers
  re-aggregate the much smaller finer tier, never the raw table.
* Partial aggregation is the skew answer. Every partial here is
  algebraic (count/sum/min/max), so Spark's map-side partial
  HashAggregate sends at most one row per (conv_id, bucket) from each
  map task, however hot the conversation. A salted two-phase rollup
  only added work: on one 2M-turn conversation plus 400k cold turns
  (4 vCPU, local[4], 1m tier) it ran 3 stages instead of 2, 6.6-7.3
  instead of 3.8-4.8 executor CPU-s and 1.10M instead of 417k
  shuffle records, with no better max/median task time.
* All expressions are built-in (whole-stage codegen); no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from smos_spark.functions.timegrid import floor_ts, to_us
from smos_spark.schema import ROLES, TIERS

__all__ = [
    "rollup_from_raw",
    "reaggregate",
    "turn_partials",
    "with_derived",
    "resample",
    "reaggregate_width",
]


def _bucket(col: Column, tier: str) -> Column:
    return F.date_trunc(TIERS[tier]["unit"], col)


def _partial_aggs() -> list[Column]:
    """Partial aggregates over raw turns. All algebraic → exact reagg."""
    length = F.length("text")
    return [
        F.count(F.lit(1)).alias("n_turns"),
        F.count(F.when(F.col("role") == "user", 1)).alias("n_role_user"),
        F.count(F.when(F.col("role") == "assistant", 1)).alias("n_role_assistant"),
        F.count(F.when(F.col("role") == "tool", 1)).alias("n_role_tool"),
        F.count(F.when(F.col("role") == "system", 1)).alias("n_role_system"),
        F.count(F.col("tool")).alias("n_tool_calls"),
        F.sum(length).alias("len_sum"),
        F.count(length).alias("len_cnt"),
        F.min(length).cast("long").alias("len_min"),
        F.max(length).cast("long").alias("len_max"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    ]


_MERGE = {
    "n_turns": "sum",
    "n_role_user": "sum",
    "n_role_assistant": "sum",
    "n_role_tool": "sum",
    "n_role_system": "sum",
    "n_tool_calls": "sum",
    "len_sum": "sum",
    "len_cnt": "sum",
    "len_min": "min",
    "len_max": "max",
    "first_ts": "min",
    "last_ts": "max",
}


def _merge_aggs() -> list[Column]:
    out = []
    for name, how in _MERGE.items():
        agg = getattr(F, how)(F.col(name))
        if how == "sum":
            agg = agg.cast("long")
        out.append(agg.alias(name))
    return out


def rollup_from_raw(df: DataFrame, tier: str) -> DataFrame:
    """raw turns → tier partials at `tier` ('1m'|'1h'|'1d').

    One shuffle on (conv_id, bucket_start); map-side combine does the
    heavy lifting.
    """
    return df.groupBy(
        F.col("conv_id"), _bucket(F.col("ts"), tier).alias("bucket_start")
    ).agg(*_partial_aggs())


def turn_partials(df: DataFrame) -> DataFrame:
    """raw turns → one-turn tier partials, row for row (no shuffle).

    Each turn becomes the partial a bucket holding only that turn
    would have, with bucket_start = ts, so merging them is the same
    as aggregating raw: reaggregate(turn_partials(df), t) ==
    rollup_from_raw(df, t) for every tier, NULL role/tool/text/conv_id
    included. Lets a store merge new turns straight into any tier.
    """
    length = F.length("text").cast("long")

    def flag(cond: Column) -> Column:
        return F.when(cond, 1).otherwise(0).cast("long")

    return df.select(
        F.col("conv_id"),
        F.col("ts").alias("bucket_start"),
        F.lit(1).cast("long").alias("n_turns"),
        *[flag(F.col("role") == r).alias(f"n_role_{r}") for r in ROLES],
        flag(F.col("tool").isNotNull()).alias("n_tool_calls"),
        length.alias("len_sum"),
        flag(length.isNotNull()).alias("len_cnt"),
        length.alias("len_min"),
        length.alias("len_max"),
        F.col("ts").alias("first_ts"),
        F.col("ts").alias("last_ts"),
    )


def reaggregate(tier_df: DataFrame, to_tier: str) -> DataFrame:
    """finer tier partials → coarser tier partials, exactly.

    1h is built from 1m, 1d from 1h — the continuous-aggregate cascade
    (reference analog: daily images ARE the 1d tier; SURVEY.md §2.4 A2).
    """
    return tier_df.groupBy(
        F.col("conv_id"), _bucket(F.col("bucket_start"), to_tier).alias("bucket_start")
    ).agg(*_merge_aggs())


def with_derived(tier_df: DataFrame, round_to: int | None = None) -> DataFrame:
    """Attach derived rate/mean columns (views over partials).

    Gap rows (n_turns NULL from gap-fill) yield NULL rates — the
    reference's all-NaN missing-day row semantics
    (/root/reference/src/smos/interface.py:50-52, :222-254).
    """
    n = F.col("n_turns").cast("double")

    def rt(c: str) -> Column:
        r = F.col(c).cast("double") / n
        return F.round(r, round_to) if round_to is not None else r

    len_mean = F.when(
        F.col("len_cnt") > 0, F.col("len_sum").cast("double") / F.col("len_cnt")
    )
    if round_to is not None:
        len_mean = F.round(len_mean, round_to)
    return tier_df.select(
        "*",
        rt("n_role_user").alias("rate_user"),
        rt("n_role_assistant").alias("rate_assistant"),
        rt("n_role_tool").alias("rate_tool"),
        rt("n_role_system").alias("rate_system"),
        rt("n_tool_calls").alias("tool_rate"),
        len_mean.alias("len_mean"),
    )


def resample(df: DataFrame, width_sec: float, origin: str | None = None) -> DataFrame:
    """Arbitrary-width downsample: raw turns → tier-shaped partials at
    ANY bucket width (15 s, 5 min, 6 h, …), not just the named
    calendar tiers. Same partial-aggregate contract as
    `rollup_from_raw`, so everything downstream (gap-fill, derived
    views, stores, codecs) composes unchanged. `origin` anchors the
    grid (e.g. '2025-01-01 00:30:00' for half-hour-offset buckets).

    One shuffle on (conv_id, bucket_start), map-side combine — the
    identical plan shape as the named tiers at any width and scale.
    """
    return df.groupBy(
        F.col("conv_id"),
        floor_ts("ts", to_us(width_sec), origin).alias("bucket_start"),
    ).agg(*_partial_aggs())


def reaggregate_width(
    tier_df: DataFrame, width_sec: float, origin: str | None = None
) -> DataFrame:
    """Exact re-aggregation of width partials into a coarser width.
    The caller guarantees the coarser width is an integer multiple of
    (and grid-aligned with) the finer one — same contract as the
    named-tier cascade, where 1h ⊇ 1m and 1d ⊇ 1h."""
    return tier_df.groupBy(
        F.col("conv_id"),
        floor_ts("bucket_start", to_us(width_sec), origin).alias("bucket_start"),
    ).agg(*_merge_aggs())
