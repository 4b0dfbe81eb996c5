"""Skew-aware auto-dispatch between keyed-window operators and their
bounded-partition twins.

The package ships two proven-identical implementations for every
order-dependent per-key operator (PLANS.md §27 class 3): the plain
form — ONE shuffle, whole-stage codegen, but one window partition per
key, so a pathologically hot key (a 10^9-event conversation/user) is
a single sort task Spark cannot skew-split — and a bucketed twin whose
partitions are bounded for ANY key at the cost of ~2× shuffled rows or
an extra small shuffle. A 100×-scale user should not have to know
which key is hot: these ``*_auto`` entry points estimate key heat from
a cheap seeded sample (`detect_hot_keys`) and route, through the one
router `_dispatch`,

* no hot keys        → the plain form (plus one cheap sampling job);
* a few hot keys     → split by key: cold majority through the plain
                       form, hot keys through the twin, unioned —
                       exact, because every operator here is
                       self-contained per key;
* many hot keys (> ``max_split``) → the twin for everything (a giant
                       hot-key predicate would cost more than the
                       twin's overhead).

Results are identical to the plain form in all three regimes
(asserted in tests/test_dispatch.py). The heat estimate is a 0.1%
sample groupBy — at 10^12 turns that is a distributed 10^9-row count,
never a full-key histogram; only the (capped) hot list is collected.
"""

from __future__ import annotations

from functools import reduce
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "detect_hot_keys",
    "hot_key_predicate",
    "rolling_stats_auto",
    "asof_join_auto",
    "counter_rate_auto",
    "largest_gaps_auto",
    "event_funnel_auto",
]

#: above this many detected hot keys the split predicate (an OR-chain
#: of null-safe equalities) costs more than routing everything through
#: the bounded twin
MAX_SPLIT_KEYS = 64


def detect_hot_keys(
    df: DataFrame,
    key_cols: Sequence[str],
    hot_threshold: int = 1_000_000,
    sample_fraction: float = 0.001,
    seed: int = 42,
    max_hot: int = MAX_SPLIT_KEYS,
) -> list[tuple] | None:
    """Estimate hot key tuples from a seeded sample. The sampled
    cutoff never drops below 5 rows, so a mis-sized threshold cannot
    pull the whole key set to the driver.

    Returns the list of hot key tuples (possibly empty), or ``None``
    when MORE than ``max_hot`` keys are hot — the caller should stop
    splitting and use the bounded twin wholesale.
    """
    if hot_threshold * sample_fraction < 5.0:
        import warnings

        warnings.warn(
            f"detect_hot_keys: hot_threshold*sample_fraction = "
            f"{hot_threshold * sample_fraction:.2f} < 5 — the sampled cutoff "
            f"is clamped to 5 rows, so keys with true counts in "
            f"[{hot_threshold}, {5 / sample_fraction:.0f}) will NOT be "
            "detected as hot; raise sample_fraction (or hot_threshold)",
            stacklevel=2,
        )
    cutoff = max(hot_threshold * sample_fraction, 5.0)
    est = (
        df.sample(fraction=sample_fraction, seed=seed)
        .groupBy(*key_cols)
        .count()
        .where(F.col("count") >= cutoff)
    )
    hot = [tuple(r[k] for k in key_cols) for r in est.limit(max_hot + 1).collect()]
    if len(hot) > max_hot:
        return None
    return hot


def hot_key_predicate(key_cols: Sequence[str], hot: Sequence[tuple]) -> Column:
    """Total (never-NULL) membership predicate for the hot tuples:
    an OR-chain of null-safe equalities, so NULL-keyed series — a
    regular group to every operator here — route correctly instead of
    falling out of both branches the way `isin` would."""
    pred = F.lit(False)
    for row in hot:
        term = F.lit(True)
        for k, v in zip(key_cols, row):
            term = term & F.col(k).eqNullSafe(F.lit(v))
        pred = pred | term
    return pred


def _dispatch(
    frames: tuple[DataFrame, ...],
    key_cols: Sequence[str],
    plain,
    bucketed,
    hot_threshold: int,
    sample_fraction: float,
    seed: int,
) -> DataFrame:
    """Shared routing: sample → plain / split-union / twin-wholesale.

    ``plain`` and ``bucketed`` take the frames positionally. Heat is
    sampled once on the union of the frames' key columns (a multi-frame
    operator's window partition holds every frame's rows), and the
    null-safe hot predicate splits every frame alike."""
    keys = reduce(DataFrame.unionAll, (f.select(*key_cols) for f in frames))
    hot = detect_hot_keys(
        keys, key_cols, hot_threshold, sample_fraction, seed, max_hot=MAX_SPLIT_KEYS
    )
    if hot is None:  # too many hot keys to split — twin for everything
        return bucketed(*frames)
    if not hot:
        return plain(*frames)
    is_hot = hot_key_predicate(key_cols, hot)
    return plain(*(f.where(~is_hot) for f in frames)).unionByName(
        bucketed(*(f.where(is_hot) for f in frames))
    )


def rolling_stats_auto(
    df: DataFrame,
    window_sec: float,
    value_col: Column | str = "value",
    on: str | Sequence[str] = "conv_id",
    ts_col: str = "ts",
    prefix: str = "roll_",
    quantiles: Sequence[float] = (),
    hot_threshold: int = 1_000_000,
    sample_fraction: float = 0.001,
    seed: int = 42,
) -> DataFrame:
    """`rolling_stats`, hot keys routed through the bounded
    (key, time-bucket) twin. Row-identical to `rolling_stats`."""
    from smos_spark.operators.asof import rolling_stats, rolling_stats_bucketed

    keys = [on] if isinstance(on, str) else list(on)
    kw = dict(
        window_sec=window_sec,
        value_col=value_col,
        on=on,
        ts_col=ts_col,
        prefix=prefix,
        quantiles=quantiles,
    )
    return _dispatch(
        (df,),
        keys,
        lambda d: rolling_stats(d, **kw),
        lambda d: rolling_stats_bucketed(d, **kw),
        hot_threshold,
        sample_fraction,
        seed,
    )


def asof_join_auto(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str] = "conv_id",
    ts_col: str = "ts",
    tolerance_sec: float | None = None,
    right_cols: Sequence[str] | None = None,
    suffix: str = "_right",
    order_col: str | None = None,
    hot_threshold: int = 1_000_000,
    sample_fraction: float = 0.001,
    seed: int = 42,
) -> DataFrame:
    """Backward as-of join, hot keys routed through the bounded twin.

    The bounded path needs a staleness bound to define its buckets, so
    without ``tolerance_sec`` this is always the plain form (its
    single ordered window is still one shuffle — just not hot-key
    safe; pass a tolerance to unlock the twin). Heat is measured on
    LEFT∪RIGHT keys — the window partition holds both sides' rows.
    Row-identical to ``asof_join(..., tolerance_sec=...)``."""
    from smos_spark.operators.asof import asof_join, asof_join_bucketed

    kw = dict(
        on=on,
        ts_col=ts_col,
        right_cols=right_cols,
        suffix=suffix,
        order_col=order_col,
    )
    if tolerance_sec is None:
        return asof_join(left, right, **kw)
    return _dispatch(
        (left, right),
        [on] if isinstance(on, str) else list(on),
        lambda lf, rt: asof_join(lf, rt, tolerance_sec=tolerance_sec, **kw),
        lambda lf, rt: asof_join_bucketed(lf, rt, tolerance_sec, **kw),
        hot_threshold,
        sample_fraction,
        seed,
    )


def counter_rate_auto(
    df: DataFrame,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    counter_col: str = "counter",
    width_sec: float = 3600.0,
    origin: str | None = None,
    tie_cols: Sequence[str] = ("event_id",),
    hot_threshold: int = 1_000_000,
    sample_fraction: float = 0.001,
    seed: int = 42,
) -> DataFrame:
    """`counter_rate`, hot keys routed through the two-level-adjacency
    twin. Row-identical to `counter_rate`."""
    from smos_spark.operators.downsample import counter_rate, counter_rate_bucketed

    kw = dict(
        key_cols=key_cols,
        ts_col=ts_col,
        counter_col=counter_col,
        width_sec=width_sec,
        origin=origin,
        tie_cols=tie_cols,
    )
    return _dispatch(
        (df,),
        list(key_cols),
        lambda d: counter_rate(d, **kw),
        lambda d: counter_rate_bucketed(d, **kw),
        hot_threshold,
        sample_fraction,
        seed,
    )


def largest_gaps_auto(
    df: DataFrame,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    top_k: int = 3,
    tie_cols: Sequence[str] = ("event_id",),
    width_sec: float = 86400.0,
    hot_threshold: int = 1_000_000,
    sample_fraction: float = 0.001,
    seed: int = 42,
) -> DataFrame:
    """`largest_gaps`, hot keys routed through the two-level-adjacency
    twin. Row-identical to `largest_gaps`."""
    from smos_spark.operators.downsample import largest_gaps, largest_gaps_bucketed

    kw = dict(key_cols=key_cols, ts_col=ts_col, top_k=top_k, tie_cols=tie_cols)
    return _dispatch(
        (df,),
        list(key_cols),
        lambda d: largest_gaps(d, **kw),
        lambda d: largest_gaps_bucketed(d, width_sec=width_sec, **kw),
        hot_threshold,
        sample_fraction,
        seed,
    )


def event_funnel_auto(
    df: DataFrame,
    steps: Sequence[str] = ("view", "click", "purchase"),
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    type_col: str = "event_type",
    tie_cols: Sequence[str] = ("event_id",),
    hot_threshold: int = 1_000_000,
    sample_fraction: float = 0.001,
    seed: int = 42,
) -> DataFrame:
    """`event_funnel`, hot keys routed through the join-of-aggregations
    twin (`event_funnel_stepwise` — N combine-safe min() shuffles of
    O(keys) rows, immune to key heat). Row-identical to
    `event_funnel`."""
    from smos_spark.operators.events import event_funnel, event_funnel_stepwise

    return _dispatch(
        (df,),
        list(key_cols),
        lambda d: event_funnel(
            d,
            steps=steps,
            key_cols=key_cols,
            ts_col=ts_col,
            type_col=type_col,
            tie_cols=tie_cols,
        ),
        lambda d: event_funnel_stepwise(
            d, steps=steps, key_cols=key_cols, ts_col=ts_col, type_col=type_col
        ),
        hot_threshold,
        sample_fraction,
        seed,
    )
