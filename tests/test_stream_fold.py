"""Stream == batch for every keyed-fold streaming twin
(streaming/fold.py) over seeded random micro-batch splits.

Each case cuts its input at random (ts, turn_idx) ranks into four
files, one per micro-batch, shuffles the rows inside each file and
shrinks the Arrow batch size, so a key's rows reach the fold as
several out-of-order chunks. The streamed rows must equal the batch
operator's as a multiset (`counter_rate_stream`: batch `counter_rate`
minus each key's still-open bucket). Each twin keeps one data seed and
one parameter set; its named ``*_stream_matches_batch`` test in the
operator's test module runs split seed 0, and
`test_fold_twin_stream_equals_batch` runs split seed 1.
"""

from __future__ import annotations

import random
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from smos_spark.operators import alerting, anomaly, downsample, smooth
from smos_spark.synth import synth_transcripts

KEY = dict(key_cols=["conv_id"], tie_cols=["turn_idx"])


def _lengths(spark, seed, n_conv=30, cast="double", col="value"):
    return (
        synth_transcripts(spark, n_conv=n_conv, seed=seed)
        .where(F.col("ts").isNotNull() & F.col("text").isNotNull())
        .select("conv_id", "ts", "turn_idx", F.length("text").cast(cast).alias(col))
    )


def _counters(spark):
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    # cumulative text length mod 10k: a monotone counter with resets
    return (
        synth_transcripts(spark, n_conv=25, seed=31)
        .where(F.col("ts").isNotNull())
        .withColumn(
            "counter",
            F.pmod(F.sum(F.length("text")).over(w), F.lit(10_000)).cast("long"),
        )
        .select("conv_id", "ts", "turn_idx", "counter")
    )


def _closed_buckets(batch):
    last = F.max("bucket_start").over(Window.partitionBy("conv_id"))
    return batch.withColumn("_last", last).where(F.col("bucket_start") < F.col("_last"))


HYST = dict(hi=600.0, lo=200.0)
HOLD = dict(hi=300.0, hold_sec=180.0)
CUSUM = dict(target_cents=50000, slack_cents=10000, h_cents=200000)
RATE = dict(counter_col="counter", width_sec=3600.0)

# twin -> (input, stream(src), batch(df), compared columns, min batch rows)
CASES = {
    "ewma": (
        lambda spark: _lengths(spark, 13),
        lambda s: smooth.ewma_stream(s, 0.3, watermark="0 seconds", **KEY),
        lambda df: smooth.ewma(df, 0.3, **KEY),
        ["conv_id", "ts", "turn_idx", "value", "ewma"],
        1,
    ),
    "des": (
        lambda spark: _lengths(spark, 13),
        lambda s: smooth.des_stream(s, 0.3, watermark="0 seconds", **KEY),
        lambda df: smooth.des(df, 0.3, **KEY),
        ["conv_id", "ts", "turn_idx", "des_level", "des_trend", "des_forecast"],
        1,
    ),
    "hysteresis": (
        lambda spark: _lengths(spark, 23),
        lambda s: alerting.hysteresis_stream(
            s, "value", watermark="0 seconds", **HYST, **KEY
        ),
        lambda df: alerting.hysteresis_alerts(
            df, "value", events_only=True, **HYST, **KEY
        ),
        ["conv_id", "turn_idx", "alert_active", "event"],
        6,
    ),
    "threshold_hold": (
        lambda spark: _lengths(spark, 37),
        lambda s: alerting.threshold_hold_stream(
            s, "value", watermark="0 seconds", **HOLD, **KEY
        ),
        lambda df: alerting.threshold_hold_alerts(
            df, "value", events_only=True, **HOLD, **KEY
        ),
        ["conv_id", "turn_idx", "cond", "firing", "event"],
        6,
    ),
    "drawdown": (
        lambda spark: _lengths(spark, 43, n_conv=25, cast="long", col="v"),
        lambda s: alerting.drawdown_alerts_stream(
            s, "v", threshold=40, watermark="0 seconds", **KEY
        ),
        lambda df: alerting.drawdown_alerts(df, "v", threshold=40, **KEY),
        ["conv_id", "ts", "value", "peak", "drawdown"],
        11,
    ),
    "counter_rate": (
        _counters,
        lambda s: downsample.counter_rate_stream(
            s, watermark="0 seconds", **RATE, **KEY
        ),
        lambda df: _closed_buckets(downsample.counter_rate(df, **RATE, **KEY)),
        ["conv_id", "bucket_start", "increase", "n_samples"],
        11,
    ),
    "gap_alerts": (
        lambda spark: synth_transcripts(spark, n_conv=25, seed=41)
        .where(F.col("ts").isNotNull())
        .select("conv_id", "ts", "turn_idx"),
        lambda s: downsample.gap_alerts_stream(
            s, min_gap_sec=1800.0, watermark="0 seconds", **KEY
        ),
        lambda df: downsample.gap_alerts(df, min_gap_sec=1800.0, **KEY),
        ["conv_id", "gap_start", "gap_end", "gap_us"],
        11,
    ),
    "cusum": (
        lambda spark: _lengths(spark, 17),
        lambda s: anomaly.cusum_stream(
            s, "value", ["conv_id"], tie_cols=["turn_idx"],
            watermark="0 seconds", **CUSUM,
        ),
        lambda df: anomaly.cusum_fixed(
            df, "value", ["conv_id"], tie_cols=["turn_idx"], **CUSUM
        ),
        ["conv_id", "ts", "turn_idx", "value_cents", "cusum_cents"],
        1,
    ),
}


def _random_split(df, seed, n_files=4):
    """``df`` cut at ``n_files - 1`` random (ts, turn_idx) ranks, each
    part's rows in random order."""
    ranked = df.withColumn(
        "_rank", F.row_number().over(Window.orderBy("ts", "turn_idx"))
    ).cache()
    n = ranked.count()
    cuts = [0, *sorted(random.Random(seed).sample(range(1, n), n_files - 1)), n]
    return [
        ranked.where((F.col("_rank") > lo) & (F.col("_rank") <= hi))
        .drop("_rank")
        .coalesce(1)
        .sortWithinPartitions(F.rand(seed))
        for lo, hi in zip(cuts, cuts[1:])
    ]


def check_fold_twin(spark, run_stream, twin, split_seed):
    data, stream, batch, cols, min_rows = CASES[twin]
    df = data(spark).cache()
    # several Arrow chunks per key and micro-batch; two state-store
    # partitions cut the per-micro-batch cost by about a third
    conf = {
        "spark.sql.execution.arrow.maxRecordsPerBatch": "16",
        "spark.sql.shuffle.partitions": "2",
    }
    prev = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        got = run_stream(
            f"fold_{twin}_{split_seed}", stream, _random_split(df, split_seed)
        ).collect()
        want = batch(df).collect()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert len(want) >= min_rows
    assert Counter(tuple(r[c] for c in cols) for r in got) == Counter(
        tuple(r[c] for c in cols) for r in want
    )


@pytest.mark.parametrize("twin", sorted(CASES))
def test_fold_twin_stream_equals_batch(spark, run_stream, twin):
    check_fold_twin(spark, run_stream, twin, split_seed=1)
