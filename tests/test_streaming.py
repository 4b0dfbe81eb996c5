"""Structured Streaming tier maintenance: streaming results must equal
the batch rollup on the same data (the continuous-aggregate contract),
and file-stream ingest must resume exactly-once."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from smos_spark.operators.rollup import rollup_from_raw
from smos_spark.sources.store import TranscriptStore
from smos_spark.streaming.continuous import stream_ingest, streaming_rollup
from smos_spark.synth import synth_transcripts


@pytest.fixture(scope="module")
def turns(spark):
    return synth_transcripts(spark, n_conv=40, seed=11, span_days=2).cache()


def test_streaming_rollup_equals_batch(spark, turns, run_stream):
    got = (
        run_stream(
            "tier_1m_stream",
            lambda s: streaming_rollup(s, "1m", watermark="1 hour"),
            [turns],
            mode="complete",
        )
        .toPandas()
        .sort_values(["conv_id", "bucket_start"])
        .reset_index(drop=True)
    )
    exp = (
        rollup_from_raw(turns, "1m")
        .toPandas()
        .sort_values(["conv_id", "bucket_start"])
        .reset_index(drop=True)
    )
    assert list(got.columns) == list(exp.columns)
    pd.testing.assert_frame_equal(got, exp)


def test_stream_ingest_builds_tiers_and_resumes(spark, turns, tmp_path):
    src = str(tmp_path / "landing")
    cut = "2025-01-02 00:00:00"
    turns.where(F.col("ts") < F.lit(cut).cast("timestamp")).write.mode(
        "append"
    ).parquet(src)

    store = TranscriptStore(tmp_path / "store", n_buckets=4)
    ckpt = str(tmp_path / "ckpt")
    stream_ingest(spark, store, src, ckpt, run_id="s1")

    d1 = store.read_tier(spark, "1d")
    assert d1.count() > 0
    n_before = store.read_transcripts(spark).count()

    # second file lands → rerun drains ONLY the new file
    turns.where(F.col("ts") >= F.lit(cut).cast("timestamp")).write.mode(
        "append"
    ).parquet(src)
    stream_ingest(spark, store, src, ckpt, run_id="s1")

    assert store.read_transcripts(spark).count() == turns.count()
    # tiers equal the batch rollup over everything (exactly-once)
    got = (
        store.read_tier(spark, "1d")
        .select("conv_id", "bucket_start", "n_turns")
        .toPandas()
        .sort_values(["conv_id", "bucket_start"])
        .reset_index(drop=True)
    )
    exp = (
        rollup_from_raw(turns, "1d")
        .select("conv_id", "bucket_start", "n_turns")
        .toPandas()
        .sort_values(["conv_id", "bucket_start"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp)
    assert store.read_transcripts(spark).count() == n_before + turns.where(
        F.col("ts") >= F.lit(cut).cast("timestamp")
    ).count()


def test_streaming_dedup_within_watermark(spark, turns, run_stream):
    """Replayed turns across micro-batches are dropped while inside
    the watermark horizon, and the surviving set equals the batch
    dropDuplicates on the same files; state is watermark-bounded by
    construction (dropDuplicatesWithinWatermark)."""
    from smos_spark.streaming.continuous import streaming_dedup

    base = turns.limit(200).cache()
    # batch 1: the original turns; batch 2: a full replay plus 50 new
    replay = base.unionAll(turns.orderBy(F.desc("conv_id"), "ts").limit(50)).cache()
    got = run_stream(
        "dedup_out",
        lambda s: streaming_dedup(s, watermark="10 days"),
        [base, replay],
    ).select("conv_id", "turn_idx")
    batch_equiv = (
        base.unionAll(replay)
        .dropDuplicates(["conv_id", "turn_idx"])
        .select("conv_id", "turn_idx")
    )
    assert got.count() == got.dropDuplicates(["conv_id", "turn_idx"]).count()
    assert got.count() == batch_equiv.count()
    assert got.exceptAll(batch_equiv).count() == 0
