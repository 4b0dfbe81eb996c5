"""Structured Streaming surface for continuous tier maintenance.

The reference's incremental path is batch-driven (extend_ts appends
new days after `last_day`, /root/reference/src/smos/smos_l2/
reshuffle.py:96-155). On Spark this becomes two complementary shapes:

1. `stream_ingest` — file-source `readStream` over the transcripts
   landing directory, `Trigger.AvailableNow` micro-batches (the
   imgbuffer loop analog), each batch driven through the SAME
   checkpointed `ingest_batch` path as batch mode (foreachBatch).
   Exactly-once: Spark's streaming checkpoint tracks consumed files;
   the store's staged commit makes tier maintenance idempotent per
   (run_id, batch_id): a re-run epoch finishes a committed batch's
   publish or redoes an uncommitted one, and a replay of a published
   batch is a no-op.

2. `streaming_rollup` — a native watermarked windowed aggregation
   producing 1m-tier partials continuously; late rows beyond the
   watermark are dropped by Spark (the reference's hard prepend
   refusal, smos_l2/reshuffle.py:75-77 — our quarantine variant lives
   in the batch path's ingest_batch).

Both keep all aggregation JVM-side (same _partial_aggs expressions as
the batch tier build — one code path for the math).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smos_spark.operators.rollup import _partial_aggs
from smos_spark.schema import TIERS, TRANSCRIPTS_SCHEMA
from smos_spark.sources.store import TranscriptStore
from smos_spark.streaming.incremental import ingest_batch

__all__ = ["streaming_rollup", "stream_ingest", "streaming_dedup"]


def streaming_dedup(
    stream: DataFrame,
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exactly-once-per-key dedup with BOUNDED state: drop
    rows whose key was already seen within the watermark horizon
    (`dropDuplicatesWithinWatermark`) — the streaming twin of the
    batch `dropDuplicates` the late-data merge uses
    (incremental.merge_quarantine), for upstream producers that replay
    turns (at-least-once buses, retried writers).

    Why not plain streaming `dropDuplicates(keys)`: its state grows
    FOREVER (one entry per key ever seen — a driver-killer on a
    10^12-turn stream). WithinWatermark evicts key state once event
    time passes the horizon, so memory is O(keys per watermark
    window); a replay arriving later than the watermark is no longer
    deduped here — it lands in the batch path's late-row quarantine
    and is deduped by merge_quarantine's idempotent MERGE instead (the
    same division of labor as the reference's hard prepend refusal,
    /root/reference/src/smos/smos_l2/reshuffle.py:75-77).
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def streaming_rollup(
    stream: DataFrame, tier: str = "1m", watermark: str = "2 hours"
) -> DataFrame:
    """Continuous tier partials over a streaming transcripts frame.

    Watermark bounds state: a (conv_id, bucket) group is finalized and
    evicted once event time passes bucket_end + watermark. Output
    schema matches the batch tier exactly (bucket_start + partials),
    so sinks can MERGE into the same tier tables.
    """
    seconds = TIERS[tier]["seconds"]
    win = F.window("ts", f"{seconds} seconds")
    agged = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.col("conv_id"), win)
        .agg(*_partial_aggs())
    )
    partial_cols = [c for c in agged.columns if c not in ("conv_id", "window")]
    return agged.select(
        "conv_id", F.col("window.start").alias("bucket_start"), *partial_cols
    )


def stream_ingest(
    spark: SparkSession,
    store: TranscriptStore,
    input_path: str,
    checkpoint_dir: str,
    run_id: str = "stream",
    max_files_per_trigger: int | None = None,
    await_termination: bool = True,
):
    """File-source streaming ingest: every new parquet file landing in
    `input_path` flows through the checkpointed incremental tier
    maintenance (ingest_batch). Trigger.AvailableNow drains what
    exists and stops — rerunning resumes from the streaming
    checkpoint (consumed files) AND the store overview (committed
    batches), either alone is enough for exactly-once tiers.
    """
    reader = spark.readStream.schema(TRANSCRIPTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)

    def _drive(batch_df: DataFrame, epoch_id: int) -> None:
        ingest_batch(store, batch_df, run_id=run_id, batch_id=int(epoch_id))

    q = (
        stream.writeStream.foreachBatch(_drive)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q
