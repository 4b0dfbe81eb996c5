"""Incremental, resumable tier maintenance — the extend_ts analog.

Reference semantics (/root/reference/src/smos/smos_l2/reshuffle.py:96-155):
  * `overview.yml` records last_day; extend starts there (:121-122)
  * prepend/overwrite is REFUSED (:75-77) — late data is an error, not
    a merge (our quarantine routes it to a side table instead of dying)
  * the state file is written only after a successful repurpose
    (:147-152) — commit follows data

One raw write per batch. The batch is read once, by a
`partitionBy("ts_date")` write into the staging directory: `ts_date` is
the row's day when it is on time (ts after `last_day`) and NULL when it
is late or has no ts, so the late rows land in the write's NULL_DAY
directory, which is renamed to the batch's quarantine. The same write
carries an `Observation` of the row counts and the on-time bounds
(session-zone strings), so no other job reads the batch.

Merge strategy on parquet, which has no MERGE: each raw turn becomes a
one-turn partial (`rollup.turn_partials`), and every tier is merged
straight from those, not cascaded 1m→1h→1d. `TranscriptStore.merge_tiers`
re-aggregates, for all three tiers at once, (each tier's rows from the
batch's first day on ∪ the turn partials) in one shuffle and one write
job, and stages only the touched (bucket_date, bucket_id) partitions.
The turns are read back from the staged on-time files, with the batch's
schema, so the batch itself is neither re-read nor cached. Because the
partials are exact, the result equals a rollup of all raw turns.

Commit protocol (see `sources/store.py`). A batch stages all of its
writes under `_staging/<run_id>-<batch_id>/`: the raw turns, the late
rows, the merged tier partitions and its lineage rows (written on the
driver, no Spark job). Only then is the overview saved with the
batch's `last_batch_id`/`last_day` and a `pending` publish, and that
atomic overview rename is the commit point.
Publishing swaps the staged partition directories into `tiers/<tier>/`,
moves the staged files into `transcripts/`, `_quarantine/` and
`_checkpoint/` and drops stale block days, all by local-filesystem
renames; last, the overview clears `pending`. Nothing the live store
holds changes before the commit point, so a batch is applied exactly
once whatever fails:

  * a failure before the commit point (the staged raw write, the
    staged tier job, the lineage write) leaves a staging directory
    without a `pending` record; the retry discards it and redoes the
    batch. A `strict` batch with late rows raises there too, after
    deleting its own staging directory;
  * a failure after it (mid-publish, or before the final overview
    save) is rolled forward by the next writer: a retry of the same
    (run_id, batch_id) finishes the publish and is then skipped by the
    `last_batch_id` check below, without recomputing; any other batch
    finishes it before its own work;
  * a batch at or before `last_batch_id` is skipped.

`continuous.stream_ingest` re-runs a failed `foreachBatch` epoch with
the same batch id, which is exactly such a retry. Only ingest batches
advance `last_batch_id`: `merge_quarantine` is a maintenance commit and
leaves it alone, so the stream's next epoch is never taken by a merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smos_spark.functions.timegrid import ts_lit
from smos_spark.operators.rollup import turn_partials
from smos_spark.schema import TIERS
from smos_spark.sources.store import NULL_DAY, TranscriptStore


class MonotonicAppendError(ValueError):
    """New batch starts at or before the store's last_day — the
    reference's prepend guard (smos_l2/reshuffle.py:75-77)."""


def ingest_batch(
    store: TranscriptStore,
    batch: DataFrame,
    run_id: str,
    batch_id: int,
    strict: bool = False,
) -> dict:
    """Append one batch of raw turns and incrementally maintain all
    three tiers. Idempotent per (run_id, batch_id): see the module
    docstring for the staged commit and what a retry does. Holds the
    store's advisory writer lock for the duration: the parquet+manifest
    layout has no snapshot isolation, so a second concurrent writer
    raises ConcurrentWriterError instead of interleaving partition
    swaps."""
    with store.writer():  # a crashed writer's committed batch goes first
        return _ingest_batch_locked(store, batch, run_id, batch_id, strict)


def _ingest_batch_locked(
    store: TranscriptStore,
    batch: DataFrame,
    run_id: str,
    batch_id: int,
    strict: bool,
) -> dict:
    import datetime as _dt
    import os
    from pathlib import Path

    from pyspark.sql import Observation
    from pyspark.sql import types as T

    spark = batch.sparkSession
    ov = store.load_overview()
    if batch_id <= ov.last_batch_id:
        return {"skipped": True, "batch_id": batch_id}

    # --- one raw write: on-time rows by day, late rows by partition ---
    # A row is on time when its ts is after last_day; NULL-ts rows are
    # not (a time-series store cannot place them). The others get a
    # NULL day, so the same write puts them in the NULL_DAY directory,
    # which becomes the batch's quarantine. The write observes the
    # bounds, as session-zone strings, so the batch is read once.
    ts = F.col("ts")
    if ov.last_day is None:
        on_time = ts.isNotNull()
    else:
        on_time = ts > ts_lit(ov.last_day)
    ts_on_time = F.when(on_time, ts)
    # unnamed (a fresh name each time): Spark keys an observation by its
    # name and the observed DataFrame, so a retry observing the same
    # batch under the failed attempt's name would wait forever
    bounds = Observation()
    staging = store.staging_path(run_id, batch_id)
    raw = staging / "append" / "transcripts"
    store.append_transcripts(
        batch.observe(
            bounds,
            F.count(F.lit(1)).alias("n_raw"),
            F.count(ts_on_time).alias("n"),
            F.min(ts_on_time).cast("string").alias("lo"),
            F.max(ts_on_time).cast("string").alias("hi"),
            F.min(ts).cast("string").alias("raw_lo"),
        ),
        str(raw),
        day=F.to_date(ts_on_time),
    )
    # an empty batch writes no file, and Spark may then observe nothing
    b = bounds.get if any(raw.glob("*/*.parquet")) else {"n_raw": 0, "n": 0}
    n_in = b["n"]
    if b["n_raw"] != n_in:  # some rows are late and/or NULL-ts
        if strict:
            store.discard_staged(staging)
            raise MonotonicAppendError(
                f"batch has {b['n_raw'] - n_in} late/NULL-ts rows "
                f"(starts at {b['raw_lo']}, store last_day {ov.last_day})"
            )
        os.replace(raw / NULL_DAY, staging / "append" / "_quarantine")
    ov.last_batch_id = batch_id
    if n_in == 0:
        store.commit_staged(ov, staging)
        return {"skipped": False, "batch_id": batch_id, "rows_in": 0}

    lo, hi = b["lo"], b["hi"]
    # every bucket the batch touches starts on/after lo's calendar day
    # (bucket_start = date_trunc(unit, ts ≥ lo)), so the day-aligned
    # rewrite boundary is known WITHOUT a per-tier min() job
    batch_day = lo[:10]
    # the batch's calendar-day span, enumerated driver-side (no job):
    # any derived compressed blocks for these days encode PRE-append
    # tier values and must be dropped (same tier/blocks consistency
    # rule as retention and merge_quarantine). Dropping an untouched
    # day in the span loses no tier data: the day is absent from the
    # block readers until `store_tool blocks` rebuilds the blocks.
    d0 = _dt.date.fromisoformat(batch_day)
    d1 = _dt.date.fromisoformat(hi[:10])
    batch_days = [
        str(d0 + _dt.timedelta(days=i)) for i in range((d1 - d0).days + 1)
    ]

    # --- tier maintenance: merge the staged turns straight into each tier ---
    # read back with the batch's schema (no inference job): the batch
    # itself is not read again
    staged = spark.read.schema(
        T.StructType([*batch.schema.fields, T.StructField("ts_date", T.DateType())])
    ).parquet(str(raw))
    turns = turn_partials(staged.drop("ts_date"))
    # only date partitions the batch touches need rewriting; the
    # boundary is day-aligned because the physical layout partitions
    # on bucket_date — everything before it is final and is neither
    # read (partition pruning) nor written.
    rows_by_tier = {
        tier: store.read_tier(spark, tier, lo=batch_day).unionByName(turns)
        if Path(store.tier_path(tier)).exists()
        else turns
        for tier in TIERS
    }
    # rows_out_<tier> via observed metrics on the tier write itself — no
    # post-write count job, no full-table scan
    obs = Observation(f"tiers_b{batch_id}")
    store.merge_tiers(rows_by_tier, staging, obs)

    # --- commit: stage the lineage rows, then record and publish ---
    drop, stats = _stale_blocks(store, batch_days, run_id, batch_id)
    stats += _tier_lineage(run_id, batch_id, n_in, obs.get, lo, hi, "all")
    store.append_checkpoint(spark, stats, str(staging / "append" / "_checkpoint"))
    ov.last_day = hi
    store.commit_staged(ov, staging, drop)
    return {"skipped": False, "batch_id": batch_id, "rows_in": n_in}


def _tier_lineage(run_id, batch_id, rows_in, rows_out, lo, hi, partition_key) -> list[dict]:
    """One lineage row per tier; `rows_out` holds the observed
    ``rows_out_<tier>`` counts of the staged tier job. A maintenance
    commit passes batch_id -1 and gets committed_seq -1."""
    return [
        {
            "run_id": run_id,
            "batch_id": batch_id,
            "tier": tier,
            "partition_key": partition_key,
            "rows_in": rows_in,
            "rows_out": rows_out[f"rows_out_{tier}"],
            "min_ts": lo,
            "max_ts": hi,
            "committed_seq": batch_id * 10 + seq if batch_id >= 0 else -1,
        }
        for seq, tier in enumerate(TIERS)
    ]


def _stale_blocks(
    store: TranscriptStore, days: list[str], run_id: str, batch_id: int
) -> tuple[list[str], list[dict]]:
    """The compressed block days of every tier that encode the tier's
    values from before a merge of `days` (directories relative to the
    store root, dropped on publish), and one lineage row per day. No
    reader re-encodes: a dropped day is absent from `read_blocks` and
    `read_block_series` until `store_tool blocks` rebuilds it."""
    from pathlib import Path

    dirs = [Path(store.blocks_path(t)) / f"block_date={d}" for t in TIERS for d in days]
    return store.day_drops(dirs, run_id, batch_id)


def ingest_batches(
    store: TranscriptStore,
    batches: list[DataFrame],
    run_id: str,
) -> list[dict]:
    """Drive a sequence of time-ordered micro-batches (the imgbuffer
    loop analog, Trigger.AvailableNow shape)."""
    return [ingest_batch(store, b, run_id, i) for i, b in enumerate(batches)]


def merge_quarantine(
    store: TranscriptStore,
    spark: SparkSession,
    run_id: str,
) -> dict:
    """Late-data backfill — the Iceberg-MERGE analog the append-only
    ingest refuses to do inline. Quarantined rows (ts at/before the
    store's last_day) are merged into the raw table and every tier
    partition they touch is recomputed FROM RAW, so the store ends
    byte-identical to one built with the late rows on time.

    The merge is one maintenance commit of the store's staged commit
    (see the module docstring), staged at ``_staging/<run_id>/``. It
    does not take or advance ``last_batch_id``, which only ingest
    batches do, so the stream's next epoch is never skipped:

    * the quarantine directory is FROZEN first by an atomic rename to
      ``_quarantine_merging`` — new late rows keep accumulating in a
      fresh ``_quarantine``; a leftover frozen dir on entry means a
      prior merge crashed before its commit and is re-processed;
    * the raw table is NOT appended to: the affected ``ts_date``
      partitions are staged as dedup(existing ∪ late) on the
      (conv_id, turn_idx) turn key, to be swapped in whole;
    * tiers are recomputed for the affected bucket_dates from the
      staged raw days (1m/1h/1d buckets never span a day, so a day
      recompute is self-contained) by one `merge_tiers` job;
    * derived compressed block stores (``blocks_<tier>/block_date=d``)
      are computed FROM tier rows, so a merged day makes its blocks
      stale: they are DROPPED on publish for every affected day (same
      tier/blocks consistency rule retention enforces) and the drop is
      recorded in lineage — the day is then absent from `read_blocks`
      and `read_block_series` until `store_tool blocks` rebuilds it
      from the (now correct) tier, instead of serving pre-merge
      values;
    * the lineage rows are staged and the merge is committed with the
      frozen dir in its ``drop`` list, so publishing deletes it. A
      crash before the commit point discards the staging directory and
      the next merge redoes the work; one after it is rolled forward by
      the next writer.

    Survivor choice on a turn-key collision is DETERMINISTIC: the late
    row wins (a late delivery is a correction — MERGE/upsert
    semantics), and ties within a side break on (ts, role, tool, text),
    so re-running the merge — or racing rows inside one merge — always
    converges to the same bytes.

    NULL-ts rows can never be placed on the time axis; the same commit
    appends them to ``_quarantine_unplaceable`` instead of poisoning
    retries forever.

    Scale shape: late data clusters near the append boundary, so the
    rewrite set is a handful of day partitions regardless of table
    size; everything else is partition-pruned out of both the read
    and the write. One shuffle for all three tier recomputes: the
    merged raw days go through `turn_partials` into `merge_tiers`, the
    same plan as the ingest's tier merge.
    """
    from pathlib import Path

    from pyspark.sql import Observation, Window

    from smos_spark.schema import TRANSCRIPTS_SCHEMA

    placeable = None
    with store.writer():
        try:
            qdir = Path(store.root) / "_quarantine"
            frozen = Path(store.root) / "_quarantine_merging"
            if not frozen.exists():
                if not qdir.exists():
                    return {"merged": 0, "unplaceable": 0, "days": []}
                qdir.rename(frozen)

            late = spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(str(frozen))
            placeable = late.where(F.col("ts").isNotNull()).cache()
            b = late.agg(
                F.count(F.lit(1)).alias("n_all"),
                F.count("ts").alias("n_late"),
                F.min("ts").cast("string").alias("lo"),
                F.max("ts").cast("string").alias("hi"),
            ).collect()[0]
            n_null, n_late = b.n_all - b.n_late, b.n_late
            staging = store.staging_path(run_id)
            if n_null:
                late.where(F.col("ts").isNull()).write.parquet(
                    str(staging / "append" / "_quarantine_unplaceable")
                )
            days = [
                str(r.d)
                for r in placeable.select(F.to_date("ts").alias("d")).distinct().collect()
            ]
            drop = [frozen.name]
            if days:
                # --- raw merge: stage only the affected day partitions ---
                raw = spark.read.parquet(store.transcripts_path)
                existing_days = raw.where(F.col("ts_date").isin(days)).drop("ts_date")
                # deterministic survivor per turn key: late (_src=0) beats
                # existing (_src=1); within a side, (ts, role, tool, text) is a
                # total order over the payload so dropDuplicates' arbitrary pick
                # can't make reruns diverge. Window partitions are turn keys —
                # a handful of rows each, no skew.
                surv = Window.partitionBy("conv_id", "turn_idx").orderBy(
                    "_src", "ts", "role", "tool", "text"
                )
                merged_days = (
                    existing_days.withColumn("_src", F.lit(1))
                    .unionByName(placeable.withColumn("_src", F.lit(0)))
                    .withColumn("_rn", F.row_number().over(surv))
                    .where(F.col("_rn") == 1)
                    .drop("_src", "_rn")
                    .withColumn("ts_date", F.to_date("ts"))
                )
                staged_raw = str(staging / "swap" / "transcripts")
                merged_days.repartition("ts_date").write.partitionBy("ts_date").parquet(staged_raw)

                # --- tier recompute from the staged raw days ---
                turns = turn_partials(spark.read.parquet(staged_raw).drop("ts_date"))
                obs = Observation("tiers_merge")
                store.merge_tiers({tier: turns for tier in TIERS}, staging, obs)
                stale, stats = _stale_blocks(store, days, run_id, -1)
                drop += stale
                stats += _tier_lineage(
                    run_id, -1, n_late, obs.get, b.lo, b.hi, ",".join(sorted(days))
                )
                store.append_checkpoint(spark, stats, str(staging / "append" / "_checkpoint"))
            store.commit_staged(store.load_overview(), staging, drop)
            return {"merged": n_late, "unplaceable": n_null, "days": sorted(days)}
        finally:
            if placeable is not None:
                placeable.unpersist()
