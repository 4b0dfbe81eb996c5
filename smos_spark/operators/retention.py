"""Retention enforcement — expire aged-out tier partitions.

The point of the 1m/1h/1d tier cascade is RETENTION: fine tiers are
kept for a short horizon, coarse tiers longer (the classic downsample
+ expire policy; the reference's analog is simply never re-reading old
daily images once cell files exist). Enforcement here is partition-
level: a tier's `bucket_date=` directories older than the policy
horizon are dropped whole — no row rewrite, no scan of surviving data
(the Iceberg equivalent is `DELETE WHERE bucket_date < cutoff` +
`expire_snapshots`, which is likewise metadata-only on a
day-partitioned table).

Expiry is staged, like every store change: one maintenance commit
(`TranscriptStore.commit_staged`) drops the expired day directories on
publish, appends one lineage row per dropped partition to the
checkpoint (so a resumed/auditing job can account for missing
history), and records `retention_floor` per tier in the overview save
that is its commit point — readers can refuse to gap-fill below it
(those buckets are *expired*, not *missing*). A crash before the commit
drops nothing; one after it is rolled forward by the next writer.
"""

from __future__ import annotations

import datetime as dt
from functools import partial, reduce
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smos_spark.functions.timegrid import instant, ts_lit
from smos_spark.sources.store import TranscriptStore

__all__ = [
    "DEFAULT_RETENTION",
    "apply_retention",
    "plan_tier_segments",
    "tiered_read",
    "tiered_read_store",
]

# horizon (days of bucket_date kept), per tier; None = keep forever
DEFAULT_RETENTION = {"1m": 7, "1h": 90, "1d": None}


def apply_retention(
    spark: SparkSession,
    store: TranscriptStore,
    now,
    policy: dict[str, int | None] | None = None,
    run_id: str = "retention",
) -> dict[str, list[str]]:
    """Drop tier partitions whose bucket_date is older than
    `now - policy[tier]` days. Returns {tier: [dropped dates]}.

    `now` is an explicit timestamp/date (never wall clock — jobs must
    be replayable); policy values are day counts or None (keep all).

    Holds the store's advisory writer lock (don't call while already
    holding it). The same commit also compacts the checkpoint's
    per-batch lineage files into one (`stage_checkpoint_compaction`).
    """
    policy = {**DEFAULT_RETENTION, **(policy or {})}
    if isinstance(now, str):
        now = dt.date.fromisoformat(now[:10])
    elif isinstance(now, dt.datetime):
        now = now.date()

    def expired(table: str, col: str, cutoff: dt.date) -> list[Path]:
        return [
            d
            for d in sorted(Path(table).glob(f"{col}=*"))
            if dt.date.fromisoformat(d.name.split("=", 1)[1]) < cutoff
        ]

    with store.writer():
        ov = store.load_overview()
        floors = dict((ov.extra or {}).get("retention_floor", {}))
        dropped: dict[str, list[str]] = {}
        dirs: list[Path] = []
        for tier, days in policy.items():
            dropped[tier] = []
            if days is None:
                continue
            cutoff = now - dt.timedelta(days=days)
            # the tier's compressed block store (blocks_<tier>/block_date=…)
            # shares the day-partition layout and the SAME horizon: expired
            # tier rows must not survive as decodable blocks
            tier_days = expired(store.tier_path(tier), "bucket_date", cutoff)
            block_days = expired(store.blocks_path(tier), "block_date", cutoff)
            dropped[tier] = [d.name.split("=", 1)[1] for d in tier_days] + [
                "blocks:" + d.name.split("=", 1)[1] for d in block_days
            ]
            dirs += tier_days + block_days
            if dropped[tier]:
                floors[tier] = str(cutoff)

        staging = store.staging_path(run_id)
        drop, lineage = store.day_drops(dirs, run_id, -1)
        store.append_checkpoint(spark, lineage, str(staging / "append" / "_checkpoint"))
        # retention is the natural periodic maintenance hook: fold the
        # per-batch single-file lineage appends back into one file
        store.stage_checkpoint_compaction(spark, staging)
        if staging.exists():
            ov.extra = {**(ov.extra or {}), "retention_floor": floors}
            store.commit_staged(ov, staging, drop)
    return dropped


def _ceil_to_unit(t: dt.datetime, seconds: int) -> dt.datetime:
    """Smallest unit-aligned timestamp >= t (exact timedelta math)."""
    return t + (dt.datetime(1970, 1, 1) - t) % dt.timedelta(seconds=seconds)


def plan_tier_segments(
    tier_names,
    t0: dt.date | str,
    t1: dt.date | str,
    now: dt.date | str,
    keep_s=None,
):
    """Driver-side segment planner shared by `tiered_read` (in-memory
    frames) and `tiered_read_store` (partition-pruned store scans):
    returns (order, [(tier, lo, hi), …]) with lo/hi the bucket-aligned
    cut semantics documented on `tiered_read`.  Pure datetime math,
    O(#tiers)."""
    from smos_spark.schema import TIERS

    t0, t1, now = instant(t0), instant(t1), instant(now)
    if t0 >= t1:
        raise ValueError("t0 must be < t1")
    for name in tier_names:
        if name not in TIERS:
            raise ValueError(f"unknown tier {name!r}")
    if keep_s is None:
        keep_s = {
            k: (None if v is None else v * 86400)
            for k, v in DEFAULT_RETENTION.items()
        }
    order = [name for name in TIERS if name in tier_names]  # fine→coarse
    if not order:
        raise ValueError("tiers must not be empty")

    # cut[i]: boundary between order[i] (serves newer) and order[i+1]
    cuts: list[dt.datetime] = []
    for i in range(len(order) - 1):
        keep = keep_s.get(order[i])
        coarser_sec = TIERS[order[i + 1]]["seconds"]
        if keep is None:  # finer tier keeps forever: it serves everything
            cut = t0
        else:
            cut = _ceil_to_unit(now - dt.timedelta(seconds=keep), coarser_sec)
        if cuts:
            cut = min(cut, cuts[-1])  # monotone: older cuts never newer
        cuts.append(cut)

    segments = []  # (tier, lo, hi)
    hi = t1
    for i, name in enumerate(order):
        if i < len(cuts):
            lo = max(t0, cuts[i])
        else:  # coarsest tier
            keep = keep_s.get(name)
            lo = t0
            if keep is not None:  # finite tail: older buckets are EXPIRED
                lo = max(
                    t0,
                    _ceil_to_unit(
                        now - dt.timedelta(seconds=keep),
                        TIERS[name]["seconds"],
                    ),
                )
        if lo < hi:
            segments.append((name, lo, hi))
        hi = min(hi, lo)
    return order, segments


def tiered_read(
    tiers,
    t0: dt.date | str,
    t1: dt.date | str,
    now: dt.date | str,
    keep_s=None,
):
    """Retention-aware tiered range read — the continuous-aggregate
    read path (TimescaleDB real-time-aggregate / Prometheus
    downsampled-read analog): serve [t0, t1) at the finest resolution
    each sub-range still retains, stitching tiers at deterministic
    bucket-aligned cuts.

    `tiers` maps tier name → its partials DataFrame (conv_id,
    bucket_start, …) as produced by ``rollup.rollup_from_raw`` /
    ``reaggregate``; `keep_s` maps tier → retention seconds (None =
    keep forever; defaults to DEFAULT_RETENTION days).  For each tier,
    data is available from `now − keep`; the cut between tier i and
    the next coarser tier is that availability start snapped UP to the
    COARSER tier's bucket boundary, so the coarser segment always ends
    on one of its own whole buckets (the finer tier's buckets align to
    every coarser boundary, so the finer segment starts clean too).
    Cuts are clamped monotone (a coarser tier can never cut after a
    finer one), which also makes inverted retention policies safe.

    Output: the UNION of the per-tier segment reads, each row tagged
    with its ``tier``; a bucket is served iff its bucket_start lies in
    the tier's segment — whole stored buckets, never partially
    re-aggregated ones, so every value is exactly a stored tier row.

    Scale shape: each segment is a pure range predicate on
    bucket_start pushed into that tier's scan (partition/row-group
    pruning on the store's bucket_date layout; no shuffle, no join —
    the union is read-only plan glue).  The driver-side boundary math
    is O(#tiers) plain datetimes.
    """

    def read(name, lo, hi):
        return tiers[name].where(
            (F.col("bucket_start") >= ts_lit(lo)) & (F.col("bucket_start") < ts_lit(hi))
        )

    return _stitch(read, list(tiers), t0, t1, now, keep_s)


def tiered_read_store(
    spark: SparkSession,
    store: TranscriptStore,
    t0: dt.date | str,
    t1: dt.date | str,
    now: dt.date | str,
    keep_s=None,
    tier_names=("1m", "1h", "1d"),
):
    """`tiered_read` against a TranscriptStore's persisted tier
    layout: each segment is one `read_tier(tier, lo, hi)`, so its scan
    also prunes to its own day directories (bucket_start alone is a
    data column — it row-group prunes via min/max stats but cannot
    drop partitions)."""
    return _stitch(partial(store.read_tier, spark), list(tier_names), t0, t1, now, keep_s)


def _stitch(read, tier_names, t0, t1, now, keep_s):
    """The union of `read(tier, lo, hi)` (rows with lo <= bucket_start
    < hi) over the planned segments, each row tagged with its tier; a
    wholly expired range gives an empty frame of the finest tier."""
    order, segments = plan_tier_segments(tier_names, t0, t1, now, keep_s)
    parts = [
        read(name, lo, hi).select(F.lit(name).alias("tier"), "*")
        for name, lo, hi in segments
    ]
    if not parts:
        empty = read(order[0], t0, t1).where(F.lit(False))
        parts = [empty.select(F.lit(order[0]).alias("tier"), "*")]
    return reduce(DataFrame.unionByName, parts)
