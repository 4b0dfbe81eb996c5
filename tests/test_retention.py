"""Retention enforcement: aged-out tier partitions are dropped whole,
survivors untouched, expiry recorded in lineage + overview floor."""

from __future__ import annotations

import datetime as dt
from pathlib import Path

from pyspark.sql import functions as F

from smos_spark.operators.retention import apply_retention, plan_tier_segments
from smos_spark.operators.rollup import reaggregate, rollup_from_raw
from smos_spark.sources.store import TranscriptStore
from smos_spark.synth import synth_transcripts


def test_apply_retention(spark, tmp_path):
    t = synth_transcripts(spark, n_conv=30, seed=21, span_days=6)
    store = TranscriptStore(tmp_path / "store", n_buckets=4)
    m1 = rollup_from_raw(t, "1m")
    store.write_tier(m1, "1m")
    store.write_tier(reaggregate(m1, "1h"), "1h")
    store.write_tier(reaggregate(m1, "1d"), "1d")

    all_dates = sorted(
        d.name.split("=")[1] for d in Path(store.tier_path("1m")).glob("bucket_date=*")
    )
    assert len(all_dates) >= 5
    # keep 2 days of 1m, 4 days of 1h, all of 1d, as of the last day
    now = all_dates[-1]
    dropped = apply_retention(
        spark, store, now, policy={"1m": 2, "1h": 4, "1d": None}
    )

    kept_1m = sorted(
        d.name.split("=")[1] for d in Path(store.tier_path("1m")).glob("bucket_date=*")
    )
    assert dropped["1m"] == [d for d in all_dates if d not in kept_1m]
    assert all(d >= min(kept_1m) for d in kept_1m)
    assert len(dropped["1m"]) > 0
    assert len(dropped["1h"]) > 0
    assert dropped["1d"] == []

    # surviving data still reads, and equals a fresh rollup restricted
    # to the retained window (drop nothing inside the horizon)
    kept = store.read_tier(spark, "1m")
    exp = rollup_from_raw(t, "1m").where(
        F.to_date("bucket_start") >= min(kept_1m)
    )
    assert kept.count() == exp.count()
    assert kept.exceptAll(exp).count() == 0

    # lineage rows recorded per dropped partition
    cp = store.read_checkpoint(spark)
    exp_rows = len(dropped["1m"]) + len(dropped["1h"])
    assert cp.where(F.col("run_id") == "retention").count() == exp_rows

    # overview floor advertised for expired tiers
    ov = store.load_overview()
    assert "1m" in ov.extra["retention_floor"]
    assert "1h" in ov.extra["retention_floor"]
    assert "1d" not in ov.extra["retention_floor"]

    # idempotent: second run drops nothing further
    dropped2 = apply_retention(
        spark, store, now, policy={"1m": 2, "1h": 4, "1d": None}
    )
    assert all(not v for v in dropped2.values())


def test_retention_expires_blocks_too(spark, tmp_path):
    """The compressed block store shares the tier's horizon: expired
    day partitions disappear from blocks_<tier>, lineage records each
    drop, and surviving blocks still decode."""
    from smos_spark.operators.compress import compress_series, decompress_series
    from smos_spark.operators.rollup import rollup_from_raw
    from smos_spark.sources.store import TranscriptStore
    from smos_spark.synth import synth_transcripts

    t = synth_transcripts(spark, n_conv=20, seed=13, span_days=6)
    store = TranscriptStore(str(tmp_path / "rb"), n_buckets=4)
    m1 = rollup_from_raw(t, "1m")
    store.write_tier(m1, "1m")
    blocks = compress_series(
        m1.select(
            "conv_id",
            F.col("bucket_start").alias("ts"),
            F.col("n_turns").cast("double").alias("n_turns"),
        ),
        ["n_turns"],
        stats=True,
        slice_col=F.to_date("ts"),
    )
    store.write_blocks(blocks, tier="1m")
    days = sorted(
        d.name.split("=")[1]
        for d in (tmp_path / "rb" / "blocks_1m").glob("block_date=*")
    )
    assert len(days) >= 4
    now = days[-1]
    dropped = apply_retention(spark, store, now, policy={"1m": 2})
    blk_dropped = [d for d in dropped["1m"] if d.startswith("blocks:")]
    assert blk_dropped
    left = sorted(
        d.name.split("=")[1]
        for d in (tmp_path / "rb" / "blocks_1m").glob("block_date=*")
    )
    import datetime as dt

    cutoff = dt.date.fromisoformat(now) - dt.timedelta(days=2)
    assert all(dt.date.fromisoformat(d) >= cutoff for d in left)
    # survivors still decode
    surv = decompress_series(
        store.read_blocks(spark, "1m").drop("block_date"), ["n_turns"]
    )
    assert surv.count() > 0
    # lineage rows for the block drops
    cp = store.read_checkpoint(spark)
    assert cp.where(F.col("tier") == "blocks_1m").count() == len(blk_dropped)


class TestTieredRead:
    def _tiers(self, spark):
        t = synth_transcripts(spark, n_conv=20, seed=33, span_days=20)
        m1 = rollup_from_raw(t, "1m")
        h1 = reaggregate(m1, "1h")
        d1 = reaggregate(h1, "1d")
        return t, {"1m": m1, "1h": h1, "1d": d1}

    def test_segments_stitch_and_snap(self, spark):
        import datetime as dt

        from smos_spark.operators.retention import tiered_read

        t, tiers = self._tiers(spark)
        lo = t.agg(F.min("ts")).collect()[0][0]
        t0 = lo.replace(hour=0, minute=0, second=0, microsecond=0)
        t1 = t0 + dt.timedelta(days=18)
        now = t1 + dt.timedelta(hours=6, minutes=30)
        out = tiered_read(
            tiers, t0, t1, now,
            # 2.25 d → hour-snapped cut; 10.2 d → day-snapped cut
            keep_s={"1m": 194_400, "1h": 881_280, "1d": None},
        ).cache()
        rows = out.select("tier", "bucket_start").collect()
        cut_1m = now - dt.timedelta(seconds=194_400)
        cut_1m = (cut_1m + dt.timedelta(hours=1)).replace(
            minute=0, second=0, microsecond=0
        ) if cut_1m.minute or cut_1m.second or cut_1m.microsecond else cut_1m
        cut_1h = now - dt.timedelta(seconds=881_280)
        cut_1h = (cut_1h + dt.timedelta(days=1)).replace(
            hour=0, minute=0, second=0, microsecond=0
        ) if cut_1h.time() != dt.time() else cut_1h
        by = {tier: [r["bucket_start"] for r in rows if r["tier"] == tier]
              for tier in ("1m", "1h", "1d")}
        assert by["1m"] and by["1h"] and by["1d"]
        assert min(by["1m"]) >= cut_1m and max(by["1m"]) < t1
        assert min(by["1h"]) >= cut_1h and max(by["1h"]) < cut_1m
        assert min(by["1d"]) >= t0 and max(by["1d"]) < cut_1h
        # the hour cut is hour-aligned, the day cut day-aligned
        assert cut_1m.minute == 0 and cut_1h.time() == dt.time()
        # every served row is exactly a stored tier row (no re-agg):
        # spot-check 1h segment against the 1h tier frame
        seg = out.where(F.col("tier") == "1h").drop("tier")
        direct = tiers["1h"].where(
            (F.col("bucket_start") >= F.lit(cut_1h))
            & (F.col("bucket_start") < F.lit(cut_1m))
        )
        assert seg.exceptAll(direct).count() == 0
        assert direct.exceptAll(seg).count() == 0

    def test_whole_range_expired_is_empty(self, spark):
        import datetime as dt

        from smos_spark.operators.retention import tiered_read

        _, tiers = self._tiers(spark)
        t0 = dt.datetime(2020, 1, 1)
        out = tiered_read(
            {"1m": tiers["1m"]}, t0, t0 + dt.timedelta(days=1),
            now=dt.datetime(2025, 6, 1),
            keep_s={"1m": 86_400},
        )
        assert out.count() == 0
        assert out.columns[0] == "tier"

    def test_inverted_policy_clamped_monotone(self, spark):
        import datetime as dt

        from smos_spark.operators.retention import tiered_read

        _, tiers = self._tiers(spark)
        lo = tiers["1m"].agg(F.min("bucket_start")).collect()[0][0]
        t0 = lo.replace(hour=0, minute=0, second=0, microsecond=0)
        now = t0 + dt.timedelta(days=20)
        # 1h keeps LONGER available than... inverted: 1m keeps 15 d,
        # 1h only 2 d — the 1h/1d cut must clamp to the 1m/1h cut
        out = tiered_read(
            tiers, t0, t0 + dt.timedelta(days=18), now,
            keep_s={"1m": 15 * 86_400, "1h": 2 * 86_400, "1d": None},
        )
        got = dict(out.groupBy("tier").count().collect())
        # the 1h segment collapses to nothing; 1m + 1d cover the range
        assert "1h" not in got and got.get("1m") and got.get("1d")

    def test_validation(self, spark):
        import datetime as dt

        import pytest

        from smos_spark.operators.retention import tiered_read

        _, tiers = self._tiers(spark)
        t0 = dt.datetime(2025, 1, 1)
        with pytest.raises(ValueError):
            tiered_read(tiers, t0, t0, t0)
        with pytest.raises(ValueError):
            tiered_read({"9x": tiers["1m"]}, t0, t0 + dt.timedelta(1), t0)
        with pytest.raises(ValueError):
            tiered_read({}, t0, t0 + dt.timedelta(1), t0)


def test_tiered_read_store_prunes_and_matches(spark, tmp_path):
    """Store-backed tiered read: equals the in-memory planner row for
    row, AND each segment's scan carries a bucket_date PARTITION
    filter (pruning reaches the physical plan — bucket_start alone
    could only row-group-prune)."""
    import datetime as dt

    from smos_spark.operators.retention import tiered_read, tiered_read_store

    t = synth_transcripts(spark, n_conv=20, seed=44, span_days=20)
    m1 = rollup_from_raw(t, "1m")
    h1 = reaggregate(m1, "1h")
    d1 = reaggregate(h1, "1d")
    store = TranscriptStore(tmp_path / "ts", n_buckets=4)
    store.write_tier(m1, "1m")
    store.write_tier(h1, "1h")
    store.write_tier(d1, "1d")

    lo = t.agg(F.min("ts")).collect()[0][0]
    t0 = lo.replace(hour=0, minute=0, second=0, microsecond=0)
    t1 = t0 + dt.timedelta(days=18)
    now = t1 + dt.timedelta(hours=6)
    keep = {"1m": 2 * 86_400, "1h": 9 * 86_400, "1d": None}

    got = tiered_read_store(spark, store, t0, t1, now, keep_s=keep)
    want = tiered_read({"1m": m1, "1h": h1, "1d": d1}, t0, t1, now, keep_s=keep)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    plan = got._jdf.queryExecution().executedPlan().toString()
    # every segment scan must prune on the partition column
    assert plan.count("PartitionFilters: [") >= 3
    assert "bucket_date" in plan.split("PartitionFilters: [", 1)[1]
    # provenance: each row really came from a directory inside its
    # segment's day range (whole-path check via input_file_name)
    files = (
        got.withColumn("f", F.input_file_name())
        .where(F.col("tier") == "1m")
        .select("f")
        .distinct()
        .collect()
    )
    m_lo = (now - dt.timedelta(seconds=keep["1m"])).date()
    for (f,) in files:
        d = dt.date.fromisoformat(f.split("bucket_date=")[1].split("/")[0])
        assert m_lo <= d <= t1.date()


def test_plan_tier_segments_accepts_date_bounds():
    """Date bounds (all dates, or dates mixed with ISO strings) plan the
    same segments as the ISO-string bounds, as `read_tier` reads them."""
    tiers = ["1m", "1h", "1d"]
    iso = plan_tier_segments(tiers, "2024-06-01", "2025-03-01", "2025-02-20")
    assert [seg[0] for seg in iso[1]] == tiers
    d0, d1, now = dt.date(2024, 6, 1), dt.date(2025, 3, 1), dt.date(2025, 2, 20)
    assert plan_tier_segments(tiers, d0, d1, now) == iso
    assert plan_tier_segments(tiers, d0, "2025-03-01", now) == iso
