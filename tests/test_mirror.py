"""Landing-area mirror ingest (S7) + CLI parsing helpers (F1/F2).

Archetype mirrors: sync_period's complete-month grouping and
skip-the-incomplete-last-day policy
(/root/reference/src/smos/smos_l2/download.py:270-306), str2bool
whitelist (/root/reference/src/smos/reshuffle.py:77-81), mkdate
two-format parse (reshuffle.py:60-75).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from smos_spark.functions.parsing import mkdate, str2bool
from smos_spark.sources.mirror import (
    discover_landing_days,
    mirror_ingest,
    plan_sync_batches,
)
from smos_spark.sources.store import TranscriptStore


def test_str2bool_whitelist():
    for v in ["True", "true", "t", "T", "1"]:
        assert str2bool(v) is True
    for v in ["False", "false", "0", "yes", "", "TRUE"]:
        assert str2bool(v) is False


def test_mkdate_two_formats():
    assert mkdate("2025-03-01") == dt.datetime(2025, 3, 1)
    assert mkdate("2025-03-01T12:30") == dt.datetime(2025, 3, 1, 12, 30)
    with pytest.raises(ValueError):
        mkdate("03/01/2025")


def test_plan_sync_batches_complete_month_fast_path():
    feb = [f"2025-02-{d:02d}" for d in range(1, 29)]  # 2025: 28 days
    days = ["2025-01-30", "2025-01-31", *feb, "2025-03-01", "2025-03-02"]
    batches = plan_sync_batches(days)
    # January incomplete → per-day; February complete → ONE batch;
    # March incomplete → per-day. Time-ordered throughout.
    assert batches[0] == ["2025-01-30"]
    assert batches[1] == ["2025-01-31"]
    assert batches[2] == feb
    assert batches[3] == ["2025-03-01"]
    assert batches[4] == ["2025-03-02"]
    flat = [d for b in batches for d in b]
    assert flat == sorted(flat)


@pytest.fixture(scope="module")
def landing(spark, tmp_path_factory):
    """Day-partitioned landing area from seeded synth transcripts."""
    from smos_spark.synth import synth_transcripts

    root = tmp_path_factory.mktemp("landing")
    df = synth_transcripts(spark, n_conv=24, seed=77, span_days=4).cache()
    days = [
        str(r.d)
        for r in df.select(F.to_date("ts").alias("d")).distinct().orderBy("d").collect()
    ]
    for d in days:
        df.where(F.to_date("ts") == d).write.mode("overwrite").parquet(
            str(root / f"day={d}")
        )
    return root, df, days


def test_mirror_ingest_skips_last_day_and_is_idempotent(spark, landing, tmp_path):
    root, df, days = landing
    assert discover_landing_days(root) == days

    store = TranscriptStore(tmp_path / "mirrored", n_buckets=4)
    res = mirror_ingest(spark, store, root, run_id="m1")
    # newest (possibly incomplete) day skipped, the rest ingested
    assert res["ingested"] == days[:-1]
    assert days[-1] in res["skipped"]

    # tier content equals a one-shot rollup of exactly the synced days
    from smos_spark.operators.rollup import rollup_from_raw

    expect = (
        rollup_from_raw(df.where(F.to_date("ts") < days[-1]), "1m")
        .orderBy("conv_id", "bucket_start")
        .collect()
    )
    got = (
        store.read_tier(spark, "1m")
        .select(*[c for c in expect[0].asDict()])
        .orderBy("conv_id", "bucket_start")
        .collect()
    )
    assert got == expect

    # re-running mirrors nothing new (days <= last_day are skipped)
    res2 = mirror_ingest(spark, store, root, run_id="m2")
    assert res2["ingested"] == []
    assert res2["batches"] == 0

    # the trailing day arrives complete → include_last_day syncs it
    res3 = mirror_ingest(spark, store, root, run_id="m3", include_last_day=True)
    assert res3["ingested"] == [days[-1]]
    n_all = store.read_tier(spark, "1m").count()
    assert n_all == rollup_from_raw(df, "1m").count()


def test_mirror_all_late_day_not_replanned(spark, landing, tmp_path):
    """A landing day whose rows all fall at/before the store's
    last_day quarantines everything (n_in=0), so last_day never
    advances — the persisted landing-day watermark must still stop
    later runs from re-planning the day and appending duplicate rows
    to _quarantine forever."""
    root, df, days = landing
    import shutil

    land2 = tmp_path / "landing2"
    land2.mkdir()
    for d in days:
        shutil.copytree(root / f"day={d}", land2 / f"day={d}")

    store = TranscriptStore(tmp_path / "wm", n_buckets=4)
    mirror_ingest(spark, store, land2, run_id="m1", include_last_day=True)
    last_day = str(store.load_overview().last_day)[:10]

    # an external writer drops a NEW day directory dated after
    # last_day whose rows are actually old (ts on day 0) — every row
    # is late, n_in=0, last_day cannot advance
    stale_rows = df.where(F.to_date("ts") == days[0])
    fake_day = (dt.date.fromisoformat(last_day) + dt.timedelta(days=1)).isoformat()
    stale_rows.write.mode("overwrite").parquet(str(land2 / f"day={fake_day}"))

    r1 = mirror_ingest(spark, store, land2, run_id="m2", include_last_day=True)
    assert r1["batches"] == 1 and r1["results"][0]["rows_in"] == 0
    qdir = store.root / "_quarantine"
    n_q = spark.read.parquet(str(qdir)).count()
    assert n_q == stale_rows.count()

    # re-running must NOT re-plan the all-late day (watermark) and
    # must not grow the quarantine
    r2 = mirror_ingest(spark, store, land2, run_id="m3", include_last_day=True)
    assert r2["batches"] == 0 and fake_day in r2["skipped"]
    assert spark.read.parquet(str(qdir)).count() == n_q


def test_mirror_stale_days_saved_under_writer_lock(spark, landing, tmp_path, monkeypatch):
    """Recording an all-late day is a store write: it takes the writer
    lock, so a committer that took the lock after the batch's ingest
    makes it raise instead of having its overview save overwritten."""
    import json
    import shutil
    import time

    from smos_spark.sources import mirror
    from smos_spark.sources.store import ConcurrentWriterError

    root, df, days = landing
    land = tmp_path / "landing_lock"
    land.mkdir()
    for d in days:
        shutil.copytree(root / f"day={d}", land / f"day={d}")
    store = TranscriptStore(tmp_path / "lock", n_buckets=4)
    mirror_ingest(spark, store, land, run_id="m1", include_last_day=True)
    last_day = str(store.load_overview().last_day)[:10]
    fake_day = (dt.date.fromisoformat(last_day) + dt.timedelta(days=1)).isoformat()
    df.where(F.to_date("ts") == days[0]).write.mode("overwrite").parquet(
        str(land / f"day={fake_day}")
    )

    ingest = mirror.ingest_batch

    def ingest_then_foreign_writer(*args, **kwargs):
        res = ingest(*args, **kwargs)
        store.lock_path.write_text(json.dumps({"pid": -1, "ts": time.time()}))
        return res

    monkeypatch.setattr(mirror, "ingest_batch", ingest_then_foreign_writer)
    with pytest.raises(ConcurrentWriterError):
        mirror_ingest(spark, store, land, run_id="m2", include_last_day=True)
    assert "mirror_stale_days" not in (store.load_overview().extra or {})


def test_mirror_out_of_order_day_still_ingested(spark, landing, tmp_path):
    """An eventually-consistent listing can surface an OLDER day dir
    after a newer all-late day was processed; the stale-day gate must
    not blanket-skip it (a bare max-day watermark would silently drop
    its rows)."""
    root, df, days = landing
    import shutil

    land = tmp_path / "landing_ooo"
    land.mkdir()
    # mirror only days[0..1]; days[2] will "appear" later
    for d in days[:2]:
        shutil.copytree(root / f"day={d}", land / f"day={d}")
    store = TranscriptStore(tmp_path / "ooo", n_buckets=4)
    mirror_ingest(spark, store, land, run_id="m1", include_last_day=True)
    last_day = str(store.load_overview().last_day)[:10]

    # an all-late day dated AFTER days[2] processes first (rows are
    # old -> n_in=0 -> recorded stale, last_day unchanged)
    stale_day = (dt.date.fromisoformat(days[-1]) + dt.timedelta(days=2)).isoformat()
    df.where(F.to_date("ts") == days[0]).write.mode("overwrite").parquet(
        str(land / f"day={stale_day}")
    )
    r1 = mirror_ingest(spark, store, land, run_id="m2", include_last_day=True)
    assert r1["results"][0]["rows_in"] == 0
    assert stale_day in (store.load_overview().extra or {}).get(
        "mirror_stale_days", []
    )

    # NOW days[2] appears — it is newer than last_day and must ingest
    shutil.copytree(root / f"day={days[2]}", land / f"day={days[2]}")
    r2 = mirror_ingest(spark, store, land, run_id="m3", include_last_day=True)
    assert days[2] in r2["ingested"], r2
    assert stale_day in r2["skipped"]
    assert last_day < str(store.load_overview().last_day)[:10]


def test_mirror_stale_day_reexamined_on_new_files(spark, landing, tmp_path):
    """A stale day whose directory later receives NEW files (the
    eventually-consistent-listing scenario) must be RE-PLANNED: the
    recorded listing fingerprint no longer matches, so the gate lets
    the day through instead of dropping the new rows forever."""
    root, df, days = landing
    import shutil

    land = tmp_path / "landing_fp"
    land.mkdir()
    for d in days[:2]:
        shutil.copytree(root / f"day={d}", land / f"day={d}")
    store = TranscriptStore(tmp_path / "fp", n_buckets=4)
    mirror_ingest(spark, store, land, run_id="m1", include_last_day=True)

    # all-late day (old rows in a future-dated dir) -> recorded stale
    stale_day = (dt.date.fromisoformat(days[-1]) + dt.timedelta(days=2)).isoformat()
    df.where(F.to_date("ts") == days[0]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(land / f"day={stale_day}"))
    mirror_ingest(spark, store, land, run_id="m2", include_last_day=True)
    stale = (store.load_overview().extra or {}).get("mirror_stale_days", {})
    assert stale_day in stale and stale[stale_day]  # fingerprint recorded

    # unchanged directory -> still skipped (no duplicate quarantine)
    r_same = mirror_ingest(spark, store, land, run_id="m3", include_last_day=True)
    assert stale_day in r_same["skipped"] and stale_day not in r_same["ingested"]

    # NEW on-time rows land in the same day dir -> fingerprint changes
    # -> the day is re-planned and its rows ingest
    last = str(store.load_overview().last_day)[:10]
    fresh_day = (dt.date.fromisoformat(last) + dt.timedelta(days=2)).isoformat()
    extra = df.where(F.to_date("ts") == days[1]).withColumn(
        "ts",
        F.col("ts") + F.expr(
            f"INTERVAL {(dt.date.fromisoformat(fresh_day) - dt.date.fromisoformat(days[1])).days} DAYS"
        ),
    )
    extra.coalesce(1).write.mode("append").parquet(str(land / f"day={stale_day}"))
    r_new = mirror_ingest(spark, store, land, run_id="m4", include_last_day=True)
    assert stale_day in r_new["ingested"], r_new
    assert r_new["results"][-1]["rows_in"] > 0


def test_mirror_legacy_stale_list_upgrades(spark, landing, tmp_path):
    """Pre-fingerprint overviews stored mirror_stale_days as a LIST:
    each legacy entry is re-examined once (fingerprint None never
    matches) and re-recorded in the new {day: fingerprint} form."""
    root, df, days = landing
    import shutil

    land = tmp_path / "landing_legacy"
    land.mkdir()
    for d in days[:2]:
        shutil.copytree(root / f"day={d}", land / f"day={d}")
    store = TranscriptStore(tmp_path / "legacy", n_buckets=4)
    mirror_ingest(spark, store, land, run_id="m1", include_last_day=True)
    stale_day = (dt.date.fromisoformat(days[-1]) + dt.timedelta(days=2)).isoformat()
    df.where(F.to_date("ts") == days[0]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(land / f"day={stale_day}"))
    ov = store.load_overview()
    ov.extra = {**(ov.extra or {}), "mirror_stale_days": [stale_day]}
    store.save_overview(ov)
    r = mirror_ingest(spark, store, land, run_id="m2", include_last_day=True)
    # re-examined once (not gated), still all-late (0 on-time rows),
    # and re-recorded in the new {day: fingerprint} form
    assert stale_day not in r["skipped"]
    assert r["results"][-1]["rows_in"] == 0
    stale = (store.load_overview().extra or {}).get("mirror_stale_days", {})
    assert isinstance(stale, dict) and stale.get(stale_day)
