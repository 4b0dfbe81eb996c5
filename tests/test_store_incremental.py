"""Store layout, point-read pruning, incremental append + resume.

Archetype mirrors: incremental append advancing last_day with excluded-
day-absent checks (/root/reference/tests/smos_l2/test_l2_reshuffle.py:15-64),
cell-file-count assertions (test_ICreshuffle.py:47), resume idempotence.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from smos_spark.operators.rollup import rollup_from_raw
from smos_spark.sources.store import TranscriptStore
from smos_spark.streaming.incremental import (
    MonotonicAppendError,
    ingest_batch,
    ingest_batches,
)


@pytest.fixture(scope="module")
def small(spark):
    """Compact dataset for the (write-heavy) store tests: 2 day span,
    few convs — keeps the suite's wall time sane while exercising the
    same batch-boundary/straddling-bucket paths."""
    from smos_spark.synth import synth_transcripts

    df = synth_transcripts(spark, n_conv=16, seed=43, span_days=2).cache()
    df.count()
    return df


def day_batches(transcripts, days):
    return [
        transcripts.where(F.to_date("ts") == d).cache()
        for d in days
    ]


@pytest.fixture(scope="module")
def days(small):
    rows = small.select(F.to_date("ts").alias("d")).distinct().orderBy("d").collect()
    return [str(r.d) for r in rows]


def tier_pdf(spark, store, tier):
    return (
        store.read_tier(spark, tier)
        .toPandas()
        .sort_values(["conv_id", "bucket_start"])
        .reset_index(drop=True)
    )


def test_incremental_equals_oneshot(spark, small, days, tmp_path):
    """Batch-by-day ingest converges to the same tiers as a single
    full-table rollup."""
    store = TranscriptStore(tmp_path / "inc", n_buckets=8)
    res = ingest_batches(store, day_batches(small, days), run_id="r1")
    assert all(not r["skipped"] for r in res)

    for tier in ("1m", "1h", "1d"):
        inc = tier_pdf(spark, store, tier)
        ref = (
            rollup_from_raw(small, tier)
            .toPandas()
            .sort_values(["conv_id", "bucket_start"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(inc[ref.columns], ref, check_dtype=True)

    ov = store.load_overview()
    assert ov.last_batch_id == len(days) - 1
    assert ov.last_day is not None

    # lineage rows present for every (batch, tier)
    cp = store.read_checkpoint(spark).toPandas()
    assert len(cp) == len(days) * 3
    assert set(cp.tier.unique()) == {"1m", "1h", "1d"}


def test_resume_is_idempotent(spark, small, days, tmp_path):
    """Re-running already-committed batches changes nothing (the
    kill-and-rerun contract, FIXTURES.md §4)."""
    store = TranscriptStore(tmp_path / "res", n_buckets=8)
    batches = day_batches(small, days)
    # first run "dies" after 1 batch
    ingest_batches(store, batches[:1], run_id="r1")
    before = tier_pdf(spark, store, "1h")
    # rerun from scratch: batch 0 skips, the rest apply
    res = ingest_batches(store, batches, run_id="r1")
    assert res[0]["skipped"]
    assert not res[1]["skipped"]
    # batches 0-1 contributed nothing new on the rerun
    after_full = tier_pdf(spark, store, "1h")
    oneshot = (
        rollup_from_raw(small, "1h")
        .toPandas()
        .sort_values(["conv_id", "bucket_start"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(after_full[oneshot.columns], oneshot)
    assert len(before) <= len(after_full)


def test_monotonic_guard_and_quarantine(spark, small, days, tmp_path):
    store = TranscriptStore(tmp_path / "guard", n_buckets=8)
    batches = day_batches(small, days)
    ingest_batch(store, batches[1], run_id="r1", batch_id=0)
    overview = store.overview_path.read_text()
    # strict: prepending day 0 after day 1 raises (reference guard)
    with pytest.raises(MonotonicAppendError):
        ingest_batch(store, batches[0], run_id="r1", batch_id=1, strict=True)
    # ... before its commit point, and it leaves nothing behind
    assert not store.staging_root.exists()
    assert not (store.root / "_quarantine").exists()
    assert store.overview_path.read_text() == overview
    # lenient: late rows quarantined, tiers unchanged
    before = tier_pdf(spark, store, "1d")
    r = ingest_batch(store, batches[0], run_id="r1", batch_id=1, strict=False)
    assert r["rows_in"] == 0
    after = tier_pdf(spark, store, "1d")
    pd.testing.assert_frame_equal(before, after)
    q = spark.read.parquet(str(store.root / "_quarantine"))
    assert q.count() == batches[0].count()


def test_point_read_bucket_pruning(spark, transcripts, tmp_path):
    store = TranscriptStore(tmp_path / "pt", n_buckets=8)
    store.write_tier(rollup_from_raw(transcripts, "1h"), "1h")
    assert 1 <= store.tier_bucket_count("1h") <= 8

    got = store.read_tier(spark, "1h", conv_id="conv000007")
    assert got.select("conv_id").distinct().collect()[0].conv_id == "conv000007"
    # the scan's partition filter includes the literal bucket predicate
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "bucket_id" in plan

    exp = (
        rollup_from_raw(transcripts.where(F.col("conv_id") == "conv000007"), "1h")
        .toPandas()
        .sort_values("bucket_start")
        .reset_index(drop=True)
    )
    gp = got.toPandas().sort_values("bucket_start").reset_index(drop=True)
    pd.testing.assert_frame_equal(gp[exp.columns], exp)


def test_readback_semantics(spark, transcripts, tmp_path):
    from smos_spark.readback import read_conv_series

    store = TranscriptStore(tmp_path / "rb", n_buckets=8)
    store.write_tier(rollup_from_raw(transcripts, "1h"), "1h")

    # conv000000 is a hole conv (conv_idx%10==0): dense read without
    # drop keeps NULL gap rows — the [v, nan, nan] shape
    dense = read_conv_series(
        spark, store, "conv000000", tier="1h", drop_missing=False, dense=True,
        downcast_ints=False,
    ).toPandas()
    assert dense.n_turns.isna().any()

    # drop_missing=True removes them
    dropped = read_conv_series(
        spark, store, "conv000000", tier="1h", drop_missing=True, dense=True,
        downcast_ints=False,
    ).toPandas()
    assert not dropped.n_turns.isna().any()
    assert len(dropped) < len(dense)


def test_int_restoration(spark):
    """P10 contract: whole-valued float col with no NULLs → long;
    NULL-bearing stays double (float decay)."""
    from smos_spark.readback import downcast_whole_floats

    df = spark.createDataFrame(
        [(1.0, 1.5, 2.0), (3.0, 2.5, None)],
        "a double, b double, c double",
    )
    out = downcast_whole_floats(df, ["a", "b", "c"])
    dt = dict(out.dtypes)
    assert dt["a"] == "bigint"  # whole + no nulls → int restored
    assert dt["b"] == "double"  # fractional stays
    assert dt["c"] == "double"  # NULL-bearing decays to float


def test_ingest_batch_driver_job_budget(spark, transcripts, tmp_path):
    """Per-batch driver-side Spark jobs are bounded: the batch's one raw
    write and the one tier write. The bounds and counts ride the writes
    as observed metrics, never extra count() or collect() scans (at
    minutes-cadence streaming those metric jobs would dominate), and
    the lineage rows are written on the driver."""
    from smos_spark.streaming.incremental import ingest_batch

    store = TranscriptStore(tmp_path / "budget", n_buckets=4)
    days = sorted(
        r.d for r in transcripts.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    batches = day_batches(transcripts, days[:2])

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    sc.setJobGroup("ingest_b0", "first batch (creates tiers)")
    ingest_batch(store, batches[0], run_id="jb", batch_id=0)
    sc.setJobGroup("other", "")
    n0 = len(tracker.getJobIdsForGroup("ingest_b0"))

    sc.setJobGroup("ingest_b1", "second batch (merge path)")
    ingest_batch(store, batches[1], run_id="jb", batch_id=1)
    sc.setJobGroup("other", "")
    n1 = len(tracker.getJobIdsForGroup("ingest_b1"))

    # the staged raw write, which also routes the late rows (3 on this
    # input: AQE runs each exchange below the write, the day exchange
    # included, as a job of its own, then the write), and ONE staged
    # write for all three tiers (2: its exchange, then the write). No
    # bounds job, no quarantine write, no lineage job; publishing is
    # renames. Measured: 5 (create) / 5 (merge). A job per tier, a
    # second read of the batch, or a per-tier min()+count() metric scan
    # breaks it.
    assert n0 <= 5, f"first batch ran {n0} jobs"
    assert n1 <= 5, f"merge batch ran {n1} jobs"


def test_ingest_reads_batch_once(spark, small, days, tmp_path):
    """The batch is read by the raw write alone: the bounds ride it as
    observed metrics, late rows leave it by partition, and the tier
    merge reads the staged files back."""
    acc = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    store = TranscriptStore(tmp_path / "once", n_buckets=4)
    first = small.where(F.to_date("ts") == days[0])
    ingest_batch(store, first, run_id="r1", batch_id=0)
    # day 1 plus copies of some day-0 turns, which are late
    late = first.where(F.col("turn_idx") % 5 == 0).withColumn(
        "turn_idx", F.col("turn_idx") + 10_000
    )
    second = small.where(F.to_date("ts") == days[1]).unionByName(late)
    n = second.count()
    wrapped = second.mapInPandas(count_rows, second.schema)
    r = ingest_batch(store, wrapped, run_id="r1", batch_id=1)
    assert r["rows_in"] == n - late.count() > 0
    assert acc.value == n


def test_merge_tiers_one_shuffle(spark, transcripts_pdf, tmp_path, monkeypatch):
    """All three tiers merge in one write job with one shuffle:
    repartitioning on (tier, bucket_date, bucket_id) already clusters
    the merge's grouping keys, so neither the aggregation nor the
    writer's sort adds an exchange. Each merged tier equals a rollup of
    all the turns."""
    from pyspark.sql.readwriter import DataFrameWriter

    from smos_spark.operators.rollup import turn_partials

    raw = spark.createDataFrame(transcripts_pdf)
    old, new = raw.where(F.col("conv_id") < "conv000030"), raw.where(
        F.col("conv_id") >= "conv000030"
    )
    tiers = ("1m", "1h", "1d")
    store = TranscriptStore(tmp_path / "plan", n_buckets=4)
    # creates the tiers
    store.merge_tiers({t: turn_partials(old) for t in tiers}, store.staging_path("p", 0))
    store.commit_staged(store.load_overview(), store.staging_path("p", 0))

    plans = []
    write = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        plans.append(self._df._jdf.queryExecution().executedPlan().toString())
        return write(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    rows = {
        t: store.read_tier(spark, t, lo="2025-01-01").unionByName(turn_partials(new))
        for t in tiers
    }
    store.merge_tiers(rows, store.staging_path("p", 1))
    monkeypatch.undo()
    store.commit_staged(store.load_overview(), store.staging_path("p", 1))

    assert len(plans) == 1
    assert plans[0].count("Exchange") == 1, plans[0]
    for t in tiers:
        got = store.read_tier(spark, t)
        exp = rollup_from_raw(raw, t)
        assert got.exceptAll(exp).isEmpty() and exp.exceptAll(got).isEmpty(), t


def test_failed_tier_merge_unpersists_batch(spark, transcripts, tmp_path, monkeypatch):
    """A batch whose tier write fails is not left cached: retries
    (foreachBatch re-runs) must not stack cached copies."""
    store = TranscriptStore(tmp_path / "leak", n_buckets=4)
    batch = transcripts.where(F.col("conv_id") < "conv000020")

    def failing_merge(self, rows_by_tier, staging, obs=None):
        raise RuntimeError("tier write failed")

    monkeypatch.setattr(TranscriptStore, "merge_tiers", failing_merge)
    jsc = spark.sparkContext._jsc
    before = sorted(jsc.getPersistentRDDs().keys())
    for _ in range(2):  # a failure, then its retry
        with pytest.raises(RuntimeError, match="tier write failed"):
            ingest_batch(store, batch, run_id="leak", batch_id=0)
        assert sorted(jsc.getPersistentRDDs().keys()) == before


class _Crash(RuntimeError):
    pass


@pytest.mark.parametrize(
    "point", ["raw_job", "tier_job", "publish_after_1", "publish_after_9", "before_commit"]
)
def test_ingest_crash_retry_applies_batch_once(spark, small, days, tmp_path, monkeypatch, point):
    """A batch that fails at any point and is retried with the same
    (run_id, batch_id) is applied exactly once: tiers equal a one-shot
    rollup, the raw table and the quarantine hold each row once, the
    lineage has one row per tier, and no staging is left behind."""
    import os

    from pyspark.sql.readwriter import DataFrameWriter

    from smos_spark.sources.store import Overview

    store = TranscriptStore(tmp_path / "crash", n_buckets=8)
    first = small.where(F.to_date("ts") == days[0])
    ingest_batch(store, first, run_id="r1", batch_id=0)
    # day 1 plus copies of some day-0 turns, which arrive late
    late = (
        first.where(F.crc32("conv_id") % 3 == 0)
        .withColumn("turn_idx", F.col("turn_idx") + 100_000)
        .cache()
    )
    second = small.where(F.to_date("ts") == days[1]).unionByName(late)

    fired = []
    if point in ("raw_job", "tier_job"):
        # the staged raw write, or the write of the 1h tier (or of the
        # job staging all tiers)
        write = DataFrameWriter.parquet

        def crash(self, path, *args, **kwargs):
            parts = os.path.normpath(path).split(os.sep)
            if point == "raw_job":
                hit = parts[-1] == "transcripts"
            else:
                hit = "tiers" in parts and parts[-1] != "1m"
            if not fired and hit:
                fired.append(path)
                raise _Crash(point)
            return write(self, path, *args, **kwargs)

        monkeypatch.setattr(DataFrameWriter, "parquet", crash)
    elif point.startswith("publish_after_"):
        k = int(point.rsplit("_", 1)[1])
        rename, moves = os.replace, []

        def crash(src, dst, *args, **kwargs):
            # a publish rename moves between the staging tree and the store
            if ("_staging" in str(src)) != ("_staging" in str(dst)):
                if len(moves) == k and not fired:
                    fired.append(src)
                    raise _Crash(point)
                moves.append(src)
            return rename(src, dst, *args, **kwargs)

        monkeypatch.setattr(os, "replace", crash)
    else:  # the publish is done; the overview save that ends it fails
        save = Overview.save

        def crash(self, path):
            if not fired and getattr(self, "pending", None) is None and self.last_batch_id == 1:
                fired.append(path)
                raise _Crash(point)
            return save(self, path)

        monkeypatch.setattr(Overview, "save", crash)

    with pytest.raises(_Crash):
        ingest_batch(store, second, run_id="r1", batch_id=1)
    monkeypatch.undo()
    assert fired
    r = ingest_batch(store, second, run_id="r1", batch_id=1)
    # a failure before the commit point redoes the batch; one after it
    # is rolled forward, and the batch is then already done
    assert r["skipped"] == (point not in ("raw_job", "tier_job"))

    on_time = small.where(F.to_date("ts").isin(days[:2]))
    for tier in ("1m", "1h", "1d"):
        got = tier_pdf(spark, store, tier)
        ref = (
            rollup_from_raw(on_time, tier)
            .toPandas()
            .sort_values(["conv_id", "bucket_start"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got[ref.columns], ref, check_dtype=True)
    raw = store.read_transcripts(spark).select(*on_time.columns)
    assert raw.count() == on_time.count()
    assert raw.exceptAll(on_time).isEmpty()
    q = spark.read.schema(small.schema).parquet(str(store.root / "_quarantine"))
    assert q.exceptAll(late).isEmpty() and late.exceptAll(q).isEmpty()
    cp = store.read_checkpoint(spark).groupBy("batch_id").count().collect()
    assert sorted((c.batch_id, c["count"]) for c in cp) == [(0, 3), (1, 3)]
    assert not store.staging_root.exists()
    ov = store.load_overview()
    assert ov.pending is None and ov.last_batch_id == 1
    assert ov.last_day == str(on_time.agg(F.max("ts")).first()[0])


def test_store_tool_blocks_rolls_crashed_ingest_forward(spark, small, days, tmp_path, monkeypatch):
    """`store_tool blocks` builds inside `store.writer()`: after an
    ingest that crashed mid-publish, it rolls the commit forward before
    it lists the tier, so the blocks hold every partition of the batch."""
    import subprocess
    import sys
    from pathlib import Path

    from smos_spark.operators.compress import decompress_series

    store = TranscriptStore(tmp_path / "bcrash", n_buckets=4)
    ingest_batch(store, small.where(F.to_date("ts") == days[0]), run_id="r1", batch_id=0)
    fired = _crash_publish(monkeypatch, "publish_after_1")
    with pytest.raises(_Crash):
        ingest_batch(store, small.where(F.to_date("ts") == days[1]), run_id="r1", batch_id=1)
    monkeypatch.undo()
    assert fired and store.load_overview().pending is not None

    out = subprocess.run(
        [sys.executable, "scripts/store_tool.py", "--master", "local[2]", "blocks",
         "--store", str(store.root), "--tier", "1h", "--parameters", "n_turns"],
        cwd=Path(__file__).resolve().parents[1],
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = (
        decompress_series(store.read_blocks(spark, "1h"), ["n_turns"])
        .toPandas()
        .sort_values(["conv_id", "ts"])
        .reset_index(drop=True)
    )
    ref = (
        rollup_from_raw(small.where(F.to_date("ts").isin(days[:2])), "1h")
        .select(
            "conv_id",
            F.col("bucket_start").alias("ts"),
            F.col("n_turns").cast("double").alias("n_turns"),
        )
        .toPandas()
        .sort_values(["conv_id", "ts"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, ref)
    assert store.load_overview().pending is None


def test_export_subset_roundtrip(spark, transcripts, tmp_path):
    """Reference K2 round trip (tests/test_ICimg_subset_and_write.py:38-77
    archetype): export a conv/ts-range subset of a tier into a NEW
    day-partitioned store; the same reader opens it and the rows equal
    the source slice exactly."""
    src = TranscriptStore(tmp_path / "src", n_buckets=8)
    src.write_tier(rollup_from_raw(transcripts, "1h"), "1h")

    ts_lo, ts_hi = "2025-01-02 00:00:00", "2025-01-03 23:00:00"
    out = src.export_subset(
        spark,
        tmp_path / "sub",
        tier="1h",
        conv_lo="conv000010",
        conv_hi="conv000029",
        ts_lo=ts_lo,
        ts_hi=ts_hi,
        parameters=["n_turns", "len_sum"],
    )
    # same layout: time-major day dirs + key buckets
    days = sorted(p.name for p in (tmp_path / "sub" / "tiers" / "1h").glob("bucket_date=*"))
    assert days and all(d.startswith("bucket_date=2025-01-0") for d in days)

    got = (
        out.read_tier(spark, "1h")
        .toPandas()
        .sort_values(["conv_id", "bucket_start"])
        .reset_index(drop=True)
    )
    exp = (
        src.read_tier(spark, "1h")
        .where(F.col("conv_id").between("conv000010", "conv000029"))
        .where(F.col("bucket_start").between(ts_lo, ts_hi))
        .select("conv_id", "bucket_start", "n_turns", "len_sum")
        .toPandas()
        .sort_values(["conv_id", "bucket_start"])
        .reset_index(drop=True)
    )
    assert len(got) > 0
    pd.testing.assert_frame_equal(got[exp.columns], exp)

    # the exported store supports the same pruned point read
    one = out.read_tier(spark, "1h", conv_id="conv000012")
    assert one.select("conv_id").distinct().collect()[0].conv_id == "conv000012"
    # provenance sidecar
    ov = out.load_overview()
    assert ov.parameters["tier"] == "1h"


def test_ingest_null_ts_rows_quarantined(spark, transcripts, tmp_path):
    """NULL-ts rows cannot be placed on a time grid: they are routed to
    quarantine (not silently dropped), and rows_in reflects only the
    placeable rows."""
    from smos_spark.streaming.incremental import MonotonicAppendError, ingest_batch

    store = TranscriptStore(tmp_path / "nullts", n_buckets=4)
    good = transcripts.limit(50)
    bad = good.limit(5).withColumn("ts", F.lit(None).cast("timestamp"))
    batch = good.unionByName(bad)
    r = ingest_batch(store, batch, run_id="nt", batch_id=0)
    assert r["rows_in"] == 50
    q = spark.read.parquet(str(store.root / "_quarantine"))
    assert q.count() == 5 and q.where(F.col("ts").isNull()).count() == 5
    # strict mode refuses the dirty batch outright
    store2 = TranscriptStore(tmp_path / "nullts2", n_buckets=4)
    with pytest.raises(MonotonicAppendError):
        ingest_batch(store2, batch, run_id="nt", batch_id=0, strict=True)


def test_timestamp_bounds_use_session_time_zone(spark, transcripts, tmp_path, monkeypatch):
    """Bounds are read and recorded in the session time zone (UTC), not
    the Python process's: ingest's and rollup_job's `last_day`, the late
    cut that follows it, `filter_ts_range`, `range_minmax`, `gap_fill`
    bounds, a `resample` origin and a `trend_slope` epoch."""
    import datetime as dt
    import importlib.util
    import os
    import sys
    import time
    from pathlib import Path

    from smos_spark.operators.anomaly import trend_slope
    from smos_spark.operators.compress import compress_series, range_minmax
    from smos_spark.operators.gapfill import gap_fill
    from smos_spark.operators.masking import filter_ts_range
    from smos_spark.operators.rollup import resample

    def turn(idx, ts):
        return transcripts.limit(1).withColumns(
            {"turn_idx": F.lit(idx), "ts": F.lit(ts).cast("timestamp")}
        )

    spec = importlib.util.spec_from_file_location(
        "rollup_job", Path(__file__).resolve().parents[1] / "scripts" / "rollup_job.py"
    )
    rollup_job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rollup_job)
    raw = str(tmp_path / "turn")
    turn(0, "2025-01-02 10:00:00").write.parquet(raw)
    series = spark.range(8, 13).select(
        F.lit("c").alias("conv_id"),
        F.make_timestamp(F.lit(2025), F.lit(1), F.lit(2), "id", F.lit(0), F.lit(0)).alias("ts"),
        F.col("id").cast("double").alias("value"),
    )
    comp = compress_series(series, ["value"], stats=True)

    tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        store = TranscriptStore(tmp_path / "tz", n_buckets=4)
        ingest_batch(store, turn(0, "2025-01-02 10:00:00"), run_id="tz", batch_id=0)
        assert store.load_overview().last_day == "2025-01-02 10:00:00"
        r = ingest_batch(store, turn(1, "2025-01-02 07:00:00"), run_id="tz", batch_id=1)
        assert r["rows_in"] == 0  # 07:00 UTC is late

        monkeypatch.setattr(sys, "argv", [
            "rollup_job.py", "--master", spark.sparkContext.master, "--shuffle-partitions",
            spark.conf.get("spark.sql.shuffle.partitions"), "--n-buckets", "4",
            "--input", raw, "--output", str(tmp_path / "job"),
        ])
        rollup_job.main()
        assert TranscriptStore(tmp_path / "job").load_overview().last_day == "2025-01-02 10:00:00"

        t0, t1 = dt.datetime(2025, 1, 2, 9), dt.datetime(2025, 1, 2, 11)
        assert filter_ts_range(series, t0, t1).count() == 3
        assert [tuple(r) for r in range_minmax(comp, "value", t0, t1).collect()] == [
            ("c", 9.0, 11.0, 3)
        ]

        def hours_utc(df):
            hours = df.select(F.date_format("bucket_start", "HH:mm").alias("h"))
            return [r.h for r in hours.collect()]

        tier = series.select("conv_id", F.col("ts").alias("bucket_start"), "value")
        filled = gap_fill(tier, "1h", dt.datetime(2025, 1, 2, 6), dt.datetime(2025, 1, 2, 14))
        assert hours_utc(filled.orderBy("bucket_start")) == [f"{h:02d}:00" for h in range(6, 15)]
        origin = dt.datetime(2025, 1, 2, 9, 30)
        assert hours_utc(resample(turn(0, "2025-01-02 10:00:00"), 86400, origin)) == ["09:30"]
        slope = trend_slope(series, "value", ["conv_id"], epoch=dt.datetime(2025, 1, 2),
                            keep_moments=True)
        assert [r.sum_x for r in slope.collect()] == [8 + 9 + 10 + 11 + 12]
    finally:
        if tz is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = tz
        time.tzset()


def test_ingest_empty_batch(spark, transcripts, tmp_path):
    """An empty batch, even one of no partitions, commits with no rows
    and leaves last_day where it was."""
    store = TranscriptStore(tmp_path / "empty", n_buckets=4)
    r = ingest_batch(store, spark.createDataFrame([], transcripts.schema), run_id="e", batch_id=0)
    assert r == {"skipped": False, "batch_id": 0, "rows_in": 0}
    ov = store.load_overview()
    assert ov.last_batch_id == 0 and ov.last_day is None
    assert not store.staging_root.exists()


def test_reopen_with_conflicting_bucket_count_raises(spark, transcripts, tmp_path):
    store = TranscriptStore(tmp_path / "layout", n_buckets=8)
    store.write_tier(rollup_from_raw(transcripts.limit(200), "1h"), "1h")
    reopened = TranscriptStore(tmp_path / "layout")  # sidecar governs
    assert reopened.n_buckets == 8
    with pytest.raises(ValueError, match="physically bucketed"):
        TranscriptStore(tmp_path / "layout", n_buckets=32)


def test_writer_lock_excludes_concurrent_ingest(spark, transcripts, tmp_path):
    """A held (fresh) writer lock makes a second ingest raise instead
    of interleaving partition overwrites; a stale lock is stolen."""
    from smos_spark.sources.store import ConcurrentWriterError
    from smos_spark.streaming.incremental import ingest_batch

    store = TranscriptStore(tmp_path / "lock", n_buckets=4)
    batch = transcripts.limit(30)
    store.acquire_writer_lock()  # simulate another live writer
    with pytest.raises(ConcurrentWriterError):
        ingest_batch(store, batch, run_id="lk", batch_id=0)
    store.release_writer_lock()
    r = ingest_batch(store, batch, run_id="lk", batch_id=0)
    assert r["rows_in"] == 30
    assert not store.lock_path.exists()  # released after success
    # stale lock (crashed writer) is stolen
    store.acquire_writer_lock()
    import json as _json
    store.lock_path.write_text(_json.dumps({"pid": 1, "ts": 0}))
    r2 = ingest_batch(store, batch, run_id="lk", batch_id=1)
    assert r2["rows_in"] == 0  # all late vs last_day — quarantined path


def test_release_lock_respects_new_holder(tmp_path):
    """A writer whose lock was stolen (it ran past stale_sec) must NOT
    unlink the new holder's lock on exit — that would let a third
    writer interleave with the second's in-flight overwrites."""
    import json as _json
    import time as _time

    store = TranscriptStore(tmp_path / "lk2", n_buckets=4)
    store.acquire_writer_lock()
    # a second writer stole the lock while we were (too) long-running
    store.lock_path.write_text(_json.dumps({"pid": 999999, "ts": _time.time()}))
    with pytest.warns(UserWarning, match="stolen"):
        store.release_writer_lock()
    assert store.lock_path.exists()  # the new holder keeps its lock
    held = _json.loads(store.lock_path.read_text())
    assert held["pid"] == 999999
    # cleanup path: our own lock IS released
    store.lock_path.unlink()
    store.acquire_writer_lock()
    store.release_writer_lock()
    assert not store.lock_path.exists()


def test_checkpoint_compaction(spark, tmp_path):
    """Per-batch coalesce(1) appends pile up one tiny file per batch;
    compact_checkpoint folds them into one file, preserving rows, and
    publishes it by a maintenance commit."""
    from pathlib import Path

    store = TranscriptStore(tmp_path / "ckpt", n_buckets=4)
    row = {
        "run_id": "r",
        "batch_id": 0,
        "tier": "1m",
        "partition_key": "bucket_date=2025-01-01",
        "rows_in": 10,
        "rows_out": 5,
        "min_ts": None,
        "max_ts": None,
        "committed_seq": 0,
    }
    for b in range(20):
        store.append_checkpoint(spark, [{**row, "batch_id": b}])
    p = Path(store.checkpoint_path)
    n_before = len([f for f in p.glob("*.parquet") if f.is_file()])
    assert n_before == 20
    before = store.read_checkpoint(spark).orderBy("batch_id").collect()
    assert store.compact_checkpoint(spark, max_files=16) == 1
    n_after = len([f for f in p.glob("*.parquet") if f.is_file()])
    assert n_after == 1
    after = store.read_checkpoint(spark).orderBy("batch_id").collect()
    assert after == before
    # below the threshold: no rewrite, just reports the file count
    assert store.compact_checkpoint(spark, max_files=16) == 1


def test_compact_transcripts(spark, transcripts, tmp_path):
    """Iceberg rewrite_data_files analog: repeated appends pile up
    small files per day partition; one staged job rewrites
    only the over-threshold dates, round-trips every row, and a rerun
    is a no-op."""
    from pathlib import Path

    store = TranscriptStore(tmp_path / "store")
    for i in range(6):  # 6 append waves -> >=6 files per day dir
        store.append_transcripts(transcripts.where(F.col("turn_idx") % 6 == i))
    root = Path(store.transcripts_path)
    day_files = {
        d.name: len([f for f in d.glob("*.parquet") if f.is_file()])
        for d in root.glob("ts_date=*")
    }
    assert all(n >= 6 for n in day_files.values())
    before = (
        store.read_transcripts(spark)
        .orderBy("conv_id", "turn_idx")
        .collect()
    )

    res = store.compact_transcripts(spark, target_file_mb=128, min_files=2)
    assert res["dates"] == len(day_files)
    assert res["files_after"] < res["files_before"]
    after_files = {
        d.name: len([f for f in d.glob("*.parquet") if f.is_file()])
        for d in root.glob("ts_date=*")
    }
    # tiny test days fit one target file each
    assert all(n == 1 for n in after_files.values())
    after = (
        store.read_transcripts(spark)
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    assert after == before

    # second pass finds nothing over threshold
    res2 = store.compact_transcripts(spark, target_file_mb=128, min_files=2)
    assert res2["dates"] == 0
    assert res2["files_before"] == res["files_after"]


def _crash_publish(monkeypatch, point):
    """Fail a staged commit at `point`: ``before_commit`` fails the
    overview save that records the pending publish, ``publish_after_<k>``
    fails the (k+1)-th rename between the staging tree and the store.
    Returns the list the injection appends to when it fires."""
    import os

    from smos_spark.sources.store import Overview

    fired = []
    if point == "before_commit":
        save = Overview.save

        def crash(self, path):
            if not fired and self.pending is not None:
                fired.append(path)
                raise _Crash(point)
            return save(self, path)

        monkeypatch.setattr(Overview, "save", crash)
    else:
        k = int(point.rsplit("_", 1)[1])
        rename, moves = os.replace, []

        def crash(src, dst, *args, **kwargs):
            # a publish rename moves between the staging tree and the store
            if ("_staging" in str(src)) != ("_staging" in str(dst)):
                if len(moves) == k and not fired:
                    fired.append(src)
                    raise _Crash(point)
                moves.append(src)
            return rename(src, dst, *args, **kwargs)

        monkeypatch.setattr(os, "replace", crash)
    return fired


@pytest.fixture(scope="module")
def maintained(spark, small, tmp_path_factory):
    """A store for the maintenance commits to act on: raw days in three
    file waves, the 1m and 1h tiers, 1m blocks, and 17 single-file
    lineage appends (one over the compaction threshold)."""
    from smos_spark.operators.compress import compress_series
    from smos_spark.operators.rollup import reaggregate

    root = tmp_path_factory.mktemp("maintained") / "store"
    store = TranscriptStore(root, n_buckets=4)
    for i in range(3):
        store.append_transcripts(small.where(F.col("turn_idx") % 3 == i))
    m1 = rollup_from_raw(small, "1m")
    store.write_tier(m1, "1m")
    store.write_tier(reaggregate(m1, "1h"), "1h")
    series = m1.select("conv_id", F.col("bucket_start").alias("ts"), F.col("n_turns").cast("double").alias("n_turns"))
    store.write_blocks(compress_series(series, ["n_turns"], stats=True, slice_col=F.to_date("ts")), "1m")
    row = {"run_id": "r", "tier": "1m", "partition_key": "all", "rows_in": 1, "rows_out": 1,
           "min_ts": None, "max_ts": None, "committed_seq": 0}
    for b in range(17):
        store.append_checkpoint(spark, [{**row, "batch_id": b}])
    return root


@pytest.mark.parametrize(
    "commit,point",
    [
        ("retention", "before_commit"),
        ("retention", "publish_after_1"),  # `_checkpoint` moved aside
        ("retention", "publish_after_2"),  # swapped, lineage not appended
        ("compact_checkpoint", "before_commit"),
        ("compact_checkpoint", "publish_after_1"),
        ("compact_transcripts", "before_commit"),
        ("compact_transcripts", "publish_after_1"),
    ],
)
def test_maintenance_crash_rolls_forward(spark, days, maintained, tmp_path, monkeypatch, commit, point):
    """Retention and both compactions publish through the staged
    commit: a crash before the commit point changes nothing, and one
    mid-publish is finished by the next writer's roll_forward. Either
    way the store converges to the finished commit: every lineage row
    kept (plus retention's), expired days gone, floors set, raw rows
    unchanged, and the batch counter untouched."""
    import shutil
    from pathlib import Path

    from smos_spark.operators.retention import apply_retention

    shutil.copytree(maintained, tmp_path / "store")
    store = TranscriptStore(tmp_path / "store")
    tables = {store.tier_path("1m"): "bucket_date", store.tier_path("1h"): "bucket_date",
              store.blocks_path("1m"): "block_date"}
    expired = [Path(t) / f"{col}={d}" for t, col in tables.items() for d in days[:-1]]
    assert all(p.is_dir() for p in expired)
    lineage = sorted(map(tuple, store.read_checkpoint(spark).collect()))
    raw = store.read_transcripts(spark).cache()
    n_raw = raw.count()

    def run():
        if commit == "retention":
            return apply_retention(spark, store, days[-1], policy={"1m": 0, "1h": 0})
        if commit == "compact_checkpoint":
            return store.compact_checkpoint(spark)
        return store.compact_transcripts(spark, min_files=2)

    fired = _crash_publish(monkeypatch, point)
    with pytest.raises(_Crash):
        run()
    monkeypatch.undo()
    assert fired
    with store.writer():  # the next writer rolls forward first
        pass
    if point == "before_commit":  # nothing was committed: redo it
        assert all(p.is_dir() for p in expired)
        assert sorted(map(tuple, store.read_checkpoint(spark).collect())) == lineage
        run()

    assert not store.staging_root.exists()
    ov = store.load_overview()
    assert ov.pending is None and ov.last_batch_id == -1
    got = store.read_transcripts(spark)
    assert got.count() == n_raw and got.exceptAll(raw).isEmpty()
    cp = store.read_checkpoint(spark)
    ckpt_files = len(list(Path(store.checkpoint_path).glob("*.parquet")))
    if commit == "retention":
        assert not any(p.exists() for p in expired)
        assert set(ov.extra["retention_floor"]) == {"1m", "1h"}
        dropped = cp.where(F.col("run_id") == "retention").select("tier", "partition_key")
        assert sorted(map(tuple, dropped.collect())) == sorted(
            (p.parent.name, p.name) for p in expired
        )
        assert sorted(map(tuple, cp.where(F.col("run_id") == "r").collect())) == lineage
        assert ckpt_files == 2  # the compacted history plus the new rows
    else:
        assert all(p.is_dir() for p in expired)
        assert sorted(map(tuple, cp.collect())) == lineage
    if commit == "compact_checkpoint":
        assert ckpt_files == 1
    if commit == "compact_transcripts":
        per_day = [len(list(d.glob("*.parquet"))) for d in Path(store.transcripts_path).glob("ts_date=*")]
        assert per_day and all(n == 1 for n in per_day)


def test_merge_quarantine_keeps_next_epoch(spark, small, days, tmp_path):
    """A late-data merge between two stream epochs takes no batch id:
    the next epoch is applied, not skipped as already done, and the
    store holds every row. NULL-ts rows of successive merges all stay
    in ``_quarantine_unplaceable``."""
    from smos_spark.streaming.incremental import merge_quarantine

    held = (F.to_date("ts") == days[0]) & (F.crc32("conv_id") % 3 == 0)
    cut = F.col("ts") < F.to_timestamp(F.lit(f"{days[1]} 12:00:00"))
    later = (F.to_date("ts") == days[1]) & ~cut

    def null_row(conv):
        return spark.createDataFrame(
            [(conv, 0, "user", "t", None, None)],
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        )

    store = TranscriptStore(tmp_path / "epoch", n_buckets=8)
    ingest_batch(store, small.where((F.to_date("ts") == days[0]) & ~held), "s", 0)
    ingest_batch(store, small.where((F.to_date("ts") == days[1]) & cut), "s", 1)
    r2 = ingest_batch(store, small.where(held).unionByName(null_row("convNULL1")), "s", 2)
    assert r2["rows_in"] == 0  # all late
    assert merge_quarantine(store, spark, run_id="m1")["merged"] == small.where(held).count()

    r3 = ingest_batch(store, small.where(later).unionByName(null_row("convNULL2")), "s", 3)
    assert not r3["skipped"] and r3["rows_in"] == small.where(later).count()
    assert merge_quarantine(store, spark, run_id="m2") == {"merged": 0, "unplaceable": 1, "days": []}
    assert store.load_overview().last_batch_id == 3

    raw = store.read_transcripts(spark).select(*small.columns)
    assert raw.count() == small.count() and raw.exceptAll(small).isEmpty()
    for tier in ("1m", "1h", "1d"):
        ref = rollup_from_raw(small, tier).toPandas().sort_values(["conv_id", "bucket_start"])
        got = tier_pdf(spark, store, tier)
        pd.testing.assert_frame_equal(got[ref.columns], ref.reset_index(drop=True), check_dtype=True)
    unp = spark.read.parquet(str(store.root / "_quarantine_unplaceable"))
    assert sorted(r.conv_id for r in unp.collect()) == ["convNULL1", "convNULL2"]


def test_merge_quarantine_backfill(spark, small, days, tmp_path):
    """Late-data backfill: quarantined rows merged via day-partition
    rewrite + tier recompute == a store built with them on time; a
    repeat merge is a no-op; NULL-ts rows land in _unplaceable."""
    from smos_spark.streaming.incremental import merge_quarantine

    # hold back a slice of day-0 rows, ingest days in order -> the
    # held-back rows arrive "late" in a trailing batch and quarantine
    late_mask = (F.to_date("ts") == days[0]) & (
        F.crc32(F.col("conv_id")) % 3 == 0
    )
    on_time = small.where(~late_mask)
    late = small.where(late_mask)
    assert late.count() > 0

    store = TranscriptStore(tmp_path / "lq", n_buckets=8)
    ingest_batches(store, day_batches(on_time, days), run_id="r1")
    # the trailing batch: late rows + one NULL-ts row
    null_row = spark.createDataFrame(
        [("convNULL", 0, "user", "t", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    res = ingest_batch(
        store, late.unionByName(null_row), run_id="r1", batch_id=len(days)
    )
    assert res["rows_in"] == 0  # everything was late/NULL

    out = merge_quarantine(store, spark, run_id="r1-merge")
    assert out["merged"] == late.count()
    assert out["unplaceable"] == 1
    assert out["days"] == [days[0]]

    # tiers == one-shot rollup over the FULL data (late included)
    for tier in ("1m", "1h", "1d"):
        got = tier_pdf(spark, store, tier)
        ref = (
            rollup_from_raw(small, tier)
            .toPandas()
            .sort_values(["conv_id", "bucket_start"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got[ref.columns], ref, check_dtype=True)

    # raw table: no duplicates, full row count
    raw = store.read_transcripts(spark)
    assert raw.count() == small.count()
    assert raw.select("conv_id", "turn_idx").distinct().count() == small.count()

    # unplaceable row preserved; repeat merge is a no-op
    unp = spark.read.parquet(str(store.root / "_quarantine_unplaceable"))
    assert unp.count() == 1 and unp.first()["conv_id"] == "convNULL"
    assert merge_quarantine(store, spark, run_id="r2")["merged"] == 0


def test_merge_quarantine_crash_resume(spark, small, days, tmp_path):
    """A merge interrupted after the raw rewrite (frozen dir left on
    disk, checkpoint row absent) converges on re-run."""
    from smos_spark.streaming.incremental import merge_quarantine

    late_mask = (F.to_date("ts") == days[0]) & (
        F.crc32(F.col("conv_id")) % 3 == 1
    )
    store = TranscriptStore(tmp_path / "cr", n_buckets=8)
    ingest_batches(store, day_batches(small.where(~late_mask), days), run_id="r1")
    ingest_batch(store, small.where(late_mask), run_id="r1", batch_id=len(days))

    # simulate the crash point: freeze the dir manually (rename), then
    # run the merge — it must pick the frozen dir up and finish
    (store.root / "_quarantine").rename(store.root / "_quarantine_merging")
    out = merge_quarantine(store, spark, run_id="rm")
    assert out["merged"] > 0
    # run ONCE more on the already-merged store: dedupe keeps it exact
    (store.root / "_quarantine_merging").mkdir()
    spark.createDataFrame([], small.schema).write.mode("overwrite").parquet(
        str(store.root / "_quarantine_merging")
    )
    merge_quarantine(store, spark, run_id="rm2")
    ref = (
        rollup_from_raw(small, "1h")
        .toPandas()
        .sort_values(["conv_id", "bucket_start"])
        .reset_index(drop=True)
    )
    got = tier_pdf(spark, store, "1h")
    pd.testing.assert_frame_equal(got[ref.columns], ref, check_dtype=True)
    assert store.read_transcripts(spark).count() == small.count()


def test_block_store_roundtrip_and_pruned_range(spark, transcripts, tmp_path):
    """Day-sliced compressed blocks through the store: write → read
    round-trips every row; the conv point read prunes to one bucket
    directory; blocks_range_minmax over a mid-span window equals the
    raw aggregate while scanning ONLY the range's day partitions."""
    from pyspark.sql import functions as F
    from smos_spark.operators.compress import (
        compress_series,
        decompress_series,
        range_minmax,
    )

    ev = transcripts.select(
        "conv_id",
        "ts",
        F.coalesce(F.length("text"), F.lit(0)).cast("double").alias("value"),
    )
    store = TranscriptStore(str(tmp_path / "bs"), n_buckets=8)
    blocks = compress_series(
        ev, ["value"], stats=True, slice_col=F.to_date("ts")
    )
    store.write_blocks(blocks, tier="raw")

    back = decompress_series(
        store.read_blocks(spark, "raw").drop("block_date"), ["value"]
    )
    assert sorted(map(tuple, ev.collect())) == sorted(map(tuple, back.collect()))

    some_conv = ev.select("conv_id").first()[0]
    one = store.read_blocks(spark, "raw", conv_id=some_conv)
    # pruning must reach the PHYSICAL plan (input_file_name() over
    # surviving rows would pass even if the scan read every bucket)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket_id" in plan.split(
        "PartitionFilters"
    )[1][:200], plan
    assert one.count() > 0

    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span = hi - lo
    t0, t1 = lo + span / 4, lo + 3 * span / 4
    got = {
        r["conv_id"]: (r["vmin"], r["vmax"], r["n_points"])
        for r in store.blocks_range_minmax(
            spark, "raw", "value", t0, t1
        ).collect()
    }
    exp = {
        r["conv_id"]: (r["vmin"], r["vmax"], r["n_points"])
        for r in ev.where((F.col("ts") >= t0) & (F.col("ts") <= t1))
        .groupBy("conv_id")
        .agg(
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
            F.count(F.lit(1)).alias("n_points"),
        )
        .collect()
    }
    assert got == exp
    # day pruning reaches the PHYSICAL plan (not just the row filter)
    pruned = store.read_blocks(spark, "raw", t0, t1)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "block_date" in plan.split(
        "PartitionFilters"
    )[1][:260], plan
    # a frame of gorilla and chimp block rows: each row decodes by the
    # codec it names, in decompress_series and range_minmax alike
    chimp = compress_series(
        ev, ["value"], stats=True, slice_col=F.to_date("ts"), codec="chimp"
    )
    half = F.crc32("conv_id") % 2 == 0
    mixed = blocks.where(half).unionByName(chimp.where(~half))
    back = decompress_series(mixed, ["value"])
    assert sorted(map(tuple, ev.collect())) == sorted(map(tuple, back.collect()))
    got = {
        r["conv_id"]: (r["vmin"], r["vmax"], r["n_points"])
        for r in range_minmax(mixed, "value", t0, t1).collect()
    }
    assert got == exp
    assert {r.codec for r in mixed.select("codec").distinct().collect()} == {
        "gorilla",
        "chimp",
    }


def test_merge_quarantine_invalidates_stale_blocks(spark, small, days, tmp_path):
    """A late-data merge rewrites tier rows for the affected days, so
    the tier's derived compressed blocks for those days are STALE and
    must be dropped (same tier/blocks consistency rule retention
    enforces) — a reader must never decode pre-merge values for a day
    the merge touched. Unaffected days' blocks survive."""
    from smos_spark.operators.compress import compress_series
    from smos_spark.streaming.incremental import merge_quarantine

    late_mask = (F.to_date("ts") == days[0]) & (
        F.crc32(F.col("conv_id")) % 4 == 0
    )
    store = TranscriptStore(tmp_path / "blk", n_buckets=8)
    ingest_batches(store, day_batches(small.where(~late_mask), days), run_id="r1")

    # derive a block store from the 1m tier (value = per-bucket count)
    tier = store.read_tier(spark, "1m").select(
        "conv_id",
        F.col("bucket_start").alias("ts"),
        F.col("n_turns").cast("double").alias("value"),
    )
    store.write_blocks(
        compress_series(tier, ["value"], stats=True, slice_col=F.to_date("ts")),
        tier="1m",
    )
    from pathlib import Path

    bdirs = sorted(Path(store.blocks_path("1m")).glob("block_date=*"))
    assert {d.name.split("=")[1] for d in bdirs} >= set(days)

    # late rows for day 0 arrive and are merged
    ingest_batch(store, small.where(late_mask), run_id="r1", batch_id=len(days))
    out = merge_quarantine(store, spark, run_id="r1-merge")
    assert out["days"] == [days[0]]

    remaining = {
        d.name.split("=")[1]
        for d in Path(store.blocks_path("1m")).glob("block_date=*")
    }
    assert days[0] not in remaining, "stale pre-merge blocks survived the merge"
    assert days[1] in remaining, "unaffected day's blocks were dropped"

    # the drop is recorded in lineage
    cp = store.read_checkpoint(spark)
    drops = cp.where(
        (F.col("tier") == "blocks_1m")
        & (F.col("partition_key") == f"block_date={days[0]}")
    )
    assert drops.count() == 1


def test_merge_quarantine_deterministic_survivor(spark, small, days, tmp_path):
    """When a late row collides with an existing raw row on the turn
    key (conv_id, turn_idx) with DIFFERENT content, the survivor is
    deterministic: the late row wins (a late delivery is a
    correction), and tiers reflect the corrected payload."""
    from smos_spark.streaming.incremental import merge_quarantine

    store = TranscriptStore(tmp_path / "det", n_buckets=8)
    ingest_batches(store, day_batches(small, days), run_id="r1")

    victim = small.where(F.to_date("ts") == days[0]).orderBy(
        "conv_id", "turn_idx"
    ).first()
    corrected = spark.createDataFrame(
        [
            (
                victim["conv_id"],
                victim["turn_idx"],
                victim["role"],
                "CORRECTED " + (victim["text"] or ""),
                victim["tool"],
                victim["ts"],
            )
        ],
        small.schema,
    )
    res = ingest_batch(store, corrected, run_id="r1", batch_id=len(days))
    assert res["rows_in"] == 0  # quarantined: at/before last_day

    merge_quarantine(store, spark, run_id="m1")
    got = (
        store.read_transcripts(spark)
        .where(
            (F.col("conv_id") == victim["conv_id"])
            & (F.col("turn_idx") == victim["turn_idx"])
        )
        .collect()
    )
    assert len(got) == 1
    assert got[0]["text"].startswith("CORRECTED ")
    # no row count drift: a collision replaces, never appends
    assert store.read_transcripts(spark).count() == small.count()

    # re-running the merge with the same correction converges to the
    # same bytes (the already-merged row is now the 'existing' side);
    # the merge took no batch id, so this batch is not skipped
    ingest_batch(store, corrected, run_id="r1", batch_id=len(days) + 1)
    assert merge_quarantine(store, spark, run_id="m2")["merged"] == 1
    again = (
        store.read_transcripts(spark)
        .where(
            (F.col("conv_id") == victim["conv_id"])
            & (F.col("turn_idx") == victim["turn_idx"])
        )
        .collect()
    )
    assert [r.asDict() for r in again] == [r.asDict() for r in got]


def test_ingest_batch_invalidates_stale_blocks(spark, small, days, tmp_path):
    """An ordinary append rewrites the boundary day's tier partitions,
    so that day's derived blocks are stale too — ingest_batch must
    drop them (the same rule merge_quarantine and retention enforce).
    Blocks for days before the batch span survive."""
    from smos_spark.operators.compress import compress_series

    store = TranscriptStore(tmp_path / "ibk", n_buckets=8)
    ingest_batch(store, small.where(F.to_date("ts") == days[0]),
                 run_id="r1", batch_id=0)
    tier = store.read_tier(spark, "1m").select(
        "conv_id",
        F.col("bucket_start").alias("ts"),
        F.col("n_turns").cast("double").alias("value"),
    )
    store.write_blocks(
        compress_series(tier, ["value"], stats=True, slice_col=F.to_date("ts")),
        tier="1m",
    )
    from pathlib import Path

    assert (Path(store.blocks_path("1m")) / f"block_date={days[0]}").exists()

    # a second batch whose rows are ALL on day 1 still has day-0 rows
    # in no partition it rewrites -> day-0 blocks survive; if the
    # batch also touched day 0 they must not. Append day 1:
    ingest_batch(store, small.where(F.to_date("ts") == days[1]),
                 run_id="r1", batch_id=1)
    remaining = {
        d.name.split("=")[1]
        for d in Path(store.blocks_path("1m")).glob("block_date=*")
    }
    assert days[0] in remaining  # untouched day keeps its blocks
    # now write blocks for day 1 and append more day-1 data (same day
    # re-appended late in the day is the boundary-day rewrite case)
    t2 = store.read_tier(spark, "1m").select(
        "conv_id",
        F.col("bucket_start").alias("ts"),
        F.col("n_turns").cast("double").alias("value"),
    )
    store.write_blocks(
        compress_series(t2, ["value"], stats=True, slice_col=F.to_date("ts")),
        tier="1m",
    )
    extra = small.where(F.to_date("ts") == days[1]).withColumn(
        "conv_id", F.concat(F.col("conv_id"), F.lit("_x"))
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 SECOND"))
    ingest_batch(store, extra, run_id="r1", batch_id=2)
    remaining = {
        d.name.split("=")[1]
        for d in Path(store.blocks_path("1m")).glob("block_date=*")
    }
    assert days[1] not in remaining, "stale boundary-day blocks survived append"
    assert days[0] in remaining
    cp = store.read_checkpoint(spark)
    assert cp.where(
        (F.col("tier") == "blocks_1m")
        & (F.col("partition_key") == f"block_date={days[1]}")
    ).count() >= 1


def _leaf_scan_rows(df) -> int:
    """Execute df and sum the file-scan leaves' numOutputRows metric —
    rows that survived row-group pruning and were actually decoded."""
    df.collect()
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    total = 0
    for i in range(leaves.size()):
        m = leaves.apply(i).metrics()
        if m.contains("numOutputRows"):
            total += m.apply("numOutputRows").value()
    return total


def test_point_read_bloom_prunes_row_groups(spark, tmp_path):
    """The conv_id bloom filter skips row-groups the bucket + min/max
    stats cannot: a key lexically INSIDE one row-group's [min,max]
    span but not present decodes ZERO row-groups with the bloom,
    at least one without it. Present-key reads are identical.

    Dictionary encoding is disabled to reproduce the at-scale regime
    the bloom exists for: a 100 TB store's per-file conv_id
    cardinality overflows the dictionary page and parquet falls back
    to plain encoding, where dictionary row-group filtering (which
    would mask the effect on this tiny fixture) cannot apply."""
    from smos_spark.synth import synth_transcripts

    hc = spark.sparkContext._jsc.hadoopConfiguration()
    prev_block, prev_page = hc.get("parquet.block.size"), hc.get("parquet.page.size")
    prev_dict = hc.get("parquet.enable.dictionary")
    hc.setInt("parquet.block.size", 16 * 1024)
    hc.setInt("parquet.page.size", 4 * 1024)
    hc.setBoolean("parquet.enable.dictionary", False)
    try:
        tier = rollup_from_raw(
            synth_transcripts(spark, n_conv=300, seed=31), "1h"
        ).cache()
        on = TranscriptStore(tmp_path / "bloom", n_buckets=2)
        off = TranscriptStore(tmp_path / "nobloom", n_buckets=2, bloom_ndv=None)
        on.write_tier(tier, "1h")
        off.write_tier(tier, "1h")
        # absent key that sorts between two present conv ids: min/max
        # row-group stats cannot exclude it, only the bloom can
        ghost = "conv000123x"
        rows_on = _leaf_scan_rows(on.read_tier(spark, "1h", conv_id=ghost))
        rows_off = _leaf_scan_rows(off.read_tier(spark, "1h", conv_id=ghost))
        assert rows_on == 0, f"bloom store decoded {rows_on} rows for absent key"
        assert rows_off > 0, "without bloom some row-group must be decoded"
        # present key: same answer either way (bloom is pruning-only)
        a = sorted(map(tuple, on.read_tier(spark, "1h", conv_id="conv000123").collect()))
        b = sorted(map(tuple, off.read_tier(spark, "1h", conv_id="conv000123").collect()))
        assert a == b and len(a) > 0
    finally:
        if prev_block is None:
            hc.unset("parquet.block.size")
        else:
            hc.set("parquet.block.size", prev_block)
        if prev_page is None:
            hc.unset("parquet.page.size")
        else:
            hc.set("parquet.page.size", prev_page)
        if prev_dict is None:
            hc.unset("parquet.enable.dictionary")
        else:
            hc.set("parquet.enable.dictionary", prev_dict)
