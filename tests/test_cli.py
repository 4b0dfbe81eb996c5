"""CLI smoke tests: the rollup job with subset/mask flags and the
store tool's read/extend/export subcommands (reference console-script
parity, smos_l2/cli.py:195-225 + reshuffle.py:84-153)."""

from __future__ import annotations

import json
import subprocess
import sys
import zipfile
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parents[1]


def _run(args: list[str], launcher: tuple[str, ...] = (sys.executable,)) -> dict:
    out = subprocess.run(
        [*launcher, *args],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    last = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    return json.loads(last)


@pytest.fixture(scope="module")
def input_parquet(spark, transcripts, tmp_path_factory):
    p = tmp_path_factory.mktemp("cli") / "turns"
    transcripts.write.mode("overwrite").parquet(str(p))
    return str(p)


def test_rollup_job_with_subset_flags(spark, transcripts, input_parquet, tmp_path):
    # the cluster launch shape: spark-submit owns the master and ships
    # the engine to the executors as a zip
    engine = tmp_path / "engine.zip"
    with zipfile.ZipFile(engine, "w", zipfile.ZIP_DEFLATED) as zf:
        for py in sorted((REPO / "smos_spark").rglob("*.py")):
            zf.write(py, py.relative_to(REPO))
    store_root = str(tmp_path / "store")
    res = _run(
        [
            "scripts/rollup_job.py",
            "--input", input_parquet,
            "--output", store_root,
            "--shuffle-partitions", "4",
            "--conv-range", "conv000000,conv000019",
            "--ts-range", "2025-01-01 00:00:00,2025-01-02 23:59:59",
            "--read-roles", "user",
            "--blocks",
            "--block-parameters", "n_turns,len_sum",
        ],
        launcher=("spark-submit", "--master", "local[4]", "--py-files", str(engine)),
    )
    assert res["master"] == "local[4]"
    assert res["job"] == "rollup" and res["turns"] > 0
    # subset flags reached the plan: tier holds only the conv/ts slice
    tier = spark.read.parquet(f"{store_root}/tiers/1d")
    convs = {r.conv_id for r in tier.select("conv_id").distinct().collect()}
    assert convs and all("conv000000" <= c <= "conv000019" for c in convs)
    # --read-roles user masked every tool/assistant payload: synth user
    # turns never carry a tool value, so no tool calls survive
    assert (tier.agg(F.sum("n_tool_calls")).collect()[0][0] or 0) == 0
    # blocks written for the requested parameters
    assert (Path(store_root) / "blocks_1h").exists()
    # the report's counts, observed on the writes, match the store
    for t in ("1m", "1h", "1d"):
        on_disk = spark.read.parquet(f"{store_root}/tiers/{t}").count()
        assert res["tier_rows"][t] == on_disk, t
    subset = transcripts.where(
        F.col("conv_id").between("conv000000", "conv000019")
    ).where(F.col("ts").between("2025-01-01 00:00:00", "2025-01-02 23:59:59"))
    assert res["turns"] == subset.count()

    # the newest filtered turn is the store's last_day, so an ingest of
    # overlapping turns quarantines them and leaves the tiers as they are
    from smos_spark.sources.store import TranscriptStore
    from smos_spark.streaming.incremental import ingest_batch

    store = TranscriptStore(store_root)
    assert store.load_overview().last_day == str(subset.agg(F.max("ts")).first()[0])

    def tier_sums():
        return [
            spark.read.parquet(f"{store_root}/tiers/{t}")
            .agg(F.sum("n_turns"), F.sum("len_sum"))
            .first()
            for t in ("1m", "1h", "1d")
        ]

    before = tier_sums()
    assert ingest_batch(store, subset, run_id="overlap", batch_id=0)["rows_in"] == 0
    quarantined = spark.read.schema(subset.schema).parquet(f"{store_root}/_quarantine")
    assert quarantined.count() == subset.count()
    assert tier_sums() == before


def test_store_tool_read_extend_export(spark, transcripts, tmp_path):
    days = sorted(
        r.d for r in transcripts.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    cut = str(days[len(days) // 2])
    b0 = transcripts.where(F.to_date("ts") < cut)
    b1 = transcripts.where(F.to_date("ts") >= cut)
    p0, p1 = str(tmp_path / "b0"), str(tmp_path / "b1")
    b0.write.parquet(p0)
    b1.write.parquet(p1)
    store_root = str(tmp_path / "store")

    r0 = _run(
        ["scripts/store_tool.py", "--master", "local[4]", "extend",
         "--store", store_root, "--input", p0, "--n-buckets", "8"]
    )
    assert r0["rows_in"] == b0.count()
    r1 = _run(
        ["scripts/store_tool.py", "--master", "local[4]", "extend",
         "--store", store_root, "--input", p1, "--n-buckets", "8"]
    )
    assert r1["rows_in"] == b1.count() and r1["batch_id"] == r0["batch_id"] + 1

    rd = _run(
        ["scripts/store_tool.py", "--master", "local[4]", "read",
         "--store", store_root, "--conv", "conv000003", "--tier", "1h",
         "--parameters", "n_turns,len_sum"]
    )
    assert rd["rows"] > 0

    xp = _run(
        ["scripts/store_tool.py", "--master", "local[4]", "export",
         "--store", store_root, "--output", str(tmp_path / "sub"),
         "--tier", "1h", "--conv-range", "conv000000,conv000009"]
    )
    assert xp["rows"] > 0
    sub = spark.read.parquet(str(tmp_path / "sub" / "tiers" / "1h"))
    convs = {r.conv_id for r in sub.select("conv_id").distinct().collect()}
    assert convs and all(c <= "conv000009" for c in convs)


def test_store_tool_mirror(spark, transcripts, tmp_path):
    """CLI mirror: day-partitioned landing → store; the str2bool flag
    gates the incomplete trailing day."""
    days = sorted(
        str(r.d)
        for r in transcripts.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    landing = tmp_path / "landing"
    for d in days:
        transcripts.where(F.to_date("ts") == d).write.parquet(str(landing / f"day={d}"))
    store_root = str(tmp_path / "mstore")

    r = _run(
        ["scripts/store_tool.py", "--master", "local[4]", "mirror",
         "--store", store_root, "--landing", str(landing), "--n-buckets", "8"]
    )
    assert r["ingested"] == days[:-1] and days[-1] in r["skipped"]
    r2 = _run(
        ["scripts/store_tool.py", "--master", "local[4]", "mirror",
         "--store", store_root, "--landing", str(landing),
         "--include-last-day", "true"]
    )
    assert r2["ingested"] == [days[-1]]


def test_store_tool_compact(spark, transcripts, tmp_path):
    """CLI compact: multi-wave appends then one rewrite job under the
    writer lock; rerun is a no-op."""
    from smos_spark.sources.store import TranscriptStore

    store = TranscriptStore(tmp_path / "cstore")
    for i in range(4):
        store.append_transcripts(transcripts.where(F.col("turn_idx") % 4 == i))

    r = _run(
        ["scripts/store_tool.py", "--master", "local[4]", "compact",
         "--store", str(tmp_path / "cstore"), "--min-files", "2"]
    )
    assert r["dates"] > 0 and r["files_after"] < r["files_before"]
    r2 = _run(
        ["scripts/store_tool.py", "--master", "local[4]", "compact",
         "--store", str(tmp_path / "cstore"), "--min-files", "2"]
    )
    assert r2["dates"] == 0


def test_store_tool_blocks_and_range_agg(spark, transcripts, tmp_path):
    """CLI block-store build + compressed-domain range aggregate:
    chimp blocks from a 1h tier, read back with no codec argument, then
    a range query answered from block stats; row count equals distinct
    convs active in the range."""
    from smos_spark.operators.rollup import reaggregate, rollup_from_raw
    from smos_spark.readback import read_block_series
    from smos_spark.sources.store import TranscriptStore

    store = TranscriptStore(tmp_path / "bstore", n_buckets=8)
    h1 = reaggregate(rollup_from_raw(transcripts, "1m"), "1h")
    store.write_tier(h1, "1h")

    r = _run(
        ["scripts/store_tool.py", "--master", "local[4]", "blocks",
         "--store", str(tmp_path / "bstore"), "--tier", "1h",
         "--parameters", "n_turns,len_sum", "--codec", "chimp"]
    )
    assert r["blocks"] > 0
    # the rows name their codec, so the point read decodes them as
    # chimp on its own and returns the tier's series
    conv = h1.groupBy("conv_id").count().orderBy(F.desc("count"), "conv_id").first()[0]
    params = ["n_turns", "len_sum"]
    got = read_block_series(spark, store.blocks_path("1h"), conv, params).toPandas()
    exp = (
        h1.where(F.col("conv_id") == conv)
        .select(
            "conv_id",
            F.col("bucket_start").alias("ts"),
            *[F.col(p).cast("double").alias(p) for p in params],
        )
        .orderBy("ts")
        .toPandas()
    )
    pd.testing.assert_frame_equal(got, exp)
    blocks = store.read_blocks(spark, "1h")
    assert {r.codec for r in blocks.select("codec").distinct().collect()} == {"chimp"}

    lo, hi = h1.agg(F.min("bucket_start"), F.max("bucket_start")).first()
    # limit above the conv count -> the (limit+1)-row probe sees the
    # whole result and `rows` is the exact count from ONE execution;
    # when the sentinel row appears the CLI reports ">= limit+1"
    # instead of paying a second aggregation pass just for a count
    r2 = _run(
        ["scripts/store_tool.py", "--master", "local[4]", "range-agg",
         "--store", str(tmp_path / "bstore"), "--tier", "1h",
         "--parameter", "n_turns",
         "--ts-range", f"{lo},{hi}", "--limit", "100"]
    )
    exp = h1.select("conv_id").distinct().count()
    assert exp <= 100 and r2["rows"] == exp

    # the CLI never collects the full result: display rows are capped
    # by a limit PUSHED INTO THE PLAN — re-build the displayed frame
    # exactly as range-agg does and pin GlobalLimit in the physical plan
    shown = store.blocks_range_minmax(spark, "1h", "n_turns", str(lo), str(hi)).limit(3)
    plan = shown._jdf.queryExecution().executedPlan().toString()
    assert "GlobalLimit" in plan or "CollectLimit" in plan, plan
    assert len(shown.collect()) == min(3, exp)


def test_store_tool_tiered_read(spark, transcripts, tmp_path):
    """tiered-read subcommand: stitched retention read over a real
    store; all three tiers appear, counts equal the library call."""
    import datetime as dt

    from smos_spark.operators.retention import tiered_read_store
    from smos_spark.operators.rollup import reaggregate, rollup_from_raw
    from smos_spark.sources.store import TranscriptStore

    store_root = str(tmp_path / "store")
    store = TranscriptStore(store_root, n_buckets=4)
    m1 = rollup_from_raw(transcripts, "1m")
    store.write_tier(m1, "1m")
    h1 = reaggregate(m1, "1h")
    store.write_tier(h1, "1h")
    store.write_tier(reaggregate(h1, "1d"), "1d")

    lo, hi = transcripts.agg(F.min("ts"), F.max("ts")).collect()[0]
    t0 = lo.replace(hour=0, minute=0, second=0, microsecond=0)
    t1 = t0 + dt.timedelta(days=(hi - t0).days + 1)
    now = t1
    # fixture spans 3 days: 0.5 d of 1m, then 1h to 1.5 d back, then 1d
    keep = "1m=43200,1h=129600,1d=inf"

    res = _run(
        ["scripts/store_tool.py", "--master", "local[4]", "tiered-read",
         "--store", store_root, "--t0", str(t0), "--t1", str(t1),
         "--now", str(now), "--keep", keep, "--limit", "3"]
    )
    per_tier = res["rows_per_tier"]
    want = tiered_read_store(
        spark, store, t0, t1, now,
        keep_s={"1m": 43200, "1h": 129600, "1d": None},
    )
    want_counts = {r["tier"]: r["n"] for r in
                   want.groupBy("tier").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per_tier == want_counts
    assert set(per_tier) == {"1m", "1h", "1d"}
