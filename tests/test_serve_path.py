"""Serve-path cost: Spark jobs per read, recorded table schemas, and the
Python worker daemon.

A point read should cost what the reference's `SMOSTs.read` does, one
cell file opened, so every read here runs exactly ONE Spark job: no schema-inference job (the store's
overview records each table's schema), no job to hash the key to its
bucket, no range-sampling job for a global sort.
"""

from __future__ import annotations

import datetime as dt
import importlib
import os
import subprocess
import sys
import textwrap
import uuid
import zipfile
import zipimport
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from smos_spark.operators.compress import compress_series
from smos_spark.operators.retention import tiered_read_store
from smos_spark.operators.rollup import reaggregate, rollup_from_raw
from smos_spark.readback import read_block_series, read_conv_series
from smos_spark.sources.store import TranscriptStore
from smos_spark.streaming.incremental import ingest_batch

REPO = Path(__file__).resolve().parent.parent
PARAMS = ["n_turns", "len_sum"]


def _jobs(spark, action) -> tuple[int, object]:
    """(Spark jobs launched while `action()` runs, its result)."""
    sc = spark.sparkContext
    group = f"serve-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "serve-path job count")
    try:
        result = action()
    finally:
        sc.setJobGroup("other", "")
    return len(sc.statusTracker().getJobIdsForGroup(group)), result


def _series(tier_df):
    return tier_df.select(
        "conv_id",
        F.col("bucket_start").alias("ts"),
        *[F.col(p).cast("double").alias(p) for p in PARAMS],
    )


@pytest.fixture(scope="module")
def served(spark, transcripts, tmp_path_factory):
    """A store with all three tiers, day-sliced blocks written through
    `write_blocks`, and a flat blocks directory as the rollup job's
    --blocks phase writes it."""
    root = tmp_path_factory.mktemp("served")
    store = TranscriptStore(root / "store", n_buckets=8)
    m1 = rollup_from_raw(transcripts, "1m")
    store.write_tier(m1, "1m")
    store.write_tier(reaggregate(store.read_tier(spark, "1m"), "1h"), "1h")
    store.write_tier(reaggregate(store.read_tier(spark, "1h"), "1d"), "1d")
    h1 = _series(store.read_tier(spark, "1h"))
    store.write_blocks(compress_series(h1, PARAMS, slice_col=F.to_date("ts")), "1h")
    flat = str(root / "flat_blocks")
    compress_series(h1, PARAMS).write.parquet(flat)
    store.append_checkpoint(
        spark,
        [
            {"run_id": "r", "batch_id": 0, "tier": "1h", "partition_key": "all",
             "rows_in": 1, "rows_out": 1, "min_ts": None, "max_ts": None,
             "committed_seq": 1}
        ],
    )
    return store, flat


def test_building_store_readers_launches_no_job(spark, served):
    store, _ = served
    builders = {
        "read_tier": lambda: store.read_tier(spark, "1h"),
        "read_tier_lo": lambda: store.read_tier(spark, "1m", lo="2025-01-02"),
        "read_tier_conv": lambda: store.read_tier(spark, "1h", conv_id="conv000007"),
        "read_tier_range": lambda: store.read_tier(
            spark, "1m", dt.date(2025, 1, 2), dt.datetime(2025, 1, 3, 6)
        ),
        "read_tier_range_conv": lambda: store.read_tier(
            spark, "1h", "2025-01-02", "2025-01-03", conv_id="conv000007"
        ),
        "read_blocks_lo": lambda: store.read_blocks(spark, "1h", lo="2025-01-02"),
        "read_blocks_conv": lambda: store.read_blocks(spark, "1h", conv_id="conv000007"),
        "read_blocks_range_conv": lambda: store.read_blocks(
            spark, "1h", "2025-01-02", "2025-01-03", conv_id="conv000007"
        ),
        "read_checkpoint": lambda: store.read_checkpoint(spark),
    }
    assert {name: _jobs(spark, build)[0] for name, build in builders.items()} == {
        name: 0 for name in builders
    }


def test_point_read_returns_tier_columns_only(spark, served, transcripts):
    """A point read holds the tier's own columns, no partition column."""
    store, _ = served
    tier_cols = rollup_from_raw(transcripts, "1h").columns
    assert read_conv_series(spark, store, "conv000007", "1h").columns == tier_cols


def test_block_reads_return_no_partition_columns(spark, served):
    store, _ = served
    cols = store.read_blocks(spark, "1h").columns
    assert not {"block_date", "bucket_id"} & set(cols)
    assert {"conv_id", "ts_blob", "codec"} <= set(cols)
    one = store.read_blocks(spark, "1h", "2025-01-02", "2025-01-03", conv_id="conv000007")
    assert one.columns == cols


def test_blocks_range_minmax_bound_types(spark, served, tmp_path):
    """A range bound may be a date, a datetime or an ISO string; all
    three give the same answer."""
    store, _ = served
    blocks = TranscriptStore(tmp_path / "stats", n_buckets=4)
    h1 = _series(store.read_tier(spark, "1h"))
    blocks.write_blocks(
        compress_series(h1, PARAMS, stats=True, slice_col=F.to_date("ts")), "1h"
    )
    lo, hi = dt.date(2025, 1, 2), dt.date(2025, 1, 3)
    bounds = [
        (lo, hi),
        (dt.datetime(2025, 1, 2), dt.datetime(2025, 1, 3)),
        ("2025-01-02", "2025-01-03 00:00:00"),
    ]
    got = [
        sorted(map(tuple, blocks.blocks_range_minmax(spark, "1h", "n_turns", a, b).collect()))
        for a, b in bounds
    ]
    assert got[0] and got[0] == got[1] == got[2]
    want = (
        h1.where((F.col("ts") >= "2025-01-02") & (F.col("ts") <= "2025-01-03"))
        .groupBy("conv_id")
        .agg(F.min("n_turns"), F.max("n_turns"), F.count(F.lit(1)))
    )
    assert got[0] == sorted(map(tuple, want.collect()))


def test_point_read_runs_one_job(spark, served, transcripts):
    store, _ = served
    n, pdf = _jobs(spark, lambda: read_conv_series(spark, store, "conv000007", "1h").toPandas())
    assert n == 1
    want = transcripts.where(F.col("conv_id") == "conv000007").select(
        F.date_trunc("hour", "ts").alias("b")).distinct().count()
    assert len(pdf) == want
    assert pdf.bucket_start.is_monotonic_increasing


def test_dense_point_read_runs_one_job(spark, served):
    """A dense point read regularizes one conversation in one partition:
    gap_fill's window needs no exchange, so the read is still one job."""
    store, _ = served
    n, pdf = _jobs(
        spark,
        lambda: read_conv_series(
            spark, store, "conv000010", "1h", drop_missing=False, dense=True
        ).toPandas(),
    )
    assert n == 1
    assert (pdf.bucket_start.diff().dropna() == dt.timedelta(hours=1)).all()
    # conv000010 carries a forced gap of over 2 h
    assert pdf.n_turns.isna().sum() >= 2
    assert pdf.n_turns.notna().sum() == len(
        read_conv_series(spark, store, "conv000010", "1h").toPandas()
    )


@pytest.mark.parametrize("layout", ["flat", "write_blocks"])
def test_block_read_runs_one_job(spark, served, layout):
    store, flat = served
    path = flat if layout == "flat" else store.blocks_path("1h")
    n, pdf = _jobs(spark, lambda: read_block_series(spark, path, "conv000007", PARAMS).toPandas())
    assert n == 1
    assert list(pdf.columns) == ["conv_id", "ts", *PARAMS]
    assert len(pdf) > 0 and (pdf.conv_id == "conv000007").all()
    assert pdf.ts.is_monotonic_increasing


def test_tiered_range_read_runs_one_job(spark, served):
    store, _ = served
    now = dt.datetime(2025, 1, 4)
    keep = {"1m": 6 * 3600, "1h": 2 * 86400, "1d": None}
    n, pdf = _jobs(
        spark,
        lambda: tiered_read_store(
            spark, store, now - dt.timedelta(days=3), now, now, keep_s=keep
        ).toPandas(),
    )
    assert n == 1
    assert set(pdf.tier) == {"1m", "1h", "1d"}


def test_exported_parameter_subset_reads_its_own_columns(spark, served, tmp_path):
    """The overview records the schema each writer wrote: a parameter
    subset reads back with its own columns, not the full tier schema
    padded with NULLs."""
    store, _ = served
    sub = store.export_subset(spark, tmp_path / "sub", tier="1h", parameters=PARAMS)
    n, got = _jobs(spark, lambda: sub.read_tier(spark, "1h"))
    assert n == 0
    assert got.columns == ["conv_id", "bucket_start", *PARAMS]
    assert got.where(F.col("n_turns").isNull()).count() == 0
    assert got.count() == store.read_tier(spark, "1h").count()


def test_ingest_keeps_recorded_schemas(spark, transcripts, tmp_path):
    """ingest_batch commits an overview it loaded before the tier
    writes; the schemas those writes recorded survive the commit."""
    store = TranscriptStore(tmp_path / "ing", n_buckets=4)
    ingest_batch(store, transcripts.limit(200), run_id="s", batch_id=0)
    schemas = store.load_overview().schemas
    assert {"tiers/1m", "tiers/1h", "tiers/1d"} <= set(schemas)
    names = [f["name"] for f in schemas["tiers/1h"]["fields"]]
    assert names[:2] == ["conv_id", "bucket_start"]
    assert names[-2:] == ["bucket_date", "bucket_id"]


@pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="zipimport re-reads archives lazily on this interpreter",
)
def test_worker_daemon_rereads_only_changed_archives(tmp_path, monkeypatch):
    from smos_spark._pydaemon import install_stat_checked_zipimport

    # the stock zipimporter comes back after the test
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    install_stat_checked_zipimport()

    archive = tmp_path / "lib.zip"

    def write(extra: bool) -> None:
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zmod_probe/__init__.py", "")
            z.writestr("zmod_probe/sub/__init__.py", "")
            if extra:
                z.writestr("zmod_probe/extra.py", "X = 1\n")

    write(extra=False)
    monkeypatch.syspath_prepend(str(archive))
    importlib.import_module("zmod_probe.sub")  # two importers over one archive

    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or real(path)
    )
    importlib.invalidate_caches()  # first sight of the archive's stat
    reads.clear()
    importlib.invalidate_caches()
    assert [r for r in reads if r == str(archive)] == []

    write(extra=True)
    importlib.invalidate_caches()
    assert [r for r in reads if r == str(archive)] == [str(archive)]
    assert importlib.import_module("zmod_probe.extra").X == 1
    for m in [m for m in sys.modules if m.split(".")[0] == "zmod_probe"]:
        del sys.modules[m]


def test_python_workers_start_outside_the_checkout(tmp_path):
    """get_spark puts the package root on the executors' PYTHONPATH, so
    the worker daemon module resolves with no PYTHONPATH and any working
    directory."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        from smos_spark.session import get_spark

        spark = get_spark(
            master="local[1]",
            shuffle_partitions=1,
            extra_conf={{"spark.driver.memory": "1g"}},
        )

        def double(batches):
            # workers are forked from the daemon, whose __main__ it is
            daemon = sys.modules["__main__"].__spec__.name
            for pdf in batches:
                yield pdf.assign(id=pdf.id * 2, daemon=daemon)

        out = spark.range(10).mapInPandas(double, "id long, daemon string").toPandas()
        print("TOTAL", out.id.sum(), "DAEMON", *sorted(set(out.daemon)))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert "TOTAL 90 DAEMON smos_spark._pydaemon" in res.stdout, res.stdout
