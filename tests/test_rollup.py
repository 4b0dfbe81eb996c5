"""Tier rollup correctness vs a pandas oracle + cascade invariants.

Archetype mirror of the reference's golden end-to-end reshuffle tests
(/root/reference/tests/test_ICreshuffle.py:34-85): exact point values
at each tier, dtype contracts, tier-consistency (partial+final).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from smos_spark.operators.rollup import (
    reaggregate,
    reaggregate_width,
    resample,
    rollup_from_raw,
    turn_partials,
    with_derived,
)

FLOOR = {"1m": "min", "1h": "h", "1d": "D"}


def oracle_tier(pdf: pd.DataFrame, tier: str) -> pd.DataFrame:
    p = pdf.copy()
    p["bucket_start"] = p["ts"].dt.floor(FLOOR[tier])
    p["_len"] = p["text"].str.len().astype("float64")
    g = p.groupby(["conv_id", "bucket_start"])
    out = pd.DataFrame(
        {
            "n_turns": g.size(),
            "n_role_user": g.apply(lambda x: (x.role == "user").sum(), include_groups=False),
            "n_role_assistant": g.apply(lambda x: (x.role == "assistant").sum(), include_groups=False),
            "n_role_tool": g.apply(lambda x: (x.role == "tool").sum(), include_groups=False),
            "n_role_system": g.apply(lambda x: (x.role == "system").sum(), include_groups=False),
            "n_tool_calls": g["tool"].count(),
            "len_sum": g["_len"].sum(min_count=1),
            "len_cnt": g["_len"].count(),
            "len_min": g["_len"].min(),
            "len_max": g["_len"].max(),
            "first_ts": g["ts"].min(),
            "last_ts": g["ts"].max(),
        }
    ).reset_index()
    return out.sort_values(["conv_id", "bucket_start"]).reset_index(drop=True)


def spark_tier_pdf(df) -> pd.DataFrame:
    return (
        df.toPandas().sort_values(["conv_id", "bucket_start"]).reset_index(drop=True)
    )


@pytest.mark.parametrize("tier", ["1m", "1h", "1d"])
def test_rollup_matches_pandas_oracle(transcripts, transcripts_pdf, tier):
    got = spark_tier_pdf(rollup_from_raw(transcripts, tier))
    exp = oracle_tier(transcripts_pdf, tier)
    assert len(got) == len(exp)
    assert (got.conv_id.values == exp.conv_id.values).all()
    assert (got.bucket_start.values == exp.bucket_start.values).all()
    for c in ["n_turns", "n_role_user", "n_role_assistant", "n_role_tool",
              "n_role_system", "n_tool_calls", "len_cnt"]:
        np.testing.assert_array_equal(got[c].values, exp[c].values, err_msg=c)
    for c in ["len_sum", "len_min", "len_max"]:
        np.testing.assert_allclose(
            got[c].astype("float64").values, exp[c].values, err_msg=c
        )
    assert (got.first_ts.values == exp.first_ts.values).all()
    assert (got.last_ts.values == exp.last_ts.values).all()


@pytest.mark.parametrize("tier", ["1m", "1h", "1d"])
def test_turn_partials_reaggregate_equals_rollup(spark, transcripts, tier):
    """Merging one-turn partials is exactly a rollup from raw — values,
    NULLs and types — including turns with a NULL role, tool, text or
    conv_id and empty text, which the synth data never produces."""
    edge = spark.createDataFrame(
        [
            ("conv000001", 900, None, "hi", None, "2025-01-01 00:00:05"),
            ("conv000001", 901, "tool", None, "grep", "2025-01-01 00:00:40"),
            ("conv000001", 902, "user", "", None, "2025-01-01 00:00:41"),
            ("edge", 0, None, None, None, "2025-01-02 10:00:00"),
            ("edge", 1, "system", None, "x", "2025-01-02 10:00:30"),
            (None, 0, "user", "orphan", None, "2025-01-01 00:00:07"),
            (None, 1, "assistant", None, None, "2025-01-01 00:59:59"),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df = transcripts.unionByName(edge)
    got = reaggregate(turn_partials(df), tier)
    exp = rollup_from_raw(df, tier)
    assert got.dtypes == exp.dtypes
    assert got.exceptAll(exp).isEmpty() and exp.exceptAll(got).isEmpty()
    assert got.count() == exp.count()


@pytest.mark.parametrize("pair", [("1m", "1h"), ("1h", "1d")])
def test_tier_cascade_exact(transcripts, pair):
    """1h from 1m partials == 1h from raw; 1d from 1h likewise —
    the partial+final exactness invariant (FIXTURES.md §2)."""
    fine, coarse = pair
    from_fine = spark_tier_pdf(reaggregate(rollup_from_raw(transcripts, fine), coarse))
    from_raw = spark_tier_pdf(rollup_from_raw(transcripts, coarse))
    pd.testing.assert_frame_equal(from_fine, from_raw, check_dtype=True)


@pytest.fixture(scope="module")
def parquet_inputs(spark, transcripts, tmp_path_factory):
    """Raw turns and their 1m tier as plain parquet scans, so a plan
    built on them holds no Exchange but the one under test."""
    root = tmp_path_factory.mktemp("plan_inputs")
    transcripts.write.parquet(str(root / "raw"))
    rollup_from_raw(transcripts, "1m").write.parquet(str(root / "tier"))
    return spark.read.parquet(str(root / "raw")), spark.read.parquet(str(root / "tier"))


@pytest.mark.parametrize(
    "build",
    [
        lambda raw, tier: rollup_from_raw(raw, "1m"),
        lambda raw, tier: reaggregate(tier, "1h"),
        lambda raw, tier: resample(raw, 300),
        lambda raw, tier: reaggregate_width(tier, 900),
    ],
    ids=["rollup_from_raw", "reaggregate", "resample", "reaggregate_width"],
)
def test_plain_rollup_plan_shape(parquet_inputs, build):
    """Each rollup runs one Exchange with a partial (map-side)
    HashAggregate below it. That is why a hot conversation needs no
    salting: every partial is algebraic, so a map task sends at most
    one row per (conv_id, bucket) however hot the conversation. A
    non-algebraic partial would break this plan shape."""
    out = build(*parquet_inputs)
    out.collect()
    # the adaptive plan after execution: its final physical plan
    plan = out._jdf.queryExecution().executedPlan().executedPlan().toString()
    lines = plan.splitlines()
    exchanges = [i for i, ln in enumerate(lines) if "Exchange" in ln]
    assert len(exchanges) == 1, plan
    below = lines[exchanges[0] + 1]
    assert "HashAggregate" in below and "partial_" in below, plan


def test_gap_fill_plan_shape(spark, parquet_inputs, tmp_path):
    """The blocks phase's regularization, `forward_fill(gap_fill(...))`
    over a 1h tier read from parquet, scans the tier once and shuffles
    it once: `gap_fill` emits each conversation's gaps from its own
    rows through a window on conv_id, which `forward_fill`'s window
    reuses, so no grid is built and nothing is broadcast."""
    from smos_spark.operators.gapfill import forward_fill, gap_fill

    path = str(tmp_path / "tier_1h")
    reaggregate(parquet_inputs[1], "1h").write.parquet(path)
    out = forward_fill(gap_fill(spark.read.parquet(path), "1h"), ["n_turns", "len_sum"])
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().executedPlan().toString()
    lines = plan.splitlines()
    assert sum("FileScan" in ln for ln in lines) == 1, plan
    assert sum("Exchange" in ln for ln in lines) == 1, plan
    assert not any("BroadcastExchange" in ln for ln in lines), plan


def test_derived_rates(transcripts, transcripts_pdf):
    got = spark_tier_pdf(with_derived(rollup_from_raw(transcripts, "1d")))
    # rates sum to 1 per bucket; tool_rate within [0,1]; len_mean sane
    rates = got[["rate_user", "rate_assistant", "rate_tool", "rate_system"]].sum(axis=1)
    np.testing.assert_allclose(rates.values, 1.0, rtol=1e-12)
    assert ((got.tool_rate >= 0) & (got.tool_rate <= 1)).all()
    has_len = got.len_cnt > 0
    np.testing.assert_allclose(
        got.loc[has_len, "len_mean"].values,
        (got.loc[has_len, "len_sum"] / got.loc[has_len, "len_cnt"]).values,
    )
    # buckets with no non-null text → len_mean NULL (0 vs null contract)
    assert got.loc[~has_len, "len_mean"].isna().all()


def test_block_store_point_read(spark, transcripts, tmp_path):
    """Compressed block store round-trips a single conversation's
    series through the parquet-pushdown point read."""
    from pyspark.sql import functions as F

    from smos_spark.operators.compress import compress_series
    from smos_spark.readback import read_block_series

    ser = transcripts.select(
        "conv_id", "ts", F.length("text").cast("double").alias("tl")
    )
    path = str(tmp_path / "blocks")
    compress_series(ser, ["tl"]).write.parquet(path)

    conv = "conv000003"
    # sort by (ts, value) on both sides: synth plants duplicate-ts
    # rows, so a ts-only order is ambiguous for value comparison
    got = (
        read_block_series(spark, path, conv, ["tl"])
        .toPandas()
        .sort_values(["ts", "tl"], kind="mergesort")
        .reset_index(drop=True)
    )
    exp = (
        ser.where(F.col("conv_id") == conv)
        .toPandas()
        .sort_values(["ts", "tl"], kind="mergesort")
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    import numpy as np

    np.testing.assert_array_equal(
        got.ts.to_numpy().astype("datetime64[us]"),
        exp.ts.to_numpy().astype("datetime64[us]"),
    )
    a = got.tl.to_numpy()
    b = exp.tl.to_numpy()
    mask = ~(np.isnan(a) & np.isnan(b))
    np.testing.assert_array_equal(a[mask], b[mask])


def test_synth_hot_convs_detectable(transcripts):
    """synth plants hot convs carrying ~50% of turns (FIXTURES.md §1
    item 2); the sampled detector must find a few of them, so the
    `*_auto` split route activates on this data."""
    from smos_spark.operators.dispatch import detect_hot_keys

    hot = detect_hot_keys(
        transcripts, ["conv_id"], hot_threshold=500, sample_fraction=0.2
    )
    assert hot, "synth hot convs must be detectable"


def test_resample_matches_named_tier(spark, transcripts):
    """width=60 s resample ≡ the named 1m tier (date_trunc and epoch
    floor agree at minute width)."""
    from smos_spark.operators.rollup import resample, rollup_from_raw

    a = resample(transcripts, 60).orderBy("conv_id", "bucket_start").collect()
    b = rollup_from_raw(transcripts, "1m").orderBy("conv_id", "bucket_start").collect()
    assert a == b


def test_resample_cascade_exact(spark, transcripts):
    """5m partials re-aggregated to 15m ≡ 15m direct from raw."""
    from smos_spark.operators.rollup import reaggregate_width, resample

    fine = resample(transcripts, 300)
    casc = reaggregate_width(fine, 900).orderBy("conv_id", "bucket_start").collect()
    direct = resample(transcripts, 900).orderBy("conv_id", "bucket_start").collect()
    assert casc == direct


def test_resample_origin_anchor(spark):
    """origin shifts the grid: 10-minute buckets anchored at :05."""
    import datetime as dt

    from smos_spark.operators.rollup import resample

    rows = [
        ("a", 0, "user", "x", None, dt.datetime(2025, 1, 1, 0, 4, 59)),
        ("a", 1, "user", "x", None, dt.datetime(2025, 1, 1, 0, 5, 0)),
        ("a", 2, "user", "x", None, dt.datetime(2025, 1, 1, 0, 14, 59)),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    got = {
        str(r["bucket_start"]): r["n_turns"]
        for r in resample(df, 600, origin="2025-01-01 00:05:00").collect()
    }
    # :04:59 falls in the PREVIOUS anchored bucket [-00:05, 00:05)
    assert got == {"2024-12-31 23:55:00": 1, "2025-01-01 00:05:00": 2}
