"""Codec roundtrip identity (FIXTURES.md §3): decode(encode(x)) == x
bit-exactly, for constant/ramp/noise/NaN/single/empty/large inputs,
plus hypothesis property tests and a Spark-side block roundtrip."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from smos_spark.functions.codecs import (
    dod_decode,
    dod_encode,
    gorilla_decode,
    gorilla_encode,
)

RNG = np.random.default_rng(42)

FLOAT_CASES = {
    "empty": np.array([], dtype="float64"),
    "single": np.array([3.14159], dtype="float64"),
    "constant": np.full(1000, 12.5),
    "ramp": np.arange(5000, dtype="float64") * 0.1,
    "noise": RNG.normal(size=10_000),
    "nan_bearing": np.where(RNG.random(2000) < 0.3, np.nan, RNG.normal(size=2000)),
    "inf_and_zero": np.array([0.0, -0.0, np.inf, -np.inf, 1e-308, 1e308]),
    "large_100k": RNG.normal(size=100_000).cumsum(),
}


@pytest.mark.parametrize("name", list(FLOAT_CASES))
def test_gorilla_roundtrip_bitexact(name):
    x = FLOAT_CASES[name]
    got = gorilla_decode(gorilla_encode(x))
    assert got.dtype == np.float64 and len(got) == len(x)
    np.testing.assert_array_equal(got.view(np.uint64), x.view(np.uint64))


def test_gorilla_compresses_constant_series():
    x = np.full(10_000, 42.0)
    blob = gorilla_encode(x)
    assert len(blob) < 10_000 * 8 / 50  # >50x on constant data


TS_CASES = {
    "empty": np.array([], dtype="int64"),
    "single": np.array([1_700_000_000_000_000], dtype="int64"),
    "regular_1m": 1_700_000_000_000_000 + np.arange(5000, dtype="int64") * 60_000_000,
    "jittered": 1_700_000_000_000_000
    + np.cumsum(RNG.integers(1, 21_600_000_000, 10_000)).astype("int64"),
    "with_ties": np.repeat(
        1_700_000_000_000_000 + np.arange(100, dtype="int64") * 1_000_000, 3
    ),
    "negative_epoch": np.cumsum(RNG.integers(1, 1000, 100)).astype("int64") - 10**15,
}


@pytest.mark.parametrize("name", list(TS_CASES))
def test_dod_roundtrip_exact(name):
    t = TS_CASES[name]
    got = dod_decode(dod_encode(t))
    np.testing.assert_array_equal(got, t)


def test_dod_compresses_regular_series():
    t = TS_CASES["regular_1m"]
    blob = dod_encode(t)
    assert len(blob) < len(t)  # ~1 bit per point after the first two


@settings(max_examples=200, deadline=None)
@given(st.lists(st.floats(allow_nan=True, allow_infinity=True, width=64), max_size=300))
def test_gorilla_property(xs):
    x = np.array(xs, dtype="float64")
    got = gorilla_decode(gorilla_encode(x))
    np.testing.assert_array_equal(got.view(np.uint64), x.view(np.uint64))


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**62), max_value=2**62 - 1), max_size=300
    ).map(sorted)
)
def test_dod_property(ts):
    t = np.array(ts, dtype="int64")
    np.testing.assert_array_equal(dod_decode(dod_encode(t)), t)


def test_spark_block_roundtrip(spark, transcripts):
    """Compress each conv's text-length series, decompress, compare to
    the original (stable (ts, turn_idx) order)."""
    from pyspark.sql import functions as F

    from smos_spark.operators.compress import compress_series, decompress_series

    src = transcripts.select(
        "conv_id", "ts", "turn_idx", F.length("text").cast("double").alias("tlen")
    )
    comp = compress_series(src, ["tlen"], order_cols=["turn_idx"])
    back = decompress_series(comp, ["tlen"])

    a = (
        src.toPandas()
        .sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    b = (
        back.toPandas()
        .sort_values(["conv_id", "ts", "tlen"], kind="mergesort")
        .reset_index(drop=True)
    )
    assert len(a) == len(b)
    # ties in ts are ordered by turn_idx inside the block; compare as
    # multisets per (conv_id, ts) for the value column
    a2 = a.sort_values(["conv_id", "ts", "tlen"], kind="mergesort").reset_index(drop=True)
    np.testing.assert_array_equal(
        a2.conv_id.to_numpy(), b.conv_id.to_numpy()
    )
    np.testing.assert_array_equal(
        a2.ts.to_numpy().astype("datetime64[us]"),
        b.ts.to_numpy().astype("datetime64[us]"),
    )
    np.testing.assert_array_equal(a2.tlen.to_numpy(), b.tlen.to_numpy())

    # compression actually compresses
    sizes = comp.select(
        F.sum(F.length("ts_blob") + F.length("tlen_blob")).alias("c"),
        F.sum(F.lit(16)).alias("raw_per_row"),
    ).collect()[0]
    n_rows = src.count()
    assert sizes.c < n_rows * 16


def test_batch_encoders_match_single():
    """gorilla_encode_batch/dod_encode_batch must produce byte-identical
    blobs to per-slice single encodes for ragged group mixes (incl.
    n=1 and n=2 groups, NaNs, constant runs, jittered ts)."""
    from smos_spark.functions.codecs import dod_encode_batch, gorilla_encode_batch

    rng = np.random.default_rng(7)
    sizes = [1, 2, 3, 17, 1, 250, 2, 5000, 40, 1]
    starts = np.concatenate(([0], np.cumsum(sizes[:-1]))).astype("int64")
    vals = np.concatenate(
        [
            np.where(rng.random(s) < 0.2, np.nan, rng.normal(size=s).cumsum())
            if i % 2
            else np.repeat(rng.normal(), s)
            for i, s in enumerate(sizes)
        ]
    )
    ts = np.concatenate(
        [
            1_700_000_000_000_000
            + np.cumsum(rng.integers(1, 10_000_000_000, s)).astype("int64")
            for s in sizes
        ]
    )
    gb = gorilla_encode_batch(vals, starts)
    db = dod_encode_batch(ts, starts)
    assert len(gb) == len(db) == len(sizes)
    off = 0
    for g, s in enumerate(sizes):
        np.testing.assert_array_equal(
            gorilla_decode(gb[g]).view(np.uint64),
            vals[off : off + s].view(np.uint64),
        )
        np.testing.assert_array_equal(dod_decode(db[g]), ts[off : off + s])
        assert gb[g] == gorilla_encode(vals[off : off + s])
        assert db[g] == dod_encode(ts[off : off + s])
        off += s


def test_batch_encoders_escape_and_pad_edges():
    from smos_spark.functions.codecs import dod_encode_batch, gorilla_encode_batch

    # giant dods force the 64-bit escape inside a multi-group batch
    ts = np.array(
        [0, 10, 20, 2**52, 2**52 + 5,          # group 0 with escape
         100, 200, 300, 400],                   # group 1 regular
        dtype="int64",
    )
    starts = np.array([0, 5], dtype="int64")
    db = dod_encode_batch(ts, starts)
    np.testing.assert_array_equal(dod_decode(db[0]), ts[:5])
    np.testing.assert_array_equal(dod_decode(db[1]), ts[5:])
    assert db[0] == dod_encode(ts[:5]) and db[1] == dod_encode(ts[5:])

    vals = np.array([1.0, 1.0, 2.0, np.inf, -0.0, 0.0], dtype="float64")
    starts = np.array([0, 2, 5], dtype="int64")
    gb = gorilla_encode_batch(vals, starts)
    for blob, lo, hi in zip(gb, (0, 2, 5), (2, 5, 6)):
        np.testing.assert_array_equal(
            gorilla_decode(blob).view(np.uint64), vals[lo:hi].view(np.uint64)
        )
        assert blob == gorilla_encode(vals[lo:hi])


@pytest.mark.parametrize("n", [2047, 2048, 5000, 100_000])
@pytest.mark.parametrize("codec", ["gorilla", "chimp", "dod"])
def test_single_group_batch_equals_loop(codec, n):
    """The scalar encoders are plain loops at every length, so they
    check the batch encoders on long series too (they used to hand 2048
    values and more to the batch encoder itself)."""
    from smos_spark.functions import codecs

    rng = np.random.default_rng(n)
    if codec == "dod":
        x = 1_700_000_000_000_000 + np.cumsum(rng.integers(0, 4, n) * 60_000_000)
    else:
        x = np.round(np.cumsum(rng.normal(0, 0.01, n)), 3)
        x[rng.random(n) < 0.1] = np.nan
    (blob,) = getattr(codecs, f"{codec}_encode_batch")(x, np.zeros(1, dtype=np.int64))
    assert blob == getattr(codecs, f"{codec}_encode")(x)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=7), min_size=1, max_size=12),
    st.integers(min_value=0, max_value=2**31),
)
def test_batch_property_random_groups(shape, seed):
    """Property: batch encode == per-slice single encode for random
    group-size vectors (0-7 each, so empty/1/2-point groups mix in)."""
    from smos_spark.functions.codecs import dod_encode_batch, gorilla_encode_batch

    rng = np.random.default_rng(seed)
    sizes = list(shape)
    starts = np.concatenate(([0], np.cumsum(sizes[:-1]))).astype("int64")
    total = sum(sizes)
    vals = rng.normal(size=total)
    vals[rng.random(total) < 0.3] = np.nan
    vals[rng.random(total) < 0.2] = 1.5  # force some repeats
    ts = np.sort(rng.integers(-(2**52), 2**52, total)).astype("int64")
    gb = gorilla_encode_batch(vals, starts)
    db = dod_encode_batch(ts, starts)
    off = 0
    for g, s in enumerate(sizes):
        assert gb[g] == gorilla_encode(vals[off : off + s])
        assert db[g] == dod_encode(ts[off : off + s])
        off += s


@pytest.mark.parametrize("name", list(FLOAT_CASES))
def test_chimp_roundtrip_bitexact(name):
    from smos_spark.functions.codecs import chimp_decode, chimp_encode

    x = FLOAT_CASES[name]
    got = chimp_decode(chimp_encode(x))
    assert got.dtype == np.float64 and len(got) == len(x)
    np.testing.assert_array_equal(got.view(np.uint64), x.view(np.uint64))


@given(st.lists(st.floats(allow_nan=True, allow_infinity=True, width=64), max_size=300))
@settings(deadline=None, max_examples=60)
def test_chimp_property(xs):
    from smos_spark.functions.codecs import chimp_decode, chimp_encode

    x = np.array(xs, dtype="float64")
    got = chimp_decode(chimp_encode(x))
    np.testing.assert_array_equal(got.view(np.uint64), x.view(np.uint64))


def test_chimp_batch_matches_single():
    from smos_spark.functions.codecs import chimp_encode, chimp_encode_batch

    parts = [
        FLOAT_CASES["ramp"],
        FLOAT_CASES["constant"],
        np.array([1.25]),
        FLOAT_CASES["nan_bearing"],
    ]
    cat = np.concatenate(parts)
    starts = np.cumsum([0] + [len(p) for p in parts[:-1]]).astype("int64")
    blobs = chimp_encode_batch(cat, starts)
    for p, b in zip(parts, blobs):
        assert b == chimp_encode(p)


def test_chimp_beats_gorilla_on_smooth_series():
    """The paper's claim on Chimp's target data shape (slowly-varying
    measurements): rounded 3-bit leads + verbatim-xor fast path beat
    Gorilla's windowed scheme. Pin the direction, not a magic ratio."""
    from smos_spark.functions.codecs import chimp_encode, gorilla_encode

    rng = np.random.default_rng(5)
    smooth = np.cumsum(rng.normal(0, 0.01, 20_000)) + 100.0
    assert len(chimp_encode(smooth)) < len(gorilla_encode(smooth))


def test_compress_series_chimp_roundtrip(spark, transcripts):
    from pyspark.sql import functions as F
    from smos_spark.operators.compress import compress_series, decompress_series

    ev = transcripts.select(
        "conv_id", "ts", F.length("text").cast("double").alias("value")
    )
    comp = compress_series(ev, ["value"], codec="chimp")
    dec = decompress_series(comp, ["value"])
    a = ev.orderBy("conv_id", "ts", "value").collect()
    b = dec.orderBy("conv_id", "ts", "value").collect()
    assert a == b
    import pytest as _pt

    with _pt.raises(ValueError, match="codec"):
        compress_series(ev, ["value"], codec="zstd")


def test_range_minmax_compressed_domain(spark, transcripts):
    """Compressed-domain range aggregate == the plain aggregate over
    raw rows, across range positions that exercise covered,
    straddling, and fully-pruned blocks."""
    from pyspark.sql import functions as F
    from smos_spark.operators.compress import compress_series, range_minmax

    ev = transcripts.select(
        "conv_id", "ts", F.length("text").cast("double").alias("value")
    )
    comp = compress_series(ev, ["value"], stats=True).cache()
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span = hi - lo
    cases = [
        (lo, hi),                      # everything covered
        (lo + span / 4, lo + 3 * span / 4),  # straddle both ends
        (hi, hi),                      # point range
    ]
    for t0, t1 in cases:
        got = {
            r["conv_id"]: (r["vmin"], r["vmax"], r["n_points"])
            for r in range_minmax(comp, "value", t0, t1).collect()
        }
        exp = {
            r["conv_id"]: (r["vmin"], r["vmax"], r["n_points"])
            for r in ev.where((F.col("ts") >= t0) & (F.col("ts") <= t1))
            .groupBy("conv_id")
            .agg(
                F.min(F.when(~F.isnan("value"), F.col("value"))).alias("vmin"),
                F.max(F.when(~F.isnan("value"), F.col("value"))).alias("vmax"),
                F.count(F.lit(1)).alias("n_points"),
            )
            .collect()
        }
        assert got == exp, (t0, t1)
