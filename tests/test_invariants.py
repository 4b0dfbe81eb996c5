"""The north-rule per-row invariant: per-turn TEXT EQUALITY under
STABLE TURN ORDERING, preserved through the partitioned store
round-trip (the reference's per-point value-identity contract,
/root/reference/tests/test_ICreshuffle.py:49-52, translated to
transcripts)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from smos_spark.sources.store import TranscriptStore
from smos_spark.synth import synth_transcripts


def _ordered_pdf(df) -> pd.DataFrame:
    return (
        df.orderBy("conv_id", "ts", "turn_idx")
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .toPandas()
        .reset_index(drop=True)
    )


def test_store_roundtrip_text_equality(spark, tmp_path):
    t = synth_transcripts(spark, n_conv=30, seed=5, span_days=2)
    store = TranscriptStore(tmp_path / "store", n_buckets=4)
    store.append_transcripts(t)
    back = store.read_transcripts(spark)

    exp = _ordered_pdf(t)
    got = _ordered_pdf(back)
    # every turn present exactly once, text byte-identical, order stable
    pd.testing.assert_frame_equal(got, exp)


def test_stable_ordering_under_ts_ties(spark):
    """turn_idx 2 and 3 share a timestamp by construction (synth
    stressor #4); (ts, turn_idx) must order them deterministically."""
    t = synth_transcripts(spark, n_conv=10, seed=5, span_days=1)
    ties = (
        t.groupBy("conv_id", "ts")
        .agg(F.count(F.lit(1)).alias("n"), F.sort_array(F.collect_list("turn_idx")).alias("idx"))
        .where(F.col("n") > 1)
    )
    rows = ties.collect()
    assert rows, "synth must produce at least one ts tie"
    for r in rows:
        assert r.idx == sorted(r.idx)
        assert len(set(r.idx)) == len(r.idx)

    # repeated evaluation yields the identical global order (no
    # nondeterminism from partitioning)
    a = _ordered_pdf(t)
    b = _ordered_pdf(t)
    pd.testing.assert_frame_equal(a, b)


def test_masking_preserves_turn_identity(spark):
    """Value-nulling (P3) must not disturb row count, ordering, or the
    text of kept-role turns."""
    from smos_spark.operators.masking import mask_by_role

    t = synth_transcripts(spark, n_conv=20, seed=5, span_days=1)
    masked = mask_by_role(t)
    assert masked.count() == t.count()
    j = (
        t.alias("a")
        .join(masked.alias("b"), ["conv_id", "turn_idx"])
        .where(F.col("a.role").isin("user", "assistant", "tool"))
    )
    assert j.where(~F.col("a.text").eqNullSafe(F.col("b.text"))).count() == 0


# every operator's time grid: epoch µs, widths rounded to whole µs
_T0_US = 1_735_689_600_000_000  # 2025-01-01 00:00:00 UTC
_N, _STEP_US = 12, 700_000
_SUB_US = 4e-7  # rounds to 0 µs


def _events(spark):
    return spark.range(_N).select(
        F.lit("k").alias("k"),
        F.timestamp_micros(F.lit(_T0_US) + F.col("id") * _STEP_US).alias("ts"),
        F.col("id").alias("v"),
        (F.col("id") % 2 == 0).alias("is_err"),
        (F.col("id") * 10).alias("lat"),
    )


def _rate_stream(df):
    return df.sparkSession.readStream.format("rate").load().selectExpr(
        "timestamp AS ts", "value % 2 = 0 AS is_err"
    )


def _floors(width_sec):
    """Bucket starts of the `_events` rows, floored on the driver."""
    w = round(width_sec * 1_000_000)
    return sorted({(_T0_US + i * _STEP_US) // w * w for i in range(_N)})


def _width_cases():
    """case -> (call, expected): the parameter a ValueError names, or
    the bucket starts (epoch µs) the call returns."""
    from smos_spark.operators import anomaly as an
    from smos_spark.operators import events as ev
    from smos_spark.operators import slo
    from smos_spark.operators import stats as st

    def call(fn, *args, stream=False, **kw):
        return lambda df: fn(_rate_stream(df) if stream else df, *args, **kw)

    w, x, sub = "width_sec", "x_unit_s", _SUB_US
    return {
        "top_movers_sub_us": (call(st.top_movers, "v", "k", width_sec=sub), w),
        "user_growth_sub_us": (call(ev.user_growth, "k", width_sec=sub), w),
        "period_compare_sub_us": (call(ev.period_compare, "v", ["k"], width_sec=sub), w),
        "apdex_sub_us": (call(slo.apdex, "lat", 10, bucket_sec=sub), "bucket_sec"),
        "classical_decompose_sub_us": (
            call(an.classical_decompose, "v", ["k"], width_sec=sub), w
        ),
        "seasonal_adjust_sub_us": (call(an.seasonal_adjust, "v", ["k"], width_sec=sub), w),
        "trend_slope_sub_us": (call(an.trend_slope, "v", ["k"], x_unit_s=sub), x),
        "theil_sen_slope_sub_us": (call(an.theil_sen_slope, "v", ["k"], x_unit_s=sub), x),
        "mann_kendall_sub_us": (call(an.mann_kendall, "v", ["k"], x_unit_s=sub), x),
        **{
            f"{fn.__name__}_{label}": (call(fn, "is_err", short_sec=sec, stream=strm), "short_sec")
            for fn, strm in [(slo.slo_burn_rate, False), (slo.error_budget, False),
                             (slo.slo_stream, True)]
            for label, sec in [("zero", 0), ("negative", -2)]
        },
        "top_movers_2.9s": (call(st.top_movers, "v", "k", width_sec=2.9), _floors(2.9)[1:]),
        "top_movers_0.5s": (call(st.top_movers, "v", "k", width_sec=0.5), _floors(0.5)[1:]),
        "user_growth_0.5s": (call(ev.user_growth, "k", width_sec=0.5), _floors(0.5)),
        "apdex_0.5s": (call(slo.apdex, "lat", 10, bucket_sec=0.5), _floors(0.5)),
    }


@pytest.mark.parametrize("case", list(_width_cases()))
def test_bucket_width_on_the_time_grid(spark, case):
    """A bucket width buckets at that width, fractional or sub-second:
    every bucket start is floor(epoch µs / width µs) · width µs as the
    driver computes it (`top_movers` drops each key's first bucket, it
    has no predecessor). A width that rounds below 1 µs, or a zero or
    negative SLO bucket, is a ValueError naming the parameter when the
    operator is called, not a division by zero inside a running task
    or a silently negative bucket index."""
    call, expected = _width_cases()[case]
    if isinstance(expected, str):
        with pytest.raises(ValueError, match=expected):
            call(_events(spark))
        return
    got = call(_events(spark)).select(F.unix_micros("bucket_start").alias("us")).orderBy("us")
    assert [r.us for r in got.collect()] == expected
