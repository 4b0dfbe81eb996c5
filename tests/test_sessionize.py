"""Sessionization: batch window implementation vs a hand-rolled pandas
oracle, and the streaming stateful twin vs the batch result."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from smos_spark.operators.sessionize import (
    session_stats,
    sessionize,
    sessionize_stream,
)
from smos_spark.synth import synth_transcripts

GAP = 1800


@pytest.fixture(scope="module")
def turns(spark):
    return synth_transcripts(spark, n_conv=30, seed=9, span_days=2).cache()


def _oracle_sessions(pdf: pd.DataFrame, gap: int = GAP) -> pd.DataFrame:
    out = []
    for conv, g in pdf.sort_values(["conv_id", "ts", "turn_idx"]).groupby("conv_id"):
        sid = -1
        last = None
        for _, r in g.iterrows():
            if last is None or (r.ts - last).total_seconds() > gap:
                sid += 1
            out.append((conv, int(r.turn_idx), sid))
            last = r.ts
    return pd.DataFrame(out, columns=["conv_id", "turn_idx", "session_id"])


def test_sessionize_matches_oracle(spark, turns):
    got = (
        sessionize(turns, GAP)
        .select("conv_id", "turn_idx", "session_id")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    exp = (
        _oracle_sessions(turns.toPandas())
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    cast = {"session_id": "int64", "turn_idx": "int64"}
    pd.testing.assert_frame_equal(got.astype(cast), exp.astype(cast))


def test_session_stats_consistency(spark, turns):
    stats = session_stats(turns, GAP).cache()
    # sessions tile the conversation: per-conv turn counts add up
    per_conv = stats.groupBy("conv_id").agg(F.sum("n_turns").alias("n"))
    raw = turns.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n"))
    diff = per_conv.join(raw, "conv_id").where(F.col("per_conv.n") != F.col("raw.n")) \
        if False else per_conv.alias("a").join(raw.alias("b"), "conv_id").where(
            F.col("a.n") != F.col("b.n"))
    assert diff.count() == 0
    # sessions are disjoint in time and ordered
    s = stats.orderBy("conv_id", "session_id").toPandas()
    for conv, g in s.groupby("conv_id"):
        ends = g.session_end.tolist()
        starts = g.session_start.tolist()
        for i in range(1, len(g)):
            assert (starts[i] - ends[i - 1]).total_seconds() > GAP


def test_sessionize_stream_matches_batch(spark, turns, run_stream):
    got = run_stream(
        "sessions_stream",
        lambda s: sessionize_stream(s, GAP, watermark="0 seconds"),
        [turns],
    ).toPandas()

    exp = session_stats(turns, GAP).toPandas()
    # the stream emits only CLOSED sessions (watermark can't pass the
    # final session of each conv in a bounded input) — every emitted
    # session must exactly match its batch twin.
    if len(got):
        key = ["conv_id", "session_id"]
        merged = got.merge(exp, on=key, suffixes=("_s", "_b"))
        assert len(merged) == len(got)
        for c in ("session_start", "session_end", "n_turns", "n_tool_calls", "len_sum"):
            pd.testing.assert_series_equal(
                merged[f"{c}_s"], merged[f"{c}_b"], check_names=False
            )
    # gap-closed sessions must ALL be emitted; final sessions are also
    # flushed by the event-time timeout unless the conversation's last
    # turn is within gap of the global watermark (max ts)
    n_convs = exp.conv_id.nunique()
    assert len(exp) - n_convs <= len(got) <= len(exp)


def test_sessionize_stream_non_utc_timezone(spark, turns, run_stream):
    """State/timeout arithmetic is true-epoch: a session timezone west
    of UTC must neither shift session bounds nor throw
    timeout-below-watermark errors."""
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        got = run_stream(
            "sessions_stream_tz",
            lambda s: sessionize_stream(s, GAP, watermark="0 seconds"),
            [turns],
        ).toPandas()
        exp = session_stats(turns, GAP).toPandas()
        assert len(got) > 0
        key = ["conv_id", "session_id"]
        merged = got.merge(exp, on=key, suffixes=("_s", "_b"))
        assert len(merged) == len(got)
        for c in ("session_start", "session_end", "n_turns", "len_sum"):
            pd.testing.assert_series_equal(
                merged[f"{c}_s"], merged[f"{c}_b"], check_names=False
            )
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_sessionize_stream_late_row_keeps_session_end(spark, run_stream):
    """A late turn inside the open session joins it without moving
    session_end back: turns at +0 s and +100 s, then +50 s, then +10 h
    (which closes the first session) give batch's 00:01:40 end."""
    t0 = pd.Timestamp("2025-01-01")
    schema = "conv_id string, ts timestamp, turn_idx int, tool string, text string"

    def turn(sec, idx):
        return ("c", (t0 + pd.Timedelta(seconds=sec)).to_pydatetime(), idx, None, "x")

    batches = [[turn(0, 0), turn(100, 1)], [turn(50, 2)], [turn(36_000, 3)]]
    frames = [spark.createDataFrame(b, schema) for b in batches]
    got = run_stream(
        "sessions_late",
        lambda s: sessionize_stream(s, GAP, watermark="1 hour"),
        frames,
    ).toPandas()
    exp = session_stats(frames[0].union(frames[1]).union(frames[2]), GAP).toPandas()
    first = exp[exp.session_id == 0].reset_index(drop=True)
    assert len(got) == 1
    for c in ("session_start", "session_end", "n_turns", "n_tool_calls", "len_sum"):
        assert got[c].iloc[0] == first[c].iloc[0], c
