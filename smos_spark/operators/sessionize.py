"""Conversation sessionization — gap-based session assignment.

The transcript-domain cousin of the reference's dense-day
regularization: instead of materializing missing buckets, split each
conversation's turn stream wherever the inter-turn gap exceeds a
threshold (idle timeout). Two implementations, one semantics:

* `sessionize` (batch): pure window expressions — `lag(ts)` marks
  gap-breaks, a running `sum` over the break flags numbers sessions.
  One shuffle on conv_id; whole-stage codegen; exact SQL twin. The
  gap compares epoch µs (`timegrid.epoch_us`), the same arithmetic as
  the streaming twin's state function.
* `sessionize_stream` (streaming): `applyInPandasWithState` keeps
  (last_ts, open-session aggregate) per conv_id and emits a session
  row when the event-time timeout fires or a new turn breaks the gap
  — the custom stateful operator shape for live transcript feeds.
  All state/timeout arithmetic runs in TRUE epoch micros
  (computed JVM-side before the stateful operator), and
  emitted timestamps are tz-aware UTC — correct under any
  spark.sql.session.timeZone, unlike naive-datetime arithmetic which
  shifts by the session offset and can throw
  timeout-below-watermark errors west of UTC.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from smos_spark.functions.timegrid import epoch_us, to_us

__all__ = ["sessionize", "session_stats", "sessionize_stream"]


def sessionize(df: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Assign a 0-based `session_id` per conv: a new session starts
    where the gap from the previous turn exceeds `gap_seconds`.
    Stable under ts ties via the (ts, turn_idx) secondary order."""
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    prev_ts = F.lag("ts").over(w)
    gap_us = to_us(gap_seconds, "gap_seconds", zero_ok=True)
    is_break = (
        prev_ts.isNull() | (epoch_us("ts") - epoch_us(prev_ts) > F.lit(gap_us).cast("long"))
    ).cast("long")
    return df.withColumn(
        "session_id",
        (F.sum(is_break).over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1).cast(
            "int"
        ),
    )


def session_stats(df: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """One row per (conv_id, session_id): bounds, turn count, length
    stats — the per-session rollup."""
    s = sessionize(df, gap_seconds)
    return s.groupBy("conv_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_turns"),
        F.count("tool").alias("n_tool_calls"),
        # 0 (not NULL) for text-less sessions — keeps batch and
        # streaming-state implementations bit-identical
        F.coalesce(F.sum(F.length("text")), F.lit(0)).alias("len_sum"),
    )


def sessionize_stream(
    stream: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "1 hour",
):
    """Streaming sessionization via applyInPandasWithState.

    State per conv_id: (session_start_us, last_ts_us, n_turns,
    n_tool_calls, len_sum) in true epoch micros. A batch's turns
    extend or close sessions; an event-time timeout (watermark-driven)
    flushes the open session when the conversation goes idle. Emits
    the same schema as `session_stats` (session_id restarts per state
    lifetime).

    Late rows: a row older than the open session's last turn but not
    older than its start joins the open session without moving
    `session_end` (or the timeout) back; a row older than the open
    session's start is dropped: folding it in could extend or merge
    with a session already emitted.

    In-batch gap splitting is vectorized: one diff + flatnonzero for
    the break positions, prefix sums for the segment aggregates — the
    Python loop runs per SESSION, not per row.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "conv_id string, session_id int, session_start timestamp, "
        "session_end timestamp, n_turns long, n_tool_calls long, len_sum long"
    )
    state_schema = "session_id int, start_us long, last_us long, n long, ntool long, lsum long"
    gap_us = to_us(gap_seconds, "gap_seconds", zero_ok=True)

    def _fn(key, pdfs, state: GroupState):
        (conv_id,) = key
        rows = []

        def emit(sid, start_us, last_us, n, ntool, lsum):
            rows.append(
                {
                    "conv_id": conv_id,
                    "session_id": sid,
                    # tz-aware UTC: Arrow carries the true instant
                    # regardless of the session timezone
                    "session_start": pd.Timestamp(start_us, unit="us", tz="UTC"),
                    "session_end": pd.Timestamp(last_us, unit="us", tz="UTC"),
                    "n_turns": n,
                    "n_tool_calls": ntool,
                    "len_sum": lsum,
                }
            )

        if state.hasTimedOut:
            if state.exists:
                emit(*state.get)
                state.remove()
            return iter([pd.DataFrame(rows)] if rows else [])

        sid, start_us, last_us, n, ntool, lsum = (
            state.get if state.exists else (0, None, None, 0, 0, 0)
        )
        # the engine delivers one conv's micro-batch rows as Arrow
        # chunks in ARBITRARY row order (only the grouping key is
        # sorted); a later chunk can carry earlier timestamps, so
        # per-chunk sorting would split sessions at chunk boundaries —
        # concatenate and sort ONCE (bounded by the conv's rows in
        # this micro-batch).
        chunks = [c for c in pdfs if len(c)]
        merged = (
            pd.concat(chunks, ignore_index=True) if len(chunks) > 1
            else chunks[0] if chunks else None
        )
        for pdf in ([merged] if merged is not None else []):
            pdf = pdf.sort_values(["_ts_us", "turn_idx"], kind="mergesort")
            ts_us = pdf["_ts_us"].to_numpy(dtype="int64")
            if start_us is not None:
                # late rows (docstring): drop those before the open
                # session's start; clamp those inside it to last_us so
                # session_end and the timeout never move back
                keep = ts_us >= start_us
                pdf, ts_us = pdf[keep], np.maximum(ts_us[keep], last_us)
                if not len(ts_us):
                    break
            cum_tool = np.concatenate(
                ([0], np.cumsum(pdf["tool"].notna().to_numpy(dtype="int64")))
            )
            cum_len = np.concatenate(
                (
                    [0],
                    np.cumsum(
                        pdf["text"]
                        .map(lambda x: 0 if x is None else len(x))
                        .to_numpy(dtype="int64")
                    ),
                )
            )
            prev = np.concatenate(
                ([last_us if last_us is not None else ts_us[0]], ts_us[:-1])
            )
            breaks = np.flatnonzero(ts_us - prev > gap_us)
            seg_starts = np.concatenate(([0], breaks)) if (len(breaks) == 0 or breaks[0] != 0) else breaks
            seg_ends = np.concatenate((seg_starts[1:], [len(ts_us)]))
            boundary = set(breaks.tolist())
            for s, e in zip(seg_starts.tolist(), seg_ends.tolist()):
                if start_us is None:
                    start_us = int(ts_us[s])
                elif s in boundary:
                    emit(sid, start_us, last_us, n, ntool, lsum)
                    sid += 1
                    start_us, n, ntool, lsum = int(ts_us[s]), 0, 0, 0
                last_us = int(ts_us[e - 1])
                n += e - s
                ntool += int(cum_tool[e] - cum_tool[s])
                lsum += int(cum_len[e] - cum_len[s])
        if last_us is not None:
            state.update((sid, start_us, last_us, n, ntool, lsum))
            # true-epoch timeout; Spark requires it beyond the current
            # watermark (an idle conv's timeout then fires immediately)
            timeout_ms = (last_us + gap_us) // 1000
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(timeout_ms, wm + 1))
        return iter([pd.DataFrame(rows)] if rows else [])

    return (
        stream.withWatermark("ts", watermark)
        .withColumn("_ts_us", epoch_us("ts"))
        .groupBy("conv_id")
        .applyInPandasWithState(
            _fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
