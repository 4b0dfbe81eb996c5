"""Conversation-flow analytics over transcript turns.

The reference's time-series readers expose per-location series in
stable time order (/root/reference/src/smos/interface.py:164-210);
these operators apply the same ordered-series discipline to the
*structure* of a conversation: who answered whom, how fast, and which
role/tool follows which.

Scale shape: every operator here is ONE window pass partitioned by
`conv_id` (the natural shard key — conversations are short, so no
per-key skew) followed by an aggregation whose shuffle carries
O(groups) fixed-size integer state, never the turns themselves.
Latency math is exact int64 epoch-µs arithmetic (the same discipline
as `sessionize` — doubles would tie-break differently across engines).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from smos_spark.functions.timegrid import epoch_us

__all__ = [
    "response_latency",
    "transition_matrix",
    "dedup_consecutive",
    "conv_features",
    "training_pairs",
]

#: fixed-point scale for exact cross-engine ratio outputs
MICRO = 1_000_000


def response_latency(
    df: DataFrame,
    from_role: str = "user",
    to_role: str = "assistant",
    conv_col: str = "conv_id",
    ts_col: str = "ts",
    order_cols: Sequence[str] = ("turn_idx",),
    role_col: str = "role",
) -> DataFrame:
    """Per-conversation response-latency stats for `from_role` →
    `to_role` adjacent turn pairs (e.g. how fast the assistant answers
    the user).

    Returns one row per conversation that has at least one such pair:
    (conv_col, n_responses, total_us, min_us, max_us, mean_us) — all
    exact int64; mean is integer floor division (total // n), so the
    value is identical on any engine and any partitioning.

    Plan shape: one window (partition conv, order ts+order_cols) to
    lag the previous role/ts, then a groupBy on the SAME key — Spark
    reuses the window's hash partitioning, so the whole operator is a
    single Exchange carrying the turns once; the aggregate output is
    O(conversations) rows of 5 ints.
    """
    w = Window.partitionBy(conv_col).orderBy(ts_col, *order_cols)
    us = epoch_us(ts_col)
    lagged = df.select(
        conv_col,
        F.col(role_col),
        us.alias("_us"),
        F.lag(role_col).over(w).alias("_prev_role"),
        F.lag(us).over(w).alias("_prev_us"),
    )
    pairs = lagged.where(
        (F.col("_prev_role") == from_role) & (F.col(role_col) == to_role)
    ).select(conv_col, (F.col("_us") - F.col("_prev_us")).alias("_lat_us"))
    agg = pairs.groupBy(conv_col).agg(
        F.count(F.lit(1)).alias("n_responses"),
        F.sum("_lat_us").alias("total_us"),
        F.min("_lat_us").alias("min_us"),
        F.max("_lat_us").alias("max_us"),
    )
    # integral `div` (not `/`): exact int64 on both engines — latencies
    # are nonnegative so truncation == floor, and no double ever appears
    return agg.withColumn("mean_us", F.expr("total_us div n_responses"))


def transition_matrix(
    df: DataFrame,
    col: str = "role",
    conv_col: str = "conv_id",
    ts_col: str = "ts",
    order_cols: Sequence[str] = ("turn_idx",),
    drop_null: bool = True,
) -> DataFrame:
    """First-order transition counts of `col` between adjacent turns
    within each conversation — the role/tool Markov matrix of the
    corpus (e.g. how often a tool call follows an assistant turn).

    Returns (src, dst, n, share_ppm) where share_ppm is the row-
    normalized transition probability in exact parts-per-million:
    floor(n · 1e6 / Σ_dst n). Output is O(|alphabet|²) rows — tiny —
    so the second aggregation's shuffle is negligible; the corpus
    crosses the wire exactly once (the conv window).

    `drop_null` skips transitions where either side is NULL (e.g. the
    `tool` column is NULL on non-tool turns): with it False, NULL is a
    real state labeled '∅'.
    """
    w = Window.partitionBy(conv_col).orderBy(ts_col, *order_cols)
    cur = F.col(col)
    prev = F.lag(col).over(w)
    lagged = df.select(
        prev.alias("_src"), cur.alias("_dst"),
        F.lag(F.lit(1)).over(w).alias("_has_prev"),
    ).where(F.col("_has_prev").isNotNull())
    if drop_null:
        lagged = lagged.where(F.col("_src").isNotNull() & F.col("_dst").isNotNull())
    else:
        lagged = lagged.select(
            F.coalesce(F.col("_src"), F.lit("∅")).alias("_src"),
            F.coalesce(F.col("_dst"), F.lit("∅")).alias("_dst"),
        )
    counts = lagged.groupBy(F.col("_src").alias("src"), F.col("_dst").alias("dst")).agg(
        F.count(F.lit(1)).alias("n")
    )
    row_tot = Window.partitionBy("src")
    # n·1e6 stays well inside int64 (n ≤ corpus turns ~1e12 → ≤1e18);
    # integral `div` keeps the ppm exact and engine-independent
    return (
        counts.withColumn("_tot", F.sum("n").over(row_tot))
        .withColumn("share_ppm", F.expr(f"(n * {MICRO}) div _tot"))
        .select("src", "dst", "n", "share_ppm")
    )


def dedup_consecutive(
    df: DataFrame,
    cols: Sequence[str] = ("role", "text"),
    conv_col: str = "conv_id",
    ts_col: str = "ts",
    order_cols: Sequence[str] = ("turn_idx",),
) -> DataFrame:
    """Drop turns identical (on `cols`) to the immediately preceding
    turn of the same conversation — retry-storm / double-send cleanup.
    Unlike corpus-level dedup (operators/dedup.py), this is ORDER-aware
    and local: only adjacent repeats go; a later identical turn in a
    different position stays.

    Equality is null-safe per column (`eqNullSafe`; two NULLs match),
    and the first turn of a conversation is always kept (guarded by a
    lag-presence flag so an all-NULL first row can't self-match an
    absent predecessor).

    Plan shape: ONE window pass over the conv partitioning (all lags
    share the same WindowSpec → a single Window node), then a codegen
    filter — the corpus crosses the wire once and nothing else
    shuffles. Scale caveat shared by every per-conv window: a
    conversation is one partition; conversations are short by
    construction (north rule), so no salting is needed here.
    """
    w = Window.partitionBy(conv_col).orderBy(ts_col, *order_cols)
    same = F.lit(True)
    for c in cols:
        same = same & F.col(c).eqNullSafe(F.lag(c).over(w))
    has_prev = F.lag(F.lit(1)).over(w).isNotNull()
    return (
        df.withColumn("_is_dup", has_prev & same)
        .where(~F.col("_is_dup"))
        .drop("_is_dup")
    )


def conv_features(
    df: DataFrame,
    conv_col: str = "conv_id",
    ts_col: str = "ts",
    role_col: str = "role",
    tool_col: str = "tool",
    text_col: str = "text",
) -> DataFrame:
    """Per-conversation curation features — the table a training
    pipeline filters/stratifies on before sampling whole conversations:
    (conv_id, n_turns, n_user, n_assistant, n_tool_calls, total_chars,
    max_chars, duration_us, n_roles, user_share_ppm), all exact int64.

    Plan shape: ONE groupBy with map-side partials — the shuffle
    carries O(conversations) rows of fixed-size integer state, never
    the turns. Composes with `response_latency` (join on conv_id, both
    sides already hash-partitioned by it) for latency-aware curation.

    Reference analog: per-point series summaries read from the cell
    store (/root/reference/src/smos/interface.py:128-162) — here the
    summary is computed corpus-wide in one pass instead of per lookup.
    """
    us = epoch_us(ts_col)
    one_if = lambda cond: F.sum(F.when(cond, 1).otherwise(0))  # noqa: E731
    agg = df.groupBy(conv_col).agg(
        F.count(F.lit(1)).alias("n_turns"),
        one_if(F.col(role_col) == "user").alias("n_user"),
        one_if(F.col(role_col) == "assistant").alias("n_assistant"),
        one_if(F.col(tool_col).isNotNull()).alias("n_tool_calls"),
        F.sum(F.coalesce(F.length(text_col), F.lit(0))).alias("total_chars"),
        F.max(F.coalesce(F.length(text_col), F.lit(0))).cast("long").alias("max_chars"),
        (F.max(us) - F.min(us)).alias("duration_us"),
        F.count_distinct(F.col(role_col)).alias("n_roles"),
    )
    return agg.withColumn(
        "user_share_ppm", F.expr(f"(n_user * {MICRO}) div n_turns")
    )


def training_pairs(
    df: DataFrame,
    context_turns: int = 4,
    response_role: str = "assistant",
    sep: str = "\n",
) -> DataFrame:
    """Extract (prompt context, response) training examples: one row
    per `response_role` turn, with the preceding `context_turns` turns
    rendered "role: text" in stable (ts, turn_idx) order — the
    SFT-example extraction step of a transcript training pipeline.

    Deterministic text assembly: every fragment is NULL-coalesced to
    '' BEFORE concatenation (engines disagree on NULL propagation
    through string aggs otherwise), the frame is ROWS BETWEEN
    -context_turns AND -1, and an empty frame yields n_context=0 with
    an empty prompt, never NULL.

    Scale shape: one window pass partitioned by conv_id (bounded
    partitions — a conversation is a bounded object in this data
    model), no join; output shuffle carries the rendered strings only
    for response turns.
    """
    if context_turns < 1:
        raise ValueError("context_turns must be >= 1")
    w = (
        Window.partitionBy("conv_id")
        .orderBy("ts", "turn_idx")
        .rowsBetween(-context_turns, -1)
    )
    frag = F.concat(
        F.coalesce(F.col("role"), F.lit("")),
        F.lit(": "),
        F.coalesce(F.col("text"), F.lit("")),
    )
    ctx = F.coalesce(
        F.collect_list(frag).over(w), F.array().cast("array<string>")
    )
    return (
        df.select(
            "conv_id",
            "turn_idx",
            "role",
            "text",
            "ts",
            ctx.alias("_ctx"),
        )
        .where(F.col("role") == response_role)
        .select(
            "conv_id",
            "turn_idx",
            F.size("_ctx").cast("long").alias("n_context"),
            F.array_join(F.col("_ctx"), sep).alias("prompt"),
            F.col("text").alias("response"),
        )
    )
