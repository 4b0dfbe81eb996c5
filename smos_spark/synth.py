"""Deterministic, fully-distributed synthetic transcripts generator.

Analog of the reference test fixtures (3-day image stack with one
missing day, /root/reference/tests/test_ICreshuffle.py:34-53) translated
to the transcript domain of FIXTURES.md §1. Design goals:

* **Deterministic**: every stochastic field is a pure function of
  ``xxhash64(seed, conv, turn, tag)`` — no RNG state, no wall clock.
  The same (n_conv, seed) always yields byte-identical data, on any
  cluster size, in any partition order.
* **Distributed**: generation is `spark.range` + `sequence`/`explode`
  + hash expressions — no driver-side materialization, so the same
  code synthesizes 10^12 turns on a real cluster.

Structural features required by FIXTURES.md §1 (each pinned by tests):
  1. missing interval  — ~10% of convs get a forced >2h gap mid-conv
  2. hot-key skew      — 1% of convs carry ~50% of turns
  3. quality-mask role — ~5% system turns (the flag=2 analog)
  4. stable-order tie  — turn_idx 3 shares its ts with turn_idx 2
  5. empty-text rows   — text='' and text=NULL both present
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from smos_spark.functions.timegrid import ts_lit

_WORDS = (
    "the quick brown fox jumps over lazy dog spark rollup tier "
    "gap fill series window shuffle partition bucket stream"
).split()

_TOOLS = ["search", "code", "browser"]


def _u(seed: int, tag: str, *cols: Column) -> Column:
    """Deterministic uniform in [0, 1) from a hash of (seed, tag, cols)."""
    h = F.xxhash64(F.lit(seed), F.lit(tag), *cols)
    return F.pmod(h, F.lit(1_000_000)).cast("double") / 1_000_000.0


def synth_transcripts(
    spark: SparkSession,
    n_conv: int = 200,
    seed: int = 42,
    start: str = "2025-01-01 00:00:00",
    span_days: int = 3,
    hot_frac: float = 0.01,
    hot_mult: int = 100,
    base_turns: int = 10,
) -> DataFrame:
    """Return a transcripts DataFrame matching TRANSCRIPTS_SCHEMA."""
    convs = spark.range(n_conv).select(
        F.col("id").alias("conv_idx"),
        F.format_string("conv%06d", F.col("id")).alias("conv_id"),
    )

    n_hot = max(int(n_conv * hot_frac), 1)
    base = F.lit(base_turns) + F.pmod(
        F.xxhash64(F.lit(seed), F.lit("nturns"), F.col("conv_id")), F.lit(base_turns + 11)
    )
    n_turns = F.when(F.col("conv_idx") < n_hot, base * hot_mult).otherwise(base)

    turns = convs.withColumn("n_turns", n_turns).select(
        "conv_idx",
        "conv_id",
        "n_turns",
        F.explode(F.sequence(F.lit(0), (F.col("n_turns") - 1).cast("int"))).alias("turn_idx"),
    )

    u_gap = _u(seed, "gap", F.col("conv_id"), F.col("turn_idx"))
    # heavy-tailed inter-turn gap: 1 s .. 6 h (log-uniform). Hot convs
    # are DENSE (1-61 s gaps): high turn volume in a bounded window —
    # that's what makes them a shuffle hot spot rather than just long.
    gap = F.when(
        F.col("conv_idx") < n_hot, (1 + F.floor(60 * u_gap)).cast("long")
    ).otherwise(F.floor(F.pow(F.lit(21600.0), u_gap)).cast("long"))
    # stable-order stressor: turn 3 lands on the same ts as turn 2
    gap = F.when(F.col("turn_idx") == 3, F.lit(0)).otherwise(gap)
    # missing-interval: ~10% of convs get a forced 2h+ hole mid-conv
    # (the 2018-01-02-missing-image analog)
    gap = F.when(
        (F.pmod(F.col("conv_idx"), F.lit(10)) == 0)
        & (F.col("turn_idx") == (F.col("n_turns") / 2).cast("int")),
        gap + 7200 + 120,
    ).otherwise(gap)

    conv_offset = F.pmod(
        F.xxhash64(F.lit(seed), F.lit("convstart"), F.col("conv_id")),
        F.lit(max(span_days * 86400 - 86400, 1)),
    )

    # cumulative gaps → strictly-ordered ts per conv (except designed ties);
    # the per-conv window shuffles on conv_id, same layout the rollup needs.
    from pyspark.sql.window import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    epoch0 = F.unix_timestamp(ts_lit(start))
    ts = F.timestamp_seconds(epoch0 + conv_offset + F.sum(gap).over(w))

    u_role = _u(seed, "role", F.col("conv_id"), F.col("turn_idx"))
    role = (
        F.when(u_role < 0.40, "user")
        .when(u_role < 0.85, "assistant")
        .when(u_role < 0.95, "tool")
        .otherwise("system")
    )

    u_tool = _u(seed, "tool", F.col("conv_id"), F.col("turn_idx"))
    tool_pick = F.element_at(
        F.array(*[F.lit(t) for t in _TOOLS]),
        (F.pmod(F.xxhash64(F.lit(seed), F.lit("toolname"), F.col("conv_id"), F.col("turn_idx")), F.lit(3)) + 1).cast("int"),
    )
    tool = (
        F.when(role == "tool", tool_pick)
        .when((role == "assistant") & (u_tool < 0.05), tool_pick)
        .otherwise(F.lit(None).cast("string"))
    )

    u_txt = _u(seed, "txt", F.col("conv_id"), F.col("turn_idx"))
    text_len = F.pmod(
        F.xxhash64(F.lit(seed), F.lit("txtlen"), F.col("conv_id"), F.col("turn_idx")),
        F.lit(2000),
    ).cast("int")
    word = F.element_at(
        F.array(*[F.lit(wd) for wd in _WORDS]),
        (F.pmod(F.xxhash64(F.lit(seed), F.lit("word"), F.col("conv_id"), F.col("turn_idx")), F.lit(len(_WORDS))) + 1).cast("int"),
    )
    body = F.substring(F.repeat(F.concat(word, F.lit(" ")), 334), 1, 2000)
    text = (
        F.when(u_txt < 0.02, F.lit(""))  # empty, length 0
        .when(u_txt < 0.04, F.lit(None).cast("string"))  # null
        .otherwise(F.substring(body, 1, text_len + 1))
    )

    return turns.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )
