"""Symbolic series downsampling: PAA segments and SAX-style words.

Piecewise Aggregate Approximation (Keogh et al. 2001, public) divides
each key's daily series into ``n_segments`` equal time slices and
keeps one mean per slice; SAX (Lin et al. 2003, public) then maps the
segment means onto a small alphabet so a day compresses to a short
string ("word") that motif/novelty search can index.  This is the
presentation-rate twin of the tier rollup for *shape* queries — at
10^12 turns you compare daily words, not raw series (the reference's
dense per-pixel read-back for plotting,
/root/reference/src/smos/interface.py:222-254, is the same role).

Exactness contract (house rules — see operators/downsample.py):

* segment means are never materialized as floats: each PAA segment
  carries the exact integer pair (sum_cents, n);
* textbook SAX z-normalizes against a Gaussian N(0,1) breakpoint
  table — irrational cut points that cannot be compared exactly
  across engines.  This module instead symbolizes against the day's
  own range in ``alphabet`` equal-width bins (equal-width SAX, the
  standard discretization alternative): symbol
      s = min(alphabet-1, floor((sum_cents - day_min·n) · alphabet
                                 / ((day_max - day_min) · n)))
  evaluated as a decimal(38,0) / HUGEINT integer division — both
  engines floor the same non-negative integers, so words are
  bit-equal with zero tolerance.  A constant day (max == min) is
  symbol 0 by definition.
* empty segments (no samples in a slice) are ABSENT from the PAA
  output and from the word — sparse series yield shorter words plus
  an explicit ``n_segments`` count, rather than an imputation the
  engine would have to invent.

Scale shape: one map-side-combined groupBy down to (key, day, seg) —
at most ``n_segments`` counter rows per key-day — then windows /
regroupings over that bounded table only; the raw stream is scanned
once and never re-shuffled (the slo.py / stats.py counter-table
discipline).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from smos_spark.functions.timegrid import day_segment

__all__ = ["paa", "sax_words", "sax_motifs"]

_DEC = "decimal(38,0)"


def paa(
    df: DataFrame,
    value_col: str,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    n_segments: int = 8,
    alphabet: int = 4,
) -> DataFrame:
    """PAA segments with equal-width SAX symbols per (key, day).

    Returns one row per non-empty (key, day, seg) with the exact
    segment state (n, sum_cents, min/max cents), the day's range, and
    the integer-exact ``sym`` in [0, alphabet).
    """
    if n_segments < 1:
        raise ValueError(f"n_segments must be >= 1, got {n_segments}")
    if not 2 <= alphabet <= 26:
        raise ValueError(f"alphabet must be in [2, 26], got {alphabet}")
    keys = list(key_cols)

    day = F.date_trunc("day", F.col(ts_col)).alias("day")
    _, seg = day_segment(ts_col, n_segments)
    cents = F.floor(F.col(value_col).cast("double") * F.lit(100)).cast("long")

    segs = (
        df.where(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
        .select(*keys, day, seg.alias("seg"), cents.alias("cents"))
        .groupBy(*keys, "day", "seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("sum_cents"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
    )

    w = Window.partitionBy(*keys, "day")
    segs = segs.withColumn("day_min", F.min("min_cents").over(w)).withColumn(
        "day_max", F.max("max_cents").over(w)
    )

    dec = lambda c: c.cast(_DEC)  # noqa: E731
    num = (dec(F.col("sum_cents")) - dec(F.col("day_min")) * dec(F.col("n"))) * dec(
        F.lit(int(alphabet))
    )
    den = (dec(F.col("day_max")) - dec(F.col("day_min"))) * dec(F.col("n"))
    sym = (
        F.when(F.col("day_max") == F.col("day_min"), F.lit(0))
        .otherwise(
            F.least(
                F.floor(num / den).cast("long"), F.lit(int(alphabet) - 1)
            )
        )
        .cast("long")
    )
    return segs.withColumn("sym", sym).select(
        *keys,
        "day",
        "seg",
        "n",
        "sum_cents",
        "min_cents",
        "max_cents",
        "day_min",
        "day_max",
        "sym",
    )


def sax_words(
    df: DataFrame,
    value_col: str,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    n_segments: int = 8,
    alphabet: int = 4,
) -> DataFrame:
    """One SAX word per (key, day): segment symbols as letters
    'a'.. in segment order, only non-empty segments contributing.
    Word assembly sorts the O(n_segments) collected structs per group
    — bounded state, deterministic (seg is unique within a group)."""
    keys = list(key_cols)
    p = paa(
        df,
        value_col,
        key_cols=keys,
        ts_col=ts_col,
        n_segments=n_segments,
        alphabet=alphabet,
    )
    word = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("seg", "sym"))),
            lambda x: F.char(x["sym"] + F.lit(97)),
        ),
        "",
    )
    return (
        p.groupBy(*keys, "day")
        .agg(
            word.alias("sax_word"),
            F.count(F.lit(1)).alias("n_segments"),
            F.sum("n").alias("n_samples"),
        )
        .select(*keys, "day", "sax_word", "n_segments", "n_samples")
    )


def sax_motifs(
    df: DataFrame,
    value_col: str,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    n_segments: int = 8,
    alphabet: int = 4,
    min_days: int = 2,
) -> DataFrame:
    """Recurring daily shapes per key: days whose SAX word repeats.

    The point of symbolizing at all — motif discovery becomes a plain
    groupBy over the O(keys·days) word table (one row per key-day,
    never raw samples), so "which daily patterns does this key keep
    producing, and when did each first/last appear" is answerable at
    10^12-turn scale from a table the size of the calendar.  Words
    must match exactly (same non-empty segments, same symbols) — the
    discretized analog of a zero-distance motif.
    """
    if min_days < 1:
        raise ValueError(f"min_days must be >= 1, got {min_days}")
    keys = list(key_cols)
    w = sax_words(
        df,
        value_col,
        key_cols=keys,
        ts_col=ts_col,
        n_segments=n_segments,
        alphabet=alphabet,
    )
    return (
        w.groupBy(*keys, "sax_word")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.min("day").alias("first_day"),
            F.max("day").alias("last_day"),
            F.sum("n_samples").alias("n_samples"),
        )
        .where(F.col("n_days") >= F.lit(int(min_days)))
        .select(
            *keys, "sax_word", "n_days", "first_day", "last_day", "n_samples"
        )
    )
