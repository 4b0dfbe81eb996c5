"""Per-key time-series read-back — the SMOSTs.read analog.

Reference post-op chain (/root/reference/src/smos/interface.py:128-162),
reproduced in order:
  1. point lookup by key → one cell file (here: one bucket directory,
     pruned by a foldable bucket_id predicate —
     store.read_tier(conv_id=…))
  2. drop rows where ALL value columns are NULL (`drop_missing=True`,
     interface.py:151-152)
  3. integer restoration: a float column with no NULLs and all whole
     values is cast back to int (interface.py:154-157; asserted by the
     reference at tests/test_ICreshuffle.py:75-76) — with
     drop_missing=False, NULL-bearing columns stay float (the
     "float decay" contract, tests/test_ICreshuffle.py:50)
  4. timestamp index is native (the reference reconstructs it from
     Days + UTC_Seconds, interface.py:103-126 — ours is a real
     timestamp column already)
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smos_spark.operators.gapfill import gap_fill
from smos_spark.sources.store import TranscriptStore


def downcast_whole_floats(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """P10: per column — if no NULL/NaN and every value is whole, cast
    to long. The decision is a cheap aggregate over the (point-read-
    sized) frame, mirroring the reference's whole-series check."""
    double_cols = [
        c for c in cols if dict(df.dtypes).get(c) in ("double", "float")
    ]
    if not double_cols:
        return df
    checks = df.agg(
        *[
            (
                (F.count(F.when(F.col(c).isNull() | F.isnan(c), 1)) == 0)
                & F.coalesce(F.every(F.col(c) == F.floor(c)), F.lit(False))
            ).alias(c)
            for c in double_cols
        ]
    ).collect()[0]
    out = df
    for c in double_cols:
        if checks[c]:
            out = out.withColumn(c, F.col(c).cast("long"))
    return out


def read_conv_series(
    spark: SparkSession,
    store: TranscriptStore,
    conv_id: str,
    tier: str = "1h",
    parameters: Sequence[str] | None = None,
    drop_missing: bool = True,
    downcast_ints: bool = True,
    dense: bool = False,
) -> DataFrame:
    """Read one conversation's tier series, reference post-op semantics.

    dense=True regularizes the series first (gap buckets as NULL rows)
    — combined with drop_missing=False this returns the reference's
    NaN-row shape ([v, null, null] for a gap, test_ICreshuffle.py:39-52).
    """
    df = store.read_tier(spark, tier, conv_id=conv_id)
    if dense:
        # one partition already satisfies gap_fill's window on conv_id,
        # so the dense read adds no exchange and no job
        df = gap_fill(df.coalesce(1), tier)
    value_cols = [c for c in df.columns if c not in ("conv_id", "bucket_start")]
    if parameters:
        keep = [c for c in value_cols if c in parameters]
        df = df.select("conv_id", "bucket_start", *keep)
        value_cols = keep
    if drop_missing:
        df = df.na.drop(how="all", subset=value_cols)
    # one conversation's rows: sorting them in one task costs no job and
    # no exchange, where orderBy adds a range-sampling job and a shuffle
    df = df.coalesce(1).sortWithinPartitions("bucket_start")
    if downcast_ints:
        df = downcast_whole_floats(df, value_cols)
    return df


def read_block_series(
    spark: SparkSession,
    blocks_path: str,
    conv_id: str,
    value_cols: Sequence[str],
    ts_col: str = "ts",
) -> DataFrame:
    """Point read from the compressed block store (the compact
    long-retention representation written by the rollup job's
    --blocks phase): the conv_id predicate pushes down to the parquet
    scan (key column min/max row-group stats — blocks are written
    conv-clustered), then ONLY that conversation's blocks are
    decoded, each by the codec its row names. Returns the long-form
    series ordered by time.

    Works on a flat blocks directory and on a `write_blocks` layout
    (whose partition columns are discovered from the paths). The scan
    declares the only columns the decoder needs, so no job infers a
    schema and no other column reaches the Python worker."""
    from smos_spark.operators.compress import decompress_series

    blobs = ["ts_blob", *(f"{c}_blob" for c in value_cols)]
    schema = ", ".join(
        ["conv_id string", *(f"{b} binary" for b in blobs), "codec string"]
    )
    blocks = (
        spark.read.schema(schema)
        .parquet(blocks_path)
        .where(F.col("conv_id") == conv_id)
        .select("conv_id", *blobs, "codec")
    )
    return (  # sorted in one task, as in read_conv_series
        decompress_series(blocks, list(value_cols), ts_col=ts_col)
        .coalesce(1)
        .sortWithinPartitions(ts_col)
    )
