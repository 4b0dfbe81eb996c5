"""Compressed per-conversation series blocks.

The reference persists each grid point's series inside a zlib-chunked
cell file (/root/reference/src/smos/interface.py:341,376 — zlib
complevel 6, chunksize 1000). Our engine's analog stores one compressed
block row per conversation: delta-of-delta timestamps + Gorilla XOR
or Chimp values (smos_spark.functions.codecs).

Block row schema: (key, n, first_ts, last_ts, ts_blob, <col>_blob…,
codec[, <col>_min, <col>_max…][, slice]). `codec` names the value
codec of the row's blobs. `compress_series(codec=)` is the only place
the choice is made: `decompress_series`, `range_minmax`,
`readback.read_block_series` and `TranscriptStore.blocks_range_minmax`
decode each row by its own `codec`, so blocks of both codecs can share
a table and no reader can pick the wrong decoder (a Gorilla blob read
as Chimp, or the reverse, raises or returns wrong values silently).

Scale design (learned the hard way at ~10⁶ conversations):

* NOT `groupBy().applyInPandas` — Spark's grouped-map machinery costs
  milliseconds per group (one pandas frame per group), which at a
  million tiny series is hours. Instead: explicit
  `repartition(N, key)` + `sortWithinPartitions(key, ts)` + a
  streaming `mapInPandas` kernel that finds group boundaries with
  numpy and encodes each slice directly — per-group cost is a few
  tens of microseconds.
* The repartition carries an EXPLICIT partition count so AQE cannot
  coalesce its exchange down to a handful of partitions (the encode
  cost lives in Python workers, which AQE's size-based coalescing
  cannot see). This holds only when the repartition stays in the
  plan. An input already hash-partitioned on the key into the same
  count (`forward_fill(gap_fill(...))` under the default shuffle
  partitions, as in the blocks phase) satisfies it, so
  `EnsureRequirements` drops it as redundant and AQE coalesces the
  one remaining exchange: the whole encode then runs in a single
  task and writes a single file.
* Groups may straddle Arrow batch boundaries; the kernel carries the
  tail rows of each batch forward (batches arrive in partition order,
  so every group is contiguous).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from smos_spark.functions.codecs import (
    chimp_decode,
    chimp_encode_batch,
    dod_decode,
    dod_encode_batch,
    gorilla_decode,
    gorilla_encode_batch,
)

#: value codecs by the name a block row stores in its `codec` column:
#: Gorilla XOR (Facebook, VLDB 2015) and Chimp (VLDB 2022 — rounded
#: 3-bit leading codes, verbatim-xor fast path; ~10% smaller blocks on
#: smooth series, same bit-exact contract)
_CODECS = {
    "gorilla": (gorilla_encode_batch, gorilla_decode),
    "chimp": (chimp_encode_batch, chimp_decode),
}

__all__ = ["compress_series", "decompress_series", "range_minmax"]


def compress_series(
    df: DataFrame,
    value_cols: Sequence[str],
    key: str = "conv_id",
    ts_col: str = "ts",
    order_cols: Sequence[str] | None = None,
    num_partitions: int | None = None,
    codec: str = "gorilla",
    stats: bool = False,
    slice_col=None,
) -> DataFrame:
    """→ one row per key: (key, n, first_ts, last_ts, ts_blob,
    <col>_blob…, codec). Ordering inside the block is (ts, *order_cols)
    — the stable-turn-order invariant. `codec` picks the float value
    codec (timestamps are always delta-of-delta) and is written into
    every row, where the decoders read it. `stats=True` adds
    per-block `<col>_min`/`<col>_max` columns (NaN-skipping, NULL when
    all-NaN) — the compressed-domain pruning metadata `range_minmax`
    answers covered blocks from without decoding (the same idea as
    parquet column stats / the reference's per-variable attributes,
    /root/reference/src/smos/smos_ic/interface_ic.py:104-119).

    `slice_col` (a Column expression, e.g. `F.to_date("ts")`) slices
    each key's series into one block per (key, slice) instead of one
    per key — the retention-store granularity: day-sliced blocks give
    range queries at-most-two straddling decodes per key and let the
    store partition blocks by day (TranscriptStore.write_blocks). The
    slice value is emitted as a `slice` column."""
    if codec not in _CODECS:
        raise ValueError(f"unknown codec {codec!r}; choose from {sorted(_CODECS)}")
    enc_batch = _CODECS[codec][0]
    value_cols = list(value_cols)
    order = [ts_col] + list(order_cols or [])
    schema = (
        f"{key} string, n long, first_ts timestamp, last_ts timestamp, ts_blob binary, "
        + ", ".join(f"{c}_blob binary" for c in value_cols)
        + ", codec string"
    )
    if stats:
        schema += ", " + ", ".join(
            f"{c}_min double, {c}_max double" for c in value_cols
        )
    has_slice = slice_col is not None
    if has_slice:
        df = df.withColumn("_slice", slice_col)
        del slice_col  # a JVM-backed Column must not reach the closures
        slice_ddl = df.schema["_slice"].dataType.simpleString()
        schema += f", slice {slice_ddl}"
    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism * 2
    group_cols = [key] + (["_slice"] if has_slice else [])
    arranged = df.repartition(n_parts, *group_cols).sortWithinPartitions(
        *group_cols, *order
    )

    def _empty_rows() -> dict:
        cols = [key, "n", "first_ts", "last_ts", "ts_blob"] + [
            f"{c}_blob" for c in value_cols
        ] + ["codec"]
        if stats:
            cols += [f"{c}_{m}" for c in value_cols for m in ("min", "max")]
        if has_slice:
            cols.append("slice")
        return {c: [] for c in cols}

    def _encode_block(rows: dict, pdf: pd.DataFrame, starts: np.ndarray) -> None:
        """Batch-encode every complete group of `pdf` in ONE pass per
        column (codecs.*_encode_batch): the vectorized token pipeline's
        flat numpy cost amortizes over all groups, so a million tiny
        series cost µs each, not the ~200 µs of a per-group call."""
        cut = len(pdf)
        ends = np.append(starts[1:], cut)
        keys = pdf[key].to_numpy()
        ts_raw = pdf[ts_col].to_numpy()
        ts_us = ts_raw.astype("datetime64[us]").astype("int64")
        rows[key].extend(keys[starts].tolist())
        if has_slice:
            rows["slice"].extend(pdf["_slice"].to_numpy()[starts])
        rows["n"].extend((ends - starts).tolist())
        rows["first_ts"].extend(ts_raw[starts])
        rows["last_ts"].extend(ts_raw[ends - 1])
        rows["ts_blob"].extend(dod_encode_batch(ts_us, starts))
        rows["codec"].extend([codec] * len(starts))
        for c in value_cols:
            arr = pdf[c].to_numpy(dtype="float64")
            rows[f"{c}_blob"].extend(enc_batch(arr, starts))
            if stats:
                # fmin/fmax skip NaN natively — no pre-masking copy
                mins = np.fmin.reduceat(arr, starts)
                maxs = np.fmax.reduceat(arr, starts)
                rows[f"{c}_min"].extend(
                    [None if np.isnan(v) else float(v) for v in mins]
                )
                rows[f"{c}_max"].extend(
                    [None if np.isnan(v) else float(v) for v in maxs]
                )

    def _enc_stream(batches):
        carry: pd.DataFrame | None = None
        rows = _empty_rows()
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            keys = pdf[key].to_numpy()
            if has_slice:
                slc = pdf["_slice"].to_numpy()
                change = (
                    np.flatnonzero((keys[1:] != keys[:-1]) | (slc[1:] != slc[:-1]))
                    + 1
                )
            else:
                change = np.flatnonzero(keys[1:] != keys[:-1]) + 1
            starts = np.concatenate(([0], change))
            # the last group may continue into the next batch → carry
            carry = pdf.iloc[starts[-1] :]
            if len(starts) == 1:
                continue
            _encode_block(rows, pdf.iloc[: starts[-1]], starts[:-1])
            if len(rows[key]) >= 4096:
                yield pd.DataFrame(rows)
                rows = _empty_rows()
        if carry is not None and len(carry):
            _encode_block(rows, carry, np.zeros(1, dtype=np.int64))
        if len(rows[key]):
            yield pd.DataFrame(rows)

    return arranged.mapInPandas(_enc_stream, schema=schema)


def decompress_series(
    comp: DataFrame,
    value_cols: Sequence[str],
    key: str = "conv_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Inverse of compress_series → long form (key, ts, *value_cols).
    mapInPandas: no shuffle at all — each block row expands in place,
    its value blobs decoded by the codec its `codec` column names."""
    if "codec" not in comp.columns:
        raise ValueError(
            "block rows lack the codec column: write them with compress_series"
        )
    value_cols = list(value_cols)
    schema = f"{key} string, {ts_col} timestamp, " + ", ".join(
        f"{c} double" for c in value_cols
    )

    def _dec(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            names = pdf["codec"].tolist()
            unknown = set(names) - _CODECS.keys()
            if unknown:
                raise ValueError(
                    f"block rows name unknown codecs {sorted(map(str, unknown))}; "
                    f"known: {sorted(_CODECS)}"
                )
            decs = [_CODECS[k][1] for k in names]
            # decode every block of the batch, then assemble ONE frame
            # (np.repeat keys + concatenated arrays) — a DataFrame per
            # block costs ~100 µs of pandas overhead each, which
            # dominates at millions of tiny per-conv blocks
            ts_arrays = [dod_decode(bytes(b)) for b in pdf["ts_blob"]]
            lens = np.array([len(a) for a in ts_arrays], dtype=np.int64)
            data = {
                key: np.repeat(pdf[key].to_numpy(), lens),
                ts_col: (
                    np.concatenate(ts_arrays)
                    if len(ts_arrays)
                    else np.empty(0, dtype="int64")
                ).astype("datetime64[us]"),
            }
            for c in value_cols:
                arrs = [dec(bytes(b)) for dec, b in zip(decs, pdf[f"{c}_blob"])]
                data[c] = (
                    np.concatenate(arrs) if arrs else np.empty(0, dtype="float64")
                )
            yield pd.DataFrame(data)

    return comp.mapInPandas(_dec, schema=schema)


def range_minmax(
    comp: DataFrame,
    value_col: str,
    ts_from,
    ts_to,
    key: str = "conv_id",
) -> DataFrame:
    """Per-key (min, max, count) of `value_col` over [ts_from, ts_to]
    answered IN THE COMPRESSED DOMAIN wherever possible: a block whose
    [first_ts, last_ts] lies fully inside the range contributes its
    stored `<col>_min`/`<col>_max`/`n` WITHOUT decompression (requires
    `compress_series(stats=True)` blocks); only range-STRADDLING
    blocks are decoded. Block granularity matters: `compress_series`
    over one input emits ONE block per key, so the fast path fires
    only for keys whose whole span fits the range — the
    month-scan-to-two-decodes benefit needs per-slice blocks (run
    compress_series per day/tier partition, as the store layout
    does), giving at most two straddling blocks per key
    and filtered row-wise. At retention scale this turns a month-long
    scan into header arithmetic plus two block decodes per series (the
    compressed-analytics pattern of VLDB'20 "Approximate Analytics
    over Compressed Time Series", here with exact results since
    min/max/count are decomposable). Blocks entirely outside the
    range are pruned by the first_ts/last_ts predicate — which also
    reaches the parquet scan as min/max stats when blocks are stored.

    The covered/straddling split scans `comp` twice — persist it when
    it is not already a materialized block store (the driver query
    does). Returns (key, vmin, vmax, n_points); keys with no in-range
    points are absent. n_points counts ROWS (the engine's rows-kept/
    values-masked contract — matching each block's stored `n`); NaN
    values are ignored by min/max (NULL-equivalent, like the block
    stats; a bare Spark max() would return NaN since NaN sorts
    greatest)."""
    from pyspark.sql import functions as F

    from smos_spark.functions.timegrid import ts_lit

    t0, t1 = ts_lit(ts_from), ts_lit(ts_to)
    overlapping = comp.where(
        (F.col("last_ts") >= t0) & (F.col("first_ts") <= t1)
    )
    covered = overlapping.where(
        (F.col("first_ts") >= t0) & (F.col("last_ts") <= t1)
    )
    straddling = overlapping.where(
        (F.col("first_ts") < t0) | (F.col("last_ts") > t1)
    )
    from_stats = covered.select(
        F.col(key),
        F.col(f"{value_col}_min").alias("_min"),
        F.col(f"{value_col}_max").alias("_max"),
        F.col("n").alias("_n"),
    )
    decoded = decompress_series(straddling, [value_col], key=key)
    v = F.when(~F.isnan(F.col(value_col)), F.col(value_col))
    from_decode = (
        decoded.where((F.col("ts") >= t0) & (F.col("ts") <= t1))
        .groupBy(key)
        .agg(
            F.min(v).alias("_min"),
            F.max(v).alias("_max"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    return (
        from_stats.unionByName(from_decode)
        .groupBy(key)
        .agg(
            F.min("_min").alias("vmin"),
            F.max("_max").alias("vmax"),
            F.sum("_n").alias("n_points"),
        )
    )
