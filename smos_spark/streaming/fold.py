"""Keyed-fold streaming runner shared by the per-key streaming twins.

A streaming twin of a batch operator that folds each key's series in
(ts, *ties) order keeps only the fold's O(1) carry per key across
micro-batches; `keyed_fold_stream` owns everything except the fold
step itself: the Arrow-chunk concat and sort, the lateness rule, the
`GroupState` round trip and the `applyInPandasWithState` wiring.

Ordering and lateness contract (the streaming form of the monotonic
append guard in incremental.py):

* The engine hands one key's micro-batch rows as an iterator of Arrow
  chunks in ARBITRARY row order (only the grouping key is sorted) — a
  later chunk can carry earlier timestamps. The chunks are therefore
  concatenated and sorted ONCE by (ts, *ties) with a stable mergesort
  before the step sees them; the concat is bounded by the key's rows
  in THIS micro-batch, while the carried state stays O(1).
* A row whose ts is EARLIER than the key's last processed ts cannot
  re-enter the fold (its successors are already folded and emitted)
  and is DROPPED. Rows AT the last ts are kept: they sort after the
  rows already folded, as in batch when their ties are later. The rule
  only bites across micro-batches: disorder inside one micro-batch is
  absorbed by the sort.
* State is kept for the key's lifetime (`NoTimeout`): evicting an idle
  key would silently restart its fold on the next row and break the
  stream == batch contract.

Under this contract a twin's output over any micro-batch split that
respects (ts, *ties) order equals its batch operator over the same
rows (emit-on-close twins: minus what is still open).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import pandas as pd
from pyspark.sql import DataFrame

from smos_spark.functions.timegrid import epoch_us

__all__ = ["keyed_fold_stream", "schema_ddl"]


def schema_ddl(df: DataFrame) -> str:
    """DDL column list (``"a string, b long"``) of ``df``'s schema."""
    return ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )


def keyed_fold_stream(
    src: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    ties: Sequence[str],
    carry_schema: str,
    init: tuple,
    step: Callable[[tuple, pd.DataFrame], tuple[tuple, pd.DataFrame]],
    out_schema: str,
    watermark: str,
) -> DataFrame:
    """Fold ``step`` over each key's rows of the stream ``src``.

    ``step(carry, pdf) -> (carry, out)`` receives the key's on-time
    rows of one micro-batch sorted by (ts, *ties), with their epoch
    micros in an extra ``_ts_us`` column, and the carry the previous
    call returned (``init`` for a new key). ``out`` holds the rows to
    emit in ``out_schema``; a ``_ts_us`` column is dropped and key
    columns it lacks are filled from the group. The state schema is
    ``carry_schema`` plus ``last_us long``, appended here.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    keys, ties = list(keys), list(ties)

    def _fn(key, pdfs, state: GroupState):
        *carry, last_us = state.get if state.exists else (*init, None)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return iter([])
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        pdf = pdf.sort_values(["_ts_us", *ties], kind="mergesort")
        if last_us is not None:
            pdf = pdf[pdf["_ts_us"] >= last_us]
        if not len(pdf):
            return iter([])
        carry, out = step(tuple(carry), pdf)
        state.update((*carry, int(pdf["_ts_us"].iloc[-1])))
        if not len(out):
            return iter([])
        out = out.drop(columns=["_ts_us"], errors="ignore")
        for k in keys:
            if k not in out.columns:
                out[k] = pdf[k].iloc[0]
        return iter([out])

    return (
        src.withWatermark(ts_col, watermark)
        .withColumn("_ts_us", epoch_us(ts_col))
        .groupBy(*keys)
        .applyInPandasWithState(
            _fn,
            outputStructType=out_schema,
            stateStructType=f"{carry_schema}, last_us long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
