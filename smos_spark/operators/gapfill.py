"""Regularization + gap-fill — missing buckets become NULL rows.

Reference semantics (load-bearing, SURVEY.md §1.3): missing days are
MATERIALIZED as all-NaN rows, not absent rows — `_read_empty` fabricates
NaN arrays for every missing timestamp on the dense daily grid
(/root/reference/src/smos/interface.py:222-254, :502-525); the pinned
golden is `[0.198517, nan, nan]` for a 3-day range with days 2-3 missing
(/root/reference/tests/test_ICreshuffle.py:39-52).

Spark shape: one pass over the tier's own rows. A `lead` window on
conv_id gives each row the key's next bucket, and the row explodes a
`sequence` from its own bucket up to the one before it (the S4
timestamp-grid generator), keeping its partials on its own bucket only
(S5, J3). The tier is scanned once and shuffled once on conv_id, which
the fill windows below reuse; no grid is built, joined or broadcast,
and a NULL conv_id is a series like any other.

Fill strategies on top of the NULL rows — both pure JVM windows:
* ``forward_fill`` — `last(col, ignorenulls=True)` over
  (conv_id × bucket order).
* ``interpolate_linear`` — positional linear blend between the
  bracketing non-NULL neighbors (window last/first + row_number);
  the grouped-map pandas version survives as the cross-check oracle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from smos_spark.functions.timegrid import ts_lit
from smos_spark.schema import TIERS

__all__ = [
    "gap_fill",
    "forward_fill",
    "interpolate_linear",
    "interpolate_linear_pandas",
]


def gap_fill(tier_df: DataFrame, tier: str, start=None, end=None) -> DataFrame:
    """Each conv's missing buckets as rows with NULL partials (never
    dropped, never zero-filled: a gap bucket's n_turns is NULL, matching
    the reference's NaN rows — count 0 would lie about observed-but-empty
    vs unobserved). The buckets span each conv's observed [first, last],
    or the truncated explicit [start, end] (the tstamps_for_daterange
    analog, interface.py:502-525). The unit step is exact under a DST
    session time zone: a minute or an hour is a fixed duration, and a
    day is the calendar day that ``date_trunc('day')`` buckets use."""
    unit = TIERS[tier]["unit"]
    step = F.expr(f"INTERVAL 1 {unit.upper()}")
    w = Window.partitionBy("conv_id").orderBy("bucket_start")
    own = F.col("bucket_start")
    nxt = F.lead(own).over(w)
    # a conv's last row (no next; greatest skips the NULL) and a
    # duplicate bucket (next == own) still emit their own bucket
    lo, hi = own, F.greatest(nxt - step, own)
    if start is not None and end is not None:
        first, last = (F.date_trunc(unit, ts_lit(t)) for t in (start, end))
        # row_number, not a NULL lag: a NULL bucket_start sorts first
        lo = F.when(F.row_number().over(w) == 1, first).otherwise(F.greatest(own, first))
        hi = F.when(nxt.isNull(), last).otherwise(F.least(hi, last))
    values = [c for c in tier_df.columns if c not in ("conv_id", "bucket_start")]
    runs = tier_df.select("*", lo.alias("_lo"), hi.alias("_hi")).select(
        "conv_id",
        own.alias("_own"),
        *values,
        # a run clipped out of the range emits nothing (sequence
        # rejects lo > hi)
        F.explode(
            F.when(F.col("_lo") <= F.col("_hi"), F.sequence("_lo", "_hi", step))
        ).alias("bucket_start"),
    )
    return runs.select(
        "conv_id",
        "bucket_start",
        *[F.when(F.col("bucket_start") == F.col("_own"), F.col(c)).alias(c) for c in values],
    )


def forward_fill(
    df: DataFrame,
    cols: Sequence[str],
    key: str = "conv_id",
    order: str = "bucket_start",
) -> DataFrame:
    """Forward-fill NULLs per key in bucket order via
    `last(ignorenulls=True)` — no UDF, stays in whole-stage codegen."""
    w = Window.partitionBy(key).orderBy(order).rowsBetween(Window.unboundedPreceding, 0)
    out = df
    for c in cols:
        out = out.withColumn(c, F.last(F.col(c), ignorenulls=True).over(w))
    return out


def interpolate_linear(
    df: DataFrame,
    cols: Sequence[str],
    key: str = "conv_id",
    order: str = "bucket_start",
) -> DataFrame:
    """Linear interpolation of interior NULL runs per key (leading /
    trailing NULLs stay NULL) — pure window expressions, JVM-side.

    For each row: the last non-NULL value/position before it and the
    first after it bracket the NULL run; the fill is the positional
    linear blend (identical to pandas ``interpolate(method='linear',
    limit_area='inside')`` on the regular bucket grid). One window
    shuffle on the key; no Python — at ~10⁶ tiny per-key series the
    grouped-map alternative pays milliseconds of kernel dispatch per
    group (see ``interpolate_linear_pandas``, kept as the
    cross-check oracle)."""
    w = Window.partitionBy(key).orderBy(order)
    w_back = w.rowsBetween(Window.unboundedPreceding, 0)
    w_fwd = w.rowsBetween(0, Window.unboundedFollowing)
    rn = F.row_number().over(w)
    out = df.withColumn("_rn", rn)
    for c in cols:
        val = F.col(c).cast("double")
        marked = F.when(val.isNotNull(), F.struct(F.col("_rn").alias("p"), val.alias("v")))
        prev = F.last(marked, ignorenulls=True).over(w_back)
        nxt = F.first(marked, ignorenulls=True).over(w_fwd)
        frac = (F.col("_rn") - prev["p"]).cast("double") / (nxt["p"] - prev["p"]).cast(
            "double"
        )
        interp = F.when(
            val.isNotNull(), val
        ).when(
            prev.isNotNull() & nxt.isNotNull(),
            prev["v"] + (nxt["v"] - prev["v"]) * frac,
        )
        out = out.withColumn(c, interp)
    return out.drop("_rn")


def interpolate_linear_pandas(
    df: DataFrame,
    cols: Sequence[str],
    key: str = "conv_id",
    order: str = "bucket_start",
) -> DataFrame:
    """Grouped-map pandas reference implementation of
    ``interpolate_linear`` (cross-check oracle; the window version is
    the production path)."""
    import pandas as pd

    schema = df.schema
    out_cols = [f.name for f in schema.fields]
    cols = list(cols)

    def _interp(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order)
        for c in cols:
            s = pdf[c].astype("float64")
            pdf[c] = s.interpolate(method="linear", limit_area="inside")
        return pdf[out_cols]

    # cast target cols to double so interpolated values fit the schema
    casted = df
    new_fields = []
    for f in schema.fields:
        if f.name in cols:
            casted = casted.withColumn(f.name, F.col(f.name).cast("double"))
            new_fields.append(f"{f.name} double")
        else:
            new_fields.append(f"{f.name} {f.dataType.simpleString()}")
    out_schema = ", ".join(new_fields)
    return casted.groupBy(key).applyInPandas(_interp, schema=out_schema)
