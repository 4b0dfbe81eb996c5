"""Scan-side projection / masking / subsetting operators.

Mirrors the reference's read path semantics (SURVEY.md §2.2):

* P3 quality-flag masking NULLS VALUES, never drops rows
  (/root/reference/src/smos/smos_ic/interface_ic.py:121-133): the mask
  `~isin(Quality_Flag, read_flags)` is OR-ed into every variable's
  mask. Our flag column is `role`; default read set keeps
  user/assistant/tool and masks system (the always-masked flag=2
  analog, /root/reference/src/smos/reshuffle.py:123-127).
* P2 helper-column late drop: role is read for masking even when not
  requested, then dropped (interface_ic.py:101-102, :137-140).
* P6 bbox predicate → conv_id/ts range filters (grid.py:84-93).
* P7 land-mask semi-join → broadcast semi-join on a small key table
  (grid.py:46-79).

All are built-in Catalyst expressions — filters and projections push
down to the parquet scan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from smos_spark.functions.timegrid import ts_lit

DEFAULT_READ_ROLES = ("user", "assistant", "tool")
MASKABLE_COLS = ("text", "tool")


def mask_by_role(
    df: DataFrame,
    read_roles: Sequence[str] = DEFAULT_READ_ROLES,
    cols: Sequence[str] = MASKABLE_COLS,
) -> DataFrame:
    """Value-nulling quality mask: rows stay, payload values of turns
    whose role is outside `read_roles` become NULL (P3 semantics)."""
    keep = F.col("role").isin(*read_roles)
    exprs = []
    for c in df.columns:
        if c in cols:
            exprs.append(F.when(keep, F.col(c)).alias(c))
        else:
            exprs.append(F.col(c))
    return df.select(*exprs)


def select_parameters(
    df: DataFrame, parameters: Sequence[str] | None
) -> DataFrame:
    """P1 projection: None/[] → all payload columns (reference resolves
    None to all 2-D vars, interface_ic.py:94-99). Key/time columns are
    always kept (they're the index)."""
    index_cols = [c for c in ("conv_id", "turn_idx", "ts") if c in df.columns]
    if not parameters:
        return df
    keep = index_cols + [c for c in parameters if c not in index_cols]
    return df.select(*[c for c in df.columns if c in keep])


def masked_read(
    df: DataFrame,
    parameters: Sequence[str] | None = None,
    read_roles: Sequence[str] = DEFAULT_READ_ROLES,
) -> DataFrame:
    """P2: force-read `role` for masking, apply mask, drop role if the
    caller didn't ask for it (interface_ic.py:101-102, :137-140)."""
    masked = mask_by_role(df, read_roles)
    out = select_parameters(masked, parameters)
    if parameters and "role" not in parameters and "role" in out.columns:
        out = out.drop("role")
    return out


def filter_ts_range(df: DataFrame, start=None, end=None) -> DataFrame:
    """S2/P6 time predicate — prunes partitions on a days(ts)-
    partitioned table (the yearly-subdir/file-template analog). The
    bounds are read in the session time zone."""
    if start is not None:
        df = df.where(F.col("ts") >= ts_lit(start))
    if end is not None:
        df = df.where(F.col("ts") <= ts_lit(end))
    return df


def filter_conv_range(df: DataFrame, lo: str, hi: str) -> DataFrame:
    """P6 bbox analog: contiguous key-range subset."""
    return df.where(F.col("conv_id").between(lo, hi))


def subset_semi_join(df: DataFrame, keys: DataFrame, on: str = "conv_id") -> DataFrame:
    """P7/J1 land-mask analog: broadcast LEFT SEMI join against a small
    key dimension — no row explosion, no shuffle of the big side."""
    return df.join(broadcast(keys.select(on).distinct()), on=on, how="left_semi")


def drop_all_null_rows(df: DataFrame, value_cols: Sequence[str]) -> DataFrame:
    """P9: read-side drop of rows where ALL value columns are NULL
    (`drop_missing=True`, interface.py:151-152)."""
    return df.na.drop(how="all", subset=list(value_cols))
