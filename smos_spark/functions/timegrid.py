"""One time grid: the only place a time value becomes an integer.

Every operator reads time on the same grid: int64 epoch microseconds
(`epoch_us`), buckets of a whole number of µs (`to_us`) counted from
the epoch or from an origin (`bucket_index`, `bucket_start`), and
timestamp literals read in the session time zone (`ts_lit`).

Why these forms:

* Epoch µs, never epoch seconds as doubles: a double epoch has a
  ~0.25 µs ulp today, so a gap within one ulp of a threshold can split
  differently between a batch operator and its streaming twin.
* The column is cast to timestamp first: parquet TIMESTAMP_NTZ columns
  are not valid `unix_micros` input, and under the session's pinned
  UTC zone the cast is value-exact.
* A bucket is the exact floor ``(us - pmod(us, w)) div w``: `pmod` is
  never negative, so the dividend is an exact multiple of ``w`` and
  the integral `div` returns the true quotient for any sign. A double
  quotient can round across a bucket edge, and a bare truncating `div`
  puts rows before 1970 (or before the origin) one bucket late.
* A Python datetime given to `F.lit` is read in the Python process's
  time zone; its string form, cast, is read in the session's.
* A width is rounded to whole µs and must come out at 1 µs or more, so
  a zero, negative or sub-µs width fails at call time, not as a
  division by zero inside a running task.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "DAY_US",
    "instant",
    "ts_lit",
    "epoch_us",
    "to_us",
    "floor_div",
    "bucket_index",
    "bucket_start",
    "floor_ts",
    "day_segment",
    "dow_hour",
]

_HOUR_US = 3_600_000_000
DAY_US = 24 * _HOUR_US


def instant(t) -> dt.datetime | None:
    """A range bound as a datetime: an ISO string is parsed, a date is
    its midnight, None stays open."""
    if isinstance(t, str):
        return dt.datetime.fromisoformat(t)
    if isinstance(t, dt.date) and not isinstance(t, dt.datetime):
        return dt.datetime.combine(t, dt.time())
    return t


def ts_lit(t) -> Column:
    """`t` (a datetime, a date or an ISO string) as a timestamp literal
    read in the session time zone."""
    return F.lit(str(t)).cast("timestamp")


def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def epoch_us(col) -> Column:
    """Epoch microseconds of a timestamp (or NTZ) column or name."""
    return F.unix_micros(_col(col).cast("timestamp"))


def to_us(seconds, name: str = "width_sec", zero_ok: bool = False) -> int:
    """`seconds` rounded to whole µs. A width must come out at 1 µs or
    more; with `zero_ok` (a tolerance, window or hold) 0 is valid too.
    Anything less is a ValueError naming `name`."""
    us = int(round(seconds * 1_000_000))
    if us < (0 if zero_ok else 1):
        bound = ">= 0" if zero_ok else "positive, at least 1 µs"
        raise ValueError(f"{name} must be {bound}, got {seconds}")
    return us


def _origin_us(origin) -> Column:
    return epoch_us(ts_lit(origin))


def floor_div(us: Column, width_us: int) -> Column:
    """The exact floor of an integer µs column over `width_us`, as a
    long, for any sign."""
    w = F.lit(width_us)
    return F.call_function("div", us - F.pmod(us, w), w)


def bucket_index(col, width_us: int, origin=None) -> Column:
    """The bucket of `col`: floor((epoch µs − origin) / width), with
    `origin` (a datetime, date or ISO string) defaulting to the epoch."""
    us = epoch_us(col)
    if origin is not None:
        us = us - _origin_us(origin)
    return floor_div(us, width_us)


def bucket_start(idx, width_us: int, origin=None) -> Column:
    """The timestamp that starts bucket `idx` of `bucket_index`."""
    start = _col(idx) * F.lit(width_us)
    if origin is not None:
        start = start + _origin_us(origin)
    return F.timestamp_micros(start)


def floor_ts(col, width_us: int, origin=None) -> Column:
    """`col` floored to the start of its width bucket."""
    return bucket_start(bucket_index(col, width_us, origin), width_us, origin)


def day_segment(col, n_segments: int) -> tuple[Column, Column]:
    """(µs since the row's midnight, its slice 0..n-1 of n equal day
    slices). The offset is never negative, and below 86.4e9 it keeps
    offset·n inside int64 for any practical n."""
    off = epoch_us(col) - epoch_us(F.date_trunc("day", _col(col)))
    return off, F.call_function("div", off * F.lit(int(n_segments)), F.lit(DAY_US))


def dow_hour(col) -> tuple[Column, Column]:
    """(day of week, 0 = Sunday; hour of day) from epoch µs, so both
    engines agree whatever their dayofweek() numbering (1970-01-01 was
    a Thursday)."""
    days = bucket_index(col, DAY_US)
    hours = bucket_index(col, _HOUR_US)
    return F.pmod(days + 4, F.lit(7)).cast("int"), F.pmod(hours, F.lit(24)).cast("int")
