"""Event-sequence analytics: ordered funnels and cohort retention.

The reference engine's consumers ask "did this key progress through
the expected states, and do keys come back?" — the per-point
quality-flag progression reads in /root/reference/src/smos/
interface.py:42-162 are the degenerate single-step case.  Here the
general operators, Spark-first:

* ``event_funnel`` — per key, the earliest time each step of an
  ordered sequence is reached, where step *i+1* must occur STRICTLY
  after the earliest completion of step *i* (the standard ordered
  funnel).  One window partition per key — not a join chain: a
  running ``min`` of each step's qualified timestamps makes the
  "strictly after" constraint a pure cumulative-frame expression, so
  the whole funnel is ONE Exchange + one sort regardless of the
  number of steps.
* ``cohort_retention`` — cohort keys by their first-seen bucket, then
  count distinct keys active at each (cohort, offset_buckets).  The distinct
  is the explicit two-level aggregate (dedup on (cohort, offset, key)
  first), the shape that scales: the wide shuffle carries one row per
  ACTIVE key-bucket, never a per-event stream, and the second level
  is a map-side-combinable count.

All outputs are timestamps and int64 counts — the DuckDB twins in
``__spark_entry__.oracle_sql`` are exact.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from smos_spark.functions.joins import null_safe_join
from smos_spark.functions.timegrid import bucket_index, bucket_start, epoch_us, to_us

__all__ = [
    "event_funnel",
    "event_funnel_stepwise",
    "cohort_retention",
    "conversion_lag",
    "parse_json_fields",
    "period_compare",
    "user_growth",
]


def parse_json_fields(
    df: DataFrame,
    json_col: str = "props",
    fields: dict[str, str] | None = None,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """Schema-on-read over a JSON string column (tool-call payloads,
    event props): parse ONCE per row with `from_json` + an explicit
    schema and project the requested fields as typed top-level columns
    (NULL where the document is malformed or the field is absent —
    PERMISSIVE mode; pass mode="FAILFAST" to raise instead).

    `fields` maps field name → Spark type DDL (e.g. {"k": "bigint",
    "tag": "string"}). An explicit schema is the scale contract:
    schema inference (`spark.read.json`-style) is a full extra pass
    over 100 TB, and per-field `get_json_object` chains re-tokenize
    the document once per field — `from_json` tokenizes once and the
    struct's field accesses are free projections. The parse is a
    codegen expression on the scan: no shuffle, no Python.

    Reference analog: the reference reads only declared variables from
    each netCDF rather than introspecting files per read
    (/root/reference/src/smos/smos_ic/interface_ic.py:91-119); an
    explicit field schema is the same declared-projection contract for
    semi-structured payloads."""
    if not fields:
        raise ValueError("fields must map at least one field name to a type")
    schema = ", ".join(f"`{name}` {ddl}" for name, ddl in fields.items())
    parsed = F.from_json(F.col(json_col), schema, {"mode": mode})
    # ONE projection (not a withColumn-per-field chain, whose repeated
    # plan re-analysis is quadratic in field count, and not a temp
    # struct column that could collide with a user column): extracted
    # fields replace same-named existing columns, like withColumn.
    keep = [c for c in df.columns if c not in fields]
    extracted = [parsed.getField(name).alias(name) for name in fields]
    return df.select(*keep, *extracted)


def event_funnel(
    df: DataFrame,
    steps: Sequence[str] = ("view", "click", "purchase"),
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    type_col: str = "event_type",
    tie_cols: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Earliest completion time of each ordered step, per key.

    Semantics: ``t_1`` = earliest event of ``steps[0]``; ``t_{i+1}`` =
    earliest event of ``steps[i+1]`` strictly after ``t_i``.  A row
    qualifies for step i+1 iff some step-i event happened strictly
    earlier — expressed as a cumulative ``min`` over the key's
    time-ordered events, so every step adds one window expression on
    the SAME partitioning, never another join or shuffle.

    Output: key cols, ``t1..tN`` (NULL where the funnel stalls) and
    ``steps_completed``.  Keys with no ``steps[0]`` event appear with
    all-NULL step times — total key count is preserved for funnel
    denominators.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    keys = [F.col(k) for k in key_cols]
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(ts_col), *[F.col(t) for t in tie_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    work = df.where(F.col(ts_col).isNotNull())
    ts = F.col(ts_col)
    # q_i: this row's ts iff it completes step i respecting order
    qual = F.when(F.col(type_col) == steps[0], ts)
    work = work.withColumn("_q0", qual)
    for i in range(1, len(steps)):
        # earliest qualified completion of the previous step, up to and
        # including this row; strictly-earlier check keeps order strict
        prev_min = F.min(F.col(f"_q{i - 1}")).over(w)
        work = work.withColumn(
            f"_q{i}",
            F.when((F.col(type_col) == steps[i]) & (prev_min < ts), ts),
        )
    agg = work.groupBy(*key_cols).agg(
        *[F.min(f"_q{i}").alias(f"t{i + 1}") for i in range(len(steps))]
    )
    n_done = sum(
        (F.when(F.col(f"t{i + 1}").isNotNull(), 1).otherwise(0))
        for i in range(len(steps))
    )
    return agg.withColumn("steps_completed", n_done.cast("int"))


def cohort_retention(
    df: DataFrame,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    width_sec: float = 86400.0,
) -> DataFrame:
    """Distinct active keys per (first-seen cohort bucket, offset).

    ``cohort_start`` is the key's first active bucket; ``offset_buckets`` is
    whole buckets since then (0 = the cohort bucket itself, whose
    count is the cohort size).  Exact int64 bucket math, explicit
    two-level distinct.
    """
    width_us = to_us(width_sec)
    keys = [F.col(k) for k in key_cols]
    w = Window.partitionBy(*keys)
    active = (
        df.where(F.col(ts_col).isNotNull())
        .select(*key_cols, bucket_index(ts_col, width_us).alias("_b"))
        .withColumn("_b0", F.min("_b").over(w))
        # level 1: dedup to one row per (key, bucket) — the only wide
        # row stream; level 2 below is a plain combinable count
        .dropDuplicates([*key_cols, "_b"])
    )
    return active.groupBy(
        bucket_start("_b0", width_us).alias("cohort_start"),
        (F.col("_b") - F.col("_b0")).alias("offset_buckets"),
    ).agg(F.count(F.lit(1)).alias("n_active"))


def event_funnel_stepwise(
    df: DataFrame,
    steps: Sequence[str] = ("view", "click", "purchase"),
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """`event_funnel` without the per-key window — the hot-key path.

    The window formulation is ONE Exchange, but a pathologically hot
    key (10^8 events) makes that one window partition a single sort
    task. Here each step is a plain min() aggregation (map-side
    combine collapses any key heat) joined to the previous step's
    time: N small shuffles of O(keys) rows instead of one
    skew-vulnerable sort of O(events). Identical results to
    `event_funnel` (asserted in tests), including all-NULL rows for
    keys that never reach step 1 — the funnel denominator."""
    if not steps:
        raise ValueError("steps must be non-empty")
    keys = list(key_cols)
    work = df.where(F.col(ts_col).isNotNull())
    cur = (
        work.where(F.col(type_col) == steps[0])
        .groupBy(*keys)
        .agg(F.min(ts_col).alias("t1"))
    )
    acc = cur
    for i in range(1, len(steps)):
        # null-safe joins: groupBy treats a NULL key as a regular
        # group, so plain equi-joins would silently zero the funnel
        # for anonymous keys and break identity with event_funnel
        nxt = (
            null_safe_join(
                work.where(F.col(type_col) == steps[i]),
                acc.select(*keys, f"t{i}"),
                keys,
            )
            .where(F.col(ts_col) > F.col(f"t{i}"))
            .groupBy(*keys)
            .agg(F.min(ts_col).alias(f"t{i + 1}"))
        )
        acc = null_safe_join(acc, nxt, keys, "left")
    all_keys = work.select(*keys).distinct()
    out = null_safe_join(all_keys, acc, keys, "left")
    n_done = sum(
        (F.when(F.col(f"t{i + 1}").isNotNull(), 1).otherwise(0))
        for i in range(len(steps))
    )
    return out.withColumn("steps_completed", n_done.cast("int"))


def user_growth(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    width_sec: float = 86400,
) -> DataFrame:
    """Growth curve: per time bucket, how many keys were seen for the
    FIRST time (new), how many were active, and the cumulative
    distinct-key count — the canonical adoption dashboard, computed
    exactly (no sketch) in three bounded reductions:

    * first-seen bucket per key: one map-side-combined min()
      aggregation — shuffle O(keys);
    * new-per-bucket: count of first-seen rows per bucket —
      O(buckets) rows;
    * cumulative: one running sum over the tiny bucket table (single
      partition of O(buckets) rows — bounded by the calendar, never by
      data volume);
    * active-per-bucket: one distinct count per bucket (map-side
      partial distinct).

    Only buckets with ≥1 active key are emitted; `cum_keys` carries
    the cumulative first-seen total AS OF each emitted bucket (silent
    buckets fold into the next active one). Output: bucket_start,
    new_keys, active_keys, cum_keys — exact int64 at any scale.
    """
    from pyspark.sql.window import Window

    width_us = to_us(width_sec)
    b = bucket_index(ts_col, width_us)
    base = df.where(
        F.col(ts_col).isNotNull() & F.col(key_col).isNotNull()
    ).select(F.col(key_col).alias("_k"), b.alias("_b"))
    first_seen = base.groupBy("_k").agg(F.min("_b").alias("_b0"))
    new_per = first_seen.groupBy(F.col("_b0").alias("_b")).agg(
        F.count(F.lit(1)).alias("new_keys")
    )
    active_per = base.distinct().groupBy("_b").agg(
        F.count(F.lit(1)).alias("active_keys")
    )
    joined = active_per.join(new_per, "_b", "left").withColumn(
        "new_keys", F.coalesce(F.col("new_keys"), F.lit(0))
    )
    w = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, 0)
    return joined.withColumn(
        "cum_keys", F.sum("new_keys").over(w)
    ).select(
        bucket_start("_b", width_us).alias("bucket_start"),
        "new_keys",
        "active_keys",
        "cum_keys",
    )


def period_compare(
    df: DataFrame,
    value_col: str,
    key_cols: Sequence[str] | None = None,
    ts_col: str = "ts",
    width_sec: float = 86400,
    lag_buckets: int = 7,
) -> DataFrame:
    """Period-over-period comparison: each (key, bucket) integer total
    against the SAME key's total exactly ``lag_buckets`` buckets
    earlier (week-over-week for daily buckets with the default 7) —
    delta and ratio, the standard WoW/MoM dashboard row.

    The comparison is an equi-JOIN on the shifted bucket id, not a
    window lag: buckets are sparse (silent periods are absent), and a
    lag would silently compare against whatever bucket happened to
    precede, not the calendar-aligned one. Buckets with no comparison
    period are dropped. ratio_ppm = (cur·1e6) div prev via pure
    integer floor division (pmod-subtract) in decimal(38,0), so the
    scaled numerator cannot overflow int64 even for totals above
    2^63/1e6; NULL when prev ≤ 0 (a ratio against a non-positive base
    is meaningless). ratio_ppm itself is a long: exact while
    |cur/prev| < 2^63/1e6. delta = cur − prev is always exact.

    Plan: one map-side-combined reduction to O(keys·buckets) counter
    rows, then a self-equi-join of that bounded table — the raw
    stream is scanned once, never window-sorted (the
    lagged_crosscorr shape).
    """
    width_us = to_us(width_sec)
    if lag_buckets < 1:
        raise ValueError("lag_buckets must be >= 1")
    keys = list(key_cols or [])
    b = bucket_index(ts_col, width_us)
    v = F.col(value_col).cast("long")
    totals = (
        df.where(F.col(ts_col).isNotNull() & v.isNotNull())
        .groupBy(*keys, b.alias("_b"))
        .agg(F.sum(v).alias("cur"))
    )
    prev = totals.select(
        *keys,
        (F.col("_b") + F.lit(int(lag_buckets))).alias("_b"),
        F.col("cur").alias("prev"),
    )
    joined = totals.join(prev, [*keys, "_b"])
    scaled = F.col("cur").cast("decimal(38,0)") * F.lit(1_000_000)
    ratio = F.when(
        F.col("prev") > 0,
        (
            (scaled - F.pmod(scaled, F.col("prev"))) / F.col("prev")
        ).cast("long"),
    )
    return joined.select(
        *keys,
        bucket_start("_b", width_us).alias("bucket_start"),
        "cur",
        "prev",
        (F.col("cur") - F.col("prev")).alias("delta"),
        ratio.alias("ratio_ppm"),
    )


def conversion_lag(
    df: DataFrame,
    type_col: str,
    from_type: str,
    to_type: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """First-conversion lag per key: the time from a key's FIRST
    ``from_type`` event to its FIRST ``to_type`` event at or after it
    — "how long from first view to first purchase", the canonical
    activation metric. Keys whose first to-event precedes their first
    from-event (or that never convert) are dropped; lag is exact
    int64 µs.

    Plan: two map-side-combined min() reductions (one per side,
    shuffle O(keys) each) and one equi-join of the two bounded key
    tables — the raw stream is scanned once per side, never shuffled
    on rows. Output: key, first_from_ts, first_to_ts, lag_us.
    """
    base = df.where(
        F.col(ts_col).isNotNull() & F.col(key_col).isNotNull()
    )
    firsts = lambda t, alias: (  # noqa: E731
        base.where(F.col(type_col) == t)
        .groupBy(F.col(key_col).alias("key"))
        .agg(F.min(F.col(ts_col).cast("timestamp")).alias(alias))
    )
    f = firsts(from_type, "first_from_ts")
    t = firsts(to_type, "first_to_ts")
    joined = f.join(t, "key")
    lag = epoch_us("first_to_ts") - epoch_us("first_from_ts")
    return joined.where(lag >= 0).select(
        "key", "first_from_ts", "first_to_ts", lag.alias("lag_us")
    )
