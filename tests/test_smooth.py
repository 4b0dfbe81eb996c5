"""EWMA: known answers, batch-boundary group carry, guards."""

from __future__ import annotations

import datetime as dt

import pytest

from smos_spark.operators.smooth import ewma


def _rows(key, vals):
    t0 = dt.datetime(2024, 1, 1)
    return [(key, t0 + dt.timedelta(seconds=i), i, float(v))
            for i, v in enumerate(vals)]


def test_ewma_known_answers(spark):
    df = spark.createDataFrame(
        _rows("a", [10, 20, 30]) + _rows("b", [5]) + [("c", None, 0, 1.0),
                                                      ("d", dt.datetime(2024, 1, 1), 0, None)],
        "conv_id string, ts timestamp, event_id long, value double",
    )
    got = {
        (r["conv_id"], r["event_id"]): r["ewma"]
        for r in ewma(df, 0.5, key_cols=["conv_id"], tie_cols=["event_id"]).collect()
    }
    assert got[("a", 0)] == 10.0
    assert got[("a", 1)] == 15.0          # 0.5*10 + 0.5*20
    assert got[("a", 2)] == 22.5          # 0.5*15 + 0.5*30
    assert got[("b", 0)] == 5.0
    # NULL ts / NULL value rows are excluded
    assert ("c", 0) not in got and ("d", 0) not in got
    with pytest.raises(ValueError):
        ewma(df, 0.0)


def test_ewma_group_carry_across_arrow_batches(spark):
    """A key whose rows straddle Arrow batch boundaries must produce
    the same recursion as a single-batch run: force 7-row batches over
    100-row groups and compare against pandas directly."""
    import pandas as pd

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        df = spark.createDataFrame(
            _rows("k1", range(100)) + _rows("k2", range(50, 150)),
            "conv_id string, ts timestamp, event_id long, value double",
        ).repartition(1)
        out = (
            ewma(df, 0.3, key_cols=["conv_id"], tie_cols=["event_id"],
                 num_partitions=1)
            .orderBy("conv_id", "event_id")
            .toPandas()
        )
        pdf = df.orderBy("conv_id", "event_id").toPandas()
        exp = (
            pdf.groupby("conv_id", sort=True)["value"]
            .apply(lambda s: s.ewm(alpha=0.3, adjust=False).mean())
            .reset_index(drop=True)
        )
        assert (out["ewma"].to_numpy() == exp.to_numpy()).all()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_ewma_null_numeric_key_single_group(spark):
    """A nullable NUMERIC key arrives in pandas as float64 NaN; the
    boundary detection must treat the NULL-keyed series as ONE group
    (NaN != NaN would split it at every row and restart the recursion
    at Arrow batch boundaries)."""
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
    try:
        rows = [(None, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i), i, 10.0)
                for i in range(20)]
        df = spark.createDataFrame(
            rows + [(7, dt.datetime(2024, 1, 1), 0, 4.0)],
            "user_id int, ts timestamp, event_id long, value double",
        ).repartition(1)
        out = ewma(df, 0.5, key_cols=["user_id"], tie_cols=["event_id"],
                   num_partitions=1).collect()
        nulls = sorted((r["event_id"], r["ewma"]) for r in out if r["user_id"] is None)
        # constant series: EWMA stays 10.0 only if the recursion never
        # restarts mid-series (it would anyway for a constant — so use
        # the count and a varying check below)
        assert len(nulls) == 20
        # varying NULL-key series across batch boundaries
        rows2 = [(None, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i), i,
                  float(i)) for i in range(12)]
        df2 = spark.createDataFrame(
            rows2, "user_id int, ts timestamp, event_id long, value double"
        ).repartition(1)
        got = {r["event_id"]: r["ewma"] for r in
               ewma(df2, 0.5, key_cols=["user_id"], tie_cols=["event_id"],
                    num_partitions=1).collect()}
        exp = 0.0
        for i in range(12):
            exp = exp * 0.5 + i * 0.5 if i else 0.0
            assert got[i] == exp, (i, got[i], exp)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_ewma_stream_matches_batch(spark, run_stream):
    """Streaming EWMA over a random micro-batch split equals the batch
    operator row-for-row (case "ewma" of test_stream_fold)."""
    from test_stream_fold import check_fold_twin

    check_fold_twin(spark, run_stream, "ewma", split_seed=0)


def test_ewma_stream_drops_cross_batch_late_rows(spark, run_stream):
    """A row landing in a later micro-batch with ts before the key's
    last processed ts cannot re-enter the recurrence — it is dropped,
    never smoothed out of order."""
    from smos_spark.operators.smooth import ewma_stream

    t0 = dt.datetime(2024, 1, 1)
    early = [("k", t0 + dt.timedelta(seconds=i), i, float(i)) for i in range(3)]
    late = [("k", t0 + dt.timedelta(seconds=1), 99, 1000.0)]  # ts before batch-1 tail
    schema = "conv_id string, ts timestamp, turn_idx long, value double"
    out = run_stream(
        "ewma_stream_late",
        lambda s: ewma_stream(s, 0.5, key_cols=["conv_id"], tie_cols=["turn_idx"],
                              watermark="0 seconds"),
        [spark.createDataFrame(early, schema), spark.createDataFrame(late, schema)],
    )
    rows = {r["turn_idx"]: r["ewma"] for r in out.collect()}
    assert set(rows) == {0, 1, 2}  # the late row is dropped
    assert rows[0] == 0.0 and rows[1] == 0.5 and rows[2] == 1.25


def test_ewma_stream_handles_unordered_arrow_chunks(spark, run_stream):
    """applyInPandasWithState hands a key's micro-batch rows as Arrow
    chunks in arbitrary order — write a key's rows ts-DESCENDING with
    a tiny Arrow batch size so later chunks carry EARLIER timestamps;
    every row must still be smoothed, in ts order (per-chunk
    processing would drop or misorder them)."""
    from smos_spark.operators.smooth import ewma_stream

    rows = [("k", dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i), i, float(i))
            for i in range(20)]
    df = spark.createDataFrame(
        list(reversed(rows)),  # descending ts in file order
        "conv_id string, ts timestamp, turn_idx long, value double",
    )
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
    try:
        out = run_stream(
            "ewma_chunks",
            lambda s: ewma_stream(s, 0.5, key_cols=["conv_id"], tie_cols=["turn_idx"],
                                  watermark="0 seconds"),
            [df],
        )
        got = {r["turn_idx"]: r["ewma"] for r in out.collect()}
        assert set(got) == set(range(20))  # nothing dropped
        exp = ewma(df, 0.5, key_cols=["conv_id"], tie_cols=["turn_idx"]).collect()
        for r in exp:
            assert got[r["turn_idx"]] == r["ewma"], r["turn_idx"]
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_des_known_answers(spark):
    """Brown double smoothing: hand-checked recursion, alpha=0.5."""
    from smos_spark.operators.smooth import des

    df = spark.createDataFrame(
        _rows("a", [10, 20, 30]),
        "conv_id string, ts timestamp, event_id long, value double",
    )
    got = {
        r["event_id"]: (r["des_level"], r["des_trend"], r["des_forecast"])
        for r in des(df, 0.5, key_cols=["conv_id"], tie_cols=["event_id"]).collect()
    }
    # s1: 10, 15, 22.5 ; s2: 10, 12.5, 17.5
    assert got[0] == (10.0, 0.0, 10.0)
    assert got[1] == (2 * 15 - 12.5, 1.0 * (15 - 12.5), 17.5 + 2.5)
    assert got[2] == (2 * 22.5 - 17.5, 1.0 * (22.5 - 17.5), 27.5 + 5.0)
    with pytest.raises(ValueError):
        des(df, 1.0)


def test_des_carry_across_arrow_batches(spark):
    """7-row Arrow batches over 100-row groups: the (s1, s2) carry must
    reproduce the unsplit chained-EWMA recursion bit-for-bit."""
    import pandas as pd

    from smos_spark.operators.smooth import des

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        df = spark.createDataFrame(
            _rows("k1", range(100)) + _rows("k2", range(50, 150)),
            "conv_id string, ts timestamp, event_id long, value double",
        ).repartition(1)
        out = (
            des(df, 0.3, key_cols=["conv_id"], tie_cols=["event_id"],
                num_partitions=1)
            .orderBy("conv_id", "event_id")
            .toPandas()
        )
        pdf = df.orderBy("conv_id", "event_id").toPandas()

        def _chain(s):
            s1 = s.ewm(alpha=0.3, adjust=False).mean()
            s2 = s1.ewm(alpha=0.3, adjust=False).mean()
            return 2.0 * s1 - s2

        exp = (
            pdf.groupby("conv_id", sort=True)["value"]
            .apply(_chain)
            .reset_index(drop=True)
        )
        assert (out["des_level"].to_numpy() == exp.to_numpy()).all()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_des_stream_matches_batch(spark, run_stream):
    """Streaming DES over a random micro-batch split equals the batch
    operator row-for-row (case "des" of test_stream_fold)."""
    from test_stream_fold import check_fold_twin

    check_fold_twin(spark, run_stream, "des", split_seed=0)
