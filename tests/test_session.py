"""Engine session settings that the operators rely on."""

from __future__ import annotations

from pyspark.sql import functions as F

BIG = 5 * 1024 * 1024  # characters, so more bytes than one 2 MB page


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _frame(spark, n: int, big_ids: tuple[int, ...]):
    """(id, s): `s` is one 5 MB string on `big_ids`, "k<id>" elsewhere."""
    big = F.col("id").isin(*big_ids)
    small = F.concat(F.lit("k"), F.col("id").cast("string"))
    return spark.range(n).select(
        "id", F.when(big, F.repeat(F.lit("x"), BIG)).otherwise(small).alias("s")
    )


def test_record_larger_than_a_page(spark):
    """A row larger than a Tungsten page comes out of a sort, a hash
    aggregate keyed on it and a broadcast hash join exactly (each of
    them gives such a record a page of its own size)."""
    page = spark.sparkContext._jsc.sc().env().memoryManager().pageSizeBytes()
    assert BIG > page
    df = _frame(spark, 6, (0, 3))
    big = f"x*{BIG}"

    def label(s: str) -> str:
        return f"x*{len(s)}" if s.strip("x") == "" else s

    ordered = df.orderBy(F.desc("s"), "id")
    got = [(r.id, label(r.s)) for r in ordered.collect()]
    assert got == [(0, big), (3, big), (5, "k5"), (4, "k4"), (2, "k2"), (1, "k1")]
    assert "Sort [" in _executed_plan(ordered)

    agg = df.groupBy("s").agg(F.count("*").alias("n"), F.sum("id").alias("t"))
    got = sorted((label(r.s), r.n, r.t) for r in agg.collect())
    assert got == [
        ("k1", 1, 1), ("k2", 1, 2), ("k4", 1, 4), ("k5", 1, 5), (big, 2, 3)
    ]
    assert "HashAggregate" in _executed_plan(agg)

    dim = _frame(spark, 2, (0,)).withColumn("w", F.col("id") * 10).drop("id")
    joined = df.join(F.broadcast(dim), "s")
    got = sorted((r.id, r.w, label(r.s)) for r in joined.collect())
    assert got == [(0, 0, big), (1, 10, "k1"), (3, 0, big)]
    assert "BroadcastHashJoin" in _executed_plan(joined)
