from __future__ import annotations

import itertools

import pytest

from smos_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[8]", app_name="smos_spark-tests", shuffle_partitions=8)
    # the exact-integer operators assume overflow raises
    assert s.conf.get("spark.sql.ansi.enabled") == "true"
    # the Tungsten page the running context actually uses, which also
    # catches a getOrCreate that reused a context started without it
    page = s.sparkContext._jsc.sc().env().memoryManager().pageSizeBytes()
    assert page == 2 * 1024 * 1024
    yield s


@pytest.fixture(scope="session")
def transcripts(spark):
    """Small deterministic transcripts table (FIXTURES.md §1 unit size)."""
    from smos_spark.synth import synth_transcripts

    df = synth_transcripts(spark, n_conv=60, seed=42)
    df = df.cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def transcripts_pdf(transcripts):
    return transcripts.toPandas()


@pytest.fixture
def run_stream(spark, tmp_path):
    """Run a streaming query over file sources to completion.

    ``run_stream(name, build, *inputs, mode="append")``: each input is a
    list of DataFrames, written as one parquet file apiece and read
    back as a file stream of one file per micro-batch, in list order.
    ``build(*streams)`` returns the streaming query's DataFrame, which
    runs with ``availableNow`` into the memory table ``name``; that
    table is returned.
    """
    dirs = itertools.count()

    def run(name, build, *inputs, mode="append"):
        streams = []
        for frames in inputs:
            src = str(tmp_path / f"stream_src{next(dirs)}")
            for f in frames:
                f.coalesce(1).write.mode("append").parquet(src)
            streams.append(
                spark.readStream.schema(frames[0].schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
        q = (
            build(*streams)
            .writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(name)

    return run
