"""The benchmark's three workloads, each a closed loop with one client.

Every workload generates its inputs from the seed into files, and the
program only ever reads those files. A workload runs in cycles: one
cycle is the client's unit of work (a rollup job, an ingested batch with
the reads that follow it, a dedup pass). Each call into a layer's
public function is wrapped in a span named after it; outputs are kept
and checked against an independent DuckDB or pandas oracle after the
timed window, so checking never counts as measured time.

Why each workload exists, and its traffic dimensions, are recorded in
BENCHMARK.json and README.md next to this file.
"""

from __future__ import annotations

import datetime as dt
import statistics
from dataclasses import dataclass, field
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from __spark_entry__ import _tier_sql
from smos_spark.operators.compress import compress_series
from smos_spark.operators.dedup import (
    dedup_apply,
    lsh_candidate_pairs,
    minhash_dedup_pairs,
    minhash_signature,
    near_dup_components,
)
from smos_spark.operators.gapfill import forward_fill, gap_fill
from smos_spark.operators.retention import tiered_read_store
from smos_spark.operators.rollup import reaggregate, rollup_from_raw
from smos_spark.operators.text import text_profile
from smos_spark.readback import read_block_series, read_conv_series
from smos_spark.sources.store import TranscriptStore
from smos_spark.streaming.incremental import ingest_batch
from smos_spark.synth import synth_transcripts

START = "2025-01-01 00:00:00"  # synth_transcripts' default epoch
# 1250 conversations a bucket in rollup_batch, 125 in ingest_serve;
# scripts/rollup_job.py's default of 32 is sized for larger stores
N_BUCKETS = 8
PARAMS = ["n_turns", "len_sum"]  # scripts/rollup_job.py --block-parameters default
TIER_UNITS = {"1m": "minute", "1h": "hour", "1d": "day"}
TIER_COLS = (
    "conv_id, bucket_start, n_turns, n_role_user, n_role_assistant, n_role_tool, "
    "n_role_system, n_tool_calls, len_sum, len_cnt, len_min, len_max, first_ts, last_ts"
)


@dataclass
class Cycle:
    """What one cycle did: `items` processed by its write or compute
    operation in `op_s` seconds, the latency of each client request in
    ms, and how many layer calls it made; the window adds its CPU time
    and the MB it allocated on the JVM heap."""

    items: int = 0
    op_s: float = 0.0
    latencies_ms: list = field(default_factory=list)
    ops: int = 0
    cpu_s: float = 0.0
    alloc_mb: float = 0.0


def _bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*.parquet"))


def _scan(path: Path) -> str:
    """DuckDB scan of the parquet files under a Spark output directory,
    without its partition columns."""
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = false)"


def _duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    return con


def _bag_diff(con, a_sql: str, b_sql: str) -> int:
    """Rows of a not in b plus rows of b not in a, as multisets."""
    return con.execute(
        f"SELECT (SELECT count(*) FROM ({a_sql} EXCEPT ALL {b_sql}))"
        f" + (SELECT count(*) FROM ({b_sql} EXCEPT ALL {a_sql}))"
    ).fetchone()[0]


def _same_rows(got: pd.DataFrame, want: pd.DataFrame, cols: list[str]) -> bool:
    """Row-for-row equality after sorting; NULL equals NaN equals NULL."""
    if len(got) != len(want):
        return False
    a = got[cols].sort_values(cols[:2]).reset_index(drop=True)
    b = want[cols].sort_values(cols[:2]).reset_index(drop=True)
    for c in cols:
        x, y = a[c], b[c]
        if pd.api.types.is_datetime64_any_dtype(x) or pd.api.types.is_datetime64_any_dtype(y):
            x, y = pd.to_datetime(x), pd.to_datetime(y)
        elif c != "conv_id":
            x, y = x.astype("float64"), y.astype("float64")
        both_null = x.isna() & y.isna()
        if not ((x == y) | both_null).all():
            return False
    return True


def write_blocks(spark, store: TranscriptStore) -> None:
    """The --blocks phase of scripts/rollup_job.py: the stored 1h tier,
    gap-filled and forward-filled, compressed into one block row per
    conversation."""
    h1 = store.read_tier(spark, "1h").select("conv_id", "bucket_start", *PARAMS)
    filled = forward_fill(gap_fill(h1, "1h"), PARAMS).select(
        "conv_id",
        F.col("bucket_start").alias("ts"),
        *[F.col(p).cast("double").alias(p) for p in PARAMS],
    )
    compress_series(filled, PARAMS).write.mode("overwrite").parquet(store.blocks_path("1h"))


class Workload:
    name = ""
    ops_per_cycle = 1

    def __init__(self, spark, tracer, work: Path, seed: int, scale: float = 1.0):
        self.spark = spark
        self.tracer = tracer
        self.work = Path(work)
        self.seed = seed
        self.scale = scale
        self.inputs: Path | None = None

    def generate(self, out: Path) -> None:
        """Write this seed's inputs under `out`."""
        raise NotImplementedError

    def prepare(self, inputs: Path) -> None:
        """Load what the cycles need from the generated inputs."""
        self.inputs = inputs

    def cycle(self) -> Cycle:
        raise NotImplementedError

    def has_input(self) -> bool:
        """Whether another cycle has input left to work on."""
        return True

    def warm_up(self) -> None:
        """Runs before timing, so that the timed cycle is warm."""
        raise NotImplementedError

    def check(self) -> int:
        """Number of wrong outputs among those the cycles produced."""
        raise NotImplementedError

    def layer_counts(self) -> dict[str, float]:
        """Counts for the per-layer report that need a look at outputs."""
        return {}


class RollupBatch(Workload):
    """scripts/rollup_job.py --blocks through public calls: 1m from raw,
    1h from the stored 1m, 1d from the stored 1h, then the gap-filled,
    forward-filled 1h series compressed into per-conversation blocks."""

    name = "rollup_batch"
    ops_per_cycle = 4
    N_CONV = 10000
    SPAN_DAYS = 3

    def generate(self, out: Path) -> None:
        n_conv = max(int(self.N_CONV * self.scale), 20)
        synth_transcripts(
            self.spark, n_conv=n_conv, seed=self.seed, span_days=self.SPAN_DAYS
        ).write.parquet(str(out / "raw"))

    def prepare(self, inputs: Path) -> None:
        super().prepare(inputs)
        self.raw = str(inputs / "raw")
        self.n_turns = pq.ParquetDataset(self.raw).read(columns=["turn_idx"]).num_rows
        self.stores: list[Path] = []

    def cycle(self) -> Cycle:
        spark, span = self.spark, self.tracer.span
        root = self.work / f"rollup_store_{len(self.stores)}"
        self.stores.append(root)
        with span(self.name) as s:
            store = TranscriptStore(root, n_buckets=N_BUCKETS)
            raw = spark.read.parquet(self.raw)
            with span("store.write_tier.1m"):
                store.write_tier(rollup_from_raw(raw, "1m"), "1m")
            with span("store.write_tier.1h"):
                store.write_tier(reaggregate(store.read_tier(spark, "1m"), "1h"), "1h")
            with span("store.write_tier.1d"):
                store.write_tier(reaggregate(store.read_tier(spark, "1h"), "1d"), "1d")
            with span("compress.blocks"):
                write_blocks(spark, store)
        return Cycle(self.n_turns, s.wall_ms / 1e3, [s.wall_ms], self.ops_per_cycle)

    def warm_up(self) -> None:
        """Two jobs: in a fresh JVM the job's CPU time is about twice its
        plateau after one warm-up job and 1.5 times after two, a third of
        it JIT compilation."""
        self.cycle()
        self.cycle()

    def check(self) -> int:
        con = _duck()
        con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{self.raw}/*.parquet')")
        for tier, unit in TIER_UNITS.items():
            con.execute(f"CREATE TABLE o_{tier} AS {_tier_sql(unit)}")
        # gap-filled 1h points: every hour from a conversation's first
        # bucket to its last
        want_blocks = con.execute(
            "SELECT count(*), sum(h) FROM (SELECT date_diff('hour', min(bucket_start),"
            " max(bucket_start)) + 1 AS h FROM o_1h GROUP BY conv_id)"
        ).fetchone()
        wrong = 0
        for root in self.stores:
            for tier in TIER_UNITS:
                got = f"SELECT {TIER_COLS} FROM {_scan(root / 'tiers' / tier)}"
                wrong += _bag_diff(con, got, f"SELECT {TIER_COLS} FROM o_{tier}") != 0
            got_blocks = con.execute(
                f"SELECT count(*), sum(n) FROM {_scan(root / 'blocks_1h')}"
            ).fetchone()
            wrong += tuple(got_blocks) != tuple(want_blocks)
        con.close()
        return wrong

    def layer_counts(self) -> dict[str, float]:
        last = self.stores[-1]
        con = _duck()
        tier_rows = con.execute(f"SELECT count(*) FROM {_scan(last / 'tiers' / '1h')}").fetchone()[0]
        points = con.execute(f"SELECT sum(n) FROM {_scan(last / 'blocks_1h')}").fetchone()[0]
        con.close()
        return {
            "gapfill.rows_out_per_row_in": points / tier_rows,
            "compress.bytes_per_point": _bytes(last / "blocks_1h") / (points * len(PARAMS)),
        }


class IngestServe(Workload):
    """Each cycle: one time-ordered micro-batch through
    incremental.ingest_batch, then three conversation views (a tier read
    and a block read of one conversation) and one tiered range read, all
    on the same store."""

    name = "ingest_serve"
    N_CONV = 1000
    SPAN_DAYS = 4
    PRELOAD_DAYS = 2
    BATCH_TURNS = 1000  # on-time turns per micro-batch
    LATE_SHARE = 0.02
    LATE_TURN = 1_000_000  # late copies get turn_idx + LATE_TURN
    VIEWS = 3  # conversation views per cycle, see _picks
    ops_per_cycle = 1 + 2 * VIEWS + 1  # an ingest, the views, a range read
    RANGE_DAYS = 3
    KEEP_S = {"1m": 6 * 3600, "1h": 2 * 86400, "1d": None}
    SEED_SALT = 7919  # the generator runs with a different seed than rollup_batch

    def generate(self, out: Path) -> None:
        seed = self.seed + self.SEED_SALT
        n_conv = max(int(self.N_CONV * self.scale), 20)
        table = synth_transcripts(
            self.spark, n_conv=n_conv, seed=seed, span_days=self.SPAN_DAYS
        ).toArrow()
        df = table.to_pandas()
        t0 = pd.Timestamp(START, tz="UTC") + pd.Timedelta(days=self.PRELOAD_DAYS)
        # cut the rest into batches of about BATCH_TURNS turns; equal
        # timestamps always share a batch, so no on-time row is late
        step = max(int(self.BATCH_TURNS * self.scale), 10)
        cuts = np.unique(df.ts[df.ts >= t0].sort_values().to_numpy()[step::step])
        df["_b"] = np.where(df.ts < t0, 0, 1 + np.searchsorted(cuts, df.ts.to_numpy(), "right"))
        # a seeded share of each batch's rows arrives again, a day
        # before the preload ends: always at or before the store's
        # last_day, so ingest must route every copy to quarantine
        u = np.random.default_rng(seed).integers(0, 10_000, len(df))
        late = (df._b >= 1) & (u < int(self.LATE_SHARE * 10_000))
        copies = df[late].assign(
            turn_idx=df.turn_idx[late] + self.LATE_TURN,
            ts=t0 - pd.Timedelta(days=1) - pd.to_timedelta(u[late] % 3600, unit="s"),
        )
        for b, part in pd.concat([df, copies]).groupby("_b"):
            (out / "turns" / f"_b={b}").mkdir(parents=True)
            pq.write_table(
                pa.Table.from_pandas(part.drop(columns="_b"), table.schema, preserve_index=False),
                out / "turns" / f"_b={b}" / "part-0.parquet",
                # timestamps as Spark itself writes them
                use_deprecated_int96_timestamps=True,
            )

    def _src(self) -> str:
        return f"read_parquet('{self.inputs}/turns/*/*.parquet', hive_partitioning = true)"

    def prepare(self, inputs: Path) -> None:
        super().prepare(inputs)
        con = _duck()
        per_batch = con.execute(
            f"SELECT _b, list(DISTINCT conv_id ORDER BY conv_id) FROM {self._src()}"
            f" WHERE turn_idx < {self.LATE_TURN} GROUP BY _b ORDER BY _b"
        ).fetchall()
        con.close()
        self.convs = {b: convs for b, convs in per_batch}
        # batches run in order, so stop before the first empty one
        self.n_batches = next(b for b in range(1, len(self.convs) + 1) if b not in self.convs) - 1
        n_conv = max(int(self.N_CONV * self.scale), 20)
        self.hot = [f"conv{i:06d}" for i in range(max(int(n_conv * 0.01), 1))]
        self.store = TranscriptStore(self.work / "ingest_store", n_buckets=N_BUCKETS)
        self.reads: list[tuple] = []  # (batch, conv, tier rows, block rows)
        self.batch = 0
        ingest_batch(self.store, self._batch(0), "perfbench", 0)
        write_blocks(self.spark, self.store)

    def _batch(self, b: int):
        return self.spark.read.parquet(str(self.inputs / "turns" / f"_b={b}"))

    def _picks(self, b: int, views: int) -> list[str]:
        """Seeded conversation views after batch b, taken in turn from
        the hot ones, those the batch touched (new or still active), and
        the old ones, which may be cold (absent from every batch so far)."""
        rng = np.random.default_rng([self.seed, b])
        pools = (self.hot, self.convs[b], self.convs[0])
        return [str(rng.choice(pools[k % 3])) for k in range(views)]

    def warm_up(self) -> None:
        """Every code path of a cycle once; the first batch after the
        preload is the slowest."""
        self.cycle(views=1)

    def has_input(self) -> bool:
        return self.batch < self.n_batches

    def cycle(self, views: int = VIEWS) -> Cycle:
        spark, span = self.spark, self.tracer.span
        self.batch += 1
        b = self.batch
        with span(self.name):
            input_bytes = _bytes(self.inputs / "turns" / f"_b={b}")
            with span("incremental.ingest_batch") as s:
                res = ingest_batch(self.store, self._batch(b), "perfbench", b)
            s.counts["input_bytes"] = input_bytes
            cyc = Cycle(res["rows_in"], s.wall_ms / 1e3, ops=2 + 2 * views)
            for conv in self._picks(b, views):
                with span("view") as v:
                    with span("readback.read_conv_series") as r:
                        tier = read_conv_series(spark, self.store, conv, "1h").toPandas()
                        r.counts["rows"] = len(tier)
                    with span("readback.read_block_series"):
                        blocks = read_block_series(
                            spark, self.store.blocks_path("1h"), conv, PARAMS
                        ).toPandas()
                cyc.latencies_ms.append(v.wall_ms)
                self.reads.append((b, conv, tier, blocks))
            now = dt.datetime.fromisoformat(self.store.load_overview().last_day)
            with span("retention.tiered_read_store"):
                tiered_read_store(
                    spark, self.store, now - dt.timedelta(days=self.RANGE_DAYS), now, now,
                    keep_s=self.KEEP_S,
                ).toPandas()
        return cyc

    def check(self) -> int:
        con = _duck()
        con.execute(
            f"CREATE TABLE ontime AS SELECT * FROM {self._src()}"
            f" WHERE _b <= {self.batch} AND turn_idx < {self.LATE_TURN}"
        )
        wrong = 0
        t = "(SELECT * EXCLUDE (_b) FROM ontime)"
        for tier, unit in TIER_UNITS.items():
            got = f"SELECT {TIER_COLS} FROM {_scan(self.store.root / 'tiers' / tier)}"
            wrong += _bag_diff(con, got, f"SELECT {TIER_COLS} FROM ({_tier_sql(unit, t)})") != 0
        cols = "conv_id, turn_idx, role, text, tool, ts"
        late = (
            f"SELECT {cols} FROM {self._src()} WHERE _b BETWEEN 1 AND {self.batch}"
            f" AND turn_idx >= {self.LATE_TURN}"
        )
        quarantined = f"SELECT {cols} FROM {_scan(self.store.root / '_quarantine')}"
        wrong += _bag_diff(con, quarantined, late) != 0

        tier_cols = [c.strip() for c in TIER_COLS.split(",")]
        # blocks were written once, from the preloaded 1h tier
        pre = con.execute(_tier_sql("hour", "(SELECT * FROM ontime WHERE _b = 0)")).df()
        for b, conv, tier, blocks in self.reads:
            want = con.execute(
                _tier_sql("hour", f"(SELECT * FROM ontime WHERE _b <= {b} AND conv_id = '{conv}')")
            ).df()
            wrong += not _same_rows(tier, want, tier_cols)
            series = pre[pre.conv_id == conv].set_index("bucket_start")[PARAMS].sort_index()
            if len(series):
                hours = pd.date_range(series.index[0], series.index[-1], freq="h")
                series = series.astype("float64").reindex(hours).ffill()
            want_blocks = series.rename_axis("ts").reset_index().assign(conv_id=conv)
            wrong += not _same_rows(blocks, want_blocks, ["conv_id", "ts", *PARAMS])
        con.close()
        return wrong

    def layer_counts(self) -> dict[str, float]:
        con = _duck()
        quarantined = con.execute(
            f"SELECT count(*) FROM {_scan(self.store.root / '_quarantine')}"
        ).fetchone()[0]
        con.close()
        return {"incremental.rows_quarantined": quarantined / self.batch}


VOCAB = (
    "a agg batch big column data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table value window"
).split()


class TextDedup(Workload):
    """text_profile, then MinHash near-dup pairs, connected components and
    the exact-dedup anti-join, over a seeded corpus with near-duplicate
    and exact copies."""

    name = "text_dedup"
    ops_per_cycle = 3
    N_DOCS = 2000
    NEAR_SHARE = 0.10  # docs that get a near-duplicate copy
    EXACT_SHARE = 0.02  # docs that get an exact copy
    NEAR_ID = 1_000_000  # copy ids: NEAR_ID + original id
    EXACT_ID = 2_000_000

    def generate(self, out: Path) -> None:
        rng = np.random.default_rng(self.seed)
        n = max(int(self.N_DOCS * self.scale), 50)
        texts = [" ".join(rng.choice(VOCAB, k)) for k in rng.integers(8, 100, n)]
        ids = list(range(n))
        for i in rng.choice(n, int(n * self.NEAR_SHARE), replace=False):
            words = texts[i].split()
            for p in rng.choice(len(words), max(1, len(words) // 20), replace=False):
                words[p] = str(rng.choice(VOCAB))
            texts.append(" ".join(words))
            ids.append(self.NEAR_ID + int(i))
        for i in rng.choice(n, int(n * self.EXACT_SHARE), replace=False):
            texts.append(texts[i])
            ids.append(self.EXACT_ID + int(i))
        table = pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": texts,
                "lang": rng.choice(["en", "es", "de", "fr", "zh"], len(ids)).tolist(),
                "source": [f"src{k}" for k in rng.integers(0, 4, len(ids))],
                "n_chars": [len(t) for t in texts],
            }
        )
        (out / "docs").mkdir(parents=True)
        pq.write_table(table, out / "docs" / "part-0.parquet")

    def prepare(self, inputs: Path) -> None:
        super().prepare(inputs)
        self.docs = str(inputs / "docs")
        self.n_docs = pq.read_metadata(inputs / "docs" / "part-0.parquet").num_rows
        self.digests: list[tuple] = []
        self.rounds: list[int] = []
        self.survivors: list[int] | None = None

    def _pass(self, keep_ids: bool = False):
        spark, span = self.spark, self.tracer.span
        docs = spark.read.parquet(self.docs)
        with span("text.text_profile"):
            text_profile(docs, portable=False).write.format("noop").mode("overwrite").save()
        pairs = minhash_dedup_pairs(docs, threshold=0.7, portable=False)
        stats: dict = {}
        with span("dedup.near_dup_components"):
            comp = near_dup_components(pairs, stats=stats)
        drop = comp.where(~F.col("keep")).select("doc_id")
        with span("dedup.dedup_apply"):
            out = dedup_apply(docs).join(drop, "doc_id", "left_anti")
            # one row that pins the surviving set: forces the whole plan
            # like a noop write, and is checked against the first pass
            digest = tuple(
                out.agg(F.count(F.lit(1)), F.expr("bit_xor(xxhash64(doc_id))")).collect()[0]
            )
        self.rounds.append(stats["rounds"])
        if keep_ids:
            self.survivors = sorted(r.doc_id for r in out.select("doc_id").collect())
        return digest

    def warm_up(self) -> None:
        """Its surviving set is the reference every timed pass must
        reproduce."""
        self.reference = self._pass(keep_ids=True)

    def cycle(self) -> Cycle:
        with self.tracer.span(self.name) as s:
            self.digests.append(self._pass())
        return Cycle(self.n_docs, s.wall_ms / 1e3, [s.wall_ms], self.ops_per_cycle)

    def check(self) -> int:
        survivors = set(self.survivors)
        wrong = sum(d != self.reference for d in self.digests)
        # exact copies always lose to their original (min id per content)
        wrong += any(i >= self.EXACT_ID for i in survivors)
        wrong += len(survivors) != self.reference[0]
        return wrong

    def layer_counts(self) -> dict[str, float]:
        docs = self.spark.read.parquet(self.docs)
        sigs = docs.where(F.col("text").isNotNull()).select(
            "doc_id", minhash_signature(F.col("text"), portable=False).alias("sig")
        )
        candidates = lsh_candidate_pairs(sigs).count()
        verified = minhash_dedup_pairs(docs, threshold=0.7, portable=False).count()
        return {
            "dedup.candidate_pairs": candidates,
            "dedup.verified_per_candidate": verified / max(candidates, 1),
            "dedup.cc_rounds": statistics.median(self.rounds),
        }


WORKLOADS = {w.name: w for w in (RollupBatch, IngestServe, TextDedup)}
