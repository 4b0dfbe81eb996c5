"""Partitioned table store — the engine's cell-file/catalog analog.

Layout (parquet + manifest; an Iceberg runtime jar isn't available in
this sandbox, so snapshots are modeled by an atomic JSON overview +
an append-only checkpoint table — the logical semantics are identical
and the substitution is documented in BENCH/BASELINE.md):

    root/
      transcripts/ts_date=YYYY-MM-DD/...   raw turns, days(ts) pruning
      tiers/{1m,1h,1d}/bucket_date=D/bucket_id=K/...
                                           tier partials, time-major,
                                           then key-bucketed
      blocks_<tier>/block_date=D/bucket_id=K/...
                                           compressed block rows
                                           (compress_series); each row
                                           names its value codec
      _checkpoint/                         per-batch lineage+metrics rows
      _quarantine/                         late and NULL-ts raw rows
      _staging/<name>/                     one commit's writes before
                                           they are published
      overview.json                        last_day / parameters state,
                                           each table's schema, and the
                                           pending publish

* `ts_date` partitioning ≙ the reference's yearly-subdir + date-coded
  filename layout (/root/reference/src/smos/interface.py:436-444):
  time predicates prune whole directories.
* `bucket_id = pmod(xxhash64(conv_id), n_buckets)` ≙ the 5°×5° cell
  assignment `lonlat2cell` (/root/reference/src/smos/grid.py:100-105);
  a point read touches exactly one bucket directory the way the
  reference reads one cell file (docs/img2ts.rst:13-16).
* `overview.json` ≙ overview.yml (smos_l2/reshuffle.py:71-94): written
  only after a batch's data, read back for the monotonic guard.
  It is also the store's catalog, the way Iceberg keeps a table's
  schema in its metadata: every tier and block writer records the
  schema it wrote, and the readers scan with it, so Spark never runs a
  footer-reading job to infer one (`_checkpoint` has the fixed
  CHECKPOINT_SCHEMA).
* One reader and one writer serve every (date, bucket) table, tiers
  and blocks alike. `_write` adds the partition columns from a row's
  own timestamp and key, sorts and overwrites; `_read` turns a
  half-open time range [lo, hi) into day-directory pruning and a key
  into one bucket directory. Readers (`read_tier`, `read_blocks`)
  return the table's own columns, never the partition columns.
* Tiers are built whole by `write_tier` and maintained by
  `merge_tiers`: new partials (raw turns through
  `rollup.turn_partials`) are merged with the existing rows of the day
  partitions they touch, for all three tiers in one shuffle and one
  write job, into a staging directory.

Staged commit (the reference writes its state only after the data,
smos_l2/reshuffle.py:147-152). It is the only way a maintained table
directory changes. A writer puts everything a commit changes under
`_staging/<name>/`: `append/<table>/...` holds files to add to a table
(raw turns, late rows, lineage rows), `swap/<table>/...` holds
directories that replace the live ones (tier partitions, rewritten raw
days, a compacted `_checkpoint`). `commit_staged` then saves the
overview with the commit's new state and a `pending` record in one
atomic rename — the commit point — and publishes: it swaps each staged
directory for the live one, then moves the staged files in (swaps go
first, so rows appended to a table the same commit replaces are kept),
deletes the directories listed as `drop` (stale or expired day
partitions), removes the staging directory and clears `pending`.

An ingest batch stages its raw turns and its late rows with one
`append_transcripts` write, the late rows under its `NULL_DAY`
directory, which the batch renames to `append/_quarantine/` before it
commits. Lineage rows are written by `append_checkpoint` on the driver
with pyarrow, so staging them runs no Spark job.

The committers are `ingest_batch` (staged at `<run_id>-<batch_id>`)
and the maintenance commits `merge_quarantine`, `apply_retention`,
`compact_checkpoint` and `compact_transcripts` (staged at `<run_id>`).
Only an ingest batch sets `last_batch_id`, and it and
`scripts/rollup_job.py` (after its tier writes) are the only writers of
`last_day`, the newest turn's ts as wall time in the session time zone
(observed by Spark, so the Python process's zone never enters); a
maintenance commit leaves the batch counter alone, so it
never takes the id of a stream's next epoch. Each committer calls
`roll_forward` first under the writer lock (`writer`): it finishes a
pending publish (each step is skipped once done, so a crash at any
point converges) and discards any staging directory without one, which
was never committed.
Readers see only published state and never roll forward: after a crash
mid-publish, a table can miss a swapped directory (or `_checkpoint` be
absent) until the next writer rolls the commit forward. Publishing is
renames on the local filesystem, like `Overview.save`; an object store
has no atomic rename and is out of scope.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import shutil
import warnings
from dataclasses import dataclass
from functools import reduce
from pathlib import Path

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from smos_spark.functions.timegrid import instant, ts_lit
from smos_spark.operators.rollup import _MERGE, _bucket, _merge_aggs
from smos_spark.schema import TIERS

DEFAULT_N_BUCKETS = 64

#: expected distinct conv_ids per written file for the parquet bloom
#: filter (sizes the bitmap; ~80 KB/file at 2^16 NDV / 1% FPP)
DEFAULT_BLOOM_NDV = 1 << 16


class ConcurrentWriterError(RuntimeError):
    """A second writer attempted tier maintenance on a locked store."""

CHECKPOINT_SCHEMA = (
    "run_id string, batch_id long, tier string, partition_key string, "
    "rows_in long, rows_out long, min_ts timestamp, max_ts timestamp, "
    "committed_seq long"
)

#: where a `ts_date`-partitioned write puts the rows whose day is NULL
NULL_DAY = "ts_date=__HIVE_DEFAULT_PARTITION__"


def bucket_expr(col="conv_id", n_buckets: int = DEFAULT_N_BUCKETS):
    """Deterministic key→bucket assignment (J4, the lonlat2cell analog).
    `col` is a column name or a Column (a literal key gives a foldable
    expression)."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


_US = dt.timedelta(microseconds=1)


@dataclass
class Overview:
    """State sidecar (overview.yml analog, misc.py:82-90)."""

    last_day: str | None = None  # max ts seen, ISO string in the session zone
    last_batch_id: int = -1
    parameters: dict | None = None
    extra: dict = None  # free-form state (e.g. retention_floor per tier)
    schemas: dict = None  # table dir (relative to the root) → schema JSON
    pending: dict | None = None  # the committed publish not yet finished

    @classmethod
    def load(cls, path: Path) -> "Overview":
        if not path.exists():
            return cls(extra={}, schemas={})
        d = json.loads(path.read_text())
        return cls(
            last_day=d.get("last_day"),
            last_batch_id=d.get("last_batch_id", -1),
            parameters=d.get("parameters"),
            extra=d.get("extra") or {},
            schemas=d.get("schemas") or {},
            pending=d.get("pending"),
        )

    def save(self, path: Path) -> None:
        tmp = path.with_suffix(".tmp")
        tmp.write_text(
            json.dumps(
                {
                    "comment": "smos_spark store state (overview.yml analog)",
                    "last_day": self.last_day,
                    "last_batch_id": self.last_batch_id,
                    "parameters": self.parameters,
                    "extra": self.extra or {},
                    "schemas": self.schemas or {},
                    "pending": self.pending,
                }
            )
        )
        os.replace(tmp, path)  # atomic commit


class TranscriptStore:
    def __init__(
        self,
        root: str | Path,
        n_buckets: int | None = None,
        bloom_ndv: int | None = DEFAULT_BLOOM_NDV,
    ):
        """n_buckets=None reopens an existing store with the bucket
        count recorded in its overview sidecar (the layout is physical
        — reading with a different count silently misses buckets);
        for a new store it falls back to DEFAULT_N_BUCKETS.

        bloom_ndv sizes the per-file parquet BLOOM FILTER on conv_id
        written by every tier/block writer (None disables). Bucket
        pruning narrows a point read to one directory; within the
        bucket, files are conv-sorted so column min/max prunes
        row-groups of OTHER convs — the bloom filter closes the
        remaining gap (absent keys, and keys inside a row-group's
        [min,max] span that the group doesn't actually contain):
        equality predicates on conv_id skip whole row-groups without
        decoding them (asserted via scan metrics in
        test_point_read_bloom_prunes_row_groups). Write-time-only
        property; readers need no configuration.

        The overview sidecar is also the store's catalog: each tier and
        block writer records the schema it wrote there (partition
        columns included), and the readers scan with that schema, so
        opening a table launches no schema-inference job. Tables
        written before schemas were recorded are read with inference."""
        self.root = Path(root)
        recorded = (Overview.load(self.root / "overview.json").extra or {}).get(
            "n_buckets"
        )
        if n_buckets is None:
            n_buckets = recorded if recorded is not None else DEFAULT_N_BUCKETS
        elif recorded is not None and n_buckets != recorded:
            raise ValueError(
                f"store at {self.root} is physically bucketed with "
                f"n_buckets={recorded}; reopening with {n_buckets} would "
                "mis-bucket reads and writes (omit n_buckets to reopen)"
            )
        self.n_buckets = n_buckets
        self.bloom_ndv = bloom_ndv
        self.root.mkdir(parents=True, exist_ok=True)

    def _with_point_read_options(self, writer):
        """Attach the conv_id bloom-filter options to a DataFrameWriter
        (all tier/block writers route through here so point-read
        pruning is uniform across layouts)."""
        if not self.bloom_ndv:
            return writer
        return writer.option(
            "parquet.bloom.filter.enabled#conv_id", "true"
        ).option("parquet.bloom.filter.expected.ndv#conv_id", str(self.bloom_ndv))

    # --- paths ---
    @property
    def transcripts_path(self) -> str:
        return str(self.root / "transcripts")

    def tier_path(self, tier: str) -> str:
        assert tier in TIERS
        return str(self.root / "tiers" / tier)

    @property
    def checkpoint_path(self) -> str:
        return str(self.root / "_checkpoint")

    @property
    def overview_path(self) -> Path:
        return self.root / "overview.json"

    def _scan(self, spark: SparkSession, path: str) -> DataFrame:
        """The table at `path`, partition columns included, read with
        the schema its writer recorded (a declared schema means no
        footer-reading job); unrecorded tables fall back to inference."""
        schema = self.load_overview().schemas.get(self._table_key(path))
        if schema is None:
            return spark.read.parquet(path)
        return spark.read.schema(T.StructType.fromJson(schema)).parquet(path)

    def _table_key(self, path: str) -> str:
        return Path(path).relative_to(self.root).as_posix()

    def _record_schema(self, path: str, written: DataFrame) -> None:
        self.save_overview(self.load_overview(), {self._table_key(path): written.schema})

    # --- raw table ---
    def append_transcripts(
        self, df: DataFrame, path: str | None = None, day: Column | None = None
    ) -> None:
        """Append raw turns to the table, or to `path` (a staged append),
        one file per `ts_date` day. `day` replaces the day column
        (default `to_date(ts)`): rows whose `day` is NULL are written to
        the `NULL_DAY` directory of `path`."""
        (
            df.withColumn("ts_date", F.to_date("ts") if day is None else day)
            .repartition("ts_date")  # one writer wave per day partition
            .write.partitionBy("ts_date")
            .mode("append")
            .parquet(path or self.transcripts_path)
        )

    def read_transcripts(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.transcripts_path).drop("ts_date")

    # --- tier and block tables ---
    # Layout: <date_col>=YYYY-MM-DD/bucket_id=K/part-*.parquet
    # time-major first so incremental merges rewrite only the dates a
    # batch touches; key-bucketed second for point-read locality.
    def _with_partition_cols(self, df: DataFrame, date_col: str, ts_col: str) -> DataFrame:
        return df.withColumn(date_col, F.to_date(ts_col)).withColumn(
            "bucket_id", bucket_expr("conv_id", self.n_buckets)
        )

    def _write(self, df: DataFrame, path: str, date_col: str, ts_col: str) -> None:
        """Overwrite the table at `path` partitioned on (date_col =
        date(ts_col), bucket_id), and record the schema written.

        Hash-repartition on the partition columns (one shuffle, no
        sampling pass — repartitionByRange would re-execute the whole
        upstream aggregate to sample range boundaries). The sort leads
        with the partition columns so the dynamic-partition writer's
        required ordering is already satisfied: no hidden second sort,
        one open file at a time, conv-clustered rows."""
        out = self._with_partition_cols(df, date_col, ts_col)
        self._with_point_read_options(
            out.repartition(date_col, "bucket_id")
            .sortWithinPartitions(date_col, "bucket_id", "conv_id", ts_col)
            .write.partitionBy(date_col, "bucket_id")
            .mode("overwrite")
        ).parquet(path)
        self._record_schema(path, out)

    def _read(
        self,
        spark: SparkSession,
        path: str,
        date_col: str,
        lo=None,
        hi=None,
        conv_id: str | None = None,
        ts_col: str | None = None,
    ) -> DataFrame:
        """The table at `path` pruned to the half-open range [lo, hi)
        and to one key, without its partition columns.

        The range prunes day directories: date(lo) <= date_col <=
        date(hi - 1µs), exact because a row's date is derived from its
        own timestamp. With `ts_col`, rows are also cut to lo <= ts_col
        < hi. The key adds the bucket predicate, `bucket_expr` over a
        literal: it is foldable, so the optimizer folds it to a
        constant during partition pruning, which keeps exactly one
        bucket directory with no job to compute the bucket (the
        read-one-cell-file locality of the reference, J2), and the
        conv_id equality reaches the parquet bloom filter."""
        lo, hi = instant(lo), instant(hi)
        df = self._scan(spark, path)
        if lo is not None:
            df = df.where(F.col(date_col) >= F.lit(lo.date()))
            if ts_col is not None:
                df = df.where(F.col(ts_col) >= ts_lit(lo))
        if hi is not None:
            df = df.where(F.col(date_col) <= F.lit((hi - _US).date()))
            if ts_col is not None:
                df = df.where(F.col(ts_col) < ts_lit(hi))
        if conv_id is not None:
            bucket = bucket_expr(F.lit(conv_id), self.n_buckets)
            df = df.where((F.col("bucket_id") == bucket) & (F.col("conv_id") == conv_id))
        return df.drop(date_col, "bucket_id")

    def write_tier(self, tier_df: DataFrame, tier: str) -> None:
        self._write(tier_df, self.tier_path(tier), "bucket_date", "bucket_start")

    def merge_tiers(
        self,
        rows_by_tier: dict[str, DataFrame],
        staging: Path,
        obs: Observation | None = None,
    ) -> None:
        """Merge partials into several tiers with one shuffle and one
        write job, staged for `commit_staged` (the Iceberg-MERGE
        substitute). `rows_by_tier` maps a tier to partials at that tier
        or finer: turn_partials of raw turns, plus the tier's own rows of
        the partitions being rewritten. Each tier's rows are truncated
        to the tier and tagged with it; the merged (bucket_date,
        bucket_id) partitions land in `staging/swap/tiers/<tier>/`, and
        publishing swaps exactly those for the live ones. An `obs`
        observes each tier's merged row count as ``rows_out_<tier>``.

        One shuffle: the repartition on (tier, bucket_date, bucket_id)
        already clusters the merge's grouping keys, so the aggregation
        and the writer's sort run in the same stage."""
        tagged = [
            rows.withColumn("bucket_start", _bucket(F.col("bucket_start"), tier)).withColumn(
                "tier", F.lit(tier)
            )
            for tier, rows in rows_by_tier.items()
        ]
        keyed = self._with_partition_cols(
            reduce(DataFrame.unionByName, tagged), "bucket_date", "bucket_start"
        )
        out = (
            keyed.repartition("tier", "bucket_date", "bucket_id")
            .groupBy("tier", "bucket_date", "bucket_id", "conv_id", "bucket_start")
            .agg(*_merge_aggs())
            .select("conv_id", "bucket_start", *_MERGE, "tier", "bucket_date", "bucket_id")
        )
        if obs is not None:
            out = out.observe(
                obs,
                *(F.count_if(F.col("tier") == t).alias(f"rows_out_{t}") for t in rows_by_tier),
            )
        staged = staging / "swap" / "tiers"
        self._with_point_read_options(
            out.sortWithinPartitions("tier", "bucket_date", "bucket_id", "conv_id", "bucket_start")
            .write.partitionBy("tier", "bucket_date", "bucket_id")
        ).parquet(str(staged))
        for tier in rows_by_tier:  # tier=1m/... mirrors tiers/1m/...
            if (staged / f"tier={tier}").exists():
                os.replace(staged / f"tier={tier}", staged / tier)
        schema = out.drop("tier").schema
        self.save_overview(
            self.load_overview(),
            {self._table_key(self.tier_path(t)): schema for t in rows_by_tier},
        )

    def read_tier(
        self, spark: SparkSession, tier: str, lo=None, hi=None, conv_id: str | None = None
    ) -> DataFrame:
        """The tier's rows with lo <= bucket_start < hi (each bound a
        datetime, a date or an ISO string; None leaves that side open),
        of one conversation if `conv_id` is given. Both prune the scan:
        the range to its day directories, the key to one bucket
        directory."""
        path = self.tier_path(tier)
        return self._read(spark, path, "bucket_date", lo, hi, conv_id, "bucket_start")

    def blocks_path(self, tier: str) -> str:
        return str(self.root / f"blocks_{tier}")

    def write_blocks(
        self,
        blocks: DataFrame,
        tier: str = "1h",
    ) -> None:
        """Persist compressed per-conv block rows under
        blocks_<tier>/block_date=…/bucket_id=… — the K3 cell layout
        applied to the codec family. Expects the output of
        `compress_series(..., stats=True, slice_col=F.to_date(ts))`
        (day-sliced blocks with per-block min/max stats): the slice
        day, which is the date of each block's first_ts, becomes the
        date partition, so time-range reads prune whole day
        directories, bucket_id prunes point reads, and the stored stats
        let `blocks_range_minmax` answer covered blocks without
        decoding. Written by the same writer as the tiers. Each row
        names its own codec, so none is recorded."""
        if "slice" not in blocks.columns:
            raise ValueError(
                "write_blocks expects day-sliced blocks: run "
                "compress_series(..., slice_col=F.to_date(ts_col))"
            )
        # enforce DAY grain: blocks_range_minmax's day-partition
        # pruning assumes every block's span lies inside its slice day;
        # a coarser slice (week) would make the pruning DROP in-range
        # data silently. One limit(1) probe at write time.
        bad = blocks.where(
            (F.to_date("first_ts") != F.col("slice"))
            | (F.to_date("last_ts") != F.col("slice"))
        ).limit(1)
        if bad.count() > 0:
            raise ValueError(
                "write_blocks: block spans cross their slice value — "
                "slices must be DAY-grained (slice_col=F.to_date(ts_col))"
            )
        self._write(blocks.drop("slice"), self.blocks_path(tier), "block_date", "first_ts")

    def read_blocks(
        self, spark: SparkSession, tier: str, lo=None, hi=None, conv_id: str | None = None
    ) -> DataFrame:
        """Block rows of the days that [lo, hi) touches (bounds as in
        `read_tier`; a block is kept whole, so it may reach outside the
        range), of one conversation if `conv_id` is given."""
        return self._read(spark, self.blocks_path(tier), "block_date", lo, hi, conv_id)

    def blocks_range_minmax(
        self,
        spark: SparkSession,
        tier: str,
        value_col: str,
        ts_from,
        ts_to,
    ) -> DataFrame:
        """Per-conv (min, max, count) over [ts_from, ts_to] straight
        from the block store: day-partition pruning cuts the scan to
        the range's days, block stats answer fully-covered blocks
        without decode, and only the ≤2 boundary-day blocks per conv
        decompress (compress.range_minmax). ts_from/ts_to: datetimes,
        dates or ISO strings. Each block decodes by the codec its row
        names."""
        from smos_spark.operators.compress import range_minmax

        blocks = self.read_blocks(spark, tier, ts_from, instant(ts_to) + _US)
        # stats columns are required for the covered-block fast path
        if f"{value_col}_min" not in blocks.columns:
            raise ValueError(
                f"blocks_{tier} lacks {value_col}_min/_max stats — write "
                "them with compress_series(..., stats=True)"
            )
        return range_minmax(blocks, value_col, ts_from, ts_to)

    def tier_bucket_count(self, tier: str) -> int:
        """Number of distinct key buckets on disk (the 2,449-cell-files
        assertion analog, tests/test_ICreshuffle.py:47)."""
        p = Path(self.tier_path(tier))
        buckets = set()
        for date_dir in p.glob("bucket_date=*"):
            for b in date_dir.glob("bucket_id=*"):
                buckets.add(b.name)
        return len(buckets)

    # --- subset re-export (reference K2 round trip) ---
    def export_subset(
        self,
        spark: SparkSession,
        out_root: str | Path,
        tier: str = "1h",
        conv_lo: str | None = None,
        conv_hi: str | None = None,
        ts_lo=None,
        ts_hi=None,
        parameters=None,
        n_buckets: int | None = None,
    ) -> "TranscriptStore":
        """Re-export a key/time subset of a tier as a NEW self-contained
        store with the same time-major day-partitioned layout — the
        reference's subset-and-write round trip
        (/root/reference/src/smos/interface.py:465-500, pinned by
        tests/test_ICimg_subset_and_write.py:38-77): read a subset of
        points, write them as new date-coded files that the SAME reader
        opens. Filters land on the scan (bucket_date partition pruning
        for the ts range; conv_id min/max row-group stats for the key
        range); one write, no driver materialization. ts_lo/ts_hi
        bound bucket_start inclusively."""
        hi = None if ts_hi is None else instant(ts_hi) + _US
        df = self.read_tier(spark, tier, ts_lo, hi)
        if conv_lo is not None:
            df = df.where(F.col("conv_id") >= conv_lo)
        if conv_hi is not None:
            df = df.where(F.col("conv_id") <= conv_hi)
        if parameters:
            df = df.select("conv_id", "bucket_start", *list(parameters))
        out = TranscriptStore(out_root, n_buckets=n_buckets or self.n_buckets)
        out.write_tier(df, tier)
        ov = out.load_overview()
        ov.parameters = {
            "exported_from": str(self.root),
            "tier": tier,
            "conv_range": [conv_lo, conv_hi],
            "ts_range": [str(ts_lo) if ts_lo else None, str(ts_hi) if ts_hi else None],
        }
        out.save_overview(ov)
        return out

    # --- writer exclusion ---
    # The parquet+manifest substitute for Iceberg has no snapshot
    # isolation: two concurrent ingest_batch runs could interleave
    # partition swaps and overview commits. This advisory lock
    # (O_EXCL lock file carrying pid + timestamp, stale after
    # `stale_sec`) makes the single-writer assumption explicit and
    # enforced rather than silent — the reference has the same
    # weakness via overview.yml and no lock at all.
    @property
    def lock_path(self) -> Path:
        return self.root / "_writer.lock"

    def acquire_writer_lock(self, stale_sec: int = 3600) -> None:
        import time

        payload = json.dumps({"pid": os.getpid(), "ts": time.time()})
        try:
            fd = os.open(self.lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, payload.encode())
            os.close(fd)
            return
        except FileExistsError:
            pass
        try:
            held = json.loads(self.lock_path.read_text())
        except Exception:
            held = {}
        if time.time() - held.get("ts", 0) > stale_sec:
            # stale holder (crashed writer): steal atomically-ish
            tmp = self.lock_path.with_suffix(".steal")
            tmp.write_text(payload)
            os.replace(tmp, self.lock_path)
            return
        raise ConcurrentWriterError(
            f"store {self.root} is locked by writer {held.get('pid')} "
            f"(age {time.time() - held.get('ts', 0):.0f}s); concurrent tier "
            "maintenance would interleave partition overwrites"
        )

    def release_writer_lock(self) -> None:
        """Release only if WE still hold the lock. A writer that ran
        past stale_sec may have had its lock stolen by a newer writer;
        unconditionally unlinking would evict that new holder and let
        a third writer interleave with its in-flight partition
        overwrites."""
        with contextlib.suppress(FileNotFoundError):
            try:
                held = json.loads(self.lock_path.read_text())
            except Exception:
                held = {}
            if held.get("pid") not in (None, os.getpid()):
                warnings.warn(
                    f"store {self.root}: writer lock now held by pid "
                    f"{held.get('pid')} (ours was stolen as stale) — "
                    "leaving it in place",
                    stacklevel=2,
                )
                return
            os.unlink(self.lock_path)

    # --- state ---
    def load_overview(self) -> Overview:
        return Overview.load(self.overview_path)

    def save_overview(
        self, ov: Overview, schemas: dict[str, T.StructType] | None = None
    ) -> None:
        """Commit `ov`. Every commit records the physical bucket layout
        so a reopen (n_buckets=None) can never mis-bucket point reads.
        Table schemas are set only by the writers (`schemas`, keyed by
        table directory); the ones already on disk are kept, so a caller
        holding an overview loaded before a write never drops them."""
        ov.extra = {**(ov.extra or {}), "n_buckets": self.n_buckets}
        ov.schemas = {
            **(ov.schemas or {}),
            **self.load_overview().schemas,
            **{k: s.jsonValue() for k, s in (schemas or {}).items()},
        }
        ov.save(self.overview_path)

    # --- staged commits ---
    @property
    def staging_root(self) -> Path:
        return self.root / "_staging"

    def staging_path(self, run_id: str, batch_id: int | None = None) -> Path:
        """Where a commit stages its writes: files under `append/<table>/`
        are added to the table, directories under `swap/<table>/` replace
        the live ones. An ingest batch stages at `<run_id>-<batch_id>`, a
        maintenance commit at `<run_id>`."""
        return self.staging_root / (run_id if batch_id is None else f"{run_id}-{batch_id}")

    @contextlib.contextmanager
    def writer(self):
        """Hold the writer lock on a rolled-forward store: how every
        committer starts."""
        self.acquire_writer_lock()
        try:
            self.roll_forward()
            yield
        finally:
            self.release_writer_lock()

    def commit_staged(self, ov: Overview, staging: Path, drop: list[str] | None = None) -> None:
        """Commit the writes staged at `staging`: save `ov`, which holds
        the state the commit changes (an ingest batch's `last_batch_id`
        and `last_day`, retention's `retention_floor`), together with
        the `pending` publish in one atomic save — the commit point —
        then publish. `drop` lists directories (relative to the root) to
        delete on publish, such as stale or expired day partitions.
        Callers are inside `writer`."""
        ov.pending = {"staging": staging.name, "drop": drop or []}
        self.save_overview(ov)
        self._publish(ov)

    def roll_forward(self) -> None:
        """Finish what a crashed writer left: publish the pending commit,
        if any, then discard every other staging directory (never
        committed, so its work is redone). Callers hold the writer
        lock."""
        ov = self.load_overview()
        if ov.pending is not None:
            self._publish(ov)
        shutil.rmtree(self.staging_root, ignore_errors=True)

    def _publish(self, ov: Overview) -> None:
        """Publish `ov.pending` by renames, then clear it. Every step is
        skipped once done (a swapped directory or a moved file is gone
        from the staging tree), so re-running after a crash at any point
        finishes the same publish. Swaps run before appends: a commit
        that replaces `_checkpoint` and appends lineage rows to it keeps
        the rows."""
        p = ov.pending
        staging = self.staging_root / p["staging"]
        swapped, replaced = staging / "swap", staging / "replaced"
        # swapped directories are the ones holding data files; a
        # directory emptied by earlier swaps holds none and is skipped
        for d in sorted({f.parent for f in swapped.rglob("part-*") if f.is_file()}):
            rel = d.relative_to(swapped)
            live = self.root / rel
            if live.exists():
                (replaced / rel).parent.mkdir(parents=True, exist_ok=True)
                os.replace(live, replaced / rel)
            live.parent.mkdir(parents=True, exist_ok=True)
            os.replace(d, live)
        added = staging / "append"
        for f in sorted(added.rglob("*")):
            if f.is_file() and not f.name.startswith(("_", "._")):  # not _SUCCESS
                dst = self.root / f.relative_to(added)
                dst.parent.mkdir(parents=True, exist_ok=True)
                os.replace(f, dst)
        for rel in p["drop"]:
            shutil.rmtree(self.root / rel, ignore_errors=True)
        self.discard_staged(staging)
        ov.pending = None
        self.save_overview(ov)

    def discard_staged(self, staging: Path) -> None:
        """Remove a commit's staging directory, and `_staging/` with it
        once empty."""
        shutil.rmtree(staging, ignore_errors=True)
        with contextlib.suppress(OSError):
            self.staging_root.rmdir()

    def day_drops(
        self, dirs: list[Path], run_id: str, batch_id: int
    ) -> tuple[list[str], list[dict]]:
        """For the day directories among `dirs` (`<table>/<col>=<day>`)
        that exist: the commit's `drop` entries and one lineage row per
        dropped day, keyed by table name and partition."""
        dirs = [d for d in dirs if d.is_dir()]
        rows = [
            {
                "run_id": run_id,
                "batch_id": batch_id,
                "tier": d.parent.name,
                "partition_key": d.name,
                "rows_in": 0,
                "rows_out": 0,
                "min_ts": None,
                "max_ts": None,
                "committed_seq": -1,
            }
            for d in dirs
        ]
        return [d.relative_to(self.root).as_posix() for d in dirs], rows

    # --- checkpoint lineage ---
    def append_checkpoint(
        self, spark: SparkSession, rows: list[dict], path: str | None = None
    ) -> None:
        """Append lineage rows to `_checkpoint`, or to `path` (a staged
        append), as one parquet file written on the driver: no Spark
        job. `min_ts`/`max_ts` are ISO strings in the session time zone,
        or None."""
        if not rows:
            return
        import uuid

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = to_arrow_schema(T.StructType.fromDDL(CHECKPOINT_SCHEMA))
        tz = spark.conf.get("spark.sql.session.timeZone")
        cols = []
        for f in schema:
            if pa.types.is_timestamp(f.type):  # session-zone wall time → instant
                wall = pa.array([r[f.name] for r in rows], pa.string()).cast(pa.timestamp("us"))
                at = pc.assume_timezone(wall, tz, ambiguous="earliest", nonexistent="earliest")
                cols.append(at.cast(f.type))
            else:
                cols.append(pa.array([r[f.name] for r in rows], f.type))
        out = Path(path or self.checkpoint_path)
        out.mkdir(parents=True, exist_ok=True)
        table = pa.Table.from_arrays(cols, schema=schema)
        pq.write_table(table, out / f"part-{uuid.uuid4()}.parquet")

    def read_checkpoint(self, spark: SparkSession) -> DataFrame | None:
        if not Path(self.checkpoint_path).exists():
            return None
        return spark.read.schema(CHECKPOINT_SCHEMA).parquet(self.checkpoint_path)

    def compact_checkpoint(self, spark: SparkSession, max_files: int = 16) -> int:
        """Compact the lineage table's per-batch single-file appends.
        At minutes-cadence streaming the one-tiny-file-per-batch
        appends pile up; once the directory exceeds `max_files`
        parquet files, rewrite it as one file and publish it by a
        maintenance commit (readers see the old layout or the new one).
        Takes the writer lock. Returns the resulting file count."""
        with self.writer():
            staging = self.staging_path("compact-checkpoint")
            n = self.stage_checkpoint_compaction(spark, staging, max_files)
            if staging.exists():
                self.commit_staged(self.load_overview(), staging)
            return n

    def stage_checkpoint_compaction(
        self, spark: SparkSession, staging: Path, max_files: int = 16
    ) -> int:
        """If `_checkpoint` holds more than `max_files` files, stage it
        rewritten as one file at `staging/swap/_checkpoint`. Returns the
        file count the table has once the staged swap is published."""
        files = [f for f in Path(self.checkpoint_path).glob("*.parquet") if f.is_file()]
        if len(files) <= max_files:
            return len(files)
        spark.read.schema(CHECKPOINT_SCHEMA).parquet(self.checkpoint_path).coalesce(1).write.parquet(
            str(staging / "swap" / "_checkpoint")
        )
        return 1

    def compact_transcripts(
        self,
        spark: SparkSession,
        target_file_mb: int = 128,
        min_files: int = 8,
    ) -> dict:
        """Small-file compaction for the append-only raw table — the
        Iceberg ``rewrite_data_files`` maintenance analog. Each
        ``append_transcripts`` batch adds a file wave per touched day
        partition; at minutes-cadence ingest a day collects hundreds of
        tiny files, and at corpus scale every downstream scan pays that
        in task-scheduling and footer-read overhead.

        Strategy (one Spark job, not one per partition): list day
        directories DRIVER-side (cheap: O(days) + O(files) stat calls,
        no Spark jobs), pick dates whose file count exceeds both
        `min_files` and their byte-proportional target
        ``ceil(bytes / target_file_mb)``, then rewrite ONLY those
        dates with a single write into ``swap/transcripts/ts_date=…``
        of a maintenance commit, which swaps them in whole. Rows are
        spread over each date's target file count via a salt column
        derived from a broadcast date→n_files map, so big days still
        get multiple parallel writers/files. Untouched dates keep
        their files byte-identical; readers see old-or-new per
        partition (the same contract as a published tier merge).
        Takes the writer lock. Returns
        ``{"dates": k, "files_before": a, "files_after": b}``."""
        import datetime as _dt

        root = Path(self.transcripts_path)

        def day_files() -> dict[str, list[Path]]:
            return {
                d.name: [f for f in d.glob("*.parquet") if f.is_file()]
                for d in sorted(root.glob("ts_date=*"))
                if d.is_dir()
            }

        with self.writer():
            files = day_files()
            before = sum(map(len, files.values()))
            plan: dict[str, int] = {}
            for name, fs in files.items():
                nbytes = sum(f.stat().st_size for f in fs)
                target = max(1, -(-nbytes // (target_file_mb << 20)))
                if len(fs) > max(min_files, target):
                    plan[name.split("=", 1)[1]] = int(target)
            if not plan:
                return {"dates": 0, "files_before": before, "files_after": before}

            nmap = spark.createDataFrame(
                [(k, v) for k, v in plan.items()], "ts_date_str string, _nf int"
            )
            dates = [_dt.date.fromisoformat(k) for k in plan]
            staging = self.staging_path("compact-transcripts")
            (
                spark.read.parquet(str(root))
                .where(F.col("ts_date").isin(dates))  # partition pruning
                .withColumn("ts_date_str", F.col("ts_date").cast("string"))
                .join(F.broadcast(nmap), "ts_date_str")
                .withColumn("_fno", F.pmod(F.xxhash64("conv_id"), F.col("_nf")))
                .repartition("ts_date", "_fno")
                .sortWithinPartitions("ts_date", "conv_id", "turn_idx")
                .drop("ts_date_str", "_nf", "_fno")
                .write.partitionBy("ts_date")
                .parquet(str(staging / "swap" / "transcripts"))
            )
            self.commit_staged(self.load_overview(), staging)
            after = sum(map(len, day_files().values()))
        return {"dates": len(plan), "files_before": before, "files_after": after}
