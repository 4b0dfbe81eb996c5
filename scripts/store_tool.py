"""Store maintenance + read-back CLI — the smos_l2 console-script
analog (/root/reference/src/smos/smos_l2/cli.py:195-225 registers
`smos_repurpose` / `smos_extend`; reshuffle.py:96-155 implements
extend-from-overview). Nine subcommands over a TranscriptStore:

  read        — one conversation's tier series with the reference
                post-op chain (drop-missing / dense NaN rows / int
                restoration)
  extend      — ingest a new time-ordered batch through the
                checkpointed incremental path (resumable, monotonic
                guard, quarantine)
  export      — subset re-export into a new day-partitioned store (the
                K2 subset-and-write round trip)
  mirror      — sync new landing-area days into the store (the FTP
                sync_period analog, S7; complete months batch as one
                scan, the newest possibly-incomplete day is skipped by
                default)
  merge-late  — backfill quarantined late rows into raw + tiers
  compact     — rewrite small-file day partitions of the raw table
  blocks      — compress a tier into the day x bucket block store
                (`--codec` picks Gorilla or Chimp; each block row
                records it)
  range-agg   — per-conv min/max/count over a time range from the
                block store (each block decodes by its own codec)
  tiered-read — retention-aware range read across the tiers

Usage:
  python scripts/store_tool.py read   --store ROOT --conv ID [--tier 1h]
      [--parameters n_turns,len_sum] [--dense] [--keep-missing]
  python scripts/store_tool.py extend --store ROOT --input PARQUET
      [--run-id r1] [--batch-id auto] [--strict]
  python scripts/store_tool.py export --store ROOT --output NEWROOT
      [--tier 1h] [--conv-range LO,HI] [--ts-range A,B]
      [--parameters n_turns,len_sum]
  python scripts/store_tool.py blocks --store ROOT [--tier 1h]
      [--parameters n_turns,len_sum] [--codec gorilla|chimp]
  python scripts/store_tool.py range-agg --store ROOT --parameter P
      --ts-range 'A,B' [--tier 1h]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# plain `python scripts/store_tool.py` puts scripts/ on sys.path, not
# the repo root
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--master", default=None)
    sub = ap.add_subparsers(dest="cmd", required=True)

    rd = sub.add_parser("read", help="read one conversation's tier series")
    rd.add_argument("--store", required=True)
    rd.add_argument("--conv", required=True)
    rd.add_argument("--tier", default="1h")
    rd.add_argument("--parameters", default=None, help="comma list of tier columns")
    rd.add_argument("--dense", action="store_true", help="gap buckets as NULL rows")
    rd.add_argument(
        "--keep-missing", action="store_true", help="keep all-NULL rows (drop_missing=False)"
    )
    rd.add_argument("--limit", type=int, default=50)

    ex = sub.add_parser("extend", help="ingest a new batch incrementally")
    ex.add_argument("--store", required=True)
    ex.add_argument("--input", required=True, help="new turns parquet path")
    ex.add_argument("--run-id", default="cli")
    ex.add_argument("--batch-id", type=int, default=None, help="default: last+1")
    ex.add_argument("--strict", action="store_true", help="refuse late data (reference guard)")
    ex.add_argument(
        "--n-buckets",
        type=int,
        default=None,
        help="bucket count for a NEW store; an existing store always "
        "reopens with the layout recorded in its overview sidecar",
    )

    xp = sub.add_parser("export", help="subset re-export to a new store")
    xp.add_argument("--store", required=True)
    xp.add_argument("--output", required=True)
    xp.add_argument("--tier", default="1h")
    xp.add_argument("--conv-range", default=None, help="LO,HI inclusive")
    xp.add_argument("--ts-range", default=None, help="'START,END' inclusive")
    xp.add_argument("--parameters", default=None, help="comma list of tier columns")

    from smos_spark.functions.parsing import str2bool

    mi = sub.add_parser("mirror", help="sync new landing-area days into the store")
    mi.add_argument("--store", required=True)
    mi.add_argument("--landing", required=True, help="day=YYYY-MM-DD partitioned parquet")
    mi.add_argument("--run-id", default="mirror")
    mi.add_argument(
        "--include-last-day",
        type=str2bool,
        default=False,
        help="also sync the newest (possibly incomplete) landing day "
        "(true/false — reference str2bool whitelist)",
    )
    mi.add_argument("--strict", action="store_true", help="refuse late data")
    mi.add_argument(
        "--n-buckets", type=int, default=None, help="bucket count for a NEW store"
    )

    ml = sub.add_parser(
        "merge-late", help="backfill quarantined late rows into raw + tiers"
    )
    ml.add_argument("--store", required=True)
    ml.add_argument("--run-id", default="merge-late")

    co = sub.add_parser(
        "compact", help="rewrite small-file day partitions of the raw table"
    )
    co.add_argument("--store", required=True)
    co.add_argument("--target-file-mb", type=int, default=128)
    co.add_argument("--min-files", type=int, default=8)

    bl = sub.add_parser(
        "blocks",
        help="compress a tier into the day x bucket partitioned block "
        "store (Gorilla/Chimp + DoD, per-block stats)",
    )
    bl.add_argument("--store", required=True)
    bl.add_argument("--tier", default="1h")
    bl.add_argument("--parameters", default="n_turns,len_sum")
    bl.add_argument("--codec", default="gorilla", choices=("gorilla", "chimp"))

    ra = sub.add_parser(
        "range-agg",
        help="per-conv min/max/count over a time range straight from "
        "block stats (covered blocks never decode)",
    )
    ra.add_argument("--store", required=True)
    ra.add_argument("--tier", default="1h")
    ra.add_argument("--parameter", required=True)
    ra.add_argument("--ts-range", required=True,
                    help="comma pair 'YYYY-MM-DD HH:MM:SS,YYYY-MM-DD HH:MM:SS'")
    ra.add_argument("--limit", type=int, default=20)

    tr = sub.add_parser(
        "tiered-read",
        help="retention-aware range read: serve [t0, t1) at the "
        "finest tier each sub-range still retains, stitched at "
        "bucket-aligned cuts (partition-pruned per segment)",
    )
    tr.add_argument("--store", required=True)
    tr.add_argument("--t0", required=True, help="'YYYY-MM-DD[ HH:MM:SS]'")
    tr.add_argument("--t1", required=True)
    tr.add_argument("--now", required=True,
                    help="policy evaluation instant (explicit for "
                    "reproducibility; typically wall-clock)")
    tr.add_argument("--keep", default=None,
                    help="comma list tier=seconds|inf, e.g. "
                    "'1m=604800,1h=7776000,1d=inf' (default: "
                    "DEFAULT_RETENTION days)")
    tr.add_argument("--limit", type=int, default=20)

    args = ap.parse_args()

    from smos_spark.session import get_spark
    from smos_spark.sources.store import TranscriptStore

    spark = get_spark(master=args.master, app_name=f"smos_store_{args.cmd}")
    spark.sparkContext.setLogLevel("WARN")

    if args.cmd == "read":
        from smos_spark.readback import read_conv_series

        store = TranscriptStore(args.store)
        params = args.parameters.split(",") if args.parameters else None
        df = read_conv_series(
            spark,
            store,
            args.conv,
            tier=args.tier,
            parameters=params,
            drop_missing=not args.keep_missing,
            dense=args.dense,
        )
        df.show(args.limit, truncate=False)
        print(json.dumps({"cmd": "read", "conv": args.conv, "rows": df.count()}))

    elif args.cmd == "extend":
        from smos_spark.streaming.incremental import ingest_batch

        store = TranscriptStore(args.store, n_buckets=args.n_buckets)
        batch = spark.read.parquet(args.input)
        if "ts_date" in batch.columns:
            batch = batch.drop("ts_date")
        bid = (
            args.batch_id
            if args.batch_id is not None
            else store.load_overview().last_batch_id + 1
        )
        res = ingest_batch(
            store, batch, run_id=args.run_id, batch_id=bid, strict=args.strict
        )
        print(json.dumps({"cmd": "extend", **res}))

    elif args.cmd == "export":
        store = TranscriptStore(args.store)
        conv_lo = conv_hi = None
        if args.conv_range:
            conv_lo, conv_hi = (s.strip() for s in args.conv_range.split(","))
        ts_lo = ts_hi = None
        if args.ts_range:
            ts_lo, ts_hi = (s.strip() for s in args.ts_range.split(","))
        params = args.parameters.split(",") if args.parameters else None
        out = store.export_subset(
            spark,
            args.output,
            tier=args.tier,
            conv_lo=conv_lo,
            conv_hi=conv_hi,
            ts_lo=ts_lo,
            ts_hi=ts_hi,
            parameters=params,
        )
        n = out.read_tier(spark, args.tier).count()
        print(json.dumps({"cmd": "export", "output": args.output, "rows": n}))

    elif args.cmd == "mirror":
        from smos_spark.sources.mirror import mirror_ingest

        store = TranscriptStore(args.store, n_buckets=args.n_buckets)
        res = mirror_ingest(
            spark,
            store,
            args.landing,
            run_id=args.run_id,
            include_last_day=args.include_last_day,
            strict=args.strict,
        )
        print(json.dumps({"cmd": "mirror", **{k: res[k] for k in ("ingested", "skipped", "batches")}}))

    elif args.cmd == "merge-late":
        from smos_spark.streaming.incremental import merge_quarantine

        store = TranscriptStore(args.store)
        res = merge_quarantine(store, spark, run_id=args.run_id)
        print(json.dumps({"cmd": "merge-late", **res}))

    elif args.cmd == "blocks":
        from pyspark.sql import functions as F

        from smos_spark.operators.compress import compress_series

        store = TranscriptStore(args.store)
        params = [p.strip() for p in args.parameters.split(",")]
        # like every mutating store path: under the writer lock, on a
        # store whose pending commit is rolled forward, and the tier is
        # listed only then, so it holds every published partition
        with store.writer():
            tier_df = store.read_tier(spark, args.tier).select(
                "conv_id",
                F.col("bucket_start").alias("ts"),
                *[F.col(p).cast("double").alias(p) for p in params],
            )
            blocks = compress_series(
                tier_df,
                params,
                codec=args.codec,
                stats=True,
                slice_col=F.to_date("ts"),
            )
            store.write_blocks(blocks, tier=args.tier)
        n = store.read_blocks(spark, args.tier).count()
        print(json.dumps({"cmd": "blocks", "tier": args.tier, "blocks": n}))

    elif args.cmd == "range-agg":
        store = TranscriptStore(args.store)
        t0, t1 = (x.strip() for x in args.ts_range.split(","))
        df = store.blocks_range_minmax(spark, args.tier, args.parameter, t0, t1)
        # CLI shape: never materialize the full result on the driver —
        # push the display limit into the plan (GlobalLimit, asserted
        # in tests). ONE execution: fetch limit+1 rows; when the
        # sentinel row appears the true count isn't known without a
        # second aggregation pass, so report ">= limit" instead of
        # paying it (the result is one row per conv_id — display, not
        # analytics).
        shown = df.limit(args.limit + 1).collect()
        for r in shown[: args.limit]:
            print(r)
        rows = len(shown) if len(shown) <= args.limit else f">= {args.limit + 1}"
        print(
            json.dumps(
                {"cmd": "range-agg", "tier": args.tier, "rows": rows}
            )
        )

    elif args.cmd == "tiered-read":
        from pyspark.sql import functions as F

        from smos_spark.operators.retention import tiered_read_store

        store = TranscriptStore(args.store)
        keep_s = None
        if args.keep:
            keep_s = {}
            for part in args.keep.split(","):
                tier_name, _, val = part.partition("=")
                keep_s[tier_name.strip()] = (
                    None if val.strip() in ("inf", "none", "") else float(val)
                )
        df = tiered_read_store(
            spark, store, t0=args.t0, t1=args.t1, now=args.now, keep_s=keep_s
        )
        df.orderBy("bucket_start", "conv_id").show(args.limit, truncate=False)
        per_tier = {r["tier"]: r["n"] for r in
                    df.groupBy("tier").agg(F.count(F.lit(1)).alias("n")).collect()}
        print(json.dumps({"cmd": "tiered-read", "rows_per_tier": per_tier}))

    elif args.cmd == "compact":
        store = TranscriptStore(args.store)
        res = store.compact_transcripts(
            spark, target_file_mb=args.target_file_mb, min_files=args.min_files
        )
        print(json.dumps({"cmd": "compact", **res}))


if __name__ == "__main__":
    main()
