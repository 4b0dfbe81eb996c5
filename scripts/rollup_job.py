"""spark-submit entry point: the production rollup job.

Reads a transcripts parquet table, builds the 1m tier from raw, the 1h
tier from 1m, the 1d tier from 1h (exact partial re-aggregation), and
writes all three to a partitioned tier store
(bucket_date=YYYY-MM-DD/bucket_id=K — time-major for incremental
merges, key-bucketed for point-read locality). The newest turn's ts
becomes the store's `last_day` (the reference's reshuffle writes it to
overview.yml), so a later `store_tool extend` quarantines any overlap
instead of counting it twice. Prints one JSON line with row counts
(observed on the writes, no extra scans) + wall time.

Cluster launch shape (the real thing this mirrors):
  spark-submit --master <cluster> --py-files engine.zip \
      scripts/rollup_job.py --input s3://.../transcripts \
      --output s3://.../tiers
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# plain `python scripts/rollup_job.py` puts scripts/ on sys.path, not
# the repo root
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Tier rollup job — CLI parity with the reference "
        "reshuffle entry point (/root/reference/src/smos/reshuffle.py:84-153: "
        "--parameters/--only_good/--bbox/--imgbuffer map to "
        "--block-parameters/--read-roles/--conv-range+--ts-range)."
    )
    ap.add_argument("--input", required=True, help="transcripts parquet path")
    ap.add_argument("--output", required=True, help="tier store root")
    ap.add_argument("--master", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--n-buckets", type=int, default=32)
    ap.add_argument(
        "--blocks",
        action="store_true",
        help="also gap-fill the 1h series and write Gorilla/DoD-compressed "
        "per-conv blocks (the full north-star pipeline)",
    )
    ap.add_argument(
        "--read-roles",
        default=None,
        help="comma list; payload values of other roles are NULL-masked "
        "before aggregation (the --only_good analog); rows are kept",
    )
    ap.add_argument(
        "--conv-range", default=None, help="LO,HI inclusive conv_id subset (bbox analog)"
    )
    ap.add_argument(
        "--ts-range",
        default=None,
        help="'START,END' inclusive ts subset (bbox analog; prunes "
        "day partitions on a days(ts)-partitioned input)",
    )
    ap.add_argument(
        "--block-parameters",
        default="n_turns,len_sum",
        help="comma list of tier columns compressed into --blocks "
        "(the --parameters analog)",
    )
    args = ap.parse_args()

    from smos_spark.operators.rollup import reaggregate, rollup_from_raw
    from smos_spark.session import get_spark
    from smos_spark.sources.store import TranscriptStore

    spark = get_spark(
        master=args.master,
        app_name="smos_spark_rollup",
        shuffle_partitions=args.shuffle_partitions,
    )
    spark.sparkContext.setLogLevel("WARN")

    t0 = time.time()
    raw = spark.read.parquet(args.input)
    if "ts_date" in raw.columns:
        raw = raw.drop("ts_date")

    if args.conv_range or args.ts_range or args.read_roles:
        from smos_spark.operators.masking import (
            filter_conv_range,
            filter_ts_range,
            mask_by_role,
        )

        if args.conv_range:
            lo, hi = args.conv_range.split(",")
            raw = filter_conv_range(raw, lo, hi)
        if args.ts_range:
            ts_lo, ts_hi = args.ts_range.split(",")
            raw = filter_ts_range(raw, ts_lo.strip(), ts_hi.strip())
        if args.read_roles:
            raw = mask_by_role(raw, [r.strip() for r in args.read_roles.split(",")])

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    # row counts ride the writes as observed metrics: no re-read of raw
    # or the tiers just to count them
    def observed(df, name, *metrics):
        obs = Observation(name)
        return df.observe(obs, F.count(F.lit(1)).alias("rows"), *metrics), obs

    # the newest turn rides the same observation: it becomes the store's
    # last_day, so a later `store_tool extend` quarantines any overlap;
    # as a string, it is the session zone's wall time, like the store's
    raw, raw_obs = observed(raw, "turns", F.max("ts").cast("string").alias("last_ts"))
    tier_obs = {}

    phases = {}
    store = TranscriptStore(args.output, n_buckets=args.n_buckets)
    m1, tier_obs["1m"] = observed(rollup_from_raw(raw, "1m"), "tier_1m")
    store.write_tier(m1, "1m")
    phases["1m"] = round(time.time() - t0, 3)
    t1 = time.time()
    m1_stored = store.read_tier(spark, "1m")
    h1, tier_obs["1h"] = observed(reaggregate(m1_stored, "1h"), "tier_1h")
    store.write_tier(h1, "1h")
    phases["1h"] = round(time.time() - t1, 3)
    t2 = time.time()
    d1, tier_obs["1d"] = observed(reaggregate(store.read_tier(spark, "1h"), "1d"), "tier_1d")
    store.write_tier(d1, "1d")
    phases["1d"] = round(time.time() - t2, 3)
    if raw_obs.get["last_ts"] is not None:
        ov = store.load_overview()
        ov.last_day = raw_obs.get["last_ts"]
        store.save_overview(ov)

    if args.blocks:
        # regularize + forward-fill the 1h series per conv, then
        # compress (delta-of-delta timestamps + Gorilla values) into
        # one block row per conversation — the compact long-retention
        # representation (codec work runs in Arrow-batched Python
        # workers; this stage scales with processes, not JVM threads).
        from smos_spark.operators.compress import compress_series
        from smos_spark.operators.gapfill import forward_fill, gap_fill

        t3 = time.time()
        params = [p.strip() for p in args.block_parameters.split(",")]
        h1_stored = store.read_tier(spark, "1h").select(
            "conv_id", "bucket_start", *params
        )
        filled = forward_fill(gap_fill(h1_stored, "1h"), params).select(
            "conv_id",
            F.col("bucket_start").alias("ts"),
            *[F.col(p).cast("double").alias(p) for p in params],
        )
        blocks = compress_series(filled, params)
        blocks.write.mode("overwrite").parquet(str(store.root / "blocks_1h"))
        phases["blocks"] = round(time.time() - t3, 3)

    wall = time.time() - t0

    n_turns = raw_obs.get["rows"]
    counts = {tier: obs.get["rows"] for tier, obs in tier_obs.items()}
    print(
        json.dumps(
            {
                "job": "rollup",
                "master": spark.sparkContext.master,
                "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
                "turns": n_turns,
                "tier_rows": counts,
                "phases": phases,
                "wall_sec": round(wall, 3),
                "turns_per_sec": round(n_turns / wall, 1),
            }
        )
    )


if __name__ == "__main__":
    main()
