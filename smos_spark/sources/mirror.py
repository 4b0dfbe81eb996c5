"""Landing-area mirror ingest — the FTP sync analog (SURVEY §2 S7).

Reference semantics (/root/reference/src/smos/smos_l2/download.py:221-318):
  * ``sync(year, month, day=None)`` mirrors one day, or a whole month
    in one transfer (the complete-month fast path, :298-301)
  * ``sync_period(start, end)`` enumerates days and groups complete
    months (:270-306)
  * the trailing — usually still-incomplete — server day is NOT synced
    (:274-276 docstring)
  * ``overview.yml`` records first/last day after the sync (:308-316)

Spark-first re-expression: the upstream is a LANDING AREA of
day-partitioned parquet (``day=YYYY-MM-DD`` directories — the shape an
external writer drops; at production scale an object-store prefix).
Day discovery is driver-side directory listing — pure metadata, no
Spark job, O(days) not O(rows) — and the copy itself is the store's
incremental ingest: one distributed read + tier maintenance per batch.
A COMPLETE calendar month of new days becomes ONE batch (a single
multi-path scan instead of ~30 per-day job rounds — the lftp
"mirror the month directory" fast path); leftover days ingest
day-by-day. The newest landing day is presumed incomplete and skipped
unless ``include_last_day=True``, and days at/before the store's
``last_day`` checkpoint are already mirrored and skipped — re-running
the mirror is idempotent.
"""

from __future__ import annotations

import calendar
from pathlib import Path

from pyspark.sql import SparkSession

from smos_spark.sources.store import TranscriptStore
from smos_spark.streaming.incremental import ingest_batch

__all__ = ["discover_landing_days", "plan_sync_batches", "mirror_ingest"]


def discover_landing_days(landing: str | Path) -> list[str]:
    """Sorted ISO dates present in the landing area (``day=`` dirs)."""
    return sorted(
        p.name.split("=", 1)[1]
        for p in Path(landing).glob("day=*")
        if p.is_dir()
    )


def _day_fingerprint(landing: Path, day: str) -> str:
    """Cheap driver-side listing fingerprint of one day= directory:
    md5 over the sorted (name, size, mtime_ns) of its files. Changes
    whenever files land, grow, or are rewritten — the signal that a
    previously-stale day deserves re-examination. Pure metadata,
    O(files), no Spark job."""
    import hashlib

    entries = sorted(
        (p.name, p.stat().st_size, p.stat().st_mtime_ns)
        for p in (landing / f"day={day}").glob("*")
        if p.is_file()
    )
    return hashlib.md5(repr(entries).encode()).hexdigest()


def _load_stale(ov) -> dict[str, str | None]:
    """overview.extra['mirror_stale_days'] as {day: fingerprint}.
    Legacy lists (pre-fingerprint) map to fingerprint None, which can
    never match a computed fingerprint — each legacy entry is
    re-examined ONCE and re-recorded with a real fingerprint."""
    raw = (ov.extra or {}).get("mirror_stale_days") or {}
    if isinstance(raw, list):
        return {d: None for d in raw}
    return dict(raw)


def plan_sync_batches(days: list[str]) -> list[list[str]]:
    """Group a sorted day list into ingest batches: a COMPLETE calendar
    month (every day of the month present) becomes one batch; all
    other days are single-day batches. Mirrors sync_period's
    complete-month grouping (download.py:298-306); output order is
    time order, so the monotonic-append guard holds batch over batch."""
    by_month: dict[str, list[str]] = {}
    for d in days:
        by_month.setdefault(d[:7], []).append(d)
    batches: list[list[str]] = []
    for month in sorted(by_month):
        ds = sorted(by_month[month])
        year, mon = int(month[:4]), int(month[5:7])
        if len(ds) == calendar.monthrange(year, mon)[1]:  # complete (fast)
            batches.append(ds)
        else:  # individual days (slow)
            batches.extend([d] for d in ds)
    return batches


def mirror_ingest(
    spark: SparkSession,
    store: TranscriptStore,
    landing: str | Path,
    run_id: str = "mirror",
    include_last_day: bool = False,
    strict: bool = False,
) -> dict:
    """Sync the store with the landing area: ingest every landing day
    newer than the store's last_day, complete months as single
    batches. Returns {"ingested": [...days], "skipped": [...days],
    "batches": n, "results": [per-batch ingest dicts]}."""
    landing = Path(landing)
    days = discover_landing_days(landing)
    skipped: list[str] = []
    if days and not include_last_day:
        # the newest landing day may still be receiving files
        skipped.append(days.pop())
    ov = store.load_overview()
    # two gates stop re-planning: the store's last_day (data
    # watermark — a day at/before it is already mirrored), and the
    # explicit STALE-DAY map persisted in overview.extra. A stale day
    # is one whose ingest produced 0 on-time rows (everything
    # quarantined, so last_day never advanced); without the record
    # every later run would re-plan it and append duplicate rows to
    # _quarantine. A bare max-day watermark would be wrong here: a day
    # directory can appear OUT OF ORDER (eventually-consistent
    # listings), and blanket-skipping everything below the max
    # processed day would silently drop its rows — the stale record
    # skips exactly the days known to contribute nothing. Each stale
    # day carries its directory's LISTING FINGERPRINT from when it was
    # recorded: if new files land in the directory later (the same
    # eventually-consistent scenario), the fingerprint no longer
    # matches and the day is RE-EXAMINED instead of being silently
    # dropped forever.
    last = str(ov.last_day)[:10] if ov.last_day is not None else ""
    stale = _load_stale(ov)
    gated = [
        d
        for d in days
        if (last and d <= last)
        or (d in stale and stale[d] == _day_fingerprint(landing, d))
    ]
    skipped.extend(gated)
    days = [d for d in days if d not in set(gated)]

    results = []
    ingested: list[str] = []
    next_batch = ov.last_batch_id + 1
    for batch_days in plan_sync_batches(days):
        paths = [str(landing / f"day={d}") for d in batch_days]
        # fingerprint BEFORE the read lists files: a file landing
        # during the ingest then differs from the stored fingerprint
        # and forces re-examination on the next run. (The opposite
        # order would bake an unread file into the fingerprint and
        # gate its rows out forever. A file landing between this
        # capture and Spark's listing is ingested AND re-examined once
        # — a bounded duplicate-quarantine cost, never a loss.)
        pre_fps = {d: _day_fingerprint(landing, d) for d in batch_days}
        batch = spark.read.parquet(*paths)
        r = ingest_batch(
            store, batch, run_id=run_id, batch_id=next_batch, strict=strict
        )
        results.append(r)
        if not r.get("skipped"):
            ingested.extend(batch_days)
        next_batch += 1
        if not r.get("skipped") and r.get("rows_in") == 0:
            # all-late batch: record its days as stale so they are not
            # re-planned forever (crash mid-sync keeps the completed
            # prefix). The overview is loaded and saved under the writer
            # lock, so no other committer's save falls in between and is
            # overwritten. The list stays bounded: only pathological
            # all-late days enter it, and entries at/before last_day are
            # pruned (the data watermark already gates them).
            with store.writer():
                ov = store.load_overview()
                cur_last = str(ov.last_day)[:10] if ov.last_day is not None else ""
                cur = _load_stale(ov)
                cur.update(pre_fps)
                ov.extra = {
                    **(ov.extra or {}),
                    "mirror_stale_days": {
                        d: fp
                        for d, fp in sorted(cur.items())
                        if not (cur_last and d <= cur_last)
                    },
                }
                store.save_overview(ov)
    return {
        "ingested": ingested,
        "skipped": sorted(skipped),
        "batches": len(results),
        "results": results,
    }
