"""The two serving layouts of the events fact, so their write, attach
and maintenance recipes live in one place:

- Bucketed by key — the standing answer to repeated key-shuffles at
  100 TB: pay the partitioning once at write time, and every later
  join/aggregate on the bucket key satisfies its distribution
  requirement from the LAYOUT (zero exchanges on the fact side; the
  plan gates in tests/test_plan_quality.py pin it).
- Date-partitioned — one ``day=yyyy-MM-dd/`` directory per UTC day
  (`write_day_partitioned`, `day_partitions`), the Parquet analogue of
  the reference's 1-day TimescaleDB chunks: retention and range
  deletes (`sinks.delete_range`) are directory drops, and day filters
  prune partitions.

Every maintenance entry point here (`compact_bucketed_table`,
`compact_day_partitions`, `drop_day_partitions`, `backfill_day`)
starts with `sinks.repair` and publishes through `sinks.swap_aside` or
`sinks.drop_dir`.  Shared by plans/scale_q.py and plans/pipeline_q.py
(the build-once silvers) and streaming/analytics_stream.py (the
incremental maintenance channels, whose append/marker/replay protocol
and log rebuild are the maintained-layout mechanism in
streaming/channels.py: `_maintained_layout_batch`, `_rebuild_layout`).
"""

from __future__ import annotations

import contextlib
import glob
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sinks import dir_files, drop_dir, repair, replacement, swap_aside


def schema_ddl(df: DataFrame) -> str:
    """Column DDL for CREATE TABLE over existing files."""
    return ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )


def attach_bucketed_table(
    spark: SparkSession,
    tbl: str,
    loc: str,
    cols: str,
    key: str = "user_id",
    sort: str = "user_id, ts",
    n_buckets: int = 8,
) -> str:
    """Register an EXTERNAL bucketed datasource table over files that
    already exist at ``loc`` — the re-attach path for every session
    after the one that built the layout.  Never touches the data."""
    spark.sql(
        f"CREATE TABLE {tbl} ({cols}) USING PARQUET "
        f"CLUSTERED BY ({key}) SORTED BY ({sort}) "
        f"INTO {n_buckets} BUCKETS LOCATION '{loc}'"
    )
    return tbl


def write_bucketed(
    spark: SparkSession,
    df: DataFrame,
    tbl: str,
    loc: str,
    key: str,
    sort_cols: tuple[str, ...],
    n_buckets: int = 8,
) -> str:
    """Build a bucketed-by-``key`` layout at ``loc`` and register it
    as ``tbl``.  The build is published through `scratch.build_once`,
    so an existing layout at ``loc`` is adopted, never rewritten: a
    concurrent builder's winner (same inputs, same bytes) or a
    restarted channel's maintained files.  The pre-write repartition
    uses the same murmur3 hash bucketBy assigns with, so each bucket
    is one file, sorted by ``sort_cols``."""
    from .scratch import build_once

    def build(tmp_loc: str) -> None:
        tmp_tbl = f"{tbl}_build_{uuid.uuid4().hex}"
        try:
            (
                df.repartition(n_buckets, key)
                .write.bucketBy(n_buckets, key)
                .sortBy(*sort_cols)
                .option("path", tmp_loc)
                .saveAsTable(tmp_tbl)
            )
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {tmp_tbl}")

    build_once(loc, build)
    return attach_bucketed_table(
        spark,
        tbl,
        loc,
        schema_ddl(df),
        key=key,
        sort=", ".join(sort_cols),
        n_buckets=n_buckets,
    )


def ensure_bucketed_silver(
    spark: SparkSession,
    df: DataFrame,
    fingerprint: str,
    name: str,
    key: str,
    sort_cols: tuple[str, ...],
    n_buckets: int = 8,
) -> str:
    """Fingerprint-keyed build-once face shared by every bucketed
    silver (events-by-user in plans/scale_q.py, orders/lineitem-by-
    orderkey in plans/pipeline_q.py): sanitize the corpus fingerprint
    into the table name, reuse the table if this session already
    attached it, else build-or-adopt the layout at its scratch slot.
    Keeping the sanitize + gate + write sequence here means a cache-key
    or adoption-semantics fix lands for every silver at once
    (review-found drift risk)."""
    from .scratch import scratch_path

    fp = re.sub(r"[^A-Za-z0-9_]", "_", fingerprint)
    tbl = f"{name}_{fp}_b{n_buckets}"
    if spark.catalog.tableExists(tbl):
        return tbl
    return write_bucketed(
        spark, df, tbl, scratch_path(tbl), key, sort_cols,
        n_buckets=n_buckets,
    )


def write_bucketed_events(
    spark: SparkSession,
    events: DataFrame,
    tbl: str,
    loc: str,
    n_buckets: int = 8,
) -> str:
    """The events-table instance of ``write_bucketed``: bucketed by
    user_id, sorted (user_id, ts) — the power-law-keyed layout the
    funnel/cohort/serving probes in plans/scale_q.py run on."""
    return write_bucketed(
        spark, events, tbl, loc, "user_id", ("user_id", "ts"),
        n_buckets=n_buckets,
    )




#: matches Spark's bucketed-file naming (BucketingUtils): the bucket id
#: is the final _NNNNN group before the extensions
_BUCKET_FILE_RE = r"_(\d{5})(?:\..*)?\.parquet$"


def compact_bucketed_table(
    spark: SparkSession,
    loc: str,
    max_files_per_bucket: int = 1,
    sort_cols: tuple[str, ...] = ("user_id", "ts"),
) -> dict:
    """Small-files compaction for the user-bucketed serving layout —
    the bucketed sibling of `compact_day_partitions`: every micro-batch
    append from `streaming/analytics_stream.py:start_events_bucketed_channel`
    lands one file PER TOUCHED BUCKET, so a long-running channel
    accretes batch-count files per bucket; this rewrites each bucket
    holding more than ``max_files_per_bucket`` parquet files down to
    one file, sorted (user_id, ts) to restore the layout's SORTED BY
    spec, named with the bucket's ``_NNNNN`` suffix so the catalog's
    bucket spec keeps routing reads/joins exchange-free.

    The replacement layout is built beside ``loc``: compacted buckets
    are written fresh and every other file (untouched buckets, the
    ``_published`` markers, ``_SUCCESS``) is hard-linked in, so its
    bytes, inode and mtime never change; one `sinks.swap_aside`
    publishes the whole layout.  Single maintenance writer (stop or
    drain the channel first).  Readers that go through a catalog table
    must ``spark.catalog.refreshTable(tbl)`` afterwards (Spark caches
    the file index).  Returns {'buckets_compacted', 'files_before',
    'files_after', 'repair'}."""
    report = repair(loc)
    pat = re.compile(_BUCKET_FILE_RE)
    by_bucket: dict[int, list[str]] = {}
    for f in sorted(os.listdir(loc)):
        m = pat.search(f)
        if m and not f.startswith(("_", ".")):
            by_bucket.setdefault(int(m.group(1)), []).append(f)
    doomed = {
        b: files for b, files in by_bucket.items()
        if len(files) > max_files_per_bucket
    }
    compacted = {f for files in doomed.values() for f in files}
    if doomed:
        snapshot = dir_files(loc)
        with replacement(loc) as tmp:
            for rel in snapshot:
                # the compacted files and their ``.<name>.crc`` stay out
                base = os.path.basename(rel).strip(".").removesuffix(".crc")
                if base not in compacted:
                    os.makedirs(
                        os.path.dirname(os.path.join(tmp, rel)), exist_ok=True
                    )
                    os.link(os.path.join(loc, rel), os.path.join(tmp, rel))
            for b, files in sorted(doomed.items()):
                out = os.path.join(tmp, f"_bucket-{b}")
                (
                    spark.read.parquet(*(os.path.join(loc, f) for f in files))
                    .coalesce(1)
                    .sortWithinPartitions(*sort_cols)
                    .write.parquet(out)
                )
                (part,) = glob.glob(os.path.join(out, "part-*.parquet"))
                name = f"part-00000-{uuid.uuid4().hex}_{b:05d}.c000.snappy.parquet"
                os.link(part, os.path.join(tmp, name))
                shutil.rmtree(out)
            swap_aside(tmp, loc, snapshot)
    files_before = sum(map(len, by_bucket.values()))
    return {
        "buckets_compacted": len(doomed),
        "files_before": files_before,
        "files_after": files_before - len(compacted) + len(doomed),
        "repair": report,
    }


#: a day value: zero-padded, so lexicographic order IS chronological
_DAY = r"\d{4}-\d{2}-\d{2}"


def _check_day(value: str, name: str) -> None:
    if not re.fullmatch(_DAY, value):
        raise ValueError(f"{name} must be yyyy-MM-dd, got {value!r}")


def write_day_partitioned(
    events: DataFrame, out_dir: str, mode: str = "errorifexists"
) -> None:
    """The date-partitioned layout recipe — ONE definition of the day
    derivation (UTC date_format yyyy-MM-dd into day= Hive directories)
    shared by the batch silver build (plans/pipeline_q.py), the S10
    range-delete face (plans/quality_q.py), the streaming append, and
    the log rebuild (streaming/analytics_stream.py, through
    `streaming/channels.py:_rebuild_layout`).  The streaming channel's
    parity contract with the batch silver depends on every site
    deriving the partition value identically."""
    (
        events.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .repartition("day")
        .write.partitionBy("day")
        .mode(mode)
        .parquet(out_dir)
    )


def day_partitions(loc: str) -> list[tuple[str, str]]:
    """(day, path) for each ``day=yyyy-MM-dd`` directory under ``loc``,
    oldest first; empty when ``loc`` is not day-partitioned.  A day
    value that is not a date (Spark's null partition) is not listed."""
    out = []
    for entry in sorted(os.listdir(loc)) if os.path.isdir(loc) else ():
        m = re.fullmatch(f"day=({_DAY})", entry)
        if m:
            out.append((m[1], os.path.join(loc, entry)))
    return out


def _write_day_file(df: DataFrame, tmp: str) -> None:
    """``df`` as one parquet file in ``tmp``, shaped like an appended
    day directory (no ``_SUCCESS``)."""
    df.coalesce(1).write.parquet(tmp)
    for f in ("_SUCCESS", "._SUCCESS.crc"):
        with contextlib.suppress(FileNotFoundError):
            os.remove(os.path.join(tmp, f))


def compact_day_partitions(
    spark: SparkSession, loc: str, max_files_per_day: int = 1
) -> dict:
    """Small-files compaction for the date-partitioned layout: every
    streaming micro-batch append (`streaming/analytics_stream.py:
    start_events_partitioned_channel`) lands one file per touched day,
    so a long-running channel accretes batch-count files per
    directory — at 100 TB the difference between a day partition of a
    few large files and thousands of batch-sized ones is the
    difference between a scan task list that fits in driver memory
    and one that does not.  Rewrites each day= directory holding more
    than ``max_files_per_day`` parquet files down to one file,
    content-preserving, one day at a time through `sinks.swap_aside`:
    readers of a day see the old file set or the new one, never a
    mixture.  The rewrite reads exactly the day's listed files, which
    are the swap's snapshot, so a file a live appender lands afterwards
    is carried into the rewritten day.  Markers and _SUCCESS at the
    layout root are untouched.  Returns {'days_compacted',
    'files_before', 'files_after', 'repair'}."""
    report = repair(loc)
    days_compacted = files_before = files_after = 0
    for _, day_dir in day_partitions(loc):
        snapshot = set(os.listdir(day_dir))
        files = sorted(
            os.path.join(day_dir, f) for f in snapshot if f.endswith(".parquet")
        )
        files_before += len(files)
        if len(files) > max_files_per_day:
            with replacement(day_dir) as tmp:
                _write_day_file(spark.read.parquet(*files), tmp)
                swap_aside(tmp, day_dir, snapshot)
            days_compacted += 1
        files_after += len(glob.glob(os.path.join(day_dir, "*.parquet")))
    return {
        "days_compacted": days_compacted,
        "files_before": files_before,
        "files_after": files_after,
        "repair": report,
    }


def drop_day_partitions(loc: str, before_day: str) -> list:
    """Retention on the date-partitioned layout: drop every day=
    directory strictly older than ``before_day`` (yyyy-MM-dd) — the
    whole-day step of `sinks.delete_range`, one `sinks.drop_dir` per
    expired day: readers and live appenders see the day vanish in one
    rename, never a half-deleted directory, and surviving days' bytes
    are never touched.  A file an appender lands in the old path after
    the rename recreates the day dir — correct, since that data is
    newer than the drop moment.  Returns the dropped day values."""
    _check_day(before_day, "before_day")
    repair(loc)
    dropped = []
    for day, path in day_partitions(loc):
        if day < before_day:
            drop_dir(path)
            dropped.append(day)
    return dropped


def backfill_day(
    spark: SparkSession, loc: str, day: str, events: DataFrame
) -> None:
    """Reprocessing face of the date-partitioned layout: replace
    exactly ONE day= directory with corrected data through
    `sinks.swap_aside` (readers of the day see the old file set or the
    new one, never a mixture; files a live appender lands meanwhile
    are carried over), leaving every other day's bytes untouched.
    Refuses rows whose ts falls outside ``day`` — a backfill that
    silently relocates rows to the wrong directory would corrupt every
    later partition-pruned read."""
    _check_day(day, "day")
    repair(loc)
    stray = events.filter(
        F.date_format("ts", "yyyy-MM-dd") != F.lit(day)
    ).count()
    if stray:
        raise ValueError(
            f"backfill_day({day!r}): {stray} rows have ts outside the day"
        )
    day_dir = os.path.join(loc, f"day={day}")
    with replacement(day_dir) as tmp:
        _write_day_file(events, tmp)
        swap_aside(tmp, day_dir)
