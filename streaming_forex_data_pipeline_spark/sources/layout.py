"""Bucketed serving layouts — the standing answer to repeated
key-shuffles at 100 TB: pay the partitioning once at write time, and
every later join/aggregate on the bucket key satisfies its
distribution requirement from the LAYOUT (zero exchanges on the fact
side; the plan gates in tests/test_plan_quality.py pin it).

Shared by plans/scale_q.py (the fingerprint-keyed silver cache probes)
and streaming/analytics_stream.py (the incremental maintenance
channels), so the write/attach recipes live in one place.  The
channels' append/marker/replay protocol and their log rebuild are the
maintained-layout mechanism in streaming/channels.py
(`_maintained_layout_batch`, `_rebuild_layout`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


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
    import uuid

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
    import re

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


def repair_bucketed_compaction(loc: str) -> dict:
    """Bring a bucketed layout back to a consistent state after a
    crashed `compact_bucketed_table` call, using the per-bucket aside
    manifest: each ``_old-*`` dir records the name of the compacted
    replacement file; if that file made it into the live dir the
    compaction completed (drop the aside copy), otherwise it did not
    (restore the aside files — never delete data whose replacement
    never went live).  Half-built ``_compact-*`` dirs are always safe
    to drop: their content either never went live, or went live and
    left the build dir empty.  ``_published`` markers (written by
    `streaming/channels.py:_maintained_layout_batch`) and ``_SUCCESS``
    are never touched.  Idempotent; called at the start of every
    compaction.  Returns {'restored', 'completed'}."""
    import os
    import shutil

    restored = completed = 0
    for entry in os.listdir(loc):
        p = os.path.join(loc, entry)
        if entry.startswith("_old-") and os.path.isdir(p):
            man = os.path.join(p, "_MANIFEST")
            final = None
            if os.path.exists(man):
                with open(man) as fh:
                    final = fh.read().strip()
            if final and os.path.exists(os.path.join(loc, final)):
                shutil.rmtree(p, ignore_errors=True)
                completed += 1
            else:
                for f in os.listdir(p):
                    if f != "_MANIFEST":
                        os.rename(os.path.join(p, f), os.path.join(loc, f))
                shutil.rmtree(p, ignore_errors=True)
                restored += 1
        elif entry.startswith("_compact-") and os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
    return {"restored": restored, "completed": completed}


def compact_bucketed_table(
    spark: SparkSession,
    loc: str,
    max_files_per_bucket: int = 1,
    sort_cols: tuple[str, ...] = ("user_id", "ts"),
) -> dict:
    """Small-files compaction for the user-bucketed serving layout —
    the bucketed sibling of `compact_day_partitions` (round-10 verdict
    Next #6): every micro-batch append from
    `streaming/analytics_stream.py:start_events_bucketed_channel`
    lands one file PER TOUCHED BUCKET, so a long-running channel
    accretes batch-count files per bucket; this rewrites each bucket
    holding more than ``max_files_per_bucket`` parquet files down to
    one file, sorted (user_id, ts) to restore the layout's SORTED BY
    spec, named with the bucket's ``_NNNNN`` suffix so the catalog's
    bucket spec keeps routing reads/joins exchange-free.  Untouched
    buckets' bytes are never rewritten.

    Crash contract (single maintenance writer; stop or drain the
    channel first — same operational rule as the day layout): per
    bucket, (1) build the compacted file under an underscore-invisible
    ``_compact-*`` dir, (2) move the snapshot's old files into an
    ``_old-*`` aside dir whose _MANIFEST names the replacement, (3)
    one atomic rename puts the replacement live, (4) drop the aside.
    A crash at any point is repaired deterministically by
    `repair_bucketed_compaction` (restore if the replacement never
    went live, drop the aside if it did); files appended after the
    snapshot are not in it and are never moved or deleted.  Markers
    (``_published``) and ``_SUCCESS`` untouched.  Readers that go
    through a catalog table must ``spark.catalog.refreshTable(tbl)``
    afterwards (Spark caches the file index).  Returns
    {'buckets_compacted', 'files_before', 'files_after', 'repair'}."""
    import glob
    import os
    import re
    import shutil
    import uuid

    repair = repair_bucketed_compaction(loc)
    pat = re.compile(_BUCKET_FILE_RE)
    by_bucket: dict[int, list[str]] = {}
    for f in sorted(os.listdir(loc)):
        if f.startswith(("_", ".")) or not os.path.isfile(
            os.path.join(loc, f)
        ):
            continue
        m = pat.search(f)
        if m:
            by_bucket.setdefault(int(m.group(1)), []).append(f)
    buckets_compacted = files_before = files_after = 0
    for b, files in sorted(by_bucket.items()):
        files_before += len(files)
        if len(files) <= max_files_per_bucket:
            files_after += len(files)
            continue
        paths = [os.path.join(loc, f) for f in files]
        tmp = os.path.join(loc, f"_compact-{uuid.uuid4().hex}")
        final_name = (
            f"part-00000-{uuid.uuid4().hex}_{b:05d}.c000.snappy.parquet"
        )
        try:
            (
                spark.read.parquet(*paths)
                .coalesce(1)
                .sortWithinPartitions(*sort_cols)
                .write.parquet(tmp)
            )
            part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            os.rename(part, os.path.join(tmp, final_name))
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        old = os.path.join(loc, f"_old-{uuid.uuid4().hex}")
        os.makedirs(old)
        with open(os.path.join(old, "_MANIFEST"), "w") as fh:
            fh.write(final_name)
        for f in files:
            os.rename(os.path.join(loc, f), os.path.join(old, f))
        os.rename(
            os.path.join(tmp, final_name), os.path.join(loc, final_name)
        )
        shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
        buckets_compacted += 1
        files_after += 1
    return {
        "buckets_compacted": buckets_compacted,
        "files_before": files_before,
        "files_after": files_after,
        "repair": repair,
    }


def write_day_partitioned(
    events: DataFrame, out_dir: str, mode: str = "errorifexists"
) -> None:
    """The date-partitioned events layout recipe — ONE definition of
    the day derivation (UTC date_format yyyy-MM-dd into day= Hive
    directories) shared by the batch silver build
    (plans/pipeline_q.py), the streaming append, and the log rebuild
    (streaming/analytics_stream.py, through
    `streaming/channels.py:_rebuild_layout`).  The streaming channel's parity
    contract with the batch silver depends on every site deriving the
    partition value identically (review-found triplication)."""
    from pyspark.sql import functions as F

    (
        events.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .repartition("day")
        .write.partitionBy("day")
        .mode(mode)
        .parquet(out_dir)
    )


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
    content-preserving, one day at a time via build-aside +
    rename-ASIDE (readers of a day see the old file set or the new
    one, never a mixture; a crash mid-compaction loses nothing but
    the one aside directory's cleanup).  Maintenance directories are
    underscore-prefixed (``_compact-*``/``_old-*``) so Spark's file
    index never parses them as partitions — a crash between the two
    renames leaves only invisible-to-readers leftovers, which the next
    maintenance call sweeps (advice-found: the earlier
    ``day=X.old-<hex>`` names WERE partition-discoverable, so a crash
    made duplicated rows visible under bogus string day values).
    Files appended by a live streaming channel after the compaction
    snapshot are detected in the aside copy (basenames not in the
    snapshot) and carried into the rewritten day before the aside is
    deleted, so compaction never loses committed rows (advice-found).

    Crash contract (advice-found, round 12): immediately before the
    aside rename a ``_MANIFEST`` is written INTO the live day dir —
    first line the ``day=X`` entry name, following lines the snapshot
    basenames — so the atomic rename carries the aside's identity
    with it.  A hard crash between ``rename(day, old)`` and
    ``rename(tmp, day)`` therefore leaves a self-describing aside
    holding the day's only copy; `repair_day_maintenance` restores it
    (the earlier unconditional sweep would have DELETED it — the one
    window where "leftovers are safe to sweep" was false).  Markers
    and _SUCCESS at the layout root are untouched.  Returns
    {'days_compacted', 'files_before', 'files_after', 'repair'}."""
    import glob
    import os
    import shutil
    import uuid

    repair = repair_day_maintenance(loc)
    days_compacted = files_before = files_after = 0
    for entry in sorted(os.listdir(loc)):
        day_dir = os.path.join(loc, entry)
        if not entry.startswith("day=") or not os.path.isdir(day_dir):
            continue
        files = sorted(glob.glob(os.path.join(day_dir, "*.parquet")))
        files_before += len(files)
        if len(files) <= max_files_per_day:
            files_after += len(files)
            continue
        snapshot = {os.path.basename(f) for f in files}
        tmp = os.path.join(loc, f"_compact-{uuid.uuid4().hex}")
        try:
            # one partition -> one file; the rewrite reads exactly the
            # snapshot file list, never the whole layout — so any file
            # a live appender lands afterwards is provably NOT in the
            # compacted output and must be carried over below
            spark.read.parquet(*files).coalesce(1).write.parquet(tmp)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        old = os.path.join(loc, f"_old-{uuid.uuid4().hex}")
        # the manifest rides the atomic rename into the aside, so a
        # crash inside the swap leaves a restorable, self-describing
        # aside — never an anonymous dir a sweep would delete; the
        # replacement basenames let repair tell a completed swap from
        # an appender-recreated day dir
        repl = {
            os.path.basename(f)
            for f in glob.glob(os.path.join(tmp, "*.parquet"))
        }
        _write_day_manifest(day_dir, entry, snapshot, repl)
        os.rename(day_dir, old)
        try:
            os.rename(tmp, day_dir)
        except BaseException:
            os.rename(old, day_dir)  # restore the live day
            _drop_day_manifest(day_dir)
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        # carry late-appended files (present in the aside copy, absent
        # from the snapshot) into the rewritten day — their writer's
        # markers already claim them published
        for f in glob.glob(os.path.join(old, "*.parquet")):
            base = os.path.basename(f)
            if base not in snapshot:
                os.rename(f, os.path.join(day_dir, base))
        shutil.rmtree(old, ignore_errors=True)
        # Spark writes its own _SUCCESS inside the rewritten day dir;
        # harmless to partition discovery, but drop it to keep the
        # directory shape identical to the append path's
        success = os.path.join(day_dir, "_SUCCESS")
        if os.path.exists(success):
            os.remove(success)
        days_compacted += 1
        files_after += len(glob.glob(os.path.join(day_dir, "*.parquet")))
    return {
        "days_compacted": days_compacted,
        "files_before": files_before,
        "files_after": files_after,
        "repair": repair,
    }


def _write_day_manifest(
    day_dir: str, entry: str, snapshot: set, replacements: set
) -> None:
    """First line: the ``day=X`` entry name this content belongs to;
    then one ``repl:<basename>`` line per replacement file the
    incoming swap will put live (so repair can tell a completed swap
    from a day dir RECREATED by a live appender after a mid-swap
    crash — review-found: without this, repair read any existing day
    dir as 'swap completed' and deleted the aside holding the only
    historical copy); then one ``snap:<basename>`` line per snapshot
    file the replacement was built from.  fsync'd before returning —
    the very next operation is the aside rename, and a power loss
    that persists the rename but not the file data would leave an
    empty manifest (the ext4 zero-length outcome).  Underscore-named,
    so Spark's file index never reads it."""
    import os

    # an empty replacements set would make repair's completed-swap
    # detection (any repl file live) vacuously False and route a
    # completed swap into merge-restore, duplicating every snapshot
    # row (advice r12) — both writers always record >= 1 repl file,
    # and this keeps it that way through refactors
    if not replacements:
        raise ValueError(
            "_write_day_manifest: empty replacements set — a swap "
            "manifest must name at least one replacement file"
        )
    path = os.path.join(day_dir, "_MANIFEST")
    with open(path, "w") as fh:
        fh.write(
            "\n".join(
                [
                    entry,
                    *(f"repl:{r}" for r in sorted(replacements)),
                    *(f"snap:{s}" for s in sorted(snapshot)),
                ]
            )
        )
        fh.flush()
        os.fsync(fh.fileno())


def _drop_day_manifest(day_dir: str) -> None:
    import os

    man = os.path.join(day_dir, "_MANIFEST")
    if os.path.exists(man):
        os.remove(man)


def repair_day_maintenance(loc: str) -> dict:
    """Bring a date-partitioned layout back to a consistent state after
    a crashed maintenance call (the day-layout sibling of
    `repair_bucketed_compaction`, advice-found round 12):

    - ``_compact-*`` / ``_backfill-*`` dirs are replacement builds that
      either never went live (the final rename is atomic) or went live
      under the day= name, leaving this build dir behind — always safe
      to drop.  ``_drop-*`` dirs are retention asides of already-
      expired days — equally safe.
    - ``_old-*`` dirs are a day's previous content, moved aside between
      the rename pair.  Their ``_MANIFEST`` (written into the live day
      dir immediately before the aside rename, so the atomic rename
      carries it) names the day= entry and the snapshot file list:
      if the named day dir is MISSING the replacement never went live —
      restore the aside (rename it back, drop the manifest); if it is
      PRESENT the swap completed — replay the late-append carry (aside
      files not in the snapshot move into the day) and drop the aside.
    - A manifest-less ``_old-*`` (pre-manifest crash leftovers) is
      unidentifiable — it is NEVER deleted (the bug this function
      fixes: the old unconditional sweep destroyed the only copy of a
      day whose swap crashed mid-rename), only reported.

    Idempotent; called at the start of every maintenance entry point.
    Safe because no two maintenance calls run concurrently on one
    layout (same contract as the rename-aside swap itself).  Also
    drops a stray ``_MANIFEST`` inside live day dirs (a crash after
    the manifest write but before the aside rename).  Returns
    {'swept', 'restored', 'carried', 'unidentified'}."""
    import os
    import shutil

    swept, restored, unidentified = [], [], []
    carried = 0
    for entry in sorted(os.listdir(loc)):
        p = os.path.join(loc, entry)
        if entry.startswith(("_compact-", "_backfill-", "_drop-")):
            shutil.rmtree(p, ignore_errors=True)
            swept.append(entry)
        elif entry.startswith("_old-") and os.path.isdir(p):
            man = os.path.join(p, "_MANIFEST")
            if not os.path.exists(man):
                unidentified.append(entry)
                continue
            with open(man) as fh:
                lines = fh.read().splitlines()
            # malformed/empty manifest (e.g. power loss persisted the
            # rename but not the file data): unidentifiable — never
            # crash the repair path, never delete (review-found)
            if (
                not lines
                or not lines[0].startswith("day=")
                or any(
                    not ln.startswith(("repl:", "snap:"))
                    for ln in lines[1:]
                )
                # no repl: lines — the completed-swap probe below
                # would be vacuously False and a genuinely completed
                # swap would merge-restore stale snapshot files,
                # duplicating rows (advice r12).  Writers reject an
                # empty set; treat a survivor as unidentifiable.
                or not any(ln.startswith("repl:") for ln in lines[1:])
            ):
                unidentified.append(entry)
                continue
            day_entry = lines[0]
            repl = {
                ln[5:] for ln in lines[1:] if ln.startswith("repl:")
            }
            snapshot = {
                ln[5:] for ln in lines[1:] if ln.startswith("snap:")
            }
            day_dir = os.path.join(loc, day_entry)
            if not os.path.isdir(day_dir):
                # replacement never went live: the aside holds the
                # day's ONLY copy — put it back
                os.rename(p, day_dir)
                _drop_day_manifest(day_dir)
                restored.append(day_entry)
            elif any(
                os.path.exists(os.path.join(day_dir, r)) for r in repl
            ):
                # a named replacement file is live: the swap really
                # completed — finish the late-append carry, then the
                # aside is a pure duplicate
                for f in os.listdir(p):
                    if f.endswith(".parquet") and f not in snapshot:
                        os.rename(
                            os.path.join(p, f), os.path.join(day_dir, f)
                        )
                        carried += 1
                shutil.rmtree(p, ignore_errors=True)
                swept.append(entry)
            else:
                # the day dir exists but holds NONE of the swap's
                # replacement files: a live appender RECREATED it
                # after the mid-swap crash (review-found — the old
                # dir-exists test deleted the only historical copy
                # here).  Merge-restore: every aside file returns to
                # the day beside the appender's new ones.
                for f in os.listdir(p):
                    if f.endswith(".parquet") and not os.path.exists(
                        os.path.join(day_dir, f)
                    ):
                        os.rename(
                            os.path.join(p, f), os.path.join(day_dir, f)
                        )
                shutil.rmtree(p, ignore_errors=True)
                restored.append(day_entry)
        elif entry.startswith("day=") and os.path.isdir(p):
            _drop_day_manifest(p)
    return {
        "swept": swept,
        "restored": restored,
        "carried": carried,
        "unidentified": unidentified,
    }


def sweep_maintenance_leftovers(loc: str) -> list:
    """Back-compat face of `repair_day_maintenance`: returns the
    entries it removed.  Restores (never deletes) asides whose
    replacement never went live — see the repair docstring."""
    return repair_day_maintenance(loc)["swept"]


def drop_day_partitions(loc: str, before_day: str) -> list:
    """Retention on the date-partitioned layout: delete every day=
    directory strictly older than ``before_day`` (zero-padded
    yyyy-MM-dd, so lexicographic order IS chronological order).  The
    whole point of partitioning the fact by day — expiring a day is
    one directory unlink, never a rewrite of surviving data (the
    partition-drop semantics of sinks S10/S11 carried to the layout).
    Each expired day is first atomically renamed to an underscore
    ``_drop-*`` aside, THEN deleted: readers and live appenders see
    the day vanish in one rename, never a half-deleted directory, and
    a crash mid-delete leaves only an always-safe-to-sweep aside
    (expired bytes by definition).  A file an appender lands in the
    old path after the rename recreates the day dir — correct, since
    that data is newer than the drop moment.  Returns the dropped day
    values."""
    import os
    import re
    import shutil
    import uuid

    if not re.fullmatch(r"\d{4}-\d{2}-\d{2}", before_day):
        raise ValueError(f"before_day must be yyyy-MM-dd, got {before_day!r}")
    dropped = []
    for entry in sorted(os.listdir(loc)):
        if not entry.startswith("day="):
            continue
        day = entry.split("=", 1)[1]
        if day < before_day:
            aside = os.path.join(loc, f"_drop-{uuid.uuid4().hex}")
            os.rename(os.path.join(loc, entry), aside)
            shutil.rmtree(aside)
            dropped.append(day)
    return dropped


def backfill_day(
    spark: SparkSession, loc: str, day: str, events: DataFrame
) -> None:
    """Reprocessing face of the date-partitioned layout: replace
    exactly ONE day= directory with corrected data, atomically
    (build-aside + rename-ASIDE — readers of the day see the old file
    set or the new one, never a mixture; temp/aside dirs are
    underscore-prefixed so partition discovery ignores a crash's
    leftovers, advice-found), leaving every other day's bytes
    untouched.  Refuses rows whose ts falls outside ``day`` —
    a backfill that silently relocates rows to the wrong directory
    would corrupt every later partition-pruned read."""
    import os
    import re
    import shutil
    import uuid

    from pyspark.sql import functions as F

    if not re.fullmatch(r"\d{4}-\d{2}-\d{2}", day):
        raise ValueError(f"day must be yyyy-MM-dd, got {day!r}")
    repair_day_maintenance(loc)
    stray = events.filter(
        F.date_format("ts", "yyyy-MM-dd") != F.lit(day)
    ).count()
    if stray:
        raise ValueError(
            f"backfill_day({day!r}): {stray} rows have ts outside the day"
        )
    day_dir = os.path.join(loc, f"day={day}")
    tmp = os.path.join(loc, f"_backfill-{uuid.uuid4().hex}")
    try:
        events.coalesce(1).write.parquet(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    success = os.path.join(tmp, "_SUCCESS")
    if os.path.exists(success):
        os.remove(success)
    old = os.path.join(loc, f"_old-{uuid.uuid4().hex}")
    had_old = os.path.isdir(day_dir)
    if had_old:
        # every file present now is being replaced, so the manifest's
        # snapshot is the full current list; a crash inside the swap
        # leaves a self-describing aside repair_day_maintenance can
        # restore (advice-found: the anonymous aside was sweep-bait)
        snapshot = {
            f for f in os.listdir(day_dir) if f.endswith(".parquet")
        }
        repl = {
            f for f in os.listdir(tmp) if f.endswith(".parquet")
        }
        _write_day_manifest(day_dir, f"day={day}", snapshot, repl)
        os.rename(day_dir, old)
    try:
        os.rename(tmp, day_dir)
    except BaseException:
        if had_old:
            os.rename(old, day_dir)
            _drop_day_manifest(day_dir)
        # mirror compact_day_partitions: a failed swap must not leak
        # the fully-built tmp dir (advice-found)
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    if had_old:
        # carry files a live appender landed after the snapshot (in
        # the aside, not in it) — backfill replaces the day's HISTORY,
        # it must not eat rows committed while it ran (advice-found:
        # only the compact path carried; backfill rmtree'd them)
        for f in os.listdir(old):
            if f.endswith(".parquet") and f not in snapshot:
                os.rename(os.path.join(old, f), os.path.join(day_dir, f))
        shutil.rmtree(old, ignore_errors=True)
