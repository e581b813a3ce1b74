"""Write-path operators (SURVEY §2.1 S7/S10/S11/S14).

The reference's write path is a per-row SQLAlchemy upsert loop
(app/database/repository.py:28-164) plus raw-SQL range deletes
(:311-339) and retention policies.  On plain Parquet (no Delta in this
container) the idiomatic equivalents are:

- S7 upsert  = ``commit_append``: stage the batch's files, then publish
  them with ONE atomic manifest link in the table's ``_log/`` (Delta's
  commit protocol on a filesystem); ``read_committed`` scans only
  manifest-listed files and keeps the latest row per key, and
  ``compact_log`` folds settled commits into one replacing commit —
  the same lifecycle as Delta's checkpoint/OPTIMIZE.
- S10 delete = drop the doomed day partitions, rewrite the boundary
  ones beside the table and publish them with ``swap_aside``.
- S11 retention = the same delete from the first day to the horizon.
- One protocol replaces a live directory: ``swap_aside`` (rename-aside
  behind an fsynced manifest, late-append carry) or ``drop_dir``
  (rename to a ``drop`` sibling, then delete); ``repair`` resolves
  whatever a killed call left.  Every layout maintenance entry point
  (here and in ``layout.py``) publishes through them.
- S14 export = df.write.json.

All set-based: the reference's N-round-trips-per-batch loop disappears.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructField,
    StructType,
)


def commit_append(
    updates: DataFrame,
    table_dir: str,
    version: float | None = None,
    replaces: list[int] | None = None,
    stamp_from_column: bool = False,
) -> int:
    """S7 write side with an ATOMIC commit: the batch's parquet files
    are written to a staging directory readers never list, then published
    by creating ONE manifest file in ``_log/`` with the next commit id.
    ``os.link`` is the POSIX create-if-absent primitive — if two
    writers race for the same id, exactly one link succeeds and the
    loser retries with the next id, so the log is a total order of
    all-or-nothing commits (Delta's optimistic-concurrency protocol on
    a filesystem; the reference serializes through Postgres
    row-at-a-time instead, repository.py:28-164).  A writer that
    crashes after staging but before linking leaves only an orphan
    staging dir — invisible to readers, reclaimed by ``vacuum``.

    Scale shape: the commit is O(1) metadata (one manifest listing the
    batch's files and their schema) regardless of batch size; readers
    pay one scan over the union of committed files.  Returns the
    commit id."""

    if stamp_from_column:
        # compaction path: rows already carry their original
        # __ingest_ts — keep them so keep-latest ordering vs retained
        # commits is exactly what it was before the fold.  A raise,
        # not an assert: python -O must not let a stampless frame
        # through into a commit with undefined keep-latest ordering.
        if "__ingest_ts" not in updates.columns:
            raise ValueError(
                "stamp_from_column=True requires an __ingest_ts column "
                f"on the updates frame; got {updates.columns}"
            )
        stamped = updates
    else:
        stamp_col = (
            F.lit(float(version))
            if version is not None
            else F.current_timestamp().cast("double")
        )
        stamped = updates.withColumn("__ingest_ts", stamp_col)
    staged = os.path.join(table_dir, "_staged", uuid.uuid4().hex)
    stamped.write.mode("overwrite").parquet(staged)
    files = sorted(
        f for f in os.listdir(staged)
        if f.endswith(".parquet") and not f.startswith(".")
    )
    log_dir = os.path.join(table_dir, "_log")
    os.makedirs(log_dir, exist_ok=True)
    manifest = {
        "staged": os.path.basename(staged),
        "files": files,
        "version": version,
        # the batch's schema, as Delta's log records it in a metaData
        # action: the plan already knows it, and readers take it from
        # here instead of opening footers
        "schema": stamped.schema.jsonValue(),
    }
    if replaces:
        # compaction commit: this manifest logically SUBSUMES the
        # listed earlier commits — readers skip them from the moment
        # this single link lands (see compact_log), so replacement is
        # as atomic as a normal commit
        manifest["replaces"] = sorted(int(c) for c in replaces)
    tmp = os.path.join(log_dir, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    try:
        while True:
            existing = _commit_ids(log_dir)
            cid = (max(existing) + 1) if existing else 1
            target = os.path.join(log_dir, f"{cid:020d}.json")
            try:
                os.link(tmp, target)  # atomic: exactly one winner per id
                return cid
            except FileExistsError:
                continue  # lost the race for this id; take the next
    finally:
        os.unlink(tmp)


def _commit_ids(log_dir: str) -> list[int]:
    if not os.path.isdir(log_dir):
        return []
    return sorted(
        int(f[: -len(".json")])
        for f in os.listdir(log_dir)
        if f.endswith(".json") and not f.startswith(".")
    )


def log_versions(sink_dir: str) -> list[float]:
    """All manifest ``version`` stamps in a table's commit log —
    O(#commits) driver-side metadata reads, no Spark job.  The batch
    ids a serving layout must hold are exactly these (each maintenance
    micro-batch commits version=float(batch_id)), so layout rebuilds
    list published batches from here instead of running a
    data-sized distinct over the committed rows (review-found)."""

    log_dir = os.path.join(sink_dir, "_log")
    if not os.path.isdir(log_dir):
        return []
    out = []
    for f in sorted(os.listdir(log_dir)):
        if not f.endswith(".json") or f.startswith("."):
            continue
        with open(os.path.join(log_dir, f)) as fh:
            v = json.load(fh).get("version")
        if v is not None:
            out.append(v)
    return out


def log_has_version(sink_dir: str, version: float) -> bool:
    """Has a commit with this manifest ``version`` already been
    published to the table's log?  O(#commits) driver-side manifest
    reads — the cheap replay detector for serving-layout appends that
    ride beside the log (the IVF cell layout, the bucketed events
    silver): a micro-batch whose version is in the log but whose
    serving marker is missing crashed between append and marker, and
    the layout must be rebuilt from the log."""
    return version in log_versions(sink_dir)


def read_committed(
    spark: SparkSession, table_dir: str, keys: list[str],
    as_of: int | None = None,
    keep_meta: bool = False,
) -> DataFrame:
    """Read side of ``commit_append``: scan ONLY manifest-listed files
    (uncommitted staging data is invisible), then keep-latest per key
    ordered by (__ingest_ts, commit id) — the commit id breaks stamp
    ties with the log's total order, so concurrent writers with equal
    version stamps still merge deterministically.  Rows folded by
    compaction tie-break on their ORIGINAL commit id (preserved as
    __orig_cid by compact_log), so the ordering is exactly the
    pre-compaction one even against retained commits with equal
    stamps.

    ``as_of`` gives TIME TRAVEL: read the table exactly as it stood
    after commit id ``as_of`` by ignoring every later manifest — the
    Delta-style snapshot read, free because commits are append-only
    and totally ordered (no data is rewritten, so any historical
    snapshot is just a manifest-prefix scan).  Raises if no commit
    <= as_of exists.

    One parquet scan over all committed files, read with the schema
    their manifests record (`_committed_files`), so no footer is opened
    to plan it; the file -> commit-id map rides a broadcast join keyed
    on the (globally unique) parquet part-file basename via
    input_file_name()."""

    rows, schema = _committed_files(table_dir, as_of)
    df = spark.read.schema(schema).parquet(*[p for _, _, p in rows])
    fmap = spark.createDataFrame(
        [(f, cid) for f, cid, _ in rows], ["__file", "__cid"]
    )
    df = df.withColumn(
        "__file", F.element_at(F.split(F.input_file_name(), "/"), -1)
    ).join(F.broadcast(fmap), "__file")
    # stamp ties break on the row's ORIGINAL commit id where compaction
    # preserved it (a folded row must never outrank a newer retained
    # commit just because the compaction commit's id is higher), else
    # on the physical commit id — the pre-compaction ordering exactly
    tie = (
        F.coalesce(F.col("__orig_cid"), F.col("__cid"))
        if "__orig_cid" in df.columns
        else F.col("__cid")
    )
    w = Window.partitionBy(*keys).orderBy(
        F.desc("__ingest_ts"), F.desc(tie)
    )
    out = df.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )
    if keep_meta:
        # compaction needs the winning rows' stamps to re-stamp the
        # folded commit without disturbing keep-latest ordering
        return out.drop("__rn", "__file")
    return out.drop("__rn", "__ingest_ts", "__cid", "__orig_cid", "__file")


def _committed_files(table_dir: str, as_of: int | None = None):
    """``([(file, commit id, path)], schema)`` of the commits in scope
    (up to ``as_of``, minus those a compaction replaced): ``schema`` is
    the union of their manifests' schemas (`_merged_type`); a manifest
    with no files adds none.  Raises FileNotFoundError when no file is
    committed, ValueError when a manifest lists files but no schema."""
    log_dir = os.path.join(table_dir, "_log")
    rows = []
    cids = _commit_ids(log_dir)
    if as_of is not None:
        cids = [c for c in cids if c <= as_of]
    manifests = {}
    for cid in cids:
        with open(os.path.join(log_dir, f"{cid:020d}.json")) as fh:
            manifests[cid] = json.load(fh)
    # compaction: a manifest's "replaces" list names earlier commits it
    # logically subsumes — skip them (their files may or may not still
    # exist; GC is lazy).  Computed WITHIN the as_of scope, so time
    # travel to a pre-compaction snapshot still reads the original
    # commits until compact_log's GC physically reclaims them.
    replaced = set()
    for m in manifests.values():
        replaced.update(m.get("replaces", ()))
    schema = None
    for cid, m in manifests.items():
        if cid in replaced or not m["files"]:
            continue
        if "schema" not in m:
            raise ValueError(
                f"commit {cid} of {log_dir} lists files but no schema"
            )
        # a compaction commit carries the folded rows' ORIGINAL commit
        # ids (__orig_cid), a column the retained commits lack: the
        # union keeps it, and their rows read it as null
        s = StructType.fromJson(m["schema"])
        schema = _merged_type(schema or s, s, log_dir)
        for f in m["files"]:
            rows.append(
                (f, cid, os.path.join(table_dir, "_staged", m["staged"], f))
            )
    if not rows:
        raise FileNotFoundError(f"no commits in {log_dir}")
    return rows, schema


def _merged_type(a: DataType, b: DataType, log_dir: str) -> DataType:
    """``a`` and ``b`` merged as parquet's ``mergeSchema`` merges
    footers: struct fields by name in first-seen order, nested types
    recursively, every level nullable (as a file scan reads it); two
    other types that differ raise.  Fields only ``a`` has are kept as
    they are, so merge a first type with itself."""
    if isinstance(a, StructType) and isinstance(b, StructType):
        fields = {f.name: f for f in a.fields}
        for f in b.fields:
            old = fields.get(f.name, f)
            fields[f.name] = StructField(
                f.name,
                _merged_type(old.dataType, f.dataType, log_dir),
                True,
                old.metadata,
            )
        return StructType(list(fields.values()))
    if isinstance(a, ArrayType) and isinstance(b, ArrayType):
        return ArrayType(
            _merged_type(a.elementType, b.elementType, log_dir), True
        )
    if isinstance(a, MapType) and isinstance(b, MapType):
        return MapType(
            _merged_type(a.keyType, b.keyType, log_dir),
            _merged_type(a.valueType, b.valueType, log_dir),
            True,
        )
    if a != b:
        raise ValueError(
            f"commits of {log_dir} disagree on a column's type: "
            f"{a.simpleString()} vs {b.simpleString()}"
        )
    return a


def compact_log(
    spark: SparkSession,
    table_dir: str,
    keys: list[str],
    merge=None,
    keep_last: int = 1,
) -> int | None:
    """Compact the delta log: fold every commit EXCEPT the newest
    ``keep_last`` into one equivalent commit, so a long-running
    channel's readers scan O(keep_last + 1) manifests forever instead
    of one per micro-batch — the bounded-state guarantee the sketch
    channels' docstrings promise, made true for unbounded streams.

    ``merge`` optionally aggregates the folded state before writing
    (e.g. sum CMS deltas per (row, bucket) into a single delta row),
    shrinking ROWS as well as files; it must preserve the consuming
    view's semantics.  ``keep_last >= 1`` keeps the newest commits
    untouched because Structured Streaming may REPLAY the in-flight
    micro-batch after a crash — replays dedup against their original
    keys via keep-latest, which an aggregated fold would break; older
    commits are checkpoint-settled and safe to fold.

    Crash safety (the Delta checkpoint protocol on a filesystem): the
    compacted state is staged invisibly, then published as ONE new
    manifest carrying ``replaces=[folded ids]`` — a single atomic
    link.  Readers skip replaced commits from that moment; a crash
    before the link leaves only an orphan staging dir (vacuum
    reclaims it), a crash after leaves stale-but-ignored manifests
    that this function garbage-collects on its next run.  Returns the
    compaction commit id, or None if there was nothing to fold."""

    log_dir = os.path.join(table_dir, "_log")
    cids = _commit_ids(log_dir)
    # GC debris from earlier compactions: manifests some surviving
    # manifest replaces, plus their staged dirs
    replaced_now = set()
    manifests = {}
    for cid in cids:
        with open(os.path.join(log_dir, f"{cid:020d}.json")) as fh:
            manifests[cid] = json.load(fh)
        replaced_now.update(manifests[cid].get("replaces", ()))
    for cid in sorted(replaced_now):
        if cid in manifests:
            staged = manifests[cid]["staged"]
            os.unlink(os.path.join(log_dir, f"{cid:020d}.json"))
            shutil.rmtree(
                os.path.join(table_dir, "_staged", staged),
                ignore_errors=True,
            )
    live = [c for c in cids if c not in replaced_now]
    if len(live) <= keep_last + 1:
        return None  # nothing worth folding
    fold = live[:-keep_last] if keep_last > 0 else live
    cutoff = fold[-1]
    try:
        state = read_committed(
            spark, table_dir, keys, as_of=cutoff, keep_meta=True
        )
    except FileNotFoundError:
        return None  # every folded commit was empty — nothing to write
    if merge is None:
        # preserve EACH surviving row's original __ingest_ts AND its
        # original commit id through the compacted commit: a collapsed
        # stamp (or losing the cid) would let a stale folded row
        # outrank a newer retained commit that carries the SAME pinned
        # version stamp for the same key — read_committed's desc(cid)
        # tie-break would then see only the compaction commit's (new,
        # highest) id.  __orig_cid folds through re-compaction via the
        # coalesce (a previously-compacted row keeps its first id).
        orig = (
            F.coalesce(F.col("__orig_cid"), F.col("__cid"))
            if "__orig_cid" in state.columns
            else F.col("__cid")
        )
        return commit_append(
            state.withColumn("__orig_cid", orig).drop("__cid"),
            table_dir,
            stamp_from_column=True,
            replaces=fold,
        )
    # aggregated fold: rows lose row-identity, so the merged state
    # carries one stamp = the folded state's max (never outranks a
    # retained commit as long as version stamps are monotone — true
    # for the streaming channels' batch-id stamps, the only sanctioned
    # users of aggregating compaction)
    fold_ts = state.agg(F.max("__ingest_ts")).collect()[0][0]
    if fold_ts is None:
        return None  # folded commits carried only empty frames
    merged = merge(state.drop("__ingest_ts", "__cid", "__orig_cid"))
    return commit_append(
        merged, table_dir, version=float(fold_ts), replaces=fold
    )


def vacuum(table_dir: str) -> list[str]:
    """Reclaim staging directories no manifest references — the debris
    of writers that crashed between staging and publishing.  Never
    touches committed data; returns the removed paths."""

    log_dir = os.path.join(table_dir, "_log")
    referenced = set()
    for cid in _commit_ids(log_dir):
        with open(os.path.join(log_dir, f"{cid:020d}.json")) as fh:
            referenced.add(json.load(fh)["staged"])
    staged_root = os.path.join(table_dir, "_staged")
    removed = []
    if os.path.isdir(staged_root):
        for d in sorted(os.listdir(staged_root)):
            if d not in referenced:
                path = os.path.join(staged_root, d)
                shutil.rmtree(path, ignore_errors=True)
                removed.append(path)
    return removed


#: the swap manifest `swap_aside` writes into a live directory just
#: before renaming it aside, so the aside carries its own identity
_MANIFEST = "_MANIFEST"
#: a sibling entry `_sibling_stem` names: ``<live>.<kind>-<id>``
_SIBLING = re.compile(r"(?P<live>.+)\.(?P<kind>old|new|drop)-[0-9A-Za-z]+")


def _as_datetime(x):
    if isinstance(x, str):
        return datetime.datetime.fromisoformat(x)
    if isinstance(x, datetime.datetime):
        return x
    if isinstance(x, datetime.date):
        return datetime.datetime.combine(x, datetime.time())
    raise TypeError(f"unsupported bound type {type(x)!r}")


def _sibling_stem(live: str, kind: str) -> str:
    """``<live>.<kind>-``, the stem of a sibling of ``live``: a
    replacement build (``new``), the previous copy set aside by a swap
    (``old``) or a directory on its way out (``drop``).  A
    ``col=value`` partition's is dot-prefixed, so Spark's file index
    never lists it."""
    parent, base = os.path.split(os.path.normpath(live))
    if "=" in base:
        base = "." + base
    return os.path.join(parent, f"{base}.{kind}-")


def _set_aside(live: str, kind: str) -> str:
    aside = _sibling_stem(live, kind) + uuid.uuid4().hex
    os.rename(live, aside)
    return aside


def dir_files(root: str) -> set[str]:
    """Relative path of every file under ``root`` but its manifest."""
    out = {
        os.path.relpath(os.path.join(d, f), root)
        for d, _, names in os.walk(root)
        for f in names
    }
    out.discard(_MANIFEST)
    return out


def _move(src: str, dst: str, names) -> int:
    """Move each relative path in ``names`` from ``src`` into ``dst``
    unless ``dst`` already holds it; returns how many moved."""
    moved = 0
    for rel in sorted(names):
        target = os.path.join(dst, rel)
        if not os.path.exists(target):
            os.makedirs(os.path.dirname(target), exist_ok=True)
            os.rename(os.path.join(src, rel), target)
            moved += 1
    return moved


def _drop_manifest(live: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.remove(os.path.join(live, _MANIFEST))


def _restore(aside: str, live: str) -> None:
    os.rename(aside, live)
    _drop_manifest(live)


def _read_manifest(aside: str):
    """(replacement, snapshot) names from an aside's manifest, or None
    when it is missing, empty, malformed or names no replacement."""
    try:
        with open(os.path.join(aside, _MANIFEST)) as fh:
            lines = fh.read().splitlines()
    except FileNotFoundError:
        return None
    named = {"repl": set(), "snap": set()}
    for line in lines:
        kind, _, name = line.partition(":")
        if kind not in named or not name:
            return None
        named[kind].add(name)
    return (named["repl"], named["snap"]) if named["repl"] else None


@contextlib.contextmanager
def replacement(live: str):
    """Yield a fresh ``new`` sibling of ``live`` to build its
    replacement in; the sibling is removed if the block raises, and a
    killed builder's is swept by the next `repair`."""
    tmp = _sibling_stem(live, "new") + uuid.uuid4().hex
    try:
        yield tmp
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise


def swap_aside(tmp: str, live: str, snapshot: set | None = None) -> None:
    """Publish the fully written directory ``tmp`` at ``live`` — the one
    protocol by which a live directory is replaced.  Callers run
    `repair` on ``live`` first (every entry point does).

    1. One manifest is written into ``live`` and fsynced: a
       ``repl:<path>`` line per data file of ``tmp`` (the files that
       prove the swap went live) and a ``snap:<path>`` line per file of
       ``snapshot`` — the files the replacement was built from,
       default every file in ``live`` now.
    2. ``live`` is renamed aside to ``<live>.old-<id>``, carrying the
       manifest with it; ``tmp`` is renamed to ``live``.  If that
       rename fails, the aside is renamed back.
    3. Aside files not in ``snapshot`` landed after the replacement was
       built (a live appender); they move into the new ``live``, then
       the aside is deleted.

    A delete followed by a rename would leave NEITHER copy on disk if
    the process died between the two; a kill at any point here leaves
    a state `repair` resolves from the names and the manifest alone.
    Raises ValueError when ``tmp`` holds no data file while ``live``
    exists: such a manifest could never prove the swap completed."""
    if not os.path.isdir(live):
        os.rename(tmp, live)
        return
    if snapshot is None:
        snapshot = dir_files(live)
    repl = {
        f for f in dir_files(tmp)
        if not any(p.startswith(("_", ".")) for p in f.split(os.sep))
    }
    if not repl:
        raise ValueError(f"swap_aside: {tmp} holds no data file to publish")
    with open(os.path.join(live, _MANIFEST), "w") as fh:
        fh.write(
            "\n".join(
                [*(f"repl:{r}" for r in sorted(repl)),
                 *(f"snap:{s}" for s in sorted(snapshot))]
            )
        )
        fh.flush()
        os.fsync(fh.fileno())
    aside = _set_aside(live, "old")
    try:
        os.rename(tmp, live)
    except BaseException:
        _restore(aside, live)
        raise
    _move(aside, live, dir_files(aside) - set(snapshot))
    shutil.rmtree(aside, ignore_errors=True)


def drop_dir(live: str) -> None:
    """Delete ``live`` after one atomic rename to a ``drop`` sibling:
    readers see all of it or none of it, and a killed delete leaves a
    sibling the next `repair` sweeps."""
    shutil.rmtree(_set_aside(live, "drop"))


def _siblings(parent: str) -> dict[str, list[tuple[str, str]]]:
    """live name -> [(kind, entry)] for each sibling entry in ``parent``."""
    out: dict[str, list[tuple[str, str]]] = {}
    for entry in sorted(os.listdir(parent)) if os.path.isdir(parent) else ():
        m = _SIBLING.fullmatch(entry)
        if m:
            name = m["live"]
            if name.startswith(".") and "=" in name:
                name = name[1:]
            out.setdefault(name, []).append((m["kind"], entry))
    return out


def _repair_one(parent: str, name: str, siblings, report: dict) -> None:
    live = os.path.join(parent, name)
    asides = []
    for kind, entry in siblings:
        if kind == "old":
            asides.append(entry)
        else:
            shutil.rmtree(os.path.join(parent, entry), ignore_errors=True)
            report["swept"].append(entry)
    if not os.path.isdir(live):
        if len(asides) == 1:
            _restore(os.path.join(parent, asides[0]), live)
            report["restored"].append(name)
        else:
            report["unidentified"] += asides
        return
    for entry in asides:
        aside = os.path.join(parent, entry)
        manifest = _read_manifest(aside)
        if manifest is None:
            report["unidentified"].append(entry)
            continue
        repl, snap = manifest
        if any(os.path.exists(os.path.join(live, r)) for r in repl):
            report["carried"] += _move(aside, live, dir_files(aside) - snap)
            report["swept"].append(entry)
        else:
            _move(aside, live, dir_files(aside))
            report["restored"].append(name)
        shutil.rmtree(aside, ignore_errors=True)
    _drop_manifest(live)


def repair(live: str) -> dict:
    """Resolve what a killed `swap_aside` or `drop_dir` left of
    ``live`` and of its ``col=value`` partitions.  Idempotent; run at
    the start of every entry point that swaps or drops.  Per live
    directory:

    - ``new`` and ``drop`` siblings are swept: a replacement that
      never went live, or a directory already on its way out.
    - ``live`` missing: its aside holds the only copy — renamed back.
      Several asides for one ``live`` cannot be told apart: all are
      kept and reported.
    - ``live`` present and the aside's manifest valid: if a ``repl:``
      file is live the swap completed — late files (not ``snap:``)
      carry into ``live`` and the aside is dropped; if none is, an
      appender recreated ``live`` — every aside file merges back.
    - A manifest that is missing, empty, malformed or names no
      replacement leaves the aside unidentified: never moved or
      deleted, only reported.
    - A stray manifest inside ``live`` (a kill before the aside
      rename) is dropped.

    Leftovers are named by `_sibling_stem`, so readers never list
    them.  Returns {'swept', 'restored', 'carried', 'unidentified'}."""
    live = os.path.abspath(live)
    report = {"swept": [], "restored": [], "carried": 0, "unidentified": []}
    parent, base = os.path.split(live)
    _repair_one(parent, base, _siblings(parent).get(base, ()), report)
    if os.path.isdir(live):
        parts = _siblings(live)
        for name in sorted(set(parts) | set(os.listdir(live))):
            if "=" in name and not name.startswith("."):
                _repair_one(live, name, parts.get(name, ()), report)
    return report


def delete_range(
    spark: SparkSession,
    table_dir: str,
    ts_col: str,
    start,
    end,
) -> None:
    """S10 — range delete of rows with ``start <= ts <= end``
    (repository.py:311-339).

    On a day-partitioned table (`layout.write_day_partitioned`) this is
    chunk-drop semantics (TimescaleDB drop_chunks): days fully inside
    the range go by `drop_dir`, the at-most-two boundary days are
    rewritten alone (and dropped if emptied), and every surviving
    day's files are not read, rewritten, or even listed —
    O(partitions-touched), not O(table).  On an unpartitioned table it
    falls back to one rewrite of the whole table.  Every rewrite is
    published by `swap_aside`, so a failed rewrite or swap leaves that
    directory readable with its original rows; `repair` first
    resolves what a killed earlier call left."""
    from .layout import day_partitions

    keep = ~((F.col(ts_col) >= start) & (F.col(ts_col) <= end))

    def rewrite(path: str, drop_if_empty: bool) -> None:
        with replacement(path) as tmp:
            spark.read.parquet(path).filter(keep).write.parquet(tmp)
            # count survivors from the materialized tmp — the filter
            # above still lazily references ``path``
            if drop_if_empty and not spark.read.parquet(tmp).limit(1).count():
                drop_dir(path)
                shutil.rmtree(tmp)
            else:
                swap_aside(tmp, path)

    table_dir = os.path.normpath(table_dir)
    repair(table_dir)
    parts = day_partitions(table_dir)
    if not parts:
        rewrite(table_dir, drop_if_empty=False)
        return
    lo, hi = _as_datetime(start), _as_datetime(end)
    one_day = datetime.timedelta(days=1)
    for day, path in parts:
        d_lo = _as_datetime(day)
        if hi < d_lo or lo >= d_lo + one_day:
            continue  # fully surviving: never touched
        if lo <= d_lo and hi >= d_lo + one_day - datetime.timedelta(
            microseconds=1
        ):
            drop_dir(path)  # fully doomed: one directory drop
        else:
            rewrite(path, drop_if_empty=True)  # boundary day: its rows


def export_json(df: DataFrame, out_dir: str) -> None:
    """S14 — JSON export sink (backtesting_engine.py:469-502)."""
    df.write.mode("overwrite").json(out_dir)


def apply_retention(
    spark: SparkSession, table_dir: str, ts_col: str, horizon
) -> None:
    """S11 — retention policy: drop rows older than ``horizon``
    (02-create-tables.sh:180-186 auto-drops 30-90-day-old chunks).

    On a day-partitioned table this needs no scan at all — the doomed
    range starts at the first day directory, and ``delete_range`` turns
    it into directory drops (plus at most one boundary-day rewrite).
    Unpartitioned tables pay one min(ts) scan and the full-table
    rewrite."""
    from .layout import day_partitions

    repair(table_dir)
    parts = day_partitions(table_dir)
    if parts:
        first = _as_datetime(parts[0][0])
        delete_range(spark, table_dir, ts_col, first, horizon)
        return
    df = spark.read.parquet(table_dir)
    lo = df.agg(F.min(ts_col)).collect()[0][0]
    if lo is not None and lo <= horizon:
        delete_range(spark, table_dir, ts_col, lo, horizon)


def export_shards(
    docs: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    key_col: str = "doc_id",
) -> DataFrame:
    """Training-shard export: write the corpus as ``n_shards``
    content-keyed parquet shards plus a manifest — the final stage of
    a corpus build (gate -> dedup -> pack -> SHARD), where trainers
    consume fixed shard files and resumable data loaders index into
    them.

    Shard assignment is `llm.corpus.portable_bucket` of the key — a
    pure function of content identity, so incremental rebuilds send a
    document to the same shard every time (stable loader order,
    diff-able shards), unlike round-robin or partition-id assignment
    which reshuffles under any repartitioning.  Layout is Hive
    ``shard=NN/`` so a trainer (or Spark itself) can read one shard
    with partition pruning.

    Writes ``_manifest.json`` (shard -> rows) alongside and returns
    the manifest frame (shard, n_rows) — the loader's index.  The
    repartition is BY THE SHARD COLUMN, so each shard's rows co-locate
    into one task and each shard directory gets one file per writing
    task, not one per (task x shard).
    """
    import json as _json

    from ..llm.corpus import portable_bucket

    sharded = docs.withColumn(
        "shard", portable_bucket(F.col(key_col), "shard:", n_shards)
    )
    (
        sharded.repartition(n_shards, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_dir)
    )
    spark = docs.sparkSession
    manifest = (
        spark.read.parquet(out_dir)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("shard")
    )
    # an empty shard writes no shard=NN directory — record it as 0 so
    # a loader iterating 0..n_shards-1 never KeyErrors/path-misses on
    # a manifest that declares n_shards
    rows = {s: 0 for s in range(n_shards)}
    rows.update(
        {int(r["shard"]): int(r["n_rows"]) for r in manifest.collect()}
    )
    # tmp-write-then-rename (the commit_append protocol): a crash mid-
    # dump must not leave a truncated manifest beside complete-looking
    # shards that an orchestrator would treat as export-complete
    final = os.path.join(out_dir, "_manifest.json")
    tmp = final + ".tmp"
    with open(tmp, "w") as fh:
        _json.dump({"n_shards": n_shards, "rows": rows}, fh, sort_keys=True)
    os.replace(tmp, final)
    return manifest


def export_shards_jsonl(
    docs: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    key_col: str = "doc_id",
) -> DataFrame:
    """JSON-Lines flavor of `export_shards` — the wire format LLM data
    pipelines actually hand to trainers/tokenizer jobs (one JSON
    object per line, gzip-able, streamable).  Same content-keyed
    stable shard assignment, same Hive ``shard=NN/`` layout (one task
    per shard, partition-prunable), same atomic ``_manifest.json``.

    Spark's native json writer does the row -> JSONL encoding
    JVM-side (no Python in the path); readers get schema-on-read via
    ``spark.read.json`` or any line-oriented loader."""
    import json as _json

    from ..llm.corpus import portable_bucket

    sharded = docs.withColumn(
        "shard", portable_bucket(F.col(key_col), "shard:", n_shards)
    )
    (
        sharded.repartition(n_shards, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .json(out_dir)
    )
    spark = docs.sparkSession
    manifest = (
        spark.read.json(out_dir)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("shard")
    )
    rows = {s: 0 for s in range(n_shards)}
    rows.update(
        {int(r["shard"]): int(r["n_rows"]) for r in manifest.collect()}
    )
    final = os.path.join(out_dir, "_manifest.json")
    tmp = os.path.join(out_dir, f".manifest-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        _json.dump({"shards": rows, "format": "jsonl"}, fh, sort_keys=True)
    os.replace(tmp, final)
    return spark.createDataFrame(
        sorted(rows.items()), "shard int, n_rows long"
    )


def maintenance(
    spark: SparkSession,
    sinks: list[tuple[str, list[str]]] = (),
    retire_stale_after: float | None = 14 * 86400,
    keep_last: int = 1,
) -> dict:
    """ONE production maintenance entry point (r13 verdict Next #5):
    the lifecycle trio — log compaction, staging vacuum, stale-silver
    retirement — runnable from a cron/driver loop without knowing
    which module owns which rule.

    ``sinks`` is [(table_dir, upsert_keys), ...]: each gets
    `compact_log` (fold settled commits, ``keep_last`` shields any
    in-flight streaming replay) then `vacuum` (reclaim staging dirs
    no manifest references).  Every build-once slot untouched for
    ``retire_stale_after`` seconds is LRU-retired (consumers `utime` on
    every read, so a live silver is never reclaimed under a reader —
    `scratch.retire_stale_silvers`'s contract).  ``None`` disables retirement.

    Returns {"compacted": [dir...], "vacuumed": {dir: [paths...]},
    "retired": [paths...]} for the caller's log line.  Errors on one
    sink do not stop maintenance of the others (a wedged table must
    not block the fleet's hygiene) — they are collected under
    "errors"."""
    from .scratch import retire_stale_silvers

    report: dict = {
        "compacted": [],
        "vacuumed": {},
        "retired": [],
        "errors": {},
    }
    for table_dir, keys in sinks:
        try:
            compact_log(spark, table_dir, keys, keep_last=keep_last)
            report["compacted"].append(table_dir)
            report["vacuumed"][table_dir] = vacuum(table_dir)
        except Exception as exc:  # noqa: BLE001 — isolate per sink
            report["errors"][table_dir] = f"{type(exc).__name__}: {exc}"
    if retire_stale_after is not None:
        report["retired"] = retire_stale_silvers(
            None, max_age_seconds=retire_stale_after
        )
    return report
