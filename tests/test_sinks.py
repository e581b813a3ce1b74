"""Write-path (S7 upsert, S10 range delete, S14 JSON export) and
normalization persistence (N6) / validation (N7) tests."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from streaming_forex_data_pipeline_spark.operators import normalize as N
from streaming_forex_data_pipeline_spark.sources import sinks as S
from streaming_forex_data_pipeline_spark.sources.layout import (
    day_partitions,
    write_day_partitioned,
)
from streaming_forex_data_pipeline_spark.sources.tables import load_table


def _candles(spark, rows):
    return spark.createDataFrame(
        rows, ["symbol", "ts", "close"]
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_upsert_merge_semantics(spark, tmp_path):
    import json
    import os

    tdir = str(tmp_path / "candles")
    t0 = dt.datetime(2024, 1, 1)
    S.commit_append(
        _candles(spark, [("S", t0, 1.0), ("S", t0 + dt.timedelta(hours=1), 2.0)]),
        tdir,
    )
    # second batch updates the first key and inserts a new one
    S.commit_append(
        _candles(spark, [("S", t0, 9.0), ("S", t0 + dt.timedelta(hours=2), 3.0)]),
        tdir,
    )
    got = {
        (r["symbol"], r["ts"]): r["close"]
        for r in S.read_committed(spark, tdir, ["symbol", "ts"]).collect()
    }
    assert len(got) == 3
    assert got[("S", t0)] == 9.0  # WHEN MATCHED THEN UPDATE
    assert got[("S", t0 + dt.timedelta(hours=1))] == 2.0
    assert got[("S", t0 + dt.timedelta(hours=2))] == 3.0  # WHEN NOT MATCHED INSERT

    # compaction rewrites the conflicts away; same content
    cid = S.compact_log(spark, tdir, ["symbol", "ts"], keep_last=0)
    with open(os.path.join(tdir, "_log", f"{cid:020d}.json")) as fh:
        folded = json.load(fh)
    assert folded["replaces"] == [1, 2]
    staged = os.path.join(tdir, "_staged", folded["staged"])
    assert spark.read.parquet(staged).count() == 3
    after = S.read_committed(spark, tdir, ["symbol", "ts"])
    assert after.count() == 3
    assert "__ingest_ts" not in after.columns


def test_range_delete(spark, tmp_path):
    tdir = str(tmp_path / "delete_me")
    t0 = dt.datetime(2024, 1, 1)
    rows = [("S", t0 + dt.timedelta(hours=h), float(h)) for h in range(10)]
    _candles(spark, rows).write.parquet(tdir)
    S.delete_range(
        spark, tdir, "ts", t0 + dt.timedelta(hours=3), t0 + dt.timedelta(hours=6)
    )
    left = sorted(r["close"] for r in spark.read.parquet(tdir).collect())
    assert left == [0.0, 1.0, 2.0, 7.0, 8.0, 9.0]


def _file_identities(root):
    """(relpath -> (inode, mtime_ns)) for every data file under root —
    inode+mtime change iff a file was rewritten."""
    import os

    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out[os.path.relpath(p, root)] = (st.st_ino, st.st_mtime_ns)
    return out


def _fail_swap_in(monkeypatch):
    """Make every rename that publishes a ``.new-*`` rewrite fail."""
    import os

    real_rename = os.rename

    def failing_swap(src, dst):
        if ".new-" in os.path.basename(src):
            raise OSError("injected swap failure")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_swap)


def _siblings(path):
    import glob

    return [
        p for kind in ("new", "old", "drop") for p in glob.glob(f"{path}*.{kind}-*")
    ]


def test_range_delete_failed_swap_keeps_table(spark, tmp_path, monkeypatch):
    """Unpartitioned S10: if publishing the rewritten copy fails, the
    table still holds its original rows and no rewrite debris is left."""
    import pytest

    tdir = str(tmp_path / "keep_me")
    t0 = dt.datetime(2024, 1, 1)
    rows = [("S", t0 + dt.timedelta(hours=h), float(h)) for h in range(10)]
    _candles(spark, rows).write.parquet(tdir)
    _fail_swap_in(monkeypatch)
    with pytest.raises(OSError, match="injected swap failure"):
        S.delete_range(
            spark, tdir, "ts",
            t0 + dt.timedelta(hours=3), t0 + dt.timedelta(hours=6),
        )
    left = sorted(r["close"] for r in spark.read.parquet(tdir).collect())
    assert left == [float(h) for h in range(10)]
    assert _siblings(tdir) == []


def test_partitioned_delete_range_failed_swap_keeps_chunk(
    spark, tmp_path, monkeypatch
):
    """Boundary-chunk S10: a failed swap restores the chunk's original
    files; the table reads back every row."""
    import os

    import pytest

    tdir = str(tmp_path / "part_keep")
    t0 = dt.datetime(2024, 1, 1)
    rows = [("S", t0 + dt.timedelta(days=d, hours=h), float(d * 24 + h))
            for d in range(2) for h in range(4)]
    write_day_partitioned(_candles(spark, rows), tdir)
    _fail_swap_in(monkeypatch)
    with pytest.raises(OSError, match="injected swap failure"):
        S.delete_range(
            spark, tdir, "ts",
            dt.datetime(2024, 1, 2, 1), dt.datetime(2024, 1, 2, 2),
        )
    left = sorted(r["close"] for r in spark.read.parquet(tdir).collect())
    assert left == sorted(r[2] for r in rows)
    assert _siblings(os.path.join(tdir, ".day")) == []


def test_range_delete_restores_table_a_killed_swap_left_aside(spark, tmp_path):
    """A process killed between swap_aside's two renames leaves the
    table (or a chunk) only in its ``.old-*`` aside.  The next
    delete_range renames it back first, so every original row outside
    the range survives."""
    import os

    t0 = dt.datetime(2024, 1, 1)
    flat = str(tmp_path / "flat")
    flat_rows = [("S", t0 + dt.timedelta(hours=h), float(h)) for h in range(10)]
    _candles(spark, flat_rows).write.parquet(flat)
    os.rename(flat, f"{flat}.old-deadbeef")
    S.delete_range(spark, flat, "ts", t0, t0 + dt.timedelta(hours=1))
    left = sorted(r["close"] for r in spark.read.parquet(flat).collect())
    assert left == [float(h) for h in range(2, 10)]
    assert _siblings(flat) == []

    part = str(tmp_path / "part")
    part_rows = [("S", t0 + dt.timedelta(days=d, hours=h), float(d * 24 + h))
                 for d in range(3) for h in range(4)]
    write_day_partitioned(_candles(spark, part_rows), part)
    day = os.path.join(part, "day=2024-01-02")
    os.rename(day, os.path.join(part, ".day=2024-01-02.old-deadbeef"))
    S.delete_range(
        spark, part, "ts", dt.datetime(2024, 1, 3), dt.datetime(2024, 1, 3, 1)
    )
    left = sorted(r["close"] for r in spark.read.parquet(part).collect())
    assert left == sorted(r[2] for r in part_rows if r[2] not in (48.0, 49.0))
    assert _siblings(os.path.join(part, ".day")) == []


def test_layout_publish_restores_layout_a_killed_swap_left_aside(
    spark, tmp_path, monkeypatch
):
    """The same post-kill state for a maintained layout: when the next
    publish's own swap then fails, the original layout is back in
    place instead of staying hidden in its aside."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.streaming.channels import (
        _rebuild_layout,
    )

    sink = str(tmp_path / "log")
    S.commit_append(
        spark.range(3).withColumn("batch", F.lit(0).cast("long")), sink, version=0.0
    )
    loc = str(tmp_path / "layout")
    spark.range(5).write.parquet(f"{loc}.old-deadbeef")

    real_rename = os.rename

    def failing_swap(src, dst):
        if ".new-" in os.path.basename(src):
            raise OSError("injected swap failure")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_swap)
    with pytest.raises(OSError, match="injected swap failure"):
        _rebuild_layout(
            spark, sink, loc, "id", lambda _, tmp: spark.range(7).write.parquet(tmp)
        )
    monkeypatch.undo()
    assert sorted(r["id"] for r in spark.read.parquet(loc).collect()) == list(range(5))
    assert _siblings(loc) == []


def test_rebuild_sweeps_the_copy_a_killed_rebuild_left(spark, tmp_path):
    """A rebuild killed before its swap leaves its replacement sibling
    behind; the next rebuild sweeps it and publishes from the log."""
    from streaming_forex_data_pipeline_spark.streaming.channels import (
        _rebuild_layout,
    )

    sink = str(tmp_path / "log")
    S.commit_append(
        spark.range(3).withColumn("batch", F.lit(0).cast("long")), sink, version=0.0
    )
    loc = str(tmp_path / "layout")
    spark.range(5).write.parquet(loc)
    spark.range(7).write.parquet(f"{loc}.new-deadbeef")
    _rebuild_layout(spark, sink, loc, "id", lambda data, tmp: data.write.parquet(tmp))
    assert _siblings(loc) == []
    assert sorted(r["id"] for r in spark.read.parquet(loc).collect()) == [0, 1, 2]


def test_partitioned_retention_drops_only_old_chunks(spark, tmp_path):
    """S11 on a date-partitioned table: expired partitions vanish as
    whole directories and surviving partitions' files are untouched
    (same inode, same mtime — no rewrite, no re-listing)."""
    import os

    tdir = str(tmp_path / "part_candles")
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("S", t0 + dt.timedelta(days=d, hours=h), float(d * 24 + h))
        for d in range(5)
        for h in range(4)
    ]
    write_day_partitioned(_candles(spark, rows), tdir)
    assert len(day_partitions(tdir)) == 5

    before = _file_identities(tdir)
    surviving = {
        p: ident
        for p, ident in before.items()
        if not (p.startswith("day=2024-01-01") or p.startswith("day=2024-01-02"))
    }
    # horizon at end of Jan 2: days 1-2 expire as whole-directory drops
    S.apply_retention(
        spark, tdir, "ts", dt.datetime(2024, 1, 2, 23, 59, 59)
    )
    assert not os.path.exists(os.path.join(tdir, "day=2024-01-01"))
    assert not os.path.exists(os.path.join(tdir, "day=2024-01-02"))
    after = _file_identities(tdir)
    assert after == surviving  # byte-for-byte the same files, untouched
    left = sorted(r["close"] for r in spark.read.parquet(tdir).collect())
    assert left == [
        48.0, 49.0, 50.0, 51.0,
        72.0, 73.0, 74.0, 75.0,
        96.0, 97.0, 98.0, 99.0,
    ]


def test_partitioned_delete_range_boundary_chunk_rewrite(spark, tmp_path):
    """S10 on a date-partitioned table: interior partitions drop as
    directories, the boundary partition is rewritten alone, everything
    else keeps its exact files."""
    import os

    tdir = str(tmp_path / "part_del")
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("S", t0 + dt.timedelta(days=d, hours=h), float(d * 24 + h))
        for d in range(4)
        for h in range(4)
    ]
    write_day_partitioned(_candles(spark, rows), tdir)
    before = _file_identities(tdir)
    untouched = {
        p: ident
        for p, ident in before.items()
        if not (p.startswith("day=2024-01-02") or p.startswith("day=2024-01-03"))
    }
    # [Jan 2 00:00, Jan 3 01:00]: Jan 2 fully doomed (directory drop),
    # Jan 3 is a boundary chunk (rewrite keeps hours 2-3)
    S.delete_range(
        spark,
        tdir,
        "ts",
        dt.datetime(2024, 1, 2),
        dt.datetime(2024, 1, 3, 1, 0, 0),
    )
    assert not os.path.exists(os.path.join(tdir, "day=2024-01-02"))
    assert os.path.exists(os.path.join(tdir, "day=2024-01-03"))
    after = _file_identities(tdir)
    assert {
        p: i for p, i in after.items() if not p.startswith("day=2024-01-03")
    } == untouched
    left = sorted(r["close"] for r in spark.read.parquet(tdir).collect())
    assert left == [0.0, 1.0, 2.0, 3.0, 50.0, 51.0, 72.0, 73.0, 74.0, 75.0]


def test_partitioned_delete_range_empties_boundary_chunk(spark, tmp_path):
    """A boundary chunk whose rows are all deleted disappears instead
    of lingering as an empty directory."""
    import os

    tdir = str(tmp_path / "part_empty")
    t0 = dt.datetime(2024, 1, 1)
    rows = [("S", t0 + dt.timedelta(days=d, hours=h), float(d * 24 + h))
            for d in range(2) for h in range(4)]
    write_day_partitioned(_candles(spark, rows), tdir)
    # covers every row of Jan 2 that exists (hours 0-3) but not the
    # whole day, so it takes the boundary-rewrite path and empties it
    S.delete_range(
        spark, tdir, "ts",
        dt.datetime(2024, 1, 2), dt.datetime(2024, 1, 2, 3, 0, 0),
    )
    assert not os.path.exists(os.path.join(tdir, "day=2024-01-02"))
    left = sorted(r["close"] for r in spark.read.parquet(tdir).collect())
    assert left == [0.0, 1.0, 2.0, 3.0]


def test_whole_day_drop_is_atomic(spark, tmp_path, monkeypatch):
    """A fully doomed day leaves in one rename: a delete that dies after
    removing one of the day's files leaves readers all of that day's
    rows or none of them, never part of the day, and the other days'
    files untouched; the next repair sweeps the leftover."""
    import os
    import shutil

    import pytest

    tdir = str(tmp_path / "part_atomic")
    t0 = dt.datetime(2024, 1, 1)
    rows = [("S", t0 + dt.timedelta(days=d, hours=h), float(d * 24 + h))
            for d in range(3) for h in range(4)]
    # two writes: every day holds two files
    write_day_partitioned(_candles(spark, [r for r in rows if r[2] % 24 < 2]), tdir)
    write_day_partitioned(
        _candles(spark, [r for r in rows if r[2] % 24 >= 2]), tdir, mode="append"
    )
    doomed = os.path.join(tdir, "day=2024-01-02")
    assert len([f for f in os.listdir(doomed) if f.endswith(".parquet")]) >= 2
    untouched = {
        p: i for p, i in _file_identities(tdir).items() if "2024-01-02" not in p
    }

    def dying_rmtree(path, *args, **kwargs):
        victim = min(f for f in os.listdir(path) if f.endswith(".parquet"))
        os.remove(os.path.join(path, victim))
        raise OSError("killed mid-delete")

    monkeypatch.setattr(shutil, "rmtree", dying_rmtree)
    with pytest.raises(OSError, match="killed mid-delete"):
        S.delete_range(
            spark, tdir, "ts",
            dt.datetime(2024, 1, 2), dt.datetime(2024, 1, 2, 23, 59, 59, 999999),
        )
    monkeypatch.undo()
    closes = [r["close"] for r in spark.read.parquet(tdir).collect()]
    assert sorted(c for c in closes if 24 <= c < 48) in ([], [24.0, 25.0, 26.0, 27.0])
    assert {
        p: i for p, i in _file_identities(tdir).items() if "2024-01-02" not in p
    } == untouched
    assert S.repair(tdir)["swept"]
    assert _siblings(os.path.join(tdir, ".day")) == []


def test_export_json(spark, tmp_path):
    out = str(tmp_path / "export")
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    S.export_json(df, out)
    back = spark.read.json(out)
    assert {(r["k"], r["v"]) for r in back.collect()} == {(1, "a"), (2, "b")}


def test_normalization_params_roundtrip(spark, sf_dir, tmp_path):
    e = load_table(spark, sf_dir, "events").select("event_id", "value").limit(300)
    params = N.fit_params(e, ["value"])
    path = str(tmp_path / "params")
    N.save_params(params, path)
    loaded = N.load_params(spark, path)

    a = N.apply_normalization(e, params, ["value"], "zscore").orderBy("event_id")
    b = N.apply_normalization(e, loaded, ["value"], "zscore").orderBy("event_id")
    pa = a.select("value_normalized").toPandas()["value_normalized"]
    pb = b.select("value_normalized").toPandas()["value_normalized"]
    assert (pa - pb).abs().max() < 1e-12


def test_normalization_validation(spark, sf_dir):
    e = load_table(spark, sf_dir, "events").select("event_id", "value").limit(300)
    params = N.fit_params(e, ["value"])
    for method in ("minmax", "zscore", "robust"):
        norm = N.apply_normalization(e, params, ["value"], method)
        row = N.validate_normalization(norm, ["value"], method).collect()[0]
        assert row["value_ok"], f"{method} failed validation"
        assert row["value_finite"], f"{method} produced NaN/null"


def test_commit_append_atomic_merge(spark, tmp_path):
    """Transactional S7: manifest-published batches merge keep-latest
    with the commit id breaking stamp ties in log order."""
    import datetime as dt

    tdir = str(tmp_path / "txn")
    t0 = dt.datetime(2024, 1, 1)
    c1 = S.commit_append(
        _candles(spark, [("S", t0, 1.0), ("S", t0 + dt.timedelta(hours=1), 2.0)]),
        tdir,
        version=1.0,
    )
    # same pinned version stamp: the commit id must decide the winner
    c2 = S.commit_append(_candles(spark, [("S", t0, 9.0)]), tdir, version=1.0)
    assert (c1, c2) == (1, 2)
    got = {
        (r["symbol"], r["ts"]): r["close"]
        for r in S.read_committed(spark, tdir, ["symbol", "ts"]).collect()
    }
    assert got[("S", t0)] == 9.0
    assert got[("S", t0 + dt.timedelta(hours=1))] == 2.0
    assert len(got) == 2


def test_commit_append_crash_invisible_and_vacuum(spark, tmp_path):
    """A writer that staged files but never published a manifest must be
    invisible to readers; vacuum reclaims exactly that debris."""
    import os

    tdir = str(tmp_path / "txn")
    S.commit_append(_candles(spark, [("S", dt.datetime(2024, 1, 1), 1.0)]), tdir, version=1.0)
    # simulate a crashed writer: stage parquet but skip the manifest
    orphan = os.path.join(tdir, "_staged", "deadbeef")
    _candles(spark, [("S", dt.datetime(2024, 1, 2), 666.0)]).withColumn(
        "__ingest_ts", F.lit(2.0)
    ).write.parquet(orphan)
    rows = S.read_committed(spark, tdir, ["symbol", "ts"]).collect()
    assert [r["close"] for r in rows] == [1.0]  # orphan invisible
    removed = S.vacuum(tdir)
    assert removed == [orphan]
    assert not os.path.exists(orphan)
    # committed data untouched
    assert S.read_committed(spark, tdir, ["symbol", "ts"]).count() == 1


def test_commit_append_id_race_retries(spark, tmp_path, monkeypatch):
    """If another writer links the target id first, the loser must
    retry with the next id instead of failing or overwriting."""
    import os

    tdir = str(tmp_path / "txn")
    S.commit_append(_candles(spark, [("S", dt.datetime(2024, 1, 1), 1.0)]), tdir, version=1.0)

    real_link = os.link
    raced = {"n": 0}

    def flaky_link(src, dst):
        if raced["n"] == 0:
            raced["n"] += 1
            # a rival writer wins this id just before us
            with open(dst, "w") as fh:
                fh.write('{"staged": "rival", "files": [], "version": null}')
            raise FileExistsError(dst)
        return real_link(src, dst)

    monkeypatch.setattr(os, "link", flaky_link)
    cid = S.commit_append(
        _candles(spark, [("S", dt.datetime(2024, 1, 2), 2.0)]), tdir, version=2.0
    )
    assert cid == 3  # id 2 was taken by the rival mid-race
    assert raced["n"] == 1
    got = S.read_committed(spark, tdir, ["symbol", "ts"]).count()
    assert got == 2  # rival's empty manifest contributes no files


def test_export_shards_is_deterministic_and_complete(spark, sf_dir, tmp_path):
    """Shard assignment is a pure function of the key: two exports of
    the same corpus produce identical shard membership; every row
    lands in exactly one shard; the manifest matches the files."""
    import json

    from streaming_forex_data_pipeline_spark.sources.sinks import export_shards
    from streaming_forex_data_pipeline_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out1, out2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    m1 = {(r["shard"], r["n_rows"]) for r in export_shards(d, out1, 4).collect()}
    m2 = {(r["shard"], r["n_rows"]) for r in export_shards(d, out2, 4).collect()}
    assert m1 == m2 and len(m1) == 4
    back = spark.read.parquet(out1)
    assert back.count() == d.count()
    assert back.select("doc_id").distinct().count() == d.count()
    a1 = {(r["doc_id"], r["shard"]) for r in back.select("doc_id", "shard").collect()}
    a2 = {(r["doc_id"], r["shard"])
          for r in spark.read.parquet(out2).select("doc_id", "shard").collect()}
    assert a1 == a2
    man = json.load(open(out1 + "/_manifest.json"))
    assert sum(man["rows"].values()) == d.count()
    # every declared shard has a row-count entry, empty ones as 0
    assert sorted(map(int, man["rows"])) == list(range(man["n_shards"]))


def test_commit_append_time_travel(spark, tmp_path):
    """as_of snapshot reads: each historical commit id reconstructs the
    table exactly as it stood then — later commits are invisible, and
    an as_of before the first commit raises."""
    import datetime as dt

    import pytest

    tdir = str(tmp_path / "tt")
    t0 = dt.datetime(2024, 1, 1)
    S.commit_append(_candles(spark, [("S", t0, 1.0)]), tdir, version=1.0)
    S.commit_append(_candles(spark, [("S", t0, 2.0)]), tdir, version=2.0)
    S.commit_append(
        _candles(spark, [("S", t0 + dt.timedelta(hours=1), 7.0)]),
        tdir,
        version=3.0,
    )

    def snap(as_of=None):
        return {
            (r["symbol"], r["ts"]): r["close"]
            for r in S.read_committed(
                spark, tdir, ["symbol", "ts"], as_of=as_of
            ).collect()
        }

    assert snap(1) == {("S", t0): 1.0}
    assert snap(2) == {("S", t0): 2.0}
    assert snap(3) == snap() == {
        ("S", t0): 2.0,
        ("S", t0 + dt.timedelta(hours=1)): 7.0,
    }
    with pytest.raises(FileNotFoundError):
        snap(0)


def test_export_shards_jsonl(spark, tmp_path, sf_dir):
    """JSONL export: stable content-keyed shards, real line-oriented
    JSON (parseable by plain json.loads), complete manifest, and the
    same shard assignment as the parquet exporter."""
    import json
    import os

    from streaming_forex_data_pipeline_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents").limit(120)
    out = str(tmp_path / "jsonl")
    manifest = {
        r["shard"]: r["n_rows"]
        for r in S.export_shards_jsonl(d, out, n_shards=4).collect()
    }
    assert sum(manifest.values()) == 120 and set(manifest) == {0, 1, 2, 3}
    with open(os.path.join(out, "_manifest.json")) as fh:
        disk = json.load(fh)
    assert disk["format"] == "jsonl"
    assert {int(k): v for k, v in disk["shards"].items()} == manifest

    # every line in every shard is standalone JSON with the doc fields
    n_lines = 0
    for shard_dir in sorted(os.listdir(out)):
        if not shard_dir.startswith("shard="):
            continue
        for f in os.listdir(os.path.join(out, shard_dir)):
            if f.startswith(("_", ".")):
                continue
            with open(os.path.join(out, shard_dir, f)) as fh:
                for line in fh:
                    obj = json.loads(line)
                    assert "doc_id" in obj and "text" in obj
                    n_lines += 1
    assert n_lines == 120

    # same content-keyed assignment as the parquet exporter
    pq_out = str(tmp_path / "pq")
    S.export_shards(d, pq_out, n_shards=4)
    pq = {
        (r["doc_id"], r["shard"])
        for r in spark.read.parquet(pq_out).select("doc_id", "shard").collect()
    }
    jl = {
        (r["doc_id"], r["shard"])
        for r in spark.read.json(out).select("doc_id", "shard").collect()
    }
    assert jl == pq


def test_compact_log_preserves_state_and_bounds_manifests(spark, tmp_path):
    """Folding all-but-the-newest commits into one replaces-manifest
    must preserve read_committed's state exactly, and a later
    compaction must garbage-collect the folded manifests + files so
    the log stays O(keep_last + 1) forever."""
    import os

    from streaming_forex_data_pipeline_spark.sources.sinks import (
        commit_append,
        compact_log,
        read_committed,
    )

    d = str(tmp_path / "tbl")
    for b in range(4):
        rows = [(k, f"v{b}") for k in range(b, b + 3)]
        commit_append(
            spark.createDataFrame(rows, "k long, v string"), d,
            version=float(b),
        )
    before = {(r["k"], r["v"]) for r in read_committed(spark, d, ["k"]).collect()}
    cid = compact_log(spark, d, keys=["k"])
    assert cid is not None
    after = {(r["k"], r["v"]) for r in read_committed(spark, d, ["k"]).collect()}
    assert after == before
    # stale manifests still on disk (lazy GC) but logically ignored;
    # two more batches + a second compaction must GC them
    for b in (4, 5):
        commit_append(
            spark.createDataFrame([(99 + b, f"v{b}")], "k long, v string"),
            d, version=float(b),
        )
    compact_log(spark, d, keys=["k"])
    log = os.path.join(d, "_log")
    # live manifests now: newest batch + 2nd compaction (+ nothing
    # stale from round 1 — GC removed the replaced ones)
    import json

    live = []
    replaced = set()
    for f in sorted(os.listdir(log)):
        with open(os.path.join(log, f)) as fh:
            m = json.load(fh)
        replaced.update(m.get("replaces", ()))
        live.append(int(f.split(".")[0]))
    assert len([c for c in live if c not in replaced]) <= 3
    final = {(r["k"], r["v"]) for r in read_committed(spark, d, ["k"]).collect()}
    assert final == before | {(103, "v4"), (104, "v5")}


def test_compact_log_with_aggregating_merge_bounds_rows(spark, sf_dir, tmp_path):
    """The CMS channel's delta log compacts with a summing merge: the
    merged view still equals the batch sketch, and the folded commit
    holds sketch-sized rows instead of #batches x sketch."""
    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.llm import vocab as VO
    from streaming_forex_data_pipeline_spark.sources.sinks import (
        compact_log,
        read_committed,
    )
    from streaming_forex_data_pipeline_spark.sources.tables import load_table
    from streaming_forex_data_pipeline_spark.streaming.corpus_stream import (
        start_cms_channel,
    )

    d = load_table(spark, sf_dir, "documents")
    src = str(tmp_path / "docs2")
    d.repartition(2).write.parquet(src)
    stream = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink_dir = str(tmp_path / "cms")
    q = start_cms_channel(
        spark, sf_dir, sink_table="cms_compact_parity", sink_dir=sink_dir,
        stream=stream,
    )
    q.awaitTermination(180)

    def merge(df):
        return (
            df.groupBy("row", "bucket")
            .agg(F.sum("c").alias("c"), F.max("batch").alias("batch"))
        )

    # the availableNow stream has terminated — no replay is possible,
    # so every commit is settled and keep_last=0 may fold them all
    cid = compact_log(
        spark, sink_dir, keys=["row", "bucket", "batch"], merge=merge,
        keep_last=0,
    )
    assert cid is not None
    merged = (
        read_committed(spark, sink_dir, keys=["row", "bucket", "batch"])
        .groupBy("row", "bucket")
        .agg(F.sum("c").alias("c"))
    )
    got = {(r["row"], r["bucket"]): r["c"] for r in merged.collect()}
    want = {(r["row"], r["bucket"]): r["c"] for r in VO.cms_build(d).collect()}
    assert got == want


def test_compact_log_preserves_row_stamps_under_nonmonotone_versions(
    spark, tmp_path
):
    """Review-found conflict case: with caller-pinned version stamps
    NOT monotone with commit id, folding must not let a stale folded
    row outrank a newer retained commit — per-row stamps survive the
    (merge=None) fold."""
    from streaming_forex_data_pipeline_spark.sources.sinks import (
        commit_append,
        compact_log,
        read_committed,
    )

    d = str(tmp_path / "tbl")
    commit_append(
        spark.createDataFrame([(1, "A-v5")], "k long, v string"), d,
        version=5.0,
    )
    commit_append(
        spark.createDataFrame([(2, "K-old")], "k long, v string"), d,
        version=1.0,
    )
    commit_append(
        spark.createDataFrame([(2, "K-new")], "k long, v string"), d,
        version=3.0,
    )
    before = {(r["k"], r["v"]) for r in read_committed(spark, d, ["k"]).collect()}
    assert before == {(1, "A-v5"), (2, "K-new")}
    cid = compact_log(spark, d, keys=["k"], keep_last=1)
    assert cid is not None
    after = {(r["k"], r["v"]) for r in read_committed(spark, d, ["k"]).collect()}
    assert after == before, (
        "compaction let the stale K-old (ts 1.0, folded) outrank the "
        "retained K-new (ts 3.0)"
    )


def test_compact_log_preserves_cid_tiebreak_on_equal_stamps(
    spark, tmp_path
):
    """Round-7 ADVICE regression: when a folded row and a RETAINED
    newer commit carry the SAME pinned version stamp for the same key,
    pre-compaction keep-latest breaks the tie on commit id (newer
    commit wins).  The compaction commit gets a new highest __cid, so
    without preserving the folded rows' original ids the tie-break
    would invert and resurrect the older row.  __orig_cid must carry
    the pre-compaction ordering through one fold AND through a
    re-compaction of the compacted commit itself."""
    from streaming_forex_data_pipeline_spark.sources.sinks import (
        commit_append,
        compact_log,
        read_committed,
    )

    d = str(tmp_path / "tbl")
    # c1: k=1 old value, c2: filler (makes the fold non-trivial),
    # c3 (retained): k=1 new value with the SAME stamp as c1
    commit_append(
        spark.createDataFrame([(1, "old")], "k long, v string"), d,
        version=5.0,
    )
    commit_append(
        spark.createDataFrame([(9, "x")], "k long, v string"), d,
        version=5.0,
    )
    commit_append(
        spark.createDataFrame([(1, "new")], "k long, v string"), d,
        version=5.0,
    )
    before = {
        (r["k"], r["v"]) for r in read_committed(spark, d, ["k"]).collect()
    }
    assert before == {(1, "new"), (9, "x")}
    assert compact_log(spark, d, keys=["k"], keep_last=1) is not None
    after = {
        (r["k"], r["v"]) for r in read_committed(spark, d, ["k"]).collect()
    }
    assert after == before, (
        "compaction inverted the equal-stamp cid tie-break: the folded "
        "'old' row outranked the retained 'new' commit"
    )
    # re-compact: the compacted commit folds again; __orig_cid must
    # survive (coalesce keeps the FIRST id) and a fresh equal-stamp
    # commit must still win against twice-folded rows
    commit_append(
        spark.createDataFrame([(9, "y")], "k long, v string"), d,
        version=5.0,
    )
    assert compact_log(spark, d, keys=["k"], keep_last=1) is not None
    final = {
        (r["k"], r["v"]) for r in read_committed(spark, d, ["k"]).collect()
    }
    assert final == {(1, "new"), (9, "y")}


def test_commit_append_stamp_from_column_requires_ingest_ts(spark, tmp_path):
    """python -O safety: the compaction-path precondition must be a
    raise, not an assert."""
    import pytest

    from streaming_forex_data_pipeline_spark.sources.sinks import (
        commit_append,
    )

    with pytest.raises(ValueError, match="__ingest_ts"):
        commit_append(
            spark.createDataFrame([(1, "a")], "k long, v string"),
            str(tmp_path / "tbl"),
            stamp_from_column=True,
        )


def test_compact_log_tolerates_all_empty_folded_commits(spark, tmp_path):
    """Empty micro-batch deltas are routine; folding an all-empty
    prefix must not crash on either path — merge=None may fold them
    into one (empty) commit, the aggregating path returns None — and
    the table must stay readable either way."""
    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.sources.sinks import (
        commit_append,
        compact_log,
    )

    d = str(tmp_path / "tbl")
    empty = spark.createDataFrame([], "k long, v string")
    for b in range(3):
        commit_append(empty, d, version=float(b))
    compact_log(spark, d, keys=["k"], keep_last=1)  # must not raise

    d2 = str(tmp_path / "tbl2")
    for b in range(3):
        commit_append(empty, d2, version=float(b))
    assert (
        compact_log(
            spark, d2, keys=["k"],
            merge=lambda df: df.groupBy("k").agg(F.count("*").alias("v")),
            keep_last=1,
        )
        is None
    )


def test_maintenance_entry_point(spark, tmp_path, monkeypatch):
    """r14: the consolidated maintenance() entry — compaction + vacuum
    per sink, LRU retirement of every build-once slot, per-sink error
    isolation — one call a production cron can own."""
    import os
    import time

    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.sources import scratch as SC
    from streaming_forex_data_pipeline_spark.sources.sinks import (
        commit_append,
        maintenance,
        read_committed,
        _commit_ids,
    )

    monkeypatch.setattr("tempfile.gettempdir", lambda: str(tmp_path))
    # a sink with several settled commits
    sink = str(tmp_path / "maint_sink")
    for i in range(5):
        df = spark.range(3).select(
            F.col("id").alias("k"), F.lit(i).alias("v")
        )
        commit_append(df, sink, version=float(i))
    # a stale silver + a live one
    old = time.time() - 30 * 86400
    stale = SC.scratch_path("knng_v1_deadbeef")
    os.makedirs(stale)
    os.utime(stale, (old, old))
    live = SC.scratch_path("knng_v2_livebeef")
    os.makedirs(live)
    # every build-once family retires, not a listed few; a channel's
    # scratch_dir never does, whatever its name starts with
    other_families = [
        SC.scratch_path("kmc2_deadbeef_k16_s7"),
        SC.scratch_path("events_by_day_deadbeef"),
    ]
    channel_dir = SC.scratch_dir("ivf_assign_log_")
    for p in (*other_families, channel_dir):
        os.makedirs(p, exist_ok=True)
        os.utime(p, (old, old))

    # a wedged sink: a corrupt manifest must not stop the fleet
    wedged = str(tmp_path / "wedged_sink")
    os.makedirs(os.path.join(wedged, "_log"))
    with open(
        os.path.join(wedged, "_log", f"{1:020d}.json"), "w"
    ) as fh:
        fh.write("{not json")

    rep = maintenance(
        spark,
        sinks=[(wedged, ["k"]), (sink, ["k"])],
        retire_stale_after=14 * 86400,
    )
    assert sink in rep["compacted"]
    # LIVE manifests (not replaced by the compaction commit) must be
    # O(keep_last + 1); replaced ones stay on disk as tombstones
    import json

    log_dir = os.path.join(sink, "_log")
    cids = _commit_ids(log_dir)
    replaced = set()
    for cid in cids:
        with open(os.path.join(log_dir, f"{cid:020d}.json")) as fh:
            replaced.update(json.load(fh).get("replaces", ()))
    assert len([c for c in cids if c not in replaced]) <= 2
    got = {
        (r["k"], r["v"])
        for r in read_committed(spark, sink, keys=["k"]).collect()
    }
    assert got == {(0, 4), (1, 4), (2, 4)}  # keep-latest preserved
    assert stale in rep["retired"] and not os.path.exists(stale)
    assert os.path.exists(live)
    for p in other_families:
        assert p in rep["retired"] and not os.path.exists(p)
    assert os.path.isdir(channel_dir)
    # the wedged sink errored in isolation; the healthy one (listed
    # AFTER it) was still maintained
    assert wedged in rep["errors"]
