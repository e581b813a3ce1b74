"""Schemas from metadata: a table read takes its schema from the
session's memo, stamped by the table's listing; a delta-log read takes
it from the manifests, which must agree with what merging the parquet
footers would give."""

from __future__ import annotations

import glob
import os
import shutil

import pytest

from streaming_forex_data_pipeline_spark.sources import sinks as S
from streaming_forex_data_pipeline_spark.sources.tables import load_table


def test_rewritten_table_reads_its_new_schema(spark, sf_dir, tmp_path):
    """A table file rewritten with an added column misses the schema
    memo: the batch loader and the table stream both see the column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from streaming_forex_data_pipeline_spark.streaming.channels import (
        read_table_stream,
    )

    d = str(tmp_path)
    path = os.path.join(d, "region.parquet")
    shutil.copy(f"{sf_dir}/region.parquet", path)
    before = load_table(spark, d, "region").columns
    assert read_table_stream(spark, d, "region").columns == before

    t = pq.read_table(path)
    pq.write_table(
        t.append_column("extra", pa.array(range(t.num_rows), pa.int64())), path
    )
    got = load_table(spark, d, "region")
    assert got.columns == before + ["extra"]
    assert sorted(r["extra"] for r in got.collect()) == list(range(t.num_rows))
    assert read_table_stream(spark, d, "region").columns == before + ["extra"]


def _merge_footers(spark, table_dir):
    files, schema = S._committed_files(table_dir)
    footers = (
        spark.read.option("mergeSchema", "true")
        .parquet(*[p for _, _, p in files])
        .schema
    )
    return schema, footers


def _by_name(schema):
    return {f.name: f for f in schema.fields}


def test_manifest_schemas_union_like_merged_footers(spark, tmp_path):
    """Commits whose schemas differ (a new column, a nested field, a
    compaction's __orig_cid) read with the union of their manifests'
    schemas, which equals parquet's mergeSchema over their files; a
    type conflict raises, as mergeSchema does."""
    log = str(tmp_path / "log")
    S.commit_append(spark.createDataFrame([(1, 1.0)], "k long, x double"), log)
    S.commit_append(
        spark.createDataFrame(
            [(2, 2.0, [1], (1, "a"))],
            "k long, x double, a array<int>, s struct<p: int, q: string>",
        ),
        log,
    )
    S.commit_append(
        spark.createDataFrame(
            [(3, (2, "b", 7))], "k long, s struct<p: int, q: string, r: int>"
        ),
        log,
    )
    # mergeSchema merges footers in file-path order (random staged dir
    # names here), so only the manifests' first-seen order is fixed
    schema, footers = _merge_footers(spark, log)
    assert schema.simpleString() == (
        "struct<k:bigint,x:double,__ingest_ts:double,a:array<int>,"
        "s:struct<p:int,q:string,r:int>>"
    )
    assert _by_name(schema) == _by_name(footers)
    assert S.compact_log(spark, log, keys=["k"]) is not None
    schema, footers = _merge_footers(spark, log)
    assert "__orig_cid" in schema.fieldNames()
    assert _by_name(schema) == _by_name(footers)

    S.commit_append(spark.createDataFrame([(4, "x")], "k long, x string"), log)
    with pytest.raises(ValueError, match="disagree"):
        S.read_committed(spark, log, keys=["k"])


def test_manifest_with_files_but_no_schema_names_its_log(spark, tmp_path):
    import json

    log = str(tmp_path / "log")
    S.commit_append(spark.range(2), log)
    (manifest,) = glob.glob(os.path.join(log, "_log", "*.json"))
    with open(manifest) as fh:
        m = json.load(fh)
    del m["schema"]
    with open(manifest, "w") as fh:
        json.dump(m, fh)
    with pytest.raises(ValueError, match=os.path.join(log, "_log")):
        S.read_committed(spark, log, keys=["id"])


def _three_file_stream(spark, df, src, order_by=None):
    """``df`` as three parquet files, streamed one file per trigger in
    ``order_by`` order when given (file mtimes increase with it)."""
    parts = str(src) + "_parts"
    split = df.repartitionByRange(3, order_by) if order_by else df.repartition(3)
    split.write.parquet(parts)
    os.makedirs(src)
    for i, part in enumerate(sorted(glob.glob(f"{parts}/part-*.parquet"))):
        dst = os.path.join(src, f"part-{i}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1700000000 + 100 * i, 1700000000 + 100 * i))
    return (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )


@pytest.mark.slow
@pytest.mark.parametrize("channel", ["cms", "hll", "histogram", "funnel"])
def test_channel_log_schema_equals_merged_footers(
    spark, sf_dir, tmp_path, channel
):
    """On the CMS, HLL, histogram and funnel channels' logs, before and
    after compact_log adds __orig_cid, the manifest-union schema equals
    mergeSchema over the committed files."""
    from streaming_forex_data_pipeline_spark.streaming import (
        analytics_stream as AS,
        corpus_stream as CS,
    )

    start, table, keys, kw = {
        "cms": (CS.start_cms_channel, "documents", ["row", "bucket", "batch"], {}),
        "hll": (CS.start_hll_channel, "documents", ["bucket", "batch"], {}),
        "histogram": (CS.start_histogram_channel, "documents", ["bin", "batch"], {}),
        "funnel": (
            AS.start_funnel_channel,
            "events",
            ["user_id", "stage_ord", "batch"],
            {"ordered": True},
        ),
    }[channel]
    src = load_table(spark, sf_dir, table)
    stream = _three_file_stream(
        spark, src, tmp_path / "src", "ts" if table == "events" else None
    )
    sink = str(tmp_path / "sink")
    q = start(
        spark, sf_dir, sink_table=f"schema_{channel}", sink_dir=sink,
        stream=stream, **kw,
    )
    q.awaitTermination(240)
    assert q.exception() is None
    assert len(S._committed_files(sink)[0]) >= 3
    schema, footers = _merge_footers(spark, sink)
    assert schema == footers
    assert S.compact_log(spark, sink, keys=keys) is not None
    schema, footers = _merge_footers(spark, sink)
    assert "__orig_cid" in schema.fieldNames()
    assert schema == footers
