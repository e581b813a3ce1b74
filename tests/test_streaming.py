"""Structured Streaming slice (ST1/ST6/ST9): batch/stream parity and
envelope/tick-source smoke tests.

Parity strategy per SURVEY §5.4: the streaming candle channel reuses
the batch resample's aggregate expressions, so running it over the
same events file with an availableNow trigger must reproduce the batch
result exactly (append mode emits only watermark-closed windows, so
the comparison drops each symbol's last open window from the batch
side).
"""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from streaming_forex_data_pipeline_spark.sources.tables import (
    candles_from_events,
    normalize_event_ts,
    pin_portability_confs,
)
from streaming_forex_data_pipeline_spark.streaming import channels as CH


def test_candle_channel_matches_batch_resample(spark, sf_dir):
    q = CH.start_candle_channel(spark, sf_dir, sink_table="parity_sink")
    q.awaitTermination(120)

    got = spark.table("parity_sink").toPandas()
    assert len(got) > 0, "stream produced no candles"

    batch = candles_from_events(spark, sf_dir).toPandas()

    # append mode emits a window only once the watermark passes its end;
    # each symbol's final window(s) may still be open -> compare on the
    # emitted subset, and require it to be nearly all of the batch set.
    cols = ["symbol", "ts", "open", "high", "low", "close", "volume", "n_events"]
    got = got[cols].sort_values(["symbol", "ts"]).reset_index(drop=True)
    batch = batch[cols].sort_values(["symbol", "ts"]).reset_index(drop=True)

    merged = got.merge(batch, on=["symbol", "ts"], suffixes=("_s", "_b"))
    assert len(merged) == len(got), "stream emitted a window absent from batch"
    assert len(got) >= len(batch) - 2 * batch["symbol"].nunique(), (
        "stream dropped more than the open tail windows"
    )
    for c in ["open", "high", "low", "close", "volume"]:
        diff = (merged[f"{c}_s"] - merged[f"{c}_b"]).abs()
        assert diff.max() <= 1e-9, f"{c}: max diff {diff.max()}"
    assert (merged["n_events_s"] == merged["n_events_b"]).all()


def test_streaming_dedup_drops_duplicate_event_ids(spark, sf_dir, tmp_path):
    # duplicate the events file in a staging dir: same event_ids twice;
    # dropDuplicatesWithinWatermark on event_id must collapse them back
    # to the single-copy candle counts.
    import shutil

    staging = tmp_path / "dup_events"
    staging.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", staging / "a.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", staging / "b.parquet")

    # the ONE shared normalization path (handles both the nanos-bigint
    # and the timestamp_ntz encodings of events.parquet) — the engine
    # and this fixture must never diverge on it again
    pin_portability_confs(spark)
    schema = spark.read.parquet(str(staging / "a.parquet")).schema
    stream = normalize_event_ts(spark.readStream.schema(schema).parquet(str(staging)))

    q = (
        CH.candle_channel(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_sink")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.table("dedup_sink").toPandas()
    assert len(got) > 0
    batch = candles_from_events(spark, sf_dir).toPandas()
    merged = got.merge(batch, on=["symbol", "ts"], suffixes=("_s", "_b"))
    # candle-level invariant: every emitted window has single-copy counts
    assert (merged["n_events_s"] == merged["n_events_b"]).all(), (
        "duplicate events leaked through watermarked dedup"
    )


def test_simulated_tick_channel_produces_messages(spark):
    ticks = CH.simulated_ticks(spark, rows_per_second=50)
    messages = CH.wrap_stream_messages(ticks, "raw_ticks")
    q = (
        messages.writeStream.outputMode("append")
        .format("memory")
        .queryName("tick_sink")
        .trigger(processingTime=CH.CHANNEL_TRIGGERS["raw_ticks"])
        .start()
    )
    try:
        import time

        deadline = time.time() + 20
        n = 0
        while time.time() < deadline:
            n = spark.table("tick_sink").count()
            if n >= 10:
                break
            time.sleep(0.5)
        assert n >= 10, f"only {n} tick messages after 20s"
        row = spark.table("tick_sink").limit(1).collect()[0]
        assert row["stream_type"] == "raw_ticks"
        d = row["data"]
        assert d["ask"] > d["bid"]
        assert d["symbol"] in {"EURUSD", "GBPUSD", "USDJPY", "AUDUSD", "USDCAD"}
    finally:
        q.stop()


def test_ml_features_channel_runs_in_foreachbatch(spark, sf_dir):
    """ST2 transform applied inside foreachBatch over the candle stream:
    same function as the batch oracle query, so stream output must be a
    subset of (and consistent with) the batch projection."""
    from streaming_forex_data_pipeline_spark.streaming import features as FT

    collected = []

    def sink(batch_df, batch_id):
        out = FT.trading_signals(FT.ml_features(batch_df))
        collected.extend(out.collect())

    candles = CH.candle_channel(CH.read_events_stream(spark, sf_dir))
    q = (
        candles.writeStream.outputMode("append")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    assert collected, "foreachBatch produced no signal rows"
    assert {r["signal"] for r in collected} <= {"buy", "sell", "hold"}
    batch = FT.trading_signals(
        FT.ml_features(candles_from_events(spark, sf_dir))
    ).collect()
    batch_map = {(r["symbol"], r["ts"]): r["signal"] for r in batch}
    for r in collected:
        key = (r["symbol"], r["ts"])
        assert key in batch_map
        assert r["signal"] == batch_map[key], f"stream/batch signal diverged at {key}"


@pytest.mark.slow  # r15: slow lane (see pytest.ini)
def test_pattern_alerts_channel_matches_batch_replay(spark, sf_dir):
    """ST1 pattern_alerts — the reference's 2 s alert channel
    (websocket_manager.py:29/:204/:450-473): the streaming face must
    emit exactly the oracle-checked pattern_alerts_replay rows for
    every candle the watermark closes (append mode withholds each
    symbol's open tail), with the full alert envelope (direction,
    strength tier, integer-rendered description) byte-identical."""
    import json

    import pandas as pd

    from streaming_forex_data_pipeline_spark.plans.registry import all_queries

    q, sink = CH.start_pattern_alerts_channel(spark, sf_dir)
    q.awaitTermination(120)

    msgs = [json.loads(m) for m in sink.buffers["pattern_alerts"]]
    assert msgs, "channel emitted no alerts"
    assert {m["stream_type"] for m in msgs} == {"pattern_alerts"}

    batch = (
        all_queries()["pattern_alerts_replay"].spark(spark, sf_dir).collect()
    )
    batch_map = {
        (r["symbol"], r["ts"], r["pattern_detected"]): r for r in batch
    }
    assert len(batch_map) == len(batch)
    for m in msgs:
        d = dict(m["data"])
        # the envelope JSON renders ts in ISO form (UTC session); parse
        # back to the naive datetime the batch rows carry
        tsv = pd.Timestamp(d["ts"])
        if tsv.tzinfo is not None:
            tsv = tsv.tz_convert("UTC").tz_localize(None)
        key = (d["symbol"], tsv.to_pydatetime(), d["pattern_detected"])
        assert key in batch_map, f"stream alert {key} absent from batch"
        b = batch_map[key]
        for c in ("confidence", "direction", "strength", "description"):
            assert d[c] == b[c], (c, key, d[c], b[c])
        assert abs(d["price_level"] - b["price_level"]) <= 1e-12
        assert abs(d["signal_strength"] - b["signal_strength"]) <= 1e-12
    # the channel is registered in the reference trigger table
    assert CH.CHANNEL_TRIGGERS["pattern_alerts"] == "2 seconds"
    # the WHOLE trigger table matches the reference's StreamConfig
    # frequency contract (websocket_manager.py:201-209) — all 8
    # reference channels plus the engine-local ohlcv_candles at the
    # reference's documented 1000 ms config fallback (r11 verdict
    # Next #2: 3 of 8 previously deviated)
    assert CH.CHANNEL_TRIGGERS == {
        "raw_ticks": "100 milliseconds",
        "ml_features": "1 second",
        "trading_signals": "500 milliseconds",
        "pattern_alerts": "2 seconds",
        "technical_analysis": "1 second",
        "order_book": "200 milliseconds",
        "microstructure": "5 seconds",
        "economic_events": "10 seconds",
        "ohlcv_candles": "1 second",
    }
    # coverage: only the watermark-open tail may be withheld
    n_symbols = len({r["symbol"] for r in batch})
    assert len(msgs) >= len(batch) - 3 * n_symbols


def test_session_channel_matches_batch_session_windows(spark, sf_dir):
    """ST8 parity: the streaming session_window channel over the same
    events file must reproduce the batch session_windows aggregates on
    every session it emits (append mode withholds sessions the
    watermark hasn't closed — each symbol's open tail)."""
    from streaming_forex_data_pipeline_spark.plans.timeseries import (
        session_windows,
    )

    q = CH.start_session_channel(spark, sf_dir, sink_table="session_parity")
    q.awaitTermination(120)

    got = spark.table("session_parity").toPandas()
    assert len(got) > 0, "stream emitted no sessions"

    batch = (
        session_windows(spark, sf_dir)
        .select(
            "symbol", "session_start", "session_end",
            "n_events", "min_value", "max_value",
        )
        .toPandas()
    )
    keys = ["symbol", "session_start"]
    merged = got.merge(batch, on=keys, suffixes=("_s", "_b"))
    assert len(merged) == len(got), "stream emitted a session absent from batch"
    # all but the watermark-open tail must be emitted
    assert len(got) >= len(batch) - 3 * batch["symbol"].nunique()
    assert (merged["session_end_s"] == merged["session_end_b"]).all()
    assert (merged["n_events_s"] == merged["n_events_b"]).all()
    for c in ("min_value", "max_value"):
        assert (merged[f"{c}_s"] - merged[f"{c}_b"]).abs().max() <= 1e-9


def test_corpus_gate_stream_matches_batch_gate(spark, sf_dir):
    """The stateless streaming gate must emit exactly the batch gate's
    rows (attributes AND decisions) for the same table."""
    from streaming_forex_data_pipeline_spark.llm import corpus as CO
    from streaming_forex_data_pipeline_spark.sources.tables import load_table
    from streaming_forex_data_pipeline_spark.streaming.corpus_stream import (
        start_corpus_gate_channel,
    )

    q = start_corpus_gate_channel(spark, sf_dir, sink_table="corpus_gate_parity")
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (
            r["n_words"], r["dup_word_frac"], r["top_word_frac"],
            r["avg_word_len"], r["reasons"], r["keep"],
        )
        for r in spark.table("corpus_gate_parity").collect()
    }
    want = {
        r["doc_id"]: (
            r["n_words"], r["dup_word_frac"], r["top_word_frac"],
            r["avg_word_len"], r["reasons"], r["keep"],
        )
        for r in CO.quality_gate(load_table(spark, sf_dir, "documents")).collect()
    }
    assert got == want and len(got) > 0


@pytest.mark.slow  # r15: slow lane (see pytest.ini)
def test_incremental_dedup_channel_matches_batch(spark, sf_dir):
    """The streaming incremental-dedup channel's accumulated pairs must
    equal the batch incremental result for the same cutoff."""
    from streaming_forex_data_pipeline_spark.llm import dedup as DD
    from streaming_forex_data_pipeline_spark.sources.tables import load_table
    from streaming_forex_data_pipeline_spark.streaming.corpus_stream import (
        start_incremental_dedup_channel,
    )

    d = load_table(spark, sf_dir, "documents")
    cutoff = (d.agg(F.max("doc_id")).collect()[0][0] + 1) * 4 // 5
    q = start_incremental_dedup_channel(
        spark, sf_dir, cutoff, sink_table="inc_dedup_parity"
    )
    q.awaitTermination(180)
    got = {
        (r["doc_a"], r["doc_b"])
        for r in spark.table("inc_dedup_parity").collect()
    }
    want = {
        (r["doc_a"], r["doc_b"])
        for r in DD.incremental_near_dup_pairs(
            d, F.col("doc_id") >= cutoff, threshold=1.0, bands=1
        ).collect()
    }
    assert got == want and len(got) > 0


def test_decontamination_channel_matches_batch(spark, sf_dir):
    """The streaming scrub's survivors must equal the batch
    decontaminate result for the same eval split and gram size."""
    from streaming_forex_data_pipeline_spark.llm import dedup as DD
    from streaming_forex_data_pipeline_spark.sources.tables import load_table
    from streaming_forex_data_pipeline_spark.streaming.corpus_stream import (
        start_decontamination_channel,
    )

    q = start_decontamination_channel(
        spark, sf_dir, eval_mod=25, n=4, sink_table="decon_parity"
    )
    q.awaitTermination(180)
    got = {
        (r["doc_id"], r["source"], r["n_chars"])
        for r in spark.table("decon_parity").collect()
    }
    d = load_table(spark, sf_dir, "documents")
    want = {
        (r["doc_id"], r["source"], r["n_chars"])
        for r in DD.decontaminate(d, F.col("doc_id") % 25 == 0, n=4).collect()
    }
    assert got == want and len(got) > 0


def test_media_decode_channel_matches_batch(spark, sf_dir):
    """The codec kernels run INSIDE the continuous plan (stateless
    mapInPandas, no foreachBatch) and agree with the batch tier."""
    from streaming_forex_data_pipeline_spark.llm.multimodal import (
        decode_images,
        encode_images,
    )
    from streaming_forex_data_pipeline_spark.sources.tables import load_table
    from streaming_forex_data_pipeline_spark.streaming.corpus_stream import (
        start_media_decode_channel,
    )

    q = start_media_decode_channel(spark, sf_dir, sink_table="media_parity")
    q.awaitTermination(180)
    got = {tuple(r) for r in spark.table("media_parity").collect()}
    d = load_table(spark, sf_dir, "documents")
    want = {tuple(r) for r in decode_images(encode_images(d)).collect()}
    assert got == want and len(got) > 0


def _two_batch_docs_stream(spark, sf_dir, tmp_path):
    """Stage documents as TWO parquet files and stream them one file
    per trigger, so the sketch channels must genuinely MERGE across
    micro-batches (a single-batch parity test would pass even with no
    merge law at all)."""
    from streaming_forex_data_pipeline_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    src = str(tmp_path / "docs_2files")
    d.repartition(2).write.parquet(src)
    stream = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    return d, stream


def test_cms_channel_merges_across_microbatches(spark, sf_dir, tmp_path):
    """Per-batch CMS deltas summed through the commit log must equal
    the batch sketch over the whole table — the CMS merge law, proven
    across (at least) two real micro-batches."""
    import os

    from streaming_forex_data_pipeline_spark.llm import vocab as VO
    from streaming_forex_data_pipeline_spark.streaming.corpus_stream import (
        start_cms_channel,
    )

    d, stream = _two_batch_docs_stream(spark, sf_dir, tmp_path)
    sink_dir = str(tmp_path / "cms_sink")
    q = start_cms_channel(
        spark, sf_dir, sink_table="cms_parity", sink_dir=sink_dir,
        stream=stream,
    )
    q.awaitTermination(180)
    assert len(os.listdir(os.path.join(sink_dir, "_log"))) >= 2, (
        "stream collapsed into one micro-batch — merge law untested"
    )
    got = {
        (r["row"], r["bucket"]): r["c"]
        for r in spark.table("cms_parity").collect()
    }
    want = {
        (r["row"], r["bucket"]): r["c"] for r in VO.cms_build(d).collect()
    }
    assert got == want and len(got) > 0


def test_hll_channel_merges_across_microbatches(spark, sf_dir, tmp_path):
    """Per-batch HLL register files max-merged through the commit log
    must equal the batch register file over the whole table, and fold
    to the identical cardinality estimate."""
    import os

    from streaming_forex_data_pipeline_spark.llm import vocab as VO
    from streaming_forex_data_pipeline_spark.llm.corpus import words_array
    from streaming_forex_data_pipeline_spark.streaming.corpus_stream import (
        start_hll_channel,
    )

    d, stream = _two_batch_docs_stream(spark, sf_dir, tmp_path)
    sink_dir = str(tmp_path / "hll_sink")
    q = start_hll_channel(
        spark, sf_dir, sink_table="hll_parity", sink_dir=sink_dir,
        stream=stream,
    )
    q.awaitTermination(180)
    assert len(os.listdir(os.path.join(sink_dir, "_log"))) >= 2
    merged = spark.table("hll_parity")
    got = {(r["bucket"]): r["max_rho"] for r in merged.collect()}
    items = d.select(F.explode(words_array("text")).alias("item"))
    want = {
        (r["bucket"]): r["max_rho"]
        for r in VO.hll_registers(items).collect()
    }
    assert got == want and len(got) == 64
    est_stream = VO.hll_estimate(merged).collect()[0]
    est_batch = VO.hll_estimate(VO.hll_registers(items)).collect()[0]
    assert est_stream["s_star"] == est_batch["s_star"]
    assert est_stream["hll_est"] == est_batch["hll_est"]


def test_histogram_channel_merges_across_microbatches(spark, sf_dir, tmp_path):
    """Per-batch histogram spines summed through the commit log must
    equal the batch sketch, and fold to identical quantile estimates."""
    import os

    from streaming_forex_data_pipeline_spark.llm import corpus as CO
    from streaming_forex_data_pipeline_spark.streaming.corpus_stream import (
        start_histogram_channel,
    )

    d, stream = _two_batch_docs_stream(spark, sf_dir, tmp_path)
    sink_dir = str(tmp_path / "hist_sink")
    q = start_histogram_channel(
        spark, sf_dir, sink_table="hist_parity", sink_dir=sink_dir,
        stream=stream,
    )
    q.awaitTermination(180)
    assert len(os.listdir(os.path.join(sink_dir, "_log"))) >= 2
    merged = spark.table("hist_parity")
    got = {r["bin"]: r["c"] for r in merged.collect()}
    batch_sk = CO.histogram_sketch(d, "n_chars", lo=0.0, hi=1000.0, n_bins=50)
    want = {r["bin"]: r["c"] for r in batch_sk.collect()}
    assert got == want and len(got) == 52
    qe_stream = {
        r["q"]: r["est_value"]
        for r in CO.histogram_quantiles(merged).collect()
    }
    qe_batch = {
        r["q"]: r["est_value"]
        for r in CO.histogram_quantiles(batch_sk).collect()
    }
    assert qe_stream == qe_batch and len(qe_stream) == 3


def test_reservoir_channel_matches_batch_sample(spark, sf_dir, tmp_path):
    """Per-batch top-ks max-merged through the commit log must equal
    the batch A-Res sample over the whole table — the reservoir merge
    law across real micro-batches."""
    import os

    from streaming_forex_data_pipeline_spark.llm import corpus as CO
    from streaming_forex_data_pipeline_spark.streaming.corpus_stream import (
        start_reservoir_channel,
    )

    d, stream = _two_batch_docs_stream(spark, sf_dir, tmp_path)
    sink_dir = str(tmp_path / "res_sink")
    q = start_reservoir_channel(
        spark, sf_dir, k=25, sink_table="res_parity", sink_dir=sink_dir,
        stream=stream,
    )
    q.awaitTermination(180)
    assert len(os.listdir(os.path.join(sink_dir, "_log"))) >= 2
    got = [
        (r["doc_id"], r["res_key"])
        for r in spark.table("res_parity").orderBy("sample_rank").collect()
    ]
    want = [
        (r["doc_id"], r["res_key"])
        for r in CO.weighted_reservoir_sample(
            d.select("doc_id", "n_chars"), k=25, weight_col="n_chars",
            seed="res1",
        ).orderBy("sample_rank").collect()
    ]
    assert got == want and len(got) == 25


@pytest.mark.parametrize("channel", ["cms", "reservoir"])
def test_merge_channel_replay_merges_idempotently(
    spark, sf_dir, tmp_path, channel
):
    """A restarted merge-law channel (same sink_dir and source, fresh
    checkpoint) re-delivers batch ids 0 and 1; keep-latest on each
    (key, batch) identity must absorb the replay, so the view still
    equals the batch answer.  A replay that doubled rows would double
    the CMS counters (SUM law) and repeat reservoir candidates (top-k
    law).  The query also reports under its sink_table name."""
    import os

    from streaming_forex_data_pipeline_spark.llm import corpus as CO
    from streaming_forex_data_pipeline_spark.llm import vocab as VO
    from streaming_forex_data_pipeline_spark.streaming.channels import (
        channel_stats,
    )
    from streaming_forex_data_pipeline_spark.streaming.corpus_stream import (
        start_cms_channel,
        start_reservoir_channel,
    )

    d, stream = _two_batch_docs_stream(spark, sf_dir, tmp_path)
    if channel == "cms":
        start, kw = start_cms_channel, {}

        def answer(df):
            return {(r["row"], r["bucket"]): r["c"] for r in df.collect()}

        want = answer(VO.cms_build(d))
    else:
        start, kw = start_reservoir_channel, {"k": 25}

        def answer(df):
            return [
                (r["doc_id"], r["res_key"])
                for r in df.orderBy("sample_rank").collect()
            ]

        want = answer(
            CO.weighted_reservoir_sample(
                d.select("doc_id", "n_chars"), k=25, weight_col="n_chars",
                seed="res1",
            )
        )
    sink_table = f"replay_{channel}"
    sink_dir = str(tmp_path / f"replay_{channel}_sink")
    for _ in range(2):  # the run, then the restart that replays it
        q = start(
            spark, sf_dir, sink_table=sink_table, sink_dir=sink_dir,
            stream=stream, **kw,
        )
        q.awaitTermination(180)
        assert q.exception() is None
    assert len(os.listdir(os.path.join(sink_dir, "_log"))) >= 4, (
        "restart did not replay both micro-batches"
    )
    got = answer(spark.table(sink_table))
    assert got == want and len(got) > 0
    stats = channel_stats(spark, queries=[q]).collect()
    assert [r["channel"] for r in stats] == [sink_table]


def test_dsir_model_channel_matches_batch_models(spark, sf_dir, tmp_path):
    """The streamed DSIR bucket models (raw + target counts merged by
    sum through the commit log) must equal the batch models computed
    in one pass over the whole table."""
    import os

    from streaming_forex_data_pipeline_spark.llm.dedup import (
        portable_token_hash,
    )
    from streaming_forex_data_pipeline_spark.streaming.corpus_stream import (
        start_dsir_model_channel,
    )

    d, stream = _two_batch_docs_stream(spark, sf_dir, tmp_path)
    sink_dir = str(tmp_path / "dsir_sink")
    q = start_dsir_model_channel(
        spark, sf_dir, sink_table="dsir_parity", sink_dir=sink_dir,
        stream=stream,
    )
    q.awaitTermination(180)
    assert len(os.listdir(os.path.join(sink_dir, "_log"))) >= 2
    got = {
        r["b"]: (r["cr"], r["ct"])
        for r in spark.table("dsir_parity").collect()
    }
    want = {
        r["b"]: (r["cr"], r["ct"])
        for r in d.select(
            (F.col("lang") == "en").alias("is_target"),
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("tok"),
        )
        .select(
            "is_target", (portable_token_hash(F.col("tok")) % 1024).alias("b")
        )
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("cr"),
            F.count(F.when(F.col("is_target"), 1)).alias("ct"),
        )
        .collect()
    }
    # the fixture corpus has ~31 distinct tokens, so ~31 touched buckets
    assert got == want and len(got) >= 25


def test_gate_dashboard_channel_matches_batch(spark, sf_dir, tmp_path):
    """Per-batch gate counters summed through the commit log must
    equal the batch per-source dashboard over the whole table."""
    import os

    from streaming_forex_data_pipeline_spark.plans.registry import all_queries
    from streaming_forex_data_pipeline_spark.streaming.corpus_stream import (
        start_gate_dashboard_channel,
    )

    d, stream = _two_batch_docs_stream(spark, sf_dir, tmp_path)
    sink_dir = str(tmp_path / "gate_sink")
    q = start_gate_dashboard_channel(
        spark, sf_dir, sink_table="gate_dash_parity", sink_dir=sink_dir,
        stream=stream,
    )
    q.awaitTermination(180)
    assert len(os.listdir(os.path.join(sink_dir, "_log"))) >= 2
    got = {tuple(r) for r in spark.table("gate_dash_parity").collect()}
    want = {
        tuple(r)
        for r in all_queries()["gate_by_source"]
        .spark(spark, sf_dir)
        .drop("keep_frac")
        .collect()
    }
    assert got == want and len(got) > 0


def test_cohort_channel_matches_batch_firsts(spark, sf_dir, tmp_path):
    """The streamed cohort sizes (per-user first-event timestamps
    merged by MIN through the commit log) must equal the batch
    cohort dimension over the whole events table — the MIN merge law,
    proven across (at least) two real micro-batches split so that
    many users appear in BOTH batches (ts-ordered halves), which a
    no-merge implementation would double-count or mis-date."""
    import os

    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.sources.tables import load_table
    from streaming_forex_data_pipeline_spark.streaming.analytics_stream import (
        start_cohort_channel,
    )

    e = load_table(spark, sf_dir, "events")
    # ts-ordered halves: a user active across the month lands in both
    # files, so the stream MUST take the min across batches to get the
    # true first-event week
    src = str(tmp_path / "events_2files")
    e.repartitionByRange(2, "ts").write.parquet(src)
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink_dir = str(tmp_path / "cohort_sink")
    q = start_cohort_channel(
        spark, sf_dir, sink_table="cohort_parity", sink_dir=sink_dir,
        stream=stream,
    )
    q.awaitTermination(180)
    assert len(os.listdir(os.path.join(sink_dir, "_log"))) >= 2, (
        "stream collapsed into one micro-batch — merge law untested"
    )
    got = {
        (r["cohort"], r["n_cohort"])
        for r in spark.table("cohort_parity").collect()
    }
    want = {
        (r["cohort"], r["n_cohort"])
        for r in e.groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort"))
        .groupBy("cohort")
        .agg(F.count(F.lit(1)).alias("n_cohort"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_funnel_channel_matches_batch_funnel(spark, sf_dir, tmp_path):
    """The stateful strict-funnel channel (per-user stage machine in
    applyInPandasWithState, transitions committed through the delta
    log) must reproduce the batch funnel_conversion stage counts when
    events arrive in event-time order across micro-batches — with
    users whose funnels STRADDLE the batch boundary, so cross-batch
    GroupState continuity is actually exercised."""
    import os

    from streaming_forex_data_pipeline_spark.plans.registry import all_queries
    from streaming_forex_data_pipeline_spark.streaming.analytics_stream import (
        start_funnel_channel,
    )
    from streaming_forex_data_pipeline_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events")
    # stage the two event-time halves as files with STRICTLY INCREASING
    # mtimes: FileStreamSource orders files by modification time (not
    # name), and the funnel's ordering contract requires micro-batches
    # to arrive in event-time order
    import glob
    import shutil

    src = str(tmp_path / "events_ordered_2files")
    os.makedirs(src)
    halves = str(tmp_path / "halves")
    e.repartitionByRange(2, "ts").write.parquet(halves)
    for i, part in enumerate(sorted(glob.glob(f"{halves}/part-*"))):
        dst = os.path.join(src, f"half-{i}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1700000000 + 100 * i, 1700000000 + 100 * i))
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink_dir = str(tmp_path / "funnel_sink")
    q = start_funnel_channel(
        spark, sf_dir, sink_table="funnel_parity", sink_dir=sink_dir,
        stream=stream, ordered=True,
    )
    q.awaitTermination(240)
    assert len(os.listdir(os.path.join(sink_dir, "_log"))) >= 2, (
        "stream collapsed into one micro-batch — state continuity untested"
    )
    got = {
        (r["stage_ord"], r["stage"], r["n_users"])
        for r in spark.table("funnel_parity").collect()
    }
    want = {
        (r["stage_ord"], r["stage"], r["n_users"])
        for r in all_queries()["funnel_conversion"]
        .spark(spark, sf_dir)
        .select("stage_ord", "stage", "n_users")
        .collect()
    }
    assert got == want and len(got) == 4


def test_wau_channel_registers_match_batch(spark, sf_dir, tmp_path):
    """Per-batch (day, bucket) HLL register deltas merged by MAX
    through the commit log must equal the batch register file over the
    whole events table — the calendar-keyed HLL merge law, across
    micro-batch halves split by ts so most days appear in one batch
    but boundary days and users span both."""
    import os

    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.llm.vocab import (
        hll_keyed_rhos,
    )
    from streaming_forex_data_pipeline_spark.sources.tables import load_table
    from streaming_forex_data_pipeline_spark.streaming.analytics_stream import (
        start_wau_channel,
    )

    e = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "events_2files_wau")
    e.repartitionByRange(2, "ts").write.parquet(src)
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink_dir = str(tmp_path / "wau_sink")
    q = start_wau_channel(
        spark, sf_dir, sink_table="wau_parity", sink_dir=sink_dir,
        stream=stream,
    )
    q.awaitTermination(180)
    assert len(os.listdir(os.path.join(sink_dir, "_log"))) >= 2
    got = {
        (r["day"], r["bucket"]): r["max_rho"]
        for r in spark.table("wau_parity").collect()
    }
    want = {
        (r["day"], r["bucket"]): r["max_rho"]
        for r in hll_keyed_rhos(
            e.select(F.date_trunc("day", "ts").alias("day"), "user_id"),
            "user_id",
            ["day"],
        ).collect()
    }
    assert got == want and len(got) > 50


def _staged_event_files(spark, e, out_dir, frames):
    """Write each frame as one parquet file in `out_dir` with strictly
    increasing mtimes: FileStreamSource consumes files in
    MODIFICATION-TIME order, so frame i becomes micro-batch i."""
    import glob
    import os
    import shutil

    os.makedirs(out_dir)
    for i, df in enumerate(frames):
        tmp = os.path.join(out_dir, f"_stage{i}")
        df.coalesce(1).write.parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        dst = os.path.join(out_dir, f"batch-{i}.parquet")
        shutil.copy(part, dst)
        shutil.rmtree(tmp)
        os.utime(dst, (1700000000 + 100 * i, 1700000000 + 100 * i))


def test_funnel_reorder_tier_matches_batch_on_disordered_stream(
    spark, sf_dir, tmp_path
):
    """Round-9: the watermark-reorder tier ENFORCES the funnel's
    event-time ordering contract instead of stating it.  Micro-batches
    deliver each user's events OUT of event-time order (random split,
    so a later batch carries earlier events); with a lateness bound
    covering the disorder, the state machine buffers per-user events
    and releases them in event-time order only once the watermark has
    passed them — the final stage counts must equal the batch
    funnel_conversion exactly, with ZERO recorded violations.  The
    drain is the channel's OWN final_flush (round-10 ADVICE made
    built-in): no caller-side wm_pusher rows anywhere in this test."""
    import os

    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.plans.registry import all_queries
    from streaming_forex_data_pipeline_spark.sources.tables import load_table
    from streaming_forex_data_pipeline_spark.streaming.analytics_stream import (
        start_funnel_channel,
    )

    e = load_table(spark, sf_dir, "events")
    # deterministic random split: NOT by ts, so each half spans the
    # whole time range and batch 2 is full of events older than batch
    # 1's max — cross-batch disorder for every user
    h1 = e.filter(F.xxhash64("event_id") % 2 == 0)
    h2 = e.filter(F.xxhash64("event_id") % 2 != 0)
    src = str(tmp_path / "events_disordered")
    _staged_event_files(spark, e, src, [h1, h2])
    sink_dir = str(tmp_path / "funnel_reorder_sink")
    q = start_funnel_channel(
        spark, sf_dir, sink_table="funnel_reorder", sink_dir=sink_dir,
        source_dir=src, final_flush=True, lateness="90 days",
    )
    q.awaitTermination(300)
    assert len(os.listdir(os.path.join(sink_dir, "_log"))) >= 2, (
        "stream collapsed into one micro-batch — reordering untested"
    )
    got = {
        (r["stage_ord"], r["stage"], r["n_users"])
        for r in spark.table("funnel_reorder").collect()
    }
    want = {
        (r["stage_ord"], r["stage"], r["n_users"])
        for r in all_queries()["funnel_conversion"]
        .spark(spark, sf_dir)
        .select("stage_ord", "stage", "n_users")
        .collect()
    }
    assert got == want and len(got) == 4
    # everything was inside the lateness bound: no late drops
    assert spark.table("funnel_reorder_violations").count() == 0


def test_funnel_default_invocation_corrects_disorder(
    spark, sf_dir, tmp_path
):
    """Round-9 verdict Next #5: the PRODUCTION DEFAULT invocation — no
    ``lateness`` named, no ``ordered`` opt-in — must be the reorder
    tier and must reproduce the batch funnel on a disordered stream.
    The fixture's disorder is bounded (each event's file assignment is
    its ts jittered by a deterministic +/-6 h, files cover 2-day
    windows), so it sits inside the default 1-day lateness; the
    channel's own final_flush drains the buffered tail (no caller-side
    pusher rows)."""
    import os

    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.plans.olap_q import (
        funnel_over_events,
    )
    from streaming_forex_data_pipeline_spark.sources.tables import load_table
    from streaming_forex_data_pipeline_spark.streaming.analytics_stream import (
        start_funnel_channel,
    )

    e = load_table(spark, sf_dir, "events")
    # an 8-day slice keeps the micro-batch count small (4 window files
    # + the channel's 2 flush sentinels) while still crossing several
    # file boundaries
    cut = F.lit("2024-01-09").cast("timestamp")
    sl = e.filter(F.col("ts") < cut)
    # pmod, not %: Spark's % keeps the dividend's sign, which would
    # skew the jitter to -18h..+6h and shave the lateness margin
    jitter_s = F.pmod(F.xxhash64("event_id"), F.lit(43200)) - 21600
    shifted = F.col("ts").cast("double") + jitter_s
    day0 = F.lit("2024-01-01").cast("timestamp").cast("double")
    filed = sl.withColumn(
        "__file",
        F.floor((shifted - day0) / (2 * 86400.0)).cast("int"),
    )
    # iterate the FULL observed file range: the earliest events jitter
    # to file -1, and skipping that file would silently drop rows the
    # batch comparator still counts
    fmin, fmax = filed.agg(F.min("__file"), F.max("__file")).first()
    frames = [
        filed.filter(F.col("__file") == i).drop("__file")
        for i in range(fmin, fmax + 1)
    ]
    src = str(tmp_path / "events_default_disordered")
    _staged_event_files(spark, e, src, frames)
    sink_dir = str(tmp_path / "funnel_default_sink")
    q = start_funnel_channel(
        spark, sf_dir, sink_table="funnel_default", sink_dir=sink_dir,
        source_dir=src, final_flush=True,
    )
    q.awaitTermination(300)
    assert len(os.listdir(os.path.join(sink_dir, "_log"))) >= 3, (
        "stream collapsed into too few micro-batches — cross-batch "
        "disorder untested"
    )
    got = {
        (r["stage_ord"], r["stage"], r["n_users"])
        for r in spark.table("funnel_default").collect()
    }
    want = {
        (r["stage_ord"], r["stage"], r["n_users"])
        for r in funnel_over_events(sl)
        .select("stage_ord", "stage", "n_users")
        .collect()
    }
    assert got == want and len(got) == 4
    # bounded disorder inside the default lateness: zero violations
    assert spark.table("funnel_default_violations").count() == 0


def test_funnel_fast_path_requires_explicit_opt_in(spark, sf_dir):
    """lateness=None without ordered=True must raise — reaching the
    unsafe-under-disorder mode by 'turning off lateness' was exactly
    the silent default the round-10 flip removes."""
    import pytest

    from streaming_forex_data_pipeline_spark.streaming.analytics_stream import (
        start_funnel_channel,
    )

    with pytest.raises(ValueError, match="ordered=True"):
        start_funnel_channel(spark, sf_dir, lateness=None)


def test_funnel_fast_path_counts_ordering_violations(
    spark, sf_dir, tmp_path
):
    """Round-8 ADVICE: the fast path's ordering contract is now
    OBSERVABLE — feeding the event-time halves in REVERSE order (the
    later half first) must surface nonzero per-user violation counts
    in the <sink>_violations view instead of silently undercounting."""
    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.sources.tables import load_table
    from streaming_forex_data_pipeline_spark.streaming.analytics_stream import (
        start_funnel_channel,
    )

    e = load_table(spark, sf_dir, "events")
    mid = e.agg(F.expr("percentile(cast(ts as double), 0.5)")).first()[0]
    later = e.filter(F.col("ts").cast("double") > mid)
    earlier = e.filter(F.col("ts").cast("double") <= mid)
    src = str(tmp_path / "events_reversed")
    _staged_event_files(spark, e, src, [later, earlier])
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink_dir = str(tmp_path / "funnel_rev_sink")
    q = start_funnel_channel(
        spark, sf_dir, sink_table="funnel_rev", sink_dir=sink_dir,
        stream=stream, ordered=True,
    )
    q.awaitTermination(240)
    v = {
        r["user_id"]: r["n_late"]
        for r in spark.table("funnel_rev_violations").collect()
    }
    assert len(v) > 0 and all(n > 0 for n in v.values()), (
        f"reversed-order stream produced no violation counts: {v}"
    )
    # and the funnel view itself only carries real stages
    assert {
        r["stage_ord"] for r in spark.table("funnel_rev").collect()
    } <= {1, 2, 3, 4}


def test_ivf_silver_channel_matches_batch_rebuild(spark, sf_dir, tmp_path):
    """Round-9: streaming ANN index maintenance.  New embeddings
    arriving in micro-batches are assigned to the EXISTING index's
    cells and appended into the cell-partitioned serving layout; after
    the stream drains, the maintained table must equal the batch
    `write_ivf_silver` rebuild row-for-row, a probe against it must
    keep the PartitionFilters pruning contract AND the exact in-memory
    ivf_topk results, and the log-replay rebuild path must reproduce
    the same table."""
    import os

    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.llm import similarity as SIM
    from streaming_forex_data_pipeline_spark.sources.tables import load_table
    from streaming_forex_data_pipeline_spark.streaming.corpus_stream import (
        rebuild_ivf_serving,
        start_ivf_silver_channel,
    )

    e = load_table(spark, sf_dir, "embeddings")
    src = str(tmp_path / "emb_2files")
    # split by id parity so both batches hit most cells
    _staged_event_files(
        spark, e, src,
        [e.filter(F.col("vec_id") % 2 == 0), e.filter(F.col("vec_id") % 2 == 1)],
    )
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    serve = str(tmp_path / "ivf_serving")
    log_dir = str(tmp_path / "ivf_assign_log")
    q = start_ivf_silver_channel(
        spark, sf_dir, serve_dir=serve, sink_dir=log_dir, stream=stream
    )
    q.awaitTermination(240)
    assert len(os.listdir(os.path.join(log_dir, "_log"))) >= 2, (
        "stream collapsed into one micro-batch — incrementality untested"
    )

    def rows(df):
        return sorted(
            (r["vec_id"], tuple(r["v"]), r["n"], r["cell"])
            for r in df.select("vec_id", "v", "n", "cell").collect()
        )

    batch_dir = str(tmp_path / "ivf_batch")
    SIM.write_ivf_silver(e, batch_dir, n_cells=16)
    got = rows(spark.read.parquet(serve))
    want = rows(spark.read.parquet(batch_dir))
    assert got == want and len(got) == e.count()

    # probe keeps the pruning contract and exact results
    qv = e.filter(F.col("vec_id") == 0)
    probed = SIM.probe_ivf_silver(spark, serve, e, qv, k=10, n_cells=16, nprobe=2)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    seg = [
        s.split("]")[0]
        for s in plan.split("PartitionFilters: [")[1:]
        if "cell" in s.split("]")[0]
    ]
    assert seg, f"maintained serving table lost partition pruning:\n{plan}"
    want_topk = [
        tuple(r)
        for r in SIM.ivf_topk(e, qv, k=10, n_cells=16, nprobe=2).collect()
    ]
    assert [tuple(r) for r in probed.collect()] == want_topk

    # crash-recovery path: rebuilding from the log reproduces the table
    rebuild_ivf_serving(spark, log_dir, serve)
    assert rows(spark.read.parquet(serve)) == want
    assert len(os.listdir(os.path.join(serve, "_published"))) >= 2


def test_ivf_silver_channel_recovers_from_crashed_append(
    spark, sf_dir, tmp_path
):
    """Crash window between the serving append and its marker
    (review-found): the batch is in the log and MAY be in the serving
    layout, so a replay must not blindly append again.  Simulate the
    worst interleaving — batch 0 already committed to the log AND
    appended to serving, marker never written — then run the channel:
    replay detection must trigger the log rebuild and the final table
    must equal the batch rebuild exactly (no duplicated vectors)."""
    import os

    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.llm import similarity as SIM
    from streaming_forex_data_pipeline_spark.llm.similarity import (
        _bootstrap_centroids,
        assign_to_cells,
    )
    from streaming_forex_data_pipeline_spark.sources.sinks import commit_append
    from streaming_forex_data_pipeline_spark.sources.tables import load_table
    from streaming_forex_data_pipeline_spark.streaming.corpus_stream import (
        start_ivf_silver_channel,
    )

    e = load_table(spark, sf_dir, "embeddings")
    h1 = e.filter(F.col("vec_id") % 2 == 0)
    h2 = e.filter(F.col("vec_id") % 2 == 1)
    src = str(tmp_path / "emb_crash")
    _staged_event_files(spark, e, src, [h1, h2])

    serve = str(tmp_path / "ivf_serving_crash")
    log_dir = str(tmp_path / "ivf_log_crash")
    cents = _bootstrap_centroids(e, 16, "vec_id", "embedding")
    # the crashed first attempt: batch 0 committed + appended, NO marker
    assigned0 = assign_to_cells(h1, cents).select(
        F.col("id").alias("vec_id"), "v", "n", "cell"
    )
    commit_append(
        assigned0.withColumn("batch", F.lit(0).cast("long")),
        log_dir,
        version=0.0,
    )
    assigned0.write.mode("append").partitionBy("cell").parquet(serve)
    assert not os.path.exists(os.path.join(serve, "_published"))

    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_ivf_silver_channel(
        spark, sf_dir, serve_dir=serve, sink_dir=log_dir, stream=stream
    )
    q.awaitTermination(240)

    def rows(df):
        return sorted(
            (r["vec_id"], tuple(r["v"]), r["n"], r["cell"])
            for r in df.select("vec_id", "v", "n", "cell").collect()
        )

    batch_dir = str(tmp_path / "ivf_batch_crash")
    SIM.write_ivf_silver(e, batch_dir, n_cells=16)
    got = rows(spark.read.parquet(serve))
    assert got == rows(spark.read.parquet(batch_dir))
    assert len(got) == e.count()  # no duplicated batch-0 vectors


def test_events_bucketed_channel_matches_batch_build(spark, sf_dir, tmp_path):
    """Round-9: streaming maintenance of the bucketed events silver.
    Events arriving in micro-batches insertInto the bucketed table;
    after the stream drains the maintained table must equal the batch
    bucketed build row-for-row, the funnel over it must keep the
    zero-user-keyed-exchange contract (multiple files per bucket), and
    the log rebuild must reproduce the same table."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.plans.olap_q import (
        funnel_over_events,
    )
    from streaming_forex_data_pipeline_spark.plans.registry import all_queries
    from streaming_forex_data_pipeline_spark.sources.tables import load_table
    from streaming_forex_data_pipeline_spark.streaming.analytics_stream import (
        rebuild_events_bucketed,
        start_events_bucketed_channel,
    )

    e = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "ev_2files")
    _staged_event_files(
        spark, e, src,
        [e.filter(F.col("event_id") % 2 == 0),
         e.filter(F.col("event_id") % 2 == 1)],
    )
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    tbl = f"events_maintained_{uuid.uuid4().hex[:8]}"
    loc = str(tmp_path / "ev_serving")
    log_dir = str(tmp_path / "ev_log")
    q = start_events_bucketed_channel(
        spark, sf_dir, tbl, loc=loc, sink_dir=log_dir, stream=stream
    )
    q.awaitTermination(240)
    assert len(os.listdir(os.path.join(log_dir, "_log"))) >= 2, (
        "stream collapsed into one micro-batch — incrementality untested"
    )

    maintained = spark.table(tbl)
    assert maintained.count() == e.count()
    assert maintained.exceptAll(e).count() == 0
    assert e.exceptAll(maintained).count() == 0

    # the maintained layout keeps the exchange-free contract even with
    # multiple files per bucket (one insert per micro-batch)
    fn = funnel_over_events(maintained)
    fn.count()
    plan = fn._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(user_id") == 0, (
        f"maintained bucketed table lost the layout contract:\n{plan}"
    )
    want = all_queries()["funnel_conversion"].spark(spark, sf_dir).collect()
    assert fn.collect() == want

    # crash-recovery path reproduces the table from the log
    rebuild_events_bucketed(spark, log_dir, tbl, loc)
    rebuilt = spark.table(tbl)
    assert rebuilt.count() == e.count()
    assert rebuilt.exceptAll(e).count() == 0
    assert len(os.listdir(os.path.join(loc, "_published"))) >= 2


def test_compact_bucketed_table_preserves_content_and_contract(
    spark, sf_dir, tmp_path
):
    """Round-10 verdict Next #6 — bucketed-layout compaction parity
    with the day layout: after a two-batch channel run every touched
    bucket holds multiple files; compaction must bring each bucket to
    one correctly-named file with content, markers, and the
    zero-user-keyed-exchange funnel contract intact; a follow-up
    append touching ONE bucket must leave every other bucket's bytes
    untouched (inode/mtime-pinned); and the crash-repair protocol must
    restore an aside dir whose replacement never went live."""
    import glob
    import os
    import re
    import shutil
    import uuid

    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.plans.olap_q import (
        funnel_over_events,
    )
    from streaming_forex_data_pipeline_spark.sources.layout import (
        _BUCKET_FILE_RE,
        compact_bucketed_table,
        repair_bucketed_compaction,
    )
    from streaming_forex_data_pipeline_spark.sources.tables import load_table
    from streaming_forex_data_pipeline_spark.streaming.analytics_stream import (
        start_events_bucketed_channel,
    )

    e = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "evb_2files")
    _staged_event_files(
        spark, e, src,
        [e.filter(F.col("event_id") % 2 == 0),
         e.filter(F.col("event_id") % 2 == 1)],
    )
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    tbl = f"events_compact_{uuid.uuid4().hex[:8]}"
    loc = str(tmp_path / "evb_serving")
    q = start_events_bucketed_channel(
        spark, sf_dir, tbl, loc=loc, sink_dir=str(tmp_path / "evb_log"),
        stream=stream,
    )
    q.awaitTermination(240)

    pat = re.compile(_BUCKET_FILE_RE)

    def live_by_bucket():
        out = {}
        for f in sorted(os.listdir(loc)):
            m = pat.search(f)
            if m and not f.startswith(("_", ".")):
                out.setdefault(int(m.group(1)), []).append(f)
        return out

    assert any(len(v) > 1 for v in live_by_bucket().values()), (
        "fixture produced no multi-file bucket — nothing to compact"
    )
    truth = e.count()

    stats = compact_bucketed_table(spark, loc)
    assert stats["buckets_compacted"] >= 1
    assert stats["files_after"] < stats["files_before"]
    assert all(len(v) == 1 for v in live_by_bucket().values())
    spark.catalog.refreshTable(tbl)
    maintained = spark.table(tbl)
    assert maintained.count() == truth
    assert maintained.exceptAll(e).count() == 0
    assert os.path.isdir(os.path.join(loc, "_published"))

    # layout contract survives: funnel over the compacted table stays
    # free of user-keyed exchanges
    fn = funnel_over_events(maintained)
    plan = fn._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(user_id") == 0

    # idempotent
    stats2 = compact_bucketed_table(spark, loc)
    assert stats2["buckets_compacted"] == 0

    # targeted append into ONE bucket, then recompact: every other
    # bucket's single file must be byte-untouched (inode + mtime)
    uid = e.select("user_id").first()["user_id"]
    one = e.filter(F.col("user_id") == uid)
    one.select(*[f.name for f in e.schema.fields]).write.insertInto(tbl)
    touched = {b for b, v in live_by_bucket().items() if len(v) > 1}
    assert len(touched) == 1, touched
    pinned = {
        f: (os.stat(os.path.join(loc, f)).st_ino,
            os.stat(os.path.join(loc, f)).st_mtime_ns)
        for b, v in live_by_bucket().items()
        if b not in touched
        for f in v
    }
    stats3 = compact_bucketed_table(spark, loc)
    assert stats3["buckets_compacted"] == 1
    for f, (ino, mt) in pinned.items():
        st = os.stat(os.path.join(loc, f))
        assert (st.st_ino, st.st_mtime_ns) == (ino, mt), (
            f"untouched bucket file {f} was rewritten"
        )
    spark.catalog.refreshTable(tbl)
    assert spark.table(tbl).count() == truth + one.count()

    # crash repair, restore branch: aside a live bucket file behind a
    # manifest naming a replacement that never went live
    victim_bucket, (victim,) = next(iter(live_by_bucket().items()))
    aside = os.path.join(loc, "_old-deadbeef")
    os.makedirs(aside)
    with open(os.path.join(aside, "_MANIFEST"), "w") as fh:
        fh.write("part-00000-neverwritten_99999.c000.snappy.parquet")
    os.rename(os.path.join(loc, victim), os.path.join(aside, victim))
    rep = repair_bucketed_compaction(loc)
    assert rep["restored"] == 1
    assert os.path.exists(os.path.join(loc, victim))
    # crash repair, completed branch: aside a COPY whose manifest names
    # a file that IS live — the redundant aside must be dropped
    aside2 = os.path.join(loc, "_old-cafef00d")
    os.makedirs(aside2)
    with open(os.path.join(aside2, "_MANIFEST"), "w") as fh:
        fh.write(victim)
    shutil.copy(
        os.path.join(loc, victim), os.path.join(aside2, "stale-copy.parquet")
    )
    rep2 = repair_bucketed_compaction(loc)
    assert rep2 == {"restored": 0, "completed": 1}
    assert not os.path.isdir(aside2)
    spark.catalog.refreshTable(tbl)
    assert spark.table(tbl).count() == truth + one.count()
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_channels_self_compact_with_compact_every(spark, sf_dir, tmp_path):
    """In-channel auto-maintenance (`_maintained_layout_batch`'s
    maintain hook): with compact_every=1 both layout channels compact
    inside foreachBatch — where the channel's writes are serialized,
    so the single-maintenance-writer contract holds by construction.
    After a two-batch run each layout must be fully compacted (one
    file per day / per bucket) with content still exactly the events
    table."""
    import glob
    import os
    import re
    import uuid

    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.sources.layout import (
        _BUCKET_FILE_RE,
    )
    from streaming_forex_data_pipeline_spark.sources.tables import load_table
    from streaming_forex_data_pipeline_spark.streaming.analytics_stream import (
        start_events_bucketed_channel,
        start_events_partitioned_channel,
    )

    e = load_table(spark, sf_dir, "events")
    halves = [
        e.filter(F.col("event_id") % 2 == 0),
        e.filter(F.col("event_id") % 2 == 1),
    ]

    # date-partitioned channel
    src1 = str(tmp_path / "amp_src")
    _staged_event_files(spark, e, src1, halves)
    stream1 = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src1)
    )
    loc1 = str(tmp_path / "amp_serving")
    q1 = start_events_partitioned_channel(
        spark, sf_dir, loc=loc1, sink_dir=str(tmp_path / "amp_log"),
        stream=stream1, compact_every=1,
    )
    q1.awaitTermination(240)
    for d in os.listdir(loc1):
        if d.startswith("day="):
            n = len(glob.glob(os.path.join(loc1, d, "*.parquet")))
            assert n == 1, f"{d} holds {n} files after auto-compaction"
    got = spark.read.parquet(loc1)
    assert got.count() == e.count()
    assert got.drop("day").exceptAll(e).count() == 0

    # bucketed channel
    src2 = str(tmp_path / "amb_src")
    _staged_event_files(spark, e, src2, halves)
    stream2 = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src2)
    )
    tbl = f"events_autocompact_{uuid.uuid4().hex[:8]}"
    loc2 = str(tmp_path / "amb_serving")
    q2 = start_events_bucketed_channel(
        spark, sf_dir, tbl, loc=loc2, sink_dir=str(tmp_path / "amb_log"),
        stream=stream2, compact_every=1,
    )
    q2.awaitTermination(240)
    pat = re.compile(_BUCKET_FILE_RE)
    by_bucket = {}
    for f in os.listdir(loc2):
        m = pat.search(f)
        if m and not f.startswith(("_", ".")):
            by_bucket.setdefault(m.group(1), []).append(f)
    assert by_bucket and all(len(v) == 1 for v in by_bucket.values()), (
        by_bucket
    )
    spark.catalog.refreshTable(tbl)
    maintained = spark.table(tbl)
    assert maintained.count() == e.count()
    assert maintained.exceptAll(e).count() == 0
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_events_bucketed_channel_recovers_from_crashed_append(
    spark, sf_dir, tmp_path
):
    """Crash window between the serving insert and its marker: batch 0
    is in the log AND in the table, marker missing.  The replay must
    rebuild from the log instead of inserting again — no duplicated
    events."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.sources.layout import (
        write_bucketed_events,
    )
    from streaming_forex_data_pipeline_spark.sources.sinks import (
        commit_append,
    )
    from streaming_forex_data_pipeline_spark.sources.tables import load_table
    from streaming_forex_data_pipeline_spark.streaming.analytics_stream import (
        start_events_bucketed_channel,
    )

    e = load_table(spark, sf_dir, "events")
    h1 = e.filter(F.col("event_id") % 2 == 0)
    h2 = e.filter(F.col("event_id") % 2 == 1)
    src = str(tmp_path / "ev_crash")
    _staged_event_files(spark, e, src, [h1, h2])

    tbl = f"events_crash_{uuid.uuid4().hex[:8]}"
    loc = str(tmp_path / "ev_serving_crash")
    log_dir = str(tmp_path / "ev_log_crash")
    # the crashed first attempt: batch 0 committed + inserted, NO marker
    write_bucketed_events(spark, spark.createDataFrame([], e.schema), tbl, loc)
    commit_append(
        h1.withColumn("batch", F.lit(0).cast("long")), log_dir, version=0.0
    )
    h1.write.insertInto(tbl)
    assert not os.path.exists(os.path.join(loc, "_published"))

    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_events_bucketed_channel(
        spark, sf_dir, tbl, loc=loc, sink_dir=log_dir, stream=stream
    )
    q.awaitTermination(240)

    maintained = spark.table(tbl)
    assert maintained.count() == e.count()  # no duplicated batch-0 rows
    assert maintained.exceptAll(e).count() == 0
    assert e.exceptAll(maintained).count() == 0


def test_watermark_drop_report_counts_beyond_lateness_rows(
    spark, sf_dir, tmp_path
):
    """The reorder tier's documented observability contract, made
    concrete: an event arriving BEYOND the lateness bound is dropped
    by the runtime before the kernel ever sees it, so the only
    truthful record is the engine's numRowsDroppedByWatermark —
    surfaced by channels.watermark_drop_report.  One straggler behind
    an already-advanced watermark must show up there (and the
    violations view, which only sees kernel-processed rows, must NOT
    count it)."""
    import datetime

    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.sources.tables import load_table
    from streaming_forex_data_pipeline_spark.streaming.analytics_stream import (
        start_funnel_channel,
    )
    from streaming_forex_data_pipeline_spark.streaming.channels import (
        watermark_drop_report,
    )

    e = load_table(spark, sf_dir, "events")
    far = datetime.datetime(2025, 6, 1)
    pusher = spark.createDataFrame(
        [(int(-1), far, int(-1), "wm_pusher", 0.0, "")], e.schema
    )
    pusher2 = spark.createDataFrame(
        [(int(-2), far + datetime.timedelta(days=1), int(-1), "wm_pusher",
          0.0, "")], e.schema
    )
    # Spark admits late rows against the PREVIOUS batch's watermark
    # (one-batch lag by design), so the straggler needs TWO
    # watermark-advancing batches before it: batch 0 raises the
    # watermark, batch 1 makes that value the late-events fence,
    # batch 2's years-old stage event is then beyond-lateness
    straggler = spark.createDataFrame(
        [(int(-7), datetime.datetime(1997, 6, 1), int(3), "signup",
          0.0, "")], e.schema
    )
    src = str(tmp_path / "events_straggler")
    _staged_event_files(
        spark, e, src, [e.unionByName(pusher), pusher2, straggler]
    )
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_funnel_channel(
        spark, sf_dir, sink_table="funnel_straggler",
        sink_dir=str(tmp_path / "straggler_sink"),
        stream=stream, lateness="1 hour",
    )
    q.awaitTermination(300)
    report = watermark_drop_report(q)
    assert sum(r["rows_dropped"] for r in report) >= 1, report
    # the kernel never saw the straggler: no user-space violation row
    assert spark.table("funnel_straggler_violations").count() == 0


def test_channel_stats_over_two_concurrent_channels(
    spark, sf_dir, tmp_path
):
    """Round-9 verdict Next #8: the fleet streaming-health face.  Two
    REAL channels (stateful funnel + stateless WAU sketch) run
    concurrently over a weekly-staged replay; channel_stats must
    report, per channel, the batch count, input rows, state-store
    rows, watermark, and drops — and every number must equal the
    oracle-checked batch-replay face (channel_stats_replay) where the
    semantics overlap: state-store rows for the stateful channel, the
    sink register count for the stateless one (whose state lives in
    the commit log, not the state store)."""
    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.plans.registry import all_queries
    from streaming_forex_data_pipeline_spark.sources.tables import load_table
    from streaming_forex_data_pipeline_spark.streaming.analytics_stream import (
        start_funnel_channel,
        start_wau_channel,
    )
    from streaming_forex_data_pipeline_spark.streaming.channels import (
        channel_stats,
    )

    e = load_table(spark, sf_dir, "events")
    weeks = sorted(
        r[0]
        for r in e.select(
            F.date_trunc("week", F.col("ts")).alias("w")
        ).distinct().collect()
    )
    frames = [
        e.filter(F.date_trunc("week", F.col("ts")) == F.lit(w))
        for w in weeks
    ]
    src_f = str(tmp_path / "cs_events_funnel")
    src_w = str(tmp_path / "cs_events_wau")
    _staged_event_files(spark, e, src_f, frames)
    _staged_event_files(spark, e, src_w, frames)

    def stream_of(src):
        return (
            spark.readStream.schema(e.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    qf = start_funnel_channel(
        spark, sf_dir, sink_table="cs_funnel",
        sink_dir=str(tmp_path / "cs_funnel_sink"),
        stream=stream_of(src_f), ordered=True,
    )
    qw = start_wau_channel(
        spark, sf_dir, sink_table="cs_wau",
        sink_dir=str(tmp_path / "cs_wau_sink"),
        stream=stream_of(src_w),
    )
    qf.awaitTermination(240)
    qw.awaitTermination(240)

    stats = {
        r["channel"]: r
        for r in channel_stats(spark, queries=[qf, qw]).collect()
    }
    assert set(stats) == {"cs_funnel", "cs_wau"}
    replay = {
        r["channel"]: r
        for r in all_queries()["channel_stats_replay"]
        .spark(spark, sf_dir)
        .collect()
    }
    rf = replay["events_funnel"]
    f = stats["cs_funnel"]
    assert f["n_batches"] == rf["n_batches"] == len(weeks)
    assert f["input_rows"] == rf["input_rows"]
    assert f["state_rows"] == rf["state_rows"]  # one GroupState row/user
    assert f["rows_dropped"] == 0
    assert f["watermark"] is None  # ordered fast path has no watermark
    assert f["is_active"] is False  # availableNow replay drained

    w = stats["cs_wau"]
    assert w["n_batches"] == rf["n_batches"]
    assert w["input_rows"] == rf["input_rows"]
    assert w["state_rows"] == 0  # stateless foreachBatch channel
    assert w["rows_dropped"] == 0
    # the WAU channel's real state is its commit-log register file:
    # the live sink view must hold exactly the replay face's count
    assert spark.table("cs_wau").count() == replay["events_wau"][
        "state_rows"
    ]


def test_image_signature_channel_matches_batch_pairs(
    spark, sf_dir, tmp_path
):
    """The accumulating perceptual dedup index: documents stream in
    TWO micro-batches split by hash (so near-dup pairs straddle the
    batch boundary), each batch pairs against the signatures of every
    EARLIER batch plus itself, and after the drain the committed pair
    set must equal the batch dhash_near_dup_pairs over the whole
    corpus — cross-batch pairs included, which is exactly what the
    text channel's static-index demo defers."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.llm.dedup import (
        dhash_near_dup_pairs,
    )
    from streaming_forex_data_pipeline_spark.llm.multimodal import (
        dhash_images,
        encode_images,
    )
    from streaming_forex_data_pipeline_spark.sources.tables import (
        fan_out,
        load_table,
    )
    from streaming_forex_data_pipeline_spark.streaming.corpus_stream import (
        start_image_signature_channel,
    )

    d = load_table(spark, sf_dir, "documents")
    src = str(tmp_path / "docs_two_batches")
    os.makedirs(src)
    halves = str(tmp_path / "doc_halves")
    d.withColumn("__h", F.xxhash64("doc_id") % 2).repartition(
        2, "__h"
    ).drop("__h").write.parquet(halves)
    parts = sorted(glob.glob(f"{halves}/part-*.parquet"))
    assert len(parts) >= 2
    for i, part in enumerate(parts):
        dst = os.path.join(src, f"batch-{i}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1700000000 + 100 * i, 1700000000 + 100 * i))
    stream = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    pair_dir = str(tmp_path / "img_pairs")
    q = start_image_signature_channel(
        spark, sf_dir, sink_table="img_sig_parity",
        sig_dir=str(tmp_path / "img_sigs"), pair_dir=pair_dir,
        stream=stream, max_hamming=1,
    )
    q.awaitTermination(300)
    assert len(os.listdir(os.path.join(pair_dir, "_log"))) >= 2, (
        "stream collapsed into one micro-batch — cross-batch pairing "
        "untested"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in spark.table("img_sig_parity").collect()
    }
    want = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dhash_near_dup_pairs(
            dhash_images(encode_images(fan_out(d))), max_hamming=1
        ).collect()
    }
    assert got == want and len(want) > 0


def test_audio_signature_channel_matches_batch_pairs(
    spark, sf_dir, tmp_path
):
    """The audio face of the generic signature channel: two hash-split
    micro-batches of documents, fingerprinted through the real WAV
    codec chain, must reproduce the batch dhash_near_dup_pairs over
    the whole corpus at the audio_near_dups threshold — cross-batch
    pairs included (the generic engine's accumulation claim, proven
    per modality because the signature function is the injected
    part)."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.llm.dedup import (
        dhash_near_dup_pairs,
    )
    from streaming_forex_data_pipeline_spark.llm.multimodal import (
        encode_audio,
        fingerprint_audio,
    )
    from streaming_forex_data_pipeline_spark.sources.tables import (
        fan_out,
        load_table,
    )
    from streaming_forex_data_pipeline_spark.streaming.corpus_stream import (
        start_audio_signature_channel,
    )

    d = load_table(spark, sf_dir, "documents")
    src = str(tmp_path / "docs_two_batches")
    os.makedirs(src)
    halves = str(tmp_path / "doc_halves")
    d.withColumn("__h", F.xxhash64("doc_id") % 2).repartition(
        2, "__h"
    ).drop("__h").write.parquet(halves)
    parts = sorted(glob.glob(f"{halves}/part-*.parquet"))
    assert len(parts) >= 2
    for i, part in enumerate(parts):
        dst = os.path.join(src, f"batch-{i}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1700000000 + 100 * i, 1700000000 + 100 * i))
    stream = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    pair_dir = str(tmp_path / "aud_pairs")
    q = start_audio_signature_channel(
        spark, sf_dir, sink_table="aud_sig_parity",
        sig_dir=str(tmp_path / "aud_sigs"), pair_dir=pair_dir,
        stream=stream, max_hamming=2,
    )
    q.awaitTermination(300)
    assert len(os.listdir(os.path.join(pair_dir, "_log"))) >= 2, (
        "stream collapsed into one micro-batch — cross-batch pairing "
        "untested"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in spark.table("aud_sig_parity").collect()
    }
    want = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dhash_near_dup_pairs(
            fingerprint_audio(encode_audio(fan_out(d))), max_hamming=2
        ).collect()
    }
    assert got == want and len(want) > 0


def test_video_signature_channel_matches_batch_clip_pairs(
    spark, sf_dir, tmp_path
):
    """The video face accumulates at FRAME granularity and publishes
    at CLIP granularity: after two hash-split micro-batches drain, the
    sink view must equal the batch video_near_dups clip pairs —
    including clip pairs whose >= 3 frame matches straddle the batch
    boundary (both clips arrive whole, but the PAIRING of their
    frames happens when the later batch lands)."""
    import os

    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.plans.registry import (
        all_queries,
    )
    from streaming_forex_data_pipeline_spark.sources.tables import (
        load_table,
    )
    from streaming_forex_data_pipeline_spark.streaming.corpus_stream import (
        start_video_signature_channel,
    )

    d = load_table(spark, sf_dir, "documents")
    src = str(tmp_path / "docs_two_batches")
    # split by doc_id PARITY with one explicit file per half (the
    # _staged_event_files pattern): the sf0.001 clip-pair set includes
    # odd-even pairs (e.g. 9~86), so this split provably separates
    # pair members across the batch boundary — a hash repartition
    # happened to co-locate every matching pair and left the
    # cross-batch accumulation claim untested
    _staged_event_files(
        spark, d, src,
        [d.filter(F.col("doc_id") % 2 == 0),
         d.filter(F.col("doc_id") % 2 == 1)],
    )
    stream = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    pair_dir = str(tmp_path / "vid_pairs")
    q = start_video_signature_channel(
        spark, sf_dir, sink_table="vid_sig_parity",
        sig_dir=str(tmp_path / "vid_sigs"), pair_dir=pair_dir,
        stream=stream, max_hamming=1, min_frames=3,
    )
    q.awaitTermination(300)
    assert len(os.listdir(os.path.join(pair_dir, "_log"))) >= 2, (
        "stream collapsed into one micro-batch — cross-batch pairing "
        "untested"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["n_matching_frames"]
        for r in spark.table("vid_sig_parity").collect()
    }
    want = {
        (r["doc_a"], r["doc_b"]): r["n_matching_frames"]
        for r in all_queries()["video_near_dups"]
        .spark(spark, sf_dir)
        .collect()
    }
    assert got == want and len(want) > 0
    # at least one published clip pair must have its two clips in
    # DIFFERENT micro-batches — otherwise the accumulation claim went
    # untested on this fixture
    import duckdb

    batch_of = {}
    for i in range(2):
        con = duckdb.connect()
        ids = con.execute(
            f"SELECT doc_id FROM read_parquet('{src}/batch-{i}.parquet')"
        ).fetchall()
        for (doc,) in ids:
            batch_of[doc] = i
        con.close()
    assert any(
        batch_of[a] != batch_of[b] for (a, b) in got
    ), "no cross-batch clip pair in the fixture"


def test_events_partitioned_channel_matches_batch_build(
    spark, sf_dir, tmp_path
):
    """Streaming maintenance of the date-partitioned events silver:
    micro-batches append into their day= directories; after the drain
    the maintained layout must equal the raw events row-for-row with
    every row in its correct day directory, and the log rebuild must
    reproduce the same layout."""
    import os

    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.sources.tables import load_table
    from streaming_forex_data_pipeline_spark.streaming.analytics_stream import (
        rebuild_events_partitioned,
        start_events_partitioned_channel,
    )

    e = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "evp_2files")
    _staged_event_files(
        spark, e, src,
        [e.filter(F.col("event_id") % 2 == 0),
         e.filter(F.col("event_id") % 2 == 1)],
    )
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    loc = str(tmp_path / "evp_serving")
    log_dir = str(tmp_path / "evp_log")
    q = start_events_partitioned_channel(
        spark, sf_dir, loc=loc, sink_dir=log_dir, stream=stream
    )
    q.awaitTermination(240)
    assert len(os.listdir(os.path.join(log_dir, "_log"))) >= 2, (
        "stream collapsed into one micro-batch — incrementality untested"
    )

    maintained = spark.read.parquet(loc)
    # every row in its correct day directory
    bad = maintained.filter(
        F.col("day") != F.date_format("ts", "yyyy-MM-dd")
    ).count()
    assert bad == 0
    data = maintained.select(*[c for c in e.columns])
    assert data.count() == e.count()
    assert data.exceptAll(e).count() == 0
    assert e.exceptAll(data).count() == 0
    # one directory per day present in the data
    days = {
        d.split("=", 1)[1]
        for d in os.listdir(loc)
        if d.startswith("day=")
    }
    want_days = {
        r["day"]
        for r in e.select(
            F.date_format("ts", "yyyy-MM-dd").alias("day")
        ).distinct().collect()
    }
    assert days == want_days

    # crash-recovery path reproduces the layout from the log
    rebuild_events_partitioned(spark, log_dir, loc)
    rebuilt = spark.read.parquet(loc).select(*[c for c in e.columns])
    assert rebuilt.count() == e.count()
    assert rebuilt.exceptAll(e).count() == 0
    assert len(os.listdir(os.path.join(loc, "_published"))) >= 2


def test_events_partitioned_channel_recovers_from_crashed_append(
    spark, sf_dir, tmp_path
):
    """Crash window between the day-directory append and its marker:
    batch 0 is in the log AND in the layout, marker missing.  The
    replay must rebuild from the log instead of appending again — no
    duplicated events."""
    import os

    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.sources.sinks import (
        commit_append,
    )
    from streaming_forex_data_pipeline_spark.sources.tables import load_table
    from streaming_forex_data_pipeline_spark.streaming.analytics_stream import (
        start_events_partitioned_channel,
    )

    e = load_table(spark, sf_dir, "events")
    h1 = e.filter(F.col("event_id") % 2 == 0)
    src = str(tmp_path / "evp_crash")
    _staged_event_files(
        spark, e, src, [h1, e.filter(F.col("event_id") % 2 == 1)]
    )
    loc = str(tmp_path / "evp_serving_crash")
    log_dir = str(tmp_path / "evp_log_crash")
    # the crashed first attempt: batch 0 committed + appended, NO marker
    commit_append(
        h1.withColumn("batch", F.lit(0).cast("long")), log_dir, version=0.0
    )
    (
        h1.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .write.partitionBy("day")
        .mode("append")
        .parquet(loc)
    )
    assert not os.path.exists(os.path.join(loc, "_published"))

    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_events_partitioned_channel(
        spark, sf_dir, loc=loc, sink_dir=log_dir, stream=stream
    )
    q.awaitTermination(240)

    data = spark.read.parquet(loc).select(*[c for c in e.columns])
    assert data.count() == e.count()  # no duplicated batch-0 rows
    assert data.exceptAll(e).count() == 0
    assert e.exceptAll(data).count() == 0


def test_compact_day_partitions_preserves_content(spark, sf_dir, tmp_path):
    """The small-files answer for the streaming-appended partitioned
    layout: after a two-batch channel run every touched day holds two
    files; compaction must bring each day to one file with the
    layout's content and day assignment bit-identical, markers
    untouched, and a second compaction a no-op."""
    import glob
    import os

    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.sources.layout import (
        compact_day_partitions,
    )
    from streaming_forex_data_pipeline_spark.sources.tables import load_table
    from streaming_forex_data_pipeline_spark.streaming.analytics_stream import (
        start_events_partitioned_channel,
    )

    e = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "evc_2files")
    _staged_event_files(
        spark, e, src,
        [e.filter(F.col("event_id") % 2 == 0),
         e.filter(F.col("event_id") % 2 == 1)],
    )
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    loc = str(tmp_path / "evc_serving")
    q = start_events_partitioned_channel(
        spark, sf_dir, loc=loc, sink_dir=str(tmp_path / "evc_log"),
        stream=stream,
    )
    q.awaitTermination(240)

    day_dirs = [d for d in os.listdir(loc) if d.startswith("day=")]
    multi = [
        d for d in day_dirs
        if len(glob.glob(os.path.join(loc, d, "*.parquet"))) > 1
    ]
    assert multi, "fixture produced no multi-file day — nothing to compact"
    before = spark.read.parquet(loc)
    before_rows = before.count()

    stats = compact_day_partitions(spark, loc)
    assert stats["days_compacted"] == len(multi)
    assert stats["files_after"] < stats["files_before"]
    for d in day_dirs:
        assert len(glob.glob(os.path.join(loc, d, "*.parquet"))) == 1, d

    after = spark.read.parquet(loc)
    assert after.count() == before_rows
    assert after.exceptAll(e.withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd"))).count() == 0
    assert os.path.isdir(os.path.join(loc, "_published"))

    # idempotent: a second pass finds nothing to do
    stats2 = compact_day_partitions(spark, loc)
    assert stats2["days_compacted"] == 0
    assert stats2["files_before"] == stats2["files_after"]


def _split_day_into_two_files(spark, day_dir):
    """Rewrite one day= directory as two parquet files (compactable)."""
    import glob
    import os
    import shutil

    rows = spark.read.parquet(day_dir)
    n = rows.count()
    first = rows.limit(n // 2)
    rest = rows.exceptAll(first)
    # materialize both halves BEFORE deleting the source files the
    # lazy plans still reference
    tmp_a, tmp_b = day_dir + ".tmpa", day_dir + ".tmpb"
    first.coalesce(1).write.parquet(tmp_a)
    rest.coalesce(1).write.parquet(tmp_b)
    shutil.rmtree(day_dir)
    os.makedirs(day_dir)
    for i, tmp in enumerate((tmp_a, tmp_b)):
        for f in glob.glob(os.path.join(tmp, "*.parquet")):
            os.rename(f, os.path.join(day_dir, f"half{i}-{os.path.basename(f)}"))
        shutil.rmtree(tmp)


def test_day_layout_maintenance_crash_and_live_append_safety(
    spark, sf_dir, tmp_path
):
    """The advice-found maintenance hazards pinned: (a) crash leftovers
    are underscore-named, so Spark partition discovery never parses
    them as bogus day values, and the next maintenance call sweeps
    them; (b) a file appended into a day AFTER the compaction snapshot
    but before the aside-rename survives the rewrite (carried into the
    compacted day, not rmtree'd with the aside copy); (c) the sweep is
    callable standalone."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.sources.layout import (
        compact_day_partitions,
        sweep_maintenance_leftovers,
        write_day_partitioned,
    )
    from streaming_forex_data_pipeline_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events").limit(4000)
    loc = str(tmp_path / "evm")
    write_day_partitioned(e, loc)
    truth = e.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    truth_rows = truth.count()
    day_dirs = sorted(d for d in os.listdir(loc) if d.startswith("day="))

    # (a) simulated crash leftovers: a duplicated aside copy and a
    # half-built compact dir under the layout root.  Readers must see
    # neither (row count and day-value set unchanged), and compaction
    # must sweep them.
    victim = os.path.join(loc, day_dirs[0])
    aside_a = os.path.join(loc, "_old-deadbeef")
    shutil.copytree(victim, aside_a)
    # self-describing aside (manifest names the live day, the live
    # replacement files, and the snapshot) — the repair's "completed"
    # branch, the only kind the sweep may delete
    files_a = sorted(
        f for f in os.listdir(aside_a) if f.endswith(".parquet")
    )
    with open(os.path.join(aside_a, "_MANIFEST"), "w") as fh:
        fh.write(
            "\n".join(
                [day_dirs[0]]
                + [f"repl:{f}" for f in files_a]
                + [f"snap:{f}" for f in files_a]
            )
        )
    shutil.copytree(victim, os.path.join(loc, "_compact-deadbeef"))
    visible = spark.read.parquet(loc)
    assert visible.count() == truth_rows
    assert visible.select("day").distinct().count() == len(day_dirs)

    # (b) live-append survival: make one day compactable, then inject a
    # "late append" at the exact race window — after the snapshot, just
    # before the day dir is renamed aside — by intercepting os.rename.
    split_dir = os.path.join(loc, day_dirs[1])
    _split_day_into_two_files(spark, split_dir)
    late_dir = str(tmp_path / "late")
    truth.filter(F.col("day") == day_dirs[1].split("=", 1)[1]).limit(
        3
    ).drop("day").coalesce(1).write.parquet(late_dir)
    late_file = glob.glob(os.path.join(late_dir, "*.parquet"))[0]

    real_rename = os.rename
    injected = {"done": False}

    def racing_rename(src, dst):
        if (
            not injected["done"]
            and os.path.basename(dst).startswith("_old-")
        ):
            shutil.copy(late_file, os.path.join(src, "late-append.parquet"))
            injected["done"] = True
        return real_rename(src, dst)

    os.rename = racing_rename
    try:
        stats = compact_day_partitions(spark, loc)
    finally:
        os.rename = real_rename
    assert injected["done"], "race injection never fired"
    assert stats["days_compacted"] >= 1
    # crash leftovers from (a) were swept
    assert not [
        d for d in os.listdir(loc) if d.startswith(("_old-", "_compact-"))
    ]
    # the late-appended file was carried into the rewritten day
    assert glob.glob(os.path.join(loc, "day=*", "late-append.parquet"))
    final = spark.read.parquet(loc)
    assert final.count() == truth_rows + 3
    assert final.exceptAll(truth).count() == 3

    # (c) sweep is callable standalone and returns what it removed
    os.makedirs(os.path.join(loc, "_backfill-cafe"))
    assert sweep_maintenance_leftovers(loc) == ["_backfill-cafe"]


def test_day_layout_retention_and_backfill(spark, sf_dir, tmp_path):
    """The partitioned layout's lifecycle claims made real: retention
    drops exactly the pre-cutoff day directories without touching
    surviving bytes; backfill atomically replaces one day's content
    and refuses rows whose ts falls outside the day."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.sources.layout import (
        backfill_day,
        drop_day_partitions,
        write_day_partitioned,
    )
    from streaming_forex_data_pipeline_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events")
    loc = str(tmp_path / "day_layout")
    write_day_partitioned(e, loc)
    days = sorted(
        d.split("=", 1)[1]
        for d in os.listdir(loc)
        if d.startswith("day=")
    )
    assert len(days) >= 3
    cutoff = days[2]

    # bytes of a surviving day must not move
    keep_dir = os.path.join(loc, f"day={days[-1]}")
    keep_mtimes = {
        f: os.stat(os.path.join(keep_dir, f)).st_mtime_ns
        for f in os.listdir(keep_dir)
    }
    dropped = drop_day_partitions(loc, cutoff)
    assert dropped == days[:2]
    assert not os.path.isdir(os.path.join(loc, f"day={days[0]}"))
    assert {
        f: os.stat(os.path.join(keep_dir, f)).st_mtime_ns
        for f in os.listdir(keep_dir)
    } == keep_mtimes
    survivors = spark.read.parquet(loc)
    want = e.filter(F.date_format("ts", "yyyy-MM-dd") >= cutoff)
    assert survivors.count() == want.count()

    # backfill one day with a corrected copy (values zeroed)
    target = days[3]
    fixed = e.filter(
        F.date_format("ts", "yyyy-MM-dd") == target
    ).withColumn("value", F.lit(0.0))
    backfill_day(spark, loc, target, fixed)
    after = spark.read.parquet(loc)
    assert after.count() == want.count()
    assert (
        after.filter(F.col("day") == target)
        .agg(F.sum(F.abs("value")))
        .collect()[0][0]
        == 0.0
    )
    # every other day untouched
    other = after.filter(F.col("day") != target).drop("day")
    assert other.exceptAll(
        want.filter(F.date_format("ts", "yyyy-MM-dd") != target)
    ).count() == 0

    # a row outside the day must be refused
    with pytest.raises(ValueError, match="outside the day"):
        backfill_day(
            spark, loc, target,
            e.filter(F.date_format("ts", "yyyy-MM-dd") == days[-1]),
        )
    with pytest.raises(ValueError, match="yyyy-MM-dd"):
        drop_day_partitions(loc, "Jan 5")


def test_repair_day_maintenance_restores_crashed_swap(
    spark, sf_dir, tmp_path
):
    """The advice-found (round 12) data-loss window pinned: a HARD
    crash between rename(day, _old) and rename(_compact, day) leaves
    the day's ONLY copy in the aside.  The manifest (written into the
    day dir before the rename, so it rides along atomically) lets
    repair restore it; the old unconditional sweep deleted it.  Also
    pinned: the completed branch replays the late-append carry, and a
    manifest-less aside is NEVER deleted (unidentifiable)."""
    import os
    import shutil

    from streaming_forex_data_pipeline_spark.sources.layout import (
        repair_day_maintenance,
        write_day_partitioned,
    )
    from streaming_forex_data_pipeline_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events").limit(3000)
    loc = str(tmp_path / "crashrepair")
    write_day_partitioned(e, loc)
    truth_rows = spark.read.parquet(loc).count()
    day_dirs = sorted(d for d in os.listdir(loc) if d.startswith("day="))

    # --- restore branch: reconstruct the exact mid-swap crash state
    victim = day_dirs[0]
    vic_dir = os.path.join(loc, victim)
    snap = sorted(f for f in os.listdir(vic_dir) if f.endswith(".parquet"))
    with open(os.path.join(vic_dir, "_MANIFEST"), "w") as fh:
        fh.write(
            "\n".join(
                [victim, "repl:never-went-live.parquet"]
                + [f"snap:{f}" for f in snap]
            )
        )
    os.rename(vic_dir, os.path.join(loc, "_old-crashed"))
    os.makedirs(os.path.join(loc, "_compact-halfbuilt"))

    # --- completed branch with pending carry: replacement live, aside
    # holds the (now stale) snapshot plus one late-appended file
    day2 = day_dirs[1]
    d2_dir = os.path.join(loc, day2)
    snap2 = sorted(f for f in os.listdir(d2_dir) if f.endswith(".parquet"))
    aside2 = os.path.join(loc, "_old-completed")
    os.makedirs(aside2)
    for f in snap2:
        shutil.copy(os.path.join(d2_dir, f), os.path.join(aside2, f))
    shutil.copy(
        os.path.join(d2_dir, snap2[0]),
        os.path.join(aside2, "late-carry.parquet"),
    )
    late_rows = spark.read.parquet(
        os.path.join(aside2, "late-carry.parquet")
    ).count()
    # the replacement name IS live in the day dir -> truly completed
    with open(os.path.join(aside2, "_MANIFEST"), "w") as fh:
        fh.write(
            "\n".join(
                [day2, f"repl:{snap2[0]}"]
                + [f"snap:{f}" for f in snap2]
            )
        )

    # --- unidentifiable aside: no manifest — must survive untouched
    unident = os.path.join(loc, "_old-anonymous")
    os.makedirs(unident)
    shutil.copy(
        os.path.join(d2_dir, snap2[0]),
        os.path.join(unident, "mystery.parquet"),
    )

    # --- stray manifest in a live day (crash before the aside rename)
    day3 = day_dirs[2]
    with open(os.path.join(loc, day3, "_MANIFEST"), "w") as fh:
        fh.write(day3)

    # --- appender-recreated branch (review-found): mid-swap crash
    # asided the whole day, then a live appender recreated the day
    # dir with one NEW file before repair ran.  None of the
    # manifest's replacement files are live, so repair must
    # MERGE-RESTORE the aside, not delete it as a duplicate.
    day4 = day_dirs[3]
    d4_dir = os.path.join(loc, day4)
    snap4 = sorted(
        f for f in os.listdir(d4_dir) if f.endswith(".parquet")
    )
    d4_rows = spark.read.parquet(d4_dir).count()
    aside4 = os.path.join(loc, "_old-recreated")
    os.makedirs(aside4)
    for f in snap4:
        os.rename(os.path.join(d4_dir, f), os.path.join(aside4, f))
    with open(os.path.join(aside4, "_MANIFEST"), "w") as fh:
        fh.write(
            "\n".join(
                [day4, "repl:never-went-live.parquet"]
                + [f"snap:{f}" for f in snap4]
            )
        )
    append4 = spark.read.parquet(
        os.path.join(aside4, snap4[0])
    ).limit(2)
    appender_rows = append4.count()
    append4.coalesce(1).write.mode("append").parquet(d4_dir)

    # --- malformed manifest (power loss zeroed the file): must be
    # reported unidentified, never crash the repair, never delete
    empty_aside = os.path.join(loc, "_old-empty")
    os.makedirs(empty_aside)
    open(os.path.join(empty_aside, "_MANIFEST"), "w").close()
    shutil.copy(
        os.path.join(d2_dir, snap2[0]),
        os.path.join(empty_aside, "orphan.parquet"),
    )

    # --- well-formed manifest with ZERO repl: lines (advice r12): the
    # completed-swap probe (any repl file live) would be vacuously
    # False and a completed swap would merge-restore stale snapshot
    # rows — must be treated as unidentifiable instead, and the
    # writer must refuse to produce one
    norepl_aside = os.path.join(loc, "_old-norepl")
    os.makedirs(norepl_aside)
    shutil.copy(
        os.path.join(d2_dir, snap2[0]),
        os.path.join(norepl_aside, "stale-snap.parquet"),
    )
    with open(os.path.join(norepl_aside, "_MANIFEST"), "w") as fh:
        fh.write("\n".join([day2, "snap:stale-snap.parquet"]))
    import pytest

    from streaming_forex_data_pipeline_spark.sources.layout import (
        _write_day_manifest,
    )
    with pytest.raises(ValueError, match="empty replacements"):
        _write_day_manifest(d2_dir, day2, {"a.parquet"}, set())

    rep = repair_day_maintenance(loc)
    assert rep["restored"] == [victim, day4]
    assert sorted(rep["swept"]) == ["_compact-halfbuilt", "_old-completed"]
    assert rep["carried"] == 1
    assert rep["unidentified"] == [
        "_old-anonymous", "_old-empty", "_old-norepl",
    ]
    # the no-repl aside and its file survive untouched
    assert os.path.exists(
        os.path.join(norepl_aside, "stale-snap.parquet")
    )
    # merge-restore: the full historical day is back BESIDE the
    # appender's file
    assert set(snap4) <= set(os.listdir(d4_dir))
    assert (
        spark.read.parquet(d4_dir).count() == d4_rows + appender_rows
    )
    assert os.path.exists(
        os.path.join(empty_aside, "orphan.parquet")
    )
    # the restored day is whole, manifest stripped, stray manifest gone
    assert sorted(
        f
        for f in os.listdir(os.path.join(loc, victim))
        if f.endswith(".parquet")
    ) == snap
    assert not os.path.exists(os.path.join(loc, victim, "_MANIFEST"))
    assert not os.path.exists(os.path.join(loc, day3, "_MANIFEST"))
    # the carried late file landed in its day
    assert os.path.exists(os.path.join(d2_dir, "late-carry.parquet"))
    # the unidentifiable aside was left alone — never delete what we
    # cannot prove is duplicated
    assert os.path.exists(os.path.join(unident, "mystery.parquet"))
    assert (
        spark.read.parquet(loc).count()
        == truth_rows + late_rows + appender_rows
    )
    # idempotent
    rep2 = repair_day_maintenance(loc)
    assert rep2 == {
        "swept": [],
        "restored": [],
        "carried": 0,
        "unidentified": ["_old-anonymous", "_old-empty", "_old-norepl"],
    }


def test_retention_and_backfill_under_live_append(spark, sf_dir, tmp_path):
    """VERDICT r11 Next #7: the maintenance no-loss claims extended to
    retention and backfill with a live appender racing the critical
    window.  (a) backfill: a file landed in the day AFTER the snapshot
    but before the aside rename is carried into the backfilled day,
    not rmtree'd with the aside.  (b) retention: the expired day
    vanishes in one atomic rename; surviving days' inodes never move
    even with a drop racing an append into the expired day."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.sources.layout import (
        backfill_day,
        drop_day_partitions,
        write_day_partitioned,
    )
    from streaming_forex_data_pipeline_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events").limit(4000)
    loc = str(tmp_path / "liverace")
    write_day_partitioned(e, loc)
    days = sorted(
        d.split("=", 1)[1] for d in os.listdir(loc) if d.startswith("day=")
    )
    assert len(days) >= 3

    # (a) backfill carry: stage a "late append" file holding 3 rows of
    # the target day, injected by an os.rename interposer at the exact
    # moment the day dir is renamed aside
    target = days[1]
    day_df = e.filter(F.date_format("ts", "yyyy-MM-dd") == target)
    late_dir = str(tmp_path / "late")
    day_df.limit(3).coalesce(1).write.parquet(late_dir)
    late_file = glob.glob(os.path.join(late_dir, "*.parquet"))[0]
    fixed = day_df.withColumn("value", F.lit(0.0))
    real_rename = os.rename
    injected = {"done": False}

    def racing_rename(src, dst):
        if not injected["done"] and os.path.basename(dst).startswith(
            "_old-"
        ):
            shutil.copy(
                late_file, os.path.join(src, "live-append.parquet")
            )
            injected["done"] = True
        return real_rename(src, dst)

    os.rename = racing_rename
    try:
        backfill_day(spark, loc, target, fixed)
    finally:
        os.rename = real_rename
    assert injected["done"], "race injection never fired"
    carried = os.path.join(loc, f"day={target}", "live-append.parquet")
    assert os.path.exists(carried), "live append eaten by backfill"
    got = spark.read.parquet(loc).filter(F.col("day") == target)
    assert got.count() == day_df.count() + 3
    # the backfilled content is the corrected copy + the 3 late rows
    assert (
        got.filter(F.col("value") != 0.0).count() == 3
    )

    # (b) retention race: append into the expired day just before its
    # aside rename — the rename is atomic, survivors' inodes fixed
    keep_dir = os.path.join(loc, f"day={days[-1]}")
    keep_inodes = {
        f: os.stat(os.path.join(keep_dir, f)).st_ino
        for f in os.listdir(keep_dir)
    }
    injected["done"] = False

    def racing_drop_rename(src, dst):
        if not injected["done"] and os.path.basename(dst).startswith(
            "_drop-"
        ):
            shutil.copy(
                late_file, os.path.join(src, "expired-append.parquet")
            )
            injected["done"] = True
        return real_rename(src, dst)

    os.rename = racing_drop_rename
    try:
        dropped = drop_day_partitions(loc, days[1])
    finally:
        os.rename = real_rename
    assert injected["done"] and dropped == [days[0]]
    assert not os.path.isdir(os.path.join(loc, f"day={days[0]}"))
    assert not [d for d in os.listdir(loc) if d.startswith("_drop-")]
    assert {
        f: os.stat(os.path.join(keep_dir, f)).st_ino
        for f in os.listdir(keep_dir)
    } == keep_inodes


def test_embedding_index_channel_matches_batch_pairs(
    spark, sf_dir, tmp_path
):
    """The semantic face of the accumulating-index family: embeddings
    stream in TWO micro-batches split by vec_id parity (23 of the 39
    sf0.001 LSH pairs are odd-even, so cross-batch pairing is
    provably exercised); after the drain the committed pair set must
    equal the batch embedding_near_dup_candidates over the whole
    corpus at the same planes/threshold."""
    import os

    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.llm.similarity import (
        embedding_near_dup_candidates,
    )
    from streaming_forex_data_pipeline_spark.sources.tables import load_table
    from streaming_forex_data_pipeline_spark.streaming.corpus_stream import (
        start_embedding_index_channel,
    )

    e = load_table(spark, sf_dir, "embeddings")
    src = str(tmp_path / "emb_two_batches")
    _staged_event_files(
        spark, e, src,
        [e.filter(F.col("vec_id") % 2 == 0),
         e.filter(F.col("vec_id") % 2 == 1)],
    )
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    pair_dir = str(tmp_path / "emb_pairs")
    q = start_embedding_index_channel(
        spark, sf_dir, sink_table="emb_idx_parity",
        vec_dir=str(tmp_path / "emb_vecs"), pair_dir=pair_dir,
        stream=stream, threshold=0.35, n_planes=4,
    )
    q.awaitTermination(300)
    assert len(os.listdir(os.path.join(pair_dir, "_log"))) >= 2, (
        "stream collapsed into one micro-batch — cross-batch pairing "
        "untested"
    )
    got = {
        (r["id_a"], r["id_b"]): round(r["cos_sim"], 5)
        for r in spark.table("emb_idx_parity").collect()
    }
    want = {
        (r["id_a"], r["id_b"]): round(r["cos_sim"], 5)
        for r in embedding_near_dup_candidates(
            e, threshold=0.35, n_planes=4
        ).collect()
    }
    assert got == want and len(want) > 0
    assert any(a % 2 != b % 2 for (a, b) in got), (
        "no cross-batch pair — the accumulation claim went untested"
    )


def test_knn_graph_channel_matches_batch_build(spark, sf_dir, tmp_path):
    """Round 12: streaming kNN-graph maintenance.  Embeddings arrive
    in TWO micro-batches split by vec_id parity; each batch upserts
    only the affected buckets' edges (keyed (src, rank)).  After the
    drain the committed graph must equal the batch knn_graph over the
    whole corpus — including re-ranked batch-1 sources whose buckets
    batch 2 touched (the upsert claim)."""
    import os

    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.llm import similarity as SIM
    from streaming_forex_data_pipeline_spark.sources.tables import load_table
    from streaming_forex_data_pipeline_spark.streaming.corpus_stream import (
        start_knn_graph_channel,
    )

    e = load_table(spark, sf_dir, "embeddings")
    src = str(tmp_path / "knng_two_batches")
    _staged_event_files(
        spark, e, src,
        [e.filter(F.col("vec_id") % 2 == 0),
         e.filter(F.col("vec_id") % 2 == 1)],
    )
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    graph_dir = str(tmp_path / "knng_edges")
    q = start_knn_graph_channel(
        spark, sf_dir, sink_table="knng_parity",
        vec_dir=str(tmp_path / "knng_vecs"), graph_dir=graph_dir,
        stream=stream, k=3, n_planes=4,
    )
    q.awaitTermination(300)
    assert len(os.listdir(os.path.join(graph_dir, "_log"))) >= 2, (
        "stream collapsed into one micro-batch — incrementality untested"
    )
    got = sorted(
        (r["src"], r["dst"], round(r["cos_sim"], 5), r["rank"])
        for r in spark.table("knng_parity").collect()
    )
    want = sorted(
        (r["src"], r["dst"], round(r["cos_sim"], 5), r["rank"])
        for r in SIM.knn_graph(e, k=3, n_planes=4).collect()
    )
    assert got == want and len(want) > 0
    # the upsert claim: at least one EVEN (batch-1) source's final
    # edge set must include an ODD (batch-2) neighbor — i.e. batch 2
    # actually re-ranked a batch-1 source rather than only appending
    assert any(s % 2 == 0 and d % 2 == 1 for s, d, _, _ in got), (
        "no batch-1 source re-ranked by batch 2 — upsert untested"
    )


@pytest.mark.slow  # r15: slow lane (see pytest.ini)
def test_knn_graph_channel_long_run_log_stays_bounded(
    spark, sf_dir, tmp_path
):
    """Round 13 (r12 verdict Next #4 — graph-silver lifecycle): 20
    micro-batches through the kNN-graph channel with compact_every=4.
    After the drain (a) read-back equality with the from-scratch
    batch rebuild still holds — compaction folded ONLY settled
    commits and preserved keep-latest (src, rank) upsert ordering —
    and (b) the log is BOUNDED: live (non-replaced) manifests stay
    O(compact_every), total on-disk manifests far below one per
    micro-batch, and vacuum left no unreferenced staging dirs."""
    import json
    import os

    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.llm import similarity as SIM
    from streaming_forex_data_pipeline_spark.sources.sinks import _commit_ids
    from streaming_forex_data_pipeline_spark.sources.tables import load_table
    from streaming_forex_data_pipeline_spark.streaming.corpus_stream import (
        start_knn_graph_channel,
    )

    e = load_table(spark, sf_dir, "embeddings")
    n_batches = 20
    src = str(tmp_path / "knng_many_batches")
    _staged_event_files(
        spark, e, src,
        [e.filter(F.col("vec_id") % n_batches == i)
         for i in range(n_batches)],
    )
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    graph_dir = str(tmp_path / "knng_edges_long")
    q = start_knn_graph_channel(
        spark, sf_dir, sink_table="knng_long_run",
        vec_dir=str(tmp_path / "knng_vecs_long"), graph_dir=graph_dir,
        stream=stream, k=3, n_planes=4, compact_every=4,
    )
    q.awaitTermination(600)

    # (a) parity with the batch rebuild, through 5 compaction cycles
    got = sorted(
        (r["src"], r["dst"], round(r["cos_sim"], 5), r["rank"])
        for r in spark.table("knng_long_run").collect()
    )
    want = sorted(
        (r["src"], r["dst"], round(r["cos_sim"], 5), r["rank"])
        for r in SIM.knn_graph(e, k=3, n_planes=4).collect()
    )
    assert got == want and len(want) > 0

    # (b) bounded log: physical manifests far below one per batch,
    # live manifests O(compact_every)
    log_dir = os.path.join(graph_dir, "_log")
    cids = _commit_ids(log_dir)
    assert len(cids) < n_batches // 2, (
        f"{len(cids)} manifests after {n_batches} batches — "
        "compaction is not folding the log"
    )
    manifests = {}
    for cid in cids:
        with open(os.path.join(log_dir, f"{cid:020d}.json")) as fh:
            manifests[cid] = json.load(fh)
    replaced = set()
    for m in manifests.values():
        replaced.update(m.get("replaces", ()))
    live = [c for c in cids if c not in replaced]
    assert len(live) <= 4 + 2, f"live manifests unbounded: {live}"
    # vacuum: every surviving staging dir is referenced by a manifest
    staged_root = os.path.join(graph_dir, "_staged")
    referenced = {m["staged"] for m in manifests.values()}
    orphans = set(os.listdir(staged_root)) - referenced
    assert not orphans, f"vacuum left unreferenced staging dirs: {orphans}"


def test_retire_stale_silvers_lru_rules(tmp_path, monkeypatch):
    """Round 13 (r12 verdict Next #4): age-based silver retirement —
    stale slots under the prefix go, recently-used slots stay, `keep`
    names are exempt, foreign entries (other prefixes, files,
    symlinks) are never touched, and an empty prefix is rejected
    (it would sweep every channel's state under the shared root)."""
    import os
    import time

    import pytest

    from streaming_forex_data_pipeline_spark.sources import scratch as SC

    monkeypatch.setattr(
        "tempfile.gettempdir", lambda: str(tmp_path)
    )
    old = time.time() - 10 * 86400
    def mk(name, mtime=None):
        p = SC.scratch_path(name)
        os.makedirs(p)
        open(os.path.join(p, "_SUCCESS"), "w").close()
        if mtime is not None:
            os.utime(p, (mtime, mtime))
        return p

    stale = mk("tstret_v1_aaa_k3", mtime=old)
    fresh = mk("tstret_v1_bbb_k3")  # mtime = now: in active use
    kept = mk("tstret_v1_ccc_k3", mtime=old)
    foreign = mk("other_channel_ckpt", mtime=old)
    builder_leak = mk("tstret_v1_aaa_k3.build-dead", mtime=old)
    stray_file = os.path.join(SC.user_scratch_root(), "tstret_file")
    open(stray_file, "w").close()
    os.utime(stray_file, (old, old))

    with pytest.raises(ValueError, match="non-empty prefix"):
        SC.retire_stale_silvers("", max_age_seconds=0)

    removed = SC.retire_stale_silvers(
        "tstret_", max_age_seconds=7 * 86400,
        keep=("tstret_v1_ccc_k3",),
    )
    assert sorted(removed) == sorted([stale, builder_leak])
    assert not os.path.exists(stale)
    assert not os.path.exists(builder_leak)
    assert os.path.exists(fresh)
    assert os.path.exists(kept)
    assert os.path.exists(foreign)
    assert os.path.exists(stray_file)


def test_knn_graph_channel_retires_stale_silvers(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Round 14 (r13 verdict Next #5): the graph channel's compaction
    epilogue now INVOKES silver retirement — a superseded-fingerprint
    batch silver (old mtime under the knng_v*/knng_union_* slot
    prefixes) is retired during the drain, while a recently-consumed
    silver and the channel's own state survive."""
    import os
    import time

    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.sources import scratch as SC
    from streaming_forex_data_pipeline_spark.sources.tables import load_table
    from streaming_forex_data_pipeline_spark.streaming.corpus_stream import (
        start_knn_graph_channel,
    )

    monkeypatch.setattr("tempfile.gettempdir", lambda: str(tmp_path))
    old = time.time() - 2 * 3600

    def mk(name, mtime=None):
        p = SC.scratch_path(name)
        os.makedirs(p)
        open(os.path.join(p, "_SUCCESS"), "w").close()
        if mtime is not None:
            os.utime(p, (mtime, mtime))
        return p

    stale_graph = mk("knng_v1_deadfp_k3_p4", mtime=old)
    stale_union = mk("knng_union_v1_deadfp_k3_p4-2", mtime=old)
    stale_tmp = mk("knng_v1_deadfp_k3_p4.build-dead", mtime=old)
    live_graph = mk("knng_v2_livefp_k3_p4")  # fresh mtime: in use

    e = load_table(spark, sf_dir, "embeddings")
    src = str(tmp_path / "knng_retire_batches")
    _staged_event_files(
        spark, e, src,
        [e.filter(F.col("vec_id") % 4 == i) for i in range(4)],
    )
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    vec_dir = str(tmp_path / "knng_retire_vecs")
    graph_dir = str(tmp_path / "knng_retire_edges")
    q = start_knn_graph_channel(
        spark, sf_dir, sink_table="knng_retire_sink",
        vec_dir=vec_dir, graph_dir=graph_dir,
        stream=stream, k=3, n_planes=4, compact_every=4,
        retire_stale_after=3600.0,
    )
    q.awaitTermination(300)

    assert not os.path.exists(stale_graph), "stale graph silver kept"
    assert not os.path.exists(stale_union), "stale union silver kept"
    assert not os.path.exists(stale_tmp), "dead builder tmp kept"
    assert os.path.exists(live_graph), "recently-used silver retired"
    # the channel's own committed state is untouched
    assert os.path.exists(os.path.join(graph_dir, "_log"))
    assert os.path.exists(os.path.join(vec_dir, "_log"))
    assert spark.table("knng_retire_sink").count() > 0
