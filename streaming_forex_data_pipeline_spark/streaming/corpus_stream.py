"""Streaming corpus ingest: the corpus-hygiene operators as streaming
channels — the stateless quality gate, incremental near-dup checking
against a static index, decontamination against a static eval-gram
frame, the real-codec multimodal decode, and the merge-law sketch
channels (CMS, HLL, histogram, reservoir, DSIR models, gate
dashboard), all batch/stream parity-tested.  Every delta-log channel
runs on one mechanism, `_start_merge_channel`, whose docstring holds
the delta -> commit -> merge-view contract.

A training-corpus pipeline at 100 TB ingests continuously; the
document-level gate (Gopher/C4 rule battery, `llm/corpus.py:
quality_gate`) needs NO cross-document state — every attribute is a
function of one document's text.  This module re-expresses the gate as
pure per-row column algebra so it runs inside a Structured Streaming
map stage: no shuffle, no watermark, no state store — the infinitely
parallel shape.  Batch/stream parity is asserted in
tests/test_streaming.py (same rows as the batch gate on the same
table).

The batch gate computes the repetition attributes with an
explode+groupBy (cheaper per doc at O(d) vs the per-row fold's O(d^2)
distinct-count scan, and reusable by other consumers); the streaming
variant trades that for statelessness.  Outputs are identical by
construction: both round the attributes to 6dp BEFORE thresholding,
so keep/reasons agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..llm.corpus import (
    histogram_sketch,
    quality_gate,
    weighted_reservoir_sample,
    word_ngrams,
    words_array,
)
from ..llm.text import avg_word_len


def streaming_quality_gate(docs: DataFrame, text: str = "text") -> DataFrame:
    """Per-row re-expression of `llm/corpus.py:quality_gate` — same
    columns, same decisions, zero cross-row operations."""
    # mirror quality_gate's NULL-text coalesce: NULL attributes would
    # let every rule predicate evaluate NULL and keep=true slip through
    docs = docs.withColumn(text, F.coalesce(F.col(text), F.lit("")))
    ws = words_array(text)
    distinct = F.array_distinct(ws)
    total = F.size(ws)
    top_c = F.array_max(
        F.transform(
            distinct, lambda t: F.size(F.filter(ws, lambda x: x == t))
        )
    )
    base = docs.select(
        "doc_id",
        total.cast("long").alias("n_words"),
        F.round(
            1.0 - F.size(distinct).cast("double") / total, 6
        ).alias("dup_word_frac"),
        F.round(top_c.cast("double") / total, 6).alias("top_word_frac"),
        F.round(F.coalesce(avg_word_len(text), F.lit(0.0)), 6).alias(
            "avg_word_len"
        ),
    )
    rules = [
        ("too_short", F.col("n_words") < 20),
        ("too_long", F.col("n_words") > 1000),
        ("dup_words", F.col("dup_word_frac") > 0.6),
        ("top_word", F.col("top_word_frac") > 0.15),
        (
            "word_len",
            (F.col("avg_word_len") < 2.0) | (F.col("avg_word_len") > 10.0),
        ),
    ]
    reasons = F.concat_ws(
        ",", *[F.when(cond, F.lit(code)) for code, cond in rules]
    )
    return base.select(
        "*", reasons.alias("reasons"), (reasons == "").alias("keep")
    )


def start_corpus_gate_channel(
    spark, sf_dir: str, sink_table: str = "corpus_gate_sink"
):
    """Wire the channel: documents stream -> stateless gate -> memory
    sink (availableNow in tests; the real deployment points the same
    writeStream at the bronze->silver table)."""
    from .channels import read_table_stream

    gated = streaming_quality_gate(
        read_table_stream(spark, sf_dir, "documents")
    )
    return (
        gated.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink_table)
        .trigger(availableNow=True)
        .start()
    )


def _start_merge_channel(
    spark,
    sf_dir: str,
    table: str,
    sink_table: str,
    sink_dir: str | None,
    stream,
    *,
    slot_prefix: str,
    empty_schema: str,
    keys: list[str],
    delta_fn,
    view_fn,
):
    """The delta-log channel mechanism every merge-law channel runs on
    (the foreachBatch + idempotent-sink model of Structured Streaming).

    Contract, per micro-batch ``batch_id``:

    1. delta: ``delta_fn(batch_df)`` builds the batch's OWN bounded
       partial state (a sketch, counters, a top-k, per-key minima);
    2. commit: the delta, tagged with a ``batch`` column, lands through
       the transactional ``commit_append`` sink (`sources/sinks.py`)
       at ``version=batch_id`` — executor-side files plus one atomic
       manifest, so the driver holds O(1) state;
    3. merge view: ``read_committed(keys)`` keeps the latest row per
       key over the whole log and ``view_fn`` folds it by the
       channel's merge law into the lazy view ``sink_table``.

    A replayed micro-batch (restart after a crash, same ``sink_dir``)
    rewrites the same (key, batch) identities, and keep-latest drops
    the older copies, so restarts merge idempotently.  Until the first
    non-empty commit the view is the empty frame ``empty_schema``.
    The query is named ``sink_table`` (what `channel_stats` reports),
    checkpoints into a fresh scratch directory, and drains the source
    with ``availableNow``.  ``stream`` defaults to ``table`` read as a
    file stream, ``sink_dir`` to a fresh ``slot_prefix`` scratch slot.
    """
    from ..sources.scratch import scratch_dir
    from ..sources.sinks import commit_append, read_committed
    from .channels import read_table_stream

    if sink_dir is None:
        sink_dir = scratch_dir(slot_prefix)
    if stream is None:
        stream = read_table_stream(spark, sf_dir, table)
    spark.createDataFrame([], empty_schema).createOrReplaceTempView(sink_table)

    def run_batch(batch_df, batch_id):
        delta = delta_fn(batch_df).withColumn(
            "batch", F.lit(int(batch_id)).cast("long")
        )
        commit_append(delta, sink_dir, version=float(batch_id))
        try:
            committed = read_committed(spark, sink_dir, keys=keys)
        except FileNotFoundError:
            # every commit so far was empty: keep the empty view
            return
        view_fn(committed).createOrReplaceTempView(sink_table)

    return (
        stream.writeStream.queryName(sink_table)
        .foreachBatch(run_batch)
        .option("checkpointLocation", scratch_dir(slot_prefix + "ckpt_"))
        .trigger(availableNow=True)
        .start()
    )


def start_incremental_dedup_channel(
    spark,
    sf_dir: str,
    cutoff: int,
    sink_table: str = "incremental_dedup_sink",
    sink_dir: str | None = None,
):
    """Streaming face of the incremental dedup: each micro-batch of
    today's crawl is checked against the STATIC historical index
    (documents below ``cutoff``) plus itself with
    `llm.dedup.incremental_near_dup_pairs`.  Merge law: keep-latest per
    (doc_a, doc_b), so the view is the union of every batch's pairs
    and per-batch cost never depends on the total found so far.

    Pairs BETWEEN two micro-batches are found only once the earlier
    batch is folded into the index (the production loop appends each
    processed batch to it); the availableNow single-file source
    delivers one micro-batch, so the parity test is exact."""
    from ..llm.dedup import incremental_near_dup_pairs
    from ..sources.tables import load_table
    from .channels import read_table_stream

    index = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < cutoff
    )

    def delta_fn(batch_df):
        return incremental_near_dup_pairs(
            index.unionByName(batch_df),
            F.col("doc_id") >= cutoff,
            threshold=1.0,
            bands=1,
        )

    return _start_merge_channel(
        spark, sf_dir, "documents", sink_table, sink_dir,
        read_table_stream(spark, sf_dir, "documents").filter(
            F.col("doc_id") >= cutoff
        ),
        slot_prefix="inc_dedup_pairs_",
        empty_schema="doc_a long, doc_b long, jaccard double",
        keys=["doc_a", "doc_b"],
        delta_fn=delta_fn,
        view_fn=lambda c: c.drop("batch"),
    )


def start_decontamination_channel(
    spark,
    sf_dir: str,
    eval_mod: int = 25,
    n: int = 4,
    sink_table: str = "decontaminate_sink",
    sink_dir: str | None = None,
):
    """Streaming face of the decontamination scrub
    (`llm/dedup.py:decontaminate`): every micro-batch is scrubbed
    against the STATIC distinct eval-gram frame (the eval split is
    fixed before the crawl starts, and is megabytes, so it broadcasts).
    The scrub mixes a stream-side aggregation with anti-joins, which
    the incremental planner cannot run in one continuous plan, so each
    micro-batch runs the batch plan — parity by construction.  Eval
    rows in the stream are dropped by definition.  Merge law:
    keep-latest per doc_id over the survivors."""
    from ..sources.tables import load_table
    from .channels import read_table_stream

    grams = F.array_distinct(word_ngrams(words_array("text"), n))
    ev = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % eval_mod == 0)
        .select(F.explode(grams).alias("gram"))
        .distinct()
        .localCheckpoint(eager=False)  # one gram scan, not one per batch
    )

    def delta_fn(batch_df):
        ex = batch_df.select("doc_id", F.explode(grams).alias("gram"))
        bad = (
            ex.join(F.broadcast(ev), "gram", "left_semi")
            .select("doc_id")
            .distinct()
        )
        return batch_df.select("doc_id", "source", "n_chars").join(
            bad, "doc_id", "left_anti"
        )

    return _start_merge_channel(
        spark, sf_dir, "documents", sink_table, sink_dir,
        read_table_stream(spark, sf_dir, "documents").filter(
            F.col("doc_id") % eval_mod != 0
        ),
        slot_prefix="decon_survivors_",
        empty_schema="doc_id long, source string, n_chars long",
        keys=["doc_id"],
        delta_fn=delta_fn,
        view_fn=lambda c: c.drop("batch"),
    )


def start_media_decode_channel(
    spark, sf_dir: str, sink_table: str = "media_decode_sink"
):
    """Streaming face of the real-codec multimodal tier: documents
    stream in, each micro-batch synthesizes its PNG payloads and
    REAL-decodes them (`llm/multimodal.py encode_images/decode_images`)
    inside the continuous plan itself — Arrow-batched ``mapInPandas``
    is stateless, so unlike the dedup/decontamination faces no
    foreachBatch recompute is needed: the codec kernels run as plain
    map stages of the streaming query (the shape a 100 TB multimodal
    ingest uses for decode/feature-extract on arrival)."""
    from ..llm.multimodal import decode_images, encode_images
    from .channels import read_table_stream

    stream = read_table_stream(spark, sf_dir, "documents")
    decoded = decode_images(encode_images(stream))
    return (
        decoded.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink_table)
        .trigger(availableNow=True)
        .start()
    )


def start_cms_channel(
    spark,
    sf_dir: str,
    sink_table: str = "cms_sink",
    sink_dir: str | None = None,
    stream=None,
):
    """Streaming face of the Count-Min sketch (`llm/vocab.py:
    cms_build`) on the `_start_merge_channel` delta log: each batch
    commits its OWN depth x width sketch keyed (row, bucket, batch),
    and the view merges the log by counter-wise SUM — the CMS merge
    law (sketches over disjoint streams add).  The view's input is
    #batches x depth x width rows: the FIXED sketch size bounds it,
    never the vocabulary.  Parity with the batch sketch across real
    micro-batches: tests/test_streaming.py."""
    from ..llm.vocab import cms_build

    return _start_merge_channel(
        spark, sf_dir, "documents", sink_table, sink_dir, stream,
        slot_prefix="cms_sketch_",
        empty_schema="row int, bucket long, c long",
        keys=["row", "bucket", "batch"],
        delta_fn=cms_build,
        view_fn=lambda c: c.groupBy("row", "bucket").agg(
            F.sum("c").alias("c")
        ),
    )


def start_hll_channel(
    spark,
    sf_dir: str,
    sink_table: str = "hll_sink",
    sink_dir: str | None = None,
    stream=None,
):
    """Streaming face of HyperLogLog (`llm/vocab.py:hll_registers`):
    each batch commits its complete 2^p register file keyed (bucket,
    batch), and the view merges by bucket-wise MAX — the HLL merge law
    (the register file of a union is the element-wise max).  Parity
    with the batch register file, and so with its `hll_estimate`, is
    proven across real micro-batches in tests/test_streaming.py."""
    from ..llm.vocab import hll_registers

    return _start_merge_channel(
        spark, sf_dir, "documents", sink_table, sink_dir, stream,
        slot_prefix="hll_regs_",
        empty_schema="bucket long, max_rho int",
        keys=["bucket", "batch"],
        delta_fn=lambda b: hll_registers(
            b.select(F.explode(words_array("text")).alias("item"))
        ),
        view_fn=lambda c: c.groupBy("bucket").agg(
            F.max("max_rho").alias("max_rho")
        ),
    )


def start_histogram_channel(
    spark,
    sf_dir: str,
    sink_table: str = "hist_sink",
    sink_dir: str | None = None,
    stream=None,
    value_col: str = "n_chars",
    lo: float = 0.0,
    hi: float = 1000.0,
    n_bins: int = 50,
):
    """Streaming face of the histogram rank sketch (`llm/corpus.py:
    histogram_sketch`): each batch commits its complete n_bins+2 bin
    spine keyed (bin, batch), and the view SUMs the log bin-wise — the
    histogram merge law.  Parity with the batch sketch and its
    `histogram_quantiles`: tests/test_streaming.py."""
    return _start_merge_channel(
        spark, sf_dir, "documents", sink_table, sink_dir, stream,
        slot_prefix="hist_sketch_",
        empty_schema="bin int, c long",
        keys=["bin", "batch"],
        delta_fn=lambda b: histogram_sketch(
            b, value_col, lo=lo, hi=hi, n_bins=n_bins
        ),
        view_fn=lambda c: c.groupBy("bin").agg(F.sum("c").alias("c")),
    )


def start_reservoir_channel(
    spark,
    sf_dir: str,
    k: int = 50,
    weight_col: str = "n_chars",
    seed: str = "res1",
    sink_table: str = "reservoir_sink",
    sink_dir: str | None = None,
    stream=None,
):
    """Streaming face of weighted reservoir sampling (`llm/corpus.py:
    weighted_reservoir_sample`): the A-Res key is a pure per-row
    function, so the reservoir over a stream is "the k best keys seen
    so far".  Each batch commits its OWN top-k keyed (doc_id, batch),
    and the view takes the global top-k over the log — the TOP-K merge
    law, at most #batches x k rows in.  A seeded rerun, batch or
    stream, any partitioning, picks the identical rows
    (tests/test_streaming.py)."""

    def delta_fn(batch_df):
        # the delta carries the UNROUNDED key: cross-batch re-ranking
        # on a display-rounded key would collapse realistic weights
        # into ties (the batch face ranks raw for the same reason)
        return weighted_reservoir_sample(
            batch_df.select("doc_id", weight_col),
            k=k,
            weight_col=weight_col,
            seed=seed,
            keep_raw=True,
        ).select("doc_id", "res_key_raw")

    def view_fn(committed):
        win = Window.orderBy(F.desc("res_key_raw"), F.asc("doc_id"))
        return (
            committed.select("doc_id", "res_key_raw")
            .withColumn("sample_rank", F.row_number().over(win))
            .filter(F.col("sample_rank") <= k)
            .withColumn("res_key", F.round("res_key_raw", 6))
            .drop("res_key_raw")
        )

    return _start_merge_channel(
        spark, sf_dir, "documents", sink_table, sink_dir, stream,
        slot_prefix="reservoir_",
        empty_schema="doc_id long, res_key double, sample_rank int",
        keys=["doc_id", "batch"],
        delta_fn=delta_fn,
        view_fn=view_fn,
    )


def start_dsir_model_channel(
    spark,
    sf_dir: str,
    n_buckets: int = 1024,
    target_pred=None,
    sink_table: str = "dsir_model_sink",
    sink_dir: str | None = None,
    stream=None,
):
    """Streaming face of the DSIR hashed-unigram models (`llm/text.py:
    dsir_logratio`): their whole sufficient statistic is a pair of
    exact per-bucket token counts (raw corpus, target slice), so each
    batch commits its (b, cr, ct) counts keyed (b, batch) and the view
    SUMs the log.  Importance weights are computable against the view
    at any moment without rescanning history; parity with the batch
    models: tests/test_streaming.py.

    ``target_pred`` is the Column predicate naming the in-domain
    slice (default lang = 'en', matching the registered dsir_weights
    query)."""
    from ..llm.dedup import portable_token_hash

    if target_pred is None:
        target_pred = F.col("lang") == "en"

    def delta_fn(batch_df):
        ex = batch_df.select(
            target_pred.alias("is_target"),
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("tok"),
        ).select(
            "is_target",
            (portable_token_hash(F.col("tok")) % n_buckets).alias("b"),
        )
        return ex.groupBy("b").agg(
            F.count(F.lit(1)).alias("cr"),
            F.count(F.when(F.col("is_target"), 1)).alias("ct"),
        )

    return _start_merge_channel(
        spark, sf_dir, "documents", sink_table, sink_dir, stream,
        slot_prefix="dsir_model_",
        empty_schema="b long, cr long, ct long",
        keys=["b", "batch"],
        delta_fn=delta_fn,
        view_fn=lambda c: c.groupBy("b").agg(
            F.sum("cr").alias("cr"), F.sum("ct").alias("ct")
        ),
    )


def start_gate_dashboard_channel(
    spark,
    sf_dir: str,
    sink_table: str = "gate_dash_sink",
    sink_dir: str | None = None,
    stream=None,
):
    """Streaming face of the per-source gate dashboard
    (`plans/corpus_q.py:gate_by_source`): every gate decision is a
    function of ONE document, so per-source rule counts are ADDITIVE.
    Each batch commits its (source, n_docs, n_keep, n_<rule>...)
    counters keyed (source, batch) and the view SUMs the log (the CMS
    merge law on compliance counters); the log is foldable by
    `compact_log`.  Parity with the batch dashboard:
    tests/test_streaming.py."""
    rules = ["too_short", "too_long", "dup_words", "top_word", "word_len"]
    counts = ["n_docs", "n_keep"] + [f"n_{r}" for r in rules]

    def delta_fn(batch_df):
        g = quality_gate(batch_df).select("doc_id", "reasons", "keep")
        j = g.join(batch_df.select("doc_id", "source"), "doc_id")
        return j.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("long")
            .alias("n_keep"),
            *[
                F.sum(
                    F.when(
                        F.array_contains(F.split("reasons", ","), rl), 1
                    ).otherwise(0)
                )
                .cast("long")
                .alias(f"n_{rl}")
                for rl in rules
            ],
        )

    return _start_merge_channel(
        spark, sf_dir, "documents", sink_table, sink_dir, stream,
        slot_prefix="gate_dash_",
        empty_schema="source string, "
        + ", ".join(f"{c} long" for c in counts),
        keys=["source", "batch"],
        delta_fn=delta_fn,
        view_fn=lambda c: c.groupBy("source").agg(
            *[F.sum(n).alias(n) for n in counts]
        ),
    )


def rebuild_ivf_serving(spark, sink_dir: str, serve_dir: str) -> None:
    """Re-derive the cell-partitioned serving layout from the
    transactional assignment log — the recovery path when a crash
    between a serving append and its marker leaves the layout behind
    (or ahead of) the log.  The log is the source of truth: committed
    (vec_id, batch) rows dedup idempotently, so the rebuild is exact
    no matter what the crash interleaving was."""
    import os
    import shutil

    from ..sources.sinks import log_versions, read_committed

    committed = read_committed(spark, sink_dir, keys=["vec_id", "batch"])
    tmp = f"{serve_dir}.rebuild"
    (
        committed.select("vec_id", "v", "n", "cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(tmp)
    )
    # published batch ids from the O(#commits) manifest metadata — a
    # data-sized distinct over committed rows buys nothing the log's
    # own version stamps don't already hold (review-found)
    published = log_versions(sink_dir)
    if os.path.isdir(serve_dir):
        shutil.rmtree(serve_dir)
    os.rename(tmp, serve_dir)
    marker_dir = os.path.join(serve_dir, "_published")
    os.makedirs(marker_dir, exist_ok=True)
    for v in published:  # O(#batches) stamps, not corpus-sized
        open(os.path.join(marker_dir, f"batch-{int(v)}"), "w").close()


def start_ivf_silver_channel(
    spark,
    sf_dir: str,
    serve_dir: str,
    cents=None,
    n_cells: int = 16,
    sink_dir: str | None = None,
    stream=None,
):
    """Streaming maintenance of the IVF silver table (round-8 verdict
    Next #4): at 100 TB the ANN index must absorb new embeddings
    incrementally — a full `write_ivf_silver` rebuild per arrival is
    the scale-killer this channel removes.

    Each micro-batch of new embeddings is assigned to the EXISTING
    index's cells (the fixed ``cents`` frame broadcasts — by default
    the base corpus's bootstrap centroids, i.e. exactly the quantizer
    `write_ivf_silver` bakes into the batch-built table) and lands in
    two places:

    - the transactional assignment log (``commit_append`` keyed
      (vec_id, batch) — the decontamination-channel pattern): atomic,
      idempotent under crash replays, the source of truth;
    - the Hive ``cell=<k>/`` serving layout (``serve_dir``): an
      APPEND of just the batch's rows into its cell directories, so
      the maintained table keeps the probe-time partition-pruning
      contract (`probe_ivf_silver` reads nprobe directories) without
      ever rewriting existing data.  A ``_published/batch-<id>``
      marker makes clean replays skip already-published batches; a
      crash BETWEEN append and marker (batch in the log, marker
      missing) is DETECTED on replay and recovered automatically by
      `rebuild_ivf_serving` from the log — index-from-WAL, the
      standard serving-cache recovery story, and the only exact move
      when the layout may hold zero or one copies of the batch.

    Parity contract (tests/test_streaming.py): after the stream
    drains, the serving table equals the batch `write_ivf_silver`
    rebuild row-for-row, and a probe against it carries the same
    PartitionFilters pruning gate as the batch-built table."""
    import os

    from ..llm.similarity import _bootstrap_centroids, assign_to_cells
    from ..sources.scratch import scratch_dir
    from ..sources.sinks import commit_append
    from ..sources.tables import load_table
    from .channels import read_table_stream

    if sink_dir is None:
        sink_dir = scratch_dir("ivf_assign_log_")
    if stream is None:
        stream = read_table_stream(spark, sf_dir, "embeddings")
    if cents is None:
        cents = _bootstrap_centroids(
            load_table(spark, sf_dir, "embeddings"), n_cells,
            "vec_id", "embedding",
        )
    # the index's quantizer is FIXED data: pin it once so every batch
    # assigns against identical centroids (and the plan doesn't rescan
    # the base corpus per micro-batch)
    cents = cents.localCheckpoint(eager=True)

    from ..sources.sinks import log_has_version

    def _log_has_version(version: float) -> bool:
        return log_has_version(sink_dir, version)

    def run_batch(batch_df, batch_id):
        assigned = assign_to_cells(batch_df, cents).select(
            F.col("id").alias("vec_id"), "v", "n", "cell"
        )
        # replay detection BEFORE committing: if this batch id is
        # already in the log but its serving marker is missing, a
        # prior attempt crashed somewhere between the serving append
        # and the marker — the serving layout's state is unknowable
        # (zero or one copies of the batch), so the only exact move is
        # a rebuild from the log, which is idempotent (review-found:
        # the old marker-after-append ordering silently DUPLICATED
        # serving rows on exactly that crash window)
        replayed = _log_has_version(float(batch_id))
        delta = assigned.withColumn(
            "batch", F.lit(int(batch_id)).cast("long")
        )
        commit_append(delta, sink_dir, version=float(batch_id))
        marker = os.path.join(serve_dir, "_published", f"batch-{batch_id}")
        if os.path.exists(marker):
            return  # clean replay: log deduped it, serving has it
        if replayed:
            rebuild_ivf_serving(spark, sink_dir, serve_dir)  # writes markers
            return
        (
            assigned.write.mode("append")
            .partitionBy("cell")
            .parquet(serve_dir)
        )
        os.makedirs(os.path.dirname(marker), exist_ok=True)
        open(marker, "w").close()

    return (
        stream.writeStream.foreachBatch(run_batch)
        .option("checkpointLocation", scratch_dir("ivf_silver_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )


def start_image_signature_channel(
    spark,
    sf_dir: str,
    sink_table: str = "image_dedup_sink",
    sig_dir: str | None = None,
    pair_dir: str | None = None,
    stream=None,
    max_hamming: int = 1,
):
    """The image face of `start_signature_channel`: each micro-batch
    is dHashed through the real PNG codec chain and folded into the
    accumulating perceptual index."""
    from ..llm.multimodal import dhash_images, encode_images

    return start_signature_channel(
        spark,
        sf_dir,
        lambda df: dhash_images(encode_images(df)),
        sink_table=sink_table,
        sig_dir=sig_dir,
        pair_dir=pair_dir,
        stream=stream,
        max_hamming=max_hamming,
        prefix="img_sig",
    )


def start_audio_signature_channel(
    spark,
    sf_dir: str,
    sink_table: str = "audio_dedup_sink",
    sig_dir: str | None = None,
    pair_dir: str | None = None,
    stream=None,
    max_hamming: int = 2,
):
    """The audio face of `start_signature_channel`: each micro-batch
    is fingerprinted through the real WAV codec chain (energy-envelope
    slope signs, `llm/multimodal.py:fingerprint_audio`) and folded
    into the accumulating perceptual index — the default Hamming 2
    matches the registered `audio_near_dups` threshold."""
    from ..llm.multimodal import encode_audio, fingerprint_audio

    return start_signature_channel(
        spark,
        sf_dir,
        lambda df: fingerprint_audio(encode_audio(df)),
        sink_table=sink_table,
        sig_dir=sig_dir,
        pair_dir=pair_dir,
        stream=stream,
        max_hamming=max_hamming,
        prefix="aud_sig",
    )


def start_video_signature_channel(
    spark,
    sf_dir: str,
    sink_table: str = "video_dedup_sink",
    sig_dir: str | None = None,
    pair_dir: str | None = None,
    stream=None,
    max_hamming: int = 1,
    min_frames: int = 3,
):
    """The video face of `start_signature_channel`: each micro-batch's
    clips are container-split and frame-dHashed onto COMPOSITE frame
    ids (the modal_q convention), the index accumulates at FRAME
    granularity — so cross-batch frame pairs are found like any other
    pair — and the published view reduces the committed frame pairs
    to CLIP pairs under video_near_dups' multi-evidence rule (>=
    ``min_frames`` same-position matches).  Publishing from the FULL
    committed pair log is what makes a clip pair whose evidence
    straddles micro-batches reach the threshold the moment its later
    frames arrive."""
    from ..llm.multimodal import dhash_video_frames, encode_videos
    from ..plans.modal_q import VIDEO_EVERY_N, fid_clip, fid_frame, vid_fid

    def signature_fn(docs):
        return dhash_video_frames(
            encode_videos(docs), every_n=VIDEO_EVERY_N
        ).select(vid_fid(), "h_lo", "h_hi")

    def publish_fn(pairs):
        return (
            pairs.filter(
                (fid_frame("doc_a") == fid_frame("doc_b"))
                & (fid_clip("doc_a") != fid_clip("doc_b"))
            )
            .select(
                fid_clip("doc_a").alias("doc_a"),
                fid_clip("doc_b").alias("doc_b"),
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_matching_frames"))
            .filter(F.col("n_matching_frames") >= min_frames)
        )

    return start_signature_channel(
        spark,
        sf_dir,
        signature_fn,
        sink_table=sink_table,
        sig_dir=sig_dir,
        pair_dir=pair_dir,
        stream=stream,
        max_hamming=max_hamming,
        prefix="vid_sig",
        publish_fn=publish_fn,
    )


def start_signature_channel(
    spark,
    sf_dir: str,
    signature_fn,
    sink_table: str,
    sig_dir: str | None = None,
    pair_dir: str | None = None,
    stream=None,
    max_hamming: int = 1,
    prefix: str = "sig",
    publish_fn=None,
):
    """Streaming maintenance of a perceptual dedup index — the
    production loop the text channel's scope note defers, generic
    over the signature function (one engine, every two-half-signature
    modality): each micro-batch of documents is signed by
    ``signature_fn`` (a (doc_id)-frame -> (doc_id, h_lo, h_hi)
    builder — image dHash, audio envelope, and composite-frame-id
    video ship as the `start_image_signature_channel` /
    `start_audio_signature_channel` / `start_video_signature_channel`
    faces), its NEW signatures are checked against the ACCUMULATED
    signature index
    of every earlier batch via `llm.dedup.incremental_dhash_pairs`
    (signature granularity, old x old never expands), and then the
    batch's signatures are folded INTO the index — so pairs BETWEEN
    micro-batches are found as soon as the later batch arrives, and
    after the stream drains the committed pair set equals the batch
    `dhash_near_dup_pairs` over the whole corpus (the parity test's
    claim).

    Two transactional logs (`sources/sinks.py:commit_append`, both
    executor-written, driver O(1)):

    - ``sig_dir``: the signature index, keyed (doc_id, batch);
    - ``pair_dir``: discovered pairs, keyed (doc_a, doc_b).

    Crash/replay contract: pairs commit BEFORE signatures, and the
    index read anti-joins the current batch's doc_ids — a replay
    whose signatures already landed (crash between the two commits)
    would otherwise see its own documents on BOTH sides of the
    old/new split and emit self-pairs; with the anti-join the replay
    recomputes the identical pair set and both logs dedup
    idempotently on their keys.

    ``publish_fn`` maps the FULL committed pair log to the view the
    sink table exposes (default: raw (doc_a, doc_b, hamming) pairs);
    the video face reduces frame pairs to clip pairs here, so
    evidence that straddles micro-batches counts toward the clip
    threshold as soon as it lands."""
    from ..llm.dedup import incremental_dhash_pairs
    from ..sources.scratch import scratch_dir
    from ..sources.sinks import commit_append, read_committed
    from .channels import read_table_stream

    if sig_dir is None:
        sig_dir = scratch_dir(f"{prefix}_index_")
    if pair_dir is None:
        pair_dir = scratch_dir(f"{prefix}_pairs_")
    if stream is None:
        stream = read_table_stream(spark, sf_dir, "documents")
    if publish_fn is None:
        def publish_fn(pairs):
            return pairs.select("doc_a", "doc_b", "hamming")

    publish_fn(
        spark.createDataFrame([], "doc_a long, doc_b long, hamming long")
    ).createOrReplaceTempView(sink_table)

    def run_batch(batch_df, batch_id):
        batch_hashes = signature_fn(
            batch_df.select("doc_id")
        ).localCheckpoint(eager=False)
        try:
            old = (
                read_committed(spark, sig_dir, keys=["doc_id", "batch"])
                .select("doc_id", "h_lo", "h_hi")
                .join(
                    batch_hashes.select("doc_id"), "doc_id", "left_anti"
                )
            )
            flagged = old.withColumn("__new", F.lit(False)).unionByName(
                batch_hashes.withColumn("__new", F.lit(True))
            )
        except FileNotFoundError:
            flagged = batch_hashes.withColumn("__new", F.lit(True))
        pairs = incremental_dhash_pairs(
            flagged, F.col("__new"), max_hamming=max_hamming
        )
        commit_append(pairs, pair_dir, version=float(batch_id))
        commit_append(
            batch_hashes.withColumn(
                "batch", F.lit(int(batch_id)).cast("long")
            ),
            sig_dir,
            version=float(batch_id),
        )
        try:
            committed = read_committed(
                spark, pair_dir, keys=["doc_a", "doc_b"]
            )
        except FileNotFoundError:
            return  # every commit so far carried zero pairs
        publish_fn(committed).createOrReplaceTempView(sink_table)

    return (
        stream.writeStream.queryName(sink_table)
        .foreachBatch(run_batch)
        .option("checkpointLocation", scratch_dir(f"{prefix}_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )


def start_embedding_index_channel(
    spark,
    sf_dir: str,
    sink_table: str = "embedding_dedup_sink",
    vec_dir: str | None = None,
    pair_dir: str | None = None,
    stream=None,
    threshold: float = 0.35,
    n_planes: int = 4,
):
    """Streaming maintenance of the SEMANTIC dedup index — the
    embedding face of the accumulating-index family (the signature
    channels' contract carried to vectors, which do not fit the
    two-half-signature frame): each micro-batch's new vectors are
    paired against the committed index of every earlier batch via
    `llm.similarity.incremental_embedding_pairs` (same-LSH-bucket
    candidates, exact cosine >= ``threshold`` verify, old x old never
    scored), then folded into the index.  After the drain the
    committed pair set equals the batch
    `embedding_near_dup_candidates` over the whole corpus — the
    parity test's claim, cross-batch pairs included.

    Same two-log crash contract as `start_signature_channel`: pairs
    commit BEFORE vectors, and the index read anti-joins the current
    batch's ids so a replay whose vectors already landed cannot
    self-pair."""
    from ..llm.similarity import incremental_embedding_pairs
    from ..sources.scratch import scratch_dir
    from ..sources.sinks import commit_append, read_committed
    from .channels import read_table_stream

    if vec_dir is None:
        vec_dir = scratch_dir("emb_idx_index_")
    if pair_dir is None:
        pair_dir = scratch_dir("emb_idx_pairs_")
    if stream is None:
        stream = read_table_stream(spark, sf_dir, "embeddings")
    spark.createDataFrame(
        [], "id_a long, id_b long, cos_sim double"
    ).createOrReplaceTempView(sink_table)

    def run_batch(batch_df, batch_id):
        batch_vecs = batch_df.select(
            "vec_id", "embedding"
        ).localCheckpoint(eager=False)
        try:
            old = (
                read_committed(spark, vec_dir, keys=["vec_id", "batch"])
                .select("vec_id", "embedding")
                .join(batch_vecs.select("vec_id"), "vec_id", "left_anti")
            )
            flagged = old.withColumn("__new", F.lit(False)).unionByName(
                batch_vecs.withColumn("__new", F.lit(True))
            )
        except FileNotFoundError:
            flagged = batch_vecs.withColumn("__new", F.lit(True))
        pairs = incremental_embedding_pairs(
            flagged, F.col("__new"), threshold=threshold, n_planes=n_planes
        )
        commit_append(pairs, pair_dir, version=float(batch_id))
        commit_append(
            batch_vecs.withColumn(
                "batch", F.lit(int(batch_id)).cast("long")
            ),
            vec_dir,
            version=float(batch_id),
        )
        try:
            committed = read_committed(
                spark, pair_dir, keys=["id_a", "id_b"]
            )
        except FileNotFoundError:
            return  # every commit so far carried zero pairs
        committed.select("id_a", "id_b", "cos_sim").createOrReplaceTempView(
            sink_table
        )

    return (
        stream.writeStream.queryName(sink_table)
        .foreachBatch(run_batch)
        .option("checkpointLocation", scratch_dir("emb_idx_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )


def start_knn_graph_channel(
    spark,
    sf_dir: str,
    sink_table: str = "knn_graph_sink",
    vec_dir: str | None = None,
    graph_dir: str | None = None,
    stream=None,
    k: int = 3,
    n_planes: int = 4,
    compact_every: int | None = None,
    retire_stale_after: float | None = 14 * 86400,
):
    """Streaming maintenance of the kNN-GRAPH index (round 12): the
    graph-silver sibling of `start_ivf_silver_channel`, closing the
    `knn_graph_delta` loop as a live channel.  Each micro-batch:

    1. read the committed vector index (anti-joining the batch's own
       ids, the shared replay-safety contract);
    2. recompute the kNN graph ONLY over the LSH buckets the batch's
       vectors land in (`llm.similarity.knn_graph` over the affected
       buckets' members — identical rows to `knn_graph_delta`'s
       rebuilt half, since a vector's top-k depends solely on its
       bucket's membership);
    3. commit those edges keyed (src, rank): `read_committed(keys=
       ["src", "rank"])` keep-latest semantics make the commit an
       UPSERT — re-ranked sources overwrite their old edges, while
       untouched buckets' edges are never re-written or even read (a
       src's out-degree min(k, |bucket|-1) only grows as members
       arrive, so (src, rank) keys are never orphaned);
    4. commit the batch's vectors (graph BEFORE vectors, so a replay
       after a crash between the two recomputes an identical upsert).

    After the drain the committed graph equals the batch
    `knn_graph` over the whole corpus — the parity test's claim.
    Per-batch storage work is proportional to affected buckets, never
    the corpus: the accumulating-index doctrine applied to the index
    STRUCTURE itself.

    ``compact_every`` (r12 verdict Next #4 — lifecycle completeness):
    every N micro-batches, `compact_log` folds the settled (src,
    rank) upsert log of BOTH sinks into one equivalent commit
    (keep_last=1 shields the in-flight replay) and `vacuum` reclaims
    crash-orphaned staging dirs, so a channel running for months
    scans O(1) manifests instead of one per micro-batch while
    read-back equality with the from-scratch rebuild holds at every
    drain (pinned by the long-run pytest).

    ``retire_stale_after`` (r13 verdict Next #5 — the retirement rule
    was library+pytest only, so the leak it fixes still accumulated):
    the same compaction epilogue also ages out BATCH-SIDE graph
    silvers (the ``knng_v*``/``knng_union_*`` build-once slots) whose
    corpus fingerprint went stale — superseded corpora, bumped algo
    versions, dead ``.build-*`` tmps.  LRU by slot mtime: consumers
    ``utime`` their silver on every read, so anything untouched for
    ``retire_stale_after`` seconds is dead weight and a LIVE silver
    can never be reclaimed out from under a reader.  The channel's
    OWN state (``knng_idx_*`` dirs) is outside both prefixes by
    construction.  ``None`` disables retirement."""
    from ..llm.similarity import knn_graph, lsh_bucket
    from ..sources.scratch import retire_stale_silvers, scratch_dir
    from ..sources.sinks import (
        commit_append,
        compact_log,
        read_committed,
        vacuum,
    )
    from .channels import read_table_stream

    if vec_dir is None:
        vec_dir = scratch_dir("knng_idx_vecs_")
    if graph_dir is None:
        graph_dir = scratch_dir("knng_idx_edges_")
    if stream is None:
        stream = read_table_stream(spark, sf_dir, "embeddings")
    spark.createDataFrame(
        [], "src long, dst long, cos_sim double, rank int"
    ).createOrReplaceTempView(sink_table)

    def run_batch(batch_df, batch_id):
        batch_vecs = batch_df.select(
            "vec_id", "embedding"
        ).localCheckpoint(eager=False)
        try:
            old = (
                read_committed(spark, vec_dir, keys=["vec_id", "batch"])
                .select("vec_id", "embedding")
                .join(batch_vecs.select("vec_id"), "vec_id", "left_anti")
            )
            everyone = old.unionByName(batch_vecs)
        except FileNotFoundError:
            everyone = batch_vecs
        affected = (
            batch_vecs.select(
                lsh_bucket("embedding", n_planes=n_planes).alias(
                    "bucket"
                )
            )
            .distinct()
        )
        members = (
            everyone.withColumn(
                "bucket",
                lsh_bucket("embedding", n_planes=n_planes),
            )
            .join(F.broadcast(affected), "bucket")
            .select("vec_id", "embedding")
        )
        rebuilt = knn_graph(members, k=k, n_planes=n_planes)
        commit_append(rebuilt, graph_dir, version=float(batch_id))
        commit_append(
            batch_vecs.withColumn(
                "batch", F.lit(int(batch_id)).cast("long")
            ),
            vec_dir,
            version=float(batch_id),
        )
        if compact_every and (int(batch_id) + 1) % compact_every == 0:
            # fold settled commits (keep_last=1: the in-flight batch
            # may replay after a crash and must dedup against its own
            # original keys) and reclaim unreferenced staging debris.
            # Both are atomic wrt readers: compaction publishes ONE
            # replaces-manifest link, vacuum touches only dirs no
            # manifest references.
            compact_log(spark, graph_dir, keys=["src", "rank"])
            compact_log(spark, vec_dir, keys=["vec_id", "batch"])
            vacuum(graph_dir)
            vacuum(vec_dir)
            if retire_stale_after is not None:
                # lifecycle epilogue: age out superseded batch-side
                # graph silvers (see docstring).  Two EXPLICIT slot
                # prefixes — never the bare "knng_" that would also
                # match this channel's own knng_idx_* state dirs.
                retire_stale_silvers(
                    "knng_v", max_age_seconds=retire_stale_after
                )
                retire_stale_silvers(
                    "knng_union_", max_age_seconds=retire_stale_after
                )
        try:
            committed = read_committed(
                spark, graph_dir, keys=["src", "rank"]
            )
        except FileNotFoundError:
            return  # every commit so far carried zero edges
        committed.select(
            "src", "dst", "cos_sim", "rank"
        ).createOrReplaceTempView(sink_table)

    return (
        stream.writeStream.queryName(sink_table)
        .foreachBatch(run_batch)
        .option("checkpointLocation", scratch_dir("knng_idx_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
