"""Streaming channels (ST1/ST2/ST6/ST7/ST9).

The reference runs 8 asyncio channel loops over WebSockets
(app/services/websocket_manager.py:24-39 channel enum, :192-267 worker
loops, :199-209 frequency table).  The Spark re-expression is one
Structured Streaming query per channel:

    readStream -> event-time transforms -> writeStream(foreachBatch)

with processing-time triggers standing in for the per-channel
frequencies.  The reference has NO event-time semantics (messages are
wall-clock generated, ST6) — watermarked dedup and windowed aggregation
are added here because they are required for correctness at scale;
there are no reference semantics to violate.

Design rules:
- the streaming candle aggregation reuses the SAME aggregate exprs as
  the batch resample (sources.tables.candles_from_events), so
  batch/stream parity is structural, not coincidental (tested in
  tests/test_streaming.py);
- per-channel sequence numbers (ST7) are true cross-batch state:
  ``stateful.assign_sequence`` keeps the running counter in a GroupState
  via ``applyInPandasWithState``, mirroring the reference's WebSocket
  manager counters (:615-618); the order-book / microstructure channel
  (ST5) lives in ``orderbook.py``.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: reference channel -> emit period, matching the reference's
#: StreamConfig frequency table EXACTLY (websocket_manager.py:201-209,
#: values in ms; channel names from the StreamType enum :24-39); used
#: as processing-time trigger intervals.  A channel absent from the
#: reference's config table gets its documented 1000 ms fallback
#: (``configs.get(stream_type, StreamConfig(stream_type, 1000))``) —
#: that is where the engine-local ohlcv_candles channel sits.
CHANNEL_TRIGGERS = {
    "raw_ticks": "100 milliseconds",
    "ml_features": "1 second",
    "trading_signals": "500 milliseconds",
    "pattern_alerts": "2 seconds",
    "technical_analysis": "1 second",
    "order_book": "200 milliseconds",
    "microstructure": "5 seconds",
    "economic_events": "10 seconds",
    # engine-local channel; reference default frequency (1000 ms)
    "ohlcv_candles": "1 second",
}


def read_table_stream(
    spark: SparkSession, sf_dir: str, table: str
) -> DataFrame:
    """File-source stream over one testdata table (one-file micro-batch
    in tests via availableNow).  The file streaming source requires a
    DIRECTORY; a symlink staging dir pointing at the single table file
    is made once per session, sf_dir and table (`session_memo`;
    testdata is read-only)."""
    from ..session import session_dir, session_memo
    from ..sources.tables import (
        parquet_schema,
        pin_portability_confs,
        table_path,
    )

    pin_portability_confs(spark)
    path = table_path(sf_dir, table)
    schema = parquet_schema(spark, path)

    def stage() -> str:
        staging = session_dir(spark, f"{table}_stream_")
        os.symlink(path, f"{staging}/{table}.parquet")
        return staging

    staging = session_memo(spark, ("stream_staging", sf_dir, table), stage)
    return spark.readStream.schema(schema).parquet(staging)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1 file-source channel: stream the events table as if it were
    arriving.  The timestamp handling is the same normalize_event_ts
    the batch loader uses, and the same UTC pin — a self-built non-UTC
    session must not get shifted instants in the streaming path only."""
    from ..sources.tables import normalize_event_ts

    return normalize_event_ts(read_table_stream(spark, sf_dir, "events"))


def candle_channel(
    events: DataFrame,
    bucket: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """ST9 tumbling-window OHLCV candles with ST6 late-data handling.

    withWatermark bounds state; dropDuplicatesWithinWatermark gives
    streaming D1 dedup on the event key (the batch path's keep-first
    row_number is not expressible incrementally).  The aggregate list is
    identical to the batch resample (repository.py:450-471 semantics:
    ordered first/last via min_by/max_by on the unique event_id).
    """
    deduped = events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return (
        deduped.groupBy(
            F.col("event_type").alias("symbol"),
            F.window("ts", bucket).alias("w"),
        )
        .agg(
            F.round(F.min_by("value", "event_id"), 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.max_by("value", "event_id"), 6).alias("close"),
            F.round(F.sum("value"), 6).alias("volume"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "symbol",
            F.col("w.start").alias("ts"),
            "open",
            "high",
            "low",
            "close",
            "volume",
            "n_events",
        )
    )


def session_channel(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """ST8 — gap-based SESSION windows on the event stream via Spark's
    native session_window: events closer than ``gap`` merge into one
    session, and a session closes only when the watermark passes its
    end (last event + gap), so late arrivals inside the gap still
    extend it.  State per key is one open session, bounded by the
    watermark.  The aggregate list mirrors the batch `session_windows`
    query exactly (count / min / max — order-insensitive), so the
    availableNow parity test can compare against the batch result."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.col("event_type").alias("symbol"),
            F.session_window("ts", gap),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
        )
        .select(
            "symbol",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "min_value",
            "max_value",
        )
    )


def start_session_channel(
    spark: SparkSession,
    sf_dir: str,
    sink_table: str = "sessions_stream_sink",
    gap: str = "30 minutes",
):
    """Wire the session channel end-to-end: events stream -> session
    windows -> in-memory sink, availableNow semantics (see
    start_candle_channel)."""
    sessions = session_channel(read_events_stream(spark, sf_dir), gap=gap)
    return (
        sessions.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink_table)
        .trigger(availableNow=True)
        .start()
    )


def simulated_ticks(spark: SparkSession, rows_per_second: int = 10) -> DataFrame:
    """ST6 — simulated tick source on Spark's rate stream, mirroring the
    reference's fallback tick generator (premium_data_provider.py:
    303-344): deterministic pseudo-random walk around a base price,
    5-symbol round-robin, bid/ask spread.  Everything derives from the
    rate source's (timestamp, value) so the stream is reproducible."""
    base = 1.08
    symbols = F.array(*[F.lit(s) for s in ("EURUSD", "GBPUSD", "USDJPY", "AUDUSD", "USDCAD")])
    noise = (F.hash(F.col("value")) % 1000).cast("double") / 1000000.0
    mid = F.lit(base) + noise
    spread = F.lit(0.0002)
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .select(
            F.col("timestamp").alias("ts"),
            F.element_at(symbols, (F.col("value") % 5 + 1).cast("int")).alias(
                "symbol"
            ),
            (mid - spread / 2).alias("bid"),
            (mid + spread / 2).alias("ask"),
            mid.alias("last"),
            F.col("value").alias("seq_hint"),
        )
    )


def wrap_stream_messages(df: DataFrame, stream_type: str) -> DataFrame:
    """ST7 message envelope: {stream_type, timestamp, sequence, data}
    (websocket_manager.py:79-87).  The per-batch sequence is assigned in
    the sink (foreachBatch) where a total order exists; here we attach
    the envelope columns that are computable statelessly."""
    payload = F.struct(*[F.col(c) for c in df.columns])
    return df.select(
        F.lit(stream_type).alias("stream_type"),
        F.current_timestamp().alias("emitted_at"),
        payload.alias("data"),
    )


def start_candle_channel(
    spark: SparkSession,
    sf_dir: str,
    sink_table: str = "candles_stream_sink",
    bucket: str = "1 hour",
):
    """Wire the full channel: events stream -> watermark dedup ->
    windowed candles -> in-memory sink (stand-in for the WebSocket
    broadcast, S13).  Returns the StreamingQuery; callers use
    ``availableNow`` semantics by awaiting termination in tests."""
    candles = candle_channel(read_events_stream(spark, sf_dir), bucket=bucket)
    return (
        candles.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink_table)
        .trigger(availableNow=True)
        .start()
    )


def start_pattern_alerts_channel(
    spark: SparkSession,
    sf_dir: str,
    sink: "BroadcastSink | None" = None,
    available_now: bool = True,
):
    """ST1 pattern_alerts channel — the reference's 2-second alert
    stream (websocket_manager.py:29 StreamType.PATTERN_ALERTS, :204
    trigger table, :450-473 message shape) wired end-to-end: events
    stream -> watermarked candle aggregation -> per-micro-batch pattern
    detection (streaming.features.pattern_alerts — the SAME transform
    the oracle-checked ``pattern_alerts_replay`` batch query runs) ->
    alert envelope -> broadcast sink.

    The lag-window pattern predicates need per-symbol candle history,
    which has no incremental append-mode rendering — so like the
    ml_features channel, the detector runs inside ``foreachBatch`` over
    each micro-batch's candles (the analog of the reference's per-emit
    recompute over its trailing buffer).  Alerts per batch are
    O(detected patterns), well inside the BroadcastSink's
    O(symbols x channels) contract.

    ``available_now=True`` (tests/replays) drains the file source in
    one pass; production passes False to run on the channel's 2 s
    processing-time trigger (CHANNEL_TRIGGERS['pattern_alerts']).
    Returns (query, sink)."""
    from .features import pattern_alerts

    out_sink = sink if sink is not None else BroadcastSink()
    candles = candle_channel(read_events_stream(spark, sf_dir))

    def emit(batch_df: DataFrame, batch_id: int) -> None:
        alerts = pattern_alerts(batch_df)
        out_sink(wrap_stream_messages(alerts, "pattern_alerts"), batch_id)

    writer = candles.writeStream.outputMode("append").foreachBatch(emit)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(
            processingTime=CHANNEL_TRIGGERS["pattern_alerts"]
        )
    return writer.start(), out_sink


class BroadcastSink:
    """S13 — WebSocket broadcast sink stand-in: JSON-encode each
    envelope message and append to a bounded per-channel ring buffer
    (websocket_manager.py:565-597 broadcast, :249-252 per-channel
    1000-message deque).  Used with ``writeStream.foreachBatch``; the
    real deployment swaps the deque for the WS/Kafka producer — the
    engine-side contract (ordered JSON messages per channel) is
    identical.

    Driver-side state is intentional here: the sink IS the serving
    layer's edge, the one place the reference also centralizes state.
    """

    def __init__(self, buffer_size: int = 1000, max_batch_rows: int = 10_000):
        from collections import defaultdict, deque

        self.buffers = defaultdict(lambda: deque(maxlen=buffer_size))
        self.max_batch_rows = max_batch_rows

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        # one JVM->driver transfer of the already-aggregated messages;
        # channel fan-out is a tiny per-batch loop over result rows.
        # SCALE CONTRACT (enforced below): batch_df is the
        # post-aggregation channel message set — O(symbols × channels)
        # rows per trigger (tens, not millions), NOT raw ticks.  This
        # sink edge mirrors the reference's WebSocket broadcast loop;
        # collect() here is safe only while that invariant holds —
        # never point this sink at a pre-aggregation stream.
        guarded = batch_df.limit(self.max_batch_rows + 1)
        rows = (
            guarded.select(
                F.col("stream_type"),
                F.to_json(F.struct(*batch_df.columns)).alias("msg"),
            )
        ).collect()
        if len(rows) > self.max_batch_rows:
            # the limit(N+1) above bounds the driver transfer even in
            # the failure case — we detect the breach from N+1 rows
            # without ever materializing the full offending batch.
            raise ValueError(
                f"BroadcastSink batch {batch_id} exceeded the "
                f"O(symbols x channels) contract (> "
                f"{self.max_batch_rows} rows): this sink must only "
                "receive post-aggregation channel messages, not a "
                "pre-aggregation stream."
            )
        for r in rows:
            self.buffers[r["stream_type"]].append(r["msg"])


def failover_tick_source(
    spark: SparkSession,
    primary_dir: str | None = None,
    schema: str = "ts timestamp, symbol string, bid double, ask double, "
    "last double, seq_hint long",
    rows_per_second: int = 10,
) -> tuple[DataFrame, str]:
    """S6 — tick source with failover (premium_data_provider.py:113-145):
    try the primary provider feed (a landed file/Kafka directory); on
    validation failure fall back to the simulated generator (:303-344).

    Source selection is a driver-side decision made once at query start
    — exactly where the reference makes it — so the streaming plan
    itself stays static.  Returns (stream, source_name).
    """
    if primary_dir and os.path.isdir(primary_dir):
        try:
            files = [f for f in os.listdir(primary_dir) if f.endswith(".parquet")]
            if files:
                stream = (
                    spark.readStream.schema(schema).parquet(primary_dir)
                )
                # quality gate: the primary must expose the tick columns
                need = {"ts", "symbol", "bid", "ask"}
                if need <= set(stream.columns):
                    return stream, "primary"
        except Exception as ex:  # failover IS the success path here, but
            # never silently: the reference logs provider failures
            # (premium_data_provider.py failover logging)
            logging.getLogger(__name__).warning(
                "primary tick source %s unusable (%s); falling back to "
                "simulated feed",
                primary_dir,
                ex,
            )
    return simulated_ticks(spark, rows_per_second), "simulated_fallback"


#: reference macro-event rotation (websocket_manager.py economic_events
#: channel): deterministic name/impact cycling for the simulated feed.
ECONOMIC_EVENTS = (
    ("NFP", "high"),
    ("CPI", "high"),
    ("FOMC", "high"),
    ("GDP", "medium"),
    ("PMI", "medium"),
    ("Retail Sales", "low"),
)


def economic_events_channel(
    spark: SparkSession, rows_per_second: int = 1
) -> DataFrame:
    """ST1 economic_events channel — periodic macro-event messages at
    the slowest trigger (10 s table entry).  Fully derived from the
    rate source: event name/impact rotate deterministically, the
    affected currency follows the 5-symbol round-robin, and the
    forecast/actual values are hash-derived so tests are reproducible
    with no network."""
    names = F.array(*[F.lit(n) for n, _ in ECONOMIC_EVENTS])
    impacts = F.array(*[F.lit(i) for _, i in ECONOMIC_EVENTS])
    currencies = F.array(
        *[F.lit(c) for c in ("USD", "EUR", "JPY", "GBP", "AUD")]
    )
    idx = (F.col("value") % len(ECONOMIC_EVENTS) + 1).cast("int")
    forecast = (F.pmod(F.hash("value"), F.lit(1000))).cast("double") / 10.0
    surprise = (F.pmod(F.hash(F.col("value") * 7), F.lit(200)) - 100).cast(
        "double"
    ) / 100.0
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .select(
            F.col("timestamp").alias("ts"),
            F.element_at(names, idx).alias("event_name"),
            F.element_at(impacts, idx).alias("impact"),
            F.element_at(
                currencies, (F.col("value") % 5 + 1).cast("int")
            ).alias("currency"),
            forecast.alias("forecast"),
            (forecast * (1.0 + surprise * 0.1)).alias("actual"),
            surprise.alias("surprise_score"),
        )
    )


def watermark_drop_report(query) -> list[dict]:
    """Beyond-lateness observability for the stateful channels: the
    per-micro-batch count of input rows the runtime dropped for being
    older than the event-time watermark, read from the query's own
    progress history (``numRowsDroppedByWatermark``).

    The reorder-tier funnel channel's docs point HERE: under an
    event-time timeout the stateful operator drops late rows BEFORE
    the kernel runs, so no user-space counter can ever see them — the
    engine metric is the only truthful record, and silently losing
    beyond-lateness events is exactly the failure mode an operator
    needs an alarm on.  Driver-side metadata only (O(#batches)
    progress objects, retention-bounded by Spark); returns one dict
    per micro-batch: {batch_id, rows_dropped, input_rows}."""
    out = []
    for p in query.recentProgress:
        dropped = sum(
            int(op.get("numRowsDroppedByWatermark", 0) or 0)
            for op in (p.get("stateOperators") or [])
        )
        out.append(
            {
                "batch_id": int(p["batchId"]),
                "rows_dropped": dropped,
                "input_rows": int(p.get("numInputRows", 0) or 0),
            }
        )
    return out


def channel_stats(spark, queries=None) -> "DataFrame":
    """Fleet-wide streaming health as ONE queryable DataFrame — the
    reference's `/ws/stats` aggregation (`app/api/websocket_routes.py:
    210-234` keeps per-channel counters across the connection fleet)
    re-expressed over Structured Streaming's own progress metrics:
    one row per channel with batches, input rows, state-store rows,
    the current event-time watermark, and beyond-lateness drops.

    ``queries``: explicit list of StreamingQuery handles (terminated
    handles keep their progress history, so an ``availableNow`` replay
    can be inspected after it drains); default = every active query
    on the session (``spark.streams.active``).

    Driver-side metadata only — O(#queries x #batches) progress
    objects, retention-bounded by Spark's progress buffer (default
    100 batches per query), never a data-sized structure.  Columns:
    (channel, n_batches, input_rows, state_rows, watermark,
    rows_dropped, is_active); ``watermark`` is NULL for channels
    without an event-time watermark (the ordered fast paths),
    ``state_rows`` is 0 for stateless foreachBatch channels."""
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    if queries is None:
        queries = list(spark.streams.active)
    schema = StructType(
        [
            StructField("channel", StringType()),
            StructField("n_batches", LongType()),
            StructField("input_rows", LongType()),
            StructField("state_rows", LongType()),
            StructField("watermark", TimestampType()),
            StructField("rows_dropped", LongType()),
            StructField("is_active", BooleanType()),
        ]
    )
    rows = []
    for q in queries:
        progs = list(q.recentProgress)
        batches = {int(p["batchId"]) for p in progs}
        input_rows = sum(int(p.get("numInputRows", 0) or 0) for p in progs)
        dropped = sum(
            int(op.get("numRowsDroppedByWatermark", 0) or 0)
            for p in progs
            for op in (p.get("stateOperators") or [])
        )
        state_rows = 0
        wm = None
        if progs:
            last = progs[-1]
            state_rows = sum(
                int(op.get("numRowsTotal", 0) or 0)
                for op in (last.get("stateOperators") or [])
            )
            wm_s = (last.get("eventTime") or {}).get("watermark")
            # Spark reports the epoch zero point while no watermark
            # has been computed yet — surface that as NULL, the same
            # reading as a channel with no watermark at all
            if wm_s and not wm_s.startswith("1970-01-01T00:00:00"):
                import datetime

                # the progress string is UTC ('...Z'): attach the
                # timezone explicitly, or createDataFrame would read a
                # naive datetime in the session timeZone and shift the
                # reported watermark on any non-UTC session
                # (review-found)
                wm = datetime.datetime.strptime(
                    wm_s, "%Y-%m-%dT%H:%M:%S.%fZ"
                ).replace(tzinfo=datetime.timezone.utc)
        rows.append(
            (
                q.name or str(q.id),
                len(batches),
                input_rows,
                state_rows,
                wm,
                dropped,
                bool(q.isActive),
            )
        )
    return spark.createDataFrame(rows, schema)


# Delta-log channel mechanisms: merge channel, accumulating index and
# maintained layout (the foreachBatch + idempotent-sink model of
# Structured Streaming).  Each micro-batch commits to a transactional
# log (`sources/sinks.py:commit_append`) at ``version=batch_id``, so a
# replay rewrites the same key identities and keep-latest absorbs it.


def _start_channel_query(
    spark, sf_dir: str, table: str, stream, name: str, ckpt_prefix: str,
    run_batch,
):
    """The query-start policy of every delta-log channel: ``stream``
    (default: ``table`` read as a file stream) runs ``run_batch`` per
    micro-batch in a query named ``name`` (what `channel_stats`
    reports), checkpointed into a fresh ``ckpt_prefix`` scratch
    directory, draining the source with ``availableNow``."""
    from ..sources.scratch import scratch_dir

    if stream is None:
        stream = read_table_stream(spark, sf_dir, table)
    return (
        stream.writeStream.queryName(name)
        .foreachBatch(run_batch)
        .option("checkpointLocation", scratch_dir(ckpt_prefix))
        .trigger(availableNow=True)
        .start()
    )


def _with_batch(df: DataFrame, batch_id) -> DataFrame:
    return df.withColumn("batch", F.lit(int(batch_id)).cast("long"))


def _due(batch_id, every: int | None) -> bool:
    """Is micro-batch ``batch_id`` the last of a run of ``every``?"""
    return bool(every) and (int(batch_id) + 1) % every == 0


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
    """The merge channel: per micro-batch ``batch_id``,

    1. delta: ``delta_fn(batch_df)`` builds the batch's OWN bounded
       partial state (a sketch, counters, a top-k, per-key minima,
       funnel transitions);
    2. commit: the delta, tagged with a ``batch`` column, lands in the
       log at ``sink_dir`` — executor-side files plus one atomic
       manifest, so the driver holds O(1) state;
    3. merge view: ``read_committed(keys)`` keeps the latest row per
       key over the whole log and ``view_fn`` folds it by the
       channel's merge law into the lazy view ``sink_table``.

    Until the first non-empty commit the view is the empty frame
    ``empty_schema``.  The query is named ``sink_table``; ``sink_dir``
    defaults to a fresh ``slot_prefix`` slot, the checkpoint prefix is
    ``slot_prefix + "ckpt_"``."""
    from ..sources.scratch import scratch_dir
    from ..sources.sinks import commit_append, read_committed

    if sink_dir is None:
        sink_dir = scratch_dir(slot_prefix)
    spark.createDataFrame([], empty_schema).createOrReplaceTempView(sink_table)

    def run_batch(batch_df, batch_id):
        delta = _with_batch(delta_fn(batch_df), batch_id)
        commit_append(delta, sink_dir, version=float(batch_id))
        try:
            committed = read_committed(spark, sink_dir, keys=keys)
        except FileNotFoundError:
            return  # every commit so far was empty: keep the empty view
        view_fn(committed).createOrReplaceTempView(sink_table)

    return _start_channel_query(
        spark, sf_dir, table, stream, sink_table, slot_prefix + "ckpt_",
        run_batch,
    )


def _start_index_channel(
    spark,
    sf_dir: str,
    table: str,
    sink_table: str,
    stream,
    *,
    item_dir: str,
    out_dir: str,
    ckpt_prefix: str,
    item_id: str,
    item_fn,
    out_fn,
    out_keys: list[str],
    empty_schema: str,
    view_fn,
    maintain_fn=None,
    maintain_every: int | None = None,
):
    """The accumulating index: a channel whose output for each
    micro-batch depends on every EARLIER batch's items.  Per
    micro-batch ``batch_id``:

    1. items: ``item_fn(batch_df)`` (keyed by ``item_id``), checkpointed
       so the steps below read it once;
    2. index: the committed items of ``item_dir`` minus this batch's
       own ids;
    3. output: ``out_fn(items, indexed)``, where ``indexed`` is the
       index rows (``__new`` false) plus this batch's items (``__new``
       true);
    4. commit the output to ``out_dir``, THEN the items (tagged with
       ``batch``) to ``item_dir``;
    5. every ``maintain_every`` batches, ``maintain_fn()``;
    6. publish ``view_fn`` over the output log, read keep-latest on
       ``out_keys``, as the view ``sink_table`` (until the first
       non-empty output commit: ``view_fn`` of the empty frame
       ``empty_schema``).

    Replay contract (two logs): a replayed batch may find its items
    already indexed (crash between the commits, or a restart).  The
    anti-join of step 2 keeps them out of the old side, so they cannot
    meet themselves across the old/new split; the replay recomputes the
    identical output and both logs dedup on their keys.  The query is
    named ``sink_table``."""
    from ..sources.sinks import commit_append, read_committed

    view_fn(spark.createDataFrame([], empty_schema)).createOrReplaceTempView(
        sink_table
    )

    def run_batch(batch_df, batch_id):
        items = item_fn(batch_df).localCheckpoint(eager=False)
        indexed = items.withColumn("__new", F.lit(True))
        try:
            old = (
                read_committed(spark, item_dir, keys=[item_id, "batch"])
                .drop("batch")
                .join(items.select(item_id), item_id, "left_anti")
            )
            indexed = old.withColumn("__new", F.lit(False)).unionByName(
                indexed
            )
        except FileNotFoundError:
            pass  # first batch: the index is empty
        commit_append(
            out_fn(items, indexed), out_dir, version=float(batch_id)
        )
        commit_append(
            _with_batch(items, batch_id), item_dir, version=float(batch_id)
        )
        if maintain_fn is not None and _due(batch_id, maintain_every):
            maintain_fn()
        try:
            committed = read_committed(spark, out_dir, keys=out_keys)
        except FileNotFoundError:
            return  # every output commit so far was empty
        view_fn(committed).createOrReplaceTempView(sink_table)

    return _start_channel_query(
        spark, sf_dir, table, stream, sink_table, ckpt_prefix, run_batch
    )


def _published_marker(loc: str, batch_id) -> str:
    """Path of the marker saying the layout at ``loc`` holds
    micro-batch ``batch_id``."""
    return os.path.join(loc, "_published", f"batch-{int(batch_id)}")


def _mark_published(loc: str, batch_ids) -> None:
    for b in batch_ids:  # O(#batches) empty stamps, never data-sized
        marker = _published_marker(loc, b)
        os.makedirs(os.path.dirname(marker), exist_ok=True)
        open(marker, "w").close()


def _maintained_layout_batch(
    sink_dir, loc, rows_fn, append_fn, rebuild_fn,
    maintain_fn=None, maintain_every: int | None = None,
):
    """The maintained-layout micro-batch: a serving layout at ``loc``
    (cell-partitioned IVF silver, bucketed or day-partitioned events)
    kept beside the log at ``sink_dir``, which is the source of truth.
    Per micro-batch ``batch_id``, ``rows_fn(batch_df)`` is committed to
    the log (keyed by the caller's id and ``batch``) and the same rows
    are passed to ``append_fn``, which appends them to the layout; a
    ``_published`` marker then stamps the batch.

    Replay: detection runs BEFORE the commit.  Marker present means a
    clean replay — the log dedups it and the layout has it, so nothing
    more runs.  Batch id in the log but no marker means a prior attempt
    crashed between the append and the marker; the layout holds zero or
    one copies of the batch, so ``rebuild_fn()`` re-derives it from the
    log (which writes every marker).

    ``maintain_fn`` (every ``maintain_every`` batches): small-files
    maintenance after a clean publish, inside foreachBatch where the
    channel's writes are serialized (the compactors' single-writer
    contract); never on a replay, whose rebuild already rewrote the
    layout compactly.  Returns the foreachBatch function."""
    from ..sources.sinks import commit_append, log_has_version

    def run_batch(batch_df, batch_id):
        replayed = log_has_version(sink_dir, float(batch_id))
        rows = rows_fn(batch_df)
        commit_append(
            _with_batch(rows, batch_id), sink_dir, version=float(batch_id)
        )
        if os.path.exists(_published_marker(loc, batch_id)):
            return
        if replayed:
            rebuild_fn()
            return
        append_fn(rows)
        _mark_published(loc, [batch_id])
        if maintain_fn is not None and _due(batch_id, maintain_every):
            maintain_fn()

    return run_batch


def _rebuild_layout(spark, sink_dir: str, loc: str, key: str, build_fn):
    """Re-derive the serving layout at ``loc`` from its log — the
    recovery path of `_maintained_layout_batch` (index-from-WAL).
    Committed (``key``, batch) rows dedup idempotently, so the rebuild
    is exact under any crash interleaving.  `sinks.repair` runs first,
    so what a killed rebuild left is resolved: its replacement sibling
    swept, a layout hidden by its swap restored.  ``build_fn(data,
    tmp_loc)`` then builds the replacement completely in a
    `sinks.replacement` sibling, which gets a marker per published
    batch (ids from the O(#commits) manifest metadata, never a
    data-sized distinct over the committed rows) and goes live by
    `sinks.swap_aside`.  A failed build or swap leaves the live layout
    readable and removes the sibling.  Returns the rebuilt data
    frame."""
    from ..sources.sinks import (
        log_versions,
        read_committed,
        repair,
        replacement,
        swap_aside,
    )

    repair(loc)
    data = read_committed(spark, sink_dir, keys=[key, "batch"]).drop("batch")
    with replacement(loc) as tmp_loc:
        build_fn(data, tmp_loc)
        _mark_published(tmp_loc, log_versions(sink_dir))
        swap_aside(tmp_loc, loc)
    return data
