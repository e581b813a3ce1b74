"""Streaming faces of the event-analytics queries (`plans/olap_q.py`).

The cohort and WAU faces run on the delta-log channel mechanism
`corpus_stream.py:_start_merge_channel`, which states the delta ->
commit -> merge-view contract once; each face here supplies only its
delta and its merge law.

The cohort face's merge law is **MIN**: a user's first-event timestamp
over a union of batches is the min of per-batch minima — so per-user
firsts stay exact under any batch split, arrival order, or replay,
and the weekly cohort sizes derived from them equal the batch answer
(`cohort_retention`'s `sizes` frame) at every instant.
"""

from __future__ import annotations

from .corpus_stream import _start_merge_channel


def start_cohort_channel(
    spark,
    sf_dir: str,
    sink_table: str = "cohort_sink",
    sink_dir: str | None = None,
    stream=None,
):
    """Continuously maintained weekly signup-cohort sizes over an
    events stream: each batch commits its per-user min event timestamp
    keyed (user_id, batch); the view folds the log by per-user MIN,
    truncates to ISO week, and counts users per cohort —
    `plans/olap_q.py:cohort_retention`'s cohort dimension, kept fresh
    without rescanning history (parity across real micro-batches:
    tests/test_streaming.py).  The view's aggregation is users-keyed
    and the cohort readout calendar-bounded."""
    from pyspark.sql import functions as F

    def view_fn(committed):
        return (
            committed.groupBy("user_id")
            .agg(F.min("first_ts").alias("first_ts"))  # the MIN merge law
            .select(F.date_trunc("week", F.col("first_ts")).alias("cohort"))
            .groupBy("cohort")
            .agg(F.count(F.lit(1)).alias("n_cohort"))
        )

    return _start_merge_channel(
        spark, sf_dir, "events", sink_table, sink_dir, stream,
        slot_prefix="cohort_",
        empty_schema="cohort timestamp, n_cohort long",
        keys=["user_id", "batch"],
        delta_fn=lambda b: b.groupBy("user_id").agg(
            F.min("ts").alias("first_ts")
        ),
        view_fn=view_fn,
    )


#: event_type of the self-injected watermark-flush sentinels — never a
#: funnel stage, so the state machine ignores the rows entirely
FLUSH_EVENT_TYPE = "__funnel_flush__"


def append_flush_sentinels(
    spark, source_dir: str, lateness: str
) -> None:
    """Write two one-row sentinel parquet files into a funnel channel's
    OWN file-source directory so an ``availableNow`` replay flushes its
    reorder buffer without external ``wm_pusher`` rows (round-10
    ADVICE/Next #4): sentinel 1 (ts = max(ts) + 2·lateness) lifts the
    event-time watermark past every buffered event; sentinel 2 (+3·
    lateness), arriving one micro-batch later (mtime-ordered,
    maxFilesPerTrigger=1), is the batch in which the armed event-time
    timeouts actually fire and drain the buffers.  Two sentinels are
    required by Structured Streaming's design: the watermark used in
    batch N is computed from batch N-1, and timers fire only while a
    batch runs.  Sentinel rows carry ``FLUSH_EVENT_TYPE`` (not a
    stage), so they release nothing and count no violations."""
    import glob
    import os
    import shutil
    import time as _time

    from pyspark.sql import functions as F

    batch = spark.read.parquet(source_dir)
    mx = batch.agg(F.max("ts").alias("m")).collect()[0]["m"]
    if mx is None:
        return
    horizon = (
        spark.createDataFrame([(mx,)], "m timestamp")
        .select(
            F.expr(f"m + (INTERVAL {lateness}) * 2").alias("t1"),
            F.expr(f"m + (INTERVAL {lateness}) * 3").alias("t2"),
        )
        .collect()[0]
    )
    # sentinels must sort AFTER every real file in the source's
    # modification-time order
    base = max(
        [os.path.getmtime(p) for p in glob.glob(f"{source_dir}/*")]
        + [_time.time()]
    )
    for i, t in enumerate((horizon["t1"], horizon["t2"])):
        vals = tuple(
            t
            if f.name == "ts"
            else -1
            if f.name in ("user_id", "event_id")
            else FLUSH_EVENT_TYPE
            if f.name == "event_type"
            else None
            for f in batch.schema.fields
        )
        tmp = os.path.join(source_dir, f"_flush_build_{i}")
        spark.createDataFrame([vals], batch.schema).coalesce(
            1
        ).write.parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        dst = os.path.join(source_dir, f"zz-flush-{i}.parquet")
        shutil.copy(part, dst)
        shutil.rmtree(tmp)
        os.utime(dst, (base + 60 * (i + 1),) * 2)


def start_funnel_channel(
    spark,
    sf_dir: str,
    stages: tuple[str, ...] = ("signup", "view", "click", "purchase"),
    sink_table: str = "funnel_sink",
    sink_dir: str | None = None,
    stream=None,
    source_dir: str | None = None,
    final_flush: bool = False,
    lateness: str | None = "1 day",
    ordered: bool = False,
):
    """Continuously maintained STRICT sequential funnel
    (`plans/olap_q.py:funnel_conversion`) via a per-user state machine
    in ``applyInPandasWithState`` — the ST7 pattern (stateful.py)
    applied to multi-stage progression state instead of a counter.

    Per user the GroupState holds one epoch-micros timestamp per
    stage (the first qualifying hit).  Each micro-batch replays the
    user's new events in event-time order through the machine: stage
    i fires on the first event of its type strictly after stage i-1's
    recorded hit.  Newly reached stages are EMITTED as (user_id,
    stage_ord, reached_ts) rows — monotone inserts (a stage fires at
    most once per user across the whole stream), committed per batch
    through the delta log keyed (user_id, stage_ord, batch) so crashed
    replays dedup; the live view is the per-stage distinct-user count,
    i.e. funnel_conversion's n_users column kept fresh.

    Ordering (two tiers; since round 10 the SAFE tier is the default —
    the fast path requires an explicit ``ordered=True`` opt-in, so an
    operator who never read this docstring gets disorder-corrected
    counts, not a silent ordering contract):

    - ``ordered=True`` (fast path, opt-in, for sources that GUARANTEE
      per-user event-time order — file replays of sorted data,
      watermark-sorted ingest): events are replayed through the
      machine as they arrive.  Stage decisions are final, so per-user
      events must arrive in event-time order ACROSS micro-batches; a
      violation (an event older than the user's max already-replayed
      event time) can no longer pass silently — it is counted in the
      per-user GroupState and emitted as a ``stage_ord = -1`` delta
      row, surfaced in the ``<sink_table>_violations`` view, so a
      disordered source shows up as a nonzero counter instead of a
      silent undercount.  (``lateness`` is ignored on this tier.)
    - ``lateness="1 day"`` (reorder tier, the DEFAULT):
      the stream gets an event-time watermark and the machine BUFFERS
      each user's events in state, releasing them in event-time order
      only once the watermark has passed them — so any disorder within
      the lateness bound is corrected before a stage decision is made
      (parity with the batch funnel proven on an out-of-order fixture
      in tests/test_streaming.py).  Buffered users flush via
      event-time timeouts as the watermark advances, with no new data
      needed for that user.  Events arriving more than ``lateness``
      behind the watermark never reach the state machine: the
      stateful operator drops rows older than the LATE-EVENTS
      watermark before invoking the kernel (standard Structured
      Streaming semantics under an event-time timeout), and the drop
      count is observable through Spark's
      ``numRowsDroppedByWatermark`` metric — surfaced by
      `channels.watermark_drop_report`, proven by a straggler fixture
      in tests/test_streaming.py.  One measured nuance (Spark's
      design): the late-events fence is the PREVIOUS micro-batch's
      watermark, so a straggler landing in the very next batch after
      the watermark advanced is still admitted — the kernel's
      release() violation fence is the defense in depth that counts
      exactly those.  The ``<sink_table>_violations`` view is the
      FAST PATH's (and that one-batch window's) observability
      mechanism.

    Drain semantics (round-9 ADVICE — read this before an
    ``availableNow`` replay): on the reorder tier, events buffered
    within the final ``lateness`` window of the stream's maximum event
    time never flush once the stream drains, because the watermark
    only advances on NEW data and the event-time timeout (armed at
    watermark+1) never fires without it.  The live funnel view
    therefore UNDERCOUNTS that tail until more watermark-advancing
    data arrives — permanent for a one-shot ``availableNow`` run,
    transient (bounded by ``lateness``) for a continuous stream.  A
    replay that must account every event has two options: append a
    watermark-pusher batch whose event time exceeds max(ts) +
    lateness (the ``wm_pusher`` pattern — any dummy user works, the
    timeout flush needs no per-user data), or opt into
    ``ordered=True`` when the source is already sorted.  This is
    Structured Streaming's design, not a removable limitation: state
    can only be released by watermark movement, and the watermark is
    data-driven.  Since round 11 the pusher pattern is BUILT IN: pass
    ``final_flush=True`` (with ``source_dir``, or letting the channel
    stage its own default source) and the channel appends its own
    flush-sentinel files before starting — see
    ``append_flush_sentinels`` — so an ``availableNow`` replay
    accounts every event with no caller-side pusher rows.

    State is #stages longs per user plus, in the reorder tier, the
    within-lateness buffer (bounded by the user's event rate x
    lateness) — partitioned across executors by user_id."""
    from typing import Any, Iterator

    import pandas as pd

    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from ..sources.scratch import scratch_dir
    from ..sources.sinks import commit_append, read_committed
    from .channels import read_table_stream

    if ordered:
        lateness = None  # fast path: no watermark, no reorder buffer
    elif lateness is None:
        # the unsafe-under-disorder mode must be an explicit opt-in,
        # never something a caller reaches by passing "no lateness"
        raise ValueError(
            "lateness=None selects the ordered fast path — pass "
            "ordered=True explicitly (the source must guarantee "
            "per-user event-time order), or keep a lateness bound"
        )
    if sink_dir is None:
        sink_dir = scratch_dir("funnel_")
    if final_flush and stream is not None:
        raise ValueError(
            "final_flush requires the channel to OWN its file source "
            "(it appends flush-sentinel files) — pass source_dir, or "
            "neither stream nor source_dir, instead of a prebuilt "
            "stream"
        )
    if stream is None:
        if source_dir is None and final_flush:
            # private staging: the shared read_table_stream dir is
            # cached across queries on the session and must not grow
            # this channel's flush sentinels
            import os as _os

            source_dir = scratch_dir("funnel_src_")
            _os.symlink(
                f"{sf_dir}/events.parquet",
                f"{source_dir}/events.parquet",
            )
        if source_dir is not None:
            src_schema = spark.read.parquet(source_dir).schema
            if final_flush and not ordered:
                append_flush_sentinels(spark, source_dir, lateness)
            # one file per trigger keeps the sentinels in their own,
            # strictly later micro-batches (and preserves a staged
            # fixture's intended batch structure)
            stream = (
                spark.readStream.schema(src_schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(source_dir)
            )
        else:
            stream = read_table_stream(spark, sf_dir, "events")
    if lateness is not None:
        stream = stream.withWatermark("ts", lateness)
    spark.createDataFrame(
        [], "stage_ord int, stage string, n_users long"
    ).createOrReplaceTempView(sink_table)
    spark.createDataFrame(
        [], "user_id long, n_late long"
    ).createOrReplaceTempView(f"{sink_table}_violations")

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("stage_ord", IntegerType()),
            StructField("reached_us", LongType()),
        ]
    )
    # per-stage first-hit micros, then: max released event time (the
    # violation fence), the within-lateness reorder buffer (ts + stage
    # ord, parallel arrays — empty on the fast path), and the running
    # late-event count whose DELTAS are emitted as stage_ord = -1 rows
    state_schema = StructType(
        [StructField(f"t{i}", LongType()) for i in range(len(stages))]
        + [
            StructField("max_us", LongType()),
            StructField("buf_ts", ArrayType(LongType())),
            StructField("buf_st", ArrayType(IntegerType())),
            StructField("n_late", LongType()),
        ]
    )
    n_stages = len(stages)
    stage_of = {s: i for i, s in enumerate(stages)}
    reorder = lateness is not None

    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            st = state.get
            reached = list(st[:n_stages])
            max_us = st[n_stages]
            buf = list(zip(st[n_stages + 1] or [], st[n_stages + 2] or []))
            n_late = st[n_stages + 3]
        else:
            reached = [None] * n_stages
            max_us, buf, n_late = None, [], 0
        new_rows = []
        late_before = n_late

        def release(us: int, i: int) -> None:
            # one event through the strict machine; also the violation
            # fence: an event older than something already released
            # means the source broke the ordering contract.  In the
            # reorder tier the runtime's watermark filter removes
            # beyond-lateness rows before fn sees them EXCEPT inside
            # Spark's one-batch late-events lag (the fence is the
            # PREVIOUS batch's watermark — measured, see the channel
            # docstring), so this branch is the live counter for
            # exactly that window, not dead defense
            nonlocal max_us, n_late
            if max_us is not None and us < max_us:
                n_late += 1
            else:
                max_us = us
            if reached[i] is not None:
                return
            prev = reached[i - 1] if i > 0 else None
            if i == 0 or (prev is not None and us > prev):
                reached[i] = us
                new_rows.append((int(key[0]), i, us))

        # CONCATENATE the group's chunks before sorting: the runtime
        # delivers one group's micro-batch rows as an iterator of
        # Arrow-sized chunks in shuffle order, so sorting per chunk
        # would replay events out of event-time order whenever a user
        # spans chunks (review-found; stage decisions are final, so
        # order errors are permanent)
        chunks = (
            []
            if state.hasTimedOut
            else [pdf for pdf in pdfs if len(pdf)]
        )
        incoming = []
        if chunks:
            merged = (
                pd.concat(chunks, ignore_index=True)
                if len(chunks) > 1
                else chunks[0]
            ).sort_values("ts", kind="mergesort")
            for etype, ts in zip(merged["event_type"], merged["ts"]):
                i = stage_of.get(etype)
                if i is None:
                    continue
                incoming.append((int(pd.Timestamp(ts).value // 1000), i))
        if not reorder:
            for us, i in incoming:
                release(us, i)
        else:
            # hold events until the watermark passes them, then replay
            # in event-time order — disorder within the lateness bound
            # is corrected before any (final) stage decision is made
            wm_us = state.getCurrentWatermarkMs() * 1000
            buf = sorted(buf + incoming)
            n_ready = 0
            for us, _ in buf:
                if us > wm_us:
                    break
                n_ready += 1
            for us, i in buf[:n_ready]:
                release(us, i)
            buf = buf[n_ready:]
            if buf:
                # re-fire this group as soon as the watermark advances,
                # with no new data needed for this user
                state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
        if n_late > late_before:
            new_rows.append((int(key[0]), -1, n_late - late_before))
        state.update(
            tuple(reached)
            + (
                max_us,
                [us for us, _ in buf],
                [i for _, i in buf],
                n_late,
            )
        )
        if new_rows:
            yield pd.DataFrame(
                new_rows, columns=["user_id", "stage_ord", "reached_us"]
            )

    transitions = stream.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if reorder
            else GroupStateTimeout.NoTimeout
        ),
    )

    def run_batch(batch_df, batch_id):
        delta = batch_df.withColumn(
            "batch", F.lit(int(batch_id)).cast("long")
        )
        commit_append(delta, sink_dir, version=float(batch_id))
        try:
            committed = read_committed(
                spark, sink_dir, keys=["user_id", "stage_ord", "batch"]
            )
        except FileNotFoundError:
            return
        stage_names = F.array(*[F.lit(s) for s in stages])
        (
            committed.filter(F.col("stage_ord") >= 0)
            .groupBy("stage_ord")
            .agg(F.countDistinct("user_id").alias("n_users"))
            .select(
                # 1-based to match funnel_conversion's stage_ord
                (F.col("stage_ord") + 1).alias("stage_ord"),
                F.element_at(stage_names, F.col("stage_ord") + 1).alias(
                    "stage"
                ),
                "n_users",
            )
            .createOrReplaceTempView(sink_table)
        )
        # ordering-contract observability (round-8 ADVICE): stage_ord
        # = -1 rows carry per-batch late-event count deltas in the
        # reached_us slot; a disordered source shows up HERE instead
        # of as a silent undercount
        (
            committed.filter(F.col("stage_ord") == -1)
            .groupBy("user_id")
            .agg(F.sum("reached_us").alias("n_late"))
            .createOrReplaceTempView(f"{sink_table}_violations")
        )

    return (
        transitions.writeStream.queryName(sink_table)
        .foreachBatch(run_batch)
        .option("checkpointLocation", scratch_dir("funnel_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )


def start_wau_channel(
    spark,
    sf_dir: str,
    sink_table: str = "wau_sink",
    sink_dir: str | None = None,
    stream=None,
):
    """Streaming face of the rolling-WAU sketch (`plans/olap_q.py:
    rolling_wau_hll`): each batch commits its per-(day, bucket) HLL
    register deltas keyed (day, bucket, batch), and the view merges
    them by element-wise MAX — the global HLL channel's merge law,
    keyed by the calendar dimension so the 7-day window merge and the
    per-day estimate are deterministic folds of the view (oracle-proven
    in the registered batch query)."""
    from pyspark.sql import functions as F

    from ..llm.vocab import hll_keyed_rhos

    return _start_merge_channel(
        spark, sf_dir, "events", sink_table, sink_dir, stream,
        slot_prefix="wau_",
        empty_schema="day timestamp, bucket long, max_rho int",
        keys=["day", "bucket", "batch"],
        delta_fn=lambda b: hll_keyed_rhos(
            b.select(F.date_trunc("day", F.col("ts")).alias("day"), "user_id"),
            "user_id",
            ["day"],
        ),
        view_fn=lambda c: c.groupBy("day", "bucket").agg(
            F.max("max_rho").alias("max_rho")
        ),
    )


def rebuild_events_bucketed(
    spark, sink_dir: str, tbl: str, loc: str, n_buckets: int = 8
) -> str:
    """Re-derive the bucketed events serving table from the
    transactional commit log — the recovery path when a crash between
    a serving append and its marker leaves the layout holding zero OR
    one copies of a batch (index-from-WAL, the same move as
    `corpus_stream.rebuild_ivf_serving`).  The log is the source of
    truth: committed (event_id, batch) rows dedup idempotently, so the
    rebuild is exact under any crash interleaving."""
    import shutil
    import uuid

    from ..sources.layout import attach_bucketed_table, schema_ddl
    from ..sources.layout import write_bucketed_events
    from ..sources.sinks import read_committed

    committed = read_committed(spark, sink_dir, keys=["event_id", "batch"])
    data = committed.select(
        *[c for c in committed.columns if c != "batch"]
    )
    # build the replacement COMPLETELY (data + markers) in a sibling
    # location before touching the live layout: a crash mid-build
    # leaves the old table readable, and the destructive window
    # shrinks to the swap (review-found: the first version dropped the
    # table before building, so a build failure left NOTHING for
    # consumers to read)
    tmp_tbl = f"{tbl}_rebuild_{uuid.uuid4().hex}"
    tmp_loc = f"{loc}.rebuild-{uuid.uuid4().hex}"
    try:
        write_bucketed_events(
            spark, data, tmp_tbl, tmp_loc, n_buckets=n_buckets
        )
        spark.sql(f"DROP TABLE IF EXISTS {tmp_tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        _publish_rebuilt_layout(sink_dir, loc, tmp_loc)
    except BaseException:
        # a failed rebuild must not leak its uuid-named fact-sized tmp
        # copy: the scratch root has no vacuum, and each retry would
        # leak another full copy (review-found — same class as the
        # write_bucketed_events build-failure leak)
        shutil.rmtree(tmp_loc, ignore_errors=True)
        raise
    return attach_bucketed_table(
        spark, tbl, loc, schema_ddl(data), n_buckets=n_buckets
    )


def _publish_rebuilt_layout(sink_dir: str, loc: str, tmp_loc: str) -> None:
    """Marker re-derivation + rename-ASIDE swap, shared by both layout
    rebuilds (ONE copy of the crash-safety tail): published batch ids
    come from the O(#commits) manifest metadata, never a data-sized
    distinct over the committed rows; and the swap sets the live copy
    aside rather than rmtree-ing it — a crash between a destructive
    rmtree and the rename would leave NEITHER layout on disk and
    readers fail until another replay re-triggers the rebuild, while
    the aside copy keeps the window recoverable and is deleted only
    after the replacement rename succeeded (round-9 ADVICE)."""
    import os
    import shutil
    import uuid

    from ..sources.sinks import log_versions

    marker_dir = os.path.join(tmp_loc, "_published")
    os.makedirs(marker_dir, exist_ok=True)
    for v in log_versions(sink_dir):
        open(os.path.join(marker_dir, f"batch-{int(v)}"), "w").close()
    old_loc = f"{loc}.old-{uuid.uuid4().hex}"
    had_old = os.path.isdir(loc)
    if had_old:
        os.rename(loc, old_loc)
    try:
        os.rename(tmp_loc, loc)
    except BaseException:
        if had_old:
            os.rename(old_loc, loc)  # restore the live layout
        raise
    if had_old:
        shutil.rmtree(old_loc, ignore_errors=True)


def start_events_bucketed_channel(
    spark,
    sf_dir: str,
    tbl: str,
    loc: str | None = None,
    sink_dir: str | None = None,
    stream=None,
    n_buckets: int = 8,
    compact_every: int | None = None,
):
    """Streaming maintenance of the bucketed-by-user_id events silver
    layout (`sources/layout.py`): at 100 TB the layout that makes
    every funnel/cohort run exchange-free must absorb new events
    incrementally — a full bucketed rewrite per arrival is the
    scale-killer this channel removes.

    Each micro-batch lands in two places:

    - the transactional log (``commit_append`` keyed
      (event_id, batch)): atomic, idempotent under crash replays, the
      source of truth;
    - the bucketed serving table: an ``insertInto`` APPEND that the
      catalog's bucket spec routes into per-bucket files, so the
      maintained table KEEPS the zero-user-keyed-exchange contract
      (bucketed scans merge multiple files per bucket; plan-gated in
      tests).  A ``_published/batch-<id>`` marker makes clean replays
      skip already-published batches; a crash BETWEEN append and
      marker (batch in the log, marker missing) is detected on replay
      and recovered by `rebuild_events_bucketed` from the log.

    Parity contract (tests/test_streaming.py): after the stream
    drains, the maintained table equals the batch bucketed build of
    the same events row-for-row, and the funnel plan over it carries
    zero user-keyed Exchange nodes."""
    import os

    from ..sources.layout import write_bucketed_events
    from ..sources.scratch import scratch_dir
    from ..sources.tables import load_table
    from .channels import read_table_stream

    if sink_dir is None:
        sink_dir = scratch_dir("events_bucketed_log_")
    if loc is None:
        loc = os.path.join(scratch_dir("events_bucketed_serve_"), "tbl")
    if stream is None:
        stream = read_table_stream(spark, sf_dir, "events")
    schema = load_table(spark, sf_dir, "events").schema
    cols = [f.name for f in schema.fields]
    if not spark.catalog.tableExists(tbl):
        # start from an EMPTY bucketed table: the channel's content is
        # exactly what the log says arrived (index-from-WAL), never a
        # mix of an untracked base plus tracked deltas
        write_bucketed_events(
            spark,
            spark.createDataFrame([], schema),
            tbl,
            loc,
            n_buckets=n_buckets,
        )

    def append_fn(batch_df):
        batch_df.select(*cols).write.insertInto(tbl)

    def rebuild_fn():
        rebuild_events_bucketed(
            spark, sink_dir, tbl, loc, n_buckets=n_buckets
        )

    def maintain_fn():
        from ..sources.layout import compact_bucketed_table

        compact_bucketed_table(spark, loc)
        # the compaction swapped files under the catalog table —
        # invalidate the cached file index before the next insertInto
        # batch's readers see the layout
        spark.catalog.refreshTable(tbl)

    run_batch = _maintained_layout_batch(
        sink_dir, loc, cols, append_fn, rebuild_fn,
        maintain_fn=maintain_fn, maintain_every=compact_every,
    )
    return (
        stream.writeStream.queryName(tbl)
        .foreachBatch(run_batch)
        .option("checkpointLocation", scratch_dir("events_bucketed_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )


def _maintained_layout_batch(
    sink_dir, loc, cols, append_fn, rebuild_fn,
    maintain_fn=None, maintain_every: int | None = None,
):
    """The maintained-serving-layout micro-batch protocol, shared by
    the bucketed and date-partitioned events channels (ONE copy of
    the crash-recovery logic): replay detection BEFORE committing —
    batch id in the log but marker missing means a prior attempt
    crashed between the serving append and the marker, the layout's
    state is unknowable, rebuild from the log (idempotent); a clean
    replay (marker present) is a no-op because the log deduped it and
    serving has it.

    ``maintain_fn`` (with ``maintain_every`` = N): optional in-channel
    small-files maintenance, invoked after every Nth batch's clean
    publish — INSIDE foreachBatch, where the channel's writes are
    serialized, so the single-maintenance-writer contract of
    `compact_day_partitions` / `compact_bucketed_table` holds by
    construction (no quiesce step needed; a crash mid-compaction is
    repaired by the compactors' own aside/manifest protocols and, in
    the worst case, the WAL rebuild).  Maintenance never runs on a
    replayed batch — the rebuild already rewrote the layout
    compactly."""
    import os

    from pyspark.sql import functions as F

    from ..sources.sinks import commit_append, log_has_version

    def run_batch(batch_df, batch_id):
        replayed = log_has_version(sink_dir, float(batch_id))
        delta = batch_df.select(*cols).withColumn(
            "batch", F.lit(int(batch_id)).cast("long")
        )
        commit_append(delta, sink_dir, version=float(batch_id))
        marker = os.path.join(loc, "_published", f"batch-{batch_id}")
        if os.path.exists(marker):
            return
        if replayed:
            rebuild_fn()  # writes markers
            return
        append_fn(batch_df)
        os.makedirs(os.path.dirname(marker), exist_ok=True)
        open(marker, "w").close()
        if (
            maintain_fn is not None
            and maintain_every
            and int(batch_id) % maintain_every == maintain_every - 1
        ):
            maintain_fn()

    return run_batch


def rebuild_events_partitioned(spark, sink_dir: str, loc: str) -> str:
    """Re-derive the date-partitioned events serving layout from the
    transactional commit log — the partitioned sibling of
    `rebuild_events_bucketed` (index-from-WAL): build the replacement
    completely in a sibling location, then publish through the shared
    marker + rename-ASIDE tail."""
    import shutil
    import uuid

    from ..sources.layout import write_day_partitioned
    from ..sources.sinks import read_committed

    committed = read_committed(spark, sink_dir, keys=["event_id", "batch"])
    data = committed.select(
        *[c for c in committed.columns if c != "batch"]
    )
    tmp_loc = f"{loc}.rebuild-{uuid.uuid4().hex}"
    try:
        write_day_partitioned(data, tmp_loc)
        _publish_rebuilt_layout(sink_dir, loc, tmp_loc)
    except BaseException:
        shutil.rmtree(tmp_loc, ignore_errors=True)
        raise
    return loc


def start_events_partitioned_channel(
    spark,
    sf_dir: str,
    loc: str | None = None,
    sink_dir: str | None = None,
    stream=None,
    query_name: str = "events_partitioned",
    compact_every: int | None = None,
):
    """Streaming maintenance of the DATE-PARTITIONED events silver
    (`plans/pipeline_q.py:_ensure_events_partitioned`'s layout): each
    micro-batch lands in the transactional log (source of truth) and
    APPENDS into its day= directories — new days create directories,
    late events append files into existing ones, and retention stays
    a directory drop.  Same crash contract as the bucketed channel
    (the shared `_maintained_layout_batch` protocol): a crash between
    the serving append and its marker is detected on replay and
    recovered by `rebuild_events_partitioned` from the log.

    Parity contract (tests/test_streaming.py): after the stream
    drains, reading the maintained layout equals the batch
    partitioned build row-for-row, day partition column included."""
    import os

    from ..sources.layout import write_day_partitioned
    from ..sources.scratch import scratch_dir
    from ..sources.tables import load_table
    from .channels import read_table_stream

    if sink_dir is None:
        sink_dir = scratch_dir("events_partitioned_log_")
    if loc is None:
        loc = os.path.join(scratch_dir("events_partitioned_serve_"), "tbl")
    if stream is None:
        stream = read_table_stream(spark, sf_dir, "events")
    cols = [
        f.name for f in load_table(spark, sf_dir, "events").schema.fields
    ]

    def append_fn(batch_df):
        write_day_partitioned(batch_df.select(*cols), loc, mode="append")

    def rebuild_fn():
        rebuild_events_partitioned(spark, sink_dir, loc)

    def maintain_fn():
        from ..sources.layout import compact_day_partitions

        compact_day_partitions(spark, loc)

    run_batch = _maintained_layout_batch(
        sink_dir, loc, cols, append_fn, rebuild_fn,
        maintain_fn=maintain_fn, maintain_every=compact_every,
    )
    return (
        stream.writeStream.queryName(query_name)
        .foreachBatch(run_batch)
        .option(
            "checkpointLocation", scratch_dir("events_partitioned_ckpt_")
        )
        .trigger(availableNow=True)
        .start()
    )
