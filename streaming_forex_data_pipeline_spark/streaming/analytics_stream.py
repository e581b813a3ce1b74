"""Streaming faces of the event-analytics queries (`plans/olap_q.py`)
and the maintained events serving layouts.

Every channel here runs on a delta-log mechanism of `channels.py`,
whose docstrings hold the contracts; each face supplies only its own
rows and view.  Cohort, WAU and the funnel are merge channels
(`_start_merge_channel`): the funnel's delta is the stateful
transition frame, committed as is.  The bucketed and date-partitioned
events layouts are maintained layouts (`_maintained_layout_batch`,
rebuilt by `_rebuild_layout`).

The cohort face's merge law is **MIN**: a user's first-event timestamp
over a union of batches is the min of per-batch minima — so per-user
firsts stay exact under any batch split, arrival order, or replay,
and the weekly cohort sizes derived from them equal the batch answer
(`cohort_retention`'s `sizes` frame) at every instant.
"""

from __future__ import annotations

from ..sources.tables import parquet_schema, read_parquet
from .channels import (
    _maintained_layout_batch,
    _rebuild_layout,
    _start_channel_query,
    _start_merge_channel,
)


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

    batch = read_parquet(spark, source_dir)
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
    (`plans/olap_q.py:funnel_conversion`) on the merge-channel
    mechanism, with a per-user state machine in
    ``applyInPandasWithState`` (the ST7 pattern of stateful.py)
    feeding it.

    Per user the GroupState holds one epoch-micros timestamp per stage
    (the first qualifying hit): stage i fires on the first event of its
    type strictly after stage i-1's hit.  Delta: the newly reached
    stages as (user_id, stage_ord, reached_us) rows — monotone inserts,
    a stage fires at most once per user — keyed (user_id, stage_ord,
    batch).  View: the per-stage distinct-user count,
    funnel_conversion's n_users column kept fresh; beside it,
    ``<sink_table>_violations`` sums each user's late-event count (the
    ``stage_ord = -1`` delta rows).

    Ordering, two tiers:

    - ``lateness="1 day"`` (the DEFAULT, reorder tier): the stream gets
      an event-time watermark and the machine BUFFERS each user's
      events in state, releasing them in event-time order once the
      watermark has passed them, so disorder within the bound is
      corrected before any (final) stage decision; buffered users flush
      via event-time timeouts as the watermark advances.  Rows more
      than ``lateness`` behind the watermark are dropped by the
      stateful operator before the kernel runs — counted only by
      Spark's ``numRowsDroppedByWatermark``
      (`channels.watermark_drop_report`).  The late-events fence is the
      PREVIOUS batch's watermark, so a straggler in the very next batch
      is admitted; the kernel's violation fence counts exactly those.
    - ``ordered=True`` (fast path, explicit opt-in, for sources that
      GUARANTEE per-user event-time order): events replay as they
      arrive, no watermark (``lateness`` ignored); an event older than
      the user's max replayed time is counted as a violation instead of
      passing silently.

    Drain: on the reorder tier, events within the final ``lateness``
    window never flush once an ``availableNow`` stream drains — the
    watermark only advances on new data.  ``final_flush=True`` (with
    ``source_dir``, or letting the channel stage its own source)
    appends flush sentinels first (`append_flush_sentinels`), so the
    replay accounts every event.

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
            src_schema = parquet_schema(spark, source_dir)
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

    def view_fn(committed):
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
        stage_names = F.array(*[F.lit(s) for s in stages])
        return (
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
        )

    return _start_merge_channel(
        spark, sf_dir, "events", sink_table, sink_dir, transitions,
        slot_prefix="funnel_",
        empty_schema="stage_ord int, stage string, n_users long",
        keys=["user_id", "stage_ord", "batch"],
        delta_fn=lambda t: t,
        view_fn=view_fn,
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
    """Re-derive the bucketed events serving table from the bucketed
    channel's log (`channels._rebuild_layout`): the recovery path when
    a crash between a serving append and its marker leaves the layout
    holding zero OR one copies of a batch.  The catalog table is
    re-attached over the swapped-in location; returns its name."""
    import uuid

    from ..sources.layout import attach_bucketed_table, schema_ddl
    from ..sources.layout import write_bucketed_events

    tmp_tbl = f"{tbl}_rebuild_{uuid.uuid4().hex}"

    def build_fn(data, tmp_loc):
        write_bucketed_events(
            spark, data, tmp_tbl, tmp_loc, n_buckets=n_buckets
        )
        spark.sql(f"DROP TABLE IF EXISTS {tmp_tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")

    data = _rebuild_layout(spark, sink_dir, loc, "event_id", build_fn)
    return attach_bucketed_table(
        spark, tbl, loc, schema_ddl(data), n_buckets=n_buckets
    )


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
    layout (`sources/layout.py`) on the
    `channels._maintained_layout_batch` mechanism: at 100 TB the layout
    that makes every funnel/cohort run exchange-free must absorb new
    events incrementally — a full bucketed rewrite per arrival is the
    scale-killer this channel removes.

    Rows: each micro-batch's events, logged keyed (event_id, batch) in
    ``sink_dir``.  Layout: the catalog table ``tbl`` at ``loc``, an
    ``insertInto`` APPEND that the catalog's bucket spec routes into
    per-bucket files, so the maintained table KEEPS the
    zero-user-keyed-exchange contract (bucketed scans merge multiple
    files per bucket; plan-gated in tests); recovery is
    `rebuild_events_bucketed`, maintenance `compact_bucketed_table`
    every ``compact_every`` batches.  The query is named ``tbl``.

    Parity contract (tests/test_streaming.py): after the stream
    drains, the maintained table equals the batch bucketed build of
    the same events row-for-row, and the funnel plan over it carries
    zero user-keyed Exchange nodes."""
    import os

    from ..sources.layout import write_bucketed_events
    from ..sources.scratch import scratch_dir
    from ..sources.tables import load_table

    if sink_dir is None:
        sink_dir = scratch_dir("events_bucketed_log_")
    if loc is None:
        loc = os.path.join(scratch_dir("events_bucketed_serve_"), "tbl")
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

    def maintain_fn():
        from ..sources.layout import compact_bucketed_table

        compact_bucketed_table(spark, loc)
        # the compaction swapped the layout directory under the
        # catalog table — invalidate the cached file index before the
        # next insertInto batch's readers see the layout
        spark.catalog.refreshTable(tbl)

    run_batch = _maintained_layout_batch(
        sink_dir,
        loc,
        lambda b: b.select(*cols),
        lambda rows: rows.write.insertInto(tbl),
        lambda: rebuild_events_bucketed(
            spark, sink_dir, tbl, loc, n_buckets=n_buckets
        ),
        maintain_fn=maintain_fn,
        maintain_every=compact_every,
    )
    return _start_channel_query(
        spark, sf_dir, "events", stream, tbl, "events_bucketed_ckpt_",
        run_batch,
    )


def rebuild_events_partitioned(spark, sink_dir: str, loc: str) -> str:
    """Re-derive the date-partitioned events serving layout from the
    partitioned channel's log (`channels._rebuild_layout`) — the
    partitioned sibling of `rebuild_events_bucketed`.  Returns
    ``loc``."""
    from ..sources.layout import write_day_partitioned

    _rebuild_layout(spark, sink_dir, loc, "event_id", write_day_partitioned)
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
    (`plans/pipeline_q.py:_ensure_events_partitioned`'s layout) on the
    `channels._maintained_layout_batch` mechanism.

    Rows: each micro-batch's events, logged keyed (event_id, batch) in
    ``sink_dir``.  Layout: the day= directories under ``loc``, APPENDED
    per batch — new days create directories, late events append files
    into existing ones, and retention stays a directory drop; recovery
    is `rebuild_events_partitioned`, maintenance
    `compact_day_partitions` every ``compact_every`` batches.

    Parity contract (tests/test_streaming.py): after the stream
    drains, reading the maintained layout equals the batch
    partitioned build row-for-row, day partition column included."""
    import os

    from ..sources.layout import compact_day_partitions, write_day_partitioned
    from ..sources.scratch import scratch_dir
    from ..sources.tables import load_table

    if sink_dir is None:
        sink_dir = scratch_dir("events_partitioned_log_")
    if loc is None:
        loc = os.path.join(scratch_dir("events_partitioned_serve_"), "tbl")
    cols = [
        f.name for f in load_table(spark, sf_dir, "events").schema.fields
    ]
    run_batch = _maintained_layout_batch(
        sink_dir,
        loc,
        lambda b: b.select(*cols),
        lambda rows: write_day_partitioned(rows, loc, mode="append"),
        lambda: rebuild_events_partitioned(spark, sink_dir, loc),
        maintain_fn=lambda: compact_day_partitions(spark, loc),
        maintain_every=compact_every,
    )
    return _start_channel_query(
        spark, sf_dir, "events", stream, query_name,
        "events_partitioned_ckpt_", run_batch,
    )
