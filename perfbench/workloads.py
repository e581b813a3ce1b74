"""The three workloads: two batch query mixes and a streaming replay.

Each workload runs from one Python process with one query in flight at
a time.  Set-up runs a first pass (checked, on the batch workloads; it
pays every silver build) and a second, untimed pass while the JIT
settles; the timed region repeats passes until the run's time is up;
the output checks run outside the timed region.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback
from collections import defaultdict

import numpy as np
import pandas as pd

from inputs import stage_stream_files

#: reference-surface queries: candles, indicators, quality, patterns and
#: ML features over the cached candle silver, plus the relational
#: queries.  Execution-bound: the builders do little.  A subset of the
#: 38-query headline slice that fits the per-run time budget; the
#: backtest and strategy queries are left out because their DuckDB
#: oracles alone take 4-22 s.
MARKET_BATCH = [
    "pricing_summary",
    "candles_1h",
    "ema_native",
    "macd",
    "rsi_native",
    "quality_score",
    "gap_fill",
    "patterns",
    "ml_features",
]

#: iterative builders: connected components, integer pagerank and the
#: kNN graph walk run their rounds as eager Spark jobs inside the builder
#: call, so most of the wall is builder time
LLM_ITERATIVE = [
    "near_dup_clusters",
    "pagerank_topk",
    "knn_graph_topk",
]

#: streaming channels replayed one at a time (name -> input table)
CHANNELS = {
    "candles": "events",
    "cms": "documents",
    "histogram": "documents",
    "funnel": "events",
}

#: staged files per stream table
STREAM_FILES = 3

FLOAT_TOL = 1e-9


class Run:
    """State of one benchmark run, shared by the workload functions."""

    def __init__(self, spark, data_dir, work_dir, tables, rng, tracer, jobs):
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.tables = tables
        self.rng = rng
        self.tracer = tracer
        self.jobs = jobs
        self.attempted = 0
        self.failures: list[str] = []
        #: per-layer totals over the traced passes
        self.layer: dict[str, float] = defaultdict(float)
        self.job_totals: dict[str, int] = {}

    def fail(self, what: str, exc: BaseException | None = None) -> None:
        msg = what
        if exc is not None:
            msg += ": " + "".join(
                traceback.format_exception_only(type(exc), exc)
            ).strip()[:400]
        self.failures.append(msg)
        print(f"FAIL {msg}", flush=True)


# ---------------------------------------------------------------- checks


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Same columns, same rows; floats within 1e-9 (relative and
    absolute), everything else exact."""
    got, want = _norm(got), _norm(want)
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    for c in got.columns:
        g, w = got[c], want[c]
        if np.issubdtype(g.dtype, np.floating) or np.issubdtype(w.dtype, np.floating):
            if not np.allclose(
                g.astype(float).fillna(-9e9),
                w.astype(float).fillna(-9e9),
                rtol=FLOAT_TOL,
                atol=FLOAT_TOL,
            ):
                return False
        elif not (g.astype(str).fillna("") == w.astype(str).fillna("")).all():
            return False
    return True


def oracle_answers(data_dir: str, names: list[str]) -> dict[str, pd.DataFrame]:
    """DuckDB oracle result for each query, over the staged tables."""
    import duckdb

    from streaming_forex_data_pipeline_spark import plans

    osql = plans.oracle_sqls()
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(data_dir, f)
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'"
                )
        return {n: con.execute(osql[n]).fetchdf() for n in names}
    finally:
        con.close()


# ---------------------------------------------------------- batch passes


def batch_setup_pass(run: Run, names: list[str], oracle: dict) -> None:
    """First pass: every query collected and checked against its oracle.
    Pays the JIT warm-up and the build-once silvers."""
    from streaming_forex_data_pipeline_spark import plans

    qs = plans.spark_queries()
    for name in names:
        run.attempted += 1
        try:
            got = qs[name](run.spark, run.data_dir).toPandas()
        except Exception as exc:  # noqa: BLE001 - count and keep going
            run.fail(f"{name} raised", exc)
            continue
        if not frames_match(got, oracle[name]):
            run.fail(f"{name} does not match its DuckDB oracle")


def _plan_phase_s(df) -> float:
    """Analysis + optimization + planning time of ``df``'s plan, from
    Spark's QueryExecution phase tracker (forces physical planning)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        if opt.isDefined():
            total += opt.get().durationMs() / 1000.0
    return total


def batch_pass(run: Run, names: list[str], traced: bool) -> dict[str, list[float]]:
    """One timed pass in seed order: builder + plan + noop write per
    query.  Returns query -> [wall ms]."""
    from streaming_forex_data_pipeline_spark import plans

    qs = plans.spark_queries()
    order = [names[i] for i in run.rng.permutation(len(names))]
    tr, layer = run.tracer, run.layer
    walls: dict[str, list[float]] = {}
    for name in order:
        run.attempted += 1
        try:
            if not traced:
                t0 = time.perf_counter()
                qs[name](run.spark, run.data_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                walls[name] = [(time.perf_counter() - t0) * 1000.0]
                continue
            t0 = time.perf_counter()
            with tr.span("query", query=name):
                nested = sum(run.job_totals.values())
                with tr.span("plans.builder", query=name) as sp:
                    df, n_jobs = run.jobs.run(
                        "plans.builder", qs[name], run.spark, run.data_dir
                    )
                b = time.perf_counter()
                layer["plans.builder_s"] += b - sp["start"]
                layer["plans.builder_jobs"] += n_jobs + (
                    sum(run.job_totals.values()) - nested
                )
                with tr.span("spark.plan", query=name):
                    layer["spark.plan_s"] += _plan_phase_s(df)
                with tr.span("spark.exec", query=name) as sp:
                    run.jobs.run(
                        "spark.exec",
                        lambda: df.write.format("noop").mode("overwrite").save(),
                    )
                layer["spark.exec_s"] += time.perf_counter() - sp["start"]
            walls[name] = [(time.perf_counter() - t0) * 1000.0]
        except Exception as exc:  # noqa: BLE001 - count and keep going
            run.fail(f"{name} raised in a timed pass", exc)
    return walls


# -------------------------------------------------------- stream replay


def stage_stream(run: Run) -> dict[str, str]:
    """Stage ``events`` (cut in event-time order at seed-chosen points;
    the last file also holds one flush row) and ``documents`` (rows
    dealt to files by the seed).  Returns table -> staged directory."""
    ev = run.tables["events"]
    # one event a day past the last lets the watermark close every
    # candle window, so the append-mode sinks hold the whole input; it
    # rides in the last data file, so no micro-batch is flush-only
    flush = ev.iloc[[-1]].copy()
    flush["event_id"] = -1
    flush["user_id"] = -1
    flush["event_type"] = "flush"
    flush["ts"] = (flush["ts"] + pd.Timedelta(days=1)).astype("datetime64[us]")
    out = {}
    for table, contiguous, tail in (("events", True, flush), ("documents", False, None)):
        d = os.path.join(run.work_dir, "stream", table)
        stage_stream_files(run.tables[table], d, STREAM_FILES, run.rng, contiguous, tail)
        out[table] = d
    return out


def _file_stream(spark, path: str):
    from streaming_forex_data_pipeline_spark.sources.tables import normalize_event_ts

    schema = spark.read.parquet(path).schema
    df = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)
    return normalize_event_ts(df) if "ts" in schema.fieldNames() else df


def _start_channel(run: Run, ch: str, stream, tag: str):
    """Start channel ``ch`` on ``stream``; returns (query, readout) where
    readout() gives what the channel published."""
    from streaming_forex_data_pipeline_spark.streaming import (
        analytics_stream as AS,
        channels as CH,
        corpus_stream as CS,
    )

    spark = run.spark
    sink_dir = os.path.join(run.work_dir, "sinks", tag)
    view = f"bench_{tag}"
    if ch == "candles":
        q = (
            CH.candle_channel(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(view)
            .trigger(availableNow=True)
            .start()
        )
        return q, lambda: spark.table(view).toPandas()
    start = {
        "cms": CS.start_cms_channel,
        "histogram": CS.start_histogram_channel,
    }.get(ch)
    if start is not None:
        q = start(spark, run.data_dir, sink_table=view, sink_dir=sink_dir, stream=stream)
    else:
        q = AS.start_funnel_channel(
            spark, run.data_dir, sink_table=view, sink_dir=sink_dir,
            stream=stream, ordered=True,
        )
    return q, lambda: spark.table(view).toPandas()


def stream_expected(run: Run) -> dict:
    """Batch answers each channel's readout must equal."""
    from streaming_forex_data_pipeline_spark import plans
    from streaming_forex_data_pipeline_spark.llm import corpus as CO, vocab as VO
    from streaming_forex_data_pipeline_spark.sources.tables import (
        candles_from_events,
        load_table,
    )

    spark, d = run.spark, run.data_dir
    qs = plans.spark_queries()
    docs = load_table(spark, d, "documents")
    return {
        "candles": candles_from_events(spark, d).toPandas(),
        "cms": VO.cms_build(docs).toPandas(),
        "histogram": CO.histogram_sketch(
            docs, "n_chars", lo=0.0, hi=1000.0, n_bins=50
        ).toPandas(),
        "funnel": qs["funnel_conversion"](spark, d)
        .select("stage_ord", "stage", "n_users")
        .toPandas(),
    }


def check_channel(ch: str, got, want) -> bool:
    if ch == "candles":
        got = got[list(want.columns)]
    return frames_match(got, want)


def stream_pass(run: Run, streams: dict, p: int, traced: bool,
                expected: dict | None) -> tuple[dict, dict]:
    """Replay every staged file through each channel in turn.  Returns
    per channel the trigger times (ms) of the micro-batches that carried
    input, and the progress records.  Checks run after each channel's
    query has stopped, outside the timed region (their time is
    returned in ``progress['_check_s']``, and the epoch-second interval
    each channel ran in in ``progress['_windows']``)."""
    triggers: dict[str, list[float]] = {}
    progress: dict = {"_check_s": 0.0, "_windows": []}
    tr = run.tracer
    for ch, table in CHANNELS.items():
        run.attempted += 1
        tag = f"{ch}_{p}"
        try:
            w0 = time.time()
            with tr.span("streaming.channel", channel=ch) as sp:
                tr.ambient_parent = sp["id"] if sp is not None else None
                try:
                    stream = _file_stream(run.spark, streams[table])
                    q, readout = _start_channel(run, ch, stream, tag)
                    q.awaitTermination()
                finally:
                    tr.ambient_parent = None
            progress["_windows"].append((w0, time.time()))
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            recs = [r for r in q.recentProgress if r["numInputRows"] > 0]
            progress[ch] = recs
            triggers[ch] = [float(r["durationMs"]["triggerExecution"]) for r in recs]
            if expected is not None:
                c0 = time.perf_counter()
                ok = check_channel(ch, readout(), expected[ch])
                progress["_check_s"] += time.perf_counter() - c0
                run.attempted += 1
                if not ok:
                    run.fail(f"stream channel {ch} readout differs from batch")
        except Exception as exc:  # noqa: BLE001 - count and keep going
            run.fail(f"stream channel {ch} raised", exc)
    return triggers, progress


def channel_layer_metrics(progress_by_pass: list[dict]) -> dict[str, float]:
    """Per-channel streaming metrics over the traced passes."""
    out: dict[str, float] = {}
    for ch in CHANNELS:
        recs = [r for prog in progress_by_pass for r in prog.get(ch, [])]
        if not recs:
            continue

        def med(key):
            return statistics.median(r["durationMs"].get(key, 0) for r in recs)

        trig = [r["durationMs"]["triggerExecution"] for r in recs]
        pre = f"streaming.{ch}."
        out[pre + "trigger_p50_ms"] = statistics.median(trig)
        out[pre + "trigger_max_ms"] = max(trig)
        out[pre + "add_batch_ms"] = med("addBatch")
        out[pre + "query_planning_ms"] = med("queryPlanning")
        out[pre + "wal_commit_ms"] = med("walCommit")
        out[pre + "latest_offset_ms"] = med("latestOffset")
        last = recs[-1].get("stateOperators") or []
        out[pre + "state_rows"] = float(sum(s.get("numRowsTotal", 0) for s in last))
        # slope: last-quarter over first-quarter median trigger of the
        # batches after the first (which also pays the query's
        # start-up), per replay, averaged over the traced replays
        slopes = []
        for prog in progress_by_pass:
            t = [r["durationMs"]["triggerExecution"] for r in prog.get(ch, [])][1:]
            k = max(1, len(t) // 4)
            if len(t) >= 2:
                slopes.append(statistics.median(t[-k:]) / statistics.median(t[:k]))
        out[pre + "latency_slope"] = statistics.mean(slopes) if slopes else 0.0
    return out
