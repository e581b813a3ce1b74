"""forexflow benchmark: one named workload per process.

    python3 perfbench/run.py --workload market_batch --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  Workloads (see BENCHMARK.json for why
each was chosen):

- ``market_batch``: indicator, quality, pattern, ML-feature and
  relational queries over the candle silver; execution-bound.
- ``llm_iterative``: iterative builders (connected components,
  pagerank, kNN graph walk); builder-bound.
- ``stream_replay``: staged files replayed one per trigger through four
  streaming channels, one channel at a time; the only workload that
  writes (delta-log commits) as well as reads.

Every run builds its inputs from scratch in a fresh working directory
under ``.perfbench_work/`` (TMPDIR, Spark local dirs, checkpoints,
sinks), so silver builds land in set-up.  A run that sees a silver build
during a timed pass fails.  Output checks run outside the timed region:
batch queries against their DuckDB oracles, stream channels against the
batch computation over the whole input.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs with
spans, job-group counts and a Spark event log and prints the per-layer
metrics (LAYERS.md maps each one to the end-to-end metric and workload
it should move).  Human-readable lines come first; the last line of
stdout is one JSON object.  The exit code is 1 when any output check
fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import time
from collections import defaultdict
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("market_batch", "llm_iterative", "stream_replay")


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name and its unit (BENCHMARK.json's
    ``per_layer`` list); a traced run prints all of them."""
    from workloads import CHANNELS

    names = {
        "session.start_s": "s",
        "sources.tables.stage_s": "s",
        "sources.scratch.silver_builds": "count",
        "sources.scratch.silver_build_s": "s",
        "plans.builder_s": "s",
        "plans.builder_self_s": "s",
        "plans.builder_jobs": "count",
        "plans.builder_share": "ratio",
        "llm.cc_s": "s",
        "llm.cc_jobs": "count",
        "llm.pagerank_s": "s",
        "llm.pagerank_jobs": "count",
        "llm.walk_s": "s",
        "llm.walk_jobs": "count",
        "spark.plan_s": "s",
        "spark.exec_s": "s",
        "spark.exec_jobs": "count",
        "spark.stages": "count",
        "spark.task_s": "s",
        "spark.shuffle_read_mb": "MB",
        "spark.shuffle_write_mb": "MB",
        "spark.spill_mb": "MB",
        "spark.gc_s": "s",
        "sources.sinks.commit_s": "s",
        "sources.sinks.read_committed_s": "s",
        "sources.sinks.commits_per_read": "ratio",
    }
    for ch in CHANNELS:
        for m, unit in (
            ("trigger_p50_ms", "ms"),
            ("trigger_max_ms", "ms"),
            ("add_batch_ms", "ms"),
            ("query_planning_ms", "ms"),
            ("wal_commit_ms", "ms"),
            ("latest_offset_ms", "ms"),
            ("state_rows", "count"),
            ("latency_slope", "ratio"),
        ):
            names[f"streaming.{ch}.{m}"] = unit
    names["trace.overhead_share"] = "ratio"
    return names


def percentile_with_support(samples: list[float]) -> tuple[int, float] | None:
    """Highest of p90/p75/p50 with at least ten samples beyond it."""
    s = sorted(samples)
    for p in (90, 75, 50):
        if len(s) * (100 - p) / 100 >= 10:
            return p, float(s[min(len(s) - 1, int(len(s) * p / 100))])
    return None


def steal_ticks() -> int:
    """Host-wide CPU time stolen by the hypervisor so far, in ticks."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def isolate(work: str, traced: bool) -> None:
    """Point every scratch location of this process and of the JVM it
    launches into ``work``."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "ckpt", "events", "wh")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # HotSpot writes its perf-data file under /tmp whatever java.io.tmpdir
    # says; both JVMs (spark-submit's launcher and Spark's own) skip it
    jvm_opts = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    conf = {
        "spark.local.dir": dirs["local"],
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.sql.warehouse.dir": dirs["wh"],
        "spark.sql.streaming.checkpointLocation": dirs["ckpt"],
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": dirs["events"],
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
        + " pyspark-shell"
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    traced = bool(args.trace)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "streaming_forex_data_pipeline_spark")):
        print("run from the root of a forexflow checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(root, ".perfbench_work", run_id)
    isolate(work, traced)
    try:
        return _run(args, traced, run_id, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, traced: bool, run_id: str, work: str) -> int:
    import numpy as np

    import bench
    import inputs
    import workloads as W
    from spans import JobCounter, Tracer, patch_layers

    cpus = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()
    host = {
        "cpus": cpus,
        "loadavg_start": load_start,
        "busy_at_start": load_start[0] > cpus / 2,
        "probe_s": bench.calibration_probe(),
    }
    rng = np.random.RandomState(args.seed)
    tracer = Tracer(run_id, enabled=False)
    wl = args.workload
    names = {"market_batch": W.MARKET_BATCH, "llm_iterative": W.LLM_ITERATIVE}.get(wl)

    # ---- set-up: staging, session start, first checked pass
    steal0 = steal_ticks()
    t_setup = time.perf_counter()
    tables = inputs.make_tables()
    data_dir = os.path.join(work, "data")
    inputs.stage_tables(tables, data_dir)
    stage_s = time.perf_counter() - t_setup
    oracle_s = time.perf_counter()
    oracle = W.oracle_answers(data_dir, names) if names else None
    oracle_s = time.perf_counter() - oracle_s

    from streaming_forex_data_pipeline_spark.session import get_spark
    from streaming_forex_data_pipeline_spark.sources import scratch

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus)
    session_s = time.perf_counter() - t0
    host["driver_memory"] = spark.conf.get("spark.driver.memory")
    run = W.Run(spark, data_dir, work, tables, rng, tracer, JobCounter(spark))
    streams = expected = None
    try:
        # a first pass (checked on the batch workloads), then a second
        # while the JIT settles: the timed passes all run warm
        if names:
            W.batch_setup_pass(run, names, oracle)
            W.batch_pass(run, names, False)
        else:
            streams = W.stage_stream(run)
            W.stream_pass(run, streams, 0, False, None)
        setup_s = time.perf_counter() - t_setup - oracle_s
        silver = list(scratch.SILVER_BUILD_LOG)
        if not names:
            expected = W.stream_expected(run)

        # ---- timed passes.  With --trace 1 they alternate untraced /
        # traced, at least three
        pass_walls = {False: [], True: []}
        # operation (query or channel) -> latencies in ms, per tracing mode
        ops = {False: defaultdict(list), True: defaultdict(list)}
        stream_progress = []
        windows = []
        timed = 0.0
        p = 0
        while p < 1 or timed < args.seconds or (traced and p < 3):
            traced_pass = traced and p % 2 == 1
            tracer.enabled = traced_pass
            mark = len(scratch.SILVER_BUILD_LOG)
            w0 = time.time()
            t0 = time.perf_counter()
            ctx = (
                patch_layers(tracer, run.jobs, run.job_totals)
                if traced_pass
                else nullcontext()
            )
            with ctx:
                if names:
                    lat = W.batch_pass(run, names, traced_pass)
                    check_s = 0.0
                else:
                    lat, prog = W.stream_pass(run, streams, p + 1, traced_pass, expected)
                    check_s = prog.pop("_check_s")
                    chan_windows = prog.pop("_windows")
                    if traced_pass:
                        stream_progress.append(prog)
            wall = time.perf_counter() - t0 - check_s
            for k, v in lat.items():
                ops[traced_pass][k] += v
            if traced_pass:
                # event-log jobs count only inside these intervals, so
                # the stream's output checks stay out of spark.*
                windows += chan_windows if not names else [(w0, time.time())]
            pass_walls[traced_pass].append(wall)
            timed += wall
            for b in scratch.SILVER_BUILD_LOG[mark:]:
                run.fail(f"silver build {b['silver']} during a timed pass")
            p += 1
        tracer.enabled = False
    finally:
        stop_spark(spark)

    # ---- results
    attempted, failed = run.attempted, len(run.failures)
    n_rows = (
        sum(len(tables[t]) for t in W.CHANNELS.values()) if not names else 0
    )
    summary = {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(pass_walls[False]), "s"),
        "error_rate": (failed / attempted, "ratio"),
    }
    op = [v for vs in ops[False].values() for v in vs]
    op_geomean = statistics.geometric_mean(
        statistics.median(v) for v in ops[False].values()
    )
    kind = ("query", "s", 1 / 1000.0) if names else ("batch", "ms", 1.0)
    summary[f"{kind[0]}_p50_{kind[1]}"] = (statistics.median(op) * kind[2], kind[1])
    hi = percentile_with_support(op)
    if hi is not None and hi[0] > 50:
        summary[f"{kind[0]}_p{hi[0]}_{kind[1]}"] = (hi[1] * kind[2], kind[1])
    if not names:
        summary["rows_per_s"] = (n_rows / summary["pass_s"][0], "1/s")
    host["loadavg_end"] = os.getloadavg()
    host["steal_s"] = (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
    print(f"host {json.dumps(host)}")
    print(f"samples {wl} passes={len(pass_walls[False])} ops={len(op)}")
    print(f"metric {wl} op_geomean_ms {op_geomean:.6g} ms")
    for k, (v, unit) in summary.items():
        print(f"metric {wl} {k} {v:.6g} {unit}")

    if traced:
        metrics = _layer_metrics(
            run, session_s, stage_s, silver, pass_walls, ops,
            stream_progress, windows, work,
        )
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": summary["pass_s"][0], "unit": "s"},
        }
    out_dir = os.path.join(os.getcwd(), ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as fh:
        json.dump(
            {"host": host, "metrics": metrics, "failures": run.failures,
             "pass_walls": pass_walls, "ops_ms": ops},
            fh, indent=1, default=str,
        )
    if traced:
        tracer.write(os.path.join(out_dir, f"{run_id}.spans.jsonl"))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0 if failed == 0 else 1


def _layer_metrics(run, session_s, stage_s, silver, pass_walls, ops,
                   stream_progress, windows, work) -> dict:
    """Per-layer metrics of a traced run, per traced pass."""
    import workloads as W
    from spans import fold_event_log

    tracer, layer = run.tracer, run.layer
    n = max(1, len(pass_walls[True]))
    names = per_layer_names()
    vals = {k: 0.0 for k in names}
    vals["session.start_s"] = session_s
    vals["sources.tables.stage_s"] = stage_s
    vals["sources.scratch.silver_builds"] = float(len(silver))
    vals["sources.scratch.silver_build_s"] = sum(b["sec"] for b in silver)
    selfs = tracer.self_times()
    for k in ("plans.builder_s", "plans.builder_jobs", "spark.plan_s", "spark.exec_s"):
        vals[k] = layer.get(k, 0.0) / n
    vals["plans.builder_self_s"] = selfs.get("plans.builder", 0.0) / n
    traced_ops_s = sum(v for vs in ops[True].values() for v in vs) / 1000.0
    if layer.get("plans.builder_s") and traced_ops_s:
        vals["plans.builder_share"] = layer["plans.builder_s"] / traced_ops_s
    for short in ("cc", "pagerank", "walk"):
        vals[f"llm.{short}_s"] = tracer.total(f"llm.{short}") / n
        vals[f"llm.{short}_jobs"] = run.job_totals.get(f"llm.{short}", 0) / n
    commits = [s for s in tracer.spans if s["name"] == "sources.sinks.commit"]
    reads = [s for s in tracer.spans if s["name"] == "sources.sinks.read_committed"]
    vals["sources.sinks.commit_s"] = tracer.total("sources.sinks.commit") / n
    vals["sources.sinks.read_committed_s"] = tracer.total("sources.sinks.read_committed") / n
    if reads:
        vals["sources.sinks.commits_per_read"] = len(commits) / len(reads)
    if stream_progress:
        vals.update(W.channel_layer_metrics(stream_progress))
        vals["spark.exec_s"] = sum(
            r["durationMs"].get("addBatch", 0)
            for prog in stream_progress for recs in prog.values() for r in recs
        ) / 1000.0 / n
    ev_dir = os.path.join(work, "events")
    logs = [os.path.join(ev_dir, f) for f in os.listdir(ev_dir)]
    if logs:
        ev = fold_event_log(logs[0], windows)
        vals["spark.exec_jobs"] = ev.get("jobs", 0) / n
        vals["spark.stages"] = ev.get("stages", 0) / n
        vals["spark.task_s"] = ev.get("task_s", 0) / n
        vals["spark.gc_s"] = ev.get("gc_s", 0) / n
        vals["spark.shuffle_read_mb"] = ev.get("shuffle_read_b", 0) / 1e6 / n
        vals["spark.shuffle_write_mb"] = ev.get("shuffle_write_b", 0) / 1e6 / n
        vals["spark.spill_mb"] = ev.get("spill_b", 0) / 1e6 / n
    untraced = statistics.median(pass_walls[False])
    vals["trace.overhead_share"] = statistics.median(pass_walls[True]) / untraced - 1.0
    for k, v in vals.items():
        print(f"layer {k} {v:.6g} {names[k]}")
    return {k: {"value": float(v), "unit": names[k]} for k, v in vals.items()}


if __name__ == "__main__":
    sys.exit(main())
