"""Spans for the traced run.

A span is (name, start, end, parent, run id).  Spans stay in memory
while the run goes and are written as JSON lines when it ends.  The
benchmark opens spans around the calls it makes into each layer; the
``patch_layers`` helper wraps a few public entry points of the engine
(the iterative llm loops and the delta-log sink) so that calls the
engine makes into them get spans too.  Nothing inside the package is
edited: the wrappers replace module attributes for the lifetime of
the traced run only.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        #: parent for spans opened on threads with no open span of their
        #: own (foreachBatch callbacks run on a Spark callback thread)
        self.ambient_parent: int | None = None

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self.ambient_parent
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id}
        rec.update(attrs)
        stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def total(self, name: str) -> float:
        """Summed duration of the spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Self time per span name: duration minus the union of the
        intervals its children cover."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, default=str) + "\n")


class JobCounter:
    """Counts Spark jobs by job group: each counted call runs under its
    own group, and nested counted calls restore the caller's group, so
    a builder's job count can include the jobs of the loops it runs."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = itertools.count()

    def run(self, label: str, fn, *args, **kwargs):
        sc = self.sc
        prev = sc.getLocalProperty("spark.jobGroup.id")
        group = f"{label}#{next(self._n)}"
        sc.setJobGroup(group, label)
        try:
            out = fn(*args, **kwargs)
        finally:
            if prev is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(prev, prev)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))


#: span name -> (module path, attribute names, count jobs) of the
#: engine entry points the traced run wraps.  The sink calls run inside
#: foreachBatch on the stream's own thread, whose job group belongs to
#: the streaming query, so they get spans but no job count.
LAYER_ENTRY_POINTS = {
    "llm.cc": (
        "streaming_forex_data_pipeline_spark.llm.dedup",
        ("connected_components",),
        True,
    ),
    "llm.pagerank": (
        "streaming_forex_data_pipeline_spark.llm.similarity",
        ("integer_pagerank",),
        True,
    ),
    "llm.walk": (
        "streaming_forex_data_pipeline_spark.llm.similarity",
        ("knn_graph_search", "knn_graph_search_batch"),
        True,
    ),
    "sources.sinks.commit": (
        "streaming_forex_data_pipeline_spark.sources.sinks",
        ("commit_append",),
        False,
    ),
    "sources.sinks.read_committed": (
        "streaming_forex_data_pipeline_spark.sources.sinks",
        ("read_committed",),
        False,
    ),
}


@contextmanager
def patch_layers(tracer: Tracer, jobs: JobCounter, job_totals: dict):
    """Wrap every entry point in LAYER_ENTRY_POINTS with a span and,
    where marked, a job count (``job_totals[span name]``); restore the
    originals on exit."""
    import importlib

    saved = []

    def wrap(span_name, fn, count_jobs):
        def traced(*args, **kwargs):
            with tracer.span(span_name):
                if not count_jobs:
                    return fn(*args, **kwargs)
                out, n = jobs.run(span_name, fn, *args, **kwargs)
            job_totals[span_name] = job_totals.get(span_name, 0) + n
            return out

        return traced

    for span_name, (mod_name, attrs, count_jobs) in LAYER_ENTRY_POINTS.items():
        mod = importlib.import_module(mod_name)
        for attr in attrs:
            orig = getattr(mod, attr)
            saved.append((mod, attr, orig))
            setattr(mod, attr, wrap(span_name, orig, count_jobs))
    try:
        yield
    finally:
        for mod, attr, orig in saved:
            setattr(mod, attr, orig)


def fold_event_log(path: str, windows: list[tuple[float, float]]) -> dict:
    """Fold an uncompressed Spark event log into totals over the jobs
    submitted inside ``windows`` (epoch-second intervals) whose job
    group is not a builder or nested-loop group."""
    stage_job: dict[int, int] = {}
    counted_jobs = set()
    totals = defaultdict(float)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                t = ev["Submission Time"] / 1000.0
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                inside = any(a <= t <= b for a, b in windows)
                if inside and not group.startswith(("plans.builder", "llm.")):
                    jid = ev["Job ID"]
                    counted_jobs.add(jid)
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = jid
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_job and "Completion Time" in ev["Stage Info"]:
                    totals["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                if ev.get("Stage ID") not in stage_job:
                    continue
                m = ev.get("Task Metrics") or {}
                totals["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                totals["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                sr = m.get("Shuffle Read Metrics") or {}
                totals["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = m.get("Shuffle Write Metrics") or {}
                totals["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                totals["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    totals["jobs"] = len(counted_jobs)
    return dict(totals)
