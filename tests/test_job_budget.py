"""Builder job budgets of the iterative graph loops.

Under the driver-finish gate (llm/dedup.py:_collect_if_small) each loop
fetches its graph once and finishes on the driver, so the Spark jobs a
call starts are bounded by its fetches, not by its rounds.  Jobs are
counted by job group, as the benchmark's traced run counts them
(perfbench/spans.py:JobCounter).
"""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from streaming_forex_data_pipeline_spark.llm import dedup as DD
from streaming_forex_data_pipeline_spark.llm import similarity as SIM
from streaming_forex_data_pipeline_spark.sources.tables import load_table

_groups = itertools.count()


def _jobs(spark, fn):
    """``(fn(), number of Spark jobs fn started)``."""
    sc = spark.sparkContext
    group = f"job-budget#{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_integer_pagerank_job_budget(spark):
    """Two jobs: one fetch of the edges, one of the node ids — not one
    join-and-sum job per iteration."""
    edges = spark.createDataFrame(
        [(i, 9) for i in range(9)] + [(9, 0)], "src long, dst long"
    )
    nodes = spark.range(0, 10).select(F.col("id").alias("vec_id"))
    out, n = _jobs(spark, lambda: SIM.integer_pagerank(edges, nodes))
    assert n <= 2, f"integer_pagerank started {n} jobs"
    assert out.count() == 10


def test_connected_components_job_budget(spark):
    """One job over a pair list, even on a 64-edge chain that takes the
    Spark loop several propagation rounds."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "doc_a long, doc_b long"
    )
    out, n = _jobs(spark, lambda: DD.connected_components(chain))
    assert n <= 1, f"connected_components started {n} jobs"
    assert out.count() == 65


def test_knn_graph_search_job_budget(spark, sf_dir):
    """Four jobs at sf0.001 over a materialized graph: the graph fetch,
    then the scores fetch, which runs as three (the query broadcast,
    the fan_out shuffle that AQE submits as its own job, and the fetch
    itself) — not two jobs per walk step."""
    e = load_table(spark, sf_dir, "embeddings")
    graph = SIM.knn_graph(e, k=3, n_planes=4).select("src", "dst")
    graph = graph.localCheckpoint()
    query = e.filter(F.col("vec_id") == 100)
    out, n = _jobs(
        spark,
        lambda: SIM.knn_graph_search(e, graph, query, k=10, beam=16, steps=8),
    )
    assert n <= 4, f"knn_graph_search started {n} jobs"
    assert out.count() == 10


def test_warm_reads_start_no_jobs(spark, sf_dir, tmp_path):
    """Schemas come from metadata: on a warm session, a table load, the
    kNN graph silvers, a table stream and a delta-log read (on a
    three-commit log, and again after a compaction) start no Spark
    job."""
    from streaming_forex_data_pipeline_spark.llm.silvers import (
        knn_graph_silver,
        knn_union_graph_silver,
    )
    from streaming_forex_data_pipeline_spark.sources import sinks as S
    from streaming_forex_data_pipeline_spark.streaming.channels import (
        read_table_stream,
    )

    log = str(tmp_path / "log")
    for v in range(3):
        S.commit_append(
            spark.range(4).withColumn("v", F.lit(v)), log, version=float(v)
        )
    reads = {
        "load_table": lambda: load_table(spark, sf_dir, "events"),
        "knn_graph_silver": lambda: knn_graph_silver(spark, sf_dir),
        "knn_union_graph_silver": lambda: knn_union_graph_silver(spark, sf_dir),
        "read_table_stream": lambda: read_table_stream(spark, sf_dir, "documents"),
        "read_committed": lambda: S.read_committed(spark, log, keys=["id"]),
    }
    for read in reads.values():
        read()  # the first read of each path infers its schema
    for name, read in reads.items():
        _, n = _jobs(spark, read)
        assert n == 0, f"warm {name} started {n} jobs"

    assert S.compact_log(spark, log, keys=["id"]) is not None
    out, n = _jobs(spark, lambda: S.read_committed(spark, log, keys=["id"]))
    assert n == 0, f"read_committed after compact_log started {n} jobs"
    assert sorted((r["id"], r["v"]) for r in out.collect()) == [
        (i, 2) for i in range(4)
    ]
