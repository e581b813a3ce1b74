"""Physical-plan invariants — the scale-readiness regression gate.

These assertions encode the 100 TB design rules from SURVEY §4 /
COVERAGE.md as tests, so a refactor that silently de-optimizes a plan
(drops a broadcast, adds a Python UDF to a hot path, loses filter
pushdown) fails CI rather than only showing up in bench numbers:

1. Python plan nodes (EvalPython, MapInPandas/MapInArrow,
   FlatMapGroupsIn*/FlatMapCoGroupsIn*) appear in exactly the
   sanctioned queries: the grouped applyInPandas escapes (SURVEY
   §2.13: EMA-family parity, PSAR, packing, backtest loop) and the
   consumers of the media row kernel (llm/multimodal.py:row_kernel).
   A sanctioned query whose plan has no Python node fails too.
2. Dimension joins broadcast; no sort-merge join sneaks into the
   star-schema queries.
3. Filter pushdown reaches the parquet scan for predicate queries.
4. No plan collects to the driver mid-query (no driver-side loops —
   structurally guaranteed by the registry returning DataFrames).
"""

from __future__ import annotations

import re

import pytest

from streaming_forex_data_pipeline_spark.plans.registry import all_queries

# SURVEY §2.13: the ONLY queries whose plans run Python kernels, and
# every one of them must (the gate is two-way)
PANDAS_UDF_SANCTIONED = {
    "ema",
    "rsi",
    "macd",
    "atr_ema",
    "ma_ratios",  # consumes the EMA family
    "psar",
    "pack_greedy",  # fill-with-reset packing recurrence (non-associative)
    "packing_stats",
    "backtest_trades",
    "backtest_trades_multi",
    "backtest_metrics",
    "strategy_comparison",
    # the media row kernel (llm/multimodal.py:row_kernel) in the timed
    # region; the multimodal_* stub stages are Column algebra
    "image_decode",
    "image_resize",
    "audio_decode",
    "video_decode",
}

_PYTHON_NODE = re.compile(
    r"EvalPython|MapInPandas|MapInArrow"
    r"|FlatMapGroupsIn\w+|FlatMapCoGroupsIn\w+"
)

BROADCAST_EXPECTED = [
    "revenue_by_nation",
    "customers_without_orders",
    "customers_with_orders_semi",
    "knn_cosine_topk",
    "jaccard_vs_doc0",
    "contamination_report",  # eval gram frame must broadcast (tiny vs corpus)
]

PUSHDOWN_EXPECTED = [
    "range_scan_limit",
    "filtered_count",
    "pricing_summary",
]


def _plan(spark, sf_dir, name: str) -> str:
    df = all_queries()[name].spark(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _ancestors(plan: str, node: str) -> list[list[str]]:
    """For each ``node`` operator in a plan tree string, the operator
    names on its path up to the root."""
    paths, stack = [], []
    for line in plan.splitlines():
        m = re.match(r"([ :+\-]*)(\w+)", line)
        if not m:
            continue
        depth, name = len(m.group(1)), m.group(2)
        while stack and stack[-1][0] >= depth:
            stack.pop()
        if name == node:
            paths.append([n for _, n in stack])
        stack.append((depth, name))
    return paths


#: the registered media codec queries: one row kernel each
#: (image_resize chains two), run once per row
CODEC_QUERIES = (
    "image_decode",
    "image_resize",
    "audio_decode",
    "video_decode",
)


def test_codec_kernels_run_once(spark, sf_dir):
    """No Exchange sits above a codec query's MapInArrow node: a
    global sort over the kernel output samples it for range bounds,
    which runs every codec call a second time."""
    for name in CODEC_QUERIES:
        paths = _ancestors(_plan(spark, sf_dir, name), "MapInArrow")
        assert paths, f"{name}: no MapInArrow node"
        above = [p for p in paths if any(n.startswith("Exchange") for n in p)]
        assert not above, f"{name}: Exchange above the row kernel {above}"


def _python_udf_offenders(spark, sf_dir, names) -> list[str]:
    """Names whose plan disagrees with PANDAS_UDF_SANCTIONED: a Python
    node in an unsanctioned query, or none in a sanctioned one."""
    return [
        name
        for name in names
        if bool(_PYTHON_NODE.search(_plan(spark, sf_dir, name)))
        != (name in PANDAS_UDF_SANCTIONED)
    ]


@pytest.mark.slow  # r15: slow lane (see pytest.ini)
def test_no_unsanctioned_python_udfs(spark, sf_dir):
    offenders = _python_udf_offenders(spark, sf_dir, all_queries())
    assert not offenders, (
        f"Python plan nodes disagree with PANDAS_UDF_SANCTIONED: {offenders}"
    )


# the fast-lane twin plans every UDF_SAMPLE_STEP-th query by name
# from one fixed offset: ~20 queries a run.  The offset is fixed, not
# taken from the calendar, so the default lane runs the same tests on
# every day and two runs of it compare name by name.  The other
# offsets sit in the slow lane; one reruns with
# ``-m "" -k "udfs_sample and offset<N>"``.
UDF_SAMPLE_STEP = 13
_UDF_OFFSET = 6


@pytest.mark.parametrize(
    "offset",
    [
        pytest.param(
            o,
            marks=() if o == _UDF_OFFSET else pytest.mark.slow,
            id=f"offset{o}",
        )
        for o in range(UDF_SAMPLE_STEP)
    ],
)
def test_no_unsanctioned_python_udfs_sample(spark, sf_dir, offset):
    sample = sorted(all_queries())[offset::UDF_SAMPLE_STEP]
    assert len(sample) >= 15
    offenders = _python_udf_offenders(spark, sf_dir, sample)
    assert not offenders, (
        f"Python plan nodes disagree with PANDAS_UDF_SANCTIONED "
        f"(offset {offset}): {offenders}"
    )


@pytest.mark.parametrize("name", BROADCAST_EXPECTED)
def test_dimension_joins_broadcast(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "SortMergeJoin" not in plan, f"{name}: sort-merge join in plan"
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        f"{name}: expected a broadcast join"
    )


@pytest.mark.parametrize("name", PUSHDOWN_EXPECTED)
def test_filters_reach_the_scan(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    # at least one scan carries a NON-empty pushed-filter list
    pushed = [seg.split("]")[0] for seg in plan.split("PushedFilters: [")[1:]]
    assert any(p.strip() for p in pushed), (
        f"{name}: no predicate reached a parquet scan"
    )


@pytest.mark.slow  # r15: slow lane (see pytest.ini)
def test_registry_values_are_dataframes(spark, sf_dir):
    """Every builder returns a DataFrame.  This checks the return type
    only: a builder that runs Spark jobs (a .collect() inside it) still
    passes here — counting builder jobs is the job budget's task
    (tests/test_job_budget.py)."""
    from pyspark.sql import DataFrame

    for name, q in all_queries().items():
        out = q.spark(spark, sf_dir)
        assert isinstance(out, DataFrame), f"{name} returned {type(out)}"


# queries whose CPU-heavy Generates must not run on the unsplittable
# single-row-group scan: the plan must repartition (fan_out) before
# the explode, or derive from a checkpointed RDD (scan count 0)
FANOUT_EXPECTED = [
    "repetition_stats",
    "contamination",
    "quality_gate",
    "dup_ngram_coverage",
    "substring_dedup",
]


@pytest.mark.parametrize("name", FANOUT_EXPECTED)
def test_heavy_generates_are_fanned_out(spark, sf_dir, name):
    """Regression gate for the round-5 one-core Generates (8-9 s ->
    1.8 s at sf0.1): either the documents scan is repartitioned to
    parallelism before the explode, or the tokenize-once checkpoint
    replaced the scan entirely."""
    df = all_queries()[name].spark(spark, sf_dir)
    df.count()  # materialize lazy checkpoints so the final plan is real
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = plan.count("documents.parquet")
    if scans == 0:
        return  # checkpointed — the scan ran wide inside the checkpoint
    assert "Exchange RoundRobinPartitioning" in plan, (
        f"{name}: {scans} documents scans with no fan-out repartition"
    )


def test_ivf_silver_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """The cell-partitioned silver table delivers the promised scale
    contract: a probe's scan carries a PartitionFilters entry on
    `cell` (only nprobe directories are read), and its results equal
    the in-memory ivf_topk tier exactly."""
    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.llm import similarity as SIM
    from streaming_forex_data_pipeline_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    out = str(tmp_path / "ivf_silver")
    SIM.write_ivf_silver(e, out, n_cells=16)

    probed = SIM.probe_ivf_silver(spark, out, e, q, k=10, n_cells=16, nprobe=2)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    seg = [
        s.split("]")[0]
        for s in plan.split("PartitionFilters: [")[1:]
        if "cell" in s.split("]")[0]
    ]
    assert seg, f"no partition filter on cell reached the silver scan:\n{plan}"

    want = [tuple(r) for r in SIM.ivf_topk(e, q, k=10, n_cells=16, nprobe=2).collect()]
    got = [tuple(r) for r in probed.collect()]
    assert got == want


def test_registered_ivf_silver_topk_prunes_partitions(spark, sf_dir):
    """The REGISTERED production ANN query carries the same pruning
    contract as the raw probe helper: its silver scan lists a
    PartitionFilters entry on `cell`, so per-query IO is bounded by
    nprobe directories regardless of corpus size."""
    df = all_queries()["ivf_silver_topk"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    seg = [
        s.split("]")[0]
        for s in plan.split("PartitionFilters: [")[1:]
        if "cell" in s.split("]")[0]
    ]
    assert seg, (
        f"registered ivf_silver_topk lost partition pruning on cell:\n{plan}"
    )


def test_knn_graph_consumers_read_silver_not_rebuild(
    spark, sf_dir, gate_sides
):
    """r11 verdict Next #1 plan gate: after the build-once graph
    silver exists, the graph consumers' plans must contain NO
    graph-build stages — no bucketed self-join, no per-src top-k
    window — only the silver parquet scan.  A rewire regression
    (someone calling SIM.knn_graph inline again) fails here.  On the
    driver side of the graph-loop gate pagerank_topk's plan is a local
    relation, so the check also runs with broadcasts disabled, where
    the plan is the distributed recurrence."""
    from streaming_forex_data_pipeline_spark.llm.silvers import (
        knn_graph_silver,
        knn_union_graph_silver,
    )

    # ensure both silvers are built (idempotent)
    knn_graph_silver(spark, sf_dir).count()
    knn_union_graph_silver(spark, sf_dir).count()
    for side in gate_sides:
        with side() as name_of_side:
            for name in ("knn_graph", "pagerank_topk", "triangle_topk"):
                df = all_queries()[name].spark(spark, sf_dir)
                plan = df._jdf.queryExecution().optimizedPlan().toString()
                assert "row_number" not in plan, (
                    f"{name} still builds the kNN graph inline (top-k window "
                    f"in plan):\n{plan[:2000]}"
                )
                if name_of_side == "spark" and name == "pagerank_topk":
                    assert "LocalRelation" not in plan, plan[:2000]


@pytest.mark.parametrize(
    "name", ["dsir_select", "dsir_gumbel_select", "reservoir_sample"]
)
def test_topk_selections_compile_to_take_ordered(spark, sf_dir, name):
    """The rank-filter top-k faces must compile to a distributed
    TakeOrderedAndProject (per-partition partial top-k + k-row merge),
    with any Window sitting ABOVE it in the plan — i.e. ranking only
    the <= k surviving rows, never the corpus through a
    single-partition window."""
    df = all_queries()[name].spark(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, f"{name} lost the top-k rewrite"
    if "Window" in plan:
        # executed plans print parents first: Window must appear before
        # (above) the TakeOrdered that bounds its input
        assert plan.index("Window") < plan.index("TakeOrderedAndProject"), (
            f"{name}: a Window runs below the limit — corpus-sized "
            f"single-partition sort:\n{plan}"
        )


@pytest.mark.parametrize(
    "name",
    ["rollup_shipping", "cube_order_mix", "grouping_sets_revenue"],
)
def test_grouping_set_queries_use_one_expand(spark, sf_dir, name):
    """ROLLUP/CUBE/GROUPING SETS must compile to exactly ONE Expand
    feeding a single partial+final hash aggregate — the one-scan
    grouping-sets plan, never a UNION ALL of per-level scans (which
    would multiply scans and shuffles by the number of levels)."""
    df = all_queries()[name].spark(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") == 1, (
        f"{name}: expected exactly one Expand:\n{plan}"
    )
    assert plan.count("Scan parquet") <= 1, (
        f"{name}: grouping sets re-scanned the fact table:\n{plan}"
    )


def test_pivot_declared_values_skip_distinct_scan(spark, sf_dir):
    """pivot_event_matrix DECLARES its pivot values, so the plan must
    contain exactly one scan of events (the implicit value-discovery
    variant runs a separate distinct job first) and no Expand."""
    df = all_queries()["pivot_event_matrix"].spark(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, (
        f"pivot re-scanned events (undeclared pivot values?):\n{plan}"
    )


def test_quantize_int8_broadcasts_scales(spark, sf_dir):
    """The per-dimension scale model must reach the vectors via ONE
    broadcast (dims-sized), never a shuffle join keyed on the corpus."""
    df = all_queries()["quantize_int8"].spark(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, (
        f"quantize_int8 lost the scales broadcast:\n{plan}"
    )
    assert "SortMergeJoin" not in plan, (
        f"quantize_int8 shuffles the corpus to meet a 64-double "
        f"model:\n{plan}"
    )


def test_shipping_priority_broadcasts_dim_and_takes_ordered(spark, sf_dir):
    """The Q3-shaped star join must broadcast the filtered customer
    dimension (never shuffle the fact on c_custkey) and compile its
    top-10 to TakeOrderedAndProject."""
    df = all_queries()["shipping_priority"].spark(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, (
        f"customer dim lost its broadcast:\n{plan}"
    )
    assert "TakeOrderedAndProject" in plan, (
        f"top-10 lost the TakeOrdered rewrite:\n{plan}"
    )


def test_rolling_wau_exact_tier_avoids_nested_loop(spark, sf_dir):
    """The exact rolling-distinct yardstick must stay the explode-of-
    offsets EQUI-join: the naive days-x-events range predicate
    compiles to BroadcastNestedLoopJoin, which the 10x soak measured
    super-linear (exp 1.41 -> 0.27 after the rewrite).  Pin it."""
    df = all_queries()["rolling_wau_hll"].spark(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # exactly ONE nested-loop is sanctioned: the (days x 64-bucket)
    # register spine crossJoin, calendar-bounded on both sides.  A
    # second one means the events-side range predicate came back.
    assert plan.count("BroadcastNestedLoopJoin") <= 1, (
        f"rolling_wau_hll regressed to a nested-loop range join over "
        f"events:\n{plan}"
    )


def test_large_order_customers_aggregates_before_joins(spark, sf_dir):
    """The Q18 shape lives or dies on HAVING-BEFORE-JOIN: the
    l_orderkey quantity sum must run as a partial+final hash
    aggregate (map-side combine on the fact scan) and the top-100
    must compile to TakeOrderedAndProject — if either degrades, the
    dimension joins start moving per-lineitem rows."""
    df = all_queries()["large_order_customers"].spark(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, (
        f"top-100 lost the TakeOrdered rewrite:\n{plan}"
    )
    assert plan.count("HashAggregate") >= 2, (
        f"quantity sum lost its partial (map-side) aggregate:\n{plan}"
    )


def test_discounted_brand_revenue_pushes_both_side_relaxations(
    spark, sf_dir
):
    """The Q19 rewrite's whole point: the cross-side OR cannot push
    through the join, so the EXPLICIT per-side relaxations must reach
    BOTH parquet scans (brand/size on part, quantity on lineitem) and
    the pruned catalog must broadcast."""
    df = all_queries()["discounted_brand_revenue"].spark(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = [seg.split("]")[0] for seg in plan.split("PushedFilters: [")[1:]]
    nonempty = [p for p in pushed if p.strip()]
    assert len(nonempty) >= 2, (
        f"per-side relaxations did not reach both scans:\n{plan}"
    )
    assert any("p_brand" in p for p in nonempty), (
        f"brand arm filter missing from the part scan:\n{plan}"
    )
    assert any("l_quantity" in p for p in nonempty), (
        f"quantity union-range missing from the lineitem scan:\n{plan}"
    )
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, (
        f"pruned part catalog lost its broadcast:\n{plan}"
    )


def test_regional_supplier_volume_broadcasts_region_prune(spark, sf_dir):
    """The Q5 posture: the region-filtered nation frame broadcasts
    into BOTH customer and supplier (pruning 4/5 of each before any
    fact shuffle), and nothing compiles to a nested-loop join.  The
    supplier attach itself is deliberately unhinted (AQE's call), so
    only the broadcast COUNT and the nested-loop absence are pinned."""
    df = all_queries()["regional_supplier_volume"].spark(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2, (
        f"region-nation prune lost a broadcast:\n{plan}"
    )
    assert "BroadcastNestedLoopJoin" not in plan, (
        f"a join degenerated to nested-loop:\n{plan}"
    )


def test_funnel_bucketed_has_zero_user_keyed_exchanges(spark, sf_dir):
    """THE point of the bucketed silver layout: the identical funnel
    plan over the raw scan shuffles on user_id at every stage, while
    the bucketed probe satisfies every per-user distribution
    requirement from the layout — zero user-keyed Exchange nodes.
    Both sides asserted so the gate stays meaningful if the funnel
    shape ever changes."""
    qs = all_queries()
    raw = qs["funnel_conversion"].spark(spark, sf_dir)
    raw.count()
    raw_plan = raw._jdf.queryExecution().executedPlan().toString()
    assert raw_plan.count("Exchange hashpartitioning(user_id") > 0

    df = qs["funnel_bucketed"].spark(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(user_id") == 0, (
        f"bucketed funnel re-grew a user-keyed shuffle:\n{plan}"
    )


def test_props_json_stats_stays_jvm_side(spark, sf_dir):
    """JSON property extraction must never fall back to a Python UDF:
    the parse is a get_json_object expression in the scan-side
    projection (JVM codegen), feeding a partial-before-exchange
    aggregate."""
    df = all_queries()["props_json_stats"].spark(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "get_json_object" in plan
    assert "partial_count" in plan, (
        f"aggregate lost its map-side partial:\n{plan}"
    )


def test_cohort_bucketed_has_zero_user_keyed_exchanges(spark, sf_dir):
    """Second member of the bucketed-probe family: the cohort's
    per-user aggregate, (user, week) distinct, and user join must all
    come for free from the layout."""
    df = all_queries()["cohort_bucketed"].spark(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(user_id") == 0, (
        f"bucketed cohort re-grew a user-keyed shuffle:\n{plan}"
    )


def test_forecast_revenue_change_pushes_all_three_predicates(
    spark, sf_dir
):
    """Q6 is pure scan bandwidth at 100 TB: shipdate, discount, and
    quantity must ALL reach the lineitem parquet scan, and the read
    schema must carry only the needed columns."""
    df = all_queries()["forecast_revenue_change"].spark(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = "".join(
        seg.split("]")[0] for seg in plan.split("PushedFilters: [")[1:]
    )
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} filter not pushed to the scan:\n{plan}"
    read = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "l_orderkey" not in read and "l_tax" not in read, (
        f"scan reads more columns than the query needs: {read}"
    )


def test_bucketed_probes_stay_exchange_free_without_broadcasts(
    spark, sf_dir
):
    """The 100 TB shape of the bucketed probes, not the test-scale
    one: at real scale the stage frames exceed any broadcast
    threshold, so force the join path a cluster would take
    (autoBroadcastJoinThreshold = -1) and assert the sort-merge joins
    run CO-PARTITIONED straight off the bucketed scan — sorts, but
    zero user-keyed exchanges.  This is the layout contract itself,
    with the broadcast escape hatch removed."""
    # save/restore, NOT unset: unset reverts the SHARED session fixture
    # to Spark's 10MB hard default, silently flipping broadcast gates
    # in later-collected tests (the session pins 64MB at builder time)
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "-1")
    try:
        for name in ("funnel_bucketed", "cohort_bucketed"):
            df = all_queries()[name].spark(spark, sf_dir)
            df.count()
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan, (
                f"{name}: broadcast disable did not engage — the gate "
                f"is not testing the SMJ path:\n{plan}"
            )
            assert plan.count("Exchange hashpartitioning(user_id") == 0, (
                f"{name}: SMJ path re-grew a user-keyed shuffle — the "
                f"layout is not carrying the join:\n{plan}"
            )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_user_history_rollup_bucket_prunes(spark, sf_dir):
    """The serving face of the bucketed layout: a bucket-key equality
    filter must prune at the FILE INDEX — the scan reads 1 of 8
    bucket files (SelectedBucketsCount), not all files with a row
    filter."""
    import re

    df = all_queries()["user_history_rollup"].spark(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, f"bucket pruning did not engage:\n{plan}"
    assert int(m.group(1)) == 1 and int(m.group(2)) == 8, m.group(0)


def test_customer_order_distribution_aggregates_before_outer_join(
    spark, sf_dir
):
    """The Q13 shape: the order count must reduce to per-customer rows
    BEFORE the outer join (a partial+final hash aggregate under the
    join), the join itself must preserve no-match customers
    (LeftOuter), and the priority filter must push to the orders
    scan — in the WHERE-filter mistranslation the filter lands above
    the join and the zero bucket silently vanishes."""
    df = all_queries()["customer_order_distribution"].spark(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftOuter" in plan, f"outer join degraded to inner:\n{plan}"
    assert plan.count("HashAggregate") >= 4, (
        f"per-customer count lost its partial (map-side) stage:\n{plan}"
    )
    pushed = "".join(
        seg.split("]")[0] for seg in plan.split("PushedFilters: [")[1:]
    )
    assert "o_orderpriority" in pushed, (
        f"priority filter not pushed to the orders scan:\n{plan}"
    )
    # the aggregate must sit BELOW the outer join: the join's streamed
    # side is customer, its other side the aggregated orders — if the
    # aggregate ran above the join, the join would move per-order rows
    join_pos = plan.find("LeftOuter")
    assert "HashAggregate" in plan[join_pos:], (
        f"order-count aggregate is not below the outer join:\n{plan}"
    )


def test_small_qty_revenue_prunes_brand_before_stats(spark, sf_dir):
    """The Q17 decorrelation: the brand sliver of part must BROADCAST
    into BOTH fact passes (candidate scan and per-part stats), so the
    stats aggregate never touches lines of other brands — at 100 TB
    that pruning is the difference between scanning 1/#brands of the
    fact twice and scanning all of it."""
    df = all_queries()["small_qty_revenue"].spark(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2, (
        f"brand sliver does not broadcast into both fact passes:\n{plan}"
    )
    pushed = "".join(
        seg.split("]")[0] for seg in plan.split("PushedFilters: [")[1:]
    )
    assert "p_brand" in pushed, (
        f"brand filter not pushed to the part scan:\n{plan}"
    )


def test_waiting_supplier_ranking_cokeys_stats_and_probe(spark, sf_dir):
    """The Q21 aggregate rewrite: the order-status filter pushes to
    the orders scan, the supplier-name dimension broadcasts, and the
    top-100 compiles to TakeOrderedAndProject.  The per-order stats
    frame and the late-line probe are both keyed on l_orderkey, so
    their rejoin must not introduce a THIRD orderkey exchange beyond
    the two sides' own shuffles."""
    df = all_queries()["waiting_supplier_ranking"].spark(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, (
        f"top-100 lost the TakeOrdered rewrite:\n{plan}"
    )
    pushed = "".join(
        seg.split("]")[0] for seg in plan.split("PushedFilters: [")[1:]
    )
    assert "o_orderstatus" in pushed, (
        f"status filter not pushed to the orders scan:\n{plan}"
    )
    assert "BroadcastHashJoin" in plan, (
        f"supplier dimension does not broadcast:\n{plan}"
    )


def test_idle_customer_balance_anti_joins_and_broadcasts_scalar(
    spark, sf_dir
):
    """The Q22 rewrite: the NOT EXISTS must run as a LEFT ANTI join,
    the global scalar threshold as a broadcast nested-loop over ONE
    aggregated row (never a per-row subquery), and the urgent-order
    priority filter must push to the orders scan."""
    df = all_queries()["idle_customer_balance"].spark(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, f"NOT EXISTS did not become anti join:\n{plan}"
    assert "BroadcastNestedLoopJoin" in plan, (
        f"scalar threshold is not a broadcast one-row cross join:\n{plan}"
    )
    pushed = "".join(
        seg.split("]")[0] for seg in plan.split("PushedFilters: [")[1:]
    )
    assert "o_orderpriority" in pushed, (
        f"urgent filter not pushed to the orders scan:\n{plan}"
    )


@pytest.mark.parametrize(
    "name,pushed,features",
    [
        (
            "nation_trade_volume",
            ["l_shipdate"],
            ["BroadcastHashJoin"],  # nation-pair prunes into both dims
        ),
        (
            "market_share",
            ["o_orderdate", "p_type"],
            ["BroadcastHashJoin"],
        ),
        (
            "product_type_profit",
            ["p_name"],  # StartsWith pushes to the part scan
            ["BroadcastHashJoin"],
        ),
        (
            "supplier_diversity",
            ["p_brand", "p_size"],
            ["LeftAnti"],  # NOT IN as anti join on a non-null key
        ),
        (
            "dominant_part_suppliers",
            ["l_shipdate", "p_name"],
            ["LeftSemi"],  # IN as semi join on the distinct key list
        ),
    ],
)
def test_tpch_completion_postures(spark, sf_dir, name, pushed, features):
    """The round-10 TPC-H catalog completion, posture-pinned: each
    query's pruning predicates must reach their scans and its
    signature join shape (broadcast prune / anti / semi) must appear
    in the executed plan."""
    df = all_queries()[name].spark(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    got_pushed = "".join(
        seg.split("]")[0] for seg in plan.split("PushedFilters: [")[1:]
    )
    for col in pushed:
        assert col in got_pushed, (
            f"{name}: {col} not pushed to its scan:\n{plan}"
        )
    for feat in features:
        assert feat in plan, f"{name}: plan lost {feat}:\n{plan}"


def _orderkey_exchanges(plan: str) -> int:
    return plan.count("Exchange hashpartitioning(l_orderkey") + plan.count(
        "Exchange hashpartitioning(o_orderkey"
    )


@pytest.mark.parametrize(
    "raw_name,bucketed_name",
    [
        ("shipping_priority", "shipping_priority_bucketed"),
        ("large_order_customers", "large_order_customers_bucketed"),
    ],
)
def test_bucketed_fact_joins_zero_orderkey_exchanges(
    spark, sf_dir, raw_name, bucketed_name
):
    """THE point of the co-bucketed orders/lineitem silvers: the raw
    Q3/Q18 plans shuffle the facts on the order key, the bucketed
    probes satisfy the join AND the groupBy-l_orderkey aggregate from
    the layout.  Both sides asserted so the gate cannot rot if the
    query shapes change."""
    qs = all_queries()
    raw = qs[raw_name].spark(spark, sf_dir)
    raw.count()
    assert _orderkey_exchanges(
        raw._jdf.queryExecution().executedPlan().toString()
    ) > 0

    df = qs[bucketed_name].spark(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert _orderkey_exchanges(plan) == 0, (
        f"{bucketed_name} re-grew an orderkey shuffle:\n{plan}"
    )


def test_bucketed_fact_joins_smj_copartitioned_without_broadcasts(
    spark, sf_dir
):
    """The 100 TB shape: with the broadcast escape hatch removed
    (autoBroadcastJoinThreshold = -1) the orders-lineitem join must
    run as a sort-merge join CO-PARTITIONED straight off the bucketed
    scans — sorts allowed, orderkey exchanges not."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "-1")
    try:
        for name in (
            "shipping_priority_bucketed",
            "large_order_customers_bucketed",
        ):
            df = all_queries()[name].spark(spark, sf_dir)
            df.count()
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan, (
                f"{name}: broadcast disable did not engage:\n{plan}"
            )
            assert _orderkey_exchanges(plan) == 0, (
                f"{name}: SMJ path re-grew an orderkey shuffle:\n{plan}"
            )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_order_detail_lookup_bucket_prunes_both_sides(spark, sf_dir):
    """The serving face of the co-bucketed fact layout: the orderkey
    equality must prune BOTH silvers at the file index (1 of 8 bucket
    files each) and the header-lines join must be co-partitioned —
    zero orderkey exchanges."""
    import re

    df = all_queries()["order_detail_lookup"].spark(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    prunes = re.findall(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert len(prunes) == 2, f"bucket pruning lost a side:\n{plan}"
    assert all(p == ("1", "8") for p in prunes), prunes
    assert _orderkey_exchanges(plan) == 0, plan


def test_weekend_traffic_rollup_dynamic_partition_prunes(spark, sf_dir):
    """The date-partitioned silver's optimizer contract: the weekend
    dimension is a runtime frame, so the fact scan must carry a
    DYNAMIC pruning expression on the day partition column (no static
    predicate exists at plan time), and the aggregate must keep its
    map-side partial."""
    df = all_queries()["weekend_traffic_rollup"].spark(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression(day" in plan.lower(), (
        f"dynamic partition pruning did not engage on day:\n{plan}"
    )
    assert "partial_count" in plan, (
        f"rollup lost its map-side partial:\n{plan}"
    )


@pytest.mark.parametrize(
    "name", ["ema_native", "macd_native", "rsi_native", "atr_native"]
)
def test_native_indicator_tier_has_zero_python_workers(spark, sf_dir, name):
    """The whole point of the W2-chain native tier (round-10 verdict
    Next #8) is zero Python workers in the hot indicator path: the
    executed plan must contain no EvalPython / FlatMapGroupsInPandas
    node anywhere — only window + higher-order aggregate."""
    df = all_queries()[name].spark(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, f"{name} fell back to Python:\n{plan}"
    assert "FlatMapGroupsInPandas" not in plan
    assert "aggregate(" in plan or "Window" in plan
