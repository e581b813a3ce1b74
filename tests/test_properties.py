"""Property-based operator invariants (hypothesis).

The oracle-parity sweep checks one dataset; these properties pin
behavior on adversarial shapes — empty frames, single rows, all-equal
prices, extreme values — where window/aggregate edge cases live.
Examples are capped small: each runs through a real SparkSession.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

price = st.floats(
    min_value=1e-3, max_value=1e6, allow_nan=False, allow_infinity=False
)


def _candles(spark, rows):
    return spark.createDataFrame(
        [
            ("S", float(i), o, max(o, h, lo, c), min(o, h, lo, c), c, v)
            for i, (o, h, lo, c, v) in enumerate(rows)
        ],
        "symbol string, ts double, open double, high double, low double, "
        "close double, volume double",
    )


@given(
    rows=st.lists(
        st.tuples(price, price, price, price, price), min_size=0, max_size=12
    )
)
@settings(**SETTINGS)
def test_fix_ohlc_always_consistent(spark, rows):
    """After D6 correction every row satisfies the D5 invariant,
    regardless of input geometry."""
    from streaming_forex_data_pipeline_spark.operators import quality as Q

    df = spark.createDataFrame(
        [("S", float(i), o, h, lo, c) for i, (o, h, lo, c, _v) in enumerate(rows)],
        "symbol string, ts double, open double, high double, low double, "
        "close double",
    )
    out = Q.fix_ohlc(df).collect()
    for r in out:
        assert r["high"] >= max(r["open"], r["close"])
        assert r["low"] <= min(r["open"], r["close"])
        assert r["high"] >= r["low"]


@given(
    rows=st.lists(
        st.tuples(price, price, price, price, price), min_size=2, max_size=12
    )
)
@settings(**SETTINGS)
@pytest.mark.slow  # r15: slow lane (see pytest.ini)
def test_normalization_roundtrip_identity(spark, rows):
    """N4 ∘ N5 == identity (within float tolerance) for every method,
    including degenerate all-equal columns (zero range → 0 → constant)."""
    from streaming_forex_data_pipeline_spark.operators import normalize as N

    df = _candles(spark, rows)
    params = N.fit_params(df, ["close"])
    p = params.collect()[0]
    degenerate = {
        "minmax": p["close__max"] == p["close__min"],
        "zscore": p["close__std"] == 0,
        "robust": p["close__q75"] == p["close__q25"],  # zero IQR happens
    }
    for method in ("minmax", "zscore", "robust"):
        if degenerate[method]:
            continue  # scale parameter 0: normalized to 0, denorm gives center
        norm = N.apply_normalization(df, params, ["close"], method)
        denorm = N.denormalize(norm, params, ["close"], method)
        for r in denorm.select("close", "close_denorm").collect():
            assert math.isclose(
                r["close"], r["close_denorm"], rel_tol=1e-9, abs_tol=1e-9
            )


@given(
    vals=st.lists(price, min_size=1, max_size=14),
    n=st.integers(min_value=1, max_value=5),
)
@settings(**SETTINGS)
def test_sma_bounded_by_window_extremes(spark, vals, n):
    """W1: each SMA value lies within [min, max] of its trailing window,
    and is null before min_periods."""
    from streaming_forex_data_pipeline_spark.operators import indicators as I

    df = spark.createDataFrame(
        [("S", float(i), v) for i, v in enumerate(vals)],
        "symbol string, ts double, close double",
    )
    out = (
        df.withColumn("sma", I.sma("close", n)).orderBy("ts").collect()
    )
    for i, r in enumerate(out):
        if i + 1 < n:
            assert r["sma"] is None
        else:
            window = vals[i + 1 - n : i + 1]
            assert min(window) - 1e-9 <= r["sma"] <= max(window) + 1e-9


@given(rows=st.lists(st.tuples(price, price), min_size=0, max_size=10))
@settings(**SETTINGS)
def test_dedup_keep_first_idempotent(spark, rows):
    """D1 applied twice equals D1 applied once, and output keys are
    unique."""
    from streaming_forex_data_pipeline_spark.operators import quality as Q

    data = [("S", float(i % 3), v, i) for i, (v, _x) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "symbol string, ts double, close double, seq long"
    )
    once = Q.dedup_keep_first(df, ["symbol", "ts"], "seq")
    twice = Q.dedup_keep_first(once, ["symbol", "ts"], "seq")
    got = sorted(map(tuple, once.collect()))
    assert got == sorted(map(tuple, twice.collect()))
    keys = [(r[0], r[1]) for r in got]
    assert len(keys) == len(set(keys))
    # keep-FIRST: the surviving seq is the minimum per key
    for _sym, ts, _close, seq in got:
        assert seq == min(s for (_y, t, _c, s) in data if t == ts)


def test_cents_sums_are_partition_order_invariant(spark):
    """The integer-cents aggregation pattern (pricing_summary,
    daily_stats, normalize_zscore, vwap_daily, ...) must produce
    bit-identical results under ANY partitioning — including adversarial
    data where plain double summation provably depends on association
    order (catastrophic absorption: 1e13 + 0.01 == 1e13 in doubles, so
    a float sum loses the small addends or not depending on merge
    order).  This is the property that makes the engine's group
    aggregates safe on a 1000-executor cluster."""
    from decimal import Decimal

    small = [0.01] * 10_000
    data = [1e13] + small + [-1e13]
    truth = Decimal("100.00")  # 10k cents, the big terms cancel exactly

    cents = F.round(F.col("v") * 100).cast("bigint")
    results = []
    for parts in (1, 97):
        df = spark.createDataFrame([(x,) for x in data], "v double")
        df = df.repartition(parts)
        r = df.agg(
            (F.sum(cents) / 100.0).alias("exact"),
            F.sum("v").alias("naive"),
        ).collect()[0]
        results.append((repr(r["exact"]), r["naive"]))
        assert Decimal(repr(r["exact"])) == truth, parts
    # bit-identical across partitionings (repr-compare, the gate's
    # hash semantics)
    assert results[0][0] == results[1][0]
    # the float control shows the hazard is real on this data: at least
    # one partitioning already absorbed the cents into the 1e13 terms
    assert any(abs(naive - 100.0) > 1.0 for _e, naive in results)


def test_exact_window_stats_match_float_definitions(spark):
    """sma_exact / rolling_std_exact / rolling_corr_exact compute the
    same statistic as the float window forms (to float tolerance) on
    2dp-grid data — the exactness changes the arithmetic, never the
    semantics."""
    import random

    from streaming_forex_data_pipeline_spark.operators import advanced as A
    from streaming_forex_data_pipeline_spark.operators import indicators as I

    rng = random.Random(7)
    rows = [
        (
            "S",
            float(i),
            round(rng.uniform(1, 500), 2),   # open
            round(rng.uniform(1, 500), 2),   # high
            round(rng.uniform(1, 500), 2),   # low
            round(rng.uniform(1, 500), 2),   # close
            round(rng.uniform(0, 1000), 2),  # volume
        )
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows,
        "symbol string, ts double, open double, high double, low double, "
        "close double, volume double",
    )
    cents = lambda c: F.round(F.col(c) * 100).cast("bigint")  # noqa: E731
    out = df.select(
        I.sma("close", 20).alias("sma_f"),
        I.sma_exact("close", 20).alias("sma_i"),
        I.rolling_std("close", 20).alias("std_f"),
        I.rolling_std_exact("close", 20).alias("std_i"),
        A.rolling_corr(F.col("open"), F.col("close"), 20).alias("corr_f"),
        A.rolling_corr_exact(cents("open"), cents("close"), 20).alias(
            "corr_i"
        ),
    ).collect()
    for r in out:
        for a, b in (
            (r["sma_f"], r["sma_i"]),
            (r["std_f"], r["std_i"]),
            (r["corr_f"], r["corr_i"]),
        ):
            assert (a is None) == (b is None)
            if a is not None:
                assert math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def test_simhash_table_matches_column_fold(spark):
    """The exploded codegen SimHash (simhash_table) must produce
    bit-identical signatures to the 32-fold column form it replaced,
    including the all-bits-set empty-document convention."""
    from streaming_forex_data_pipeline_spark.llm import dedup as D

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),
            (3, "alpha beta gamma DELTA epsilon"),
            (4, "completely different words entirely here"),
            (5, ""),
            (6, "   "),
            (7, "one"),
        ],
        "doc_id long, text string",
    )
    fold = docs.select(
        "doc_id",
        D.simhash_from_hashes(
            F.transform(D.token_set("text"), D.portable_token_hash), 32
        ).alias("sh"),
    )
    table = D.simhash_table(docs, "text", 32)
    a = {r["doc_id"]: r["sh"] for r in fold.collect()}
    b = {r["doc_id"]: r["sh"] for r in table.collect()}
    assert a == b
    assert a[1] == a[2]  # identical docs, identical fingerprints


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=0,
        max_size=40,
    )
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_connected_components_matches_union_find(spark, gate_sides, edges):
    """connected_components equals a sequential union-find on random
    graphs — including self-loops, duplicate edges, and chains long
    enough to need several propagation rounds."""
    from streaming_forex_data_pipeline_spark.llm import dedup as DD

    edges = [(a, b) for a, b in edges if a != b]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}

    if not edges:
        df = spark.createDataFrame([], "doc_a long, doc_b long")
    else:
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    for side in gate_sides:
        with side():
            got = {
                r["node"]: r["cluster_id"]
                for r in DD.connected_components(df).collect()
            }
            assert got == want


@given(
    words=st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=6),
        min_size=1,
        max_size=25,
    ),
    n_merges=st.integers(min_value=1, max_value=3),
)
@settings(**SETTINGS)
@pytest.mark.slow  # r15: slow lane (see pytest.ini)
def test_bpe_train_textbook_parity_on_random_corpora(spark, words, n_merges):
    """The merge table equals a pure-Python textbook BPE over ANY word
    multiset — including repeated-pair chains ('aaaa') and ties, the
    shapes that exposed the single-space replace bug."""
    from streaming_forex_data_pipeline_spark.llm import vocab as VB

    docs = spark.createDataFrame(
        [(0, " ".join(words))], "doc_id long, text string"
    )
    got = [
        (r["step"], r["left"], r["right"], r["pair_count"])
        for r in VB.bpe_train(docs, n_merges=n_merges).orderBy("step").collect()
    ]
    counts: dict[tuple[str, ...], int] = {}
    for w in words:
        counts[tuple(w)] = counts.get(tuple(w), 0) + 1
    want = []
    for step in range(1, n_merges + 1):
        pc: dict[tuple[str, str], int] = {}
        for syms, wc in counts.items():
            for i in range(len(syms) - 1):
                pc[syms[i], syms[i + 1]] = pc.get(
                    (syms[i], syms[i + 1]), 0
                ) + wc
        if not pc:
            break
        (l, r), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((step, l, r, c))
        nxt: dict[tuple[str, ...], int] = {}
        for syms, wc in counts.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt[tuple(out)] = nxt.get(tuple(out), 0) + wc
        counts = nxt
    assert got == want


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["x", "y", "z", "w"]), min_size=0, max_size=8
        ).map(" ".join),
        min_size=2,
        max_size=10,
    ),
    cut_frac=st.floats(min_value=0.2, max_value=0.8),
)
@settings(**SETTINGS)
@pytest.mark.slow  # r15: slow lane (see pytest.ini)
def test_incremental_dedup_equals_restricted_full_set(spark, texts, cut_frac):
    """For ANY corpus and cutoff, incremental pairs == full pairs
    restricted to new-touching, at threshold 1.0."""
    from streaming_forex_data_pipeline_spark.llm import dedup as DD

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    cutoff = int(len(texts) * cut_frac)
    full = {
        (r["doc_a"], r["doc_b"])
        for r in DD.near_duplicate_pairs(
            docs, threshold=1.0, bands=1
        ).collect()
    }
    got = {
        (r["doc_a"], r["doc_b"])
        for r in DD.incremental_near_dup_pairs(
            docs, F.col("doc_id") >= cutoff, threshold=1.0, bands=1
        ).collect()
    }
    want = {p for p in full if p[0] >= cutoff or p[1] >= cutoff}
    assert got == want


def test_reservoir_sample_invariant_under_partitioning(spark):
    """The A-Res sample is a pure function of (seed, id, weight), so
    ANY physical partitioning must pick the identical rows in the
    identical order — the determinism contract a 100 TB rerun needs."""
    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.llm import corpus as CO

    base = spark.range(0, 500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 17 + 1.0).alias("w")
    )
    picks = []
    for parts in (1, 3, 11):
        got = CO.weighted_reservoir_sample(
            base.repartition(parts), k=20, weight_col="w", seed="p1"
        ).orderBy("sample_rank").collect()
        picks.append([(r["doc_id"], r["res_key"]) for r in got])
    assert picks[0] == picks[1] == picks[2] and len(picks[0]) == 20


@given(
    vals=st.lists(
        st.integers(min_value=-50, max_value=1100), min_size=5, max_size=120
    )
)
@settings(**SETTINGS)
def test_histogram_quantile_within_one_bin(spark, vals):
    """For arbitrary integer value multisets, the histogram-sketch
    quantile estimate lands within one bin width of the exact order
    statistic (under/overflow clamp to lo/hi), for every q."""
    from streaming_forex_data_pipeline_spark.llm import corpus as CO

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "doc_id long, x long"
    )
    sk = CO.histogram_sketch(df, "x", lo=0.0, hi=1000.0, n_bins=50)
    qs = (0.1, 0.5, 0.95)
    got = {
        r["q"]: r["est_value"]
        for r in CO.histogram_quantiles(
            sk, qs, lo=0.0, hi=1000.0, n_bins=50
        ).collect()
    }
    svals = sorted(vals)
    for q in qs:
        exact = svals[max(0, math.ceil(q * len(svals)) - 1)]
        clamped = min(max(exact, 0), 1000)
        assert abs(got[q] - clamped) <= 20.0 + 1e-9
