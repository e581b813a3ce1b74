"""P7 random-forest importance invariants (no SQL oracle possible for
model internals) and feature-matrix alignment checks."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from streaming_forex_data_pipeline_spark.operators import importance as IMP
from streaming_forex_data_pipeline_spark.session import memo_entries
from streaming_forex_data_pipeline_spark.sources.tables import candles_from_events


def test_feature_matrix_alignment(spark, sf_dir):
    c = candles_from_events(spark, sf_dir)
    m = IMP.feature_matrix(c)
    # inner alignment: no nulls anywhere
    for col in (*IMP.FEATURES, "target"):
        assert m.filter(F.col(col).isNull()).count() == 0
    # target is genuinely the next row's return: spot-check one symbol
    rows = (
        m.filter(F.col("symbol") == "click").orderBy("ts").limit(5).collect()
    )
    base = (
        c.filter(F.col("symbol") == "click").orderBy("ts").toPandas()
    )
    closes = dict(zip(base["ts"], base["close"]))
    ts_sorted = sorted(closes)
    nxt = {a: closes[b] for a, b in zip(ts_sorted, ts_sorted[1:])}
    for r in rows:
        assert r["target"] == pytest.approx(nxt[r["ts"]] / closes[r["ts"]] - 1.0)


def test_rf_importance_invariants(spark, sf_dir):
    c = candles_from_events(spark, sf_dir)
    out = IMP.random_forest_importance(c).collect()
    assert {r["feature"] for r in out} == set(IMP.FEATURES)
    imps = [r["importance"] for r in out]
    assert all(v >= 0 for v in imps)
    assert sum(imps) == pytest.approx(1.0, abs=1e-6)

    # determinism under a fixed seed
    again = IMP.random_forest_importance(c).collect()
    assert {(r["feature"], round(r["importance"], 9)) for r in again} == {
        (r["feature"], round(r["importance"], 9)) for r in out
    }


def test_rf_importance_pinned_ordering(spark, sf_dir):
    """The driver's rf_importance check is rows-only (no SQL oracle for
    model internals), so pin the seed-42 importance RANKING on the
    default fixture: 'reproducible + sane', not just '5 rows came
    back'.  Momentum/returns dominate the next-bar-return target by
    construction of the synthetic walk."""
    if not sf_dir.endswith("sf0.001"):
        pytest.skip("ordering pinned on the sf0.001 fixture only")
    c = candles_from_events(spark, sf_dir)
    out = IMP.random_forest_importance(c).collect()
    ranked = [r["feature"] for r in sorted(out, key=lambda r: -r["importance"])]
    assert ranked == ["mom_5", "ret_1", "body_frac", "range_frac", "activity"]
    top = max(out, key=lambda r: r["importance"])
    assert top["importance"] == pytest.approx(0.4045, abs=0.02)


def test_lasso_importance_deterministic(spark, sf_dir):
    """lasso_importance has no SQL oracle (model output), so the check
    is fixed-regularization reproducibility plus structural sanity:
    5 features, importance = |coefficient| >= 0."""
    c = candles_from_events(spark, sf_dir)
    out = IMP.lasso_importance(c).collect()
    assert {r["feature"] for r in out} == set(IMP.FEATURES)
    for r in out:
        assert r["importance"] == pytest.approx(abs(r["coefficient"]))
        assert r["importance"] >= 0.0
    again = IMP.lasso_importance(c).collect()
    assert {(r["feature"], round(r["importance"], 9)) for r in again} == {
        (r["feature"], round(r["importance"], 9)) for r in out
    }


def test_rfe_importance_contract(spark, sf_dir):
    """rfe_importance has no SQL oracle (model-driven elimination), so
    the checks are the sklearn ranking contract, fixed-seed
    determinism, and — on the default fixture — the pinned elimination
    outcome (the same 'reproducible + sane' bar as rf_importance)."""
    c = candles_from_events(spark, sf_dir)
    out = IMP.rfe_importance(c).collect()
    assert {r["feature"] for r in out} == set(IMP.FEATURES)
    by_rank = sorted(out, key=lambda r: r["rfe_rank"])
    # n_select=2 survivors at rank 1, then 2,3,4 — no gaps, no ties
    assert [r["rfe_rank"] for r in by_rank] == [1, 1, 2, 3, 4]
    for r in out:
        assert r["selected"] == (r["rfe_rank"] == 1)
        assert r["rank_score"] == pytest.approx(1.0 / r["rfe_rank"])
    again = IMP.rfe_importance(c).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))
    if sf_dir.endswith("sf0.001"):
        # RF importances on the fixture put mom_5/ret_1 on top (see
        # test_rf_importance_pinned_ordering); RFE must keep them
        assert {r["feature"] for r in out if r["selected"]} == {
            "mom_5",
            "ret_1",
        }


def test_importance_goldens_exact(spark, sf_dir):
    """Freshness gate for the golden-PARQUET oracles of the 3 spark.ml
    importance queries (round 13: _pin_fit_layout made the fits
    session-shape-independent, so the goldens are no longer pinned to
    local[4] — they hold under ANY session shape, which is exactly
    what lets the driver hash-check them).  A fresh Spark run must
    reproduce the pinned golden slice EXACTLY, else the pipeline moved
    without a tests/goldens/regen_importance.py regen and the driver's
    hash check would go red."""
    import os

    import duckdb
    import pandas as pd

    import __spark_entry__ as E
    from streaming_forex_data_pipeline_spark.plans.goldens import (
        events_md5_sql,
    )

    goldens_dir = os.path.join(os.path.dirname(__file__), "goldens")
    # the same content fingerprint regen_importance.events_md5 writes
    # and the oracle's WHERE recomputes — all three sites share ONE
    # SQL definition
    fp = duckdb.execute(
        events_md5_sql(f"'{sf_dir}/events.parquet'")
    ).fetchone()[0]
    qs = E.queries()
    for name in ("rf_importance", "lasso_importance", "rfe_importance"):
        golden = pd.read_parquet(
            os.path.join(goldens_dir, f"{name}.parquet")
        )
        want = (
            golden[golden["corpus_md5"] == fp]
            .drop(columns=["corpus_md5"])
            .reset_index(drop=True)
        )
        assert len(want), f"{name}: no golden slice for events_md5={fp}"
        got = qs[name](spark, sf_dir).toPandas()
        cols = sorted(got.columns)
        a = got[cols].sort_values(cols).reset_index(drop=True)
        b = want[cols].sort_values(cols).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b, check_exact=True)
        # seed stability: a second run must reproduce the golden
        # bit-for-bit, not merely rank-equivalently
        again = qs[name](spark, sf_dir).toPandas()
        a2 = again[cols].sort_values(cols).reset_index(drop=True)
        pd.testing.assert_frame_equal(a2, b, check_exact=True)


@pytest.mark.slow  # r15: slow lane (see pytest.ini)
def test_fit_cache_shared_across_faces(spark, sf_dir):
    """The fits memoized on the candle frame (`session_memo`, r13,
    wired r14) must make the four model-consuming faces share fits:
    after rf + lasso + rfe run, `consensus_all_methods` must add ZERO
    new fit entries (it replays every model from the memo), and RFE's
    first elimination round must share random_forest_importance's
    all-features fit (same key) rather than re-fitting it."""
    c = candles_from_events(spark, sf_dir)
    memo_entries(c).clear()

    IMP.random_forest_importance(c).collect()
    keys_rf = set(memo_entries(c))
    rf_fit_keys = {k for k in keys_rf if k.startswith("rf:")}
    assert len(rf_fit_keys) == 1

    IMP.rfe_importance(c).collect()
    keys_rfe = set(memo_entries(c))
    # n_features=5 -> eliminate down to 2 = 3 rounds; round 1 (all
    # features) must be the SAME key rf_importance already cached
    assert rf_fit_keys < keys_rfe
    assert len({k for k in keys_rfe if k.startswith("rf:")}) == 3

    IMP.lasso_importance(c).collect()
    keys_before = set(memo_entries(c))

    out = IMP.consensus_all_methods(c)
    assert out.count() == len(IMP.FEATURES)
    assert set(memo_entries(c)) == keys_before, (
        "consensus_all_methods must replay cached fits, not re-fit"
    )


def test_consensus_all_methods_null_method_averaging(spark):
    """Reference fidelity (advice r13): create_consensus_ranking
    averages over the METHODS PRESENT per feature.  A feature whose
    correlation/f_statistic is undefined (zero-variance feature →
    corr NULL) must still get a non-NULL consensus from the methods
    that did report it, with methods_count reflecting the actual
    panel size — not a NULL row claiming methods_count=6."""
    import datetime as dt
    import math

    rows = []
    base = dt.datetime(2024, 1, 1)
    px = 100.0
    for i in range(60):
        px = px * (1.0 + 0.01 * math.sin(i * 1.7) + 0.003 * ((i * 7) % 5 - 2))
        o = px * (1.0 + 0.002 * math.cos(i * 3.1))
        # high == low == close -> range_frac is EXACTLY 0 for every
        # row: zero variance, corr(x, y) undefined -> NULL score for
        # correlation AND f_statistic on that feature
        rows.append(
            ("S", base + dt.timedelta(hours=i), o, px, px, px,
             1000.0 + i, 10 + (i % 4))
        )
    candles = spark.createDataFrame(
        rows,
        ["symbol", "ts", "open", "high", "low", "close", "volume",
         "n_events"],
    )
    out = {r["feature"]: r for r in IMP.consensus_all_methods(candles).collect()}
    assert set(out) == set(IMP.FEATURES)
    degen = out["range_frac"]
    assert degen["methods_count"] < 6
    assert degen["methods_count"] >= 3
    assert degen["consensus_score"] is not None
    assert not math.isnan(degen["consensus_score"])
    for f in IMP.FEATURES:
        assert out[f]["consensus_score"] is not None, f
        assert out[f]["methods_count"] == (
            6 if f != "range_frac" else degen["methods_count"]
        )
