"""Technical-indicator operators (SURVEY §2.5, W-series).

All are per-symbol ordered-by-time window expressions — pure Column
algebra so whole-stage codegen applies; no Python in the hot path.
Rolling semantics replicate pandas ``rolling(N)`` (min_periods=N →
null until N rows exist), matching the reference implementations in
app/services/preprocessing/feature_engineer.py and
app/services/analysis/advanced_feature_engineer.py.

Scale: every window is partitioned by symbol → embarrassingly parallel
across symbols; a single window-sort per symbol partition is reused by
all frames over the same ordering.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

SYMBOL = "symbol"
TS = "ts"


def w_ordered(symbol: str = SYMBOL, ts: str = TS) -> WindowSpec:
    return Window.partitionBy(symbol).orderBy(ts)


def w_rows(n: int, symbol: str = SYMBOL, ts: str = TS) -> WindowSpec:
    """Trailing frame of the last n rows (inclusive)."""
    return w_ordered(symbol, ts).rowsBetween(-(n - 1), 0)


def _rn(symbol: str = SYMBOL, ts: str = TS) -> Column:
    return F.row_number().over(w_ordered(symbol, ts))


def _min_periods(n: int, expr: Column, symbol: str = SYMBOL, ts: str = TS) -> Column:
    """pandas rolling(N) parity: null until the frame holds N rows
    (reference rolling defaults, feature_engineer.py:95-103)."""
    return F.when(_rn(symbol, ts) >= n, expr)


def sma(col: str, n: int) -> Column:
    """W1 — simple moving average (feature_engineer.py:95-103)."""
    return _min_periods(n, F.avg(col).over(w_rows(n)))


def rolling_std(col: str, n: int) -> Column:
    """Sample stddev over trailing n rows (pandas ddof=1 default,
    feature_engineer.py:163-187)."""
    return _min_periods(n, F.stddev_samp(col).over(w_rows(n)))


def rolling_min(col: str, n: int) -> Column:
    return _min_periods(n, F.min(col).over(w_rows(n)))


def rolling_max(col: str, n: int) -> Column:
    return _min_periods(n, F.max(col).over(w_rows(n)))


def price_change(col: str = "close") -> Column:
    """W8 — absolute diff vs previous row (feature_engineer.py:225)."""
    return F.col(col) - F.lag(col).over(w_ordered())


def pct_change(col: str = "close") -> Column:
    """W8 — fractional change vs previous row (feature_engineer.py:226)."""
    prev = F.lag(col).over(w_ordered())
    return F.when(prev != 0, (F.col(col) - prev) / prev)


def momentum(col: str, n: int) -> Column:
    """W11 — close/close[-n] - 1, ×100 (feature_engineer.py:252-256)."""
    prev = F.lag(col, n).over(w_ordered())
    return F.when(prev != 0, (F.col(col) / prev - 1.0) * 100.0)


def cents(col: str) -> Column:
    """Exact integer 1e-2 units of a 2dp-grid column (close/open/high/
    low/volume in this engine's candle model all come off the events
    2dp value grid).  round() recovers the exact integer from the
    double's ≤1e-12 representation error."""
    return F.round(F.col(col) * 100).cast("bigint")


def sma_exact(col: str, n: int) -> Column:
    """W1 on a 2dp-grid column via integer-cents frame sums: the sum is
    exact under ANY frame-evaluation/association order, so the result
    is bit-identical across engines and window implementations —
    unlike a double avg, whose association order is an engine-internal
    choice (boundary_audit.py found band values within 5e-11 of
    round(,6) boundaries)."""
    return _min_periods(n, F.sum(cents(col)).over(w_rows(n)).cast("double") / (100.0 * n))


def rolling_std_exact(col: str, n: int) -> Column:
    """Sample stddev (pandas ddof=1) on a 2dp-grid column from exact
    integer power sums: sd = sqrt((n·Σc² − (Σc)²)/(n(n−1)))/100.
    n·Σc² − (Σc)² is exact in int64 for any fixed frame (c ≤ ~5e4
    cents, n ≤ ~1e3) and ≥ 0 by Cauchy-Schwarz."""
    s1 = F.sum(cents(col)).over(w_rows(n))
    s2 = F.sum(cents(col) * cents(col)).over(w_rows(n))
    var_int = F.lit(n) * s2 - s1 * s1
    return _min_periods(
        n, F.sqrt(var_int.cast("double") / float(n * (n - 1))) / 100.0
    )


def bollinger(n: int = 20, k: float = 2.0) -> dict[str, Column]:
    """W5 — Bollinger bands (feature_engineer.py:163-187); mid/sd from
    exact integer-cents sums (close is grid-valued — see sma_exact)."""
    mid = sma_exact("close", n)
    sd = rolling_std_exact("close", n)
    upper = mid + k * sd
    lower = mid - k * sd
    width = F.when(mid != 0, (upper - lower) / mid)
    pct_b = F.when((upper - lower) != 0, (F.col("close") - lower) / (upper - lower))
    return {
        "bb_middle": mid,
        "bb_upper": upper,
        "bb_lower": lower,
        "bb_width": width,
        "bb_pct_b": pct_b,
    }


def true_range() -> Column:
    """W6 — TR = max(h-l, |h-prev_c|, |l-prev_c|)
    (feature_engineer.py:189-204)."""
    prev_close = F.lag("close").over(w_ordered())
    hl = F.col("high") - F.col("low")
    return F.when(prev_close.isNull(), hl).otherwise(
        F.greatest(
            hl,
            F.abs(F.col("high") - prev_close),
            F.abs(F.col("low") - prev_close),
        )
    )


def price_position(n: int) -> Column:
    """W10 — (close - min low) / (max high - min low) × 100
    (feature_engineer.py:242-250)."""
    lo = F.min("low").over(w_rows(n))
    hi = F.max("high").over(w_rows(n))
    return _min_periods(
        n, F.when(hi != lo, (F.col("close") - lo) / (hi - lo) * 100.0)
    )


def williams_r(n: int = 14) -> Column:
    """W15 — -100·(HH-close)/(HH-LL)
    (advanced_feature_engineer.py:81-87)."""
    hh = F.max("high").over(w_rows(n))
    ll = F.min("low").over(w_rows(n))
    return _min_periods(n, F.when(hh != ll, -100.0 * (hh - F.col("close")) / (hh - ll)))


def stochastic(n: int = 14, d: int = 3) -> dict[str, Column]:
    """W16 — %K = 100·(close-LL)/(HH-LL); %D = SMA(d) of %K
    (advanced_feature_engineer.py:89-98).

    %D is computed by the caller over a materialized %K column (nested
    window) — see plans/timeseries.py.
    """
    hh = F.max("high").over(w_rows(n))
    ll = F.min("low").over(w_rows(n))
    k = _min_periods(n, F.when(hh != ll, 100.0 * (F.col("close") - ll) / (hh - ll)))
    return {"stoch_k": k}


def donchian(n: int = 20) -> dict[str, Column]:
    """W22 — Donchian channels (advanced_feature_engineer.py:228-233)."""
    upper = rolling_max("high", n)
    lower = rolling_min("low", n)
    return {
        "donchian_upper": upper,
        "donchian_lower": lower,
        "donchian_middle": (upper + lower) / 2.0,
    }


def obv_proxy() -> Column:
    """W23 — cumulative (high-low) signed by close direction
    (advanced_feature_engineer.py:235-252; vectorized: the reference's
    Python loop is a running sum)."""
    dclose = F.col("close") - F.lag("close").over(w_ordered())
    signed = (
        F.when(dclose > 0, F.col("high") - F.col("low"))
        .when(dclose < 0, -(F.col("high") - F.col("low")))
        .otherwise(F.lit(0.0))
    )
    return F.sum(signed).over(
        w_ordered().rowsBetween(Window.unboundedPreceding, 0)
    )


def candle_anatomy() -> dict[str, Column]:
    """W14 — body/shadow geometry + doji flag
    (feature_engineer.py:275-280)."""
    body = F.abs(F.col("close") - F.col("open"))
    upper = F.col("high") - F.greatest("open", "close")
    lower = F.least("open", "close") - F.col("low")
    rng = F.col("high") - F.col("low")
    return {
        "body_size": body,
        "upper_shadow": upper,
        "lower_shadow": lower,
        "candle_range": rng,
        "is_doji": (body < 0.1 * rng).cast("int"),
    }


def gap_open() -> dict[str, Column]:
    """W28 — open gap vs previous close (market_filters.py:161-184)."""
    prev_close = F.lag("close").over(w_ordered())
    gap = F.when(prev_close != 0, (F.col("open") - prev_close) / prev_close * 100.0)
    return {
        "gap_pct": gap,
        "gap_direction": (
            F.when(gap > 0.1, F.lit("up"))
            .when(gap < -0.1, F.lit("down"))
            .otherwise(F.lit("none"))
        ),
    }
