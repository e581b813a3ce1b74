"""Advanced-indicator queries (W17-W21, W24-W27).

Spark side: operators.advanced (window Column algebra; PSAR is the one
applyInPandas kernel).  Oracle side mirrors every closed form —
including the pandas bias-corrected skew/kurt formulas and the
list-window tricks for MAD / argmax-position / trailing percent-rank —
so both engines evaluate identical arithmetic.

DuckDB quirk handled throughout: least/greatest PROPAGATE NULL there
(Spark skips nulls), so shifted terms are wrapped in coalesce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import advanced as A
from ..sources.tables import CANDLES_CTE, candles_from_events
from .oracle_sql import _W
from .registry import register

R = 6


def _fr(n: int) -> str:
    return f"{_W} ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW"


@register(
    "cci",
    oracle=CANDLES_CTE
    + f"""
, base AS (
  SELECT symbol, ts, (high + low + close) / 3.0 AS tp,
         row_number() OVER ({_W}) AS rn
  FROM candles
),
arr AS (
  SELECT symbol, ts, tp, rn,
         list(tp) OVER ({_fr(20)}) AS l,
         avg(tp)  OVER ({_fr(20)}) AS sma_tp
  FROM base
),
m AS (
  SELECT symbol, ts, tp, rn, sma_tp,
         list_sum(list_transform(l, x -> abs(x - list_sum(l) / len(l)))) / len(l) AS mad
  FROM arr
)
SELECT symbol, ts,
       round(coalesce(
         CASE WHEN rn >= 20 AND mad <> 0 THEN
           (tp - sma_tp) / (0.015 * mad)
         END, 0.0), 6) AS cci_20
FROM m
ORDER BY symbol, ts
""",
    doc="W17 — CCI(20, 0.015) with rolling mean absolute deviation via "
    "a bounded list window (advanced_feature_engineer.py:100-110); "
    "warm-up and 0/0 rows -> 0 per reference fillna(0).",
)
def cci(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = candles_from_events(spark, sf_dir)
    return c.select(
        "symbol",
        "ts",
        F.round(F.coalesce(A.cci(), F.lit(0.0)), R).alias("cci_20"),
    ).orderBy("symbol", "ts")


@register(
    "adx",
    oracle=CANDLES_CTE
    + f"""
, base AS (
  SELECT symbol, ts, high, low, close,
         high - lag(high) OVER ({_W}) AS up,
         lag(low) OVER ({_W}) - low AS down,
         greatest(high - low,
                  coalesce(abs(high - lag(close) OVER ({_W})), 0.0),
                  coalesce(abs(low  - lag(close) OVER ({_W})), 0.0)) AS tr,
         row_number() OVER ({_W}) AS rn
  FROM candles
),
dm AS (
  SELECT symbol, ts, tr, rn,
         CASE WHEN up > down AND up > 0 THEN up ELSE 0.0 END AS dm_plus,
         CASE WHEN down > up AND down > 0 THEN down ELSE 0.0 END AS dm_minus
  FROM base
),
sm AS (
  SELECT symbol, ts, rn,
         CASE WHEN rn >= 14 THEN avg(tr) OVER ({_fr(14)}) END AS tr_s,
         CASE WHEN rn >= 14 THEN avg(dm_plus) OVER ({_fr(14)}) END AS dmp_s,
         CASE WHEN rn >= 14 THEN avg(dm_minus) OVER ({_fr(14)}) END AS dmm_s
  FROM dm
),
dx AS (
  SELECT symbol, ts, rn,
         CASE WHEN tr_s <> 0
               AND 100.0 * dmp_s / tr_s + 100.0 * dmm_s / tr_s <> 0 THEN
           100.0 * abs(100.0 * dmp_s / tr_s - 100.0 * dmm_s / tr_s)
                 / (100.0 * dmp_s / tr_s + 100.0 * dmm_s / tr_s)
         END AS dx
  FROM sm
)
SELECT symbol, ts,
       round(coalesce(
         CASE WHEN rn >= 27
               AND count(CASE WHEN dx IS NULL THEN 1 END) OVER ({_fr(14)}) = 0
              THEN avg(dx) OVER ({_fr(14)}) END, 0.0), 6) AS adx_14
FROM dx
ORDER BY symbol, ts
""",
    doc="W18 — ADX(14): ±DM conditionals, rolling-mean smoothing, DI±, "
    "DX, SMA(DX) (advanced_feature_engineer.py:112-146).  ADX defined "
    "from row 2·14-1 with a null-free DX frame (pandas NaN-in-window "
    "-> NaN); earlier rows -> 0 per fillna(0).",
)
def adx(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = candles_from_events(spark, sf_dir)
    return c.select(
        "symbol",
        "ts",
        F.round(F.coalesce(A.adx(), F.lit(0.0)), R).alias("adx_14"),
    ).orderBy("symbol", "ts")


@register(
    "ultimate_oscillator",
    oracle=CANDLES_CTE
    + f"""
, base AS (
  SELECT symbol, ts,
         close - least(low, coalesce(lag(close) OVER ({_W}), low)) AS bp,
         greatest(high - low,
                  coalesce(abs(high - lag(close) OVER ({_W})), 0.0),
                  coalesce(abs(low  - lag(close) OVER ({_W})), 0.0)) AS tr,
         row_number() OVER ({_W}) AS rn
  FROM candles
)
SELECT symbol, ts,
       round(coalesce(
         100.0 * (
             4.0 * (CASE WHEN rn >= 7  AND sum(tr) OVER ({_fr(7)})  <> 0
                         THEN (sum(bp) OVER ({_fr(7)}))
                            / (sum(tr) OVER ({_fr(7)}))  END)
           + 2.0 * (CASE WHEN rn >= 14 AND sum(tr) OVER ({_fr(14)}) <> 0
                         THEN (sum(bp) OVER ({_fr(14)}))
                            / (sum(tr) OVER ({_fr(14)})) END)
           +       (CASE WHEN rn >= 28 AND sum(tr) OVER ({_fr(28)}) <> 0
                         THEN (sum(bp) OVER ({_fr(28)}))
                            / (sum(tr) OVER ({_fr(28)})) END)
         ) / 7.0, 50.0), 6) AS uo
FROM base
ORDER BY symbol, ts
""",
    doc="W24 — Ultimate Oscillator (7,14,28): weighted buying-pressure/"
    "true-range sum ratios (advanced_feature_engineer.py:254-287); "
    "warm-up -> 50 per fillna(50).",
)
def ultimate_oscillator(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = candles_from_events(spark, sf_dir)
    return c.select(
        "symbol",
        "ts",
        F.round(F.coalesce(A.ultimate_oscillator(), F.lit(50.0)), R).alias("uo"),
    ).orderBy("symbol", "ts")


@register(
    "rolling_moments",
    oracle=CANDLES_CTE
    + f"""
, base AS (
  SELECT symbol, ts, close,
         CASE WHEN lag(close) OVER ({_W}) <> 0
              THEN (close - lag(close) OVER ({_W})) / lag(close) OVER ({_W})
         END AS ret,
         row_number() OVER ({_W}) AS rn
  FROM candles
),
sums AS (
  SELECT symbol, ts, close, rn,
         sum(ret)                 OVER ({_fr(20)}) AS s1,
         sum(ret * ret)           OVER ({_fr(20)}) AS s2,
         sum(ret * ret * ret)     OVER ({_fr(20)}) AS s3,
         sum(ret * ret * ret * ret) OVER ({_fr(20)}) AS s4,
         stddev_samp(ret)         OVER ({_fr(20)}) AS sd,
         max(close) OVER ({_fr(20)}) AS mx,
         min(close) OVER ({_fr(20)}) AS mn,
         quantile_cont(close, 0.25) OVER ({_fr(20)}) AS q25,
         quantile_cont(close, 0.50) OVER ({_fr(20)}) AS med,
         quantile_cont(close, 0.75) OVER ({_fr(20)}) AS q75
  FROM base
),
mom AS (
  SELECT symbol, ts, rn, sd, mx, mn, q25, med, q75,
         s1 / 20.0 AS mu,
         s2 / 20.0 - (s1/20.0) * (s1/20.0) AS m2,
         s3 / 20.0 - 3 * (s1/20.0) * s2 / 20.0 + 2 * power(s1/20.0, 3) AS m3,
         s4 / 20.0 - 4 * (s1/20.0) * s3 / 20.0
           + 6 * (s1/20.0) * (s1/20.0) * s2 / 20.0 - 3 * power(s1/20.0, 4) AS m4
  FROM sums
)
SELECT symbol, ts,
       round(CASE WHEN rn >= 21 THEN mu END, 6) AS rolling_mean_20,
       round(CASE WHEN rn >= 21 THEN sd END, 6) AS rolling_std_20,
       round(CASE WHEN rn >= 21 THEN
             (m3 / power(m2, 1.5)) * sqrt(20.0 * 19.0) / 18.0 END, 6)
         AS rolling_skew_20,
       round(CASE WHEN rn >= 21 THEN
             ((21.0 * (m4 / (m2 * m2) - 3.0) + 6.0) * 19.0) / (18.0 * 17.0) END, 6)
         AS rolling_kurt_20,
       round(CASE WHEN rn >= 20 THEN mx END, 6) AS rolling_max_20,
       round(CASE WHEN rn >= 20 THEN mn END, 6) AS rolling_min_20,
       round(CASE WHEN rn >= 20 THEN q25 END, 6) AS rolling_q25_20,
       round(CASE WHEN rn >= 20 THEN med END, 6) AS rolling_median_20,
       round(CASE WHEN rn >= 20 THEN q75 END, 6) AS rolling_q75_20
FROM mom
ORDER BY symbol, ts
""",
    doc="W25 — rolling moments of returns (mean/std + pandas "
    "bias-corrected skew G1 and excess kurt G2 from power sums) and "
    "rolling price min/max/exact-quantiles "
    "(advanced_feature_engineer.py:289-312).",
)
def rolling_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = candles_from_events(spark, sf_dir)
    m = A.rolling_moments(20)
    return c.select(
        "symbol",
        "ts",
        *[F.round(expr, R).alias(name) for name, expr in m.items()],
    ).orderBy("symbol", "ts")


@register(
    "rolling_correlations",
    oracle=CANDLES_CTE
    + f"""
, base AS (
  SELECT symbol, ts, open, high, low, close,
         CAST(round(high * 100) AS BIGINT) AS hc,
         CAST(round(low * 100) AS BIGINT) AS lc,
         CAST(round(open * 100) AS BIGINT) AS oc,
         CAST(round(close * 100) AS BIGINT) AS cc,
         CASE WHEN lag(close) OVER ({_W}) <> 0
              THEN (close - lag(close) OVER ({_W})) / lag(close) OVER ({_W}) END AS ret_c,
         CASE WHEN lag(high) OVER ({_W}) <> 0
              THEN (high - lag(high) OVER ({_W})) / lag(high) OVER ({_W}) END AS ret_h,
         row_number() OVER ({_W}) AS rn
  FROM candles
),
s AS (
  SELECT symbol, ts, rn,
         sum(hc) OVER ({_fr(20)}) AS sx1, sum(lc) OVER ({_fr(20)}) AS sy1,
         sum(hc*hc) OVER ({_fr(20)}) AS sxx1, sum(lc*lc) OVER ({_fr(20)}) AS syy1,
         sum(hc*lc) OVER ({_fr(20)}) AS sxy1,
         sum(oc) OVER ({_fr(20)}) AS sx2, sum(cc) OVER ({_fr(20)}) AS sy2,
         sum(oc*oc) OVER ({_fr(20)}) AS sxx2, sum(cc*cc) OVER ({_fr(20)}) AS syy2,
         sum(oc*cc) OVER ({_fr(20)}) AS sxy2,
         sum(ret_c) OVER ({_fr(20)}) AS sx3, sum(ret_h) OVER ({_fr(20)}) AS sy3,
         sum(ret_c*ret_c) OVER ({_fr(20)}) AS sxx3, sum(ret_h*ret_h) OVER ({_fr(20)}) AS syy3,
         sum(ret_c*ret_h) OVER ({_fr(20)}) AS sxy3
  FROM base
)
SELECT symbol, ts,
       round(CASE WHEN rn >= 20 AND 20*sxx1 - sx1*sx1 > 0 AND 20*syy1 - sy1*sy1 > 0
             THEN CAST(20*sxy1 - sx1*sy1 AS DOUBLE)
                  / sqrt(CAST(20*sxx1 - sx1*sx1 AS DOUBLE) * CAST(20*syy1 - sy1*sy1 AS DOUBLE))
             END, 6) AS high_low_corr,
       round(CASE WHEN rn >= 20 AND 20*sxx2 - sx2*sx2 > 0 AND 20*syy2 - sy2*sy2 > 0
             THEN CAST(20*sxy2 - sx2*sy2 AS DOUBLE)
                  / sqrt(CAST(20*sxx2 - sx2*sx2 AS DOUBLE) * CAST(20*syy2 - sy2*sy2 AS DOUBLE))
             END, 6) AS open_close_corr,
       round(CASE WHEN rn >= 21 AND (20*sxx3 - sx3*sx3) * (20*syy3 - sy3*sy3) > 0
             THEN (20*sxy3 - sx3*sy3) / sqrt((20*sxx3 - sx3*sx3) * (20*syy3 - sy3*sy3))
             END, 6) AS returns_high_corr
FROM s
ORDER BY symbol, ts
""",
    doc="W26 — rolling Pearson correlations (high~low, open~close, "
    "returns~high-returns) from component sums — the identical closed "
    "form pandas rolling .corr evaluates "
    "(advanced_feature_engineer.py:314-332).  The two grid-valued "
    "pairs run on exact integer-cents sums (rolling_corr_exact — "
    "Pearson r is scale-invariant, so cents cancel); the returns pair "
    "is float by nature and stays on the float closed form.",
)
def rolling_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = candles_from_events(spark, sf_dir)
    w = A._w()
    prev_c = F.lag("close").over(w)
    prev_h = F.lag("high").over(w)
    ret_c = F.when(prev_c != 0, (F.col("close") - prev_c) / prev_c)
    ret_h = F.when(prev_h != 0, (F.col("high") - prev_h) / prev_h)
    from ..operators.indicators import cents
    return c.select(
        "symbol",
        "ts",
        F.round(A.rolling_corr_exact(cents("high"), cents("low"), 20), R).alias(
            "high_low_corr"
        ),
        F.round(A.rolling_corr_exact(cents("open"), cents("close"), 20), R).alias(
            "open_close_corr"
        ),
        F.round(A.rolling_corr(ret_c, ret_h, 20, guard_extra=1), R).alias(
            "returns_high_corr"
        ),
    ).orderBy("symbol", "ts")


@register(
    "aroon",
    oracle=CANDLES_CTE
    + f"""
, base AS (
  SELECT symbol, ts,
         list(high) OVER ({_fr(25)}) AS lh,
         list(low)  OVER ({_fr(25)}) AS ll,
         row_number() OVER ({_W}) AS rn
  FROM candles
)
SELECT symbol, ts,
       round(coalesce(CASE WHEN rn >= 26
             THEN 100.0 * list_indexof(lh, list_max(lh)) / 25.0 END, 50.0), 6)
         AS aroon_up,
       round(coalesce(CASE WHEN rn >= 26
             THEN 100.0 * list_indexof(ll, list_min(ll)) / 25.0 END, 50.0), 6)
         AS aroon_down
FROM base
ORDER BY symbol, ts
""",
    doc="W19 — Aroon(25): days-since-rolling-argmax reduces to the "
    "1-based position of the FIRST max/min within the trailing frame "
    "(aroon = 100·idx/period), replacing the reference's Python loop "
    "(advanced_feature_engineer.py:148-169); warm-up -> 50 per "
    "fillna(50).",
)
def aroon(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = candles_from_events(spark, sf_dir)
    up, down = A.aroon()
    return c.select(
        "symbol",
        "ts",
        F.round(F.coalesce(up, F.lit(50.0)), R).alias("aroon_up"),
        F.round(F.coalesce(down, F.lit(50.0)), R).alias("aroon_down"),
    ).orderBy("symbol", "ts")


@register(
    "keltner",
    oracle=CANDLES_CTE
    + f"""
, base AS (
  SELECT symbol, ts,
         (high + low + close) / 3.0 AS tp,
         greatest(high - low,
                  coalesce(abs(high - lag(close) OVER ({_W})), 0.0),
                  coalesce(abs(low  - lag(close) OVER ({_W})), 0.0)) AS tr,
         row_number() OVER ({_W}) AS rn
  FROM candles
)
SELECT symbol, ts,
       round(CASE WHEN rn >= 20 THEN avg(tp) OVER ({_fr(20)}) END, 6) AS kc_middle,
       round(CASE WHEN rn >= 20 THEN
             avg(tp) OVER ({_fr(20)}) + 2.0 * avg(tr) OVER ({_fr(20)}) END, 6)
         AS kc_upper,
       round(CASE WHEN rn >= 20 THEN
             avg(tp) OVER ({_fr(20)}) - 2.0 * avg(tr) OVER ({_fr(20)}) END, 6)
         AS kc_lower
FROM base
ORDER BY symbol, ts
""",
    doc="W21 — Keltner channels (20, 2.0): SMA of typical price ± "
    "2·SMA(TR) (advanced_feature_engineer.py:210-226).",
)
def keltner(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = candles_from_events(spark, sf_dir)
    tp = A.typical_price()
    tr = A.true_range()
    mid = A._guard(20, F.avg(tp).over(A._frame(20)))
    atr = A._guard(20, F.avg(tr).over(A._frame(20)))
    return c.select(
        "symbol",
        "ts",
        F.round(mid, R).alias("kc_middle"),
        F.round(mid + 2.0 * atr, R).alias("kc_upper"),
        F.round(mid - 2.0 * atr, R).alias("kc_lower"),
    ).orderBy("symbol", "ts")


@register(
    "volatility_regime",
    oracle=CANDLES_CTE
    + f"""
, base AS (
  SELECT symbol, ts,
         round(CASE WHEN row_number() OVER ({_W}) >= 20
              THEN avg(high - low) OVER ({_fr(20)}) END, 9) AS vol,
         row_number() OVER ({_W}) AS rn
  FROM candles
),
ranked AS (
  SELECT symbol, ts, rn, vol,
         list(vol) OVER ({_fr(50)}) AS l
  FROM base
)
SELECT symbol, ts,
       round(CASE WHEN rn >= 69 THEN
             100.0 * (len(list_filter(l, x -> x < vol))
                      + (len(list_filter(l, x -> x = vol)) + 1) / 2.0) / 50.0
             END, 6) AS volatility_percentile,
       CASE WHEN rn >= 69 THEN
         CASE WHEN 100.0 * (len(list_filter(l, x -> x < vol))
                            + (len(list_filter(l, x -> x = vol)) + 1) / 2.0) / 50.0 <= 20
              THEN 'low'
              WHEN 100.0 * (len(list_filter(l, x -> x < vol))
                            + (len(list_filter(l, x -> x = vol)) + 1) / 2.0) / 50.0 >= 95
              THEN 'extreme'
              WHEN 100.0 * (len(list_filter(l, x -> x < vol))
                            + (len(list_filter(l, x -> x = vol)) + 1) / 2.0) / 50.0 >= 80
              THEN 'high'
              ELSE 'normal' END
       ELSE 'normal' END AS volatility_regime
FROM ranked
ORDER BY symbol, ts
""",
    doc="W27 — volatility regime: rolling(20) mean of high-low, "
    "trailing percent-rank over 50 rows (pandas rolling "
    ".rank(pct=True): average rank of the current value within its "
    "trailing window, computed via a bounded list window), bucketed "
    "{low<=20, normal, high>=80, extreme>=95} "
    "(market_filters.py:139-159).  NaN warm-up rows stay 'normal' "
    "exactly as the reference's NaN comparisons do.",
)
def volatility_regime(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = candles_from_events(spark, sf_dir)
    d = A.volatility_percent_rank()
    return c.select(
        "symbol",
        "ts",
        F.round(d["volatility_percentile"], R).alias("volatility_percentile"),
        d["volatility_regime"].alias("volatility_regime"),
    ).orderBy("symbol", "ts")


@register(
    "psar",
    oracle="""
WITH RECURSIVE candles AS (
  SELECT event_type AS symbol,
         date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ts,
         round(max("value"), 6) AS high,
         round(min("value"), 6) AS low
  FROM events GROUP BY 1, 2
),
base AS (
  SELECT symbol, ts, high, low,
         row_number() OVER (PARTITION BY symbol ORDER BY ts) AS rn
  FROM candles
),
rec AS (
  SELECT symbol, rn, ts, high, low,
         high AS sar, TRUE AS bull, 0.02 AS af, low AS ep
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.symbol, b.rn, b.ts, b.high, b.low,
         CASE
           WHEN r.bull AND b.low <= r.sar + r.af * (r.ep - r.sar) THEN r.ep
           WHEN NOT r.bull AND b.high >= r.sar + r.af * (r.ep - r.sar) THEN r.ep
           ELSE r.sar + r.af * (r.ep - r.sar)
         END,
         CASE
           WHEN r.bull AND b.low <= r.sar + r.af * (r.ep - r.sar) THEN FALSE
           WHEN NOT r.bull AND b.high >= r.sar + r.af * (r.ep - r.sar) THEN TRUE
           ELSE r.bull
         END,
         CASE
           WHEN r.bull AND b.low <= r.sar + r.af * (r.ep - r.sar) THEN 0.02
           WHEN r.bull AND b.high > r.ep THEN least(r.af + 0.02, 0.2)
           WHEN NOT r.bull AND b.high >= r.sar + r.af * (r.ep - r.sar) THEN 0.02
           WHEN NOT r.bull AND b.low < r.ep THEN least(r.af + 0.02, 0.2)
           ELSE r.af
         END,
         CASE
           WHEN r.bull AND b.low <= r.sar + r.af * (r.ep - r.sar) THEN b.low
           WHEN r.bull AND b.high > r.ep THEN b.high
           WHEN NOT r.bull AND b.high >= r.sar + r.af * (r.ep - r.sar) THEN b.high
           WHEN NOT r.bull AND b.low < r.ep THEN b.low
           ELSE r.ep
         END
  FROM rec r JOIN base b ON b.symbol = r.symbol AND b.rn = r.rn + 1
)
SELECT symbol, ts, round(sar, 6) AS psar FROM rec ORDER BY symbol, ts
""",
    doc="W20 — Parabolic SAR: sequential trend-flip recurrence with "
    "accelerating factor (advanced_feature_engineer.py:171-207) as a "
    "per-symbol applyInPandas kernel.  The recurrence IS "
    "SQL-expressible via a recursive CTE carrying (sar, bull, af, ep) "
    "state one row at a time, so even this stateful kernel is "
    "oracle-checked exactly (the CASE order mirrors the loop's "
    "flip-first branch priority; float ops are identical IEEE "
    "sequences on both engines).  Hand-traced fixture in "
    "tests/test_advanced.py pins the semantics independently.",
)
def psar(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = candles_from_events(spark, sf_dir)
    out = A.psar(c)
    return out.select(
        "symbol", "ts", F.round("psar", R).alias("psar")
    ).orderBy("symbol", "ts")
