"""EMA-family queries (W2 EMA, W3 RSI, W4 MACD, W6 canonical ATR).

Spark side: per-symbol ``applyInPandas`` kernels (operators.ewm) with
exact pandas ``ewm(span, adjust=True)`` parity — the reference's three
headline indicators (feature_engineer.py:105-161) plus the EMA-variant
ATR (:189-204).

Oracle side: with adjust=True and no interior NaNs, the EMA has the
closed form  ema[t] = Σᵢ x[i]·(1-α)^(t-i) / Σᵢ (1-α)^(t-i)  (α=2/(N+1)),
which DuckDB evaluates via a per-symbol triangular self-join on row
number.  O(n²) per symbol — fine for the oracle tier (n ≈ thousands at
sf0.01); the Spark side stays O(n).  The native-tier fold renderings
(`_fold_sql`, `_native_frame_sql`) live in `plans/oracle_sql.py`,
shared with analysis_q's MACD oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import ewm as E
from ..sources.tables import CANDLES_CTE, candles_from_events
from .oracle_sql import _W, _fold_sql, _native_frame_sql
from .registry import register

R = 6


def _decay(span: int) -> str:
    """(1-α) as an exact SQL fraction, α = 2/(span+1)."""
    return f"({span - 1}.0 / {span + 1}.0)"


def _ema_sum(expr: str, span: int) -> str:
    """Triangular-join EMA term: caller provides aliases a (anchor row)
    and b (history rows), both carrying ``rn`` and the source column."""
    w = f"power({_decay(span)}, a.rn - b.rn)"
    return f"(sum(b.{expr} * {w}) / sum({w}))"


_NB_CTE = f"""
, nb AS (
  SELECT symbol, ts, close,
         row_number() OVER ({_W}) AS rn
  FROM candles
)
"""


@register(
    "ema",
    oracle=CANDLES_CTE
    + _NB_CTE
    + f"""
SELECT a.symbol, a.ts,
       round({_ema_sum('close', 5)}, 6)  AS ema_5,
       round({_ema_sum('close', 20)}, 6) AS ema_20,
       round({_ema_sum('close', 50)}, 6) AS ema_50
FROM nb a JOIN nb b ON a.symbol = b.symbol AND b.rn <= a.rn
GROUP BY a.symbol, a.ts
ORDER BY a.symbol, a.ts
""",
    doc="W2 — EMA(5/20/50) with pandas ewm(adjust=True) parity "
    "(feature_engineer.py:105-113); per-symbol applyInPandas kernel, "
    "closed-form weighted-sum oracle.",
)
def ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = candles_from_events(spark, sf_dir)
    out = E.ema(c, [5, 20, 50])
    return out.select(
        "symbol",
        "ts",
        F.round("ema_5", R).alias("ema_5"),
        F.round("ema_20", R).alias("ema_20"),
        F.round("ema_50", R).alias("ema_50"),
    ).orderBy("symbol", "ts")


def _ema_native_oracle() -> str:
    from ..operators.ewm import EMA_NATIVE_FRAMES

    frame_cols = ",\n".join(
        f"         list(close) OVER ({_W} ROWS BETWEEN "
        f"{EMA_NATIVE_FRAMES[s] - 1} PRECEDING AND CURRENT ROW) AS xs_{s}"
        for s in (5, 12, 26)
    )
    outs = []
    for s in (5, 12, 26):
        r = repr(1.0 - 2.0 / (s + 1.0))
        outs.append(
            f"       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xs_{s}),"
            f" (a, x) -> a * {r} + x)\n"
            f"             / list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xs_{s}),"
            f" (a, x) -> a * {r} + 1.0), 6) AS ema_{s}"
        )
    return (
        CANDLES_CTE
        + f"""
, fr AS (
  SELECT symbol, ts,
{frame_cols}
  FROM candles
)
SELECT symbol, ts,
"""
        + ",\n".join(outs)
        + """
FROM fr
ORDER BY symbol, ts
"""
    )


@register(
    "ema_native",
    oracle=_ema_native_oracle(),
    doc="W2 EMA, JVM-side tier (round-10 verdict Next #8): truncated "
    "adjust=True weighted mean as a Horner fold over a fixed trailing "
    "frame (operators/ewm.py:ema_native — numerator fold(acc·r + x), "
    "denominator fold(acc·r + 1) over collect_list in frame order; "
    "frames sized so the dropped tail weight < 5e-14, three orders "
    "below the 1e-6 output grain).  No Python workers, no Arrow "
    "transfer.  Claim measured and repositioned (r12, "
    "tools/bench_native_tiers.py at 16x symbols): the fold does "
    "O(rows x frame) arithmetic vs the kernel's O(rows), so it is "
    "0.2-0.5x the applyInPandas kernel's throughput at EVERY scale — "
    "its value is OPERATIONAL (exact indicators on Python-less / "
    "pure-JVM executors, plan-gated zero-Python), not speed; the "
    "pandas kernel (`ema`) is the production default.  "
    "Tolerance-pinned against the kernel in tests/test_operators.py, "
    "hash-EXACT against the oracle's identical list_reduce fold.",
)
def ema_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ewm import ema_native as EN

    c = candles_from_events(spark, sf_dir)
    out = EN(c, spans=(5, 12, 26))
    return out.select(
        "symbol",
        "ts",
        F.round("ema_5", R).alias("ema_5"),
        F.round("ema_12", R).alias("ema_12"),
        F.round("ema_26", R).alias("ema_26"),
    ).orderBy("symbol", "ts")


def _macd_native_oracle() -> str:
    from ..operators.ewm import EMA_NATIVE_FRAMES

    def fold(xs: str, span: int) -> str:
        r = repr(1.0 - 2.0 / (span + 1.0))
        pre = f"list_prepend(CAST(0.0 AS DOUBLE), {xs})"
        return (
            f"(list_reduce({pre}, (a, x) -> a * {r} + x)"
            f" / list_reduce({pre}, (a, x) -> a * {r} + 1.0))"
        )

    def frame(c: str, span: int) -> str:
        m = EMA_NATIVE_FRAMES[span]
        return (
            f"list({c}) OVER ({_W} ROWS BETWEEN {m - 1} "
            f"PRECEDING AND CURRENT ROW)"
        )

    return (
        CANDLES_CTE
        + f"""
, f1 AS (
  SELECT symbol, ts,
         {frame('close', 12)} AS xs12,
         {frame('close', 26)} AS xs26
  FROM candles
),
m AS (
  SELECT symbol, ts, {fold('xs12', 12)} - {fold('xs26', 26)} AS macd
  FROM f1
),
f2 AS (
  SELECT symbol, ts, macd, {frame('macd', 9)} AS xs9
  FROM m
)
SELECT symbol, ts,
       round(macd, 6) AS macd,
       round({fold('xs9', 9)}, 6) AS macd_signal,
       round(macd - {fold('xs9', 9)}, 6) AS macd_histogram
FROM f2
ORDER BY symbol, ts
"""
    )


@register(
    "macd_native",
    oracle=_macd_native_oracle(),
    doc="W4 MACD(12,26,9), JVM-side tier (operators/ewm.py:"
    "macd_native): the full hot chain — fast/slow truncated-EMA "
    "Horner folds for the line, a second collect_list + fold over the "
    "DERIVED line for the signal, histogram = line - signal — with no "
    "Python workers anywhere.  Same truncation tiers as ema_native "
    "(tail weight < 5e-14, three orders below the 1e-6 output grain); "
    "the oracle replays both stages' folds op-for-op, so the query is "
    "hash-exact even though it is tolerance-tiered against the exact "
    "pandas kernel (`macd`).",
)
def macd_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ewm import macd_native as MN

    c = candles_from_events(spark, sf_dir)
    out = MN(c)
    return out.select(
        "symbol",
        "ts",
        F.round("macd", R).alias("macd"),
        F.round("macd_signal", R).alias("macd_signal"),
        F.round("macd_histogram", R).alias("macd_histogram"),
    ).orderBy("symbol", "ts")


@register(
    "rsi",
    oracle=CANDLES_CTE
    + f"""
, nb AS (
  SELECT symbol, ts, close,
         lag(close) OVER ({_W}) AS prev,
         row_number() OVER ({_W}) AS rn
  FROM candles
),
gl AS (
  SELECT symbol, ts, rn,
         CASE WHEN prev IS NOT NULL AND close - prev > 0
              THEN close - prev ELSE 0.0 END AS gain,
         CASE WHEN prev IS NOT NULL AND close - prev < 0
              THEN prev - close ELSE 0.0 END AS loss
  FROM nb
),
e AS (
  SELECT a.symbol, a.ts,
         {_ema_sum('gain', 14)} AS ag,
         {_ema_sum('loss', 14)} AS al
  FROM gl a JOIN gl b ON a.symbol = b.symbol AND b.rn <= a.rn
  GROUP BY a.symbol, a.ts
)
SELECT symbol, ts,
       round(CASE WHEN ag + al <> 0 THEN 100.0 * ag / (ag + al) END, 6)
         AS rsi_14
FROM e
ORDER BY symbol, ts
""",
    doc="W3 — RSI-14, EMA-smoothed variant (feature_engineer.py:115-135: "
    "diff -> gain/loss split with leading NaN->0 -> ewm(span=14) -> "
    "100-100/(1+RS), algebraically 100·ag/(ag+al); the 0/0 first row is "
    "NULL on both engines).",
)
def rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = candles_from_events(spark, sf_dir)
    comp = E.rsi_components(c, period=14)
    ag, al = F.col("avg_gain"), F.col("avg_loss")
    rsi_col = F.when(ag + al != 0, 100.0 * ag / (ag + al))
    return comp.select(
        "symbol", "ts", F.round(rsi_col, R).alias("rsi_14")
    ).orderBy("symbol", "ts")


@register(
    "macd",
    oracle=CANDLES_CTE
    + _NB_CTE
    + f"""
, m AS (
  SELECT a.symbol, a.ts, a.rn,
         {_ema_sum('close', 12)} - {_ema_sum('close', 26)} AS macd
  FROM nb a JOIN nb b ON a.symbol = b.symbol AND b.rn <= a.rn
  GROUP BY a.symbol, a.ts, a.rn
),
s AS (
  SELECT a.symbol, a.ts, a.macd,
         {_ema_sum('macd', 9)} AS sig
  FROM m a JOIN m b ON a.symbol = b.symbol AND b.rn <= a.rn
  GROUP BY a.symbol, a.ts, a.macd
)
SELECT symbol, ts,
       round(macd, 6)       AS macd,
       round(sig, 6)        AS macd_signal,
       round(macd - sig, 6) AS macd_histogram
FROM s
ORDER BY symbol, ts
""",
    doc="W4 — MACD(12,26,9): EMA12-EMA26, EMA9 signal, histogram "
    "(feature_engineer.py:137-161).  Oracle chains two triangular "
    "joins: one for the line, one for the signal over the derived "
    "series.",
)
def macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = candles_from_events(spark, sf_dir)
    out = E.macd(c)
    return out.select(
        "symbol",
        "ts",
        F.round("macd", R).alias("macd"),
        F.round("macd_signal", R).alias("macd_signal"),
        F.round("macd_histogram", R).alias("macd_histogram"),
    ).orderBy("symbol", "ts")


@register(
    "rsi_native",
    oracle=CANDLES_CTE
    + f"""
, nb AS (
  SELECT symbol, ts, close,
         close - lag(close) OVER ({_W}) AS delta
  FROM candles
),
gl AS (
  SELECT symbol, ts,
         CASE WHEN delta > 0 THEN delta ELSE 0.0 END AS gain,
         CASE WHEN delta < 0 THEN -delta ELSE 0.0 END AS loss
  FROM nb
),
fr AS (
  SELECT symbol, ts,
         {_native_frame_sql('gain', 14)} AS xg,
         {_native_frame_sql('loss', 14)} AS xl
  FROM gl
)
SELECT symbol, ts,
       round(CASE WHEN {_fold_sql('xg', 14, True)} + {_fold_sql('xl', 14, True)} <> 0
                  THEN 100.0 * {_fold_sql('xg', 14, True)}
                       / ({_fold_sql('xg', 14, True)} + {_fold_sql('xl', 14, True)})
             END, 6) AS rsi_14
FROM fr
ORDER BY symbol, ts
""",
    doc="W3 RSI-14, JVM-side tier (operators/ewm.py:rsi_native): "
    "gain/loss lag algebra, one truncated numerator fold per side "
    "(the adjust=True denominators cancel in 100·ag/(ag+al)), NULL on "
    "the zero-denominator rows like the kernel query.  No Python "
    "workers; oracle replays the folds op-for-op.",
)
def rsi_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ewm import rsi_native as RN

    c = candles_from_events(spark, sf_dir)
    return RN(c, period=14).select(
        "symbol", "ts", F.round("rsi_14", R).alias("rsi_14")
    ).orderBy("symbol", "ts")


@register(
    "atr_native",
    oracle=CANDLES_CTE
    + f"""
, tr AS (
  SELECT symbol, ts,
         greatest(high - low,
                  coalesce(abs(high - lag(close) OVER ({_W})), 0.0),
                  coalesce(abs(low  - lag(close) OVER ({_W})), 0.0)) AS tr
  FROM candles
),
fr AS (
  SELECT symbol, ts, {_native_frame_sql('tr', 14)} AS xs
  FROM tr
)
SELECT symbol, ts, round({_fold_sql('xs', 14)}, 6) AS atr_14
FROM fr
ORDER BY symbol, ts
""",
    doc="W6 ATR-14, JVM-side tier (operators/ewm.py:atr_native): true "
    "range as lag algebra, truncated-EMA Horner fold — completes the "
    "native rendering of the whole W2 chain (EMA/MACD/RSI/ATR) so the "
    "reference's hot indicator path can run with zero Python workers "
    "at 100 TB.  Tolerance-tiered against the exact kernel "
    "(`atr_ema`), hash-exact against the oracle's identical folds.",
)
def atr_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ewm import atr_native as AN

    c = candles_from_events(spark, sf_dir)
    return AN(c, period=14).select(
        "symbol", "ts", F.round("atr_14", R).alias("atr_14")
    ).orderBy("symbol", "ts")


@register(
    "atr_ema",
    oracle=CANDLES_CTE
    + f"""
, tr AS (
  SELECT symbol, ts,
         greatest(high - low,
                  coalesce(abs(high - lag(close) OVER ({_W})), 0.0),
                  coalesce(abs(low  - lag(close) OVER ({_W})), 0.0)) AS tr,
         row_number() OVER ({_W}) AS rn
  FROM candles
)
SELECT a.symbol, a.ts,
       round({_ema_sum('tr', 14)}, 6) AS atr_14
FROM tr a JOIN tr b ON a.symbol = b.symbol AND b.rn <= a.rn
GROUP BY a.symbol, a.ts
ORDER BY a.symbol, a.ts
""",
    doc="W6 canonical — ATR-14 as EMA of true range "
    "(feature_engineer.py:189-204).  First-row TR degrades to high-low "
    "(pandas row-max skips the NaN shifted terms; SQL coalesce(.,0) "
    "since high>=low).  Complements the SMA/Keltner variant in "
    "operators.indicators.",
)
def atr_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = candles_from_events(spark, sf_dir)
    out = E.atr_ema(c, period=14)
    return out.select(
        "symbol", "ts", F.round("atr_14", R).alias("atr_14")
    ).orderBy("symbol", "ts")


@register(
    "ma_ratios",
    oracle=CANDLES_CTE
    + _NB_CTE
    + f"""
, sma AS (
  SELECT symbol, ts, rn, close,
         CASE WHEN rn >= 20 THEN avg(close) OVER
              ({_W} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) END AS sma_20,
         CASE WHEN rn >= 50 THEN avg(close) OVER
              ({_W} ROWS BETWEEN 49 PRECEDING AND CURRENT ROW) END AS sma_50
  FROM nb
),
ema AS (
  SELECT a.symbol, a.ts,
         {_ema_sum('close', 12)} AS ema_12,
         {_ema_sum('close', 26)} AS ema_26
  FROM nb a JOIN nb b ON a.symbol = b.symbol AND b.rn <= a.rn
  GROUP BY a.symbol, a.ts
)
SELECT s.symbol, s.ts,
       round(s.sma_20 / s.sma_50, 6) AS sma_20_50_ratio,
       round(e.ema_12 / e.ema_26, 6) AS ema_12_26_ratio
FROM sma s JOIN ema e ON s.symbol = e.symbol AND s.ts = e.ts
ORDER BY s.symbol, s.ts
""",
    doc="W12 — moving-average ratios: sma20/sma50 (null until both "
    "windows fill) and ema12/ema26 (feature_engineer.py:259-263).",
)
def ma_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import indicators as I

    c = candles_from_events(spark, sf_dir)
    with_ema = E.ema(c, [12, 26])
    sma_part = c.select(
        "symbol",
        "ts",
        (I.sma("close", 20) / I.sma("close", 50)).alias("sma_20_50_ratio"),
    )
    return (
        with_ema.select(
            "symbol", "ts", (F.col("ema_12") / F.col("ema_26")).alias("ema_12_26_ratio")
        )
        .join(sma_part, ["symbol", "ts"])
        .select(
            "symbol",
            "ts",
            F.round("sma_20_50_ratio", R).alias("sma_20_50_ratio"),
            F.round("ema_12_26_ratio", R).alias("ema_12_26_ratio"),
        )
        .orderBy("symbol", "ts")
    )
