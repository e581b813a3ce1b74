"""ST2/ST3/ST4 channel-transform queries.

The channel transforms (streaming.features) are pure trailing-window
Column algebra, so the BATCH projection over the candle table is
oracle-checkable here, and the exact same functions run inside the
streaming foreachBatch (tests/test_streaming.py) — batch/stream parity
by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import CANDLES_CTE, candles_from_events
from ..streaming import features as ST
from .oracle_sql import _PATTERNS_BASE, _PATTERNS_UNION, _W
from .registry import register

R = 6

_ML_CTE = f"""
, d AS (
  SELECT symbol, ts, close, volume,
         CAST(round(close * 100) AS BIGINT) AS pc,
         CAST(round(volume * 100) AS BIGINT) AS vc,
         CAST(round(close * 100) AS BIGINT)
           - lag(CAST(round(close * 100) AS BIGINT)) OVER ({_W}) AS diffc,
         row_number() OVER ({_W}) AS rn
  FROM candles
),
gl AS (
  SELECT symbol, ts, close, volume, rn, pc, vc,
         CASE WHEN diffc > 0 THEN diffc ELSE 0 END AS gain,
         CASE WHEN diffc IS NOT NULL AND diffc <= 0 THEN abs(diffc) ELSE 0 END AS loss
  FROM d
),
f AS (
  SELECT symbol, ts, rn,
         close AS current_price,
         CAST(sum(pc) OVER ({_W} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE) / 500.0   AS sma_5,
         CAST(sum(pc) OVER ({_W} ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS DOUBLE) / 1000.0  AS sma_10,
         CAST(sum(pc) OVER ({_W} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS DOUBLE) / 2000.0 AS sma_20,
         sum(gain) OVER ({_W} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS sg,
         sum(loss) OVER ({_W} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS sl,
         volume,
         CAST(sum(vc) OVER ({_W} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS DOUBLE) / 2000.0 AS avg_vol,
         max(close) OVER ({_W} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
           - min(close) OVER ({_W} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS range_5
  FROM gl
),
ml AS (
  SELECT symbol, ts, current_price, sma_5, sma_10, sma_20,
         CASE WHEN sl <> 0 THEN 100.0 * sg / (sg + sl) ELSE 0.0 END AS rsi_14,
         CASE WHEN avg_vol > 0 THEN volume / avg_vol ELSE 1.0 END AS volume_ratio,
         (current_price - sma_20) / sma_20 AS price_dev_sma20,
         range_5
  FROM f
  WHERE rn >= 20
)
"""
# ^ SMAs/RSI from exact integer-cents sums (close/volume are 2dp-grid;
#   the RSI /14 normalizers cancel into a pure integer ratio) — mirrors
#   streaming.features.ml_features; see boundary_audit.py dispositions.


@register(
    "ml_features",
    oracle=CANDLES_CTE
    + _ML_CTE
    + """
SELECT symbol, ts,
       round(current_price, 6) AS current_price,
       round(sma_5, 6) AS sma_5,
       round(sma_10, 6) AS sma_10,
       round(sma_20, 6) AS sma_20,
       round(rsi_14, 6) AS rsi_14,
       round(volume_ratio, 6) AS volume_ratio,
       round(price_dev_sma20, 6) AS price_dev_sma20,
       round(range_5, 6) AS range_5,
       round(CASE WHEN greatest(current_price, sma_5, sma_10, sma_20, rsi_14,
                                volume_ratio, price_dev_sma20, range_5)
                    <> least(current_price, sma_5, sma_10, sma_20, rsi_14,
                             volume_ratio, price_dev_sma20, range_5)
             THEN (current_price - least(current_price, sma_5, sma_10, sma_20,
                                         rsi_14, volume_ratio, price_dev_sma20, range_5))
                  / (greatest(current_price, sma_5, sma_10, sma_20, rsi_14,
                              volume_ratio, price_dev_sma20, range_5)
                     - least(current_price, sma_5, sma_10, sma_20, rsi_14,
                             volume_ratio, price_dev_sma20, range_5)) END, 6) AS norm_price,
       round(CASE WHEN greatest(current_price, sma_5, sma_10, sma_20, rsi_14,
                                volume_ratio, price_dev_sma20, range_5)
                    <> least(current_price, sma_5, sma_10, sma_20, rsi_14,
                             volume_ratio, price_dev_sma20, range_5)
             THEN (rsi_14 - least(current_price, sma_5, sma_10, sma_20,
                                  rsi_14, volume_ratio, price_dev_sma20, range_5))
                  / (greatest(current_price, sma_5, sma_10, sma_20, rsi_14,
                              volume_ratio, price_dev_sma20, range_5)
                     - least(current_price, sma_5, sma_10, sma_20, rsi_14,
                             volume_ratio, price_dev_sma20, range_5)) END, 6) AS norm_rsi,
       CASE WHEN rsi_14 < 30 THEN 1 WHEN rsi_14 > 70 THEN 2 ELSE 0 END AS target_signal,
       round(least(abs(rsi_14 - 50.0) / 50.0, 1.0), 6) AS confidence
FROM ml
ORDER BY symbol, ts
""",
    doc="ST2 — ml_features channel: trailing SMA(5/10/20), the channel's "
    "own sum/14 RSI (0 when lossless — reference rs=0 quirk), volume "
    "ratio, SMA20 deviation, 5-row range, vector min-max normalization "
    "and RSI-band target (websocket_manager.py:340-400).  Emits only "
    "after a full 20-row buffer, like the len(ticks)>=20 gate.",
)
def ml_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = candles_from_events(spark, sf_dir)
    out = ST.ml_features(c)
    keep = [
        "current_price",
        "sma_5",
        "sma_10",
        "sma_20",
        "rsi_14",
        "volume_ratio",
        "price_dev_sma20",
        "range_5",
        "norm_price",
        "norm_rsi",
        "confidence",
    ]
    return out.select(
        "symbol",
        "ts",
        *[F.round(c_, R).alias(c_) for c_ in keep[:-1]],
        "target_signal",
        F.round("confidence", R).alias("confidence"),
    ).orderBy("symbol", "ts")


@register(
    "stream_trading_signals",
    oracle=CANDLES_CTE
    + _ML_CTE
    + """
SELECT symbol, ts,
       CASE WHEN rsi_14 < 30 AND current_price < sma_20 THEN 'buy'
            WHEN rsi_14 > 70 AND current_price > sma_20 THEN 'sell'
            ELSE 'hold' END AS signal,
       CASE WHEN (rsi_14 < 30 AND current_price < sma_20)
              OR (rsi_14 > 70 AND current_price > sma_20)
            THEN 0.8 ELSE 0.5 END AS confidence,
       round(current_price, 6) AS entry_price,
       round(CASE WHEN rsi_14 < 30 AND current_price < sma_20 THEN current_price - 0.001
                  WHEN rsi_14 > 70 AND current_price > sma_20 THEN current_price + 0.001
             END, 6) AS stop_loss,
       round(CASE WHEN rsi_14 < 30 AND current_price < sma_20 THEN current_price + 0.002
                  WHEN rsi_14 > 70 AND current_price > sma_20 THEN current_price - 0.002
             END, 6) AS take_profit,
       CASE WHEN (rsi_14 < 30 AND current_price < sma_20)
              OR (rsi_14 > 70 AND current_price > sma_20) THEN 2.0 END
         AS risk_reward_ratio,
       CASE WHEN rsi_14 > 70 THEN 'overbought'
            WHEN rsi_14 < 30 THEN 'oversold'
            ELSE 'neutral' END AS market_condition
FROM ml
ORDER BY symbol, ts
""",
    doc="ST3 — trading_signals channel: RSI band + SMA20 side entries "
    "with fixed 10/20-pip stops and 2.0 risk/reward "
    "(websocket_manager.py:402-448).",
)
def stream_trading_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = candles_from_events(spark, sf_dir)
    out = ST.trading_signals(ST.ml_features(c))
    return out.select(
        "symbol",
        "ts",
        "signal",
        F.round("confidence", R).alias("confidence"),
        F.round("entry_price", R).alias("entry_price"),
        F.round("stop_loss", R).alias("stop_loss"),
        F.round("take_profit", R).alias("take_profit"),
        F.round("risk_reward_ratio", R).alias("risk_reward_ratio"),
        "market_condition",
    ).orderBy("symbol", "ts")


@register(
    "technical_analysis",
    oracle=CANDLES_CTE
    + _ML_CTE
    + """
SELECT symbol, ts,
       CASE WHEN sma_5 > sma_10 AND sma_10 > sma_20 THEN 'bullish'
            WHEN sma_5 < sma_10 AND sma_10 < sma_20 THEN 'bearish'
            ELSE 'sideways' END AS trend,
       CASE WHEN abs(rsi_14 - 50) > 20 THEN 'strong' ELSE 'weak' END AS momentum,
       round(current_price - 0.002, 6) AS support_1,
       round(current_price + 0.002, 6) AS resistance_1,
       CASE WHEN rsi_14 > 70 THEN 'overbought'
            WHEN rsi_14 < 30 THEN 'oversold'
            ELSE 'neutral' END AS rsi_status,
       CASE WHEN sma_5 > sma_10 AND sma_10 > sma_20 AND rsi_14 < 50 THEN 'buy'
            WHEN sma_5 < sma_10 AND sma_10 < sma_20 AND rsi_14 > 50 THEN 'sell'
            ELSE 'hold' END AS recommendation
FROM ml
ORDER BY symbol, ts
""",
    doc="ST4 — technical_analysis channel: SMA(5/10/20)-ordering trend, "
    "RSI momentum/status, fixed-offset S/R levels, recommendation "
    "(websocket_manager.py:476-508).",
)
def technical_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = candles_from_events(spark, sf_dir)
    out = ST.technical_analysis(ST.ml_features(c))
    return out.select(
        "symbol",
        "ts",
        "trend",
        "momentum",
        F.round("support_1", R).alias("support_1"),
        F.round("resistance_1", R).alias("resistance_1"),
        "rsi_status",
        "recommendation",
    ).orderBy("symbol", "ts")


def _pattern_alerts_oracle() -> str:
    """Alert-envelope SQL over the SAME six-pattern union the `patterns`
    oracle uses (oracle_sql._PATTERNS_UNION) — the replay face cannot
    drift from the batch pattern semantics."""
    return (
        CANDLES_CTE
        + _PATTERNS_BASE
        + ", pat AS (\n"
        + _PATTERNS_UNION
        + """)
SELECT symbol, ts,
       pattern AS pattern_detected,
       confidence,
       CASE WHEN pattern IN ('bullish_engulfing', 'hammer')
            THEN 'bullish' ELSE 'bearish' END AS direction,
       CASE WHEN signal_strength > 0.8 THEN 'strong'
            WHEN signal_strength > 0.6 THEN 'medium'
            ELSE 'weak' END AS strength,
       price_level,
       signal_strength,
       CASE pattern
         WHEN 'doji' THEN 'Doji'
         WHEN 'hammer' THEN 'Hammer'
         WHEN 'bullish_engulfing' THEN 'Bullish Engulfing'
         WHEN 'bearish_engulfing' THEN 'Bearish Engulfing'
         WHEN 'morning_star' THEN 'Morning Star'
         ELSE 'Evening Star' END
       || ' pattern detected with '
       || CAST(CAST(floor(signal_strength * 1000 + 0.5) AS BIGINT) // 10 AS VARCHAR)
       || '.'
       || CAST(CAST(floor(signal_strength * 1000 + 0.5) AS BIGINT) % 10 AS VARCHAR)
       || '% confidence' AS description
FROM pat
ORDER BY symbol, ts, pattern_detected
"""
    )


@register(
    "pattern_alerts_replay",
    oracle=_pattern_alerts_oracle(),
    doc="ST1 — the pattern_alerts channel's batch replay face: the "
    "reference's 2-second alert stream (websocket_manager.py:29, :204 "
    "trigger table, :450-473 message shape) over the REAL pattern "
    "detector instead of the reference's random simulator.  Direction "
    "follows the reference's membership list (morning_star reads "
    "'bearish' — quirk preserved); strength tiers at >0.8/>0.6 keyed "
    "off signal_strength (the numeric confidence analogue — ours is a "
    "label); the description percent renders round-half-up from "
    "integers (floor(ss*1000+0.5), matching Python :.1% away from "
    "exact decimal ties) so the string is engine-exact.  The "
    "streaming channel "
    "(streaming.channels.start_pattern_alerts_channel) runs this same "
    "transform per micro-batch; stream/batch parity is pytest-pinned.",
)
def pattern_alerts_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = candles_from_events(spark, sf_dir)
    return ST.pattern_alerts(c).orderBy("symbol", "ts", "pattern_detected")


@register(
    "order_book_features",
    oracle="""
WITH book AS (
  SELECT event_id,
         event_type AS symbol,
         CAST(ts AS TIMESTAMP) AS ts,
         "value" - 0.0001 AS best_bid,
         "value" + 0.0001 AS best_ask,
         list_sum(list_transform([1,2,3,4,5],
           l -> CAST((event_id * 31 + l * 7) % 1000 + 100 AS DOUBLE) * 1000.0)) AS bid_depth,
         list_sum(list_transform([1,2,3,4,5],
           l -> CAST((event_id * 37 + l * 11) % 1000 + 100 AS DOUBLE) * 1000.0)) AS ask_depth
  FROM events
)
SELECT event_id, symbol, ts,
       round(best_bid, 6) AS best_bid,
       round(best_ask, 6) AS best_ask,
       round((best_bid + best_ask) / 2, 6) AS mid,
       round(best_ask - best_bid, 6) AS spread,
       round(bid_depth, 6) AS bid_depth,
       round(ask_depth, 6) AS ask_depth,
       round((bid_depth - ask_depth) / (bid_depth + ask_depth), 6) AS imbalance,
       round((best_bid * ask_depth + best_ask * bid_depth) / (bid_depth + ask_depth), 6)
         AS microprice
FROM book
ORDER BY event_id
""",
    doc="ST5 — depth-5 order-book features (best bid/ask, spread, "
    "per-side depth, imbalance, size-weighted microprice) over a "
    "deterministic book derived from events (websocket_manager.py:"
    "510-537).  The array algebra is streaming.orderbook.book_features "
    "— the same function the live order_book channel runs; all "
    "element_at/aggregate lambdas stay JVM-side.",
)
def order_book_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table
    from ..streaming.orderbook import book_features

    e = load_table(spark, sf_dir, "events")
    # the testdata files are single-row-group parquet (unsplittable), so
    # the per-event array construction would run on one core; fan out
    # first (no-op where the scan is already wide)
    sc = spark.sparkContext
    if e.rdd.getNumPartitions() < sc.defaultParallelism:
        e = e.repartition(sc.defaultParallelism)
    levels = F.sequence(F.lit(1), F.lit(5))

    def sizes(mult: int, salt: int):
        return F.transform(
            levels,
            lambda l: (
                F.pmod(F.col("event_id") * mult + l * salt, F.lit(1000)) + 100
            ).cast("double")
            * 1000.0,
        )

    book = e.select(
        "event_id",
        F.col("event_type").alias("symbol"),
        "ts",
        F.transform(levels, lambda l: F.col("value") - 0.0001).alias("bid_prices"),
        sizes(31, 7).alias("bid_sizes"),
        F.transform(levels, lambda l: F.col("value") + 0.0001).alias("ask_prices"),
        sizes(37, 11).alias("ask_sizes"),
    )
    feats = book_features(book)
    rounded = [
        "best_bid",
        "best_ask",
        "mid",
        "spread",
        "bid_depth",
        "ask_depth",
        "imbalance",
        "microprice",
    ]
    return feats.select(
        "event_id",
        "symbol",
        "ts",
        *[F.round(c, R).alias(c) for c in rounded],
    ).orderBy("event_id")
