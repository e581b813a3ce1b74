"""Data-quality operators (SURVEY §2.2 F-series, §2.3 D-series).

Vectorized Column-algebra versions of the reference's cleaning stages
(app/services/preprocessing/data_quality.py, app/services/data_validator.py).
The reference loops row-by-row in several places (e.g. OHLC correction,
data_quality.py:448-453); here everything is a single declarative pass
so Catalyst fuses the stages into one codegen'd projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

OHLC = ("open", "high", "low", "close")


def drop_null_prices(df: DataFrame) -> DataFrame:
    """F2 — drop rows with null in any critical OHLC column
    (data_quality.py:170-186)."""
    return df.na.drop(subset=list(OHLC))


def filter_positive_prices(df: DataFrame) -> DataFrame:
    """F3 — remove rows where any OHLC <= 0 (data_quality.py:189-209)."""
    cond = F.lit(True)
    for c in OHLC:
        cond = cond & (F.col(c) > 0)
    return df.filter(cond)


def filter_price_range(df: DataFrame, lo: float, hi: float) -> DataFrame:
    """F4 — keep rows fully inside [lo, hi] (data_quality.py:212-233)."""
    return df.filter((F.col("low") >= lo) & (F.col("high") <= hi))


def clamp_negative_volume(df: DataFrame) -> DataFrame:
    """F6 — volume < 0 → 0 (data_quality.py:278-298)."""
    return df.withColumn("volume", F.greatest(F.col("volume"), F.lit(0.0)))


def dedup_keep_first(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """D1 — keep-first dedup: first occurrence by ingest order wins
    (data_quality.py:315-339; data_fetcher.py:443)."""
    w = Window.partitionBy(*keys).orderBy(order_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def gap_flags(
    df: DataFrame,
    symbol: str = "symbol",
    ts: str = "ts",
    expected_seconds: float = 3600.0,
    tolerance: float = 1.5,
) -> DataFrame:
    """D3 — consecutive-timestamp gap detection
    (data_validator.py:251-290; SQL LAG variant repository.py:354-367)."""
    w = Window.partitionBy(symbol).orderBy(ts)
    prev = F.lag(ts).over(w)
    gap_s = F.col(ts).cast("double") - prev.cast("double")
    return (
        df.withColumn("prev_ts", prev)
        .withColumn("gap_seconds", gap_s)
        .withColumn(
            "is_gap",
            F.when(prev.isNull(), F.lit(False)).otherwise(
                gap_s > expected_seconds * tolerance
            ),
        )
    )


def ohlc_violations() -> Column:
    """D5 — boolean: high < max(o,c) or low > min(o,c) or high < low
    (data_validator.py:333-356; DDL CHECK 02-create-tables.sh:50-51)."""
    return (
        (F.col("high") < F.greatest("open", "close"))
        | (F.col("low") > F.least("open", "close"))
        | (F.col("high") < F.col("low"))
    )


def fix_ohlc(df: DataFrame) -> DataFrame:
    """D6 — auto-correct: high := max(high,o,c), low := min(low,o,c)
    (data_quality.py:417-458 — reference loops per row; this is one
    vectorized projection)."""
    return df.withColumn(
        "high", F.greatest("high", "open", "close")
    ).withColumn("low", F.least("low", "open", "close"))


def fill_gaps(
    df: DataFrame,
    interval: str = "1 hour",
    symbol: str = "symbol",
    ts: str = "ts",
    price_cols: tuple[str, ...] = OHLC,
    volume_col: str = "volume",
) -> DataFrame:
    """D4/J2 — gap fill via generated time spine + linear interpolation
    (data_quality.py:460-501: pd.date_range reindex + interpolate).

    Plan shape: per-symbol bounds aggregate -> ``sequence``/``explode``
    spine -> left join facts -> two unbounded windows per symbol
    (``last(ignorenulls)`` preceding / ``first(ignorenulls)`` following)
    -> linear weight by timestamp distance.  Missing rows get
    interpolated prices, volume 0, and ``is_gap_fill`` = true (the
    reference intends this flag; its own volume-first ordering bug
    always yields false — not replicated).

    Scale: the spine explode is O(range/interval) per symbol and joins
    on (symbol, ts) — co-partitioned with the facts; windows reuse the
    same (symbol, ts) sort.  No global shuffle beyond the per-symbol
    ones.
    """
    bounds = df.groupBy(symbol).agg(
        F.min(ts).alias("__mn"), F.max(ts).alias("__mx")
    )
    spine = bounds.select(
        symbol,
        F.explode(
            F.sequence("__mn", "__mx", F.expr(f"interval {interval}"))
        ).alias(ts),
    )
    g = spine.join(df, [symbol, ts], "left")

    w = Window.partitionBy(symbol).orderBy(ts)
    w_prev = w.rowsBetween(Window.unboundedPreceding, 0)
    w_next = w.rowsBetween(0, Window.unboundedFollowing)
    present = F.col(price_cols[-1]).isNotNull()
    prev_ts = F.last(F.when(present, F.col(ts)), ignorenulls=True).over(w_prev)
    next_ts = F.first(F.when(present, F.col(ts)), ignorenulls=True).over(w_next)
    frac = (F.col(ts).cast("double") - prev_ts.cast("double")) / (
        next_ts.cast("double") - prev_ts.cast("double")
    )

    # flag BEFORE the price columns are overwritten: column exprs resolve
    # by name, so a post-loop `close IS NULL` would see interpolated values
    out = g.withColumn("is_gap_fill", (~present).cast("int"))
    for c in price_cols:
        prev_v = F.last(c, ignorenulls=True).over(w_prev)
        next_v = F.first(c, ignorenulls=True).over(w_next)
        out = out.withColumn(
            c,
            F.when(F.col(c).isNotNull(), F.col(c)).otherwise(
                prev_v + (next_v - prev_v) * frac
            ),
        )
    return out.withColumn(
        volume_col, F.coalesce(F.col(volume_col), F.lit(0.0))
    )


def quality_score(
    missing_pct: Column,
    duplicate_pct: Column,
    gap_pct: Column,
    outlier_pct: Column,
    invalid_ohlc_count: Column,
    row_count: Column,
) -> Column:
    """D8 — dataset-level quality score: start 1.0, subtract fixed
    penalties, clamp at 0 (data_validator.py:85-159; thresholds
    app/core/constants.py:152-157)."""
    score = (
        F.lit(1.0)
        - F.when(missing_pct > 0, 0.1).otherwise(0.0)
        - F.when(duplicate_pct > 0, 0.05).otherwise(0.0)
        - F.when(gap_pct > 10.0, 0.15).otherwise(0.0)
        - F.when(outlier_pct > 5.0, 0.2)
        .when(outlier_pct > 2.0, 0.1)
        .otherwise(0.0)
        - F.when(invalid_ohlc_count > 0, 0.3).otherwise(0.0)
        - F.when(row_count < 10, 0.2).otherwise(0.0)
    )
    return F.greatest(score, F.lit(0.0))


def quality_level(score: Column) -> Column:
    """D8 — score → level via thresholds {.95, .8, .6}
    (app/domain/enums.py:67-86)."""
    return (
        F.when(score >= 0.95, "excellent")
        .when(score >= 0.8, "good")
        .when(score >= 0.6, "fair")
        .otherwise("poor")
    )
