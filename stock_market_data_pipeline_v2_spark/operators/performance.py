"""Stock-performance mart — parity with
``dbt/models/marts/mart_stock_performance.sql``.

Covers W7 (252-row rolling high/low + pct-of-range,
``mart_stock_performance.sql:86-114``) and the signal CASE operators
C4-C7 (``:53-83``): MA crossover levels, high-volume flag, RSI
overbought/oversold.

Design note on J2 (the reference's returns ⋈ rolling inner join,
``mart_stock_performance.sql:120-124`` — including its tautological
``r.symbol = r.symbol`` predicate, not reproduced): both sides share
the same lineage and grain (symbol, trade_date), the join exists only
because dbt splits models. Spark-first, the join is ELIMINATED — all
window families run over one partition/order spec in a single Window
operator, so the mart is scan → window → project with zero joins and
one shuffle. The equi-join operator itself is exercised by the
dimension-enrichment query (operators/dims.py).

Audit columns (``batch_loaded_at``, ``dbt_updated_at``) are appended
only when ``include_audit=True`` — wall-clock columns can't be
oracle-compared.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.core import null_if_zero_divide, round_away
from .indicators import rolling_indicators
from .returns import daily_returns

PERFORMANCE_COLUMNS = [
    "symbol",
    "trade_date",
    "open_price",
    "high_price",
    "low_price",
    "close_price",
    "volume",
    "prev_close_price",
    "daily_return_pct",
    "intraday_range",
    "intraday_range_pct",
    "overnight_gap",
    "sma_5d",
    "sma_10d",
    "sma_20d",
    "sma_50d",
    "ma_signal_5_20",
    "ma_signal_10_50",
    "volatility_20d_pct",
    "annualised_volatility_pct",
    "avg_volume_20d",
    "volume_vs_avg_20d",
    "is_high_volume_day",
    "rsi_14",
    "rsi_signal",
    "high_52w",
    "low_52w",
    "pct_of_52w_range",
]


def crossover_signal(fast: str, slow: str) -> F.Column:
    """C4/C5 level-comparison signal (mart_stock_performance.sql:53-63).

    Level comparison, not an edge detector — NULL SMAs fall through to
    NEUTRAL exactly as SQL CASE does.
    """
    return (
        F.when(F.col(fast) > F.col(slow), F.lit("GOLDEN_CROSS"))
        .when(F.col(fast) < F.col(slow), F.lit("DEATH_CROSS"))
        .otherwise(F.lit("NEUTRAL"))
    )


def stock_performance(
    clean_bars: DataFrame,
    partition_col: str = "symbol",
    order_col: str = "trade_date",
    include_audit: bool = False,
    enriched: DataFrame | None = None,
) -> DataFrame:
    """``enriched``: a prebuilt ``rolling_indicators(daily_returns(...))``
    frame (r13: the entry module memoizes that shared chain — ~0.75 s
    of eager plan re-analysis per rebuild); when absent it is built
    inline, identical plan."""
    w = Window.partitionBy(partition_col).orderBy(order_col)
    w52 = w.rowsBetween(-251, 0)

    if enriched is None:
        enriched = rolling_indicators(
            daily_returns(clean_bars, partition_col, order_col),
            partition_col,
            order_col,
        )

    out = (
        enriched.withColumns(
            {
                "high_52w": F.max("high_price").over(w52),
                "low_52w": F.min("low_price").over(w52),
            }
        )
        .withColumns(
            {
                "ma_signal_5_20": crossover_signal("sma_5d", "sma_20d"),
                "ma_signal_10_50": crossover_signal("sma_10d", "sma_50d"),
                "is_high_volume_day": F.when(
                    F.col("volume_vs_avg_20d") >= 2.0, F.lit(True)
                ).otherwise(F.lit(False)),
                "rsi_signal": F.when(F.col("rsi_14") >= 70, F.lit("OVERBOUGHT"))
                .when(F.col("rsi_14") <= 30, F.lit("OVERSOLD"))
                .otherwise(F.lit("NEUTRAL")),
                "pct_of_52w_range": round_away(
                    null_if_zero_divide(
                        F.col("close_price") - F.col("low_52w"),
                        F.col("high_52w") - F.col("low_52w"),
                    )
                    * 100,
                    2,
                ),
            }
        )
        .select(*PERFORMANCE_COLUMNS)
    )
    if include_audit:
        out = out.withColumn("dbt_updated_at", F.current_timestamp())
    return out
