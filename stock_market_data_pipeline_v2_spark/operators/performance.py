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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.core import null_if_zero_divide_sql, round_away_sql
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


def crossover_signal_sql(fast: str, slow: str) -> str:
    """C4/C5 level-comparison signal (mart_stock_performance.sql:53-63).

    Level comparison, not an edge detector — NULL SMAs fall through to
    NEUTRAL exactly as SQL CASE does.
    """
    return (
        f"CASE WHEN `{fast}` > `{slow}` THEN 'GOLDEN_CROSS'"
        f" WHEN `{fast}` < `{slow}` THEN 'DEATH_CROSS' ELSE 'NEUTRAL' END"
    )


def stock_performance(
    clean_bars: DataFrame,
    partition_col: str = "symbol",
    order_col: str = "trade_date",
    include_audit: bool = False,
    enriched: DataFrame | None = None,
) -> DataFrame:
    """``enriched``: a prebuilt ``rolling_indicators(daily_returns(...))``
    frame (the entry module memoizes that shared chain, about 0.12 s of
    plan construction per rebuild at sf0.01); when absent it is built
    inline, identical plan."""
    w52 = (
        f"PARTITION BY `{partition_col}` ORDER BY `{order_col}`"
        " ROWS BETWEEN 251 PRECEDING AND CURRENT ROW"
    )

    if enriched is None:
        enriched = rolling_indicators(
            daily_returns(clean_bars, partition_col, order_col),
            partition_col,
            order_col,
        )

    range_pct = null_if_zero_divide_sql("close_price - low_52w", "high_52w - low_52w")
    out = (
        enriched.selectExpr(
            "*",
            f"max(high_price) OVER ({w52}) AS high_52w",
            f"min(low_price) OVER ({w52}) AS low_52w",
        )
        .selectExpr(
            "*",
            f"{crossover_signal_sql('sma_5d', 'sma_20d')} AS ma_signal_5_20",
            f"{crossover_signal_sql('sma_10d', 'sma_50d')} AS ma_signal_10_50",
            "CASE WHEN volume_vs_avg_20d >= 2.0D THEN true ELSE false END"
            " AS is_high_volume_day",
            "CASE WHEN rsi_14 >= 70 THEN 'OVERBOUGHT' WHEN rsi_14 <= 30 THEN 'OVERSOLD'"
            " ELSE 'NEUTRAL' END AS rsi_signal",
            f"{round_away_sql(f'{range_pct} * 100', 2)} AS pct_of_52w_range",
        )
        .select(*PERFORMANCE_COLUMNS)
    )
    if include_audit:
        out = out.withColumn("dbt_updated_at", F.current_timestamp())
    return out
