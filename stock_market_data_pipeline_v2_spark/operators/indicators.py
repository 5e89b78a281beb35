"""Rolling technical indicators — parity with
``dbt/models/intermediate/int_rolling_metrics.sql``.

Operators covered (SURVEY.md §2.5): W3 rolling SMA frames 4/9/19/49
PRECEDING (``int_rolling_metrics.sql:33-55``), W4 20-row return
stddev + annualization ×sqrt(252) (``:58-68``), W5 rolling volume avg
+ ratio (``:71-81``), W6 RSI-14 zero-padded conditional averages
(``:85-104`` — "Wilder smoothing simplified"; preserved exactly,
including both nullif guards, as the parity spec).

Scale: every frame shares one (partitionBy symbol, orderBy
trade_date) spec, so Catalyst evaluates all eight rolling aggregates
in a SINGLE Window operator over a single sort — no extra shuffle or
sort per frame (verify: `.explain` shows one Exchange + one Window).
Each aggregate still costs its own pass, though: Spark re-aggregates
a sliding ROWS frame every time it moves, O(rows × frame) per window
expression, so each one is projected once and every output derives
from that column (PERF.md lesson 10). Daily-bar grain keeps
per-symbol series small; at 100 TB the shuffle key (symbol) spreads
across executors and AQE handles hot symbols.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.core import null_if_zero_divide_sql, round_away_sql, sql_double

SQRT_252 = 252**0.5  # trading days/year (int_rolling_metrics.sql:68)
SMA_DAYS = (5, 10, 20, 50)  # int_rolling_metrics.sql:33-55


def rolling_indicators(
    returns: DataFrame,
    partition_col: str = "symbol",
    order_col: str = "trade_date",
) -> DataFrame:
    """Append SMA/volatility/volume/RSI columns to a daily-returns frame.

    Each raw window aggregate is projected once under a ``__`` name;
    the rounded outputs are derived from those columns one projection
    up, which drops them (PERF.md lesson 10)."""
    w = f"PARTITION BY `{partition_col}` ORDER BY `{order_col}`"

    def rows(n: int) -> str:
        return f"{w} ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW"

    ret = "daily_return_pct"
    raw = returns.selectExpr(
        "*",
        *(f"avg(close_price) OVER ({rows(n)}) AS __sma{n}" for n in SMA_DAYS),
        f"stddev_samp({ret}) OVER ({rows(20)}) AS __vol20",
        f"avg(volume) OVER ({rows(20)}) AS __avg_vol20",
        f"avg(CASE WHEN {ret} > 0 THEN {ret} ELSE 0.0D END) OVER ({rows(14)}) AS __avg_gain",
        f"avg(CASE WHEN {ret} < 0 THEN abs({ret}) ELSE 0.0D END) OVER ({rows(14)})"
        " AS __avg_loss",
    )
    # 100 - 100/(1 + nullif(gain/nullif(loss,0), 0))  (int_rolling_metrics.sql:85-104)
    rs = f"nullif({null_if_zero_divide_sql('__avg_gain', '__avg_loss')}, 0.0D)"
    rsi = round_away_sql(f"100.0D - 100.0D / (1.0D + {rs})", 2)

    return raw.selectExpr(
        *(f"`{c}`" for c in returns.columns),
        *(f"{round_away_sql(f'__sma{n}', 4)} AS sma_{n}d" for n in SMA_DAYS),
        f"{round_away_sql('__vol20', 4)} AS volatility_20d_pct",
        f"{round_away_sql(f'__vol20 * {sql_double(SQRT_252)}', 4)} AS annualised_volatility_pct",
        f"{round_away_sql('__avg_vol20', 0)} AS avg_volume_20d",
        f"{round_away_sql(null_if_zero_divide_sql('volume', '__avg_vol20'), 4)}"
        " AS volume_vs_avg_20d",
        f"{rsi} AS rsi_14",
    )
