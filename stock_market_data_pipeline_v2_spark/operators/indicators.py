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

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.core import null_if_zero_divide, round_away

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
    w = Window.partitionBy(partition_col).orderBy(order_col)
    w20 = w.rowsBetween(-19, 0)
    w14 = w.rowsBetween(-13, 0)

    ret = F.col("daily_return_pct")
    raw = returns.select(
        "*",
        *(
            F.avg("close_price").over(w.rowsBetween(-(n - 1), 0)).alias(f"__sma{n}")
            for n in SMA_DAYS
        ),
        F.stddev_samp("daily_return_pct").over(w20).alias("__vol20"),
        F.avg("volume").over(w20).alias("__avg_vol20"),
        F.avg(F.when(ret > 0, ret).otherwise(F.lit(0.0))).over(w14).alias("__avg_gain"),
        F.avg(F.when(ret < 0, F.abs(ret)).otherwise(F.lit(0.0))).over(w14).alias("__avg_loss"),
    )
    vol20, avg_vol20 = F.col("__vol20"), F.col("__avg_vol20")
    # 100 - 100/(1 + nullif(gain/nullif(loss,0), 0))  (int_rolling_metrics.sql:85-104)
    rs = F.nullif(null_if_zero_divide(F.col("__avg_gain"), F.col("__avg_loss")), F.lit(0.0))
    rsi = round_away(F.lit(100.0) - (F.lit(100.0) / (F.lit(1.0) + rs)), 2)

    return raw.select(
        *returns.columns,
        *(round_away(f"__sma{n}", 4).alias(f"sma_{n}d") for n in SMA_DAYS),
        round_away(vol20, 4).alias("volatility_20d_pct"),
        round_away(vol20 * F.lit(SQRT_252), 4).alias("annualised_volatility_pct"),
        round_away(avg_vol20, 0).alias("avg_volume_20d"),
        round_away(null_if_zero_divide(F.col("volume"), avg_vol20), 4).alias("volume_vs_avg_20d"),
        rsi.alias("rsi_14"),
    )
