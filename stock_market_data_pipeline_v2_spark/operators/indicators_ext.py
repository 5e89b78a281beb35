"""Extended indicator library — beyond the reference's SMA/RSI set,
rounding out what users of a stock-analytics engine expect.

Two tiers, matching the custom-operator ladder (task brief):

(a) window-expressible → plain DataFrame ops, oracle-checkable:
    - Bollinger bands (SMA20 ± 2·stddev20, %B)
    - Stochastic oscillator %K (14-row rolling high/low range)

(b) genuinely recursive (EMA-family: each value depends on the
    previous output) → ``applyInPandas`` per symbol, Arrow-batched:
    - EMA(n), MACD(12,26,9). The recursion y = (1−α)·prev + α·x is
      HAND-ROLLED with the same double operations as the DuckDB
      recursive-CTE oracle — do NOT "simplify" to pandas
      ``ewm(adjust=False)``: its kernel skips the update when
      prev == x, diverging by 1 ulp and breaking the structural
      bit-parity the oracle gate depends on (ewm is only the
      semantic reference; see tests/test_indicators_ext.py).

Scale: tier (a) shares the per-symbol sort with every other window
op. Tier (b) groups by symbol — one pandas frame per symbol per task;
at 100 TB the symbol universe (thousands) spreads across executors
and each series fits memory (a decade of daily bars ≈ 2500 rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..functions.core import (
    null_if_zero_divide,
    null_if_zero_divide_sql,
    round_away,
    round_away_sql,
    sql_double,
)


def bollinger_bands(
    returns: DataFrame,
    n: int = 20,
    k: float = 2.0,
    partition_col: str = "symbol",
    order_col: str = "trade_date",
) -> DataFrame:
    """SMA(n) ± k·stddev(n) over close, plus %B position in band."""
    w = (
        f"PARTITION BY `{partition_col}` ORDER BY `{order_col}`"
        f" ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW"
    )
    # ``__sd * k``, not ``k * __sd``: the operand order is part of the
    # plan (PERF.md lesson 12)
    kd = sql_double(k)
    upper, lower = f"__mid + __sd * {kd}", f"__mid - __sd * {kd}"
    pct_b = null_if_zero_divide_sql(f"close_price - ({lower})", f"{upper} - ({lower})")
    keys = (f"`{partition_col}`", f"`{order_col}`", "close_price")
    return returns.selectExpr(
        *keys,
        f"avg(close_price) OVER ({w}) AS __mid",
        f"stddev_samp(close_price) OVER ({w}) AS __sd",
    ).selectExpr(
        *keys,
        f"{round_away_sql('__mid', 4)} AS bb_mid",
        f"{round_away_sql(upper, 4)} AS bb_upper",
        f"{round_away_sql(lower, 4)} AS bb_lower",
        f"{round_away_sql(f'{pct_b} * 100', 4)} AS bb_pct_b",
    )


def stochastic_k(
    returns: DataFrame,
    n: int = 14,
    partition_col: str = "symbol",
    order_col: str = "trade_date",
) -> DataFrame:
    """%K = (close − min(low,n)) / (max(high,n) − min(low,n)) · 100."""
    w = Window.partitionBy(partition_col).orderBy(order_col).rowsBetween(-(n - 1), 0)
    hi, lo = F.col("__hi"), F.col("__lo")
    return returns.select(
        partition_col,
        order_col,
        "close_price",
        F.max("high_price").over(w).alias("__hi"),
        F.min("low_price").over(w).alias("__lo"),
    ).select(
        partition_col,
        order_col,
        "close_price",
        round_away(null_if_zero_divide(F.col("close_price") - lo, hi - lo) * 100, 4).alias(
            "stoch_k"
        ),
    )


def macd(
    bars: DataFrame,
    fast: int = 12,
    slow: int = 26,
    signal: int = 9,
    partition_col: str = "symbol",
    order_col: str = "trade_date",
) -> DataFrame:
    """MACD via per-symbol ``applyInPandas`` (recursive EMA chain).

    Output schema is derived from the input's key/order column types,
    so the operator is reusable over any (entity, time) series.
    """
    schema = StructType(
        [
            StructField(partition_col, bars.schema[partition_col].dataType),
            StructField(order_col, bars.schema[order_col].dataType),
            StructField("close_price", DoubleType()),
            StructField(f"ema_{fast}", DoubleType()),
            StructField(f"ema_{slow}", DoubleType()),
            StructField("macd", DoubleType()),
            StructField("macd_signal", DoubleType()),
            StructField("macd_hist", DoubleType()),
        ]
    )

    def compute(pdf):
        import numpy as np

        # Explicit recursion y = (1-α)·prev + α·x — the same double
        # operations as the oracle's recursive CTE, so equality is
        # structural. pandas ewm(adjust=False) is NOT bit-identical:
        # its kernel skips the update when prev == x (holding an exact
        # constant where the recurrence drifts by 1 ulp).
        def ema(xs: np.ndarray, span: int) -> np.ndarray:
            a = 2.0 / (span + 1.0)
            out = np.empty_like(xs)
            prev = xs[0]
            out[0] = prev
            for i in range(1, len(xs)):
                prev = (1 - a) * prev + a * xs[i]
                out[i] = prev
            return out

        def round_away(xs: np.ndarray, digits: int) -> np.ndarray:
            # DuckDB double rounding: x·10ⁿ, +0.5, floor, sign-aware —
            # np.round would round half-to-even and diverge on ties.
            p = float(10**digits)
            scaled = xs * p
            return np.where(
                xs >= 0, np.floor(scaled + 0.5), -np.floor(-scaled + 0.5)
            ) / p

        if len(pdf) == 0:
            import pandas as pd

            return pd.DataFrame({f.name: [] for f in schema.fields})
        pdf = pdf.sort_values(order_col)
        close = pdf["close_price"].astype("float64").to_numpy()
        ema_f = ema(close, fast)
        ema_s = ema(close, slow)
        macd_line = ema_f - ema_s
        sig = ema(macd_line, signal)
        out = pdf[[partition_col, order_col]].copy()
        out["close_price"] = close
        out[f"ema_{fast}"] = round_away(ema_f, 4)
        out[f"ema_{slow}"] = round_away(ema_s, 4)
        out["macd"] = round_away(macd_line, 4)
        out["macd_signal"] = round_away(sig, 4)
        out["macd_hist"] = round_away(macd_line - sig, 4)
        return out

    return (
        bars.select(partition_col, order_col, F.col("close_price").cast("double"))
        .groupBy(partition_col)
        .applyInPandas(compute, schema=schema)
    )


def atr_obv(
    bars: DataFrame,
    n: int = 14,
    partition_col: str = "symbol",
    order_col: str = "trade_date",
) -> DataFrame:
    """Average True Range (SMA-of-TR variant) + On-Balance Volume —
    the volatility-range and volume-flow members of the classic
    indicator set, both tier (a) window-expressible:

    TR  = greatest(high − low, |high − prev_close|, |low − prev_close|)
          (first row per symbol: high − low — no prior close exists)
    ATR = avg(TR) over the trailing ``n`` rows (the SMA variant —
          deterministic and oracle-exact; Wilder's recursive smoothing
          is EMA-family and would ride the macd applyInPandas tier)
    OBV = running Σ of sign(close − prev_close) · volume — integer
          arithmetic end to end (volume is integral), so OBV is exact
          in any engine with no rounding at all.

    One partition/order spec serves the lag, the trailing avg, and the
    running sum — a single exchange + sort, same sharing as
    rolling_indicators (plan property: stock_performance test).
    """
    w_ord = Window.partitionBy(partition_col).orderBy(order_col)
    w_trail = w_ord.rowsBetween(-(n - 1), 0)
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    prev_close = F.col("__prev_close")
    tr = F.when(
        prev_close.isNull(), F.col("high_price") - F.col("low_price")
    ).otherwise(
        F.greatest(
            F.col("high_price") - F.col("low_price"),
            F.abs(F.col("high_price") - prev_close),
            F.abs(F.col("low_price") - prev_close),
        )
    )
    flow = F.when(prev_close.isNull(), F.lit(0)).otherwise(
        F.when(F.col("close_price") > prev_close, F.col("volume"))
        .when(F.col("close_price") < prev_close, -F.col("volume"))
        .otherwise(F.lit(0))
    )
    return (
        bars.withColumn("__prev_close", F.lag("close_price").over(w_ord))
        .withColumns({"__tr": tr, "__flow": flow.cast("long")})
        .withColumns(
            {
                "__atr": F.avg("__tr").over(w_trail),
                "obv": F.sum("__flow").over(w_run).cast("long"),
            }
        )
        .select(
            partition_col,
            order_col,
            "close_price",
            round_away(F.col("__tr"), 4).alias("true_range"),
            round_away(F.col("__atr"), 4).alias(f"atr_{n}"),
            "obv",
        )
    )


def drawdown(
    bars: DataFrame,
    partition_col: str = "symbol",
    order_col: str = "trade_date",
) -> DataFrame:
    """Drawdown series + running peak per symbol: the number every
    risk report leads with. peak = running max of close (EXACT — max
    is accumulation-order-free), drawdown = close/peak − 1 (one
    divide, rounded 6 dp), max_drawdown = the partition-wide minimum
    of the UNROUNDED series carried on every row (min is order-free,
    so the whole mart is engine-exact except the output rounding).

    One partition/order spec serves the running max; the full-
    partition min reuses the same exchange with an unbounded frame —
    no second shuffle.
    """
    w_ord = Window.partitionBy(partition_col).orderBy(order_col)
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    w_all = w_ord.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        bars.withColumn("__peak", F.max("close_price").over(w_run))
        .withColumn("__dd", F.col("close_price") / F.col("__peak") - F.lit(1.0))
        .withColumn("__max_dd", F.min("__dd").over(w_all))
        .select(
            partition_col,
            order_col,
            "close_price",
            F.col("__peak").alias("peak_close"),
            round_away(F.col("__dd"), 6).alias("drawdown_pct"),
            round_away(F.col("__max_dd"), 6).alias("max_drawdown_pct"),
        )
    )
