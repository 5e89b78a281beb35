"""Daily returns — parity with ``dbt/models/intermediate/int_daily_returns.sql``.

Operators covered (SURVEY.md §2.5): W1 ``lag(close_price)`` and W2
``row_number()`` over ``PARTITION BY symbol ORDER BY trade_date``,
composed into the exact derived columns of the reference
(``int_daily_returns.sql:26-64``):

- ``prev_close_price``        lag(close)
- ``daily_return_pct``        round((close-prev)/nullif(prev,0)*100, 4)
- ``intraday_range``          round(high-low, 4)
- ``intraday_range_pct``      round((high-low)/nullif(close,0)*100, 4)
- ``overnight_gap``           round(open-prev_close, 4)
- ``symbol_row_num``          row_number()

Scale: both window expressions share ONE window spec, so Spark
plans a single sort+Window exchange partitioned by symbol (check with
``.explain`` — one Exchange hashpartitioning(symbol), one Window
node). The lag is projected once as ``prev_close_price`` and the
derived columns read that column: Catalyst evaluates every copy of a
window expression separately, and the rounding helpers reference
their argument several times (PERF.md lesson 10). At 100 TB the
partition key (symbol/entity) is the natural parallelism unit;
per-key data is a time series that fits a partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.core import null_if_zero_divide, round_away


def daily_returns(bars: DataFrame, partition_col: str = "symbol", order_col: str = "trade_date") -> DataFrame:
    w = Window.partitionBy(partition_col).orderBy(order_col)
    prev_close = F.col("prev_close_price")
    return bars.select(
        "*",
        F.lag("close_price").over(w).alias("prev_close_price"),
        F.row_number().over(w).cast("long").alias("symbol_row_num"),
    ).select(
        *bars.columns,
        prev_close,
        round_away(
            null_if_zero_divide(F.col("close_price") - prev_close, prev_close) * 100, 4
        ).alias("daily_return_pct"),
        round_away(F.col("high_price") - F.col("low_price"), 4).alias("intraday_range"),
        round_away(
            null_if_zero_divide(F.col("high_price") - F.col("low_price"), F.col("close_price"))
            * 100,
            4,
        ).alias("intraday_range_pct"),
        round_away(F.col("open_price") - prev_close, 4).alias("overnight_gap"),
        "symbol_row_num",
    )
