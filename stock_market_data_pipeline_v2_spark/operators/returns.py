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

from pyspark.sql import DataFrame

from ..functions.core import null_if_zero_divide_sql, round_away_sql


def daily_returns(bars: DataFrame, partition_col: str = "symbol", order_col: str = "trade_date") -> DataFrame:
    w = f"PARTITION BY `{partition_col}` ORDER BY `{order_col}`"
    prev = "prev_close_price"
    ret = null_if_zero_divide_sql(f"close_price - {prev}", prev)
    range_pct = null_if_zero_divide_sql("high_price - low_price", "close_price")
    return bars.selectExpr(
        "*",
        f"lag(close_price) OVER ({w}) AS {prev}",
        f"CAST(row_number() OVER ({w}) AS BIGINT) AS symbol_row_num",
    ).selectExpr(
        *(f"`{c}`" for c in bars.columns),
        prev,
        f"{round_away_sql(f'{ret} * 100', 4)} AS daily_return_pct",
        f"{round_away_sql('high_price - low_price', 4)} AS intraday_range",
        f"{round_away_sql(f'{range_pct} * 100', 4)} AS intraday_range_pct",
        f"{round_away_sql(f'open_price - {prev}', 4)} AS overnight_gap",
        "symbol_row_num",
    )
