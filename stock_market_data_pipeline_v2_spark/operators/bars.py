"""Bronze→silver: build and clean daily OHLCV bars.

Reference semantics covered (SURVEY.md §2.2):
- P1-P4 rename/cast/drop (``spark_batch_processor.py:41-50``)
- P5/P6/P11 value filters: close>0, key not null, volume>=0
  (``spark_batch_processor.py:51-52``, ``stg_daily_stock_metrics.sql:52-57``)
- P7 key dedup (``spark_batch_processor.py:53``)
- P9 symbol normalization ``upper(trim())`` (``stg_daily_stock_metrics.sql:27``)
- P10 temporal sanity ``trade_date <= current_date``
  (``stg_daily_stock_metrics.sql:58``)

Two entry points:

:func:`bars_from_events` synthesizes the reference's per-(symbol, day)
bar grain from any tick/event-shaped table (driver table ``events``
stands in for the yfinance feed, FIXTURES.md §5): OHLC via min/max and
deterministic argmin/argmax on (ts, id), volume from a JSON props
field — the same JSON boundary the reference crosses at Kafka ser/de
(``batch_data_consumer.py:65``).

:func:`clean_daily_bars` is the silver-cleaning step over a raw
bar-shaped frame (string date/ts → typed, renames, filters, dedup).

Scale: the groupBy in ``bars_from_events`` is a single hash-aggregate
shuffle on (symbol, day) with map-side partial aggregation; min_by /
max_by are single-pass typed aggregates (no sort, no window), so the
bar build stays one shuffle at any data size. All expressions are
built-ins → whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bars_from_events(
    events: DataFrame,
    entity_col: str = "event_type",
    ts_col: str = "ts",
    price_col: str = "value",
    id_col: str = "event_id",
    qty_json_col: str = "props",
    qty_json_path: str = "$.k",
) -> DataFrame:
    """Aggregate an event stream to one OHLCV bar per (symbol, day).

    Open/close are argmin/argmax of price by (ts, id) — the id
    tiebreak keeps the result deterministic under equal timestamps.
    """
    # try_cast, not cast: under default ANSI mode one malformed
    # props.$.k (or price) value would abort the whole ingest job —
    # cleaning paths null malformed rows out instead (same contract
    # as tick_events in realtime.py; oracle mirrors with TRY_CAST).
    # SQL text: one parse per list, not one py4j call per node
    # (PERF.md lesson 12).
    return (
        events.selectExpr(
            f"upper(trim(`{entity_col}`)) AS symbol",
            f"to_date(`{ts_col}`) AS trade_date",
            f"TRY_CAST(`{price_col}` AS DOUBLE) AS price",
            f"struct(`{ts_col}`, `{id_col}`) AS order_key",
            f"TRY_CAST(get_json_object(`{qty_json_col}`, '{qty_json_path}') AS BIGINT) AS qty",
        )
        .groupBy("symbol", "trade_date")
        .agg(
            *map(
                F.expr,
                (
                    "min_by(price, order_key) AS open_price",
                    "max(price) AS high_price",
                    "min(price) AS low_price",
                    "max_by(price, order_key) AS close_price",
                    "sum(qty) AS volume",
                    "count(1) AS n_trades",
                ),
            )
        )
    )


def clean_daily_bars(raw: DataFrame) -> DataFrame:
    """Silver cleaning of a RAW_DAILY_BARS-shaped frame.

    Mirrors ``spark_batch_processor.py:41-54`` +
    ``stg_daily_stock_metrics.sql:20-61`` (the staging view re-applies
    the same filters plus symbol normalization; both are folded into
    one pass here so the scan happens once).
    """
    # try_* variants: under Spark 4's default ANSI mode a plain
    # to_date/cast ABORTS the job on one malformed raw value — the
    # cleaning contract is null-out-and-filter (Spark 3 non-ANSI
    # behavior the reference relied on), which try_cast restores
    # without giving up ANSI safety elsewhere.
    return (
        raw.select(
            F.upper(F.trim(F.col("symbol"))).alias("symbol"),
            F.try_to_timestamp(F.col("date"), F.lit("yyyy-MM-dd")).cast("date").alias(
                "trade_date"
            ),
            F.col("daily_open").try_cast("double").alias("open_price"),
            F.col("daily_high").try_cast("double").alias("high_price"),
            F.col("daily_low").try_cast("double").alias("low_price"),
            F.col("daily_close").try_cast("double").alias("close_price"),
            F.col("daily_volume").try_cast("long").alias("volume"),
            F.try_to_timestamp(F.col("batch_load_timestamp")).alias("batch_loaded_at"),
        )
        .filter(F.col("symbol").isNotNull())
        .filter(F.col("trade_date").isNotNull())
        .filter(F.col("close_price").isNotNull() & (F.col("close_price") > 0))
        .filter(F.col("volume") >= 0)
        .filter(F.col("trade_date") <= F.current_date())
        .dropDuplicates(["symbol", "trade_date"])
    )


def filter_clean_bars(bars: DataFrame) -> DataFrame:
    """Apply the staging-quality filters to an already-typed bar frame
    (used when bars come from :func:`bars_from_events`)."""
    return (
        bars.filter("symbol IS NOT NULL")
        .filter("trade_date IS NOT NULL")
        .filter("close_price IS NOT NULL AND close_price > 0")
        .filter("volume >= 0")
        .filter("trade_date <= current_date()")
    )


def daily_vwap(ticks: DataFrame) -> DataFrame:
    """Volume-weighted average price per (symbol, day) from the typed
    tick view (realtime.tick_events): vwap = Σ(price·qty)/Σ(qty) over
    ticks with both fields present, alongside the traded quantity and
    tick counts. One map-side-combined hash aggregate — the same
    single-shuffle shape as the bar build. Null-qty ticks contribute
    to ``n_ticks`` but not to the weighted sums; a day with zero
    total quantity yields NULL vwap (guarded divide)."""
    from ..functions.core import null_if_zero_divide_sql, round_away_sql

    both = "price IS NOT NULL AND qty IS NOT NULL"
    priced = f"sum(CASE WHEN {both} THEN price * qty END)"
    qty_w = f"sum(CASE WHEN {both} THEN qty END)"
    vwap = round_away_sql(null_if_zero_divide_sql(priced, f"CAST({qty_w} AS DOUBLE)"), 4)
    return (
        ticks.selectExpr(
            "symbol", "to_date(event_time) AS trade_date", "price", "volume AS qty"
        )
        .groupBy("symbol", "trade_date")
        .agg(
            F.expr(f"{vwap} AS vwap"),
            F.expr(f"CAST({qty_w} AS BIGINT) AS total_qty"),
            F.expr("count(1) AS n_ticks"),
        )
    )


def forward_fill_bars(bars: DataFrame) -> DataFrame:
    """Calendar alignment + gap fill: complete the (symbol × trading
    day) grid over the observed date span and carry the last known
    close forward — the join-ready panel every cross-sectional
    analytic (correlations, market breadth) needs when symbols trade
    on different days.

    Shape: the date spine comes from ONE row of min/max aggregates
    exploded to a sequence (model-sized — days, not rows) and
    broadcast against the distinct symbols; the left join back to
    bars and the per-symbol ``last(ignorenulls)`` window are the only
    shuffles. Output: (symbol, trade_date, close_price — null on gap
    days, filled_close — forward-filled, is_filled). Days before a
    symbol's first observation stay null and are flagged false."""
    span = bars.agg(
        F.min("trade_date").alias("d0"), F.max("trade_date").alias("d1")
    )
    dates = span.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("trade_date")
    )
    grid = bars.select("symbol").distinct().crossJoin(F.broadcast(dates))
    from pyspark.sql import Window

    w = (
        Window.partitionBy("symbol")
        .orderBy("trade_date")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(
            bars.select("symbol", "trade_date", "close_price"),
            ["symbol", "trade_date"],
            "left",
        )
        .withColumn(
            "filled_close", F.last("close_price", ignorenulls=True).over(w)
        )
        .withColumn(
            "is_filled",
            F.col("close_price").isNull() & F.col("filled_close").isNotNull(),
        )
        .select("symbol", "trade_date", "close_price", "filled_close", "is_filled")
    )


def multi_grain_bars(
    events: DataFrame,
    entity_col: str = "event_type",
    ts_col: str = "ts",
    price_col: str = "value",
    id_col: str = "event_id",
    qty_json_col: str = "props",
    qty_json_path: str = "$.k",
) -> DataFrame:
    """OHLCV bars at THREE granularities (15-minute, hour, day) from
    ONE scan and ONE aggregate via GROUPING SETS — the multi-grain
    rollup a charting/analytics backend asks for, without scanning
    the tick stream once per grain (a UNION of three groupBys reads
    the data three times; grouping sets replicate rows inside the
    Expand operator instead, so the scan and the shuffle happen
    once). Output: (symbol, grain ∈ {'15m','hour','day'},
    bucket_start, OHLCV, n_trades) with the same deterministic
    (ts, id) open/close tiebreak as :func:`bars_from_events`.

    The oracle expresses the identical result as a 3-grain UNION of
    the daily-bar formulation — semantics gate, plan freedom (the
    single-pass execution is the Spark side's job)."""
    order_key = F.struct(F.col(ts_col), F.col(id_col))
    qty = F.get_json_object(F.col(qty_json_col), qty_json_path).try_cast("long")
    ts = F.col(ts_col)
    g = events.select(
        F.upper(F.trim(F.col(entity_col))).alias("symbol"),
        ts.alias("__ts"),
        F.col(price_col).try_cast("double").alias("price"),
        order_key.alias("order_key"),
        qty.alias("qty"),
        F.date_trunc("DAY", ts).alias("day_b"),
        F.date_trunc("HOUR", ts).alias("hour_b"),
        F.timestamp_seconds(
            F.expr(f"unix_timestamp(`{ts_col}`) div 900 * 900")
        ).alias("q15_b"),
    )
    grain = (
        F.when(F.grouping("day_b") == 0, F.lit("day"))
        .when(F.grouping("hour_b") == 0, F.lit("hour"))
        .otherwise(F.lit("15m"))
    )
    return (
        g.groupingSets(
            [["symbol", "day_b"], ["symbol", "hour_b"], ["symbol", "q15_b"]],
            "symbol",
            "day_b",
            "hour_b",
            "q15_b",
        )
        .agg(
            grain.alias("grain"),
            F.min_by("price", "order_key").alias("open_price"),
            F.max("price").alias("high_price"),
            F.min("price").alias("low_price"),
            F.max_by("price", "order_key").alias("close_price"),
            F.sum("qty").alias("volume"),
            F.count(F.lit(1)).alias("n_trades"),
        )
        .select(
            "symbol",
            "grain",
            F.coalesce("day_b", "hour_b", "q15_b").alias("bucket_start"),
            "open_price",
            "high_price",
            "low_price",
            "close_price",
            "volume",
            "n_trades",
        )
    )
