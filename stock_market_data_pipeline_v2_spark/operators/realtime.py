"""Realtime windowed analytics — parity with
``src/spark/jobs/spark_stream_batch_processor.py`` (batch form) and
the dbt streaming models.

Covered (SURVEY.md §2.4-2.6):
- A1/A2 grouped tumbling-window aggregations 15 min / 1 h
  (``spark_stream_batch_processor.py:42-62``)
- A3 window-struct start/end extraction (``:52-53,60``)
- J1 15m→1h interval join (``:64-72``) — both the literal range form
  and the Spark-first equi-bucket form (operators/joins.py)
- W8 lag of MAs across windows, W9 trailing 4-window averages
  (``int_realtime_enriched.sql:35-64``)
- C1-C3 momentum / volatility-regime / volume-spike signals
  (``int_realtime_enriched.sql:74-93``)
- C8-C9 multi-signal alert + human-readable summary string
  (``mart_realtime_signals.sql:49-62``)

Numeric contract: ``ma_*``/``volatility_*`` are rounded to 6 dp at
the aggregate boundary. The reference lands these into a Snowflake
FLOAT(=float32) staging cast (``stg_realtime_stock_analytics.sql:38-44``),
so 6 dp is *more* precise than reference behavior while making the
double results reproducible across engines (group-merge order of
float sums is not associative).

The join-free 1-h MA: re-aggregate the 15-min partial sums/counts
with a window over (symbol, hour bucket) — avg-of-ticks, not
avg-of-avgs — removing the second scan AND the join of the reference
implementation. One scan, one shuffle, one window pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.core import round_away, round_away_sql

from .joins import interval_left_join, interval_left_join_range


def tick_events(events: DataFrame) -> DataFrame:
    """events → tick stream shape (FIXTURES.md §5 mapping)."""
    return events.select(
        F.upper(F.trim(F.col("event_type"))).alias("symbol"),
        F.col("ts").alias("event_time"),
        F.col("value").try_cast("double").alias("price"),
        F.get_json_object("props", "$.k").try_cast("long").alias("volume"),
    )


def window_aggregate(ticks: DataFrame, duration: str = "15 minutes") -> DataFrame:
    """A1/A3: per-(symbol, tumbling window) avg/stddev/sum + partials.

    ``price_sum``/``price_cnt`` ride along so a coarser grain can be
    re-aggregated without rescanning (see :func:`windowed_analytics`).
    """
    return (
        ticks.groupBy("symbol", F.expr(f"window(event_time, '{duration}') AS `window`"))
        .agg(
            *map(
                F.expr,
                (
                    "avg(price) AS ma_raw",
                    "stddev_samp(price) AS vol_raw",
                    "sum(volume) AS volume_sum",
                    "sum(price) AS price_sum",
                    "count(price) AS price_cnt",
                ),
            )
        )
        .selectExpr(
            "symbol",
            "`window`.start AS window_start",
            "`window`.end AS window_end",
            "ma_raw",
            "vol_raw",
            "volume_sum",
            "price_sum",
            "price_cnt",
        )
    )


def window_aggregate_15m(ticks: DataFrame) -> DataFrame:
    """Reference agg_15m (``spark_stream_batch_processor.py:45-55``)."""
    return window_aggregate(ticks, "15 minutes").select(
        "symbol",
        "window_start",
        "window_end",
        round_away("ma_raw", 6).alias("ma_15m"),
        round_away("vol_raw", 6).alias("volatility_15m"),
        F.col("volume_sum").alias("volume_sum_15m"),
    )


def windowed_analytics(
    ticks: DataFrame, strategy: str = "interval_join", rounded: bool = True
) -> DataFrame:
    """15-min analytics + containing 1-hour MA (reference result shape,
    ``spark_stream_batch_processor.py:45-75`` minus load_timestamp).

    strategy='interval_join' (default): J1 as a co-partitioned EQUI
    join on the derived hour bucket (operators/joins.py) — exact
    bit-parity with a direct 1-h average, no nested-loop join.
    strategy='range_join': the literal reference range-predicate form.
    strategy='reaggregate': join-free — 1-h MA from 15-min partial
    sums via a window over (symbol, hour bucket). Fastest plan (one
    shuffle), but sum-of-partial-sums differs from a direct sum by
    ~1 ulp, so rounded values can land one boundary step away on
    ~1%% of rows — use where throughput matters more than
    bit-reproducibility (its correctness gate is rows-only; the raw
    divergence bound is measured at sf0.1 by
    tests/test_reagg_tolerance.py: max |reagg − join| < 1e-9).

    rounded=False emits the raw (pre-6dp) ma/vol columns — for
    numeric-bound tests and callers that round at a later boundary.
    """
    if strategy not in ("interval_join", "range_join", "reaggregate"):
        raise ValueError(
            f"unknown strategy {strategy!r}; expected interval_join, "
            "range_join, or reaggregate"
        )
    agg15 = window_aggregate(ticks, "15 minutes")
    if strategy == "reaggregate":
        hour = F.window("window_start", "1 hour").start
        w_hour = Window.partitionBy("symbol", "__hour")
        out = (
            agg15.withColumn("__hour", hour)
            .withColumn(
                "ma_1h_raw",
                F.sum("price_sum").over(w_hour) / F.sum("price_cnt").over(w_hour),
            )
            .drop("__hour")
        )
    else:
        agg1h = (
            window_aggregate(ticks, "1 hour")
            .selectExpr("symbol", "window_start AS window_start_1h", "ma_raw")
            .withColumnRenamed("ma_raw", "ma_1h_raw")
        )
        join_fn = interval_left_join if strategy == "interval_join" else interval_left_join_range
        out = join_fn(
            agg15, agg1h, ["symbol"], "window_start", "window_start_1h", "1 hour"
        )

    def rnd(col: str) -> str:
        return round_away_sql(col, 6) if rounded else col

    return out.selectExpr(
        "symbol",
        "window_start",
        "window_end",
        f"{rnd('ma_raw')} AS ma_15m",
        f"{rnd('vol_raw')} AS volatility_15m",
        "volume_sum AS volume_sum_15m",
        f"{rnd('ma_1h_raw')} AS ma_1h",
    )


def session_window_aggregate(
    events: DataFrame,
    id_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap: str = "30 minutes",
) -> DataFrame:
    """Session windows (gap-based) per entity — beyond the reference's
    tumbling windows (SURVEY.md §2.9 lists them absent); Spark-native
    via ``F.session_window``, which also runs under readStream with
    watermarks for true streaming sessionization.

    A new session starts when the gap since the previous event is
    ≥ ``gap``; ``session_end`` = last event + gap (Spark semantics).
    """
    win = F.session_window(F.col(ts_col), gap)
    return (
        events.groupBy(F.col(id_col), win.alias("session"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round_away(F.sum(value_col), 2).alias("total_value"),
        )
        .select(
            id_col,
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def stage_realtime(analytics: DataFrame, retention_days: int | None = None) -> DataFrame:
    """``stg_realtime_stock_analytics.sql`` parity: renames, window
    duration, integrity filters. The 90-day retention predicate (P13)
    is parameterized and OFF by default — the testdata is fixed in
    2024, so a wall-clock-relative filter would empty it.
    """
    out = (
        analytics.selectExpr(
            "symbol",
            "window_start AS window_start_at",
            "window_end AS window_end_at",
            "CAST((unix_timestamp(window_end) - unix_timestamp(window_start)) / 60 AS BIGINT)"
            " AS window_duration_minutes",
            "ma_15m",
            "ma_1h",
            "volatility_15m",
            "volume_sum_15m AS volume_15m",
        )
        .filter("symbol IS NOT NULL")
        .filter("window_start_at IS NOT NULL AND window_end_at IS NOT NULL")
        .filter("window_start_at < window_end_at")
    )
    if retention_days is not None:
        out = out.filter(
            f"window_start_at >= current_timestamp() - INTERVAL {retention_days} DAYS"
        )
    return out


def enrich_realtime(staged: DataFrame) -> DataFrame:
    """``int_realtime_enriched.sql:26-104`` parity: W8 lags, W9
    trailing 4-window averages, C1-C3 signals."""
    w = "PARTITION BY symbol ORDER BY window_start_at"
    w4 = f"{w} ROWS BETWEEN 3 PRECEDING AND CURRENT ROW"
    # each window aggregate projected once; round_away reads its
    # argument three times (PERF.md lesson 10)
    with_deltas = staged.selectExpr(
        "*",
        f"lag(ma_15m) OVER ({w}) AS __prev_ma_15m",
        f"lag(ma_1h) OVER ({w}) AS __prev_ma_1h",
        f"avg(volume_15m) OVER ({w4}) AS __avg_vol_1h",
        f"avg(volatility_15m) OVER ({w4}) AS __avg_volat_1h",
    ).selectExpr(
        *(f"`{c}`" for c in staged.columns),
        f"{round_away_sql('ma_15m - __prev_ma_15m', 4)} AS ma_15m_delta",
        f"{round_away_sql('ma_1h - __prev_ma_1h', 4)} AS ma_1h_delta",
        f"{round_away_sql('ma_15m - ma_1h', 4)} AS ma_spread",
        f"{round_away_sql('__avg_vol_1h', 0)} AS avg_volume_1h",
        f"{round_away_sql('__avg_volat_1h', 4)} AS avg_volatility_1h",
    )
    return with_deltas.selectExpr(
        "*",
        "CASE WHEN ma_spread > 0 AND ma_15m_delta > 0 THEN 'BULLISH'"
        " WHEN ma_spread < 0 AND ma_15m_delta < 0 THEN 'BEARISH'"
        " ELSE 'NEUTRAL' END AS momentum_signal",
        "CASE WHEN volatility_15m >= avg_volatility_1h * 2.0D THEN 'HIGH'"
        " WHEN volatility_15m >= avg_volatility_1h * 1.5D THEN 'ELEVATED'"
        " WHEN volatility_15m <= avg_volatility_1h * 0.5D THEN 'LOW'"
        " ELSE 'NORMAL' END AS volatility_regime",
        "CASE WHEN avg_volume_1h > 0 AND volume_15m >= avg_volume_1h * 2.0D"
        " THEN true ELSE false END AS is_volume_spike",
    )


def realtime_signals(enriched: DataFrame) -> DataFrame:
    """``mart_realtime_signals.sql:22-68`` parity: C8 alert + C9
    summary string (audit timestamps omitted — wall-clock)."""
    return enriched.selectExpr(
        "symbol",
        "window_start_at",
        "window_end_at",
        "window_duration_minutes",
        "ma_15m",
        "ma_1h",
        "ma_spread",
        "ma_15m_delta",
        "ma_1h_delta",
        "momentum_signal",
        "volatility_15m",
        "avg_volatility_1h",
        "volatility_regime",
        "volume_15m",
        "avg_volume_1h",
        "is_volume_spike",
        "momentum_signal != 'NEUTRAL' AND volatility_regime IN ('ELEVATED', 'HIGH')"
        " AND is_volume_spike AS is_multi_signal_alert",
        "concat(symbol, ' | ', momentum_signal, ' | Vol: ', volatility_regime,"
        " CASE WHEN is_volume_spike THEN ' | VOLUME SPIKE' ELSE '' END, ' @ ',"
        " date_format(window_start_at, 'yyyy-MM-dd HH:mm')) AS signal_summary",
    )


def winsorize_ticks(
    ticks: DataFrame,
    lower: float = 0.01,
    upper: float = 0.99,
) -> DataFrame:
    """Outlier winsorization for the tick cleaning path: per-symbol
    EXACT continuous percentiles (SQL percentile_cont semantics —
    Spark ``percentile``; sorted-data interpolation, deterministic)
    bound the price distribution, and each tick is clamped into
    [q_lo, q_hi] with an outlier flag — the standard
    fat-finger/bad-print guard between raw ingest and bar building.

    The percentile pair is a per-symbol AGGREGATE (symbol-cardinality
    rows — model-sized) broadcast back onto the tick scan, so the
    fact side never shuffles; bounds are rounded to 6 dp BEFORE the
    comparison so Spark and DuckDB clamp on the identical double
    (the two engines' interpolation expressions can differ at the
    ulp; rounding first removes the hazard — PERF.md lesson 1
    family). Unpriced ticks pass through unflagged."""
    from ..functions.core import round_away

    q = ticks.filter(F.col("price").isNotNull()).groupBy("symbol").agg(
        round_away(F.percentile("price", F.lit(lower)), 6).alias("q_lo"),
        round_away(F.percentile("price", F.lit(upper)), 6).alias("q_hi"),
    )
    clipped = F.least(F.greatest(F.col("price"), F.col("q_lo")), F.col("q_hi"))
    return (
        ticks.join(F.broadcast(q), "symbol", "left")
        .select(
            "symbol",
            "event_time",
            "price",
            "q_lo",
            "q_hi",
            F.when(F.col("price").isNotNull(), clipped).alias("clipped_price"),
            F.coalesce(
                (F.col("price") < F.col("q_lo"))
                | (F.col("price") > F.col("q_hi")),
                F.lit(False),
            ).alias("is_outlier"),
        )
    )
