"""Phase 2-4 tests: rolling indicators, summary, realtime signals.

Hand-computed goldens for the indicator warm-up region plus dbt-style
invariant checks (accepted_values / ranges — SURVEY.md §5).
"""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from stock_market_data_pipeline_v2_spark.operators.indicators import rolling_indicators
from stock_market_data_pipeline_v2_spark.operators.performance import stock_performance
from stock_market_data_pipeline_v2_spark.operators.realtime import (
    enrich_realtime,
    realtime_signals,
    stage_realtime,
    tick_events,
    windowed_analytics,
)
from stock_market_data_pipeline_v2_spark.operators.returns import daily_returns
from stock_market_data_pipeline_v2_spark.operators.summary import daily_summary


def _bars(spark, closes, symbol="AAPL"):
    rows = [
        Row(
            symbol=symbol,
            trade_date=f"2024-01-{d+1:02d}",
            open_price=float(c),
            high_price=float(c) + 1,
            low_price=float(c) - 1,
            close_price=float(c),
            volume=100 + d,
        )
        for d, c in enumerate(closes)
    ]
    return spark.createDataFrame(rows).withColumn("trade_date", F.to_date("trade_date"))


def test_sma_warmup_and_values(spark):
    out = (
        rolling_indicators(daily_returns(_bars(spark, [10, 20, 30, 40, 50, 60])))
        .orderBy("trade_date")
        .collect()
    )
    # row 1: frames have 1 row → sma = close
    assert out[0].sma_5d == 10.0 and out[0].sma_20d == 10.0
    # row 3: sma_5d = avg(10,20,30) = 20
    assert out[2].sma_5d == 20.0
    # row 6: sma_5d = avg(20..60) = 40
    assert out[5].sma_5d == 40.0
    # monotonic rising series → RSI 100 boundary guarded: avg_loss=0 → NULL
    assert all(r.rsi_14 is None for r in out)


def test_rsi_mixed_series(spark):
    # alternate up/down: returns +100%, -50%, +100%, -50% → gain=loss → RSI 50
    out = (
        rolling_indicators(daily_returns(_bars(spark, [10, 20, 10, 20, 10])))
        .orderBy("trade_date")
        .collect()
    )
    last = out[-1]
    # avg_gain = (100+100)/5? no: frame=rows so far (5): [null,100,-50,100,-50]
    # gains zero-padded: (0+100+0+100+0)/5=40 ; losses: (0+0+50+0+50)/5=20
    # rs=2 → rsi = 100-100/3 = 66.67
    assert last.rsi_14 == 66.67


def test_performance_signals_domains(spark):
    perf = stock_performance(_bars(spark, [10, 12, 9, 15, 14, 13, 18, 20, 19, 22]))
    rows = perf.collect()
    assert {r.ma_signal_5_20 for r in rows} <= {"GOLDEN_CROSS", "DEATH_CROSS", "NEUTRAL"}
    assert {r.rsi_signal for r in rows} <= {"OVERBOUGHT", "OVERSOLD", "NEUTRAL"}
    for r in rows:
        if r.pct_of_52w_range is not None:
            assert 0 <= r.pct_of_52w_range <= 100
        assert r.high_52w >= r.low_52w


def test_daily_summary_breadth(spark):
    import itertools

    bars = None
    for sym, closes in [("A", [10, 11, 12]), ("B", [10, 9, 8]), ("C", [10, 10, 10])]:
        b = _bars(spark, closes, sym)
        bars = b if bars is None else bars.unionByName(b)
    out = daily_summary(stock_performance(bars)).orderBy("trade_date").collect()
    d2 = out[1]  # first day with returns
    assert d2.symbols_tracked == 3
    assert d2.advancers == 1 and d2.decliners == 1 and d2.unchanged == 1
    assert d2.top_gainer_symbol == "A" and d2.top_loser_symbol == "B"
    assert d2.advance_decline_ratio_pct == 33.3


def test_realtime_signals_pipeline(spark):
    events = spark.createDataFrame(
        [
            Row(
                event_id=i,
                ts=f"2024-01-01 09:{i*2:02d}:00",
                event_type="tick",
                value=100.0 + i,
                props='{"k": 5}',
            )
            for i in range(30)
        ]
    ).withColumn("ts", F.to_timestamp("ts"))
    out = realtime_signals(
        enrich_realtime(stage_realtime(windowed_analytics(tick_events(events))))
    )
    rows = out.orderBy("window_start_at").collect()
    assert all(r.window_duration_minutes == 15 for r in rows)
    assert {r.momentum_signal for r in rows} <= {"BULLISH", "BEARISH", "NEUTRAL"}
    assert {r.volatility_regime for r in rows} <= {"LOW", "NORMAL", "ELEVATED", "HIGH"}
    # steadily rising prices: later windows should be BULLISH
    assert rows[-1].momentum_signal == "BULLISH"
    assert rows[-1].signal_summary.startswith("TICK | BULLISH | Vol: ")
    # 1h MA equals avg of all ticks in the containing hour
    hour_rows = [r for r in rows if r.window_start_at.hour == 9]
    import pytest as _pt

    expected = sum(100.0 + i for i in range(30)) / 30
    assert hour_rows[0].ma_1h == _pt.approx(expected, abs=1e-6)


def test_oversold_and_high_volume_branches(spark):
    """Force the two signal branches the synthetic data never hits:
    RSI OVERSOLD (monotonic crash) and is_high_volume_day (20d volume
    spike ≥ 2×)."""
    from pyspark.sql import Row

    rows = []
    price = 1000.0
    for d in range(30):
        # mostly-down series (small up day every 4th): avg_gain ≪
        # avg_loss → RSI ≈ 4 (pure decline would NULL out via the
        # reference's nullif(gain/loss, 0) guard)
        price *= 1.01 if d % 4 == 3 else 0.92
        rows.append(
            Row(
                symbol="CRSH",
                trade_date=f"2024-01-{d+1:02d}" if d < 28 else f"2024-02-{d-27:02d}",
                open_price=price,
                high_price=price * 1.01,
                low_price=price * 0.99,
                close_price=price,
                volume=1000 if d < 29 else 50000,  # final-day volume spike
            )
        )
    bars = spark.createDataFrame(rows).withColumn("trade_date", F.to_date("trade_date"))
    out = stock_performance(bars).orderBy("trade_date").collect()
    assert out[-1].rsi_signal == "OVERSOLD" and out[-1].rsi_14 <= 30
    assert out[-1].is_high_volume_day is True
    assert out[-1].ma_signal_5_20 == "DEATH_CROSS"
    assert out[-1].pct_of_52w_range is not None and out[-1].pct_of_52w_range <= 5.0


def test_range_join_keys_are_two_attributes(spark):
    """``interval_left_join_range`` over two frames of one lineage: the
    analysed key predicate compares two distinct ``symbol`` attributes
    (the left one kept in the output), and an unmatched left row keeps
    its own key instead of the right side's null."""
    import re

    from stock_market_data_pipeline_v2_spark.operators.joins import (
        interval_left_join_range,
    )

    base = spark.createDataFrame(
        [("A", "2024-01-01 00:15:00", 1.0), ("B", "2024-01-01 03:15:00", 2.0)],
        "symbol string, ts string, p double",
    ).withColumn("ts", F.to_timestamp("ts"))
    left = base.select("symbol", F.col("ts").alias("window_start"), "p")
    right = base.filter(F.col("symbol") == "A").select(
        "symbol", F.date_trunc("hour", "ts").alias("window_start_1h")
    )
    out = interval_left_join_range(
        left, right, ["symbol"], "window_start", "window_start_1h"
    )
    plan = out._jdf.queryExecution().analyzed().toString()
    (lhs, rhs), = re.findall(r"\((symbol#\d+) = (\w*symbol#\d+)\)", plan)
    left_symbol = left._jdf.queryExecution().analyzed().output().apply(0).toString()
    assert lhs == left_symbol and rhs != lhs
    assert sorted(r.symbol for r in out.collect()) == ["A", "B"]
