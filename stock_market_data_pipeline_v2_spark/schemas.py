"""Canonical schemas (SURVEY.md §1.2-§1.3).

The reference declares the same logical schema three times (PySpark
StructType, Snowflake DDL, dbt staging casts); here each dataset has
exactly one canonical StructType. Deliberate divergence: prices are
``DoubleType`` where the reference used ``FloatType``
(``spark_batch_processor.py:30-33``) — float32 loses precision against
warehouse FLOAT (double) and against the DuckDB oracle (SURVEY.md §4
quirk 5).
"""

from __future__ import annotations

from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Raw daily OHLCV bar as produced upstream; string date/ts parsed at the
# silver step (reference scan schema: spark_batch_processor.py:27-36).
RAW_DAILY_BARS = StructType(
    [
        StructField("symbol", StringType()),
        StructField("date", StringType()),
        StructField("daily_open", DoubleType()),
        StructField("daily_high", DoubleType()),
        StructField("daily_low", DoubleType()),
        StructField("daily_close", DoubleType()),
        StructField("daily_volume", LongType()),
        StructField("batch_load_timestamp", StringType()),
    ]
)

# Raw tick stream record (reference: stream_data_producer.py:35-43,
# spark_stream_batch_processor.py:26-34).
RAW_TICKS = StructType(
    [
        StructField("symbol", StringType()),
        StructField("timestamp", StringType()),
        StructField("price", DoubleType()),
        StructField("open", DoubleType()),
        StructField("high", DoubleType()),
        StructField("low", DoubleType()),
        StructField("volume", LongType()),
    ]
)

# Windowed analytics row (reference output columns:
# spark_stream_batch_processor.py:45-75; Snowflake DDL
# load_stream_to_snowflake.py:27-38).
WINDOWED_ANALYTICS = StructType(
    [
        StructField("symbol", StringType()),
        StructField("window_start", TimestampType()),
        StructField("window_end", TimestampType()),
        StructField("ma_15m", DoubleType()),
        StructField("volatility_15m", DoubleType()),
        StructField("volume_sum_15m", LongType()),
        StructField("ma_1h", DoubleType()),
        StructField("load_timestamp", TimestampType()),
    ]
)

# Symbol dimension seed (reference: dbt/seeds/sp500_tickers.csv).
TICKER_DIM = StructType(
    [
        StructField("symbol", StringType()),
        StructField("company_name", StringType()),
        StructField("sector", StringType()),
        StructField("industry", StringType()),
        StructField("market_cap_tier", StringType()),
    ]
)

# Driver testdata tables (TESTDATA.md) for reference only; parquet
# carries its own schema and we never re-declare it on read.
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Alert feed for the stream-stream join (streaming/jobs.py:
# stream_stream_enrich): a second event-time stream keyed by symbol.
RAW_ALERTS = StructType(
    [
        StructField("symbol", StringType()),
        StructField("alert_ts", StringType()),
        StructField("level", StringType()),
        StructField("alert_id", LongType()),
    ]
)
