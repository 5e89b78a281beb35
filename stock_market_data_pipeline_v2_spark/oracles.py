"""DuckDB oracle SQL for every oracle-checkable query.

Each string is ANSI SQL the driver runs in DuckDB against the same
parquet tables as the Spark plans (views pre-registered: region nation
customer supplier part orders lineitem events documents embeddings).
Column aliases match the Spark output exactly — the driver sorts
columns by name before hashing values.

Query ``<name>`` is gated by ``<NAME>_SQL`` here unless
``__spark_entry__._oracle_overrides`` names another oracle for it.

Shared CTE fragments keep the bar/returns/indicator lineage identical
across queries (same trick as the reference's ephemeral dbt models,
``dbt_project.yml:31-32``: intermediates inline as CTEs).
"""

# Events → typed tick view (entity=event_type stands in for ticker,
# value for price, props.k for traded quantity; FIXTURES.md §5).
EVENTS_TICKS = """
ticks AS (
    SELECT
        upper(trim(event_type))                             AS symbol,
        CAST(ts AS TIMESTAMP)                               AS ts,
        event_id,
        TRY_CAST(value AS DOUBLE)                           AS price,
        TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS qty
    FROM events
)
"""

# OHLCV bar per (symbol, day) — parity with operators.bars.bars_from_events.
DAILY_BARS = """
ranked_ticks AS (
    SELECT
        symbol,
        CAST(ts AS DATE)  AS trade_date,
        price,
        qty,
        row_number() OVER (PARTITION BY symbol, CAST(ts AS DATE)
                           ORDER BY ts, event_id)             AS rn_first,
        row_number() OVER (PARTITION BY symbol, CAST(ts AS DATE)
                           ORDER BY ts DESC, event_id DESC)   AS rn_last
    FROM ticks
),
daily_bars AS (
    SELECT
        symbol,
        trade_date,
        max(CASE WHEN rn_first = 1 THEN price END)  AS open_price,
        max(price)                                  AS high_price,
        min(price)                                  AS low_price,
        max(CASE WHEN rn_last = 1 THEN price END)   AS close_price,
        CAST(sum(qty) AS BIGINT)                    AS volume,
        count(*)                                    AS n_trades
    FROM ranked_ticks
    GROUP BY symbol, trade_date
)
"""

# Staging-quality filters — stg_daily_stock_metrics.sql:52-58 parity.
CLEAN_BARS = """
clean_bars AS (
    SELECT * FROM daily_bars
    WHERE symbol IS NOT NULL
      AND trade_date IS NOT NULL
      AND close_price IS NOT NULL
      AND close_price > 0
      AND volume >= 0
      AND trade_date <= current_date
)
"""

# int_daily_returns.sql:26-64 parity.
DAILY_RETURNS = """
daily_returns AS (
    SELECT
        *,
        lag(close_price) OVER w                                         AS prev_close_price,
        round((close_price - lag(close_price) OVER w)
              / nullif(lag(close_price) OVER w, 0) * 100, 4)            AS daily_return_pct,
        round(high_price - low_price, 4)                                AS intraday_range,
        round((high_price - low_price) / nullif(close_price, 0) * 100, 4)
                                                                        AS intraday_range_pct,
        round(open_price - lag(close_price) OVER w, 4)                  AS overnight_gap,
        CAST(row_number() OVER w AS BIGINT)                             AS symbol_row_num
    FROM clean_bars
    WINDOW w AS (PARTITION BY symbol ORDER BY trade_date)
)
"""


# int_rolling_metrics.sql:26-104 parity (frames share one named window).
ROLLING = """
rolling AS (
    SELECT
        *,
        round(avg(close_price) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4)   AS sma_5d,
        round(avg(close_price) OVER (w ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 4)   AS sma_10d,
        round(avg(close_price) OVER (w ROWS BETWEEN 19 PRECEDING AND CURRENT ROW), 4)  AS sma_20d,
        round(avg(close_price) OVER (w ROWS BETWEEN 49 PRECEDING AND CURRENT ROW), 4)  AS sma_50d,
        round(stddev_samp(daily_return_pct) OVER
              (w ROWS BETWEEN 19 PRECEDING AND CURRENT ROW), 4)                        AS volatility_20d_pct,
        round(stddev_samp(daily_return_pct) OVER
              (w ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) * sqrt(252), 4)            AS annualised_volatility_pct,
        round(avg(volume) OVER (w ROWS BETWEEN 19 PRECEDING AND CURRENT ROW), 0)       AS avg_volume_20d,
        round(volume / nullif(avg(volume) OVER
              (w ROWS BETWEEN 19 PRECEDING AND CURRENT ROW), 0), 4)                    AS volume_vs_avg_20d,
        round(100 - (100 / (1 + nullif(
            avg(CASE WHEN daily_return_pct > 0 THEN daily_return_pct ELSE 0 END) OVER
                (w ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
            / nullif(
                avg(CASE WHEN daily_return_pct < 0 THEN abs(daily_return_pct) ELSE 0 END) OVER
                    (w ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
            0),
        0))), 2)                                                                        AS rsi_14
    FROM daily_returns
    WINDOW w AS (PARTITION BY symbol ORDER BY trade_date)
)
"""

# mart_stock_performance.sql:26-127 parity (join eliminated: same grain).
PERFORMANCE = """
performance AS (
    SELECT
        symbol, trade_date, open_price, high_price, low_price, close_price, volume,
        prev_close_price, daily_return_pct, intraday_range, intraday_range_pct, overnight_gap,
        sma_5d, sma_10d, sma_20d, sma_50d,
        CASE WHEN sma_5d > sma_20d THEN 'GOLDEN_CROSS'
             WHEN sma_5d < sma_20d THEN 'DEATH_CROSS'
             ELSE 'NEUTRAL' END                                        AS ma_signal_5_20,
        CASE WHEN sma_10d > sma_50d THEN 'GOLDEN_CROSS'
             WHEN sma_10d < sma_50d THEN 'DEATH_CROSS'
             ELSE 'NEUTRAL' END                                        AS ma_signal_10_50,
        volatility_20d_pct, annualised_volatility_pct,
        avg_volume_20d, volume_vs_avg_20d,
        CASE WHEN volume_vs_avg_20d >= 2.0 THEN true ELSE false END    AS is_high_volume_day,
        rsi_14,
        CASE WHEN rsi_14 >= 70 THEN 'OVERBOUGHT'
             WHEN rsi_14 <= 30 THEN 'OVERSOLD'
             ELSE 'NEUTRAL' END                                        AS rsi_signal,
        max(high_price) OVER (w ROWS BETWEEN 251 PRECEDING AND CURRENT ROW)  AS high_52w,
        min(low_price)  OVER (w ROWS BETWEEN 251 PRECEDING AND CURRENT ROW)  AS low_52w,
        round((close_price - min(low_price) OVER (w ROWS BETWEEN 251 PRECEDING AND CURRENT ROW))
              / nullif(max(high_price) OVER (w ROWS BETWEEN 251 PRECEDING AND CURRENT ROW)
                       - min(low_price) OVER (w ROWS BETWEEN 251 PRECEDING AND CURRENT ROW), 0)
              * 100, 2)                                                AS pct_of_52w_range
    FROM rolling
    WINDOW w AS (PARTITION BY symbol ORDER BY trade_date)
)
"""


# mart_daily_summary.sql:22-77 parity (countif → FILTER, max_by → arg_max).
DAILY_SUMMARY = """
daily_summary AS (
    SELECT
        trade_date,
        count(DISTINCT symbol)                                          AS symbols_tracked,
        count(*) FILTER (WHERE daily_return_pct > 0)                    AS advancers,
        count(*) FILTER (WHERE daily_return_pct < 0)                    AS decliners,
        count(*) FILTER (WHERE daily_return_pct = 0)                    AS unchanged,
        round(count(*) FILTER (WHERE daily_return_pct > 0)
              / nullif(count(DISTINCT symbol), 0) * 100, 1)             AS advance_decline_ratio_pct,
        round(avg(daily_return_pct), 4)                                 AS avg_return_pct,
        round(median(daily_return_pct), 4)                              AS median_return_pct,
        round(stddev_samp(daily_return_pct), 4)                         AS return_stddev,
        max(daily_return_pct)                                           AS best_return_pct,
        min(daily_return_pct)                                           AS worst_return_pct,
        (max(CASE WHEN daily_return_pct IS NOT NULL
                  THEN struct_pack(r := daily_return_pct, s := symbol) END)).s
                                                                        AS top_gainer_symbol,
        (min(CASE WHEN daily_return_pct IS NOT NULL
                  THEN struct_pack(r := daily_return_pct, s := symbol) END)).s
                                                                        AS top_loser_symbol,
        CAST(sum(volume) AS BIGINT)                                     AS total_volume,
        round(avg(volume_vs_avg_20d), 4)                                AS avg_volume_vs_norm,
        count(*) FILTER (WHERE is_high_volume_day)                      AS high_volume_stocks,
        round(avg(annualised_volatility_pct), 2)                        AS avg_annualised_vol_pct,
        round(avg(intraday_range_pct), 4)                               AS avg_intraday_range_pct,
        count(*) FILTER (WHERE rsi_signal = 'OVERBOUGHT')               AS overbought_count,
        count(*) FILTER (WHERE rsi_signal = 'OVERSOLD')                 AS oversold_count,
        count(*) FILTER (WHERE ma_signal_5_20 = 'GOLDEN_CROSS')         AS golden_cross_5_20_count,
        count(*) FILTER (WHERE ma_signal_5_20 = 'DEATH_CROSS')          AS death_cross_5_20_count
    FROM performance
    GROUP BY trade_date
)
"""


# spark_stream_batch_processor.py:42-62 parity. time_bucket and
# F.window both align tumbling buckets to midnight for divisors of 24h.
AGG_15M = """
agg_15m AS (
    SELECT
        symbol,
        time_bucket(INTERVAL '15 minutes', ts)                          AS window_start,
        time_bucket(INTERVAL '15 minutes', ts) + INTERVAL '15 minutes'  AS window_end,
        round(avg(price), 6)                                            AS ma_15m,
        round(stddev_samp(price), 6)                                    AS volatility_15m,
        CAST(sum(qty) AS BIGINT)                                        AS volume_sum_15m
    FROM ticks
    GROUP BY 1, 2, 3
)
"""

AGG_1H = """
agg_1h AS (
    SELECT
        symbol,
        time_bucket(INTERVAL '1 hour', ts)  AS window_start_1h,
        round(avg(price), 6)                AS ma_1h
    FROM ticks
    GROUP BY 1, 2
)
"""

# J1 interval left join (spark_stream_batch_processor.py:64-72).
WINDOWED_ANALYTICS = """
windowed_analytics AS (
    SELECT
        a.symbol, a.window_start, a.window_end,
        a.ma_15m, a.volatility_15m, a.volume_sum_15m,
        h.ma_1h
    FROM agg_15m a
    LEFT JOIN agg_1h h
      ON a.symbol = h.symbol
     AND a.window_start >= h.window_start_1h
     AND a.window_start <  h.window_start_1h + INTERVAL '1 hour'
)
"""

# stg_realtime_stock_analytics.sql parity (retention filter off — see
# operators/realtime.py:stage_realtime).
STAGED_RT = """
staged AS (
    SELECT
        symbol,
        window_start                                                    AS window_start_at,
        window_end                                                      AS window_end_at,
        CAST(date_diff('minute', window_start, window_end) AS BIGINT)   AS window_duration_minutes,
        ma_15m, ma_1h, volatility_15m,
        volume_sum_15m                                                  AS volume_15m
    FROM windowed_analytics
    WHERE symbol IS NOT NULL
      AND window_start IS NOT NULL
      AND window_end IS NOT NULL
      AND window_start < window_end
)
"""

# int_realtime_enriched.sql:26-104 parity.
ENRICHED_RT = """
enriched AS (
    SELECT
        *,
        CASE WHEN ma_spread > 0 AND ma_15m_delta > 0 THEN 'BULLISH'
             WHEN ma_spread < 0 AND ma_15m_delta < 0 THEN 'BEARISH'
             ELSE 'NEUTRAL' END                                         AS momentum_signal,
        CASE WHEN volatility_15m >= avg_volatility_1h * 2.0 THEN 'HIGH'
             WHEN volatility_15m >= avg_volatility_1h * 1.5 THEN 'ELEVATED'
             WHEN volatility_15m <= avg_volatility_1h * 0.5 THEN 'LOW'
             ELSE 'NORMAL' END                                          AS volatility_regime,
        CASE WHEN avg_volume_1h > 0 AND volume_15m >= avg_volume_1h * 2.0
             THEN true ELSE false END                                   AS is_volume_spike
    FROM (
        SELECT
            *,
            round(ma_15m - lag(ma_15m) OVER w, 4)                       AS ma_15m_delta,
            round(ma_1h - lag(ma_1h) OVER w, 4)                         AS ma_1h_delta,
            round(ma_15m - ma_1h, 4)                                    AS ma_spread,
            round(avg(volume_15m) OVER
                  (w ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 0)      AS avg_volume_1h,
            round(avg(volatility_15m) OVER
                  (w ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4)      AS avg_volatility_1h
        FROM staged
        WINDOW w AS (PARTITION BY symbol ORDER BY window_start_at)
    )
)
"""

# mart_realtime_signals.sql:22-68 parity.
SIGNALS_RT = """
signals AS (
    SELECT
        symbol, window_start_at, window_end_at, window_duration_minutes,
        ma_15m, ma_1h, ma_spread, ma_15m_delta, ma_1h_delta, momentum_signal,
        volatility_15m, avg_volatility_1h, volatility_regime,
        volume_15m, avg_volume_1h, is_volume_spike,
        CASE WHEN momentum_signal != 'NEUTRAL'
              AND volatility_regime IN ('ELEVATED', 'HIGH')
              AND is_volume_spike THEN true ELSE false END              AS is_multi_signal_alert,
        symbol || ' | ' || momentum_signal || ' | Vol: ' || volatility_regime
               || CASE WHEN is_volume_spike THEN ' | VOLUME SPIKE' ELSE '' END
               || ' @ ' || strftime(window_start_at, '%Y-%m-%d %H:%M')  AS signal_summary
    FROM enriched
)
"""


def with_ctes(*fragments: str, select: str) -> str:
    return "WITH " + ",".join(f.strip() for f in fragments) + "\n" + select


DAILY_BARS_SQL = with_ctes(
    EVENTS_TICKS, DAILY_BARS, CLEAN_BARS, select="SELECT * FROM clean_bars"
)

DAILY_RETURNS_SQL = with_ctes(
    EVENTS_TICKS,
    DAILY_BARS,
    CLEAN_BARS,
    DAILY_RETURNS,
    select="SELECT * FROM daily_returns",
)

ROLLING_INDICATORS_SQL = with_ctes(
    EVENTS_TICKS,
    DAILY_BARS,
    CLEAN_BARS,
    DAILY_RETURNS,
    ROLLING,
    select="SELECT * FROM rolling",
)

DAILY_SUMMARY_SQL = with_ctes(
    EVENTS_TICKS,
    DAILY_BARS,
    CLEAN_BARS,
    DAILY_RETURNS,
    ROLLING,
    PERFORMANCE,
    DAILY_SUMMARY,
    select="SELECT * FROM daily_summary ORDER BY trade_date DESC",
)

STOCK_PERFORMANCE_SQL = with_ctes(
    EVENTS_TICKS,
    DAILY_BARS,
    CLEAN_BARS,
    DAILY_RETURNS,
    ROLLING,
    PERFORMANCE,
    select="SELECT * FROM performance",
)

# operators/dims.py + operators/upsert.py oracles (star schema).
REGIONAL_CUSTOMER_SUMMARY_SQL = """
SELECT
    r.r_name                                            AS region_name,
    count(*)                                            AS customers,
    round(sum(c.c_acctbal), 2)                          AS total_acctbal,
    round(avg(c.c_acctbal), 4)                          AS avg_acctbal,
    count(DISTINCT c.c_mktsegment)                      AS segments
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
ORDER BY r.r_name
"""

PRICING_SUMMARY_SQL = """
SELECT
    l_returnflag,
    l_linestatus,
    round(sum(l_quantity), 2)                                    AS sum_qty,
    round(sum(l_extendedprice), 2)                               AS sum_base_price,
    round(sum(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
    round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
    round(avg(l_quantity), 4)                                    AS avg_qty,
    round(avg(l_extendedprice), 4)                               AS avg_price,
    round(avg(l_discount), 4)                                    AS avg_disc,
    count(*)                                                     AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

TOP_REVENUE_ORDERS_SQL = """
SELECT
    o.o_orderkey,
    o.o_orderdate,
    o.o_orderpriority,
    round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o.o_orderkey ASC
LIMIT 10
"""

# merge_upsert exercised as: "existing" = events from the first 20
# days, "updates" = the rest; latest (ts, event_id) wins per
# (user_id, event_type). Update-wins tiebreak can't bind on unique
# versions, so the oracle is a pure latest-row-per-key window.
MERGE_UPSERT_SQL = """
WITH tagged AS (
    SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
           row_number() OVER (
               PARTITION BY user_id, event_type
               ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC
           ) AS rn
    FROM events
)
SELECT user_id, event_type, ts, event_id, value
FROM tagged WHERE rn = 1
"""

# txn_time_travel: the transactional table pinned at version 2 — the
# snapshot right after the FIRST merge, i.e. latest-wins over only
# the events that existed then (ts < the second batch's cutoff).
TXN_TIME_TRAVEL_SQL = """
WITH tagged AS (
    SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
           row_number() OVER (
               PARTITION BY user_id, event_type
               ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC
           ) AS rn
    FROM events
    WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-20'
)
SELECT user_id, event_type, ts, event_id, value
FROM tagged WHERE rn = 1
"""

# txn_pruned_read: zone-map data skipping at read time — semantics
# must equal read-everything-then-filter, so the oracle is the full
# latest-wins state restricted to the pruned key range (the filter
# commutes with per-key latest-wins because user_id is a key column).
TXN_PRUNED_READ_SQL = """
WITH tagged AS (
    SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
           row_number() OVER (
               PARTITION BY user_id, event_type
               ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC
           ) AS rn
    FROM events
)
SELECT user_id, event_type, ts, event_id, value
FROM tagged WHERE rn = 1 AND user_id BETWEEN 0 AND 9
"""

# txn_delete: row DELETE + retention through the transactional
# boundary — latest-wins over all events minus the erased rows
# (users 10–19, purchase). The erase condition only references key
# columns, so it commutes with per-key latest-wins; expiry + vacuum
# must leave the surviving snapshot bit-identical.
TXN_DELETE_SQL = """
WITH tagged AS (
    SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
           row_number() OVER (
               PARTITION BY user_id, event_type
               ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC
           ) AS rn
    FROM events
)
SELECT user_id, event_type, ts, event_id, value
FROM tagged
WHERE rn = 1
  AND NOT (user_id BETWEEN 10 AND 19 AND event_type = 'purchase')
"""

# txn_schema_evolution: additive schema widening — pre-evolution
# files null-fill the added `tag` column under the manifest schema;
# the post-evolution append carries it populated. Plain UNION ALL:
# no dedup is involved (create + append, no merge).
TXN_SCHEMA_EVOLUTION_SQL = """
SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
       CAST(NULL AS VARCHAR) AS tag
FROM events
WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-12'
UNION ALL
SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
       upper(event_type) AS tag
FROM events
WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-12'
"""

# txn_stream_sink: three disjoint ts-batches appended idempotently
# (batch 1 redelivered and skipped) — the end state is exactly the
# source projection; a duplicated or dropped batch breaks rows_match.
TXN_STREAM_SINK_SQL = """
SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id, value
FROM events
"""

# operators/text.py oracles -------------------------------------------------
TEXT_QUALITY_SQL = """
WITH d AS (SELECT doc_id, lang, source, lower(trim(text)) AS t FROM documents),
c AS (
    SELECT doc_id, lang, source,
        CAST(length(t) AS BIGINT)                                                    AS n_chars,
        CAST(len(string_split_regex(t, '\\s+')) AS BIGINT)                           AS n_words,
        CAST(len(regexp_extract_all(t, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)       AS n_tokens,
        CAST(length(regexp_replace(t, '[^a-z]', '', 'g')) AS BIGINT)                 AS n_letters,
        CAST(length(t) - length(regexp_replace(t, '[.,;:!?]', '', 'g')) AS BIGINT)   AS n_punct,
        CAST(len(regexp_extract_all(t, '\\b(the|a|an|of|and|or|to|is|in|on|for)\\b')) AS BIGINT)
                                                                                     AS n_stopwords
    FROM d
)
SELECT doc_id, lang, source, n_chars, n_words, n_tokens, n_letters, n_punct, n_stopwords,
    round(CAST(n_letters AS DOUBLE) / nullif(CAST(n_words AS DOUBLE), 0), 4)   AS avg_word_len,
    round(CAST(n_punct AS DOUBLE) / nullif(CAST(n_chars AS DOUBLE), 0), 4)     AS punct_ratio,
    round(CAST(n_stopwords AS DOUBLE) / nullif(CAST(n_words AS DOUBLE), 0), 4) AS stopword_ratio,
    round(
        least(CAST(n_words AS DOUBLE) / 100.0, 1.0)
        * (1.0 - least(CAST(n_punct AS DOUBLE) / nullif(CAST(n_chars AS DOUBLE), 0) * 5.0, 1.0))
        * (0.3 + 0.7 * least(CAST(n_stopwords AS DOUBLE) / nullif(CAST(n_words AS DOUBLE), 0) * 5.0, 1.0)),
    4)                                                                          AS quality_score
FROM c
"""

LANG_ID_SQL = """
WITH d AS (SELECT doc_id, lang, lower(trim(text)) AS t FROM documents),
s AS (
    SELECT doc_id, lang AS labeled_lang,
        CAST(len(regexp_extract_all(t, '\\b(the|and|of|to|is|in)\\b')) AS BIGINT)    AS score_en,
        CAST(len(regexp_extract_all(t, '\\b(der|die|das|und|ist|ein)\\b')) AS BIGINT) AS score_de,
        CAST(len(regexp_extract_all(t, '\\b(el|la|de|que|y|en)\\b')) AS BIGINT)      AS score_es,
        CAST(len(regexp_extract_all(t, '\\b(le|la|et|les|des|est)\\b')) AS BIGINT)   AS score_fr
    FROM d
)
SELECT *,
    CASE WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr THEN 'en'
         WHEN score_de >= score_es AND score_de >= score_fr THEN 'de'
         WHEN score_es >= score_fr THEN 'es'
         ELSE 'fr' END AS predicted_lang
FROM s
"""

# operators/text.py:lang_id_confusion — exact confusion-matrix cells
# over the SAME lang-ID CTE (composed, single-source).
LANG_ID_CONFUSION_SQL = f"""
WITH li AS ({LANG_ID_SQL}),
cells AS (
    SELECT labeled_lang, predicted_lang, CAST(count(*) AS BIGINT) AS n
    FROM li GROUP BY 1, 2
),
rt AS (
    SELECT labeled_lang, CAST(count(*) AS BIGINT) AS rt
    FROM li GROUP BY 1
)
SELECT c.labeled_lang, c.predicted_lang, c.n,
    round(CAST(c.n AS DOUBLE) / CAST(rt.rt AS DOUBLE), 6) AS row_frac
FROM cells c JOIN rt USING (labeled_lang)
ORDER BY c.labeled_lang, c.predicted_lang
"""


PII_SCRUB_SQL = """
WITH d AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
s1 AS (
    SELECT doc_id,
        CAST(len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS BIGINT) AS n_email,
        regexp_replace(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<email>', 'g') AS t
    FROM d
),
s2 AS (
    SELECT doc_id, n_email,
        CAST(len(regexp_extract_all(t, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT) AS n_ip,
        regexp_replace(t, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<ip>', 'g') AS t
    FROM s1
),
s3 AS (
    SELECT doc_id, n_email, n_ip,
        CAST(len(regexp_extract_all(t, '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS BIGINT) AS n_ssn,
        regexp_replace(t, '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<ssn>', 'g') AS t
    FROM s2
)
SELECT doc_id, n_email, n_ip, n_ssn,
    CAST(len(regexp_extract_all(t, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) AS BIGINT) AS n_phone,
    regexp_replace(t, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<phone>', 'g') AS scrubbed
FROM s3
"""

GOPHER_FILTER_SQL = """
WITH d AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
c AS (
    SELECT doc_id,
        CAST(len(string_split_regex(t, '\\s+')) AS BIGINT)                      AS n_words,
        CAST(length(regexp_replace(t, '\\s+', '', 'g')) AS DOUBLE)              AS word_chars,
        CAST(len(regexp_extract_all(t, '#|\\.\\.\\.')) AS BIGINT)               AS n_symbols,
        CAST(len(list_filter(string_split_regex(t, '\\s+'),
                             w -> regexp_matches(w, '[a-z]'))) AS BIGINT)       AS alpha_words,
        CAST(len(regexp_extract_all(t, '\\b(the|a|an|of|and|or|to|is|in|on|for)\\b')) AS BIGINT)
                                                                                AS n_stopwords
    FROM d
),
r AS (
    SELECT doc_id, n_words,
        word_chars / nullif(CAST(n_words AS DOUBLE), 0)                 AS mean_wl,
        CAST(n_symbols AS DOUBLE) / nullif(CAST(n_words AS DOUBLE), 0)  AS sym_ratio,
        CAST(alpha_words AS DOUBLE) / nullif(CAST(n_words AS DOUBLE), 0) AS alpha_frac,
        n_stopwords
    FROM c
)
SELECT doc_id, n_words,
    round(mean_wl, 4)    AS mean_word_len,
    round(sym_ratio, 4)  AS symbol_ratio,
    round(alpha_frac, 4) AS alpha_word_frac,
    n_stopwords,
    (n_words >= 50 AND n_words <= 100000)    AS pass_word_count,
    (mean_wl >= 3.0 AND mean_wl <= 10.0)     AS pass_mean_word_len,
    (sym_ratio < 0.1)                        AS pass_symbol_ratio,
    (alpha_frac > 0.8)                       AS pass_alpha_words,
    (n_stopwords >= 2)                       AS pass_stopwords,
    (n_words >= 50 AND n_words <= 100000 AND mean_wl >= 3.0 AND mean_wl <= 10.0
     AND sym_ratio < 0.1 AND alpha_frac > 0.8 AND n_stopwords >= 2) AS keep
FROM r
"""

# operators/text.py:strip_html — same deterministic HTML wrapper and
# the same ORDERED regex chain ('g' flag = Spark's replace-all;
# inline (?is) flags work in both RE2 and Java regex).
STRIP_HTML_SQL = r"""
WITH w AS (
    SELECT doc_id,
        '<html><head><title>t</title><style>p {color: red}</style>'
        || '<script>var x = "<p>LEAK</p>";</script></head><body><h1>Doc '
        || CAST(doc_id AS VARCHAR) || '</h1><p>' || text
        || '</p><div>&amp; &lt;tail&gt;&nbsp;&#39;q&#39;</div>'
        || '<!-- c --></body></html>' AS html
    FROM documents
),
s1 AS (SELECT doc_id, regexp_replace(html, '(?is)<script\b[^>]*>.*?</script>', '', 'g') AS s FROM w),
s2 AS (SELECT doc_id, regexp_replace(s, '(?is)<style\b[^>]*>.*?</style>', '', 'g') AS s FROM s1),
s3 AS (SELECT doc_id, regexp_replace(s, '(?is)<!--.*?-->', '', 'g') AS s FROM s2),
s4 AS (SELECT doc_id, regexp_replace(s, '(?i)</?(p|div|br|h[1-6]|li|tr|table|ul|ol)\b[^>]*>', chr(10), 'g') AS s FROM s3),
s5 AS (SELECT doc_id, regexp_replace(s, '(?s)<[^>]+>', '', 'g') AS s FROM s4),
e AS (
    SELECT doc_id,
        replace(replace(replace(replace(replace(replace(s,
            '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
            '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&') AS s
    FROM s5
),
c1 AS (SELECT doc_id, regexp_replace(s, '[ \t]+', ' ', 'g') AS s FROM e),
c2 AS (SELECT doc_id, regexp_replace(s, '\s*\n\s*', chr(10), 'g') AS s FROM c1)
SELECT doc_id, regexp_replace(s, '^\s+|\s+$', '', 'g') AS clean_text
FROM c2 ORDER BY doc_id
"""

# operators/text.py:split_sentences — sentinel split (no lookbehind:
# RE2 lacks it); indexes count the FILTERED (non-empty) list.
SPLIT_SENTENCES_SQL = (
    r"""
WITH m AS (
    SELECT doc_id,
        list_filter(string_split(
            regexp_replace(lower(trim(text)), '([.!?])\s+', '\1' || chr(1), 'g'),
            chr(1)), x -> len(x) > 0) AS l
    FROM documents
)
SELECT doc_id, CAST(i - 1 AS BIGINT) AS sent_idx, l[i] AS sentence
FROM m, unnest(generate_series(1, len(l))) AS u(i)
ORDER BY doc_id, sent_idx
"""
)

# operators/text.py:dedup_sentences_within_doc — first-occurrence
# sentence dedup, original order preserved. Spark's array_distinct
# keeps first-occurrence order; the oracle reproduces that
# deterministically via min(position) per distinct sentence and an
# ORDER BY first_idx string_agg.
DEDUP_SENTENCES_SQL = (
    r"""
WITH m AS (
    SELECT doc_id,
        list_filter(string_split(
            regexp_replace(lower(trim(text)), '([.!?])\s+', '\1' || chr(1), 'g'),
            chr(1)), x -> len(x) > 0) AS l
    FROM documents
),
e AS (
    SELECT doc_id, l[i] AS sentence, i
    FROM m, unnest(generate_series(1, len(l))) AS u(i)
),
f AS (
    SELECT doc_id, sentence, min(i) AS first_idx
    FROM e GROUP BY 1, 2
),
agg AS (
    SELECT doc_id,
        CAST(count(*) AS BIGINT) AS n_unique,
        string_agg(sentence, ' ' ORDER BY first_idx) AS clean_text
    FROM f GROUP BY doc_id
)
SELECT m.doc_id,
       CAST(len(m.l) AS BIGINT) AS n_sentences,
       coalesce(agg.n_unique, 0) AS n_unique,
       CAST(len(m.l) AS BIGINT) - coalesce(agg.n_unique, 0) AS n_removed,
       coalesce(agg.clean_text, '') AS clean_text
FROM m LEFT JOIN agg USING (doc_id)
ORDER BY m.doc_id
"""
)

DOC_FINGERPRINT_SQL = """
WITH d AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
pos AS (
    SELECT doc_id, t, unnest(generate_series(1, greatest(length(t) - 4, 1))) AS p
    FROM d
)
SELECT doc_id, md5(t) AS full_md5, min(md5(substr(t, CAST(p AS INTEGER), 5))) AS min_shingle_hash
FROM pos
GROUP BY doc_id, md5(t)
"""

# operators/dedup.py oracles ------------------------------------------------
# operators/curation.py oracles --------------------------------------------

CHUNK_DOCUMENTS_SQL = """
WITH d AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
n AS (
    SELECT doc_id, t,
        greatest(CAST(ceil(CAST(length(t) AS DOUBLE) / 448) AS INTEGER), 1) AS nc
    FROM d
)
SELECT doc_id,
    CAST(i AS BIGINT)                                   AS chunk_idx,
    CAST(nc AS BIGINT)                                  AS n_chunks,
    substr(t, CAST(i AS INTEGER) * 448 + 1, 512)        AS chunk_text
FROM n, unnest(generate_series(0, nc - 1)) AS u(i)
"""

NGRAM_CONTAINMENT_SQL = """
WITH ca AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
    FROM documents WHERE doc_id % 20 != 0
),
sha AS (
    SELECT DISTINCT doc_id,
        unnest(list_transform(generate_series(1, len(w) - 2),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM ca
),
rb AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
    FROM documents WHERE doc_id % 20 = 0
),
shb AS (
    SELECT DISTINCT
        unnest(list_transform(generate_series(1, len(w) - 2),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM rb
),
sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM sha GROUP BY doc_id),
h AS (
    SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_hits
    FROM sha a JOIN shb b USING (shingle) GROUP BY a.doc_id
)
SELECT s.doc_id, s.n_shingles,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / s.n_shingles, 4) AS containment
FROM sz s LEFT JOIN h USING (doc_id)
WHERE CAST(coalesce(h.n_hits, 0) AS DOUBLE) / s.n_shingles >= 0.1
"""

PACK_SEQUENCES_SQL = """
WITH d AS (
    SELECT doc_id,
        CAST(len(regexp_extract_all(lower(trim(text)), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens
    FROM documents
),
c AS (
    SELECT doc_id, n_tokens,
        CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
    FROM d
)
SELECT doc_id, n_tokens, start_offset,
       CAST(floor(start_offset / 256.0) AS BIGINT) AS bin_id
FROM c
"""

TOKEN_FREQUENCY_SQL = """
WITH d AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
toks AS (
    SELECT doc_id, unnest(regexp_extract_all(t, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS token
    FROM d
),
c AS (
    SELECT token,
        CAST(count(*) AS BIGINT)                 AS n_occurrences,
        CAST(count(DISTINCT doc_id) AS BIGINT)   AS n_docs
    FROM toks GROUP BY token
)
SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, token) AS BIGINT) AS rank,
       token, n_occurrences, n_docs
FROM c
QUALIFY rank <= 100
"""

STRATIFIED_SAMPLE_SQL = """
WITH q AS (SELECT * FROM (VALUES ('en', 50), ('de', 30)) AS q(lang, quota)),
s AS (
    SELECT d.doc_id, d.lang, d.source,
        md5('v1:' || CAST(d.doc_id AS VARCHAR)) AS sample_key, q.quota
    FROM documents d JOIN q USING (lang)
),
r AS (
    SELECT *, CAST(row_number() OVER (PARTITION BY lang ORDER BY sample_key) AS BIGINT)
              AS sample_rank
    FROM s
)
SELECT doc_id, lang, source, sample_rank, sample_key
FROM r WHERE sample_rank <= quota
"""

PROMO_REVENUE_MONTHLY_SQL = """
SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
       round(sum(CASE WHEN p_type = 'ECONOMY'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END), 2)
           AS promo_revenue,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue,
       round(100.0 * sum(CASE WHEN p_type = 'ECONOMY'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
"""

SMALL_QTY_PART_REVENUE_SQL = """
WITH q AS (
    SELECT l_partkey,
           CAST(sum(l_quantity) AS DOUBLE) / count(*) AS avg_qty
    FROM lineitem GROUP BY l_partkey
),
s AS (
    SELECT l.l_partkey, l.l_extendedprice
    FROM lineitem l JOIN q USING (l_partkey)
    WHERE l.l_quantity < 0.2 * q.avg_qty
)
SELECT p_brand,
       CAST(count(*) AS BIGINT)                 AS n_small,
       round(sum(l_extendedprice) / 7.0, 2)     AS avg_yearly_revenue
FROM s JOIN part ON s.l_partkey = p_partkey
GROUP BY p_brand
"""

# operators/dims.py:exclusive_fault_suppliers — Q21 shape as set
# algebra; LIMIT under a deterministic (n_orders desc, suppkey) order.
EXCLUSIVE_FAULT_SUPPLIERS_SQL = """
WITH ls AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
fault AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
          WHERE l_returnflag = 'R'),
n_supp  AS (SELECT l_orderkey, count(*) AS n_supp  FROM ls    GROUP BY 1),
n_fault AS (SELECT l_orderkey, count(*) AS n_fault FROM fault GROUP BY 1)
SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS n_orders
FROM fault
JOIN n_supp  USING (l_orderkey)
JOIN n_fault USING (l_orderkey)
JOIN supplier ON l_suppkey = s_suppkey
WHERE n_supp > 1 AND n_fault = 1
GROUP BY s_suppkey, s_name
ORDER BY n_orders DESC, s_suppkey ASC
LIMIT 20
"""

# operators/dims.py:large_volume_customers — the HAVING subquery is a
# CTE; DuckDB's planner keeps the aggregate-then-join shape.
LARGE_VOLUME_CUSTOMERS_SQL = """
WITH big AS (
    SELECT l_orderkey, sum(l_quantity) AS total_qty
    FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM orders
JOIN big      ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
"""

# operators/dims.py:returned_orders_by_priority — EXISTS form; the
# Spark side is the equivalent LEFT SEMI join.
RETURNED_ORDERS_BY_PRIORITY_SQL = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

# operators/dims.py:dormant_customers — NOT EXISTS form; the Spark
# side is the equivalent LEFT ANTI join over the post-cutoff key set.
DORMANT_CUSTOMERS_SQL = """
WITH history AS (
    SELECT o_custkey,
           CAST(count(*) AS BIGINT)  AS n_orders,
           max(o_orderdate)          AS last_order_date,
           round(sum(o_totalprice), 2) AS lifetime_value
    FROM orders
    WHERE o_orderdate < TIMESTAMP '2000-01-01'
    GROUP BY o_custkey
)
SELECT c_custkey, c_name, n_orders, last_order_date, lifetime_value
FROM history
JOIN customer ON o_custkey = c_custkey
WHERE NOT EXISTS (SELECT 1 FROM orders o2
                  WHERE o2.o_custkey = history.o_custkey
                    AND o2.o_orderdate >= TIMESTAMP '2000-01-01')
ORDER BY c_custkey
"""

QUALITY_DECILE_BINS_SQL = None  # set below: composes TEXT_QUALITY_SQL

# operators/upsert.py:snapshot_diff — the synthetic "new" snapshot
# deletes key%11 rows, doubles totalprice on key%7, inserts key%13
# copies under shifted keys; change detection via IS NOT DISTINCT
# FROM (never concat-and-hash — cross-engine number formatting).
SNAPSHOT_DIFF_SQL = """
WITH newsnap AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
                ELSE o_totalprice END AS o_totalprice,
           o_orderstatus
    FROM orders WHERE o_orderkey % 11 <> 0
    UNION ALL
    SELECT o_orderkey + 100000000, o_totalprice, o_orderstatus
    FROM orders WHERE o_orderkey % 13 = 0
),
j AS (
    SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           o.o_orderkey IS NOT NULL AS op,
           n.o_orderkey IS NOT NULL AS np,
           (o.o_totalprice  IS NOT DISTINCT FROM n.o_totalprice)
       AND (o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus) AS same
    FROM orders o FULL OUTER JOIN newsnap n ON o.o_orderkey = n.o_orderkey
)
SELECT o_orderkey,
       CASE WHEN NOT op THEN 'insert'
            WHEN NOT np THEN 'delete'
            WHEN NOT same THEN 'update' END AS change_type
FROM j
WHERE (NOT op) OR (NOT np) OR (NOT same)
ORDER BY o_orderkey
"""

# functions/zorder.py — BOTH sides of this oracle are generated from
# the same spec by zvalue_oracle_sql/with_zvalue: parity by
# construction (the dialects differ only in the integer-div token).
from .functions.zorder import zvalue_oracle_sql as _zvalue_oracle_sql

ZORDER_SPECS = [
    ("user_id", 0, 4095),
    ("cast(floor(value * 100) as bigint)", 0, 65535),
]

ZORDER_EVENTS_SQL = _zvalue_oracle_sql("events", "event_id", ZORDER_SPECS)

# functions/hilbert.py — same generated-lockstep contract as zorder
# (one stage template, two dialect spellings of xor).
from .functions.hilbert import hvalue_oracle_sql as _hvalue_oracle_sql

HILBERT_EVENTS_SQL = _hvalue_oracle_sql("events", "event_id", ZORDER_SPECS)

# operators/bpe.py:bpe_token_counts — the DuckDB twin is GENERATED
# from the same FIXED_MERGES literal by bpe_oracle_sql (one CTE block
# per merge pass of the identical window algebra).
from .operators.bpe import FIXED_MERGES as _BPE_FIXED_MERGES
from .operators.bpe import bpe_oracle_sql as _bpe_oracle_sql

BPE_TOKEN_COUNTS_SQL = _bpe_oracle_sql(_BPE_FIXED_MERGES)

# operators/dedup.py MinHash-LSH tiers (round 5): the md5-seeded
# double-hash family makes the full plan — signatures, band keys,
# candidate join, exact-Jaccard verify — cross-engine algebra, so
# the DuckDB twins are GENERATED from the same parameters the entry
# queries run with (num_perm=32, bands=8, n=3, threshold=0.5,
# max_shingle_freq=1000). Previously rows-only.
from .operators.dedup import (  # noqa: E402
    incremental_lsh_oracle_sql as _incremental_lsh_oracle_sql,
)
from .operators.dedup import (  # noqa: E402
    minhash_lsh_oracle_sql as _minhash_lsh_oracle_sql,
)

DEDUP_MINHASH_LSH_SQL = _minhash_lsh_oracle_sql()
DEDUP_INCREMENTAL_LSH_SQL = _incremental_lsh_oracle_sql()

# operators/similarity.py:hyperplane_lsh_topk (round 5): the plane
# draws are data-independent xxhash64 constants (frozen in
# operators/lsh_planes.py), so the oracle embeds them as VALUES
# literals and states the multi-probe collision rule directly.
from .operators.similarity import (  # noqa: E402
    ann_lsh_oracle_sql as _ann_lsh_oracle_sql,
)

ANN_LSH_TOPK_SQL = _ann_lsh_oracle_sql()

# operators/curation.py:sft_render_spans — turn chunking (256/0) +
# per-doc prefix sum of rendered lengths; <|role|>text<|end|> framing
# adds len(role) + 11 chars per turn.
SFT_RENDER_SPANS_SQL = """
WITH d AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
n AS (
    SELECT doc_id, t,
        greatest(CAST(ceil(CAST(length(t) AS DOUBLE) / 256) AS INTEGER), 1) AS nc
    FROM d
),
turns AS (
    SELECT doc_id,
        CAST(i AS BIGINT) AS turn_idx,
        CASE WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
        substr(t, CAST(i AS INTEGER) * 256 + 1, 256) AS chunk_text
    FROM n, unnest(generate_series(0, nc - 1)) AS u(i)
),
r AS (
    SELECT doc_id, turn_idx, role,
        CAST(length(chunk_text) + length(role) + 11 AS BIGINT) AS rlen
    FROM turns
)
SELECT doc_id, turn_idx, role,
       CAST(coalesce(sum(rlen) OVER (PARTITION BY doc_id ORDER BY turn_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS span_start,
       CAST(coalesce(sum(rlen) OVER (PARTITION BY doc_id ORDER BY turn_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + rlen
            AS BIGINT) AS span_end,
       role = 'assistant' AS trainable
FROM r ORDER BY doc_id, turn_idx
"""

# operators/curation.py:shuffle_corpus — the oracle uses the naive
# global-window form the distributed two-level rank must bit-match.
SHUFFLE_CORPUS_SQL = """
SELECT doc_id,
       md5('v1:' || CAST(doc_id AS VARCHAR))  AS shuffle_key,
       CAST(row_number() OVER (
           ORDER BY md5('v1:' || CAST(doc_id AS VARCHAR)) ASC,
                    doc_id ASC) AS BIGINT)    AS position
FROM documents
ORDER BY position
"""

# operators/curation.py:length_bucket_batches — naive global-window
# form the two-level rank must bit-match; token counts share the
# TOKEN_PATTERN lexer.
LENGTH_BUCKET_BATCHES_SQL = """
WITH c AS (
    SELECT doc_id,
        CAST(len(regexp_extract_all(lower(trim(text)),
                 '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens
    FROM documents
),
r AS (
    SELECT doc_id, n_tokens,
        CAST(row_number() OVER (ORDER BY n_tokens ASC, doc_id ASC) AS BIGINT)
            AS length_rank
    FROM c
)
SELECT doc_id, n_tokens, length_rank,
       CAST((length_rank - 1) // 32 AS BIGINT) AS batch_id
FROM r ORDER BY length_rank
"""

# operators/winnow.py oracles ----------------------------------------------
# Winnowing (Schleimer et al. 2003): k=4 word grams, window w=5.
# Both engines order struct<h,pos> lexicographically (hash first,
# position tiebreak) and md5 hex compares byte-wise identically, so
# the window struct-min reproduces the Spark in-row array_min exactly.
_WINNOW_FP = """
wn_d AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS wd
    FROM documents
),
wn_g AS (
    SELECT doc_id, wd, len(wd) - 3 AS n_grams FROM wn_d WHERE len(wd) >= 4
),
wn_h AS (
    SELECT doc_id, n_grams, CAST(pos AS BIGINT) AS pos,
           md5(array_to_string(wd[pos:pos+3], ' ')) AS h
    FROM wn_g, unnest(generate_series(1, n_grams)) AS u(pos)
),
wn_sel AS (
    SELECT doc_id, n_grams, pos,
           min({'h': h, 'pos': pos}) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS m
    FROM wn_h
),
wn_fp AS (
    SELECT DISTINCT doc_id, m.pos AS pos, m.h AS fp_hash
    FROM wn_sel WHERE pos <= greatest(n_grams - 4, 1)
)
"""

WINNOW_FINGERPRINTS_SQL = (
    "WITH " + _WINNOW_FP + "\nSELECT doc_id, pos, fp_hash FROM wn_fp"
)

PASSAGE_OVERLAP_SQL = (
    "WITH "
    + _WINNOW_FP
    + """,
po_fp AS (SELECT DISTINCT doc_id, fp_hash FROM wn_fp),
po_sz AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp FROM po_fp GROUP BY doc_id
),
po_j AS (
    SELECT doc_id, fp_hash FROM po_fp
    QUALIFY count(*) OVER (PARTITION BY fp_hash) <= 1000
),
po_p AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM po_j a JOIN po_j b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_shared,
       round(CAST(n_shared AS DOUBLE) / least(x.n_fp, y.n_fp), 4) AS overlap
FROM po_p JOIN po_sz x ON po_p.doc_a = x.doc_id
          JOIN po_sz y ON po_p.doc_b = y.doc_id
WHERE CAST(n_shared AS DOUBLE) / least(x.n_fp, y.n_fp) >= 0.3
"""
)

PASSAGE_CLUSTERS_SQL = (
    "WITH RECURSIVE "
    + _WINNOW_FP
    + """,
po_fp AS (SELECT DISTINCT doc_id, fp_hash FROM wn_fp),
po_sz AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp FROM po_fp GROUP BY doc_id
),
po_j AS (
    SELECT doc_id, fp_hash FROM po_fp
    QUALIFY count(*) OVER (PARTITION BY fp_hash) <= 1000
),
po_p AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM po_j a JOIN po_j b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
pairs AS (
    SELECT doc_a, doc_b
    FROM po_p JOIN po_sz x ON po_p.doc_a = x.doc_id
              JOIN po_sz y ON po_p.doc_b = y.doc_id
    WHERE CAST(n_shared AS DOUBLE) / least(x.n_fp, y.n_fp) >= 0.3
),
edges AS (
    SELECT doc_a, doc_b FROM pairs
    UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach AS (
    SELECT DISTINCT doc_a AS doc_id, doc_a AS r FROM edges
    UNION
    SELECT e.doc_a AS doc_id, rc.r
    FROM edges e JOIN reach rc ON e.doc_b = rc.doc_id
)
SELECT doc_id, min(r) AS cluster_id
FROM reach
GROUP BY doc_id
ORDER BY doc_id
"""
)

# operators/dims.py:balance_rich_dormant_nations — Q22 shape: scalar
# avg threshold + NOT EXISTS, grouped by nation.
BALANCE_RICH_DORMANT_SQL = """
WITH thresh AS (
    SELECT avg(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0
),
rich AS (
    SELECT c.* FROM customer c, thresh WHERE c.c_acctbal > thresh.avg_bal
),
no_ord AS (
    SELECT r.* FROM rich r
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = r.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-01-01')
)
SELECT n.n_name AS nation_name,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(sum(c_acctbal), 2) AS total_acctbal
FROM no_ord JOIN nation n ON no_ord.c_nationkey = n.n_nationkey
GROUP BY 1 ORDER BY 1
"""

# operators/dims.py:min_cost_supplier_parts — Q2 shape: window argmin
# per part on the UNROUNDED unit-price ratio, suppkey tiebreak.
MIN_COST_SUPPLIER_SQL = """
WITH pk AS (SELECT p_partkey, p_name, p_brand FROM part WHERE p_size = 15),
unit AS (
    SELECT l.l_partkey AS p_partkey, pk.p_name, pk.p_brand, l.l_suppkey,
           sum(l.l_extendedprice) / sum(l.l_quantity) AS price,
           CAST(sum(l.l_quantity) AS BIGINT) AS qty_seen
    FROM lineitem l JOIN pk ON l.l_partkey = pk.p_partkey
    GROUP BY 1, 2, 3, 4
),
r AS (
    SELECT *, row_number() OVER (PARTITION BY p_partkey
                                 ORDER BY price, l_suppkey) AS rk
    FROM unit
)
SELECT r.p_partkey, r.p_name, r.p_brand, s.s_suppkey, s.s_name,
       round(price, 4) AS min_unit_price, qty_seen
FROM r JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE rk = 1 ORDER BY r.p_partkey
"""

# operators/dims.py:nation_revenue_share — Q11 shape: the global
# total re-aggregates the per-nation sums via an ORDERED fold
# (nation-name order; initial-less list_reduce ≡ Spark's 0.0-seeded
# fold in IEEE), so numerator and denominator share the same doubles.
NATION_REVENUE_SHARE_SQL = """
WITH sn AS (
    SELECT s_suppkey, n_name AS nation_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
),
pn AS (
    SELECT nation_name,
           sum(l_extendedprice * (1 - l_discount)) AS rev
    FROM lineitem l JOIN sn ON l.l_suppkey = sn.s_suppkey
    GROUP BY 1
),
tot AS (
    SELECT list_reduce(list(rev ORDER BY nation_name), (a, b) -> a + b)
        AS total
    FROM pn
)
SELECT nation_name, round(rev, 2) AS revenue,
       round(rev / total, 6) AS revenue_share
FROM pn, tot WHERE rev > 0.01 * total
ORDER BY rev / total DESC, nation_name
"""

# operators/dims.py:bilateral_trade_volume — Q7 shape: the same
# nation dim joins the fact under two roles. Revenue in EXACT DECIMAL
# (2-dp money × 2-dp multiplier): order-invariant sums, identical
# rounding in both engines (double sums flipped pennies at this group
# count).
BILATERAL_TRADE_SQL = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
       CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * CAST(1 - l.l_discount AS DECIMAL(8,2))), 2)
            AS DOUBLE) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01'
  AND sn.n_name <> cn.n_name
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""

# operators/dims.py:disjunctive_brand_revenue — Q19 shape:
# OR-of-ANDs envelopes evaluated in ONE fact pass.
DISJUNCTIVE_BRAND_REVENUE_SQL = """
SELECT p_brand, CAST(count(*) AS BIGINT) AS n_lines,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE ((p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11
        AND p_size BETWEEN 1 AND 5)
   OR  (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20
        AND p_size BETWEEN 1 AND 10)
   OR  (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30
        AND p_size BETWEEN 1 AND 15))
GROUP BY 1 ORDER BY 1
"""

# operators/dims.py:top_return_customers — Q10 shape: returned-goods
# revenue top-k; rank on the UNROUNDED sum with custkey tiebreak.
TOP_RETURN_CUSTOMERS_SQL = """
WITH pc AS (
    SELECT o.o_custkey,
           sum(l.l_extendedprice * (1 - l.l_discount)) AS rev
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-07-01'
      AND l.l_returnflag = 'R'
    GROUP BY 1
),
r AS (
    SELECT pc.*, row_number() OVER (ORDER BY rev DESC, o_custkey) AS rk
    FROM pc
)
SELECT c.c_custkey, c.c_name, n.n_name AS nation_name, c.c_acctbal,
       round(rev, 2) AS return_revenue
FROM r
JOIN customer c ON r.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE rk <= 20 ORDER BY rev DESC, c.c_custkey
"""

# operators/retrieval.py:tfidf_topk — per-doc TF-IDF keyword
# extraction; rank on the UNROUNDED score with token tiebreak, score
# rounded 6 dp at output only (the bm25 precedent). Smoothed idf:
# ln((1+N)/(1+df)) + 1.
TFIDF_TOPK_SQL = """
WITH tk AS (
    SELECT doc_id,
        unnest(regexp_extract_all(lower(trim(text)),
               '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS token
    FROM documents
),
tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tk GROUP BY 1, 2),
df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
s AS (
    SELECT tf.doc_id, tf.token, tf.tf,
        CAST(tf.tf AS DOUBLE)
        * (ln((1.0 + n.n_docs) / (1.0 + df.df)) + 1.0) AS raw
    FROM tf JOIN df USING (token), n
),
r AS (
    SELECT doc_id, token, tf, raw,
        CAST(row_number() OVER (PARTITION BY doc_id
                                ORDER BY raw DESC, token) AS BIGINT) AS rank
    FROM s
)
SELECT doc_id, token, tf, round(raw, 6) AS tfidf, rank
FROM r WHERE rank <= 5
"""

# operators/curation.py:shingle_novelty — share of each doc's word
# 3-gram shingles first seen at that doc_id (min-doc ownership); the
# shingle CTE is the DEDUP_NGRAM_JACCARD_SQL one verbatim (hash-exact
# precedent). Shingle-free docs kept with n_shingles=0, NULL share.
SHINGLE_NOVELTY_SQL = """
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents
),
sh AS (
    SELECT DISTINCT doc_id,
        unnest(list_transform(generate_series(1, len(w) - 2),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM toks
),
fst AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1),
pd AS (
    SELECT sh.doc_id,
        CAST(count(*) AS BIGINT) AS n_shingles,
        CAST(sum(CASE WHEN fst.first_doc = sh.doc_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_novel
    FROM sh JOIN fst USING (shingle) GROUP BY 1
)
SELECT d.doc_id,
       coalesce(pd.n_shingles, 0) AS n_shingles,
       coalesce(pd.n_novel, 0)    AS n_novel,
       round(CAST(coalesce(pd.n_novel, 0) AS DOUBLE)
             / nullif(coalesce(pd.n_shingles, 0), 0), 6) AS novelty_share
FROM (SELECT doc_id FROM documents) d LEFT JOIN pd USING (doc_id)
ORDER BY d.doc_id
"""

DEDUP_EXACT_SQL = """
SELECT md5(lower(trim(text))) AS text_hash,
       min(doc_id)            AS canonical_doc_id,
       count(*)               AS dup_count
FROM documents
GROUP BY md5(lower(trim(text)))
"""

DEDUP_NGRAM_JACCARD_SQL = """
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents
),
sh AS (
    SELECT DISTINCT doc_id,
        unnest(list_transform(generate_series(1, len(w) - 2),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM toks
),
sz AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
-- document-frequency stop list mirrors the engine's
-- max_shingle_freq=1000 cap: join sides pruned, sizes unpruned.
shj AS (
    SELECT doc_id, shingle FROM sh
    QUALIFY count(*) OVER (PARTITION BY shingle) <= 1000
),
p AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
    FROM shj a JOIN shj b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(CAST(i AS DOUBLE) / (x.c + y.c - i), 4) AS jaccard
FROM p JOIN sz x ON p.doc_a = x.doc_id JOIN sz y ON p.doc_b = y.doc_id
WHERE CAST(i AS DOUBLE) / (x.c + y.c - i) >= 0.5
"""

# operators/dedup.py:repeated_span_stats — ExactSubstr statistics:
# positioned 32-grams (same split as NGRAM_JACCARD), distinct-doc
# frequency >= 2, per-doc interval union via the running-max window.
# Matching on the gram STRING is equivalent to the engine's 16-byte
# md5 key. pos is 0-based (i - 1) to match posexplode.
REPEATED_SPANS_SQL = """
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w,
        CASE WHEN length(lower(trim(text))) > 0
             THEN len(string_split_regex(lower(trim(text)), '\\s+'))
             ELSE 0 END AS n_tokens
    FROM documents
),
g AS (
    SELECT doc_id,
        unnest(list_transform(generate_series(1, len(w) - 31),
                              i -> {'pos': i - 1,
                                    'gram': array_to_string(w[i : i + 31], ' ')}))
            AS z
    FROM toks
),
grams AS (SELECT doc_id, z.pos AS pos, z.gram AS gram FROM g),
shared AS (
    SELECT gram FROM (
        SELECT gram, count(DISTINCT doc_id) AS df FROM grams GROUP BY 1
    ) WHERE df >= 2
),
hits AS (
    SELECT grams.doc_id, grams.pos, grams.pos + 32 AS e
    FROM grams JOIN shared USING (gram)
),
cov AS (
    SELECT doc_id, pos, e,
        max(e) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            AS prev_e
    FROM hits
),
agg AS (
    SELECT doc_id,
        CAST(count(*) AS BIGINT) AS n_repeated_spans,
        CAST(sum(greatest(e - greatest(pos, coalesce(prev_e, 0)), 0))
             AS BIGINT) AS covered_tokens
    FROM cov GROUP BY 1
)
SELECT t.doc_id, CAST(t.n_tokens AS BIGINT) AS n_tokens,
       coalesce(a.n_repeated_spans, 0) AS n_repeated_spans,
       coalesce(a.covered_tokens, 0)   AS covered_tokens,
       round(CAST(coalesce(a.covered_tokens, 0) AS DOUBLE)
             / nullif(t.n_tokens, 0), 6) AS repeated_frac
FROM toks t LEFT JOIN agg a USING (doc_id)
ORDER BY t.doc_id
"""

# operators/curation.py:cross_source_contamination — the pair CTE is
# DEDUP_NGRAM_JACCARD_SQL verbatim (single source of truth: the Spark query
# consumes the SAME pair graph _pair_graph builds from
# shingle_jaccard_pairs), then symmetrize → enrich with sources →
# count distinct contaminated docs per ordered source pair over the
# full spine (zero rows explicit).
CROSS_SOURCE_CONTAMINATION_SQL = f"""
WITH pairs AS ({DEDUP_NGRAM_JACCARD_SQL}),
edges AS (
    SELECT doc_a AS x, doc_b AS y FROM pairs
    UNION ALL
    SELECT doc_b AS x, doc_a AS y FROM pairs
),
h0 AS (
    SELECT DISTINCT e.x, da.source AS source_a, db.source AS source_b
    FROM edges e
    JOIN documents da ON e.x = da.doc_id
    JOIN documents db ON e.y = db.doc_id
),
hits AS (
    SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_contaminated
    FROM h0 GROUP BY 1, 2
),
tot AS (
    SELECT source AS source_a, CAST(count(*) AS BIGINT) AS n_docs_a
    FROM documents GROUP BY 1
),
spine AS (
    SELECT a.source AS source_a, b.source AS source_b
    FROM (SELECT DISTINCT source FROM documents) a,
         (SELECT DISTINCT source FROM documents) b
)
SELECT s.source_a, s.source_b,
       coalesce(h.n_contaminated, 0) AS n_contaminated,
       t.n_docs_a,
       round(CAST(coalesce(h.n_contaminated, 0) AS DOUBLE) / t.n_docs_a, 6)
           AS contamination_rate
FROM spine s
LEFT JOIN hits h USING (source_a, source_b)
JOIN tot t USING (source_a)
ORDER BY s.source_a, s.source_b
"""

# operators/dedup.py:incremental_dedup_decisions — batch (doc_id % 10
# = 0) admitted against corpus (the rest); df stop list on the CORPUS
# shingles mirrors max_shingle_freq=1000; sizes unpruned.
DEDUP_INCREMENTAL_SQL = """
WITH batch  AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
corpus AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
exact AS (
    SELECT md5(lower(trim(text))) AS h, min(doc_id) AS exact_match
    FROM corpus GROUP BY 1
),
bt AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM batch),
ct AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM corpus),
bsh AS (
    SELECT DISTINCT doc_id,
        unnest(list_transform(generate_series(1, len(w) - 2),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM bt
),
csh AS (
    SELECT DISTINCT doc_id,
        unnest(list_transform(generate_series(1, len(w) - 2),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM ct
),
bsz AS (SELECT doc_id, count(*) AS c FROM bsh GROUP BY doc_id),
csz AS (SELECT doc_id, count(*) AS c FROM csh GROUP BY doc_id),
cshj AS (
    SELECT doc_id, shingle FROM csh
    QUALIFY count(*) OVER (PARTITION BY shingle) <= 1000
),
p AS (
    SELECT b.doc_id AS batch_doc, c.doc_id AS corpus_doc, count(*) AS i
    FROM bsh b JOIN cshj c USING (shingle)
    GROUP BY 1, 2
),
best AS (
    SELECT batch_doc, corpus_doc,
           CAST(i AS DOUBLE) / (bs.c + cs.c - i) AS jac
    FROM p
    JOIN bsz bs ON p.batch_doc  = bs.doc_id
    JOIN csz cs ON p.corpus_doc = cs.doc_id
    WHERE CAST(i AS DOUBLE) / (bs.c + cs.c - i) >= 0.5
    QUALIFY row_number() OVER (PARTITION BY batch_doc
                               ORDER BY jac DESC, corpus_doc ASC) = 1
),
bh AS (SELECT doc_id, md5(lower(trim(text))) AS h FROM batch)
SELECT bh.doc_id,
       CASE WHEN e.exact_match IS NOT NULL THEN 'drop_exact'
            WHEN b.corpus_doc  IS NOT NULL THEN 'drop_neardup'
            ELSE 'keep' END                         AS verdict,
       coalesce(e.exact_match, b.corpus_doc)        AS match_doc_id,
       CASE WHEN e.exact_match IS NULL
            THEN round(b.jac, 4) END                AS jaccard
FROM bh
LEFT JOIN exact e USING (h)
LEFT JOIN best  b ON bh.doc_id = b.batch_doc
ORDER BY bh.doc_id
"""

DEDUP_EMBEDDING_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= 0.4
"""

# operators/dedup.py:simhash_pairs oracle. Same tokenization +
# md5-digit bit extraction as the Spark side; the oracle verifies the
# pair set by BRUTE-FORCE all-pairs hamming — valid because the Spark
# side's pigeonhole chunk join is COMPLETE for hamming ≤ max_hamming
# (some chunk must match exactly), so both produce the same exact set.
# The 64-bit signature is held as four 16-bit chunk ints here (DuckDB
# BIGINT shifts past bit 62 overflow; Spark packs a single long).
_SIMHASH_BITS = ",\n    ".join(
    "sum(CASE WHEN ((instr('0123456789abcdef', substr(h, {j}, 1)) - 1) >> {p}) & 1 = 1"
    " THEN tf ELSE -tf END) AS b{i}".format(j=16 - i // 4, p=i % 4, i=i)
    for i in range(64)
)
_SIMHASH_CHUNKS = ",\n    ".join(
    " + ".join(
        "(CASE WHEN b{b} > 0 THEN {v} ELSE 0 END)".format(b=16 * k + r, v=1 << r)
        for r in range(16)
    )
    + " AS c{k}".format(k=k)
    for k in range(4)
)
DEDUP_SIMHASH_SQL = f"""
WITH words AS (
    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
    FROM documents
),
counted AS (SELECT doc_id, w, count(*) AS tf FROM words GROUP BY doc_id, w),
d AS (SELECT doc_id, tf, md5(w) AS h FROM counted),
bits AS (
    SELECT doc_id,
    {_SIMHASH_BITS}
    FROM d GROUP BY doc_id
),
sig AS (
    SELECT doc_id,
    {_SIMHASH_CHUNKS}
    FROM bits
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1))
          + bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1))
    + bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) <= 3
"""

ANN_COSINE_TOPK_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id, v FROM e WHERE vec_id % 4 = 0),
s AS (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           list_cosine_similarity(q.v, e.v) AS c
    FROM e CROSS JOIN q
    WHERE e.vec_id != q.vec_id
),
r AS (
    SELECT query_id, neighbor_id, c,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id ASC) AS BIGINT) AS rank
    FROM s
)
SELECT query_id, neighbor_id, rank, round(c, 6) AS cosine
FROM r WHERE rank <= 5
"""

# operators/multimodal.py oracle (metadata path only — the decode
# kernel is mapInPandas and checked in tests).
MULTIMODAL_META_SQL = """
SELECT doc_id,
       ['png','jpeg','wav'][CAST(doc_id % 3 AS INTEGER) + 1] AS media_format,
       CAST(octet_length(encode(text)) AS BIGINT)            AS payload_len
FROM documents
"""

# operators/multimodal.py:decode_features — the STUB kernel's
# byte-level features (utf-8 payload length, byte-sum checksum mod
# 65536, head byte) are pure functions of the payload, so the
# mapInPandas output is verifiable against an independent engine:
# DuckDB expands the blob via hex() and folds 2-char slices. This
# gates the Arrow plumbing end-to-end (round 4 — previously
# rows-only).
MULTIMODAL_DECODE_SQL = """
WITH m AS (
    SELECT doc_id,
        ['png','jpeg','wav'][CAST(doc_id % 3 AS INTEGER) + 1] AS media_format,
        encode(text) AS payload
    FROM documents
),
b AS (
    SELECT doc_id, media_format,
        CAST(octet_length(payload) AS BIGINT) AS byte_len,
        hex(payload) AS h
    FROM m
)
SELECT doc_id, media_format, byte_len,
    CAST(coalesce(list_sum(list_transform(
             generate_series(1, CAST(byte_len AS INTEGER)),
             i -> CAST(('0x' || substr(h, 2 * i - 1, 2)) AS INTEGER))), 0)
         % 65536 AS BIGINT) AS checksum,
    CAST(CASE WHEN byte_len > 0
              THEN CAST(('0x' || substr(h, 1, 2)) AS INTEGER)
              ELSE -1 END AS BIGINT) AS head_byte
FROM b
"""

# operators/multimodal.py:sample_frames — the stub chunker's frame
# grid (64-byte frames, keep every 2nd, >=1 frame per doc) and the
# per-frame byte-sum checksum, reproduced from the hex expansion.
# Gates the 1->N mapInPandas explode (round 4 — previously rows-only;
# the frame BYTES stay pytest-golden-gated, the registered query
# drops the binary column).
MULTIMODAL_FRAMES_SQL = """
WITH m AS (SELECT doc_id, encode(text) AS payload FROM documents),
b AS (
    SELECT doc_id, CAST(octet_length(payload) AS INTEGER) AS n,
           hex(payload) AS h
    FROM m
),
f AS (
    SELECT doc_id, n, h,
        unnest(generate_series(
            0, greatest(CAST(ceil(n / 64.0) AS INTEGER), 1) - 1, 2))
            AS frame_idx
    FROM b
)
SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
    CAST(greatest(0, least(64, n - frame_idx * 64)) AS BIGINT) AS frame_len,
    CAST(coalesce(list_sum(list_transform(
             generate_series(frame_idx * 64 + 1,
                             frame_idx * 64
                             + greatest(0, least(64, n - frame_idx * 64))),
             i -> CAST(('0x' || substr(h, 2 * i - 1, 2)) AS INTEGER))), 0)
         % 65536 AS BIGINT) AS frame_checksum
FROM f
"""

# operators/multimodal.py:resize_media — the stub resize is a pure
# byte function (exact integer nearest-neighbor grid (k·(n−1)) div 63
# over the utf-8 payload), so the resized CONTENT is verifiable via
# its byte-sum checksum (round 4 — previously rows-only; the binary
# column itself stays dropped from the registered query).
MULTIMODAL_RESIZE_SQL = """
WITH m AS (
    SELECT doc_id,
        ['png','jpeg','wav'][CAST(doc_id % 3 AS INTEGER) + 1] AS media_format,
        encode(text) AS payload
    FROM documents
),
b AS (
    SELECT doc_id, media_format,
        CAST(octet_length(payload) AS INTEGER) AS n, hex(payload) AS h
    FROM m
)
SELECT doc_id, media_format,
    CAST(8 AS BIGINT) AS out_w, CAST(8 AS BIGINT) AS out_h,
    CAST(64 AS BIGINT) AS resized_len,
    CAST(CASE WHEN n = 0 THEN 0 ELSE
        coalesce(list_sum(list_transform(generate_series(0, 63),
            k -> CAST(('0x' || substr(h,
                       2 * CAST((k * (n - 1)) // 63 AS INTEGER) + 1, 2))
                      AS INTEGER))), 0) % 65536
    END AS BIGINT) AS resized_checksum
FROM b
"""

# operators/multimodal.py:decode_wav_features — the WAV tier is REAL
# (stdlib RIFF/WAVE container round-trip) but the payload synth is a
# deterministic pure function of doc_id (16 tone classes, 400 PCM16
# frames: trunc(sin(2π·f·i/8000)·20000) with f = 220+55·(doc_id%16)),
# so the 16 per-class feature rows are a fixed, finite ground truth.
# Round 7 hardening (ADVICE r6): the r6 oracle recomputed sin() in
# DuckDB and relied on DuckDB's libm bit-matching numpy's inside a
# trunc(·*20000) — a transcendental crossing the oracle boundary,
# exactly what PERF.md's pow/ln/exp lesson forbids. The per-class
# features are now FROZEN LITERALS (generated once from the same
# numpy synth the Spark path uses — _synth_wav_bytes →
# _decode_wav_batch), so no transcendental is ever evaluated on the
# DuckDB side. tests/test_llm_ops.py::test_audio_frozen_features
# re-derives the table from the real kernel and asserts equality, so
# a platform/libm drift surfaces as a pytest failure with a clear
# message, never as a silent oracle flip. Spark still exercises the
# REAL path: wave-writer synthesis → binary column → wave-reader
# parse → numpy decode; the oracle gates that round-trip end-to-end.
AUDIO_CLASS_FEATURES: list[tuple[int, int, int, int]] = [
    # (k, rms, peak, zero_crossings) for tone class k = doc_id % 16
    (0, 14142, 20000, 21),
    (1, 14124, 20000, 27),
    (2, 14142, 20000, 32),
    (3, 14124, 19999, 38),
    (4, 14142, 20000, 43),
    (5, 14124, 19999, 49),
    (6, 14142, 20000, 54),
    (7, 14124, 19999, 60),
    (8, 14142, 20000, 65),
    (9, 14124, 19999, 71),
    (10, 14142, 20000, 76),
    (11, 14124, 20000, 82),
    (12, 14142, 20000, 87),
    (13, 14124, 19999, 93),
    (14, 14142, 20000, 98),
    (15, 14124, 19999, 104),
]

_AUDIO_FEATURE_VALUES = ",\n        ".join(
    f"({k}, {rms}, {peak}, {zc})"
    for k, rms, peak, zc in AUDIO_CLASS_FEATURES
)

AUDIO_FEATURES_SQL = f"""
WITH feat(k, rms, peak, zero_crossings) AS (
    VALUES
        {_AUDIO_FEATURE_VALUES}
)
SELECT d.doc_id,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(1 AS BIGINT)    AS n_channels,
       CAST(2 AS BIGINT)    AS sample_width,
       CAST(400 AS BIGINT)  AS n_frames,
       CAST(50 AS BIGINT)   AS duration_ms,
       f.rms, f.peak, f.zero_crossings
FROM documents d JOIN feat f ON d.doc_id % 16 = f.k
"""

# operators/joins.py:as_of_join oracle — DuckDB native ASOF JOIN.
# Ticks joined backward to the latest daily bar at-or-before the tick.
ASOF_TICK_BAR_SQL = """
WITH ticks2 AS (
    SELECT symbol, ts, event_id, price FROM (
        SELECT upper(trim(event_type)) AS symbol, CAST(ts AS TIMESTAMP) AS ts,
               event_id, CAST(value AS DOUBLE) AS price
        FROM events)
),
bars2 AS (
    SELECT symbol, CAST(trade_date AS TIMESTAMP) AS bar_ts, trade_date, close_price
    FROM (
        SELECT symbol, trade_date,
               max(CASE WHEN rn_last = 1 THEN price END) AS close_price
        FROM (
            SELECT upper(trim(event_type)) AS symbol,
                   CAST(CAST(ts AS TIMESTAMP) AS DATE) AS trade_date,
                   CAST(value AS DOUBLE) AS price,
                   row_number() OVER (PARTITION BY upper(trim(event_type)),
                                                   CAST(CAST(ts AS TIMESTAMP) AS DATE)
                                      ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn_last
            FROM events)
        GROUP BY symbol, trade_date)
)
SELECT t.symbol, t.ts, t.event_id, t.price, b.trade_date, b.close_price
FROM ticks2 t
ASOF LEFT JOIN bars2 b ON t.symbol = b.symbol AND t.ts >= b.bar_ts
"""

# operators/realtime.py:session_window_aggregate oracle —
# gaps-and-islands with the same >= gap boundary as F.session_window.
SESSION_WINDOWS_SQL = """
WITH e AS (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
),
marked AS (
    SELECT *,
        CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_s
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
islands AS (
    SELECT *,
        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS sid
    FROM marked
)
SELECT user_id,
       min(ts)                          AS session_start,
       max(ts) + INTERVAL '30 minutes'  AS session_end,
       count(*)                         AS n_events,
       round(sum(value), 2)             AS total_value
FROM islands
GROUP BY user_id, sid
"""

# operators/indicators_ext.py oracles (window-expressible tier).
BOLLINGER = """
bollinger AS (
    SELECT
        symbol, trade_date, close_price,
        round(avg(close_price) OVER w20, 4)                                    AS bb_mid,
        round(avg(close_price) OVER w20 + 2.0 * stddev_samp(close_price) OVER w20, 4)
                                                                               AS bb_upper,
        round(avg(close_price) OVER w20 - 2.0 * stddev_samp(close_price) OVER w20, 4)
                                                                               AS bb_lower,
        round((close_price - (avg(close_price) OVER w20 - 2.0 * stddev_samp(close_price) OVER w20))
              / nullif((avg(close_price) OVER w20 + 2.0 * stddev_samp(close_price) OVER w20)
                       - (avg(close_price) OVER w20 - 2.0 * stddev_samp(close_price) OVER w20), 0)
              * 100, 4)                                                        AS bb_pct_b
    FROM clean_bars
    WINDOW w20 AS (PARTITION BY symbol ORDER BY trade_date
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
"""

STOCHASTIC = """
stochastic AS (
    SELECT
        symbol, trade_date, close_price,
        round((close_price - min(low_price) OVER w14)
              / nullif(max(high_price) OVER w14 - min(low_price) OVER w14, 0)
              * 100, 4)                                                        AS stoch_k
    FROM clean_bars
    WINDOW w14 AS (PARTITION BY symbol ORDER BY trade_date
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
"""

# operators/indicators_ext.py:atr_obv — SMA-variant ATR + integer OBV
# over the clean-bar series; first row per symbol has no prior close
# (TR = high − low, flow = 0).
ATR_OBV = """
atrobv AS (
    SELECT symbol, trade_date, close_price,
        round(tr, 4)                     AS true_range,
        round(avg(tr) OVER w14, 4)       AS atr_14,
        CAST(sum(flow) OVER wrun AS BIGINT) AS obv
    FROM (
        SELECT symbol, trade_date, close_price,
            CASE WHEN prev_close IS NULL THEN high_price - low_price
                 ELSE greatest(high_price - low_price,
                               abs(high_price - prev_close),
                               abs(low_price - prev_close)) END AS tr,
            CASE WHEN prev_close IS NULL THEN 0
                 WHEN close_price > prev_close THEN volume
                 WHEN close_price < prev_close THEN -volume
                 ELSE 0 END AS flow
        FROM (
            SELECT symbol, trade_date, close_price, high_price, low_price,
                volume,
                lag(close_price) OVER (PARTITION BY symbol
                                       ORDER BY trade_date) AS prev_close
            FROM clean_bars
        )
    )
    WINDOW w14 AS (PARTITION BY symbol ORDER BY trade_date
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
           wrun AS (PARTITION BY symbol ORDER BY trade_date
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
"""

ATR_OBV_SQL = with_ctes(
    EVENTS_TICKS, DAILY_BARS, CLEAN_BARS, ATR_OBV, select="SELECT * FROM atrobv"
)

WINDOW_AGG_15M_SQL = with_ctes(
    EVENTS_TICKS, AGG_15M, select="SELECT * FROM agg_15m"
)

WINDOWED_ANALYTICS_SQL = with_ctes(
    EVENTS_TICKS,
    AGG_15M,
    AGG_1H,
    WINDOWED_ANALYTICS,
    select="SELECT * FROM windowed_analytics",
)

REALTIME_SIGNALS_SQL = with_ctes(
    EVENTS_TICKS,
    AGG_15M,
    AGG_1H,
    WINDOWED_ANALYTICS,
    STAGED_RT,
    ENRICHED_RT,
    SIGNALS_RT,
    select="SELECT * FROM signals",
)

BOLLINGER_BANDS_SQL = with_ctes(
    EVENTS_TICKS, DAILY_BARS, CLEAN_BARS, BOLLINGER, select="SELECT * FROM bollinger"
)

STOCHASTIC_K_SQL = with_ctes(
    EVENTS_TICKS, DAILY_BARS, CLEAN_BARS, STOCHASTIC, select="SELECT * FROM stochastic"
)

REGIONAL_SUPPLIER_REVENUE_SQL = """
SELECT
    n.n_name AS nation_name,
    round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
              AND s.s_nationkey = c.c_nationkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
ORDER BY revenue DESC, nation_name ASC
"""

ORDER_PRIORITY_ROLLUP_SQL = """
SELECT
    o_orderstatus,
    o_orderpriority,
    count(*)                                    AS n_orders,
    round(sum(o_totalprice), 2)                 AS total_value,
    CAST(grouping(o_orderstatus) AS BIGINT)     AS g_status,
    CAST(grouping(o_orderpriority) AS BIGINT)   AS g_priority
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""

EVENT_TYPE_PIVOT_SQL = """
SELECT
    CAST(CAST(ts AS TIMESTAMP) AS DATE)                   AS event_date,
    count(*) FILTER (WHERE event_type = 'click')          AS click,
    count(*) FILTER (WHERE event_type = 'error')          AS error,
    count(*) FILTER (WHERE event_type = 'purchase')       AS purchase,
    count(*) FILTER (WHERE event_type = 'signup')         AS signup,
    count(*) FILTER (WHERE event_type = 'view')           AS view
FROM events
GROUP BY 1
"""

# Recursive-CTE EMA chain — the Spark macd() operator computes the
# identical recurrence y = (1-a)*prev + a*x with the identical
# half-away rounding, so equality is structural, not data-luck.
def macd_sql(fast: int = 12, slow: int = 26, signal: int = 9) -> str:
    af, as_, ag = f"2.0/{fast + 1}.0", f"2.0/{slow + 1}.0", f"2.0/{signal + 1}.0"
    line = (
        f"((1 - {af}) * e.e_fast + ({af}) * o.close_price)"
        f" - ((1 - {as_}) * e.e_slow + ({as_}) * o.close_price)"
    )
    return (
        "WITH RECURSIVE "
        + with_ctes(EVENTS_TICKS, DAILY_BARS, CLEAN_BARS, select="").removeprefix("WITH ")
        + f""",
ordered AS (
    SELECT symbol, trade_date, close_price,
           CAST(row_number() OVER (PARTITION BY symbol ORDER BY trade_date) AS BIGINT) AS rn
    FROM clean_bars
),
ema AS (
    SELECT symbol, trade_date, close_price, rn,
           close_price AS e_fast, close_price AS e_slow,
           CAST(0.0 AS DOUBLE) AS macd_line, CAST(0.0 AS DOUBLE) AS sig
    FROM ordered WHERE rn = 1
    UNION ALL
    SELECT o.symbol, o.trade_date, o.close_price, o.rn,
           (1 - {af}) * e.e_fast + ({af}) * o.close_price,
           (1 - {as_}) * e.e_slow + ({as_}) * o.close_price,
           {line},
           (1 - {ag}) * e.sig + ({ag}) * ({line})
    FROM ordered o JOIN ema e ON o.symbol = e.symbol AND o.rn = e.rn + 1
)
SELECT symbol, trade_date, close_price,
       round(e_fast, 4) AS ema_{fast}, round(e_slow, 4) AS ema_{slow},
       round(macd_line, 4) AS macd, round(sig, 4) AS macd_signal,
       round(macd_line - sig, 4) AS macd_hist
FROM ema
"""
    )


MACD_SQL = macd_sql()


# Recursive-CTE running-state fold — the batch twin of the streaming
# keyed-state operator (streaming/stateful.py:stateful_features_batch)
# computes the identical recurrences in the identical order:
#   ema     = (1-a)*prev + a*price        (seed: first price)
#   cum_pv  = prev + price*volume         (seed: price*volume)
#   cum_vol = prev + volume               (seed: volume)
# so equality is structural, not data-luck (the macd_sql contract).
# NULL volume counts 0; rows with NULL date/price are out (clean_bars
# already guarantees both). Depth = days-per-symbol, the MACD grain.
def stateful_features_sql(alpha: float = 0.2) -> str:
    a = repr(float(alpha))
    return (
        "WITH RECURSIVE "
        + with_ctes(EVENTS_TICKS, DAILY_BARS, CLEAN_BARS, select="").removeprefix("WITH ")
        + f""",
ordered AS (
    SELECT symbol, CAST(trade_date AS TIMESTAMP) AS event_time,
           close_price AS price,
           CAST(coalesce(volume, 0) AS DOUBLE) AS vol,
           CAST(row_number() OVER (PARTITION BY symbol
                                   ORDER BY trade_date) AS BIGINT) AS rn
    FROM clean_bars
),
tot AS (
    SELECT symbol, CAST(count(*) AS BIGINT) AS n, max(event_time) AS last_et
    FROM ordered GROUP BY 1
),
fold AS (
    SELECT symbol, rn, price AS ema, price * vol AS cum_pv, vol AS cum_vol
    FROM ordered WHERE rn = 1
    UNION ALL
    SELECT o.symbol, o.rn,
           (1 - {a}) * f.ema + ({a}) * o.price,
           f.cum_pv + o.price * o.vol,
           f.cum_vol + o.vol
    FROM ordered o JOIN fold f ON o.symbol = f.symbol AND o.rn = f.rn + 1
)
SELECT f.symbol, round(f.ema, 6) AS ema_price,
       CASE WHEN f.cum_vol <> 0 THEN round(f.cum_pv / f.cum_vol, 6) END
           AS vwap,
       t.n AS tick_cnt, t.last_et AS last_event_time
FROM fold f JOIN tot t ON t.symbol = f.symbol AND f.rn = t.n
ORDER BY f.symbol
"""
    )


STATEFUL_FEATURES_SQL = stateful_features_sql()

SYMBOLS_BOTH_HALVES_SQL = """
SELECT upper(trim(event_type)) AS symbol FROM events
WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
INTERSECT
SELECT upper(trim(event_type)) AS symbol FROM events
WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'
ORDER BY symbol
"""

USERS_ONLY_BEFORE_SQL = """
SELECT user_id FROM events WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
EXCEPT
SELECT user_id FROM events WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'
ORDER BY user_id
"""

# operators/stats.py:walk_forward_splits — fold spine via
# generate_series; DuckDB DATE + INTERVAL coerces to TIMESTAMP, the
# comparison coerces trade_date the same way.
WALK_FORWARD_SPLITS_SQL = with_ctes(
    EVENTS_TICKS,
    DAILY_BARS,
    CLEAN_BARS,
    "folds AS (SELECT unnest(generate_series(1, 4)) AS fold)",
    select="""
SELECT CAST(fold AS BIGINT) AS fold, symbol, trade_date,
       CASE WHEN trade_date < DATE '2024-01-01' + INTERVAL (fold * 5) DAY
            THEN 'train' ELSE 'test' END AS role
FROM clean_bars CROSS JOIN folds
WHERE trade_date < DATE '2024-01-01' + INTERVAL (fold * 5 + 5) DAY
ORDER BY fold, symbol, trade_date
""",
)

TOP_VOLUME_DAYS_SQL = with_ctes(
    EVENTS_TICKS,
    DAILY_BARS,
    CLEAN_BARS,
    select="""
SELECT symbol, trade_date, volume, volume_rank FROM (
    SELECT symbol, trade_date, volume,
           CAST(dense_rank() OVER (PARTITION BY symbol
                                   ORDER BY volume DESC, trade_date ASC) AS BIGINT) AS volume_rank
    FROM clean_bars
) WHERE volume_rank <= 3
""",
)

RETURN_CORRELATIONS_SQL = with_ctes(
    EVENTS_TICKS,
    DAILY_BARS,
    CLEAN_BARS,
    DAILY_RETURNS,
    select="""
SELECT a.symbol AS symbol_a, b.symbol AS symbol_b,
       count(*) FILTER (WHERE a.daily_return_pct IS NOT NULL
                        AND b.daily_return_pct IS NOT NULL) AS n_days,
       round(corr(a.daily_return_pct, b.daily_return_pct), 6)       AS return_corr,
       round(covar_samp(a.daily_return_pct, b.daily_return_pct), 6) AS return_cov
FROM daily_returns a
JOIN daily_returns b ON a.trade_date = b.trade_date AND a.symbol < b.symbol
GROUP BY a.symbol, b.symbol
ORDER BY symbol_a, symbol_b
""",
)

# operators/stats.py:event_value_quantiles — quantile_disc picks the
# same element as Spark's percentile_disc (convention verified), so
# parity is exact with no rounding. Spark emits doubles for the
# quantile columns; value is already DOUBLE so dtypes agree.
EVENT_VALUE_QUANTILES_SQL = """
SELECT event_type,
       CAST(count(value) AS BIGINT) AS n,
       min(value)                   AS v_min,
       quantile_disc(value, 0.25)   AS p25,
       quantile_disc(value, 0.50)   AS p50,
       quantile_disc(value, 0.75)   AS p75,
       quantile_disc(value, 0.95)   AS p95,
       max(value)                   AS v_max
FROM events GROUP BY event_type ORDER BY event_type
"""

# operators/stats.py:market_beta — equal-weight market return per
# date, then per-symbol CAPM moments over the both-non-null sample.
MARKET_BETA_SQL = with_ctes(
    EVENTS_TICKS,
    DAILY_BARS,
    CLEAN_BARS,
    DAILY_RETURNS,
    "market AS (SELECT trade_date, avg(daily_return_pct) AS mret"
    "           FROM daily_returns GROUP BY trade_date)",
    select="""
SELECT symbol,
       CAST(count(*) AS BIGINT) AS n_days,
       round(covar_samp(daily_return_pct, mret) / var_samp(mret), 6) AS beta,
       round(avg(daily_return_pct)
             - (covar_samp(daily_return_pct, mret) / var_samp(mret))
               * avg(mret), 6)                                       AS alpha,
       round(corr(daily_return_pct, mret), 6)                        AS market_corr
FROM daily_returns JOIN market USING (trade_date)
WHERE daily_return_pct IS NOT NULL AND mret IS NOT NULL
GROUP BY symbol
ORDER BY symbol
""",
)

# operators/stats.py:rolling_beta — rolling-sum beta formulation
# (windowed covar aggregates use engine-specific update algebra; sums
# of identical summands round identically at 6 dp); full frames only.
ROLLING_BETA_SQL = with_ctes(
    EVENTS_TICKS,
    DAILY_BARS,
    CLEAN_BARS,
    DAILY_RETURNS,
    "market AS (SELECT trade_date, avg(daily_return_pct) AS mret"
    "           FROM daily_returns GROUP BY trade_date)",
    """
j AS (
    SELECT r.symbol, r.trade_date,
           r.daily_return_pct AS x, m.mret AS y
    FROM daily_returns r JOIN market m USING (trade_date)
    WHERE r.daily_return_pct IS NOT NULL AND m.mret IS NOT NULL
),
rb AS (
    SELECT symbol, trade_date,
        count(*)       OVER w10 AS cnt,
        sum(x)         OVER w10 AS sx,
        sum(y)         OVER w10 AS sy,
        sum(x * y)     OVER w10 AS sxy,
        sum(y * y)     OVER w10 AS syy
    FROM j
    WINDOW w10 AS (PARTITION BY symbol ORDER BY trade_date
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
)
""",
    select="""
SELECT symbol, trade_date,
       round((cnt * sxy - sx * sy) / nullif(cnt * syy - sy * sy, 0), 6)
           AS beta_10d
FROM rb WHERE cnt = 10
ORDER BY symbol, trade_date
""",
)

# operators/stats.py:cross_sectional_ranks — per-date relative
# strength; integer ranks with symbol tiebreaks, percent_rank =
# (rank-1)/(n-1) exact small-integer ratio.
CROSS_SECTIONAL_RANKS_SQL = with_ctes(
    EVENTS_TICKS,
    DAILY_BARS,
    CLEAN_BARS,
    DAILY_RETURNS,
    select="""
SELECT trade_date, symbol, daily_return_pct, volume,
       CAST(row_number() OVER wr AS BIGINT)   AS return_rank,
       round(percent_rank() OVER wr, 6)       AS return_pct_rank,
       CAST(row_number() OVER wv AS BIGINT)   AS volume_rank
FROM daily_returns WHERE daily_return_pct IS NOT NULL
WINDOW wr AS (PARTITION BY trade_date ORDER BY daily_return_pct DESC, symbol),
       wv AS (PARTITION BY trade_date ORDER BY volume DESC, symbol)
ORDER BY trade_date, return_rank
""",
)

# operators/retrieval.py:pmi_collocations — adjacent-bigram PMI with
# a min-count floor; rank on the unrounded score, bigram tiebreak.
PMI_COLLOCATIONS_SQL = """
WITH tk AS (
    SELECT regexp_extract_all(lower(trim(text)),
           '[a-z]+|[0-9]+|[^a-z0-9 ]') AS ta
    FROM documents
),
uni AS (
    SELECT w, CAST(count(*) AS BIGINT) AS c_w
    FROM (SELECT unnest(ta) AS w FROM tk) GROUP BY 1
),
bi AS (
    SELECT ta[i] AS w1, ta[i+1] AS w2,
           ta[i] || ' ' || ta[i+1] AS bg,
           CAST(count(*) AS BIGINT) AS c_bg
    FROM tk, unnest(generate_series(1, len(ta) - 1)) AS u(i)
    GROUP BY 1, 2, 3 HAVING count(*) >= 5
),
n AS (SELECT CAST(sum(c_w) AS BIGINT) AS n_tokens FROM uni),
s AS (
    SELECT bg, c_bg,
        ln(CAST(n.n_tokens * bi.c_bg AS DOUBLE)
           / CAST(u1.c_w * u2.c_w AS DOUBLE)) AS pmi
    FROM bi JOIN uni u1 ON bi.w1 = u1.w JOIN uni u2 ON bi.w2 = u2.w, n
),
r AS (SELECT *, row_number() OVER (ORDER BY pmi DESC, bg) AS rk FROM s)
SELECT bg, c_bg AS n_occurrences, round(pmi, 6) AS pmi
FROM r WHERE rk <= 100 ORDER BY pmi DESC, bg
"""

# operators/stats.py:sharpe_ratios — annualized moments + Sharpe
# (rf = 0); ratio on the UNROUNDED moments, one output rounding.
SHARPE_RATIOS_SQL = with_ctes(
    EVENTS_TICKS,
    DAILY_BARS,
    CLEAN_BARS,
    DAILY_RETURNS,
    select="""
SELECT symbol, CAST(count(*) AS BIGINT) AS n_days,
    round(avg(daily_return_pct) * 252, 6) AS ann_return_pct,
    round(stddev_samp(daily_return_pct) * sqrt(252.0), 6)
        AS ann_volatility_pct,
    round(avg(daily_return_pct) * 252
          / nullif(stddev_samp(daily_return_pct) * sqrt(252.0), 0), 6)
        AS sharpe
FROM daily_returns WHERE daily_return_pct IS NOT NULL
GROUP BY symbol ORDER BY symbol
""",
)

# operators/dims.py:monthly_revenue_growth — month-grain DECIMAL
# revenue (bilateral_trade lesson) + lag over the tiny monthly frame.
MONTHLY_REVENUE_GROWTH_SQL = """
WITH m AS (
    SELECT date_trunc('month', l_shipdate) AS month,
        sum(CAST(l_extendedprice AS DECIMAL(18,2))
            * CAST(1 - l_discount AS DECIMAL(8,2))) AS rev
    FROM lineitem GROUP BY 1
),
g AS (SELECT month, rev, lag(rev) OVER (ORDER BY month) AS prev FROM m)
SELECT month,
       CAST(round(rev, 2) AS DOUBLE)  AS revenue,
       CAST(round(prev, 2) AS DOUBLE) AS prev_revenue,
       round((CAST(rev AS DOUBLE) - CAST(prev AS DOUBLE))
             / nullif(CAST(prev AS DOUBLE), 0), 6) AS mom_growth
FROM g ORDER BY month
"""

# operators/indicators_ext.py:drawdown — running peak + drawdown
# series; max is accumulation-order-free so everything but the output
# rounding is exact by construction.
DRAWDOWN = """
ddown AS (
    SELECT symbol, trade_date, close_price,
        max(close_price) OVER wrun AS peak_close,
        close_price / max(close_price) OVER wrun - 1.0 AS dd
    FROM clean_bars
    WINDOW wrun AS (PARTITION BY symbol ORDER BY trade_date
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
"""

DRAWDOWN_SQL = with_ctes(
    EVENTS_TICKS,
    DAILY_BARS,
    CLEAN_BARS,
    DRAWDOWN,
    select="""
SELECT symbol, trade_date, close_price, peak_close,
       round(dd, 6) AS drawdown_pct,
       round(min(dd) OVER (PARTITION BY symbol), 6) AS max_drawdown_pct
FROM ddown
""",
)

# dedup_clusters oracle: transitive closure of the jaccard>=0.5 pair
# graph via recursive CTE; cluster = min reachable doc.
DEDUP_CLUSTERS_SQL = """
WITH RECURSIVE toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents
),
sh AS (
    SELECT DISTINCT doc_id,
        unnest(list_transform(generate_series(1, len(w) - 2),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM toks
),
sz AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
shj AS (
    SELECT doc_id, shingle FROM sh
    QUALIFY count(*) OVER (PARTITION BY shingle) <= 1000
),
p AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
    FROM shj a JOIN shj b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
pairs AS (
    SELECT doc_a, doc_b
    FROM p JOIN sz x ON p.doc_a = x.doc_id JOIN sz y ON p.doc_b = y.doc_id
    WHERE CAST(i AS DOUBLE) / (x.c + y.c - i) >= 0.5
),
edges AS (
    SELECT doc_a, doc_b FROM pairs
    UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach AS (
    SELECT DISTINCT doc_a AS doc_id, doc_a AS r FROM edges
    UNION
    SELECT e.doc_a AS doc_id, rc.r
    FROM edges e JOIN reach rc ON e.doc_b = rc.doc_id
)
SELECT doc_id, min(r) AS cluster_id
FROM reach
GROUP BY doc_id
ORDER BY doc_id
"""

# operators/dedup.py:dedup_keep_best — cluster closure (nested
# recursive CTE, scoped to the cl body) + the oracle-pinned quality
# expression + one per-cluster rank.
DEDUP_KEEP_BEST_SQL = (
    "WITH cl AS ("
    + DEDUP_CLUSTERS_SQL.replace("ORDER BY doc_id", "")
    + "),\nts AS ("
    + TEXT_QUALITY_SQL
    + """),
allc AS (
    SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
),
j AS (
    SELECT a.cluster_id, a.doc_id, ts.quality_score
    FROM allc a JOIN ts ON a.doc_id = ts.doc_id
),
r AS (
    SELECT *, row_number() OVER (PARTITION BY cluster_id
                  ORDER BY quality_score DESC, doc_id ASC) AS rn,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members
    FROM j
)
SELECT cluster_id, doc_id AS kept_doc_id, quality_score AS kept_quality,
       n_members
FROM r WHERE rn = 1 ORDER BY cluster_id"""
)

# repetition_filter oracle: the per-doc n-gram mode via unnest +
# group-by (DuckDB side) must equal Spark's in-row sorted-array run
# fold — counts are integers, fractions share the identical IEEE
# expression shape, rounded once at the end.
REPETITION_FILTER_SQL = """
WITH d AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
b AS (
    SELECT doc_id,
        string_split(t, chr(10))      AS ls,
        string_split_regex(t, '\\s+') AS ws
    FROM d
),
base AS (
    SELECT doc_id,
        CAST(len(ls) AS BIGINT) AS n_lines,
        1.0 - CAST(len(list_distinct(ls)) AS DOUBLE)
                / nullif(CAST(len(ls) AS DOUBLE), 0) AS dup_line_frac,
        CAST(len(ws) AS BIGINT) AS n_words
    FROM b
),
g2 AS (
    SELECT doc_id, g, count(*) AS cnt FROM (
        SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS g
        FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
              FROM b WHERE len(ws) >= 2)
    ) GROUP BY doc_id, g
),
m2 AS (SELECT doc_id, max(cnt) AS mode2 FROM g2 GROUP BY doc_id),
g3 AS (
    SELECT doc_id, g, count(*) AS cnt FROM (
        SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS g
        FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i
              FROM b WHERE len(ws) >= 3)
    ) GROUP BY doc_id, g
),
m3 AS (SELECT doc_id, max(cnt) AS mode3 FROM g3 GROUP BY doc_id),
r AS (
    SELECT base.doc_id, n_lines, dup_line_frac,
        coalesce(2.0 * mode2 / nullif(CAST(n_words AS DOUBLE), 0), 0.0) AS top2,
        coalesce(3.0 * mode3 / nullif(CAST(n_words AS DOUBLE), 0), 0.0) AS top3
    FROM base LEFT JOIN m2 USING (doc_id) LEFT JOIN m3 USING (doc_id)
)
SELECT doc_id, n_lines,
    round(dup_line_frac, 4) AS dup_line_frac,
    round(top2, 4)          AS top_bigram_frac,
    round(top3, 4)          AS top_trigram_frac,
    (dup_line_frac <= 0.30) AS pass_dup_lines,
    (top2 <= 0.20)          AS pass_top_bigram,
    (top3 <= 0.18)          AS pass_top_trigram,
    (dup_line_frac <= 0.30 AND top2 <= 0.20 AND top3 <= 0.18) AS keep
FROM r
"""

# mix_corpus oracle: per-source hash-ordered greedy budget fill; the
# budgets VALUES list mirrors __spark_entry__.q_mix_corpus exactly.
MIX_CORPUS_SQL = """
WITH q AS (SELECT * FROM (VALUES
    ('src0', 600), ('src1', 300), ('src2', 150), ('src3', 100000)
) AS q(source, token_budget)),
d AS (
    SELECT doc_id, source,
        CAST(len(regexp_extract_all(lower(trim(text)),
             '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens,
        md5('v1:' || CAST(doc_id AS VARCHAR))        AS mix_key
    FROM documents
),
s AS (SELECT d.*, q.token_budget FROM d JOIN q USING (source)),
r AS (
    SELECT doc_id, source, n_tokens, mix_key,
        CAST(coalesce(sum(n_tokens) OVER (
            PARTITION BY source ORDER BY mix_key
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                                                                 AS tokens_before,
        CAST(row_number() OVER (PARTITION BY source ORDER BY mix_key) AS BIGINT)
                                                                 AS mix_rank,
        token_budget
    FROM s
)
SELECT doc_id, source, n_tokens, mix_rank, tokens_before, mix_key
FROM r WHERE tokens_before < token_budget
"""

# bm25_topk oracle. Exactness notes: the per-doc term sum is an
# ORDERED left fold (list_reduce over a token-sorted list; Spark's
# F.aggregate starts at 0.0 — IEEE-identical since 0.0 + x == x);
# constants appear as the same arithmetic (1.2 + 1.0), never as the
# literal 2.2, which is a DIFFERENT double; ranking runs on the
# unrounded score with a doc_id tiebreak.
BM25_TOPK_SQL = """
WITH toks AS (
    SELECT doc_id, unnest(regexp_extract_all(lower(trim(text)),
        '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS token
    FROM documents
),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
    SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
    FROM toks WHERE token IN ('data', 'query', 'spark', 'table', 'window')
    GROUP BY doc_id, token
),
df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
c AS (
    SELECT tf.doc_id, tf.token,
        ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
          * (tf * (1.2 + 1.0))
          / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS contrib
    FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
),
s AS (
    SELECT doc_id,
        list_reduce(list(contrib ORDER BY token), (x, y) -> x + y) AS score
    FROM c GROUP BY doc_id
),
r AS (
    SELECT doc_id, score,
        CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
    FROM s
)
SELECT doc_id, round(score, 6) AS bm25, rank
FROM r WHERE rank <= 50
"""

# hybrid_search_rrf oracle: the bm25 lexical list fused with the
# exact semantic neighbor list of query vector 0 via reciprocal-rank
# fusion — rational arithmetic on small ints, bit-exact.
HYBRID_SEARCH_RRF_SQL = """
WITH toks AS (
    SELECT doc_id, unnest(regexp_extract_all(lower(trim(text)),
        '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS token
    FROM documents
),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
    SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
    FROM toks WHERE token IN ('data', 'query', 'spark', 'table', 'window')
    GROUP BY doc_id, token
),
df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
c AS (
    SELECT tf.doc_id, tf.token,
        ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
          * (tf * (1.2 + 1.0))
          / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS contrib
    FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
),
s AS (
    SELECT doc_id,
        list_reduce(list(contrib ORDER BY token), (x, y) -> x + y) AS score
    FROM c GROUP BY doc_id
),
lex AS (
    SELECT doc_id,
        CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
    FROM s QUALIFY rank <= 50
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v FROM e WHERE vec_id = 0),
simq AS (
    SELECT e.vec_id AS doc_id, list_cosine_similarity(q.v, e.v) AS cs
    FROM e CROSS JOIN q WHERE e.vec_id != 0
),
sem AS (
    SELECT doc_id,
        CAST(row_number() OVER (ORDER BY cs DESC, doc_id) AS BIGINT) AS rank
    FROM simq QUALIFY rank <= 50
),
f AS (
    SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        a.rank AS rank_a, b.rank AS rank_b,
        coalesce(1.0 / (60 + a.rank), 0.0)
          + coalesce(1.0 / (60 + b.rank), 0.0) AS rrf_raw
    FROM lex a FULL OUTER JOIN sem b ON a.doc_id = b.doc_id
)
SELECT doc_id, rank_a, rank_b, round(rrf_raw, 6) AS rrf_score,
       CAST(row_number() OVER (ORDER BY rrf_raw DESC, doc_id) AS BIGINT) AS fused_rank
FROM f
"""


# operators/curation.py:quality_decile_bins — exact global rank +
# integer bin arithmetic; composes the text_quality oracle so the
# score expression is pinned by ONE definition.
QUALITY_DECILE_BINS_SQL = (
    "WITH ts AS (" + TEXT_QUALITY_SQL + "),\n"
    "r AS (SELECT doc_id, quality_score,\n"
    "  CAST(row_number() OVER (ORDER BY quality_score DESC, doc_id) AS BIGINT)"
    " AS quality_rank,\n"
    "  CAST(count(*) OVER () AS BIGINT) AS n FROM ts)\n"
    "SELECT doc_id, quality_score, quality_rank,\n"
    "  CAST((quality_rank - 1) * 10 // n + 1 AS BIGINT) AS decile FROM r"
)


# operators/curation.py:curation_pipeline — composition of four
# already-gated stages; nested WITHs are scoped per CTE body.
CURATION_PIPELINE_SQL = (
    "WITH g AS (" + GOPHER_FILTER_SQL + "),\n"
    "r AS (" + REPETITION_FILTER_SQL + "),\n"
    "p AS (" + PII_SCRUB_SQL + "),\n"
    "d AS (" + DEDUP_EXACT_SQL + ")\n"
    "SELECT p.doc_id, p.scrubbed, d.dup_count\n"
    "FROM p JOIN g USING (doc_id) JOIN r USING (doc_id)\n"
    "     JOIN d ON d.canonical_doc_id = p.doc_id\n"
    "WHERE g.keep AND r.keep"
)


# operators/bars.py:daily_vwap — Σ(price·qty)/Σ(qty) per (symbol, day)
# over fully-priced ticks; SUM of doubles rounds at 4 dp (ulp noise
# absorbed, PERF.md). CAST qty sums to BIGINT (DuckDB hugeint).
DAILY_VWAP_SQL = with_ctes(
    EVENTS_TICKS,
    select="""
SELECT symbol, CAST(ts AS DATE) AS trade_date,
       round(sum(CASE WHEN price IS NOT NULL AND qty IS NOT NULL
                      THEN price * qty END)
             / nullif(CAST(sum(CASE WHEN price IS NOT NULL AND qty IS NOT NULL
                                    THEN qty END) AS DOUBLE), 0), 4) AS vwap,
       CAST(sum(CASE WHEN price IS NOT NULL AND qty IS NOT NULL
                     THEN qty END) AS BIGINT) AS total_qty,
       count(*) AS n_ticks
FROM ticks
GROUP BY 1, 2
""",
)

# operators/bars.py:forward_fill_bars — calendar grid + IGNORE NULLS
# carry-forward; mirrors Spark's last(ignorenulls) frame exactly.
FORWARD_FILL_BARS_SQL = with_ctes(
    EVENTS_TICKS,
    DAILY_BARS,
    CLEAN_BARS,
    """
span AS (SELECT min(trade_date) AS d0, max(trade_date) AS d1 FROM clean_bars),
dates AS (
    SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
        AS trade_date
    FROM span
),
grid AS (SELECT symbol, trade_date
         FROM (SELECT DISTINCT symbol FROM clean_bars), dates)
""",
    select="""
SELECT g.symbol, g.trade_date, b.close_price,
       last_value(b.close_price IGNORE NULLS) OVER (
           PARTITION BY g.symbol ORDER BY g.trade_date
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_close,
       (b.close_price IS NULL AND last_value(b.close_price IGNORE NULLS) OVER (
           PARTITION BY g.symbol ORDER BY g.trade_date
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) IS NOT NULL)
           AS is_filled
FROM grid g LEFT JOIN clean_bars b USING (symbol, trade_date)
""",
)


# operators/curation.py:corpus_stats_by_source — per-(source, lang)
# profile; exact median (even-count mean-of-middle matches Spark).
CORPUS_STATS_BY_SOURCE_SQL = """
WITH d AS (
    SELECT source, lang, doc_id,
        CAST(len(regexp_extract_all(lower(trim(text)),
             '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens
    FROM documents
),
base AS (
    SELECT source, lang,
        CAST(count(*) AS BIGINT)      AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        round(avg(n_tokens), 2)       AS mean_tokens,
        CAST(median(n_tokens) AS DOUBLE) AS median_tokens
    FROM d GROUP BY 1, 2
),
toks AS (
    SELECT source, lang,
        unnest(regexp_extract_all(lower(trim(text)),
               '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS token
    FROM documents
),
div AS (
    SELECT source, lang, CAST(count(DISTINCT token) AS BIGINT)
        AS distinct_tokens
    FROM toks GROUP BY 1, 2
),
tot AS (SELECT CAST(sum(total_tokens) AS BIGINT) AS all_tokens FROM base)
SELECT b.source, b.lang, b.n_docs, b.total_tokens,
       round(CAST(b.total_tokens AS DOUBLE)
             / nullif(CAST(t.all_tokens AS DOUBLE), 0), 4) AS token_share,
       b.mean_tokens, b.median_tokens, v.distinct_tokens
FROM base b JOIN div v USING (source, lang), tot t
"""


# operators/text.py:lm_perplexity — add-one bigram LM, self-scored;
# position-sorted list_reduce mirrors the Spark ordered fold (BM25
# precedent: 0.0 + x1 == x1 in IEEE, so the init-less fold agrees).
LM_PERPLEXITY_SQL = """
WITH tk AS (
    SELECT doc_id,
        regexp_extract_all(lower(trim(text)), '[a-z]+|[0-9]+|[^a-z0-9 ]') AS ta
    FROM documents
),
uni AS (
    SELECT w1, CAST(count(*) AS BIGINT) AS c_w1
    FROM (SELECT unnest(ta) AS w1 FROM tk) GROUP BY 1
),
bgl AS (
    SELECT doc_id, CAST(i AS BIGINT) AS pos,
           ta[i] || ' ' || ta[i+1] AS bg, ta[i] AS w1
    FROM tk, unnest(generate_series(1, len(ta) - 1)) AS u(i)
    WHERE len(ta) >= 2
),
bi AS (SELECT bg, CAST(count(*) AS BIGINT) AS c_bg FROM bgl GROUP BY 1),
v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
sc AS (
    SELECT b.doc_id, b.pos,
        ln(CAST(coalesce(bi.c_bg, 0) + 1 AS DOUBLE)
           / CAST(coalesce(u.c_w1, 0) + v.v AS DOUBLE)) AS logp
    FROM bgl b LEFT JOIN bi USING (bg) LEFT JOIN uni u ON b.w1 = u.w1, v
),
s AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        list_reduce(list(logp ORDER BY pos), (x, y) -> x + y) AS sum_logp
    FROM sc GROUP BY doc_id
)
SELECT doc_id, n_bigrams,
       round(-sum_logp / n_bigrams, 6) AS avg_nll,
       round(exp(-sum_logp / n_bigrams), 4) AS perplexity
FROM s
"""


# operators/text.py:lm_perplexity with lm_corpus = the English slice —
# the PRODUCTION CCNet shape: a reference-corpus model scores the
# whole corpus (out-of-model bigrams and unigrams hit the coalesce
# paths the self-scored form never exercises).
LM_PERPLEXITY_CROSS_SQL = """
WITH tk AS (
    SELECT doc_id,
        regexp_extract_all(lower(trim(text)), '[a-z]+|[0-9]+|[^a-z0-9 ]') AS ta
    FROM documents
),
tkm AS (
    SELECT regexp_extract_all(lower(trim(text)), '[a-z]+|[0-9]+|[^a-z0-9 ]') AS ta
    FROM documents WHERE lang = 'en'
),
uni AS (
    SELECT w1, CAST(count(*) AS BIGINT) AS c_w1
    FROM (SELECT unnest(ta) AS w1 FROM tkm) GROUP BY 1
),
bglm AS (
    SELECT ta[i] || ' ' || ta[i+1] AS bg
    FROM tkm, unnest(generate_series(1, len(ta) - 1)) AS u(i)
    WHERE len(ta) >= 2
),
bi AS (SELECT bg, CAST(count(*) AS BIGINT) AS c_bg FROM bglm GROUP BY 1),
v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
bgl AS (
    SELECT doc_id, CAST(i AS BIGINT) AS pos,
           ta[i] || ' ' || ta[i+1] AS bg, ta[i] AS w1
    FROM tk, unnest(generate_series(1, len(ta) - 1)) AS u(i)
    WHERE len(ta) >= 2
),
sc AS (
    SELECT b.doc_id, b.pos,
        ln(CAST(coalesce(bi.c_bg, 0) + 1 AS DOUBLE)
           / CAST(coalesce(u.c_w1, 0) + v.v AS DOUBLE)) AS logp
    FROM bgl b LEFT JOIN bi USING (bg) LEFT JOIN uni u ON b.w1 = u.w1, v
),
s AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        list_reduce(list(logp ORDER BY pos), (x, y) -> x + y) AS sum_logp
    FROM sc GROUP BY doc_id
)
SELECT doc_id, n_bigrams,
       round(-sum_logp / n_bigrams, 6) AS avg_nll,
       round(exp(-sum_logp / n_bigrams), 4) AS perplexity
FROM s
"""

# operators/realtime.py:winsorize_ticks — per-symbol exact continuous
# percentiles (quantile_cont == Spark percentile), bounds rounded to
# 6 dp BEFORE the clamp so both engines compare the identical double.
WINSORIZE_TICKS_SQL = with_ctes(
    EVENTS_TICKS,
    """
q AS (
    SELECT symbol,
        round(quantile_cont(price, 0.01), 6) AS q_lo,
        round(quantile_cont(price, 0.99), 6) AS q_hi
    FROM ticks WHERE price IS NOT NULL GROUP BY symbol
)
""",
    select="""
SELECT t.symbol, t.ts AS event_time, t.price, q.q_lo, q.q_hi,
       CASE WHEN t.price IS NOT NULL
            THEN least(greatest(t.price, q.q_lo), q.q_hi) END AS clipped_price,
       coalesce(t.price < q.q_lo OR t.price > q.q_hi, FALSE) AS is_outlier
FROM ticks t LEFT JOIN q USING (symbol)
""",
)

# operators/text.py:boilerplate_prefix_stats — cross-document shared
# k-token prefix shares per source.
BOILERPLATE_PREFIXES_SQL = """
WITH base AS (
    SELECT doc_id, source,
        array_to_string(
            regexp_extract_all(lower(trim(text)),
                '[a-z]+|[0-9]+|[^a-z0-9 ]')[1:5], ' ') AS prefix
    FROM documents
),
bp AS (
    SELECT source, prefix, CAST(count(*) AS BIGINT) AS prefix_count
    FROM base GROUP BY 1, 2
),
bs AS (SELECT source, CAST(count(*) AS BIGINT) AS n_source FROM base GROUP BY 1)
SELECT b.doc_id, b.source, b.prefix, bp.prefix_count,
       round(CAST(bp.prefix_count AS DOUBLE)
             / nullif(CAST(bs.n_source AS DOUBLE), 0), 4) AS prefix_share,
       (CAST(bp.prefix_count AS DOUBLE)
        / nullif(CAST(bs.n_source AS DOUBLE), 0) >= 0.2) AS is_boilerplate
FROM base b JOIN bp USING (source, prefix) JOIN bs USING (source)
"""


# operators/text.py:hash_embed_documents — feature-hash embeddings;
# md5-prefix parsing parity with Spark conv() verified (simhash
# precedent). mp[x] yields a 1-element list in DuckDB — [1] unwraps.
# Gate shape: the registered query posexplodes the unit vector to
# (doc_id, pos, value) rows — array<double> is unhashable in the
# driver's pandas canonicalizer (VERDICT r3 #1); the array form stays
# the internal API the dense stack consumes. raw[pos+1]: DuckDB lists
# are 1-indexed.
# The hashing-trick embedding CTE chain (tk..n: token → signed bucket
# → integer bucket sums → raw 64-vector + norm), shared by
# HASH_EMBEDDINGS_SQL and the frozen-weight quality-classifier oracle
# (operators/classifier.py) — single source for the md5/bucket/sign
# algebra.
HASH_EMBED_CTES = """tk AS (
    SELECT doc_id,
        unnest(regexp_extract_all(lower(trim(text)),
               '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS token
    FROM documents
),
f AS (
    SELECT doc_id,
        CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 64 AS bucket,
        1 - 2 * (CAST(('0x' || substr(md5(token), 9, 8)) AS BIGINT) % 2) AS sign
    FROM tk
),
b AS (
    SELECT doc_id, bucket, CAST(sum(sign) AS BIGINT) AS val
    FROM f GROUP BY 1, 2
),
m AS (
    SELECT doc_id, map_from_entries(list({'k': bucket, 'v': val})) AS mp
    FROM b GROUP BY doc_id
),
v AS (
    SELECT d.doc_id,
        list_transform(generate_series(0, 63),
                       x -> CAST(coalesce(mp[x][1], 0) AS DOUBLE)) AS raw
    FROM (SELECT doc_id FROM documents) d LEFT JOIN m USING (doc_id)
),
n AS (
    SELECT doc_id, raw,
        sqrt(list_reduce(list_transform(raw, x -> x * x),
                         (a, b) -> a + b)) AS nrm
    FROM v
)"""

HASH_EMBEDDINGS_SQL = f"""
WITH {HASH_EMBED_CTES}
SELECT doc_id, CAST(p.pos AS INTEGER) AS pos,
       CASE WHEN nrm > 0 THEN round(raw[p.pos + 1] / nrm, 6)
            ELSE raw[p.pos + 1] END AS value
FROM n CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS pos) p
"""


# operators/bars.py:multi_grain_bars — the Spark side runs ONE
# grouping-sets pass; the oracle states the same semantics as a
# 3-grain UNION of the daily-bar row_number formulation.
MULTI_GRAIN_BARS_SQL = with_ctes(
    EVENTS_TICKS,
    """
g AS (
    SELECT symbol, ts, event_id, price, qty,
        date_trunc('day', ts)  AS day_b,
        date_trunc('hour', ts) AS hour_b,
        make_timestamp(CAST(floor(epoch(ts) / 900) * 900 AS BIGINT)
                       * 1000000) AS q15_b
    FROM ticks
),
u AS (
    SELECT symbol, ts, event_id, price, qty, 'day' AS grain,
           day_b AS bucket_start FROM g
    UNION ALL
    SELECT symbol, ts, event_id, price, qty, 'hour', hour_b FROM g
    UNION ALL
    SELECT symbol, ts, event_id, price, qty, '15m', q15_b FROM g
),
r AS (
    SELECT *,
        row_number() OVER (PARTITION BY symbol, grain, bucket_start
                           ORDER BY ts, event_id)             AS rn_f,
        row_number() OVER (PARTITION BY symbol, grain, bucket_start
                           ORDER BY ts DESC, event_id DESC)   AS rn_l
    FROM u
)
""",
    select="""
SELECT symbol, grain, bucket_start,
       max(CASE WHEN rn_f = 1 THEN price END) AS open_price,
       max(price)                             AS high_price,
       min(price)                             AS low_price,
       max(CASE WHEN rn_l = 1 THEN price END) AS close_price,
       CAST(sum(qty) AS BIGINT)               AS volume,
       count(*)                               AS n_trades
FROM r
GROUP BY 1, 2, 3
""",
)


# operators/curation.py:leakage_safe_split — the cluster closure is
# DEDUP_CLUSTERS_SQL's recursive reach (same pairs: 3-shingle Jaccard
# >= 0.5 under the df cap); the side is a pure function of the group
# representative's md5, so both engines agree row-for-row.
LEAKAGE_SAFE_SPLIT_SQL = """
WITH RECURSIVE toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents
),
sh AS (
    SELECT DISTINCT doc_id,
        unnest(list_transform(generate_series(1, len(w) - 2),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM toks
),
sz AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
shj AS (
    SELECT doc_id, shingle FROM sh
    QUALIFY count(*) OVER (PARTITION BY shingle) <= 1000
),
p AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
    FROM shj a JOIN shj b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
pairs AS (
    SELECT doc_a, doc_b
    FROM p JOIN sz x ON p.doc_a = x.doc_id JOIN sz y ON p.doc_b = y.doc_id
    WHERE CAST(i AS DOUBLE) / (x.c + y.c - i) >= 0.5
),
edges AS (
    SELECT doc_a, doc_b FROM pairs
    UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach AS (
    SELECT DISTINCT doc_a AS doc_id, doc_a AS r FROM edges
    UNION
    SELECT e.doc_a AS doc_id, rc.r
    FROM edges e JOIN reach rc ON e.doc_b = rc.doc_id
),
lab AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id)
SELECT d.doc_id,
    CAST(coalesce(l.cluster_id, d.doc_id) AS BIGINT) AS group_rep,
    CASE WHEN substr(md5('v1:' ||
             CAST(CAST(coalesce(l.cluster_id, d.doc_id) AS BIGINT) AS VARCHAR)),
             1, 4) < '199a'
         THEN 'val' ELSE 'train' END AS split
FROM documents d LEFT JOIN lab l USING (doc_id)
"""

# operators/upsert.py:scd2_history — SCD type-2 over the events
# change stream (user_id's event_type as the tracked attribute).
# Update order is (ts, event_id) in BOTH windows; versions open only
# on value change.
SCD2_USER_STATUS_SQL = """
WITH u AS (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
           event_type AS status, event_id
    FROM events
),
c AS (
    SELECT *, lag(status) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
    FROM u
),
f AS (
    SELECT user_id, ts, status, event_id
    FROM c WHERE prev IS NULL OR status <> prev
)
SELECT user_id, status, ts AS valid_from,
    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)  AS valid_to,
    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
                                                                AS version,
    (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL)
                                                                AS is_current
FROM f
"""

# operators/curation.py:importance_weights — DSIR hashed-unigram
# log-likelihood ratios; target = the English slice. Exactness: md5
# bucket parse (as hash_embed), integer counts, ln of integer-ratio
# doubles, per-doc fold ORDER BY pos (as lm_perplexity).
# operators/curation.py:source_drift_kl — fixed-spine KL fold in
# bucket order (list_reduce), same hashed-unigram model as DSIR.
SOURCE_DRIFT_KL_SQL = """
WITH tk AS (
    SELECT source,
        regexp_extract_all(lower(trim(text)), '[a-z]+|[0-9]+|[^a-z0-9 ]') AS ta
    FROM documents
),
tb AS (
    SELECT source,
        CAST(('0x' || substr(md5(ta[i]), 1, 8)) AS BIGINT) % 256 AS bucket
    FROM tk, unnest(generate_series(1, len(ta))) AS u(i)
),
sc AS (SELECT source, bucket, CAST(count(*) AS BIGINT) AS c_s FROM tb GROUP BY 1, 2),
cc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c_c FROM tb GROUP BY 1),
st AS (SELECT source, CAST(sum(c_s) AS BIGINT) AS t_s FROM sc GROUP BY 1),
ct AS (SELECT CAST(sum(c_c) AS BIGINT) AS t_c FROM cc),
spine AS (
    SELECT s.source, CAST(b AS BIGINT) AS bucket
    FROM (SELECT DISTINCT source FROM documents) s,
         unnest(generate_series(0, 255)) AS g(b)
),
terms AS (
    -- LEFT JOIN st + coalesce: zero-token sources stay in the report
    -- (n_tokens=0, KL over pure-smoothed p_s) — mirrors curation.py
    SELECT spine.source, spine.bucket, coalesce(st.t_s, 0) AS t_s,
        (CAST(coalesce(sc.c_s, 0) + 1 AS DOUBLE)
         / CAST(coalesce(st.t_s, 0) + 256 AS DOUBLE))
        * (ln(CAST(coalesce(sc.c_s, 0) + 1 AS DOUBLE)
              / CAST(coalesce(st.t_s, 0) + 256 AS DOUBLE))
         - ln(CAST(coalesce(cc.c_c, 0) + 1 AS DOUBLE)
              / CAST(coalesce(ct.t_c, 0) + 256 AS DOUBLE)))
            AS term
    FROM spine
    LEFT JOIN sc ON spine.source = sc.source AND spine.bucket = sc.bucket
    LEFT JOIN cc ON spine.bucket = cc.bucket
    LEFT JOIN st ON spine.source = st.source, ct
)
SELECT source,
       CAST(max(t_s) AS BIGINT) AS n_tokens,
       round(list_reduce(list(term ORDER BY bucket), (x, y) -> x + y), 6)
           AS kl_divergence
FROM terms GROUP BY source ORDER BY source
"""

IMPORTANCE_WEIGHTS_SQL = """
WITH tk AS (
    SELECT doc_id,
        regexp_extract_all(lower(trim(text)), '[a-z]+|[0-9]+|[^a-z0-9 ]') AS ta
    FROM documents
),
tkl AS (
    SELECT doc_id, CAST(i AS BIGINT) AS pos, ta[i] AS token
    FROM tk, unnest(generate_series(1, len(ta))) AS u(i)
),
tb AS (
    SELECT doc_id, pos,
        CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 256 AS bucket
    FROM tkl
),
rawc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c_raw FROM tb GROUP BY 1),
tgtc AS (
    SELECT bucket, CAST(count(*) AS BIGINT) AS c_tgt
    FROM tb JOIN documents USING (doc_id) WHERE lang = 'en' GROUP BY 1
),
rt AS (SELECT CAST(sum(c_raw) AS BIGINT) AS t_raw FROM rawc),
tt AS (SELECT CAST(sum(c_tgt) AS BIGINT) AS t_tgt FROM tgtc),
sc AS (
    SELECT tb.doc_id, tb.pos,
        ln(CAST(coalesce(g.c_tgt, 0) + 1 AS DOUBLE) / CAST(t_tgt + 256 AS DOUBLE))
      - ln(CAST(coalesce(r.c_raw, 0) + 1 AS DOUBLE) / CAST(t_raw + 256 AS DOUBLE))
            AS lam
    FROM tb LEFT JOIN rawc r USING (bucket) LEFT JOIN tgtc g USING (bucket), rt, tt
),
s AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        list_reduce(list(lam ORDER BY pos), (x, y) -> x + y) AS w
    FROM sc GROUP BY doc_id
)
SELECT d.doc_id,
    CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
    round(coalesce(s.w, 0.0), 6)            AS importance_weight
FROM documents d LEFT JOIN s USING (doc_id)
"""

# operators/curation.py:importance_resample — Gumbel-top-k over the
# UNROUNDED weight; u parses 13 md5 hex chars into a 52-bit uniform,
# rank ties break by doc_id, the emitted score rounds once.
IMPORTANCE_RESAMPLE_SQL = """
WITH tk AS (
    SELECT doc_id,
        regexp_extract_all(lower(trim(text)), '[a-z]+|[0-9]+|[^a-z0-9 ]') AS ta
    FROM documents
),
tkl AS (
    SELECT doc_id, CAST(i AS BIGINT) AS pos, ta[i] AS token
    FROM tk, unnest(generate_series(1, len(ta))) AS u(i)
),
tb AS (
    SELECT doc_id, pos,
        CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 256 AS bucket
    FROM tkl
),
rawc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c_raw FROM tb GROUP BY 1),
tgtc AS (
    SELECT bucket, CAST(count(*) AS BIGINT) AS c_tgt
    FROM tb JOIN documents USING (doc_id) WHERE lang = 'en' GROUP BY 1
),
rt AS (SELECT CAST(sum(c_raw) AS BIGINT) AS t_raw FROM rawc),
tt AS (SELECT CAST(sum(c_tgt) AS BIGINT) AS t_tgt FROM tgtc),
sc AS (
    SELECT tb.doc_id, tb.pos,
        ln(CAST(coalesce(g.c_tgt, 0) + 1 AS DOUBLE) / CAST(t_tgt + 256 AS DOUBLE))
      - ln(CAST(coalesce(r.c_raw, 0) + 1 AS DOUBLE) / CAST(t_raw + 256 AS DOUBLE))
            AS lam
    FROM tb LEFT JOIN rawc r USING (bucket) LEFT JOIN tgtc g USING (bucket), rt, tt
),
s AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        list_reduce(list(lam ORDER BY pos), (x, y) -> x + y) AS w
    FROM sc GROUP BY doc_id
),
wt AS (
    SELECT d.doc_id,
        CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
        coalesce(s.w, 0.0)                      AS rw
    FROM documents d LEFT JOIN s USING (doc_id)
),
g AS (
    SELECT doc_id, n_tokens, rw,
        rw + (-ln(-ln(
            (CAST(CAST(('0x' || substr(md5('v1:' || CAST(doc_id AS VARCHAR)), 1, 13))
                       AS BIGINT) AS DOUBLE) + 0.5) / 4503599627370496.0)))
            AS score_raw
    FROM wt
),
r AS (
    SELECT doc_id, n_tokens, rw, score_raw,
        CAST(row_number() OVER (ORDER BY score_raw DESC, doc_id) AS BIGINT)
            AS sample_rank
    FROM g
)
SELECT doc_id, n_tokens,
    round(rw, 6)        AS importance_weight,
    round(score_raw, 6) AS gumbel_score,
    sample_rank
FROM r WHERE sample_rank <= 100
"""

# --- round-5 TPC-H classic shapes over the available columns ---

# operators/dims.py:banded_discount_revenue — Q6 shape, per ship year.
BANDED_DISCOUNT_REVENUE_SQL = """
SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_discount AS DECIMAL(8,2))), 2) AS DOUBLE)
           AS gained_revenue
FROM lineitem
WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
GROUP BY 1 ORDER BY 1
"""

# operators/dims.py:nation_market_share — Q8 shape: NATION_3's share
# of PROMO-part revenue sold to ASIA customers, per order year.
NATION_MARKET_SHARE_SQL = """
WITH f AS (
    SELECT year(o.o_orderdate) AS order_year,
           CAST(l.l_extendedprice AS DECIMAL(18,2))
             * CAST(1 - l.l_discount AS DECIMAL(8,2)) AS rev,
           sn.n_name AS supp_nation
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    JOIN region r ON cn.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO'
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
)
SELECT CAST(order_year AS BIGINT) AS order_year,
       CAST(round(sum(rev), 2) AS DOUBLE) AS total_revenue,
       CAST(round(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev
                           ELSE 0 END), 2) AS DOUBLE) AS nation_revenue,
       round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev
                           ELSE 0 END) AS DOUBLE)
             / nullif(CAST(sum(rev) AS DOUBLE), 0), 6) AS mkt_share
FROM f GROUP BY 1 ORDER BY 1
"""

# operators/dims.py:supplier_nation_profit — Q9 shape with the
# documented cost proxy (80% of retail; no partsupp in the schema).
SUPPLIER_NATION_PROFIT_SQL = """
SELECT sn.n_name AS supp_nation,
       CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
       CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                        * CAST(1 - l.l_discount AS DECIMAL(8,2))
                      - CAST(p.p_retailprice AS DECIMAL(18,2))
                        * CAST(0.80 AS DECIMAL(3,2))
                        * CAST(l.l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS profit
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
GROUP BY 1, 2 ORDER BY 1, 2
"""

# operators/dims.py:customer_order_distribution — Q13 shape
# (zero-order customers included via the left join).
CUSTOMER_ORDER_DISTRIBUTION_SQL = """
WITH per_cust AS (
    SELECT o_custkey, CAST(count(*) AS BIGINT) AS n
    FROM orders WHERE o_orderpriority <> '1-URGENT'
    GROUP BY o_custkey
)
SELECT coalesce(n, 0) AS order_count,
       CAST(count(*) AS BIGINT) AS custdist
FROM customer c LEFT JOIN per_cust p ON c.c_custkey = p.o_custkey
GROUP BY 1 ORDER BY custdist DESC, order_count DESC
"""

# operators/dims.py:top_supplier_revenue — Q15 shape (all ties kept;
# the max compares ROUNDED 2-dp revenues, so the tie set is exact).
TOP_SUPPLIER_REVENUE_SQL = """
WITH srev AS (
    SELECT l_suppkey,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                          * CAST(1 - l_discount AS DECIMAL(8,2))), 2)
                AS DOUBLE) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1996-04-01'
    GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, srev.total_revenue
FROM srev JOIN supplier s ON srev.l_suppkey = s.s_suppkey
WHERE srev.total_revenue = (SELECT max(total_revenue) FROM srev)
ORDER BY s.s_suppkey
"""

# operators/dims.py:part_supplier_counts — Q16 shape (lineitem as
# the part-supplier relation; negative-balance suppliers anti-joined).
PART_SUPPLIER_COUNTS_SQL = """
WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
ok AS (
    SELECT pairs.* FROM pairs
    WHERE pairs.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
)
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(count(DISTINCT ok.l_suppkey) AS BIGINT) AS supplier_cnt
FROM ok JOIN part p ON ok.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_type NOT LIKE 'PROMO%'
  AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22, 25)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""

# operators/similarity.py:cosine_topk_filtered — pre-filtered vector
# search (attribute-equality predicate), entry split vec_id % 4.
ANN_FILTERED_TOPK_SQL = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id, label, v FROM e WHERE vec_id % 4 = 0),
s AS (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           list_cosine_similarity(q.v, e.v) AS c
    FROM e JOIN q ON e.label = q.label AND e.vec_id != q.vec_id
),
r AS (
    SELECT query_id, neighbor_id, c,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id ASC) AS BIGINT) AS rank
    FROM s
)
SELECT query_id, neighbor_id, rank, round(c, 6) AS cosine
FROM r WHERE rank <= 5
"""

# operators/dedup.py:ngram_decontaminate — GPT-3-style exact 13-gram
# decontamination; reference = doc_id % 10 = 0 (entry split), corpus
# = the rest. Same interval-union algebra as REPEATED_SPANS_SQL.
NGRAM_DECONTAMINATE_SQL = """
WITH corpus AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
ref    AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w,
        CASE WHEN length(lower(trim(text))) > 0
             THEN len(string_split_regex(lower(trim(text)), '\\s+'))
             ELSE 0 END AS n_tokens
    FROM corpus
),
g AS (
    SELECT doc_id,
        unnest(list_transform(generate_series(1, len(w) - 12),
                              i -> {'pos': i - 1,
                                    'gram': array_to_string(w[i : i + 12], ' ')}))
            AS z
    FROM toks
),
grams AS (SELECT doc_id, z.pos AS pos, z.gram AS gram FROM g),
rt AS (SELECT string_split_regex(lower(trim(text)), '\\s+') AS w FROM ref),
rg AS (
    SELECT DISTINCT unnest(list_transform(generate_series(1, len(w) - 12),
                                          i -> array_to_string(w[i : i + 12], ' ')))
        AS gram
    FROM rt
),
hits AS (
    SELECT grams.doc_id, grams.pos, grams.pos + 13 AS e
    FROM grams JOIN rg USING (gram)
),
cov AS (
    SELECT doc_id, pos, e,
        max(e) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            AS prev_e
    FROM hits
),
agg AS (
    SELECT doc_id,
        CAST(count(*) AS BIGINT) AS n_contaminated_spans,
        CAST(sum(greatest(e - greatest(pos, coalesce(prev_e, 0)), 0))
             AS BIGINT) AS covered
    FROM cov GROUP BY 1
)
SELECT t.doc_id, CAST(t.n_tokens AS BIGINT) AS n_tokens,
       coalesce(a.n_contaminated_spans, 0) AS n_contaminated_spans,
       coalesce(a.covered, 0)              AS contaminated_tokens,
       round(CAST(coalesce(a.covered, 0) AS DOUBLE)
             / nullif(t.n_tokens, 0), 6) AS contaminated_frac,
       coalesce(CAST(coalesce(a.covered, 0) AS DOUBLE)
                / nullif(t.n_tokens, 0) > 0.0, FALSE) AS "drop"
FROM toks t LEFT JOIN agg a USING (doc_id)
ORDER BY t.doc_id
"""

# operators/curation.py:temperature_mix — T=1/2 temperature-weighted
# budgets (integer weight algebra: floor(sqrt·1e6), budget = total·w
# div ΣW — exact in any engine), then the mix_corpus fill.
TEMPERATURE_MIX_SQL = """
WITH d AS (
    SELECT doc_id, source,
        CAST(len(regexp_extract_all(lower(trim(text)),
             '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens,
        md5('v1:' || CAST(doc_id AS VARCHAR))        AS mix_key
    FROM documents
),
wts AS (
    SELECT source,
        CAST(floor(sqrt(CAST(sum(n_tokens) AS DOUBLE)) * 1e6) AS BIGINT) AS w
    FROM d GROUP BY source
),
b AS (
    SELECT source, CAST(50000 * w // (SELECT sum(w) FROM wts) AS BIGINT)
               AS token_budget
    FROM wts
),
s AS (SELECT d.*, b.token_budget FROM d JOIN b USING (source)),
r AS (
    SELECT doc_id, source, n_tokens, token_budget, mix_key,
        CAST(coalesce(sum(n_tokens) OVER (
            PARTITION BY source ORDER BY mix_key
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                                                                 AS tokens_before,
        CAST(row_number() OVER (PARTITION BY source ORDER BY mix_key) AS BIGINT)
                                                                 AS mix_rank
    FROM s
)
SELECT doc_id, source, n_tokens, token_budget, mix_rank, tokens_before, mix_key
FROM r WHERE tokens_before < token_budget
"""


def ann_recall_report_sql() -> str:
    """Recall@5 report oracle — composes the five generated/static
    ANN plans as nested subqueries (each tier's SQL is itself the
    per-tier oracle, so this is evidence ON TOP of evidence). Built
    lazily like the IVF/PQ oracles (frozen state is per-SF)."""
    from .ann_state import ann_ivf_oracle_sql, ann_ivfpq_oracle_sql, ann_pq_oracle_sql
    from .operators.similarity import sq8_topk_oracle_sql

    tiers = {
        "ivf": ann_ivf_oracle_sql(),
        "ivfpq": ann_ivfpq_oracle_sql(),
        "lsh": ANN_LSH_TOPK_SQL,
        "pq": ann_pq_oracle_sql(),
        "sq8": sq8_topk_oracle_sql(k=5),
    }
    blocks = []
    for tier, sql in sorted(tiers.items()):
        blocks.append(
            f"""SELECT '{tier}' AS tier,
       (SELECT count(*) FROM exact_tk) AS n_exact,
       (SELECT count(*) FROM exact_tk e
        JOIN ({sql.strip()}) a
          ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id)
           AS n_hits"""
        )
    union = "\nUNION ALL\n".join(blocks)
    return f"""WITH exact_tk AS (
    SELECT query_id, neighbor_id FROM ({ANN_COSINE_TOPK_SQL.strip()})
)
SELECT tier, CAST(n_exact AS BIGINT) AS n_exact,
       CAST(n_hits AS BIGINT) AS n_hits,
       round(CAST(n_hits AS DOUBLE) / n_exact, 4) AS recall_at_5
FROM ({union})
ORDER BY tier
"""

# operators/stats.py:similar_symbols_topk — per-symbol top-k peers by
# 6-dp rounded correlation (the shared cross-engine contract), peer
# tiebreak; symmetrized from the same half-matrix CTE chain.
SIMILAR_SYMBOLS_SQL = with_ctes(
    EVENTS_TICKS,
    DAILY_BARS,
    CLEAN_BARS,
    DAILY_RETURNS,
    select="""
, half AS (
    SELECT a.symbol AS symbol_a, b.symbol AS symbol_b,
           round(corr(a.daily_return_pct, b.daily_return_pct), 6) AS return_corr
    FROM daily_returns a
    JOIN daily_returns b ON a.trade_date = b.trade_date AND a.symbol < b.symbol
    GROUP BY a.symbol, b.symbol
),
sym AS (
    SELECT symbol_a AS symbol, symbol_b AS peer, return_corr FROM half
    UNION ALL
    SELECT symbol_b AS symbol, symbol_a AS peer, return_corr FROM half
)
SELECT symbol, peer, return_corr, sim_rank FROM (
    SELECT symbol, peer, return_corr,
           CAST(row_number() OVER (PARTITION BY symbol
                                   ORDER BY return_corr DESC, peer ASC) AS BIGINT)
               AS sim_rank
    FROM sym
) WHERE sim_rank <= 3
ORDER BY symbol, sim_rank
""",
)

# operators/stats.py:pattern_match_topk — z-normalized subsequence
# matching; the SELECT is GENERATED from the same weight list and
# chain order as the Spark plan (no windowed sums — see docstring).
from .operators.stats import pattern_match_select_sql as _pattern_match_select_sql

PATTERN_MATCH_SQL = with_ctes(
    EVENTS_TICKS,
    DAILY_BARS,
    CLEAN_BARS,
    DAILY_RETURNS,
    select=_pattern_match_select_sql(),
)

# operators/stats.py:cohort_retention — weekly first-activity cohorts
# over the raw event stream (ts handled by the same nanos→micros
# conversion contract as every events consumer).
COHORT_RETENTION_SQL = """
WITH e AS (SELECT user_id, date_trunc('week', ts) AS wk FROM events),
firsts AS (SELECT user_id, min(wk) AS cohort_week FROM e GROUP BY user_id),
sizes AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
          FROM firsts GROUP BY cohort_week),
active AS (SELECT DISTINCT user_id, wk AS activity_week FROM e),
m AS (
    SELECT f.cohort_week,
           CAST(floor(date_diff('second', f.cohort_week, a.activity_week)
                      / (7 * 24 * 3600)) AS BIGINT) AS week_offset,
           a.user_id
    FROM active a JOIN firsts f USING (user_id)
)
SELECT m.cohort_week, m.week_offset, s.cohort_size,
       CAST(count(DISTINCT m.user_id) AS BIGINT) AS n_active,
       round(CAST(count(DISTINCT m.user_id) AS DOUBLE) / s.cohort_size, 6)
           AS retention_rate
FROM m JOIN sizes s USING (cohort_week)
GROUP BY m.cohort_week, m.week_offset, s.cohort_size
ORDER BY m.cohort_week, m.week_offset
"""

# operators/stats.py:funnel_conversion — strictly-ordered stage mins
# (view -> click -> purchase).
FUNNEL_CONVERSION_SQL = """
WITH s1 AS (
    SELECT user_id, min(ts) AS t FROM events
    WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
    SELECT e.user_id, min(e.ts) AS t
    FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
        AND e.ts <= s1.t + INTERVAL 3600 SECOND
    WHERE e.event_type = 'click' GROUP BY e.user_id
),
s3 AS (
    SELECT e.user_id, min(e.ts) AS t
    FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
        AND e.ts <= s2.t + INTERVAL 3600 SECOND
    WHERE e.event_type = 'purchase' GROUP BY e.user_id
),
counts AS (
    SELECT 1 AS stage_idx, 'view' AS stage,
           CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
    UNION ALL
    SELECT 2, 'click', CAST((SELECT count(*) FROM s2) AS BIGINT)
    UNION ALL
    SELECT 3, 'purchase', CAST((SELECT count(*) FROM s3) AS BIGINT)
)
SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage, n_users,
       round(CAST(n_users AS DOUBLE)
             / nullif(CAST(lag(n_users) OVER (ORDER BY stage_idx) AS DOUBLE),
                      0), 6) AS conversion_from_prev,
       round(CAST(n_users AS DOUBLE)
             / nullif(CAST(first_value(n_users) OVER (ORDER BY stage_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                 AS DOUBLE), 0), 6) AS conversion_from_first
FROM counts
ORDER BY stage_idx
"""

# operators/dedup.py:jaccard_prefix_filter_pairs — prefix filtering
# is LOSSLESS (ppjoin lemma), so its oracle is the UNCAPPED exact
# all-pairs join: same shingle CTE as DEDUP_NGRAM_JACCARD_SQL, no df-cap
# QUALIFY. The prefix machinery exists only on the engine side —
# the whole point is that it cannot change the answer.
DEDUP_PREFIX_FILTER_SQL = """
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents
),
sh AS (
    SELECT DISTINCT doc_id,
        unnest(list_transform(generate_series(1, len(w) - 2),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM toks
),
sz AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
p AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(CAST(i AS DOUBLE) / (x.c + y.c - i), 4) AS jaccard
FROM p JOIN sz x ON p.doc_a = x.doc_id JOIN sz y ON p.doc_b = y.doc_id
WHERE CAST(i AS DOUBLE) / (x.c + y.c - i) >= 0.5
"""

# operators/dims.py:shipping_priority_topk — Q3 shape: segment
# semi-join + two date pushdowns + order-grain DECIMAL revenue;
# rank on the UNROUNDED decimal with orderkey tiebreak.
SHIPPING_PRIORITY_TOPK_SQL = """
WITH g AS (
    SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
        sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
            * CAST(1 - l.l_discount AS DECIMAL(8,2))) AS rev
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
                   AND c.c_mktsegment = 'BUILDING'
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3
),
r AS (
    SELECT g.*, row_number() OVER (ORDER BY rev DESC, o_orderkey) AS rk
    FROM g
)
SELECT o_orderkey, CAST(round(rev, 2) AS DOUBLE) AS revenue,
       o_orderdate, o_orderpriority
FROM r WHERE rk <= 10 ORDER BY rev DESC, o_orderkey
"""

# operators/dims.py:returnflag_priority_counts — Q12 shape: one
# fact-join pass with CASE aggregation; integer counts only.
RETURNFLAG_PRIORITY_COUNTS_SQL = """
SELECT l.l_returnflag,
    CAST(count(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 END) AS BIGINT) AS high_priority_count,
    CAST(count(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
               THEN 1 END) AS BIGINT) AS low_priority_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY 1 ORDER BY 1
"""

# operators/dims.py:dominant_part_suppliers — Q20 shape: nested
# semi-joins with a pure-integer dominance test (2*sq > tq).
DOMINANT_PART_SUPPLIERS_SQL = """
WITH lf AS (
    SELECT l.l_partkey, l.l_suppkey, CAST(l.l_quantity AS BIGINT) AS qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
                                AND p.p_name LIKE 'blue%'
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
),
ps AS (
    SELECT l_partkey, l_suppkey, CAST(sum(qty) AS BIGINT) AS sq
    FROM lf GROUP BY 1, 2
),
pt AS (
    SELECT l_partkey, CAST(sum(sq) AS BIGINT) AS tq FROM ps GROUP BY 1
),
dom AS (
    SELECT ps.l_suppkey FROM ps JOIN pt USING (l_partkey)
    WHERE 2 * sq > tq
),
cnt AS (
    SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_dominant_parts
    FROM dom GROUP BY 1
)
SELECT s.s_suppkey, s.s_name, n.n_name AS nation_name,
       cnt.n_dominant_parts
FROM cnt
JOIN supplier s ON cnt.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
ORDER BY s.s_suppkey
"""
