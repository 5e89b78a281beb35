"""Market-wide daily summary — parity with
``dbt/models/marts/mart_daily_summary.sql``.

Aggregation inventory covered (SURVEY.md §2.4): A4 count-distinct,
A5 conditional counts (``countif``, 8 uses), A6 avg, A7 exact median,
A8 stddev, A9 max/min, A10 argmax/argmin (``max_by``/``min_by`` top
gainer/loser), A11 sum, A12 ratio-of-aggregates with nullif guard;
plus O1 global sort ``ORDER BY trade_date DESC``
(``mart_daily_summary.sql:22-77``).

Scale: one hash-aggregate shuffle keyed by trade_date. All measures
(including count_if / max_by / min_by) have map-side partial
aggregation; ``median`` is the one exception — exact percentiles
buffer per-group values. With date-grain keys the group count is tiny
(days), so the buffered state is bounded by rows-per-day; if a
percentile over a high-cardinality grain were ever needed at 100 TB,
swap in ``percentile_approx`` (sketch-mergeable) — kept exact here
because the oracle contract demands exactness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.core import null_if_zero_divide_sql, round_away_sql


def daily_summary(performance: DataFrame, date_col: str = "trade_date") -> DataFrame:
    ret = "daily_return_pct"
    # Composite ordering key for top_gainer/top_loser: two symbols
    # tying on the 4dp-rounded return would otherwise make the argmax
    # nondeterministic (struct compares ret first, then symbol). The
    # key is NULLed for null returns so both engines skip those rows
    # identically — a bare struct key would rank a null field smallest
    # in Spark but LARGEST in DuckDB's struct max (verified
    # empirically).
    key = f"CASE WHEN {ret} IS NOT NULL THEN struct({ret}, symbol) END"
    ad_ratio = null_if_zero_divide_sql(f"count_if({ret} > 0)", "count(DISTINCT symbol)")
    return (
        performance.groupBy(date_col)
        .agg(
            *map(
                F.expr,
                (
                    "count(DISTINCT symbol) AS symbols_tracked",
                    f"count_if({ret} > 0) AS advancers",
                    f"count_if({ret} < 0) AS decliners",
                    f"count_if({ret} = 0) AS unchanged",
                    f"{round_away_sql(f'{ad_ratio} * 100', 1)} AS advance_decline_ratio_pct",
                    f"{round_away_sql(f'avg({ret})', 4)} AS avg_return_pct",
                    f"{round_away_sql(f'median({ret})', 4)} AS median_return_pct",
                    f"{round_away_sql(f'stddev_samp({ret})', 4)} AS return_stddev",
                    f"max({ret}) AS best_return_pct",
                    f"min({ret}) AS worst_return_pct",
                    f"max_by(symbol, {key}) AS top_gainer_symbol",
                    f"min_by(symbol, {key}) AS top_loser_symbol",
                    "sum(volume) AS total_volume",
                    f"{round_away_sql('avg(volume_vs_avg_20d)', 4)} AS avg_volume_vs_norm",
                    "count_if(is_high_volume_day) AS high_volume_stocks",
                    f"{round_away_sql('avg(annualised_volatility_pct)', 2)}"
                    " AS avg_annualised_vol_pct",
                    f"{round_away_sql('avg(intraday_range_pct)', 4)} AS avg_intraday_range_pct",
                    "count_if(rsi_signal = 'OVERBOUGHT') AS overbought_count",
                    "count_if(rsi_signal = 'OVERSOLD') AS oversold_count",
                    "count_if(ma_signal_5_20 = 'GOLDEN_CROSS') AS golden_cross_5_20_count",
                    "count_if(ma_signal_5_20 = 'DEATH_CROSS') AS death_cross_5_20_count",
                ),
            )
        )
        .orderBy(F.desc(date_col))
    )
