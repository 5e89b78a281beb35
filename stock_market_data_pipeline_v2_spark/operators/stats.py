"""Set operations, ranking, and cross-sectional statistics —
completing the relational/statistical surface SURVEY §2 marks absent
in the reference (§2.8: no UNION/INTERSECT/EXCEPT, no
rank/dense_rank; §2.4: no covariance/correlation aggregates).

All Catalyst built-ins; correlation uses ``F.corr`` (Pearson) over a
date-aligned self-join of per-symbol return series — the standard
cross-sectional co-movement matrix. Outputs round at 6 dp: both
engines compute co-moments with one-pass updates whose ulp-level
differences sit far below that precision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.core import round_away


def symbols_active_in_both_halves(events: DataFrame, split_date: str = "2024-01-16") -> DataFrame:
    """INTERSECT: symbols seen both before and after the split date."""
    sym = F.upper(F.trim(F.col("event_type"))).alias("symbol")
    first_half = events.filter(F.col("ts") < F.lit(split_date).cast("timestamp")).select(sym)
    second_half = events.filter(F.col("ts") >= F.lit(split_date).cast("timestamp")).select(sym)
    return first_half.intersect(second_half).orderBy("symbol")


def users_only_before(events: DataFrame, split_date: str = "2024-01-16") -> DataFrame:
    """Set EXCEPT: users active in the first half and NEVER after.

    ``subtract`` (set difference), not ``exceptAll`` — bag difference
    would leak a user active in both halves whenever their first-half
    event count exceeds their second-half count.
    """
    first = events.filter(F.col("ts") < F.lit(split_date).cast("timestamp")).select("user_id")
    second = events.filter(F.col("ts") >= F.lit(split_date).cast("timestamp")).select("user_id")
    return first.distinct().subtract(second.distinct()).orderBy("user_id")


def top_volume_days(clean_bars: DataFrame, k: int = 3) -> DataFrame:
    """dense_rank top-k days per symbol by volume (general top-k —
    the k=1 case is the reference's max_by, SURVEY §2.8 O2)."""
    w = Window.partitionBy("symbol").orderBy(F.desc("volume"), F.asc("trade_date"))
    return (
        clean_bars.withColumn("volume_rank", F.dense_rank().over(w).cast("long"))
        .filter(F.col("volume_rank") <= k)
        .select("symbol", "trade_date", "volume", "volume_rank")
    )


def return_correlations(returns: DataFrame) -> DataFrame:
    """Pairwise Pearson correlation of daily returns across symbols
    (date-aligned self-join; symbol_a < symbol_b).

    Scale: the join key is trade_date, so co-partitioning is by date;
    with S symbols the pair count is S², but each date contributes
    S(S-1)/2 rows — for large S switch to the matrix form
    (assemble per-date return vectors, one reduce of outer products).
    """
    a = returns.select(
        F.col("trade_date"),
        F.col("symbol").alias("symbol_a"),
        F.col("daily_return_pct").alias("ret_a"),
    )
    b = returns.select(
        F.col("trade_date"),
        F.col("symbol").alias("symbol_b"),
        F.col("daily_return_pct").alias("ret_b"),
    )
    return (
        a.join(b, "trade_date")
        .filter(F.col("symbol_a") < F.col("symbol_b"))
        .groupBy("symbol_a", "symbol_b")
        .agg(
            # count only pairs corr/covar actually use (both non-null —
            # each symbol's first day has a NULL lag-based return)
            F.count_if(F.col("ret_a").isNotNull() & F.col("ret_b").isNotNull()).alias(
                "n_days"
            ),
            round_away(F.corr("ret_a", "ret_b"), 6).alias("return_corr"),
            round_away(F.covar_samp("ret_a", "ret_b"), 6).alias("return_cov"),
        )
        .orderBy("symbol_a", "symbol_b")
    )


def walk_forward_splits(
    clean_bars: DataFrame,
    origin: str = "2024-01-01",
    step_days: int = 5,
    horizon_days: int = 5,
    n_folds: int = 4,
) -> DataFrame:
    """Walk-forward cross-validation folds for time-series models —
    the temporal twin of the corpus-side leakage-safe split: a model
    evaluated on dates it trained past is leaking, so every fold's
    test window sits strictly AFTER its expanding train window.

    Fold i (1..n_folds): train = [origin, origin + i·step) and
    test = [train_end, train_end + horizon). Output one (fold,
    symbol, trade_date, role) row per bar per fold that covers it.

    Scale shape: the fold spine is ``n_folds`` literal rows —
    broadcast nested-loop against the bar scan (model-sized × fact,
    the cheap direction), then a scan-shaped CASE; no shuffle at all
    beyond the bar build itself. Fan-out is ≤ n_folds×, the price of
    materializing fold membership; at 100 TB emit fold IDs instead
    via the same CASE without the explode (this form is the
    audit/export shape).
    """
    spark = clean_bars.sparkSession
    folds = spark.range(1, n_folds + 1).select(F.col("id").alias("fold"))
    origin_d = F.lit(origin).cast("date")
    train_end = F.date_add(origin_d, (F.col("fold") * step_days).cast("int"))
    test_end = F.date_add(train_end, horizon_days)
    return (
        clean_bars.select("symbol", "trade_date")
        .crossJoin(F.broadcast(folds))
        .filter(F.col("trade_date") < test_end)
        .select(
            "fold",
            "symbol",
            "trade_date",
            F.when(F.col("trade_date") < train_end, F.lit("train"))
            .otherwise(F.lit("test"))
            .alias("role"),
        )
        .orderBy("fold", "symbol", "trade_date")
    )


def market_beta(returns: DataFrame) -> DataFrame:
    """CAPM beta/alpha per symbol against the equal-weight market
    return: beta = cov(r_s, r_m)/var(r_m), alpha = E[r_s] − β·E[r_m]
    — the factor-regression building block every risk mart needs, as
    two shuffles: one per-date aggregate builds the market return, a
    broadcast join puts it beside each symbol's return, one per-symbol
    aggregate produces the moments. The explicit both-non-null filter
    pins numerator and denominator to the SAME sample (each symbol's
    first day has a NULL lag-based return; letting covar silently skip
    pairs while var keeps the row would use mismatched samples).

    Exactness: same contract as :func:`return_correlations` —
    covar/var/corr are order-sensitive in the last ulps, so emitted
    moments round at 6 dp (PERF.md). Scale: the market frame is one
    row per date (broadcast); both aggregates partial-aggregate
    map-side; nothing corpus-sized joins anything corpus-sized.
    """
    market = returns.groupBy("trade_date").agg(
        F.avg("daily_return_pct").alias("mret")
    )
    joined = (
        returns.join(F.broadcast(market), "trade_date")
        .filter(
            F.col("daily_return_pct").isNotNull() & F.col("mret").isNotNull()
        )
    )
    beta = F.covar_samp("daily_return_pct", "mret") / F.var_samp("mret")
    return (
        joined.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            round_away(beta, 6).alias("beta"),
            round_away(
                F.avg("daily_return_pct") - beta * F.avg("mret"), 6
            ).alias("alpha"),
            round_away(F.corr("daily_return_pct", "mret"), 6).alias(
                "market_corr"
            ),
        )
        .orderBy("symbol")
    )


def event_value_quantiles(events: DataFrame) -> DataFrame:
    """EXACT per-type value quantiles via the ordered-set aggregate
    ``percentile_disc`` (WITHIN GROUP): each emitted quantile is an
    actual data element — the smallest value whose cumulative rank
    reaches p — so cross-engine parity is exact by construction, with
    no interpolation arithmetic to drift in the last ulp (both engines
    pick the SAME element; verified convention-identical vs DuckDB's
    quantile_disc).

    Scale note: exact rank quantiles buffer each group's values (the
    same cost class as daily_summary's exact median — fine for
    bounded-cardinality groups like event types). For corpus-sized
    groups at 100 TB use the approx_percentile sketch tier
    (sector_activity_sketch) — rows-only by design there, exact here.
    """
    qs = {
        "p25": 0.25,
        "p50": 0.50,
        "p75": 0.75,
        "p95": 0.95,
    }
    aggs = [
        F.expr(
            f"percentile_disc({p}) WITHIN GROUP (ORDER BY value)"
        ).alias(name)
        for name, p in qs.items()
    ]
    return (
        events.groupBy("event_type")
        .agg(
            F.count("value").cast("long").alias("n"),
            F.min("value").alias("v_min"),
            *aggs,
            F.max("value").alias("v_max"),
        )
        .orderBy("event_type")
    )


def rolling_beta(returns: DataFrame, n: int = 10) -> DataFrame:
    """ROLLING CAPM beta per symbol over a trailing ``n``-day frame —
    the time-varying twin of :func:`market_beta` (a static whole-
    period beta hides regime changes; risk marts track the rolling
    one). Formulated from ROLLING SUMS, not windowed covar/var:
    β = (n·Σxy − Σx·Σy) / (n·Σy² − (Σy)²) — windowed covariance
    aggregates use engine-specific update algebra, while windowed
    sums of identical summands round identically under the 6-dp
    output contract (PERF.md exactness stance).

    Emitted only for FULL frames (cnt == n): a partial-window beta is
    a different estimator and silently mixing them poisons downstream
    z-scores. The market return is the equal-weight per-date average
    (one broadcast-sized frame), same as market_beta.
    """
    market = returns.groupBy("trade_date").agg(
        F.avg("daily_return_pct").alias("mret")
    )
    j = returns.join(F.broadcast(market), "trade_date").filter(
        F.col("daily_return_pct").isNotNull() & F.col("mret").isNotNull()
    )
    w = (
        Window.partitionBy("symbol")
        .orderBy("trade_date")
        .rowsBetween(-(n - 1), 0)
    )
    x = F.col("daily_return_pct")
    y = F.col("mret")
    # window sums projected once, then combined (PERF.md lesson 10)
    cnt, sx, sy, sxy, syy = map(F.col, ("__cnt", "__sx", "__sy", "__sxy", "__syy"))
    beta_raw = (cnt * sxy - sx * sy) / F.nullif(
        cnt * syy - sy * sy, F.lit(0.0)
    )
    return (
        j.select(
            "symbol",
            "trade_date",
            F.count(F.lit(1)).over(w).alias("__cnt"),
            F.sum(x).over(w).alias("__sx"),
            F.sum(y).over(w).alias("__sy"),
            F.sum(x * y).over(w).alias("__sxy"),
            F.sum(y * y).over(w).alias("__syy"),
        )
        .filter(cnt == n)
        .select(
            "symbol",
            "trade_date",
            round_away(beta_raw, 6).alias(f"beta_{n}d"),
        )
        .orderBy("symbol", "trade_date")
    )


def cross_sectional_ranks(returns: DataFrame) -> DataFrame:
    """Per-DATE cross-sectional ranking of symbols by daily return and
    volume — relative strength, the other axis from the time-series
    marts (every rotation/momentum screen is "top decile of today's
    cross-section", not "high vs own history"). percent_rank and a
    dense integer rank per (date) partition; rows with a NULL return
    (each symbol's first day) are excluded — they have no standing in
    the cross-section.

    Scale shape: windows partition by trade_date — thousands of
    narrow per-date groups, never a global sort; at a date-partitioned
    layout the exchange disappears entirely.

    Exactness: ranks are integers off (value, symbol) orderings with
    explicit symbol tiebreaks; percent_rank is (rank−1)/(n−1) — a
    ratio of small exact integers, identical in any engine.
    """
    w_ret = Window.partitionBy("trade_date").orderBy(
        F.desc("daily_return_pct"), F.asc("symbol")
    )
    w_vol = Window.partitionBy("trade_date").orderBy(
        F.desc("volume"), F.asc("symbol")
    )
    return (
        returns.filter(F.col("daily_return_pct").isNotNull())
        .select(
            "trade_date",
            "symbol",
            "daily_return_pct",
            "volume",
            F.row_number().over(w_ret).cast("long").alias("return_rank"),
            F.percent_rank().over(w_ret).alias("return_pct_rank"),
            F.row_number().over(w_vol).cast("long").alias("volume_rank"),
        )
        .withColumn("return_pct_rank", round_away(F.col("return_pct_rank"), 6))
        .orderBy("trade_date", "return_rank")
    )


def sharpe_ratios(returns: DataFrame, periods_per_year: int = 252) -> DataFrame:
    """Per-symbol annualized return / volatility / Sharpe (rf = 0) —
    the one-line summary every strategy table leads with. One
    map-side-combined aggregate over the returns mart; annualization
    is the standard √periods scaling.

    Exactness: mean/stddev round 6 dp (order-sensitive in the last
    ulps, the market_beta contract); the ratio computes on the
    UNROUNDED moments and rounds once at output. Symbols with fewer
    than 2 return observations emit NULL vol/sharpe (stddev_samp
    undefined), not a crash.
    """
    mu = F.avg("daily_return_pct")
    sd = F.stddev_samp("daily_return_pct")
    ann_ret = mu * periods_per_year
    ann_vol = sd * F.sqrt(F.lit(float(periods_per_year)))
    return (
        returns.filter(F.col("daily_return_pct").isNotNull())
        .groupBy("symbol")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            round_away(ann_ret, 6).alias("ann_return_pct"),
            round_away(ann_vol, 6).alias("ann_volatility_pct"),
            round_away(ann_ret / F.nullif(ann_vol, F.lit(0.0)), 6).alias(
                "sharpe"
            ),
        )
        .orderBy("symbol")
    )


def similar_symbols_topk(returns: DataFrame, k: int = 3) -> DataFrame:
    """Per-symbol similarity search over return SERIES (round 5): each
    symbol's ``k`` most-correlated peers — the interactive
    "what moves with X" top-k that time-series similarity-search
    systems serve (date-aligned Pearson correlation as the distance;
    the EDBT'19/'20 streaming/interactive top-k similarity setting on
    the engine's own return mart).

    Composition of gated pieces: :func:`return_correlations` supplies
    the half-matrix (symbol_a < symbol_b); symmetrizing it is a
    union of projections (NO second correlation pass — the matrix is
    computed once), and the per-symbol rank window runs over S−1
    narrow rows per symbol. Ranking uses the 6-dp ROUNDED correlation
    with a peer-symbol tiebreak, so the top-k set is bit-stable
    cross-engine (unrounded corr differs in update-formula ulps
    between engines; the rounded value is the shared contract).
    """
    pairs = return_correlations(returns).select(
        "symbol_a", "symbol_b", "return_corr"
    )
    sym = pairs.select(
        F.col("symbol_a").alias("symbol"),
        F.col("symbol_b").alias("peer"),
        "return_corr",
    ).unionByName(
        pairs.select(
            F.col("symbol_b").alias("symbol"),
            F.col("symbol_a").alias("peer"),
            "return_corr",
        )
    )
    w = Window.partitionBy("symbol").orderBy(
        F.desc("return_corr"), F.asc("peer")
    )
    return (
        sym.withColumn("sim_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sim_rank") <= k)
        .select("symbol", "peer", "return_corr", "sim_rank")
        .orderBy("symbol", "sim_rank")
    )


def _pattern_weights(window: int) -> list[float]:
    """Population-z-normalized rising ramp: weight for LAG j (j=0 is
    today, largest weight) — the 'momentum breakout' query pattern.
    Irrational weights are fine: both engines get the IDENTICAL
    double literals from this one list (repr round-trips exactly)."""
    import math

    mean_j = (window - 1) / 2
    var = sum((j - mean_j) ** 2 for j in range(window)) / window
    sd = math.sqrt(var)
    return [((window - 1 - j) - mean_j) / sd for j in range(window)]


def pattern_match_topk(returns: DataFrame, k: int = 25, window: int = 20) -> DataFrame:
    """Z-NORMALIZED subsequence matching over return series (round
    5): the global top-``k`` (symbol, day) windows whose trailing
    ``window`` daily returns best match a fixed query pattern under
    population z-normalization — UCR-suite-style whole-matching
    (z-normalized Euclidean ⇔ Pearson correlation, the similarity
    contract of the time-series search literature), the "find charts
    that look like THIS" query.

    Exactness design: NO windowed sums — sliding aggregates are the
    one place engines legitimately differ in summation order (Spark
    iterates the frame, DuckDB uses segment trees), so μ, Σr² and
    the pattern cross-product are all EXPLICIT left-associative
    ``window``-term chains over ``lag(ret, j)`` — bit-identical
    operation order in both engines, from one weight list
    (:func:`_pattern_weights` + :func:`pattern_match_select_sql`).
    With Σq = 0 by construction, corr = (Σ qⱼ·r₋ⱼ) / (n·σ_pop).
    Top-k via orderBy+limit (TakeOrderedAndProject — no global
    sort), deterministic (symbol, date) tiebreak, rank over ≤ k
    survivors.
    """
    from ..functions.core import round_away, single_partition_key

    q = _pattern_weights(window)
    w = Window.partitionBy("symbol").orderBy("trade_date")
    # each lag projected once as __lag{j}: the chains below read every
    # lag three times (PERF.md lesson 10)
    lags = [F.col("daily_return_pct")] + [F.col(f"__lag{j}") for j in range(1, window)]

    def chain(terms):
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out

    sum_r = chain(lags)
    sum_r2 = chain([t * t for t in lags])
    cross = chain([F.lit(q[j]) * lags[j] for j in range(window)])
    mu = sum_r / window
    var_pop = sum_r2 / window - mu * mu
    sigma = F.sqrt(var_pop)
    corr_raw = cross / F.nullif(sigma * window, F.lit(0.0))
    rank_w = Window.partitionBy(single_partition_key("symbol")).orderBy(
        F.desc("corr_raw"), F.asc("symbol"), F.asc("trade_date")
    )
    return (
        returns.select(
            "symbol",
            "trade_date",
            "daily_return_pct",
            *(
                F.lag("daily_return_pct", j).over(w).alias(f"__lag{j}")
                for j in range(1, window)
            ),
        )
        .select("symbol", "trade_date", corr_raw.alias("corr_raw"))
        .filter(F.col("corr_raw").isNotNull())
        .orderBy(F.desc("corr_raw"), F.asc("symbol"), F.asc("trade_date"))
        .limit(k)
        .withColumn("match_rank", F.row_number().over(rank_w).cast("long"))
        .select(
            "symbol",
            "trade_date",
            round_away(F.col("corr_raw"), 6).alias("pattern_corr"),
            "match_rank",
        )
    )


def pattern_match_select_sql(k: int = 25, window: int = 20) -> str:
    """The DuckDB SELECT fragment, generated from the SAME weight
    list and the SAME chain order (oracles.py wraps it with the
    daily_returns CTE chain)."""
    q = _pattern_weights(window)

    def lag(j):
        return (
            "daily_return_pct"
            if j == 0
            else f"lag(daily_return_pct, {j}) OVER "
            "(PARTITION BY symbol ORDER BY trade_date)"
        )

    sum_r = " + ".join(f"({lag(j)})" for j in range(window))
    sum_r2 = " + ".join(f"({lag(j)}) * ({lag(j)})" for j in range(window))
    cross = " + ".join(f"{q[j]!r} * ({lag(j)})" for j in range(window))
    return f"""
, scored AS (
    SELECT symbol, trade_date,
           ({cross})
           / nullif(sqrt((({sum_r2}) / {window})
                         - (({sum_r}) / {window}) * (({sum_r}) / {window}))
                    * {window}, 0.0) AS corr_raw
    FROM daily_returns
)
SELECT symbol, trade_date, round(corr_raw, 6) AS pattern_corr,
       CAST(row_number() OVER (ORDER BY corr_raw DESC, symbol, trade_date)
            AS BIGINT) AS match_rank
FROM scored WHERE corr_raw IS NOT NULL
ORDER BY corr_raw DESC, symbol, trade_date
LIMIT {k}
"""


def cohort_retention(events: DataFrame) -> DataFrame:
    """Weekly COHORT RETENTION over the event stream — the classic
    product-analytics mart: users grouped by first-activity week,
    tracked by how many are active 0, 1, 2… weeks later.
    Output: (cohort_week, week_offset, cohort_size, n_active,
    retention_rate) for every observed offset.

    Plan shape: one aggregate to per-user first-activity weeks (the
    cohort dim), one distinct on (user, activity week) — map-side
    collapsible since the input is already user-keyed rows — and one
    narrow groupBy on (cohort, offset). The per-user ``firsts`` frame
    grows with the data, so it joins WITHOUT a broadcast hint — AQE
    still picks a broadcast at small scale, while at 100× the join
    degrades gracefully to a shuffle on user_id instead of OOMing the
    driver. Only ``cohort_sizes`` (one row per calendar week — truly
    bounded) keeps an explicit broadcast. Counts are exact integers;
    the rate is one guarded divide rounded 6 dp.
    """
    from ..functions.core import round_away

    week = F.date_trunc("week", F.col("ts"))
    firsts = (
        events.groupBy("user_id")
        .agg(F.min(week).alias("cohort_week"))
    )
    cohort_sizes = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    active = events.select("user_id", week.alias("activity_week")).distinct()
    offset = F.floor(
        (F.col("activity_week").cast("long") - F.col("cohort_week").cast("long"))
        / F.lit(7 * 24 * 3600)
    ).cast("long")
    return (
        active.join(firsts, "user_id")
        .groupBy("cohort_week", offset.alias("week_offset"))
        .agg(F.count_distinct("user_id").alias("n_active"))
        .join(F.broadcast(cohort_sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "cohort_size",
            "n_active",
            round_away(
                F.col("n_active").cast("double")
                / F.col("cohort_size").cast("double"),
                6,
            ).alias("retention_rate"),
        )
        .orderBy("cohort_week", "week_offset")
    )


def funnel_conversion(
    events: DataFrame,
    stages: tuple[str, ...] = ("view", "click", "purchase"),
    max_lag_seconds: int = 3600,
) -> DataFrame:
    """ORDERED funnel conversion — for each user, stage k counts only
    if it happens strictly AFTER that user's stage k−1 AND within
    ``max_lag_seconds`` of it (the event-sequence-within-window
    contract product funnels mean, not mere set-membership). Output
    one row per stage: (stage_idx, stage, n_users,
    conversion_from_prev, conversion_from_first).

    Plan shape: stage 1 is one filtered aggregate to a per-user
    timestamp table; each later stage is one filtered aggregate
    JOINED against the previous stage's per-user table with the
    strictly-after predicate inside the min — k−1 equi-joins keyed on
    user_id, the events fact scanned once per stage with the stage
    filter pushed down. The per-user stage tables grow with the data
    (stage 1 is every user who ever did "view"), so no broadcast hint
    is forced: AQE broadcasts when the table fits and shuffles on
    user_id when it doesn't. Counts exact; ratios guarded and rounded
    6 dp.
    """
    from ..functions.core import round_away

    prev = None
    counts: list[tuple[int, str, DataFrame]] = []
    for idx, stage in enumerate(stages):
        ev = events.filter(F.col("event_type") == stage)
        if prev is None:
            cur = ev.groupBy("user_id").agg(F.min("ts").alias("stage_ts"))
        else:
            cur = (
                ev.join(
                    prev.select("user_id", F.col("stage_ts").alias("__prev_ts")),
                    "user_id",
                )
                .filter(
                    (F.col("ts") > F.col("__prev_ts"))
                    & (
                        F.col("ts")
                        <= F.col("__prev_ts")
                        + F.expr(f"INTERVAL {int(max_lag_seconds)} SECONDS")
                    )
                )
                .groupBy("user_id")
                .agg(F.min("ts").alias("stage_ts"))
            )
        counts.append((idx, stage, cur))
        prev = cur
    rows = None
    for idx, stage, cur in counts:
        r = cur.agg(F.count(F.lit(1)).cast("long").alias("n_users")).select(
            F.lit(idx + 1).cast("long").alias("stage_idx"),
            F.lit(stage).alias("stage"),
            "n_users",
        )
        rows = r if rows is None else rows.unionByName(r)
    w = Window.partitionBy(F.pmod(F.hash("stage_idx"), F.lit(1))).orderBy(
        "stage_idx"
    )
    first_n = F.first("n_users").over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )

    def ratio_to(base: str):
        return round_away(
            F.col("n_users").cast("double")
            / F.nullif(F.col(base).cast("double"), F.lit(0.0)),
            6,
        )

    return (
        rows.select(
            "*",
            F.lag("n_users").over(w).alias("__prev_n"),
            first_n.alias("__first_n"),
        )
        .withColumns(
            {
                "conversion_from_prev": ratio_to("__prev_n"),
                "conversion_from_first": ratio_to("__first_n"),
            }
        )
        .drop("__prev_n", "__first_n")
        .orderBy("stage_idx")
    )


def order_value_distribution(
    orders: DataFrame, customer: DataFrame, n_tiles: int = 10
) -> DataFrame:
    """Per-market-segment order-value DECILE profile — the ranking-
    window breadth mart (ntile / percent_rank / cume_dist, the three
    distribution windows nothing else in the registry exercises).
    Rows are ranked within segment by (o_totalprice, o_orderkey) —
    the unique tiebreak makes every rank function deterministic —
    and aggregated per decile: counts, price range, DECIMAL-summed
    revenue (the money-sum lesson: pennies must not flip at half-cent
    boundaries), and the decile's boundary cume_dist / percent_rank.

    100 TB design: the customer→segment map is a PER-CUSTOMER frame
    — it grows with the data, so it carries NO forced broadcast hint
    (the r5 lesson from cohort_retention/funnel_conversion: size-based
    planning/AQE broadcasts it while it fits, and degrades to a
    shuffle join instead of an executor OOM when it doesn't). After
    the join: one window shuffle on segment (the same partitioning
    the decile aggregate then reuses), nothing else. A skewed segment
    sorts in parallel within its partition's range — at true scale
    swap the window for the two-level rank (quality_decile_bins
    pattern); at dim-bounded segment counts the plain window is the
    simpler correct plan.
    """
    seg = customer.select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    w = Window.partitionBy("segment").orderBy("o_totalprice", "o_orderkey")
    ranked = (
        orders.join(seg, "o_custkey")
        .select(
            "segment",
            "o_totalprice",
            "o_orderkey",
            F.ntile(n_tiles).over(w).cast("long").alias("decile"),
            F.percent_rank().over(w).alias("__pr"),
            F.cume_dist().over(w).alias("__cd"),
        )
    )
    return (
        ranked.groupBy("segment", "decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            round_away(F.min("o_totalprice"), 2).alias("min_price"),
            round_away(F.max("o_totalprice"), 2).alias("max_price"),
            round_away(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("sum_price"),
            round_away(F.max("__pr"), 6).alias("max_pct_rank"),
            round_away(F.max("__cd"), 6).alias("cum_frac"),
        )
        .orderBy("segment", "decile")
    )


ORDER_VALUE_DISTRIBUTION_SQL = """
WITH ranked AS (
    SELECT c.c_mktsegment AS segment, o.o_totalprice, o.o_orderkey,
        CAST(ntile(10) OVER win AS BIGINT) AS decile,
        percent_rank() OVER win AS pr,
        cume_dist() OVER win AS cd
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WINDOW win AS (PARTITION BY c.c_mktsegment
                   ORDER BY o.o_totalprice, o.o_orderkey)
)
SELECT segment, decile,
    CAST(count(*) AS BIGINT) AS n_orders,
    round(min(o_totalprice), 2) AS min_price,
    round(max(o_totalprice), 2) AS max_price,
    round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        AS sum_price,
    round(max(pr), 6) AS max_pct_rank,
    round(max(cd), 6) AS cum_frac
FROM ranked
GROUP BY segment, decile
ORDER BY segment, decile
"""


def event_transitions(events: DataFrame) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the behavioral-analytics mart beside the cohort /
    funnel pair: for every (prev → next) event-type pair, the
    transition count and its row-normalized probability. Sequences
    are per-user by (ts, event_id) — the unique tiebreak keeps the
    lag deterministic when two events share a timestamp.

    100 TB design: ONE shuffle (the per-user lag window; users hash
    evenly), then everything is event-type² grain — the transition
    matrix is model-sized no matter the fact-table scale, and the
    probability normalization joins matrix-sized frames. The exact
    same window partitioning serves funnel/session ops, so a shared
    pre-sort on user_id amortizes across the mart family.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
    )
    counts = pairs.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
    totals = counts.groupBy("prev_type").agg(
        F.sum("n_transitions").cast("long").alias("__total")
    )
    return (
        counts.join(totals, "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n_transitions",
            round_away(
                F.col("n_transitions").cast("double")
                / F.col("__total").cast("double"),
                6,
            ).alias("p_transition"),
        )
        .orderBy("prev_type", "next_type")
    )


EVENT_TRANSITIONS_SQL = """
WITH seq AS (
    SELECT event_type AS next_type,
        lag(event_type) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS prev_type
    FROM events
),
counts AS (
    SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n_transitions
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
),
totals AS (
    SELECT prev_type, CAST(sum(n_transitions) AS BIGINT) AS total
    FROM counts GROUP BY prev_type
)
SELECT c.prev_type, c.next_type, c.n_transitions,
    round(CAST(c.n_transitions AS DOUBLE) / CAST(t.total AS DOUBLE), 6)
        AS p_transition
FROM counts c JOIN totals t USING (prev_type)
ORDER BY c.prev_type, c.next_type
"""


# Shared skew/kurtosis formula text (single source: the Spark side
# runs these through F.expr, the DuckDB oracle embeds them verbatim,
# so the float operation ORDER is identical by construction). Inputs
# s1..s4/n are exact integers (micro-return power sums) cast to
# double; everything after is a fixed, small chain of IEEE ops —
# sqrt included (IEEE-exact) — so cross-engine equality is structural.
_MOMENT_EXPRS = {
    "mean_k": "s1 / n",
    "m2": "s2 / n - (s1 / n) * (s1 / n)",
    "m3": (
        "s3 / n - 3.0 * (s1 / n) * (s2 / n)"
        " + 2.0 * (s1 / n) * (s1 / n) * (s1 / n)"
    ),
    "m4": (
        "s4 / n - 4.0 * (s1 / n) * (s3 / n)"
        " + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)"
        " - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n)"
    ),
}


def moment_stats(returns: DataFrame, quant: int = 4) -> DataFrame:
    """Per-symbol return-distribution MOMENTS — skewness and excess
    kurtosis, the tail-risk mart beside mean/stddev. Cross-engine
    exactness is the hard part (one-pass co-moment aggregates differ
    by algorithm AND by summation order): returns quantize to exact
    integer micro-units (``round_away`` at ``quant`` dp × 10^quant —
    the temperature_mix integer-algebra move applied to higher
    moments), power sums Σk..Σk⁴ accumulate in DECIMAL(38,0) (exact,
    order-free; k⁴ ≤ 1.6e21 needs int128-class arithmetic — BIGINT
    would overflow), and the final skew/kurt formulas are a FIXED
    shared expression string both engines evaluate in the identical
    order (see ``_MOMENT_EXPRS``). Skew/kurt are scale-invariant, so
    the micro-unit factor cancels; mean/stddev divide it back out.

    100 TB design: one map-side-combinable aggregate per symbol —
    moment sketches are the canonical mergeable state (sum the power
    sums to merge shards/days).
    """
    scale = 10**quant
    # quantize with explicit floor(x·scale + 0.5) algebra — NOT
    # round-then-cast: Spark's double→long cast TRUNCATES while
    # DuckDB's CAST rounds, so the only safe integerization is one
    # whose result is already integral before the cast. (floor is
    # exact; the ±branch is round-half-away.)
    r = F.col("daily_return_pct")
    scaled = r * F.lit(float(scale))
    k = (
        F.when(r >= 0, F.floor(scaled + F.lit(0.5)))
        .otherwise(-F.floor(-scaled + F.lit(0.5)))
        .cast("decimal(38,0)")
    )
    base = returns.filter(F.col("daily_return_pct").isNotNull()).select(
        "symbol", k.alias("__k")
    )
    sums = base.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("__k").cast("double").alias("s1"),
        F.sum(F.col("__k") * F.col("__k")).cast("double").alias("s2"),
        F.sum(F.col("__k") * F.col("__k") * F.col("__k"))
        .cast("double")
        .alias("s3"),
        F.sum(F.col("__k") * F.col("__k") * F.col("__k") * F.col("__k"))
        .cast("double")
        .alias("s4"),
    )
    e = _MOMENT_EXPRS
    return (
        sums.select(
            "symbol",
            F.col("n").cast("long").alias("n_days"),
            F.expr(e["mean_k"]).alias("__mk"),
            F.expr(e["m2"]).alias("__m2"),
            F.expr(e["m3"]).alias("__m3"),
            F.expr(e["m4"]).alias("__m4"),
        )
        .select(
            "symbol",
            "n_days",
            round_away(F.col("__mk") / F.lit(float(scale)), 6).alias(
                "mean_return"
            ),
            round_away(
                F.sqrt(F.col("__m2")) / F.lit(float(scale)), 6
            ).alias("stddev_return"),
            F.when(
                (F.col("n_days") >= 2) & (F.col("__m2") > 0),
                round_away(
                    F.col("__m3")
                    / (F.col("__m2") * F.sqrt(F.col("__m2"))),
                    6,
                ),
            ).alias("skewness"),
            F.when(
                (F.col("n_days") >= 2) & (F.col("__m2") > 0),
                round_away(
                    F.col("__m4") / (F.col("__m2") * F.col("__m2"))
                    - F.lit(3.0),
                    6,
                ),
            ).alias("excess_kurtosis"),
        )
        .orderBy("symbol")
    )


def moment_stats_oracle_sql(returns_cte: str, quant: int = 4) -> str:
    """DuckDB twin of :func:`moment_stats`: HUGEINT power sums (the
    int128 twin of Spark's DECIMAL(38,0)), then the SAME formula
    strings from ``_MOMENT_EXPRS`` verbatim."""
    scale = 10**quant
    e = _MOMENT_EXPRS
    return f"""
WITH returns AS ({returns_cte}),
q AS (
    SELECT symbol,
        CASE WHEN daily_return_pct >= 0
             THEN CAST(floor(daily_return_pct * {float(scale)!r} + 0.5)
                  AS HUGEINT)
             ELSE -CAST(floor(-daily_return_pct * {float(scale)!r} + 0.5)
                  AS HUGEINT)
        END AS k
    FROM returns WHERE daily_return_pct IS NOT NULL
),
sums AS (
    SELECT symbol,
        CAST(count(*) AS DOUBLE) AS n,
        CAST(sum(k) AS DOUBLE) AS s1,
        CAST(sum(k * k) AS DOUBLE) AS s2,
        CAST(sum(k * k * k) AS DOUBLE) AS s3,
        CAST(sum(k * k * k * k) AS DOUBLE) AS s4
    FROM q GROUP BY symbol
),
m AS (
    SELECT symbol, CAST(n AS BIGINT) AS n_days,
        {e['mean_k']} AS mk,
        {e['m2']} AS m2,
        {e['m3']} AS m3,
        {e['m4']} AS m4
    FROM sums
)
SELECT symbol, n_days,
    round(mk / {float(scale)!r}, 6) AS mean_return,
    round(sqrt(m2) / {float(scale)!r}, 6) AS stddev_return,
    CASE WHEN n_days >= 2 AND m2 > 0
         THEN round(m3 / (m2 * sqrt(m2)), 6) END AS skewness,
    CASE WHEN n_days >= 2 AND m2 > 0
         THEN round(m4 / (m2 * m2) - 3.0, 6) END AS excess_kurtosis
FROM m
ORDER BY symbol
"""


def return_outliers(returns: DataFrame, k: float = 5.0) -> DataFrame:
    """Robust per-symbol outlier days via MEDIAN ABSOLUTE DEVIATION —
    the anomaly mart z-scores get wrong on fat-tailed returns (mean
    and stddev are themselves dragged by the outliers they're meant
    to find; median/MAD have a 50% breakdown point). Two exact
    ``percentile_disc`` passes (the convention already verified
    cross-engine in event_value_quantiles): per-symbol median return,
    then the median of |r − med|; a day is flagged when
    |r − med| > k·MAD. Every comparison runs on unrounded doubles
    built from exact data elements by the same IEEE ops in both
    engines.

    100 TB design: two grouped ordered-set aggregates over the same
    symbol partitioning + one broadcast-sized join back (the stats
    frame is symbol-grain). Exact rank medians buffer per-group
    values — fine at symbol-bounded cardinality; corpus-scale groups
    would swap in the histogram sketch tier.
    """
    r = F.col("daily_return_pct")
    base = returns.filter(r.isNotNull()).select(
        "symbol", "trade_date", "daily_return_pct"
    )
    med = base.groupBy("symbol").agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY daily_return_pct)"
        ).alias("__med")
    )
    dev = base.join(F.broadcast(med), "symbol").withColumn(
        "__adev", F.abs(r - F.col("__med"))
    )
    mad = dev.groupBy("symbol").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY __adev)").alias(
            "__mad"
        )
    )
    return (
        dev.join(F.broadcast(mad), "symbol")
        .filter(F.col("__adev") > F.lit(k) * F.col("__mad"))
        .select(
            "symbol",
            "trade_date",
            round_away(r, 4).alias("daily_return_pct"),
            round_away(F.col("__med"), 6).alias("median_return"),
            round_away(F.col("__mad"), 6).alias("mad"),
            # try_divide: a symbol where >=50% of days share one return
            # has MAD=0 yet deviating days survive the filter; ANSI
            # double/0.0 would abort while DuckDB emits NULL — a NULL
            # ratio mirrors the oracle on such data.
            round_away(
                F.try_divide(F.col("__adev"), F.col("__mad")), 6
            ).alias("mad_ratio"),
        )
        .orderBy("symbol", "trade_date")
    )


def return_outliers_oracle_sql(returns_cte: str, k: float = 5.0) -> str:
    """DuckDB twin of :func:`return_outliers` (same two quantile_disc
    passes, same unrounded comparison). MAD=0 divide: DuckDB double
    ``/0.0`` is NULL natively, matching Spark's ``try_divide``."""
    return f"""
WITH returns AS ({returns_cte}),
base AS (
    SELECT symbol, trade_date, daily_return_pct
    FROM returns WHERE daily_return_pct IS NOT NULL
),
med AS (
    SELECT symbol, quantile_disc(daily_return_pct, 0.5) AS med
    FROM base GROUP BY symbol
),
dev AS (
    SELECT b.*, m.med, abs(b.daily_return_pct - m.med) AS adev
    FROM base b JOIN med m USING (symbol)
),
mad AS (
    SELECT symbol, quantile_disc(adev, 0.5) AS mad
    FROM dev GROUP BY symbol
)
SELECT d.symbol, d.trade_date,
    round(d.daily_return_pct, 4) AS daily_return_pct,
    round(d.med, 6) AS median_return,
    round(md.mad, 6) AS mad,
    round(d.adev / md.mad, 6) AS mad_ratio
FROM dev d JOIN mad md USING (symbol)
WHERE d.adev > {k!r} * md.mad
ORDER BY d.symbol, d.trade_date
"""


def weighted_median(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    q_num: int = 1,
    q_den: int = 2,
) -> DataFrame:
    """Exact weighted quantile per group — the ordered statistic the
    exact-median machinery (A7) lacks a WEIGHTED form of: the smallest
    value v whose cumulative weight reaches q of the group total.

    Exactness: weights fold per VALUE first (``groupBy(value)`` sum —
    integer weights stay integer), the cumulative runs over the value
    order (no row-level tiebreak needed: ties in value merge before
    the cumulative, so the picked value is a pure function of the
    data), and the quantile test is cross-multiplied into pure
    integers — ``q_den·cum ≥ q_num·total`` — so NO float division or
    rounding exists anywhere in the decision path. Both engines run
    identical BIGINT comparisons.

    100 TB design: one map-side-combinable (group, value) fold, one
    value-ordered window per group, one argmin — the same shape as
    percentile_disc but with the weight column folded in; no
    per-group buffering beyond the distinct-value stream.
    """
    g = list(group_cols)
    per_value = df.groupBy(*g, value_col).agg(
        F.sum(F.col(weight_col)).cast("long").alias("__w")
    )
    w_cum = (
        Window.partitionBy(*g)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy(*g)
    cum = per_value.select(
        *g,
        F.col(value_col),
        F.sum("__w").over(w_cum).alias("__cum"),
        F.sum("__w").over(w_tot).alias("__tot"),
    )
    hit = cum.filter(
        F.col("__cum") * F.lit(int(q_den)) >= F.col("__tot") * F.lit(int(q_num))
    )
    pick = hit.groupBy(*g).agg(
        F.min(F.col(value_col)).alias("weighted_quantile"),
        F.max("__tot").alias("total_weight"),
    )
    return pick.select(
        *g, "total_weight", "weighted_quantile"
    ).orderBy(*g)


def weighted_median_oracle_sql(
    table: str,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    q_num: int = 1,
    q_den: int = 2,
) -> str:
    """DuckDB twin of :func:`weighted_median`, generated from the
    same (q_num, q_den) literals — identical integer decision path."""
    g = ", ".join(group_cols)
    return f"""
WITH pv AS (
    SELECT {g}, {value_col} AS v,
        CAST(sum({weight_col}) AS BIGINT) AS w
    FROM {table} GROUP BY {g}, {value_col}
),
c AS (
    SELECT {g}, v,
        sum(w) OVER (PARTITION BY {g} ORDER BY v) AS cum,
        sum(w) OVER (PARTITION BY {g}) AS tot
    FROM pv
)
SELECT {g}, CAST(max(tot) AS BIGINT) AS total_weight,
    min(v) AS weighted_quantile
FROM c
WHERE cum * {int(q_den)} >= tot * {int(q_num)}
GROUP BY {g}
ORDER BY {g}
"""


def event_metrics_long(events: DataFrame) -> DataFrame:
    """Wide→long melt via Spark's NATIVE ``unpivot`` (the relational
    operator SURVEY §2.8's set/rank family still lacked): per
    event_type metrics unpivoted to (event_type, metric, value) rows
    — the shape metric stores and plotting layers ingest.

    Exactness: counts are exact BIGINTs rendered as doubles (all far
    below 2^53); the value sum follows the house money rule (sum in
    DECIMAL(18,6), round, cast double LAST — PERF.md lesson 2b);
    ``max`` is an exact order statistic. ``unpivot`` itself is a
    zero-shuffle Expand over the |event_type|-row aggregate.

    100 TB shape: ONE scan to a map-side-combinable per-type
    aggregate (the single count-distinct compiles to the two-phase
    rewrite, no Expand over the fact), then a constant-width unpivot
    on the group-grain frame.
    """
    agg = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n_events"),
        F.count_distinct(F.col("user_id")).cast("double").alias("n_users"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 6)
        .cast("double")
        .alias("total_value"),
        F.max("value").alias("max_value"),
    )
    return agg.unpivot(
        ids=["event_type"],
        values=["n_events", "n_users", "total_value", "max_value"],
        variableColumnName="metric",
        valueColumnName="value",
    ).orderBy("event_type", "metric")


EVENT_METRICS_LONG_SQL = """
WITH a AS (
    SELECT event_type,
        CAST(count(*) AS DOUBLE) AS n_events,
        CAST(count(DISTINCT user_id) AS DOUBLE) AS n_users,
        CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE)
            AS total_value,
        max(value) AS max_value
    FROM events GROUP BY 1
)
SELECT event_type, 'n_events' AS metric, n_events AS value FROM a
UNION ALL
SELECT event_type, 'n_users', n_users FROM a
UNION ALL
SELECT event_type, 'total_value', total_value FROM a
UNION ALL
SELECT event_type, 'max_value', max_value FROM a
ORDER BY event_type, metric
"""


def tick_gap_report(
    events: DataFrame, gap_threshold_us: int = 60_000_000
) -> DataFrame:
    """Time-series continuity audit — the data-readiness report a
    feed operator reads before trusting a day's stream: per series
    (event_type), the tick count, the number of inter-tick gaps over
    the threshold, and the max/mean gap.

    Exactness: timestamps become exact BIGINT microseconds
    (``unix_micros`` ↔ DuckDB ``epoch_us`` — both sides already share
    the ns→µs truncation, `sources/io.py:load_table`); ordering ties
    break on event_id; gap sums are BIGINT (they telescope to
    last−first per series, so tie order cannot move them); the mean
    is ONE division rounded 6 dp.

    100 TB shape: one scan, per-series lag window (series count is
    the partition axis), map-side-combinable aggregate.
    """
    w = Window.partitionBy("event_type").orderBy("__us", "event_id")
    g = events.select(
        "event_type",
        "event_id",
        # ts scans as TIMESTAMP_NTZ; the cast to (LTZ) TIMESTAMP is
        # deterministic because configure_runtime pins session TZ=UTC,
        # matching DuckDB's epoch_us on the naive value.
        F.unix_micros(F.col("ts").cast("timestamp")).alias("__us"),
    ).withColumn("__gap", F.col("__us") - F.lag("__us").over(w))
    return (
        g.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ticks"),
            F.count_if(F.col("__gap") > int(gap_threshold_us))
            .cast("long")
            .alias("n_gaps_over_1m"),
            F.max("__gap").cast("long").alias("max_gap_us"),
            round_away(
                F.sum("__gap").cast("double") / F.count("__gap"), 6
            ).alias("mean_gap_us"),
        )
        .orderBy("event_type")
    )


TICK_GAP_REPORT_SQL = """
WITH us AS (
    SELECT event_type, event_id, epoch_us(ts) AS u FROM events
),
g AS (
    SELECT event_type,
        u - lag(u) OVER (
            PARTITION BY event_type ORDER BY u, event_id
        ) AS gap
    FROM us
)
SELECT event_type,
    CAST(count(*) AS BIGINT) AS n_ticks,
    CAST(count_if(gap > 60000000) AS BIGINT) AS n_gaps_over_1m,
    CAST(max(gap) AS BIGINT) AS max_gap_us,
    round(CAST(sum(gap) AS DOUBLE) / count(gap), 6) AS mean_gap_us
FROM g GROUP BY 1 ORDER BY 1
"""
