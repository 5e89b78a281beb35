"""Dimension enrichment + star-schema analytics (SURVEY.md §2.1 S14,
§2.3 J2) on the driver's TPC-H-ish tables.

The reference ships a ticker dimension it never joins
(``dbt/seeds/sp500_tickers.csv``); the implied capability — enrich a
fact stream with a small dimension and aggregate — is exercised here
as customer → nation → region broadcast joins plus grouped analytics,
and two classic star-schema queries over lineitem/orders.

Scale: dimensions are broadcast (`F.broadcast`) so the fact side
never shuffles for the join; only the final groupBy shuffles, keyed
on the (tiny) group domain with map-side partial aggregation. Money
sums are rounded at 2 dp — the ulp of a 1e8-scale double is ~1e-8,
so rounding is stable across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.core import round_away, single_partition_key
from .joins import broadcast_dim_join


def load_ticker_dim(spark, path: str = "data/tickers_seed.csv") -> DataFrame:
    """S14: the symbol dimension seed (reference ships
    ``dbt/seeds/sp500_tickers.csv`` but never joins it — SURVEY §1.1).
    Ours keys on the engine's symbol universe so enrichment is usable."""
    from ..schemas import TICKER_DIM
    from ..sources.io import read_csv

    return read_csv(spark, path, TICKER_DIM)


def enrich_with_tickers(facts: DataFrame, tickers: DataFrame) -> DataFrame:
    """The dormant capability the reference implies: symbol→sector
    enrichment via broadcast (left join keeps unknown symbols)."""
    return broadcast_dim_join(facts, tickers, keys=["symbol"], how="left")


def sector_activity_sketch(events: DataFrame, tickers: DataFrame) -> DataFrame:
    """Sketch-based rollup: distinct users and p95 value per sector.

    Round-7 re-base (VERDICT r6 #3): the r1–r6 form rode Spark-native
    ``approx_count_distinct`` + ``percentile_approx`` — engine-internal
    register updates, so the query could only ever be rows-only
    checked. The repo has since grown its own cross-engine sketches
    (``operators/sketches.py``: HLL whose register state and estimate
    are bit-reproducible in DuckDB, and the fixed-bin histogram
    quantile), so the sector rollup now composes THOSE and joins the
    hash-gated oracle set: both the approximate answers and their
    signed errors vs the exact values are oracle-checked columns.

    100 TB design unchanged in spirit: the user sketch reduces the
    fact scan to sectors × 2^p register rows (map-side combinable),
    the quantile sketch to sectors × nbins bin counts; the exact
    twins ride along as the accuracy reference exactly as in
    ``hll_distinct`` (a production rollup drops them and with them
    the only unbounded-state aggregates).
    """
    from .sketches import hll_distinct, histogram_quantile_sketch

    facts = events.select(
        F.upper(F.trim("event_type")).alias("symbol"), "user_id", "value"
    )
    enriched = enrich_with_tickers(facts, tickers).select(
        F.coalesce(F.col("sector"), F.lit("UNKNOWN")).alias("sector"),
        "user_id",
        "value",
    ).cache()  # feeds 6 plan branches (sketch states + exact refs +
    # count) — uncached it rescans events once per branch (the r6 SNM
    # lesson); released via the _cached_inputs contract
    h = hll_distinct(enriched, ["sector"], "user_id", p=5)
    q = histogram_quantile_sketch(
        enriched, ["sector"], "value", nbins=64, qs=(("p95", 0.95),)
    )
    ev = enriched.groupBy("sector").agg(
        F.count(F.lit(1)).cast("long").alias("events")
    )
    out = (
        h.join(q, "sector")
        .join(ev, "sector")
        .select(
            "sector",
            "events",
            "n_registers",
            F.col("hll_estimate").alias("approx_users"),
            F.col("exact_distinct").alias("exact_users"),
            F.col("rel_error").alias("users_rel_error"),
            "n_values",
            "bin_width",
            "approx_p95",
            "exact_p95",
            "err_p95",
        )
        .orderBy("sector")
    )
    out._cached_inputs = (enriched,)  # type: ignore[attr-defined]
    return out


def sector_activity_sketch_oracle_sql(seed_path: str) -> str:
    """DuckDB twin of :func:`sector_activity_sketch`, composed from
    the SAME generated sketch oracles (``hll_oracle_sql`` /
    ``histogram_quantile_oracle_sql`` with identical literals) over a
    shared ``enriched`` CTE; the ticker seed inlines as VALUES read
    from the same CSV the Spark side loads (single-source)."""
    import csv

    from .sketches import histogram_quantile_oracle_sql, hll_oracle_sql

    with open(seed_path, newline="") as fh:
        rows = list(csv.DictReader(fh))
    vals = ",\n        ".join(
        "('{}', '{}')".format(
            r["symbol"].replace("'", "''"), r["sector"].replace("'", "''")
        )
        for r in rows
    )
    hll_body = hll_oracle_sql("enriched", ["sector"], "user_id", p=5).strip()
    hist_body = histogram_quantile_oracle_sql(
        "enriched", ["sector"], "value", nbins=64, qs=(("p95", 0.95),)
    ).strip()
    return f"""
WITH enriched AS (
    SELECT coalesce(t.sector, 'UNKNOWN') AS sector, e.user_id, e.value
    FROM (SELECT upper(trim(event_type)) AS symbol, user_id, value
          FROM events) e
    LEFT JOIN (VALUES
        {vals}) AS t(symbol, sector) ON e.symbol = t.symbol
),
hh AS ({hll_body}),
qq AS ({hist_body}),
ev AS (
    SELECT sector, CAST(count(*) AS BIGINT) AS events
    FROM enriched GROUP BY sector
)
SELECT hh.sector, ev.events, hh.n_registers,
    hh.hll_estimate AS approx_users,
    hh.exact_distinct AS exact_users,
    hh.rel_error AS users_rel_error,
    qq.n_values, qq.bin_width, qq.approx_p95, qq.exact_p95, qq.err_p95
FROM hh JOIN qq ON hh.sector = qq.sector JOIN ev ON hh.sector = ev.sector
ORDER BY hh.sector
"""


def regional_customer_summary(
    customer: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """Per-region customer counts and balance stats."""
    n = nation.select("n_nationkey", "n_regionkey")
    r = region.select("r_regionkey", F.col("r_name").alias("region_name"))
    enriched = (
        customer.join(F.broadcast(n), customer.c_nationkey == n.n_nationkey, "inner")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "inner")
    )
    return (
        enriched.groupBy("region_name")
        .agg(
            F.count(F.lit(1)).alias("customers"),
            round_away(F.sum("c_acctbal"), 2).alias("total_acctbal"),
            round_away(F.avg("c_acctbal"), 4).alias("avg_acctbal"),
            F.count_distinct("c_mktsegment").alias("segments"),
        )
        .orderBy("region_name")
    )


def pricing_summary(lineitem: DataFrame, ship_cutoff: str = "1998-09-01") -> DataFrame:
    """TPC-H Q1-shaped pricing summary over lineitem.

    Scan → filter (pushed to parquet) → 4-group hash agg. The shape
    the reference's mart layer implies for whole-table rollups.
    """
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit(ship_cutoff).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            round_away(F.sum("l_quantity"), 2).alias("sum_qty"),
            round_away(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            round_away(F.sum(disc_price), 2).alias("sum_disc_price"),
            round_away(F.sum(charge), 2).alias("sum_charge"),
            round_away(F.avg("l_quantity"), 4).alias("avg_qty"),
            round_away(F.avg("l_extendedprice"), 4).alias("avg_price"),
            round_away(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def regional_supplier_revenue(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    region_name: str = "ASIA",
) -> DataFrame:
    """TPC-H Q5-shaped: revenue by nation where customer and supplier
    share the SAME nation (enforced), restricted to one region.

    Join order matters at scale: region→nation (broadcast chain)
    filters BEFORE touching the fact tables, so lineitem only joins
    against the reduced supplier set; the single big shuffle is
    orders⋈lineitem on orderkey.
    """
    n = nation.select("n_nationkey", F.col("n_name").alias("nation_name"), "n_regionkey")
    r = region.filter(F.col("r_name") == region_name).select("r_regionkey")
    nations_in_region = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "nation_name"
    )
    cust = customer.join(
        F.broadcast(nations_in_region),
        customer.c_nationkey == nations_in_region.n_nationkey,
    ).select("c_custkey", "nation_name", F.col("c_nationkey").alias("cust_nationkey"))
    supp = supplier.join(
        F.broadcast(nations_in_region.select("n_nationkey")),
        supplier.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("s_nationkey").alias("supp_nationkey"))
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        # Q5 semantics: customer and supplier from the SAME nation
        .filter(F.col("cust_nationkey") == F.col("supp_nationkey"))
        .groupBy("nation_name")
        .agg(round_away(revenue, 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("nation_name"))
    )


def order_priority_rollup(orders: DataFrame) -> DataFrame:
    """ROLLUP aggregation (beyond the reference — SURVEY §2.4 notes
    grouping sets absent): order counts and value by (status, priority)
    with subtotals and a grand total; grouping level exposed via
    ``grouping()`` flags for deterministic identification."""
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            round_away(F.sum("o_totalprice"), 2).alias("total_value"),
            F.grouping("o_orderstatus").cast("long").alias("g_status"),
            F.grouping("o_orderpriority").cast("long").alias("g_priority"),
        )
    )


def event_type_pivot(events: DataFrame) -> DataFrame:
    """PIVOT: one row per day, one count column per event type.

    Spark's ``pivot`` with explicit values (no extra distinct-scan);
    the oracle expresses the same as FILTER aggregates — both compile
    to one hash aggregation.
    """
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        events.select(F.to_date("ts").alias("event_date"), "event_type")
        .groupBy("event_date")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


def top_revenue_orders(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    segment: str = "BUILDING",
    limit: int = 10,
) -> DataFrame:
    """TPC-H Q3-shaped: top revenue orders for a market segment.

    Broadcast the filtered customer keys into orders, shuffle join
    orders⋈lineitem on orderkey, aggregate, deterministic top-k
    (revenue desc, orderkey asc tiebreak).
    """
    cust = customer.filter(F.col("c_mktsegment") == segment).select("c_custkey")
    revenue = round_away(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
    )
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "inner")
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"), "inner")
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(limit)
    )


def promo_revenue_monthly(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q14-shaped: monthly promo-revenue share via CONDITIONAL
    aggregation over a fact⋈dim join — the part dimension broadcasts
    (model-sized), so the fact side never shuffles for the join and
    the only exchange is the per-month hash aggregate (72 groups).

    promo_share = 100 · Σ(rev | p_type = ECONOMY) / Σ(rev), rev =
    l_extendedprice·(1−l_discount). Money sums round at 2 dp, the
    share at 4 dp — both absorb partition-order ulp noise (PERF.md)."""
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "ECONOMY", rev).otherwise(F.lit(0.0))
    return (
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_type")),
            lineitem.l_partkey == F.col("p_partkey"),
        )
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            round_away(F.sum(promo), 2).alias("promo_revenue"),
            round_away(F.sum(rev), 2).alias("total_revenue"),
            round_away(F.lit(100.0) * F.sum(promo) / F.sum(rev), 4).alias(
                "promo_share"
            ),
        )
        .orderBy("ship_month")
    )


def small_qty_part_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q17-shaped: revenue locked in small-quantity orders —
    the correlated-aggregate pattern (``l_quantity < 0.2 ·
    avg(l_quantity) per part``) re-planned Spark-first: the per-part
    averages are a 2 000-row aggregate BROADCAST back onto the fact
    scan (no correlated re-scan per row, no fact-side shuffle for the
    threshold join); only the final per-brand aggregate exchanges.

    Exactness: l_quantity is integral-valued, so the per-part sum is
    exact in ANY accumulation order and the 0.2·avg threshold is the
    identical double in both engines — the strict ``<`` filter cannot
    flip a border row (asserted against DuckDB by the oracle gate).
    avg_yearly follows Q17's Σ(l_extendedprice)/7."""
    qstats = lineitem.groupBy("l_partkey").agg(
        (F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty")
    )
    small = lineitem.join(F.broadcast(qstats), "l_partkey").filter(
        F.col("l_quantity") < 0.2 * F.col("avg_qty")
    )
    return (
        small.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            small.l_partkey == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_small"),
            round_away(F.sum("l_extendedprice") / F.lit(7.0), 2).alias(
                "avg_yearly_revenue"
            ),
        )
        .orderBy("p_brand")
    )


def large_volume_customers(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    min_qty: int = 300,
) -> DataFrame:
    """TPC-H Q18-shaped: customers whose single orders exceed a
    quantity threshold (the HAVING-subquery → semi-join pattern).

    Spark-first plan: the fact table collapses FIRST — one hash
    aggregate to (orderkey, total_qty), the HAVING filter prunes it
    to a key set orders of magnitude smaller than the fact — and only
    that surviving set joins outward: broadcast into ``orders``
    (threshold keys ≪ orders), then the customer dim broadcasts for
    the name. Nothing order-sized or lineitem-sized ever shuffles for
    a join; the one fact shuffle is the initial per-order aggregate,
    which partial-aggregates map-side.

    Exactness: l_quantity is integral-valued so the per-order sum is
    exact in any accumulation order; the strict ``>`` threshold and
    every output column are engine-portable without rounding.
    Deterministic order: (o_totalprice desc, o_orderkey asc).
    """
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > min_qty)
    )
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(
            F.broadcast(customer.select("c_custkey", "c_name")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    )


def returned_orders_by_priority(
    lineitem: DataFrame,
    orders: DataFrame,
    date_from: str = "1997-01-01",
    date_to: str = "1998-01-01",
) -> DataFrame:
    """TPC-H Q4-shaped: order counts per priority, restricted to
    orders with at least one RETURNED line — the EXISTS-correlated-
    subquery pattern, re-planned as a LEFT SEMI join (semi stops at
    the first match per key: no fan-out, no distinct needed, and the
    probe side streams).

    Scale shape: the date filter pushes to the orders parquet scan
    (year-window partition pruning at production layout); the
    returned-key side projects to the bare 8-byte orderkey before the
    semi join, so the shuffle carries keys, not lineitem payloads.
    Counts are integers — exact everywhere; priority domain is tiny.
    """
    returned = lineitem.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        orders.filter(
            (F.col("o_orderdate") >= F.lit(date_from).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(date_to).cast("timestamp"))
        )
        .join(returned, orders.o_orderkey == returned.l_orderkey, "leftsemi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


def dormant_customers(
    orders: DataFrame,
    customer: DataFrame,
    cutoff: str = "2000-01-01",
) -> DataFrame:
    """Churn mart: customers with purchase history strictly BEFORE
    the cutoff and zero orders after — the NOT-EXISTS pattern as a
    LEFT ANTI join.

    Spark-first plan: the pre-cutoff slice aggregates to one row per
    customer (n_orders, last_order_date, lifetime_value) — a single
    map-side-combined hash aggregate on the orders scan — and the
    post-cutoff ACTIVE key set anti-joins it away. The anti side
    projects to bare custkeys; the customer dim broadcasts in last
    for the name. Both date filters push to the parquet scan, so at
    a date-partitioned production layout the anti probe reads only
    post-cutoff partitions.

    Exactness: lifetime_value sums doubles → rounded 2 dp
    (absorbs accumulation-order ulp noise, PERF.md); counts and
    max(date) are exact. Ordered by c_custkey.
    """
    cutoff_ts = F.lit(cutoff).cast("timestamp")
    history = (
        orders.filter(F.col("o_orderdate") < cutoff_ts)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.max("o_orderdate").alias("last_order_date"),
            round_away(F.sum("o_totalprice"), 2).alias("lifetime_value"),
        )
    )
    active = orders.filter(F.col("o_orderdate") >= cutoff_ts).select("o_custkey")
    return (
        history.join(active, "o_custkey", "leftanti")
        .join(
            F.broadcast(customer.select("c_custkey", "c_name")),
            history.o_custkey == F.col("c_custkey"),
        )
        .select(
            "c_custkey", "c_name", "n_orders", "last_order_date", "lifetime_value"
        )
        .orderBy("c_custkey")
    )


def exclusive_fault_suppliers(
    lineitem: DataFrame, supplier: DataFrame, limit: int = 20
) -> DataFrame:
    """TPC-H Q21-shaped: suppliers SOLELY at fault on multi-supplier
    orders — the hardest classic shape, a correlated EXISTS (another
    supplier participated) AND NOT EXISTS (no OTHER supplier was also
    at fault) against the same fact. Re-planned Spark-first as set
    algebra instead of two correlated re-scans: collapse the fact to
    DISTINCT (order, supplier) once and to its faulted subset once
    (returnflag = 'R' stands in for receipt-after-commit, which this
    schema lacks), aggregate both to per-order counts, and the
    exclusive-fault condition is a pure filter ``n_supp > 1 AND
    n_fault = 1`` on the faulted rows. The per-order count frames are
    order-cardinality (narrow) and join back on the orderkey —
    nothing scans lineitem more than twice, nothing correlates.

    Exactness: all counts integral; deterministic top-k order
    (n_orders desc, s_suppkey asc). Supplier dim broadcasts for the
    name.
    """
    ls = lineitem.select("l_orderkey", "l_suppkey").distinct()
    fault = (
        lineitem.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    n_supp = ls.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_supp"))
    n_fault = fault.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_fault")
    )
    return (
        fault.join(n_supp, "l_orderkey")
        .join(n_fault, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_fault") == 1))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "n_orders")
        .orderBy(F.desc("n_orders"), F.asc("s_suppkey"))
        .limit(limit)
    )


def balance_rich_dormant_nations(
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    cutoff: str = "2000-01-01",
) -> DataFrame:
    """TPC-H Q22-shaped: per nation, the count and total balance of
    customers who hold an ABOVE-AVERAGE positive account balance yet
    placed no order since ``cutoff`` — capital sitting idle, the
    classic "who should sales call" mart. (Q22 groups by phone
    country code and tests never-ordered; this schema carries
    nationality on the customer row, and at TPC-H order density
    never-ordered is empty — the dormancy window keeps the shape AND
    the signal.)

    Spark-first plan: the scalar threshold (avg positive balance) is
    a one-row aggregate cross-broadcast onto the customer scan — no
    correlated re-scan; the "never ordered" NOT EXISTS is a LEFT ANTI
    join whose probe side projects to bare custkeys before
    shuffling; the nation dim broadcasts last. The only fact-scale
    work is the orders key projection.

    Exactness: the threshold compare is strict ``>`` on the identical
    double in both engines (the Q17 precedent); the balance sum
    rounds 2 dp at output. Ordered by nation name.
    """
    thresh = customer.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    rich = customer.crossJoin(F.broadcast(thresh)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit(cutoff).cast("timestamp")
    ).select("o_custkey")
    return (
        rich.join(recent, rich.c_custkey == F.col("o_custkey"), "leftanti")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            round_away(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .orderBy("nation_name")
    )


def min_cost_supplier_parts(
    lineitem: DataFrame,
    supplier: DataFrame,
    part: DataFrame,
    p_size: int = 15,
) -> DataFrame:
    """TPC-H Q2-shaped: for every part of a given size, the supplier
    observed selling it CHEAPEST per unit — the correlated
    ``ps_supplycost = min(...)`` pattern re-planned as a window
    argmin. (This schema has no partsupp catalog; the observed unit
    price sum(extendedprice)/sum(quantity) over lineitem is the
    supply-cost stand-in.)

    Spark-first plan: one fact aggregate to (part, supplier) grain —
    map-side combined, keyed on the pair — then a row_number window
    PARTITIONED by part (no global window) picks the argmin;
    part/supplier dims broadcast in after the fact collapses.
    Ranking runs on the UNROUNDED ratio with a s_suppkey tiebreak;
    the output price rounds 4 dp (the bm25/tfidf precedent).

    Exactness: quantities are integral so their sum is exact; the
    price ratio is one double divide; strict rank-1 selection with
    integer tiebreak is engine-portable.
    """
    pk = part.filter(F.col("p_size") == p_size).select(
        "p_partkey", "p_name", "p_brand"
    )
    unit = (
        lineitem.join(F.broadcast(pk), lineitem.l_partkey == pk.p_partkey)
        .groupBy("p_partkey", "p_name", "p_brand", "l_suppkey")
        .agg(
            (F.sum("l_extendedprice") / F.sum("l_quantity")).alias("__price"),
            F.sum("l_quantity").cast("long").alias("qty_seen"),
        )
    )
    w = Window.partitionBy("p_partkey").orderBy(
        F.asc("__price"), F.asc("l_suppkey")
    )
    return (
        unit.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            "p_partkey",
            "p_name",
            "p_brand",
            "s_suppkey",
            "s_name",
            round_away(F.col("__price"), 4).alias("min_unit_price"),
            "qty_seen",
        )
        .orderBy("p_partkey")
    )


def nation_revenue_share(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    min_share: float = 0.01,
) -> DataFrame:
    """TPC-H Q11-shaped: supplier nations whose revenue exceeds a
    FRACTION of global revenue — the group-vs-global-scalar HAVING
    pattern. (Q11 scans partsupp inventory value; this schema's fact
    is lineitem revenue.)

    Spark-first plan: ONE fact aggregate at (nation) grain after a
    broadcast supplier→nation enrichment — the global total is then a
    one-row re-aggregate of the tiny per-nation frame, cross-joined
    back (never a second fact scan, never a correlated subquery).

    Exactness: per-nation revenue sums once and is REUSED for the
    global total (sum of per-nation sums), so the share's numerator
    and denominator derive from the same doubles in both engines; the
    oracle mirrors that exact two-level shape. Share rounds 6 dp,
    revenue 2 dp; strict ``>`` threshold on the unrounded share.
    """
    sn = supplier.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        supplier.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("nation_name"))
    per_nation = (
        lineitem.join(F.broadcast(sn), lineitem.l_suppkey == sn.s_suppkey)
        .groupBy("nation_name")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "__rev"
            )
        )
    )
    # global total = ordered fold of the per-nation sums (nation-name
    # order), bit-reproducible in both engines — a groupBy-less sum
    # would re-accumulate the fact in partition order instead.
    total = per_nation.agg(
        F.aggregate(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("nation_name"), F.col("__rev")))
                ),
                lambda s: s["__rev"],
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("__total")
    )
    return (
        per_nation.crossJoin(F.broadcast(total))
        .filter(F.col("__rev") > F.lit(min_share) * F.col("__total"))
        .select(
            "nation_name",
            round_away(F.col("__rev"), 2).alias("revenue"),
            round_away(F.col("__rev") / F.col("__total"), 6).alias(
                "revenue_share"
            ),
        )
        .orderBy(F.desc("revenue_share"), F.asc("nation_name"))
    )


def bilateral_trade_volume(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    year_from: str = "1996-01-01",
    year_to: str = "1998-01-01",
) -> DataFrame:
    """TPC-H Q7-shaped: shipping volume between every DISTINCT nation
    pair (supplier nation ≠ customer nation) by order year — the
    two-role dimension pattern: the same nation dim joins the fact
    twice under different roles.

    Spark-first plan: both role enrichments are broadcast chains onto
    the customer/supplier dims BEFORE the facts join (nation is tiny;
    the enriched dims stay broadcast-sized), so the single big
    shuffle is orders⋈lineitem on the orderkey. The date filter
    pushes to the orders scan.

    Exactness: revenue sums rounded 2 dp (the Q5 precedent);
    year via date_trunc—exact; ordered (supp_nation, cust_nation,
    order_year).
    """
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    supp = supplier.join(
        F.broadcast(n1), supplier.s_nationkey == n1.s_nk
    ).select("s_suppkey", "supp_nation")
    cust = customer.join(
        F.broadcast(n2), customer.c_nationkey == n2.c_nk
    ).select("c_custkey", "cust_nation")
    ord_f = orders.filter(
        (F.col("o_orderdate") >= F.lit(year_from).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(year_to).cast("timestamp"))
    )
    # EXACT DECIMAL money math: at ~760 (pair, year) groups a few
    # double sums inevitably land on the half-cent rounding boundary
    # and flip by accumulation order (measured: 5 penny mismatches) —
    # price and discount are semantically 2-dp, so decimal sums are
    # exact in ANY order and both engines round the identical value.
    revenue = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(8,2)")
    )
    return (
        ord_f.join(F.broadcast(cust), ord_f.o_custkey == cust.c_custkey)
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("o_orderdate").cast("long").alias("order_year"),
        )
        .agg(F.round(revenue, 2).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "order_year")
    )


def disjunctive_brand_revenue(
    lineitem: DataFrame, part: DataFrame
) -> DataFrame:
    """TPC-H Q19-shaped: revenue under a DISJUNCTION of brand-specific
    quantity/size envelopes — the shape that tests an optimizer's
    handling of OR-of-ANDs predicates (naive engines scan everything
    per branch; a single pass with the disjunction evaluated row-wise
    is the right plan, with the common conjuncts — the join key and
    the size floor — still pushed down).

    Spark-first plan: part dim broadcasts; the three envelopes are ONE
    boolean expression on the joined row (one fact scan, no union of
    three scans); Catalyst pushes the p_size lower bound common to all
    branches into the part scan.

    Exactness: one rounded 2-dp revenue sum and an integral match
    count per brand.
    """
    p = part.select("p_partkey", "p_brand", "p_size")
    j = lineitem.join(F.broadcast(p), lineitem.l_partkey == p.p_partkey)
    env = (
        ((F.col("p_brand") == "Brand#1") & F.col("l_quantity").between(1, 11)
         & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#2") & F.col("l_quantity").between(10, 20)
           & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#3") & F.col("l_quantity").between(20, 30)
           & F.col("p_size").between(1, 15))
    )
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        j.filter(env)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            round_away(revenue, 2).alias("revenue"),
        )
        .orderBy("p_brand")
    )


def top_return_customers(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    date_from: str = "1997-01-01",
    date_to: str = "1997-07-01",
    k: int = 20,
) -> DataFrame:
    """TPC-H Q10-shaped: customers who returned the most revenue in a
    quarter-window — the returned-goods triage mart (who to call, in
    money order). Join chain orders(filtered)⋈lineitem(R)⋈customer⋈
    nation with the dims broadcast; the top-k rides a deterministic
    (revenue desc, custkey asc) order on the UNROUNDED sum.

    Scale shape: the date filter pushes to the orders scan; the 'R'
    filter pushes to lineitem; both prune before the one big
    orderkey shuffle; the k-row limit is TakeOrdered, never a global
    sort materialization.
    """
    ord_f = orders.filter(
        (F.col("o_orderdate") >= F.lit(date_from).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(date_to).cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    ret = lineitem.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    per_cust = (
        ord_f.join(ret, ord_f.o_orderkey == ret.l_orderkey)
        .groupBy("o_custkey")
        .agg(revenue.alias("__rev"))
    )
    return (
        per_cust.join(
            F.broadcast(customer.select("c_custkey", "c_name", "c_acctbal", "c_nationkey")),
            per_cust.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .orderBy(F.desc("__rev"), F.asc("c_custkey"))
        .limit(k)
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation_name"),
            "c_acctbal",
            round_away(F.col("__rev"), 2).alias("return_revenue"),
        )
    )


def monthly_revenue_growth(lineitem: DataFrame) -> DataFrame:
    """Month-over-month revenue growth — the trend mart every
    finance dashboard opens with: monthly revenue, the previous
    month's, and the growth ratio. One fact aggregate at month grain
    (map-side combined; at a date-partitioned layout the scan prunes
    to the queried months) and one lag window over the TINY monthly
    frame — the window runs on dozens of rows no matter the fact
    size.

    Exactness: revenue in exact DECIMAL (the bilateral_trade lesson:
    at month grain a year of pennies lands on rounding boundaries),
    growth ratio computed on the exact decimals cast to double once,
    rounded 6 dp; first month emits NULL growth.
    """
    rev = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(8,2)")
    )
    monthly = lineitem.groupBy(
        F.date_trunc("month", F.col("l_shipdate")).alias("month")
    ).agg(rev.alias("__rev"))
    w = Window.partitionBy(single_partition_key("month")).orderBy("month")
    prev = F.col("__prev")
    return (
        monthly.withColumn("__prev", F.lag("__rev").over(w))
        .select(
            "month",
            F.round(F.col("__rev"), 2).cast("double").alias("revenue"),
            F.round(prev, 2).cast("double").alias("prev_revenue"),
            round_away(
                (F.col("__rev").cast("double") - prev.cast("double"))
                / F.nullif(prev.cast("double"), F.lit(0.0)),
                6,
            ).alias("mom_growth"),
        )
        .orderBy("month")
    )


def trailing_window_revenue(
    orders: DataFrame,
    customer: DataFrame,
    segment: str = "BUILDING",
    days: int = 30,
) -> DataFrame:
    """Time-RANGE window frames — the customer-velocity mart: for
    every order of one market segment, the customer's order count and
    total spend over the TRAILING ``days``-day window ending at the
    order's date. This is the one window-frame kind the registry
    lacked: ``rangeBetween`` over a value axis (calendar days), where
    the frame holds however many ROWS fall in the interval — a
    row-frame (``rowsBetween``) cannot express it when order spacing
    is irregular, and peers sharing a date must see the SAME frame.

    Exactness: the day axis is an exact integer (``unix_date`` —
    session TZ pinned UTC by ``configure_runtime``); the spend sums in
    DECIMAL inside the frame (order-free — frame membership is a set,
    so engine-side accumulation order cannot matter), rounded once,
    cast double last. Every output is per-row determined (no ranks),
    so no tiebreak is needed.

    Plan shape: the segment filter prunes customer to a broadcast
    semi-join; ONE shuffle partitions by customer; the frame scan is a
    running two-pointer over each customer's date-sorted orders —
    Spark's RangeFrame evaluator is O(rows) per partition, not
    O(rows·frame). At 100 TB the partition key (customer) is
    million-cardinality — no skew hazard.
    """
    cust_f = customer.filter(F.col("c_mktsegment") == segment).select(
        "c_custkey"
    )
    base = orders.join(
        F.broadcast(cust_f),
        F.col("o_custkey") == F.col("c_custkey"),
        "left_semi",
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.unix_date(F.to_date("o_orderdate")).alias("__day"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("__price"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("__day")
        .rangeBetween(-days, 0)
    )
    return (
        base.select(
            "o_orderkey",
            "o_custkey",
            "o_orderdate",
            F.count(F.lit(1)).over(w).cast("long").alias("trailing_orders"),
            F.round(F.sum("__price").over(w), 2)
            .cast("double")
            .alias("trailing_revenue"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


TRAILING_WINDOW_REVENUE_SQL = """
WITH base AS (
    SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
        date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE))
            AS day,
        CAST(o.o_totalprice AS DECIMAL(18,2)) AS price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
                   AND c.c_mktsegment = 'BUILDING'
)
SELECT o_orderkey, o_custkey, o_orderdate,
    CAST(count(*) OVER w AS BIGINT) AS trailing_orders,
    CAST(round(sum(price) OVER w, 2) AS DOUBLE) AS trailing_revenue
FROM base
WINDOW w AS (PARTITION BY o_custkey ORDER BY day
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
ORDER BY o_custkey, o_orderdate, o_orderkey
"""


def market_concentration(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """Market-concentration mart — the Herfindahl–Hirschman index of
    supplier revenue within each nation, plus the top supplier's
    share: the antitrust-style concentration report every marketplace
    and exchange runs (is this market one-firm dominated or
    fragmented?). HHI = Σᵢ (revᵢ/Σrev)² ∈ (0, 1].

    Exactness: per-supplier revenue sums in DECIMAL (order-free); the
    HHI numerator Σ revᵢ² and denominator (Σ revᵢ)² stay in EXACT
    decimal arithmetic (decimal × decimal is exact; ANSI would abort
    any overflow rather than wrap — at larger revenue magnitudes
    rescale the money unit before squaring), and the single double
    division happens once at output. ``top_share`` is max(revᵢ)/Σrevᵢ
    — exact decimals, one division.

    Plan shape: ONE fact aggregate to (nation, supplier) grain
    (supplier/nation dims broadcast), then a nation-grain re-aggregate
    over supplier-count-sized rows — both map-side combinable; no
    window, no second fact scan.
    """
    rev = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(8,2)")
    )
    per_supp = (
        lineitem.select("l_suppkey", "l_extendedprice", "l_discount")
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name", "s_suppkey")
        .agg(rev.alias("__r"))
    )
    agg = per_supp.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum("__r").alias("__s"),
        F.sum(F.col("__r") * F.col("__r")).alias("__sq"),
        F.max("__r").alias("__mx"),
    )
    return agg.select(
        F.col("n_name").alias("nation_name"),
        "n_suppliers",
        F.round(F.col("__s"), 2).cast("double").alias("total_revenue"),
        round_away(
            F.col("__sq").cast("double")
            / (F.col("__s").cast("double") * F.col("__s").cast("double")),
            6,
        ).alias("hhi"),
        round_away(
            F.col("__mx").cast("double") / F.col("__s").cast("double"), 6
        ).alias("top_share"),
    ).orderBy("nation_name")


MARKET_CONCENTRATION_SQL = """
WITH ps AS (
    SELECT n.n_name, l.l_suppkey,
        sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
            * CAST(1 - l.l_discount AS DECIMAL(8,2))) AS r
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY 1, 2
),
ag AS (
    SELECT n_name,
        CAST(count(*) AS BIGINT) AS n_suppliers,
        sum(r) AS s, sum(r * r) AS sq, max(r) AS mx
    FROM ps GROUP BY 1
)
SELECT n_name AS nation_name, n_suppliers,
    CAST(round(s, 2) AS DOUBLE) AS total_revenue,
    round(CAST(sq AS DOUBLE) / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)), 6)
        AS hhi,
    round(CAST(mx AS DOUBLE) / CAST(s AS DOUBLE), 6) AS top_share
FROM ag ORDER BY nation_name
"""


def banded_discount_revenue(
    lineitem: DataFrame,
    min_discount: float = 0.05,
    max_discount: float = 0.07,
    max_qty: float = 24.0,
) -> DataFrame:
    """TPC-H Q6-shaped: the "forecast revenue change" filter-agg —
    revenue that would have been gained by eliminating a discount
    band on small-quantity lines, per ship year. The simplest star
    query there is, and the cleanest pushdown showcase: all three
    predicates land in the parquet scan's PushedFilters and the agg
    is one map-side-combined groupBy on year — zero joins, one
    shuffle of a handful of year rows.

    Exactness: gained revenue = Σ price·discount in DECIMAL (both
    2-dp quantities), rounded once; the band compares the scanned
    doubles against the same double literals in both engines.
    """
    gained = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * F.col("l_discount").cast("decimal(8,2)")
    )
    return (
        lineitem.filter(
            (F.col("l_discount") >= min_discount)
            & (F.col("l_discount") <= max_discount)
            & (F.col("l_quantity") < max_qty)
        )
        .groupBy(F.year("l_shipdate").cast("long").alias("ship_year"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.round(gained, 2).cast("double").alias("gained_revenue"),
        )
        .orderBy("ship_year")
    )


def nation_market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    part: DataFrame,
    target_nation: str = "NATION_3",
    target_region: str = "ASIA",
    p_type: str = "PROMO",
) -> DataFrame:
    """TPC-H Q8-shaped: the target nation's supplier market share of
    a part type sold into a region, per order year — the group-share
    pattern (conditional numerator over a common denominator) on top
    of a five-dimension star with the nation dim in two roles.

    Spark-first plan: every dimension chain (region→nation→customer
    on the demand side, nation→supplier on the supply side, part on
    the type filter) is broadcast — the ONLY big shuffle is
    orders⋈lineitem on the orderkey, and the share is a conditional
    aggregate in the same single groupBy pass (no second
    denominator join; the Q11 nation_revenue_share precedent done
    one better because the denominator is per-group, not global).

    Exactness: numerator and denominator summed in DECIMAL, ratio
    computed on the exact decimals cast double once, rounded 6 dp.
    """
    n_demand = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    r_f = region.filter(F.col("r_name") == target_region).select(
        F.col("r_regionkey").alias("c_rk")
    )
    cust = customer.join(F.broadcast(r_f.join(n_demand, "c_rk")), 
                         customer.c_nationkey == F.col("c_nk")).select("c_custkey")
    n_supply = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    supp = supplier.join(
        F.broadcast(n_supply), supplier.s_nationkey == F.col("s_nk")
    ).select("s_suppkey", "supp_nation")
    part_f = part.filter(F.col("p_type") == p_type).select("p_partkey")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(8,2)")
    nation_rev = F.sum(
        F.when(F.col("supp_nation") == target_nation, rev).otherwise(
            F.lit(0).cast("decimal(20,4)")
        )
    )
    total_rev = F.sum(rev)
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == F.col("c_custkey"))
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(part_f), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("order_year"))
        .agg(
            F.round(total_rev, 2).cast("double").alias("total_revenue"),
            F.round(nation_rev, 2).cast("double").alias("nation_revenue"),
            round_away(
                (nation_rev.cast("double"))
                / F.nullif(total_rev.cast("double"), F.lit(0.0)),
                6,
            ).alias("mkt_share"),
        )
        .orderBy("order_year")
    )


def supplier_nation_profit(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    cost_fraction: str = "0.80",
) -> DataFrame:
    """TPC-H Q9-shaped: profit by supplier nation and ship year.
    The synthetic schema has no partsupp/ps_supplycost, so unit cost
    is proxied as ``cost_fraction`` of the part's retail price
    (documented adaptation — the SHAPE is the point: a fact scan
    against three broadcast dimension chains with a computed measure
    aggregated on (nation, year)).

    Exactness: amount = price·(1−disc) − cost·qty entirely in
    DECIMAL (quantities are integral, prices 2-dp, the fraction a
    2-dp literal), summed in any order exactly, rounded once.
    """
    n = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    supp = supplier.join(
        F.broadcast(n), supplier.s_nationkey == F.col("s_nk")
    ).select("s_suppkey", "supp_nation")
    cost = part.select(
        "p_partkey",
        (
            F.col("p_retailprice").cast("decimal(18,2)")
            * F.lit(cost_fraction).cast("decimal(3,2)")
        ).alias("unit_cost"),
    )
    amount = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(8,2)")
        - F.col("unit_cost") * F.col("l_quantity").cast("decimal(18,2)")
    )
    return (
        lineitem.join(F.broadcast(cost), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            "supp_nation",
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(F.round(amount, 2).cast("double").alias("profit"))
        .orderBy("supp_nation", "ship_year")
    )


def customer_order_distribution(
    orders: DataFrame,
    customer: DataFrame,
    excluded_priority: str = "1-URGENT",
) -> DataFrame:
    """TPC-H Q13-shaped: the distribution of customers by how many
    (non-excluded) orders they placed — zero-order customers
    included, which is the part naive inner-join rewrites get wrong.

    Spark-first plan: aggregate orders to per-customer counts FIRST
    (map-side combine collapses the fact before any join), then the
    count table — one narrow row per ordering customer — joins LEFT
    onto the customer spine and a second tiny groupBy builds the
    histogram. The customer table is never shuffled: the per-customer
    count frame is broadcast-sized post-aggregation.
    """
    per_cust = (
        orders.filter(F.col("o_orderpriority") != excluded_priority)
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.count(F.lit(1)).cast("long").alias("__n"))
    )
    return (
        customer.select("c_custkey")
        .join(F.broadcast(per_cust), "c_custkey", "left")
        .select(F.coalesce("__n", F.lit(0).cast("long")).alias("order_count"))
        .groupBy("order_count")
        .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("order_count"))
    )


def top_supplier_revenue(
    lineitem: DataFrame,
    supplier: DataFrame,
    q_start: str = "1996-01-01",
    q_end: str = "1996-04-01",
) -> DataFrame:
    """TPC-H Q15-shaped: the top supplier(s) by one quarter's shipped
    revenue — ALL ties kept, the Q15 contract (the view + max
    subquery form). The max is a one-row aggregate broadcast back
    onto the per-supplier revenue frame (the small_qty_part_revenue
    precedent for correlated-aggregate re-planning) — no global sort,
    no window, no corpus-sized anything.

    Exactness: per-supplier revenue is a DECIMAL sum rounded once to
    2 dp and compared for the max on the ROUNDED value, so the tie
    set is identical in any engine and any summation order.
    """
    rev = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(8,2)")
    )
    srev = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(q_start).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(q_end).cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.round(rev, 2).cast("double").alias("total_revenue"))
    )
    mx = srev.agg(F.max("total_revenue").alias("__mx"))
    return (
        srev.join(F.broadcast(mx), srev.total_revenue == F.col("__mx"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def part_supplier_counts(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    excluded_brand: str = "Brand#1",
    excluded_type_prefix: str = "PROMO",
    sizes: tuple[int, ...] = (1, 4, 7, 10, 13, 16, 19, 22, 25),
) -> DataFrame:
    """TPC-H Q16-shaped: how many distinct suppliers ship each
    (brand, type, size) part group, excluding a brand, a type prefix
    and suppliers in bad standing (negative account balance — the
    NOT-IN-complaints adaptation; the synthetic schema has no
    partsupp, so the lineitem fact IS the part↔supplier relation,
    collapsed to DISTINCT pairs before counting).

    Plan shape: the fact is projected to (partkey, suppkey) pairs and
    distinct-collapsed map-side; the part-attribute filter and the
    bad-supplier ANTI join are both broadcast; the count-distinct
    groupBy runs on narrow attribute rows.
    """
    part_f = part.filter(
        (F.col("p_brand") != excluded_brand)
        & ~F.col("p_type").startswith(excluded_type_prefix)
        & F.col("p_size").isin(*sizes)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad_supp = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    pairs = lineitem.select("l_partkey", "l_suppkey").distinct()
    return (
        pairs.join(
            F.broadcast(bad_supp),
            pairs.l_suppkey == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(part_f), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def shipping_priority_topk(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    segment: str = "BUILDING",
    cutoff: str = "1998-01-01",
    k: int = 10,
) -> DataFrame:
    """TPC-H Q3-shaped: the shipping-priority top-k — unshipped-as-of
    revenue per order for one market segment (orders placed before the
    cutoff with lines still shipping after it), top ``k`` orders by
    revenue. The synthetic schema has no ``o_shippriority``, so the
    order's priority class rides along instead — same shape, the
    grouping key is the order plus its carried attributes.

    Exactness: order-grain revenue means MANY groups, so revenue sums
    in exact DECIMAL (PERF.md lesson 2b — at half-cent boundaries a
    double sum flips pennies), the top-k ranks on the UNROUNDED
    decimal (revenue desc, orderkey asc — no float tie can flip
    membership), and the double cast happens once at output.

    Plan shape: the segment filter prunes customer to a broadcast
    semi-join; the date predicates push into the orders and lineitem
    scans; the one big shuffle is orders⋈lineitem on orderkey; the
    k-row cut is TakeOrdered on the aggregate, never a global sort.
    Reference parity: the classic Q3 join-filter-agg-limit mart shape
    (models/marts pattern, e.g. dbt/models/marts/mart_stock_performance.sql).
    """
    cust_f = customer.filter(F.col("c_mktsegment") == segment).select(
        "c_custkey"
    )
    ord_f = (
        orders.filter(F.col("o_orderdate") < F.lit(cutoff).cast("timestamp"))
        .join(
            F.broadcast(cust_f),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_semi",
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li_f = lineitem.filter(
        F.col("l_shipdate") > F.lit(cutoff).cast("timestamp")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    rev = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(8,2)")
    )
    return (
        ord_f.join(li_f, ord_f.o_orderkey == li_f.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(rev.alias("__rev"))
        .orderBy(F.desc("__rev"), F.asc("o_orderkey"))
        .limit(k)
        .select(
            F.col("o_orderkey"),
            F.round(F.col("__rev"), 2).cast("double").alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
    )


def returnflag_priority_counts(
    lineitem: DataFrame,
    orders: DataFrame,
    date_from: str = "1997-01-01",
    date_to: str = "1998-01-01",
) -> DataFrame:
    """TPC-H Q12-shaped: per line class, how many lines shipped in the
    window belong to critical-priority orders vs the rest — the
    logistics SLA mart. The synthetic schema has no ``l_shipmode`` or
    commit/receipt dates, so the line's return flag is the class axis
    and the ship-date window replaces the receipt-date window — the
    SHAPE is the point: ONE pass over the fact join with CASE
    aggregation, never one pass per priority class.

    Exactness: both outputs are integer conditional counts (count_if),
    nothing to drift.

    Plan shape: the date window pushes into the lineitem scan; the
    orderkey join is the one shuffle (two fact-grain sides — at a
    bucketed-by-orderkey layout it would be co-located and
    shuffle-free); the CASE agg is map-side combinable to 3 rows.
    """
    li_f = lineitem.filter(
        (F.col("l_shipdate") >= F.lit(date_from).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(date_to).cast("timestamp"))
    ).select("l_orderkey", "l_returnflag")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li_f.join(
            orders.select("o_orderkey", "o_orderpriority"),
            li_f.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.count_if(high).cast("long").alias("high_priority_count"),
            F.count_if(~high).cast("long").alias("low_priority_count"),
        )
        .orderBy("l_returnflag")
    )


def dominant_part_suppliers(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    name_prefix: str = "blue",
    date_from: str = "1997-01-01",
    date_to: str = "1998-01-01",
) -> DataFrame:
    """TPC-H Q20-shaped: the nested-semi-join availability shape —
    suppliers who DOMINATED a part's shipments in the window (moved
    more than half of that part's total windowed quantity), for parts
    whose name carries a prefix. The synthetic schema has no partsupp
    availability column, so the >50%-of-volume test replaces
    ``ps_availqty > 0.5·qty``; the nesting is identical: part-name
    semi-join → per-(part, supplier) aggregate compared against a
    per-part scalar → semi-join into supplier → dim join for output.

    Exactness: quantities are integer-valued doubles cast to BIGINT
    at scan, so every sum is exact and the dominance test is a pure
    integer cross-multiplication (2·supplier_qty > part_qty — no 0.5
    float multiply, the weighted_price_median lesson).

    Plan shape: the name filter prunes part to a broadcast semi-join;
    the date window pushes into the fact scan; ONE shuffle builds the
    (part, supplier) grain and the per-part total is a WINDOW sum
    over it (a per_part re-aggregate + join formulation computes the
    (part, supplier) aggregate twice unless exchange reuse happens to
    fire — caught by the round-8 plan test counting FileScans);
    supplier and nation broadcast at the end.
    """
    from pyspark.sql import Window
    part_f = part.filter(F.col("p_name").like(f"{name_prefix}%")).select(
        "p_partkey"
    )
    li_f = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(date_from).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(date_to).cast("timestamp"))
        )
        .join(
            F.broadcast(part_f),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .select(
            "l_partkey",
            "l_suppkey",
            F.col("l_quantity").cast("long").alias("__qty"),
        )
    )
    per_ps = li_f.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("__qty").cast("long").alias("__sq")
    )
    # per-part total as a window sum over the (part, supplier) grain:
    # integer sum (order-free), one shuffle, the aggregate computed
    # exactly once.
    w = Window.partitionBy("l_partkey")
    dominant = per_ps.withColumn(
        "__tq", F.sum("__sq").over(w).cast("long")
    ).filter(F.lit(2) * F.col("__sq") > F.col("__tq"))
    per_supp = dominant.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_dominant_parts")
    )
    return (
        per_supp.join(
            F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "s_suppkey",
            "s_name",
            F.col("n_name").alias("nation_name"),
            "n_dominant_parts",
        )
        .orderBy("s_suppkey")
    )


def orders_status_cube(orders: DataFrame) -> DataFrame:
    """Full CUBE over (status, order year) with ``grouping_id`` — the
    one grouping-set variant the registry lacked (ROLLUP landed with
    ``order_priority_rollup``, explicit GROUPING SETS with
    ``multi_grain_bars``): all four aggregation grains of the order
    book in ONE pass, each row tagged with its grain bit-mask the way
    BI layers route cube cells.

    Exactness: counts BIGINT; revenue follows the money rule
    (DECIMAL(18,2) sum, round, cast double last). ``grouping_id`` is
    the standard-SQL bit mask (first cube column = most significant
    bit) on both engines. NULL group cells sort NULLS FIRST explicitly
    — Spark's ascending default — so the DuckDB twin (NULLS LAST by
    default) states it.

    100 TB shape: CUBE compiles to ONE scan + Expand(4 grains) into a
    single map-side-combinable aggregate — versus 4 separate
    scan+aggregate jobs; the Expand multiplies rows BEFORE the partial
    aggregate, so the shuffle carries only group-grain partials.
    """
    base = orders.select(
        "o_orderstatus",
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("__price"),
    )
    return (
        base.cube("o_orderstatus", "order_year")
        .agg(
            F.grouping_id().cast("long").alias("grouping_id"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum("__price"), 2).cast("double").alias("total_revenue"),
        )
        .orderBy(
            "grouping_id",
            F.asc_nulls_first("o_orderstatus"),
            F.asc_nulls_first("order_year"),
        )
    )


ORDERS_STATUS_CUBE_SQL = """
WITH base AS (
    SELECT o_orderstatus,
        CAST(year(o_orderdate) AS BIGINT) AS order_year,
        CAST(o_totalprice AS DECIMAL(18,2)) AS price
    FROM orders
)
SELECT o_orderstatus, order_year,
    CAST(grouping(o_orderstatus, order_year) AS BIGINT) AS grouping_id,
    CAST(count(*) AS BIGINT) AS n_orders,
    CAST(round(sum(price), 2) AS DOUBLE) AS total_revenue
FROM base
GROUP BY CUBE (o_orderstatus, order_year)
ORDER BY grouping_id, o_orderstatus NULLS FIRST, order_year NULLS FIRST
"""


def part_abc_analysis(lineitem: DataFrame) -> DataFrame:
    """ABC (Pareto) revenue classification — the inventory-management
    mart: parts ranked by lifetime discounted revenue, class A = the
    head holding ≤ 80% of cumulative revenue, B = the next ≤ 95%
    band, C = the tail; reported per class (count, revenue, share).
    Parts with no lineitem rows have no revenue and are out of scope.

    Exactness: revenue per part follows the money rule (DECIMAL(18,2)
    × DECIMAL(8,2), order-free sums); the class boundary is decided
    by EXACT decimal cross-multiplication (cum·5 ≤ tot·4 for A,
    cum·20 ≤ tot·19 for B) so no float ever touches a threshold; the
    output share is one double division, 6 dp.

    100 TB shape: one fact aggregate to part grain, then the
    distributed prefix-SUM twin of the repo's two-level range-rank —
    ``repartitionByRange`` on (revenue desc, part), a local running
    DECIMAL sum per partition, and a parallelism-sized per-partition
    total frame whose strict-prefix sums (and grand total) broadcast
    back. Per PERF.md lesson 8 the ranged+pid frame is CACHED (its
    lineage is an aggregate, not a plain scan — the pid assignment
    must be evaluated once); released via the `_cached_inputs`
    contract / `_materialize_and_release` (3-row output).
    """
    from ..functions.core import round_away, single_partition_key

    rev = lineitem.groupBy(F.col("l_partkey").alias("part")).agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1) - F.col("l_discount")).cast("decimal(8,2)")
        )
        .cast("decimal(30,4)")
        .alias("__r")
    )
    par = lineitem.sparkSession.sparkContext.defaultParallelism
    ranged = (
        rev.repartitionByRange(par, F.desc("__r"), F.asc("part"))
        .withColumn("__pid", F.spark_partition_id())
        .cache()
    )
    w_loc = (
        Window.partitionBy("__pid")
        .orderBy(F.desc("__r"), F.asc("part"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = ranged.withColumn("__lcum", F.sum("__r").over(w_loc))
    w_off = (
        Window.partitionBy(single_partition_key("__pid"))
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = (
        Window.partitionBy(single_partition_key("__pid"))
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    offs = (
        ranged.groupBy("__pid")
        .agg(F.sum("__r").alias("__psum"))
        .select(
            "__pid",
            F.coalesce(
                F.sum("__psum").over(w_off),
                F.lit(0).cast("decimal(38,4)"),
            ).alias("__off"),
            F.sum("__psum").over(w_all).alias("__tot"),
        )
    )
    cls = (
        local.join(F.broadcast(offs), "__pid")
        .withColumn("__cum", F.col("__off") + F.col("__lcum"))
        .withColumn(
            "abc_class",
            F.when(F.col("__cum") * 5 <= F.col("__tot") * 4, F.lit("A"))
            .when(F.col("__cum") * 20 <= F.col("__tot") * 19, F.lit("B"))
            .otherwise(F.lit("C")),
        )
    )
    out = (
        cls.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.round(F.sum("__r"), 2).cast("double").alias("class_revenue"),
            round_away(
                F.sum("__r").cast("double") / F.max("__tot").cast("double"),
                6,
            ).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )
    out._cached_inputs = (ranged,)
    return out


PART_ABC_SQL = """
WITH rev AS (
    SELECT l_partkey AS part,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(1 - l_discount AS DECIMAL(8,2)))
             AS DECIMAL(30,4)) AS r
    FROM lineitem GROUP BY 1
),
tot AS (SELECT sum(r) AS t FROM rev),
c AS (
    SELECT part, r,
        sum(r) OVER (ORDER BY r DESC, part ASC) AS cum
    FROM rev
),
cls AS (
    SELECT c.r, tot.t,
        CASE WHEN c.cum * 5 <= tot.t * 4 THEN 'A'
             WHEN c.cum * 20 <= tot.t * 19 THEN 'B'
             ELSE 'C' END AS abc_class
    FROM c, tot
)
SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
    CAST(round(sum(r), 2) AS DOUBLE) AS class_revenue,
    round(CAST(sum(r) AS DOUBLE) / CAST(max(t) AS DOUBLE), 6)
        AS revenue_share
FROM cls GROUP BY 1 ORDER BY 1
"""
