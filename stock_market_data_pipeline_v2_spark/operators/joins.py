"""Join operators (SURVEY.md §2.3).

J1 — interval/range left join: assign each fine-grained window to its
containing coarse window (reference:
``spark_stream_batch_processor.py:64-72``). Kept generic: equi keys +
``left_ts ∈ [right_start, right_start + interval)``.

Scale note: a plain range-predicate join plans as
BroadcastNestedLoopJoin (small right side) or sort-merge with a
post-filter — both explode at 100 TB. :func:`interval_left_join`
therefore *derives* the coarse bucket on the left side
(``F.window(left_ts, interval).start``) and joins on
``keys + [bucket == right_start]`` — an EQUI join Catalyst can
hash/sort-merge-partition correctly. This is semantically identical
whenever the right side is keyed by aligned tumbling-window starts
(true for the reference's 1-hour aggregates) and turns an O(n·m)
range join into an O(n) co-partitioned join.

J2 (equi inner join, ``mart_stock_performance.sql:120-124``) is
exercised via :func:`broadcast_dim_join` and the dim-enrichment query
— in the performance mart itself the join is eliminated (see
operators/performance.py).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_left_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_start: str,
    interval: str = "1 hour",
) -> DataFrame:
    """J1 as an equi join on the derived containing-bucket start."""
    lhs = left.withColumn("__bucket", F.expr(f"window(`{left_ts}`, '{interval}').start"))
    rhs = right.withColumnRenamed(right_start, "__bucket")
    return lhs.join(rhs, [*keys, "__bucket"], "left").drop("__bucket")


def interval_left_join_range(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_start: str,
    interval: str = "1 hour",
) -> DataFrame:
    """Literal J1 shape (range predicate) — reference parity form.

    Kept for genuinely unaligned right sides; prefer
    :func:`interval_left_join` when buckets are tumbling-aligned. The
    right side's keys are renamed first, so each key predicate compares
    two distinct attributes even when both sides share one lineage.
    """
    rhs = right.withColumnsRenamed({k: f"__right_{k}" for k in keys})
    cond = F.lit(True)
    for k in keys:
        cond = cond & (left[k] == rhs[f"__right_{k}"])
    cond = (
        cond
        & (left[left_ts] >= rhs[right_start])
        & (left[left_ts] < rhs[right_start] + F.expr(f"INTERVAL {interval}"))
    )
    joined = left.join(rhs, cond, "left")
    return joined.drop(*[f"__right_{k}" for k in keys]).drop(rhs[right_start])


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str],
) -> DataFrame:
    """As-of (backward) join: for each left row, the latest right row
    with ``right_ts <= left_ts`` per key — the canonical tick→bar /
    trade→quote alignment operator Spark lacks natively.

    Implemented with the union+window trick instead of a range join:
    tag both sides, union, sort per key by (ts, side) with the right
    side first on ties, and carry the right payload forward with
    ``last_value(…, ignoreNulls)``. One shuffle + one sort — O(n log n)
    per key and no nested-loop/range join, so it scales like any
    window operator (a range join would be quadratic per key; Spark's
    own planner falls back to BroadcastNestedLoop for range-only
    predicates).

    ``right_cols`` are the payload columns carried from the right side
    (they must not collide with left column names).
    """
    left_types = dict(left.dtypes)
    right_types = dict(right.dtypes)
    left_value_cols = [c for c in left.columns if c not in keys and c != left_ts]
    l_tag = left.select(
        *[F.col(k) for k in keys],
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *[F.col(c) for c in left_value_cols],
        *[F.lit(None).cast(right_types[c]).alias(c) for c in right_cols],
    )
    r_tag = right.select(
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[F.lit(None).cast(left_types[c]).alias(c) for c in left_value_cols],
        *[F.col(c) for c in right_cols],
    )
    from pyspark.sql import Window

    unioned = l_tag.unionByName(r_tag)
    w = (
        Window.partitionBy(*keys)
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "*",
        *[
            F.last(F.when(F.col("__side") == 0, F.col(c)), ignorenulls=True)
            .over(w)
            .alias(f"__asof_{c}")
            for c in right_cols
        ],
    )
    return carried.filter(F.col("__side") == 1).select(
        *[F.col(k) for k in keys],
        F.col("__ts").alias(left_ts),
        *left_value_cols,
        *[F.col(f"__asof_{c}").alias(c) for c in right_cols],
    )


def broadcast_dim_join(
    fact: DataFrame,
    dim: DataFrame,
    keys: Sequence[str],
    how: str = "left",
) -> DataFrame:
    """S14/J2: enrich a fact table with a small dimension, broadcast.

    The reference ships a ticker dimension seed it never joins
    (``dbt/seeds/sp500_tickers.csv``, SURVEY.md §2.1 S14); this is the
    broadcast equi-join it implies. Explicit ``F.broadcast`` removes
    the shuffle entirely — the dim rides to every executor.
    """
    return fact.join(F.broadcast(dim), list(keys), how)


def salted_skew_join(
    fact: DataFrame,
    dim: DataFrame,
    keys: Sequence[str],
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigated equi-join for when BOTH automatic remedies run
    out: the dim side is too large to broadcast and AQE's skew split
    can't apply (it only rebalances sort-merge partitions of a
    completed map stage — not streaming joins, not the join feeding a
    same-key aggregation, not an engine without AQE). A hot key
    (AAPL, the empty-string user, the null-ish default) would
    otherwise pin its entire fact volume on one task.

    Mechanics: each fact row draws a salt in [0, n_salts) — cheap
    per-row hash of a physical-plan row id; ANY distribution is
    correct, uniform is ideal — while the dim side replicates each of
    its rows once per salt via a bounded ``explode``. Joining on
    (keys…, salt) splits every hot key across ``n_salts`` tasks. Cost
    is explicit and bounded: the dim shuffle grows n_salts×, the fact
    shuffle is unchanged — the right trade exactly when fact-per-key
    ≫ dim-per-key, which is what key skew means. Result equality with
    the plain join is regression-locked in tests/test_plan_shapes.py.

    ``how`` covers inner/left (the fact-preserving forms); for
    right/full semantics flip the call — the salted side must be the
    skewed probe side.
    """
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(f"salted_skew_join supports inner/left, got {how!r}")
    if "__salt" in fact.columns or "__salt" in dim.columns:
        raise ValueError(
            "salted_skew_join: input already carries a __salt column; "
            "rename it — the salt working column would collide and be "
            "silently dropped from the result"
        )
    salted_fact = fact.withColumn(
        "__salt",
        F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts)).cast(
            "int"
        ),
    )
    salted_dim = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return salted_fact.join(
        salted_dim, [*keys, "__salt"], how
    ).drop("__salt")
