"""Upsert / MERGE semantics on plain parquet (SURVEY.md §2.1 S8, §2.3 J3).

The reference upserts row-at-a-time with Snowflake ``MERGE ON
(SYMBOL, DATE)`` — matched→update, not-matched→insert
(``load_to_snowflake.py:40-54,87-91``). On an immutable columnar lake
the same contract is a *distributed* latest-wins dedup:

    union(existing, updates) → one row per key, preferring
    (a) higher version, then (b) the updates side on version ties.

That is MERGE's exact observable semantics for a full-snapshot
overwrite, without per-row round trips — the reference's loader is
O(rows) network calls; this is one shuffle.

Scale: ``row_number`` over (key → version desc) is a single hash
repartition by key. For incremental 100 TB operation, write with
``write_clustered(partition_cols=[...])`` and overwrite only affected
partitions (dynamic partition overwrite), or swap the sink for a
Delta/Iceberg ``MERGE INTO`` — the plan shape here is identical.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def merge_upsert(
    existing: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    version_col: str,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Latest-wins merge: one output row per key.

    Higher ``version_col`` wins; on exact version ties the updates
    side wins (MERGE matched→update semantics), then
    ``tiebreak_cols`` (desc) — pass a unique id so same-side version
    ties resolve deterministically instead of by partition order.
    """
    tagged = existing.withColumn("__src", F.lit(0)).unionByName(
        updates.withColumn("__src", F.lit(1))
    )
    w = Window.partitionBy(*keys).orderBy(
        F.col(version_col).desc(),
        F.col("__src").desc(),
        *[F.col(c).desc() for c in tiebreak_cols],
    )
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def latest_by_key(
    df: DataFrame, keys: Sequence[str], order_cols: Sequence[str]
) -> DataFrame:
    """Keep the newest row per key (generalized P7 dedup with explicit
    ordering instead of ``dropDuplicates``'s arbitrary pick)."""
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def scd2_history(
    updates: DataFrame,
    key_col: str = "user_id",
    attr_col: str = "status",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Slowly-changing-dimension TYPE 2 from a change stream — the
    dbt ``snapshot`` contract (timestamp strategy) the reference's dbt
    project would use for dimension history, as one declarative plan:
    per key, each ATTRIBUTE CHANGE opens a version row with
    ``valid_from`` = its timestamp, ``valid_to`` = the next change's
    timestamp (null while current), a 1-based ``version`` and an
    ``is_current`` flag. Consecutive updates with the SAME attribute
    value collapse into one version (SCD2 versions on change, not on
    touch).

    Determinism: update order is (ts, tiebreak) — pass a unique id so
    same-timestamp updates order identically everywhere; the change
    filter compares against the PREVIOUS update in that total order.
    Scale shape: ONE hash repartition by key feeds both windows (same
    partition/order spec → one exchange+sort, the stock_performance
    lesson); state per key is a lag/lead cursor, never a buffer. At
    warehouse scale the output lands via merge_upsert keyed on
    (key, valid_from) — closing a version rewrites only its row.
    """
    w = Window.partitionBy(key_col).orderBy(F.asc(ts_col), F.asc(tiebreak_col))
    changed = (
        updates.withColumn("__prev", F.lag(attr_col).over(w))
        .filter(F.col("__prev").isNull() | (F.col(attr_col) != F.col("__prev")))
        .drop("__prev")
    )
    w2 = Window.partitionBy(key_col).orderBy(F.asc(ts_col), F.asc(tiebreak_col))
    return changed.select(
        F.col(key_col),
        F.col(attr_col),
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
        F.row_number().over(w2).cast("long").alias("version"),
    ).withColumn("is_current", F.col("valid_to").isNull())


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """CDC between two table snapshots: one (key, change_type) row per
    key that changed — ``insert`` (key only in new), ``delete`` (only
    in old), ``update`` (present in both, any compared column
    differs). Unchanged keys are omitted. This is how change feeds
    are bootstrapped when the upstream system only hands you full
    snapshots (the reference's warehouse loads are full-table MERGEs
    — snapshot_diff is the inverse: recover the delta so downstream
    consumers process O(changes), not O(table)).

    Spark-first plan: ONE full-outer shuffle join on the key (both
    sides hash-partition once; at a bucketed production layout even
    that exchange disappears). Change detection is column-by-column
    null-safe equality (``<=>``) — never a concat-and-hash, whose
    cross-engine number formatting would make parity accidental.
    """
    o = old.select(*keys, *compare_cols)
    n = new.select(*keys, *compare_cols)
    for c in (*keys, *compare_cols):
        o = o.withColumnRenamed(c, f"__o_{c}")
        n = n.withColumnRenamed(c, f"__n_{c}")
    # Null-safe key equality (<=>): a null key must COMPARE across
    # snapshots, not surface as a spurious insert+delete pair — this
    # is a generic CDC API even though TPC-H keys are non-null. With
    # <=> a matched null key exists on both sides, so presence is
    # tracked by explicit marker columns, not key-nullness.
    o = o.withColumn("__o_present", F.lit(True))
    n = n.withColumn("__n_present", F.lit(True))
    cond = None
    for k in keys:
        eq = F.col(f"__o_{k}").eqNullSafe(F.col(f"__n_{k}"))
        cond = eq if cond is None else (cond & eq)
    joined = o.join(n, cond, "full_outer")
    old_present = F.col("__o_present").isNotNull()
    new_present = F.col("__n_present").isNotNull()
    same = None
    for c in compare_cols:
        eq = F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
        same = eq if same is None else (same & eq)
    out = joined.select(
        *[
            F.coalesce(F.col(f"__n_{k}"), F.col(f"__o_{k}")).alias(k)
            for k in keys
        ],
        F.when(~old_present, F.lit("insert"))
        .when(~new_present, F.lit("delete"))
        .when(~same, F.lit("update"))
        .alias("change_type"),
    ).filter(F.col("change_type").isNotNull())
    return out.orderBy(*keys)
