"""Scalar helpers (SURVEY.md §2.7).

The reference guards divisions two ways: ``nullif(d, 0)`` inline
(≈10 uses, e.g. ``int_daily_returns.sql:38-46``) and the dbt macro
``safe_divide`` which COALESCEs to a default
(``dbt/macros/safe_divide.sql:1-7``). Both live here with explicit
modes. Everything is a Column-in/Column-out expression — Catalyst
constant-folds and codegens these; no UDFs.

``round_away`` and ``null_if_zero_divide`` also come as SQL text
(``round_away_sql``, ``null_if_zero_divide_sql``) for projections
written as one ``selectExpr`` list: Spark parses a whole list in one
call, where the Column forms build the same tree one py4j round trip
per node (PERF.md lesson 12). Each pair parses to the same expression
tree; ``tests/test_properties.py`` pins that. SQL literals are typed as
the Column forms type them: ``sql_double`` writes a DOUBLE (a bare
``0.5`` parses as DECIMAL).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def null_if_zero_divide(numerator: Column, denominator: Column) -> Column:
    """``num / nullif(den, 0)`` — NULL on zero denominator."""
    return numerator / F.nullif(denominator, F.lit(0))


def sql_double(value: float) -> str:
    """A DOUBLE literal in SQL text for ``value``: ``2.0D``, ``1e-05``
    (a bare ``2.0`` would parse as DECIMAL)."""
    text = repr(float(value))
    return text if "e" in text else f"{text}D"


def _operand(expr: str) -> str:
    """``expr`` as the operand of a binary operator: parenthesized
    unless it is a bare name. Only as needed: the parser decides what a
    ``(`` opens by scanning to its matching ``)``, and caches a DFA
    state per token of every group it has seen (lesson 12)."""
    return expr if expr.isidentifier() else f"({expr})"


def null_if_zero_divide_sql(numerator: str, denominator: str) -> str:
    """SQL text of :func:`null_if_zero_divide` over SQL operands. Not
    parenthesized: wrap it where it is the right operand of ``*``,
    ``/`` or ``%``."""
    return f"{_operand(numerator)} / nullif({denominator}, 0)"


def safe_divide(numerator: Column, denominator: Column, default: float | None = 0.0) -> Column:
    """dbt macro parity (``dbt/macros/safe_divide.sql:1-7``):
    ``coalesce(num / nullif(den, 0), default)``."""
    out = null_if_zero_divide(numerator, denominator)
    return out if default is None else F.coalesce(out, F.lit(default))


def round_away(col: Column, digits: int = 0) -> Column:
    """Round-half-away-from-zero computed on the binary double.

    Spark's ``F.round`` rounds the value's *shortest decimal string*
    (``BigDecimal.valueOf``), so ``round(-16.98625, 4)`` →
    ``-16.9863`` even though the stored double is
    ``-16.986249999...``; warehouse engines (Snowflake/DuckDB round on
    DOUBLE) round the binary value instead → ``-16.9862``. This
    helper reproduces the warehouse behavior with the identical
    floating-point operations (``x·10ⁿ``, ``+0.5``, ``floor``), making
    results bit-reproducible across engines. Pure Catalyst
    expressions — codegen-friendly, no UDF.
    """
    if isinstance(col, str):
        col = F.col(col)
    p = F.lit(float(10**digits))
    scaled = col * p
    return (
        F.when(col >= 0, F.floor(scaled + F.lit(0.5))).otherwise(
            -F.floor(-scaled + F.lit(0.5))
        )
        / p
    )


def round_away_sql(expr: str, digits: int = 0) -> str:
    """SQL text of :func:`round_away` over the SQL operand ``expr``:
    the same tree, with the operand in the same three places. Not
    parenthesized, like :func:`null_if_zero_divide_sql`."""
    x, p = _operand(expr), sql_double(10**digits)
    return (
        f"CASE WHEN {x} >= 0 THEN floor({x} * {p} + 0.5D) "
        f"ELSE -floor(-({x} * {p}) + 0.5D) END / {p}"
    )


def count_if(predicate: Column) -> Column:
    """Conditional count (``mart_daily_summary.sql:30-36`` ``countif``)."""
    return F.count_if(predicate)


def single_partition_key(col: Column | str) -> Column:
    """An all-zero window partition key that SURVIVES the optimizer.

    Some windows are single-partition BY DESIGN — post-limit rank
    windows over ≤ k rows, cumulative sums over per-partition count
    tables (≤ parallelism rows), month-grain lag frames. Left with an
    empty partition spec they each emit WindowExec's "No Partition
    Defined" WARN on every run, burying the one case where that WARN
    is a real regression signal. A bare ``lit(0)`` doesn't help:
    Catalyst folds foldable partition expressions away (and
    ``col * 0`` folds too when ``col`` is non-nullable), restoring
    the empty spec. ``pmod(hash(col), 1)`` is always 0 and never
    null (``hash`` of NULL is the seed), works for any input type,
    and no simplification rule touches it — the spec stays non-empty
    and the WARN stays meaningful. Cost: one 32-bit hash per row on
    bounded-row frames.
    """
    if isinstance(col, str):
        col = F.col(col)
    return F.pmod(F.hash(col), F.lit(1))


def widen_if_narrow(df):  # type: ignore[no-untyped-def]
    """Repartition ``df`` to the session default parallelism ONLY when
    the scan yields fewer splits than that. At bench scale a few-MB
    table reads as 1-3 splits, which serializes every downstream
    CPU-heavy stage (Expand aggregates, Arrow kernels, gram passes);
    a 100 TB scan already yields thousands of splits and must NOT be
    gratuitously reshuffled (VERDICT r5 #2 — the repartition is
    conditional, never a fixed plan step). ``getNumPartitions()`` is
    plan metadata — no job runs. Shared by the dedup gram passes,
    the column profiler, and any operator whose per-row cost dwarfs
    one narrow-row shuffle.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df
