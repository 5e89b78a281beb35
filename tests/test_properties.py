"""Property-based tests (hypothesis) for the engine's invariants."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

_price = st.floats(
    min_value=0.01, max_value=1e5, allow_nan=False, allow_infinity=False
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    closes=st.lists(_price, min_size=2, max_size=20),
)
def test_returns_identity_and_density(spark, closes):
    """daily_return_pct reconstructs close from prev_close; row numbers
    are dense 1..n per symbol regardless of input order."""
    from stock_market_data_pipeline_v2_spark.operators.returns import daily_returns

    rows = [
        Row(
            symbol="S",
            trade_date=f"2024-{(i // 28) + 1:02d}-{(i % 28) + 1:02d}",
            open_price=c,
            high_price=c * 1.01,
            low_price=c * 0.99,
            close_price=c,
            volume=1,
        )
        for i, c in enumerate(closes)
    ]
    import random

    random.Random(0).shuffle(rows)  # input order must not matter
    bars = spark.createDataFrame(rows).withColumn("trade_date", F.to_date("trade_date"))
    out = daily_returns(bars).orderBy("trade_date").collect()
    assert [r.symbol_row_num for r in out] == list(range(1, len(closes) + 1))
    for prev, cur in zip(out, out[1:]):
        assert cur.prev_close_price == prev.close_price
        if cur.daily_return_pct is not None and prev.close_price:
            reconstructed = prev.close_price * (1 + cur.daily_return_pct / 100)
            assert abs(reconstructed - cur.close_price) <= prev.close_price * 1e-4 / 2


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 3), st.integers(0, 1000)),
        min_size=1,
        max_size=40,
    )
)
def test_merge_upsert_one_row_per_key_max_version(spark, data):
    from stock_market_data_pipeline_v2_spark.operators.upsert import merge_upsert

    rows = [Row(k1=a, k2=b, version=v, payload=f"{a}-{b}-{v}") for a, b, v in data]
    df = spark.createDataFrame(rows)
    half = len(rows) // 2
    existing = spark.createDataFrame(rows[:half] or [rows[0]])
    updates = spark.createDataFrame(rows[half:] or [rows[0]])
    out = merge_upsert(existing, updates, keys=["k1", "k2"], version_col="version").collect()
    seen = {}
    for r in out:
        assert (r.k1, r.k2) not in seen, "duplicate key in merge output"
        seen[(r.k1, r.k2)] = r.version
    expected_max = {}
    for a, b, v in data:
        expected_max[(a, b)] = max(expected_max.get((a, b), -1), v)
    assert seen == expected_max


def test_retention_filter(spark):
    from stock_market_data_pipeline_v2_spark.operators.realtime import stage_realtime

    analytics = spark.createDataFrame(
        [
            Row(
                symbol="A",
                window_start="2024-01-01 09:00:00",
                window_end="2024-01-01 09:15:00",
                ma_15m=1.0,
                ma_1h=1.0,
                volatility_15m=0.1,
                volume_sum_15m=10,
            )
        ]
    ).withColumns(
        {
            "window_start": F.to_timestamp("window_start"),
            "window_end": F.to_timestamp("window_end"),
        }
    )
    assert stage_realtime(analytics).count() == 1
    # 2024 data is older than any small retention horizon from "now"
    assert stage_realtime(analytics, retention_days=90).count() == 0


def test_as_of_join_semantics(spark):
    from stock_market_data_pipeline_v2_spark.operators.joins import as_of_join

    left = spark.createDataFrame(
        [
            Row(k="A", ts=1, payload="before-any"),
            Row(k="A", ts=5, payload="exact-match"),
            Row(k="A", ts=9, payload="between"),
            Row(k="B", ts=9, payload="other-key"),
        ]
    )
    right = spark.createDataFrame(
        [
            Row(k="A", rts=5, rv="r5"),
            Row(k="A", rts=7, rv="r7"),
            Row(k="B", rts=100, rv="r100"),
        ]
    )
    out = {
        (r.k, r.ts): r.rv
        for r in as_of_join(
            left, right, keys=["k"], left_ts="ts", right_ts="rts", right_cols=["rv"]
        ).collect()
    }
    assert out[("A", 1)] is None  # no right row at or before
    assert out[("A", 5)] == "r5"  # equality counts (right sorts first)
    assert out[("A", 9)] == "r7"  # latest at-or-before
    assert out[("B", 9)] is None  # per-key isolation


@given(
    st.lists(
        st.floats(
            min_value=-1e9,
            max_value=1e9,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=40,
    ),
    st.integers(min_value=0, max_value=6),
)
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_round_away_matches_duckdb_exactly(spark, values, scale):
    """The exactness keystone, property-tested: functions/core.py:
    round_away must agree bit-for-bit with DuckDB's round() on
    arbitrary doubles and scales — every oracle-gated money/ratio
    column rests on this. Its SQL-text form is checked the same way."""
    import duckdb

    from stock_market_data_pipeline_v2_spark.functions.core import (
        round_away,
        round_away_sql,
    )

    df = spark.createDataFrame([Row(i=i, x=float(v)) for i, v in enumerate(values)])
    rows = df.select(
        "i",
        round_away(F.col("x"), scale).alias("y"),
        F.expr(round_away_sql("x", scale)).alias("z"),
    ).collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", [(i, float(v)) for i, v in enumerate(values)])
    expect = dict(con.execute(f"SELECT i, round(x, {scale}) FROM t").fetchall())
    for r in rows:
        for got in (r.y, r.z):
            assert got == expect[r.i] or (
                got != got and expect[r.i] != expect[r.i]
            ), (values[r.i], scale, got, expect[r.i])


@pytest.mark.parametrize("digits", range(7))
def test_round_away_sql_is_the_column_expression(spark, digits):
    """Each helper's SQL text parses to the expression tree its Column
    form builds, operand order included, so swapping one spelling for the
    other leaves every plan as it was (PERF.md lesson 12)."""
    from stock_market_data_pipeline_v2_spark.functions.core import (
        null_if_zero_divide,
        null_if_zero_divide_sql,
        round_away,
        round_away_sql,
    )

    df = spark.createDataFrame([(1.5, -2.0)], "x double, y double")

    def analyzed(col):
        plan = df.select(col.alias("o"))._jdf.queryExecution().analyzed()
        return plan.expressions().head().child()

    x, y = F.col("x"), F.col("y")
    pairs = [
        (round_away(x, digits), round_away_sql("x", digits)),
        (
            round_away(null_if_zero_divide(x - y, y) * 100, digits),
            round_away_sql(f"{null_if_zero_divide_sql('x - y', 'y')} * 100", digits),
        ),
        (null_if_zero_divide(x, y * 2.0), null_if_zero_divide_sql("x", "y * 2.0D")),
    ]
    for column, sql in pairs:
        want, got = analyzed(column), analyzed(F.expr(sql))
        assert want.semanticEquals(got), (want.toString(), got.toString())
        assert want.toString() == got.toString()


def test_rows_only_queries_are_deterministic(spark):
    """Every query WITHOUT a DuckDB oracle must still be bit-stable:
    run twice at sf0.001 and compare full sorted results. The oracle
    gate pins the other 85; this guards the rows-only 15 against a
    rand()/partitioning dependency slipping in (approximate tiers are
    seeded-deterministic BY DESIGN here — recall is bounded, results
    are not allowed to wobble)."""
    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    qs, os_ = m.queries(), m.oracle_sql()
    rows_only = sorted(set(qs) - set(os_))
    assert rows_only  # the 15 documented ones
    for name in rows_only:
        a = [tuple(r) for r in qs[name](spark, sf).collect()]
        b = [tuple(r) for r in qs[name](spark, sf).collect()]
        key = lambda t: tuple((x is None, str(x)) for x in t)  # noqa: E731
        assert sorted(a, key=key) == sorted(b, key=key), name


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(
            st.sampled_from(["A", "B"]),              # brand
            st.integers(min_value=1, max_value=8),    # price (small domain → ties)
            st.integers(min_value=1, max_value=8),    # size
        ),
        min_size=1,
        max_size=30,
    )
)
def test_skyline_matches_brute_force_dominance(spark, pts):
    """part_skyline on arbitrary point sets (duplicates, full ties,
    single-brand, colinear) must equal the O(n²) dominance
    definition exactly — per brand, a distinct (price, size) survives
    iff no other same-brand point is ≤ in both and < in one."""
    from stock_market_data_pipeline_v2_spark.operators.dedup import (
        release_cached_inputs,
    )
    from stock_market_data_pipeline_v2_spark.operators.skyline import (
        part_skyline,
    )

    rows = [
        Row(p_partkey=i + 1, p_brand=b, p_retailprice=float(p), p_size=s)
        for i, (b, p, s) in enumerate(pts)
    ]
    df = spark.createDataFrame(rows)
    out = part_skyline(df)
    got = {(r.brand, r.price, r.size): (r.n_parts, r.min_partkey)
           for r in out.collect()}
    release_cached_inputs(out)

    distinct = {(b, float(p), s) for b, p, s in pts}
    expect = {}
    for b, p, s in distinct:
        dominated = any(
            b2 == b and p2 <= p and s2 <= s and (p2 < p or s2 < s)
            for (b2, p2, s2) in distinct
        )
        if not dominated:
            members = [
                i + 1
                for i, (b3, p3, s3) in enumerate(pts)
                if b3 == b and float(p3) == p and s3 == s
            ]
            expect[(b, p, s)] = (len(members), min(members))
    assert got == expect


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=-5, max_value=15)),
            st.sampled_from(["A", "B", "X"]),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_quality_report_counts_arbitrary_data(spark, vals):
    """quality_report_frame must count violations exactly for any
    null/enum/range pattern: NULLs violate not_null but are EXEMPT
    from between/accepted (dbt semantics)."""
    from stock_market_data_pipeline_v2_spark.plans.checks import (
        expect_accepted_values,
        expect_between,
        expect_not_null,
        quality_report_frame,
    )

    rows = [Row(k=k, flag=f) for k, f in vals]
    df = spark.createDataFrame(rows, "k int, flag string")
    rep = {
        r.check_name: r
        for r in quality_report_frame(
            df,
            "t",
            [
                expect_not_null("k"),
                expect_between("k", 0, 10),
                expect_accepted_values("flag", ["A", "B"]),
            ],
        ).collect()
    }
    ks = [k for k, _ in vals]
    fs = [f for _, f in vals]
    assert rep["not_null:k"].violations == sum(1 for k in ks if k is None)
    assert rep["between:k[0,10]"].violations == sum(
        1 for k in ks if k is not None and not (0 <= k <= 10)
    )
    assert rep["accepted_values:flag"].violations == sum(
        1 for f in fs if f not in ("A", "B")
    )
    assert all(r.total_rows == len(vals) for r in rep.values())
