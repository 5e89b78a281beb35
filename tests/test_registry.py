"""The query registry: ``_QUERY_ORDER`` plus the module's ``q_<name>``
functions, each served behind ``configure_runtime`` with its table and
derived-input parameters resolved; the oracles and the bench headline
derived from it; and the one memo, ``sources.io.memo``."""

from __future__ import annotations


def test_registered_query_configures_session_on_memo_hit(spark):
    """The driver may hand over a session in any timezone. A registered
    query must reset it even when its plan comes from the memo."""
    import __spark_entry__ as m

    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    try:
        m.queries()["stock_performance"](spark, m.SF0001)
        spark.conf.set(key, "Asia/Tokyo")
        m.queries()["stock_performance"](spark, m.SF0001)
        assert spark.conf.get(key) == "UTC"
    finally:
        spark.conf.set(key, prev)


def test_queries_rejects_a_parameter_that_names_no_input(monkeypatch):
    """A builder parameter is ``spark``, ``sf_dir``, a testdata table or
    a derived input; a misspelled table or derived name fails the
    registry, not a later scan."""
    import pytest

    import __spark_entry__ as m

    def q_daily_bars(spark, lineitems, clean_bar):
        raise AssertionError("the registry must not build this")

    monkeypatch.setattr(m, "q_daily_bars", q_daily_bars)
    with pytest.raises(AssertionError, match="lineitems") as raised:
        m.queries()
    assert "'clean_bar'" in str(raised.value)


def test_memo_hit_resolves_no_inputs(spark, monkeypatch):
    """A derived input's own inputs are resolved only inside its memo
    build: once ``stock_performance`` is built, a registered call makes
    one memo lookup, adds no entry, loads no table and runs no ``d_*``
    build (an eager resolver would load ``events`` for ``clean_bars``)."""
    import functools

    import __spark_entry__ as m
    from stock_market_data_pipeline_v2_spark.sources import io

    m.queries()["stock_performance"](spark, m.SF0001)
    entries = len(io._MEMO)
    lookups, loads, builds = [], [], []

    def recording(calls, f, label):
        @functools.wraps(f)
        def wrapper(*args, **kwargs):
            calls.append(label(*args, **kwargs))
            return f(*args, **kwargs)

        return wrapper

    monkeypatch.setattr(m, "memo", recording(lookups, m.memo, lambda s, d, n, b: n))
    monkeypatch.setattr(
        m, "load_table", recording(loads, m.load_table, lambda s, d, n: n)
    )
    for name in [n for n in vars(m) if n.startswith("d_")]:
        f = getattr(m, name)
        monkeypatch.setattr(m, name, recording(builds, f, lambda *a, n=name, **k: n))

    m.queries()["stock_performance"](spark, m.SF0001)
    assert (lookups, loads, builds) == (["stock_performance"], [], [])
    assert len(io._MEMO) == entries


def test_derived_input_is_a_fresh_select_over_the_memo(spark, monkeypatch):
    """A memo can never leak execution state into a later caller: each
    call hands the builder its own ``select("*")`` over the stored
    DataFrame, never the object in ``io._MEMO``, so an action on one
    caller's frame leaves the next caller a fresh QueryExecution."""
    import __spark_entry__ as m
    from stock_market_data_pipeline_v2_spark.sources import io

    handed = []

    def q_daily_summary(stock_performance):
        handed.append(stock_performance)
        return stock_performance

    monkeypatch.setattr(m, "q_daily_summary", q_daily_summary)
    qs = m.queries()
    qs["daily_summary"](spark, m.SF0001).limit(1).collect()
    qs["daily_summary"](spark, m.SF0001)
    stored = io._MEMO[(spark.sparkContext.applicationId, m.SF0001, "stock_performance")]
    first, second = handed
    assert first is not stored and second is not stored and first is not second
    for df in handed:
        logical = df._jdf.queryExecution().logical()
        assert logical.getClass().getSimpleName() == "Project"
        assert logical.child().equals(stored._jdf.queryExecution().analyzed())
    assert not first._jdf.queryExecution().equals(second._jdf.queryExecution())


def test_one_module_level_memo():
    """Build-once state has one home, ``sources.io._MEMO``: no other
    ``*_MEMO``/``*_CACHE`` dict in the entry module or in ``sources.io``."""
    import __spark_entry__ as m
    from stock_market_data_pipeline_v2_spark.sources import io

    memos = [
        (mod.__name__, k)
        for mod in (m, io)
        for k, v in vars(mod).items()
        if isinstance(v, dict) and (k.endswith("_MEMO") or k.endswith("_CACHE"))
    ]
    assert memos == [(io.__name__, "_MEMO")]


def test_every_query_but_the_rows_only_ones_has_an_oracle():
    import __spark_entry__ as m

    assert set(m.queries()) - set(m.oracle_sql()) == set(m._ROWS_ONLY)


def test_oracle_overrides_only_where_the_convention_does_not_reach():
    """An override names a registered, oracle-gated query whose oracle
    is not ``oracles.<NAME>_SQL``; otherwise the convention serves it."""
    import __spark_entry__ as m
    from stock_market_data_pipeline_v2_spark import oracles

    overrides = m._oracle_overrides()
    assert set(overrides) <= set(m.queries()) - set(m._ROWS_ONLY)
    redundant = [
        n
        for n, sql in overrides.items()
        if getattr(oracles, f"{n.upper()}_SQL", None) == sql
    ]
    assert not redundant


def test_bench_headline_is_the_registry_minus_not_headline():
    import bench

    import __spark_entry__ as m

    qs = m.queries()
    assert set(bench.NOT_HEADLINE) <= set(qs)
    assert len([n for n in qs if n not in bench.NOT_HEADLINE]) == 189


# Round trips of one warm registered build at sf0.01. Built from SQL
# text they take 237, 126, 42 and 58; composed through the Column API
# they took 3,037, 1,427, 753 and 466.
MART_ROUND_TRIP_BOUNDS = {
    "realtime_signals": 600,
    "daily_summary": 250,
    "bollinger_bands": 150,
    "daily_vwap": 150,
}


def test_mart_builds_take_few_round_trips(spark):
    """The mart reads that build their plan on every call write each
    projection and aggregate list as SQL text, parsed in one call, not
    composed node by node over py4j (PERF.md lesson 12)."""
    import __spark_entry__ as m
    from stock_market_data_pipeline_v2_spark.session import count_round_trips

    qs = m.queries()
    sf_dir = "/root/testdata/sf0.01"
    counts = {}
    for name in MART_ROUND_TRIP_BOUNDS:
        qs[name](spark, sf_dir)  # builds the memo entries it reads
        with count_round_trips() as rt:
            qs[name](spark, sf_dir)
        counts[name] = rt.n
    assert all(counts[n] <= b for n, b in MART_ROUND_TRIP_BOUNDS.items()), counts
