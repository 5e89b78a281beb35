"""The query registry: ``_QUERY_ORDER`` plus the module's ``q_<name>``
functions, each served behind ``configure_runtime`` with its table
parameters resolved; and the one memo, ``sources.io.memo``."""

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
    """A builder parameter is ``spark``, ``sf_dir`` or a testdata table;
    a misspelled table name fails the registry, not a later scan."""
    import pytest

    import __spark_entry__ as m

    def q_daily_bars(spark, lineitems):
        raise AssertionError("the registry must not build this")

    monkeypatch.setattr(m, "q_daily_bars", q_daily_bars)
    with pytest.raises(AssertionError, match="lineitems"):
        m.queries()


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

