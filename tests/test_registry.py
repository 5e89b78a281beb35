"""The query registry: ``_QUERY_ORDER`` plus the module's ``q_<name>``
functions, each served behind ``configure_runtime``."""

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
