"""The session factory's host-derived defaults and its codegen cache."""

from __future__ import annotations

import pytest

from stock_market_data_pipeline_v2_spark.session import driver_memory


@pytest.mark.parametrize(
    ("mem_total_kb", "heap"),
    [
        (16456384, "7g"),  # a 15.7 GiB host: half is 7.8 GiB, rounded down
        (8 << 20, "4g"),
        (64 << 20, "16g"),  # capped
        (1 << 20, "1g"),  # never below 1g
    ],
)
def test_driver_heap_defaults_to_half_the_host(
    tmp_path, monkeypatch, mem_total_kb, heap
):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(f"MemTotal:       {mem_total_kb} kB\nMemFree:  1024 kB\n")
    assert driver_memory(str(meminfo)) == heap


def test_driver_heap_from_the_environment_wins(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       67108864 kB\n")
    assert driver_memory(str(meminfo)) == "3g"


# The seven reads of perfbench's mart_query workload.
MART_KINDS = (
    "stock_performance", "daily_summary", "realtime_signals",
    "rolling_indicators", "bollinger_bands", "macd", "daily_vwap",
)


def test_warm_mart_reads_compile_nothing(spark):
    """A warm pass over the mart reads reuses every compiled class.

    Their working set is larger than Spark's default codegen cache (100
    classes), whose LRU then evicts and recompiles most of it on every
    pass; ``get_spark`` sizes the cache to hold it. A failure here means
    the working set outgrew the cap."""
    import __spark_entry__ as entry

    qs = entry.queries()
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles_in_one_pass() -> int:
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        for kind in MART_KINDS:
            qs[kind](spark, "/root/testdata/sf0.01").write.format("noop").mode(
                "overwrite"
            ).save()
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    compiles_in_one_pass()
    compiles_in_one_pass()
    assert compiles_in_one_pass() == 0
