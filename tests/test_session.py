"""The session factory's host-derived defaults."""

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
