"""Batch pipeline runner — the Airflow DAG chain collapsed to plan
composition (SURVEY.md §2.11, §3.1).

The reference's batch day: producer → Kafka → MinIO CSV → spark-submit
clean → MinIO parquet → row-at-a-time Snowflake MERGE → dbt run → dbt
test (``stock_market_batch_dag.py:20-74``,
``dbt_transformation_dag.py:52-134``). Here the same lifecycle is one
lazy-plan program: bronze events → silver bars (partitioned parquet)
→ gold marts (clustered parquet) → quality gate, each stage a
DataFrame function, so Catalyst prunes columns/predicates ACROSS
stage boundaries (the dbt-ephemeral trick, for free) and nothing is
materialized except the zones we choose to persist.

Upsert semantics at the silver boundary use operators/upsert.py
(latest-wins MERGE) so re-running a day is idempotent — the
reference's loader re-MERGEs row-by-row for the same effect.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..operators.bars import bars_from_events, filter_clean_bars
from ..operators.performance import stock_performance
from ..operators.summary import daily_summary
from ..operators.upsert import merge_upsert
from ..sources.io import load_table, write_clustered, write_parquet
from .checks import CheckReport, daily_bars_checks, validate


@dataclass
class PipelineResult:
    silver_rows: int
    performance_rows: int
    summary_rows: int
    checks: CheckReport


def run_batch_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_root: str,
    incremental: bool = False,
) -> PipelineResult:
    """events → silver daily bars → gold performance + summary, gated.

    ``incremental=True`` merges today's bars into an existing silver
    zone (latest-wins by batch partition) instead of overwriting —
    the S8 MERGE path exercised end-to-end.
    """
    events = load_table(spark, sf_dir, "events")
    bars = filter_clean_bars(bars_from_events(events))

    silver_path = f"{out_root}/silver/daily_bars"
    # Read the zone with the schema in hand (no footer-reading job); a
    # partitioned zone reads its partition column last.
    silver_schema = StructType(
        [f for f in bars.schema if f.name != "symbol"] + [bars.schema["symbol"]]
    )
    if incremental:
        try:
            existing = spark.read.schema(silver_schema).parquet(silver_path)
        except Exception:  # noqa: BLE001 — first run, zone absent
            existing = None
        if existing is not None:
            bars = merge_upsert(
                existing, bars, keys=["symbol", "trade_date"], version_col="n_trades"
            )
            # Never overwrite a path the lazy plan still reads: a
            # shuffle-stage retry would re-scan files the overwrite
            # already deleted. Land in a temp zone and swap.
            import os
            import shutil

            tmp = f"{silver_path}__staging"
            write_parquet(bars, tmp, mode="overwrite", partition_cols=["symbol"])
            old = f"{silver_path}__old"
            os.rename(silver_path, old)
            os.rename(tmp, silver_path)
            shutil.rmtree(old)
        else:
            write_parquet(bars, silver_path, mode="overwrite", partition_cols=["symbol"])
    else:
        write_parquet(bars, silver_path, mode="overwrite", partition_cols=["symbol"])
    silver = spark.read.schema(silver_schema).parquet(silver_path)

    report = validate(
        silver, daily_bars_checks(), unique_keys=[["symbol", "trade_date"]]
    )
    if not report.ok:
        raise ValueError(f"quality gate failed: {report.failures}")

    perf = stock_performance(silver)
    perf_path = f"{out_root}/gold/stock_performance"
    write_clustered(perf, perf_path, cluster_cols=["symbol", "trade_date"])
    perf_out = spark.read.schema(perf.schema).parquet(perf_path)

    summ = daily_summary(perf_out)
    summ_path = f"{out_root}/gold/daily_summary"
    write_clustered(summ, summ_path, cluster_cols=["trade_date"])

    return PipelineResult(
        # the gate already counted the silver frame
        silver_rows=report.total_rows,
        performance_rows=perf_out.count(),
        summary_rows=spark.read.schema(summ.schema).parquet(summ_path).count(),
        checks=report,
    )
