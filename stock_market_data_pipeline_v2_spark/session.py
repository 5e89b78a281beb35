"""SparkSession factory.

Replaces the per-job builder blocks of the reference
(``src/spark/jobs/spark_batch_processor.py:17-26`` and
``spark_stream_batch_processor.py:15-24``) with a single factory that
bakes in the settings every operator here relies on:

- ``spark.sql.session.timeZone=UTC`` — the reference stores
  TIMESTAMP_NTZ in Snowflake (``load_stream_to_snowflake.py:30-36``);
  UTC session time gives identical date/timestamp arithmetic.
- AQE on (coalesce + skew join) — at the 100 TB design point we rely
  on runtime re-planning instead of hand-tuned shuffle partition
  counts; local runs use SPARK_GRAFT_CPUS partitions.
- Arrow on — any `applyInPandas`/`mapInPandas` op (multimodal, ANN)
  moves data in columnar batches, never row-at-a-time pickling.
"""

from __future__ import annotations

import contextlib
import os
import tempfile
import threading
from collections.abc import Iterator

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "stock-market-data-pipeline-v2-spark"


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable configs to an externally created session.

    The correctness driver owns its own SparkSession; this makes the
    semantics (UTC arithmetic, AQE, Arrow) deterministic regardless of
    who built the session.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # (r13 optimization, guide §3.1/§1.1) AQE sort-merge→shuffled-hash
    # conversion is OFF by default again. r12 enabled 128m from a
    # two-process A/B, but the round-12 driver measured part_kcore and
    # part_triangles slower in BOTH its runs, and the round-13
    # INTERLEAVED A/B (arms alternating per run, 8 runs at local[32]
    # and 4 at local[8], tools/opt_ab_r13.py) reproduced it: with the
    # conf on, part_kcore med 6.68 vs 5.03 (32c) and 6.10 vs 3.84
    # (8c), part_triangles med 11.92 vs 8.33 (8c), and the ANN index
    # family 5-20% slower — the conversion's runtime re-planning cost
    # plus hash-build on the already-hinted graph joins' probe sides
    # loses to plain SMJ here. The per-join SHUFFLE_HASH hints the
    # graph family carries (measured wins, kept) already cover the
    # joins where hashing is right. Env-overridable for experiments.
    spark.conf.set(
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        os.environ.get("SPARK_GRAFT_SHJ_THRESHOLD", "0"),
    )
    # Testdata `events.ts` is parquet TIMESTAMP(NANOS) which Spark's
    # vectorized reader rejects; read as long and convert in
    # sources.io.load_table (micros truncation matches DuckDB's
    # ns→µs cast).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # InferFiltersFromGenerate turns explode(expr) into an extra
    # Filter(size(expr) > 0) whose predicate-pushdown INLINES the
    # full generator expression below every intermediate projection.
    # For computed arrays (LSH signatures, shingle sets) interpreted
    # eval then re-expands inlined aliases per element — measured
    # 14× on the ANN signature scan (6.7 s → 0.46 s). Every generate
    # in this engine is over a computed array (the filter can never
    # reach a parquet scan), so the rule is pure loss here.
    spark.conf.set(
        "spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    )
    # Whole-stage codegen writes the stage id into each generated class
    # name, and the id comes from a per-build counter, so a second build
    # of the same plan yields new source text that misses the compiled-
    # class cache (keyed by that text) and compiles again (PERF.md
    # lesson 11). Without the id the source depends on the plan alone.
    spark.conf.set("spark.sql.codegen.useIdInClassName", "false")
    return spark


class RoundTrips:
    """The running count ``n`` of py4j commands sent inside
    :func:`count_round_trips`."""

    n = 0


@contextlib.contextmanager
def count_round_trips() -> Iterator[RoundTrips]:
    """Count the py4j commands the calling thread sends to the JVM inside
    the block. Building a plan through the Column API costs one per node
    and per JVM lookup, so this is the plan-construction cost of a
    builder (PERF.md lesson 12). Other threads are left out: py4j's
    finalizer thread frees collected objects' JVM sides in bursts."""
    from py4j.java_gateway import GatewayClient

    counter, send = RoundTrips(), GatewayClient.send_command
    caller = threading.get_ident()

    def counting(client, *args, **kwargs):  # type: ignore[no-untyped-def]
        if threading.get_ident() == caller:
            counter.n += 1
        return send(client, *args, **kwargs)

    GatewayClient.send_command = counting
    try:
        yield counter
    finally:
        GatewayClient.send_command = send


def driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` for a session built here:
    ``SPARK_DRIVER_MEMORY`` if set, else half the host's ``MemTotal``
    rounded down to whole GiB, between 1g and 16g. A fixed 16g heap
    outgrows a 15 GB host under a local[32] sf0.1 sweep."""
    if "SPARK_DRIVER_MEMORY" in os.environ:
        return os.environ["SPARK_DRIVER_MEMORY"]
    try:
        with open(meminfo) as fh:
            kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    except OSError:  # no procfs: the cap
        kb = 32 << 20
    return f"{max(1, min(16, kb // (2 << 20)))}g"


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """A session with this engine's settings; ``extra_conf`` overrides any.

    ``spark.sql.codegen.cache.maxEntries`` (Spark's compiled-class
    cache, default 100) is 256 here. It is a static SQL conf, read once
    per JVM when the first plan is compiled, so it is set on the builder:
    ``configure_runtime`` cannot set it (``spark.conf.set`` raises on a
    static conf), and a session the driver built keeps Spark's default.
    The working sets it must hold, counted as compilations
    (``CodegenMetrics.METRIC_COMPILATION_TIME``) over warm passes of
    ``perfbench/``'s workloads: 162 distinct classes for the seven mart
    reads, 125 for the batch refresh plus tick ingest. At the default
    the LRU evicted most of either set every pass, so each warm mart
    pass recompiled 112-139 classes (about 12 ms each) and each pipeline
    cycle 112; at 256 both recompile none. 256 is over 1.5x the larger
    set because Guava's segmented cache evicts before its nominal size;
    a larger cap would only keep more of a long suite's classes loaded.

    The cache only helps a plan built again if its generated source is
    the same text, so ``configure_runtime`` (applied here and by every
    registered query) also sets ``spark.sql.codegen.useIdInClassName``
    to false: with the per-build stage id in each class name, a second
    build of ``bloom_daily_rollup`` recompiled 16-18 classes, and none
    without it.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.codegen.cache.maxEntries", "256")
        # saveAsTable (S10) target — static conf, keep it off the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_WAREHOUSE_DIR",
                os.path.join(tempfile.gettempdir(), f"spark-warehouse-{os.getpid()}"),
            ),
        )
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return configure_runtime(builder.getOrCreate())
