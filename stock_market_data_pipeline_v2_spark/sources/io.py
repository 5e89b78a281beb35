"""Sources & sinks (SURVEY.md §2.1).

Covers the reference's scan/sink surface, Spark-first:

- S1  CSV scan with explicit schema over hive-partitioned dirs
  (``spark_batch_processor.py:38-39``) → :func:`read_csv`.
- S2/S3  partitioned parquet write, overwrite/append
  (``spark_batch_processor.py:56-57``,
  ``spark_stream_batch_processor.py:77-78``) → :func:`write_parquet`.
- S6/S7  object-store CSV/parquet — paths are URI-agnostic; pointing
  at ``s3a://`` works unchanged, so MinIO put_object loops
  (``batch_data_consumer.py:30-40``) and pandas-per-object reads
  (``load_to_snowflake.py:77-92``) collapse into distributed scans.
- S13  clustered mart table (dbt ``cluster_by``, e.g.
  ``mart_stock_performance.sql:5``) → :func:`write_clustered`
  (repartition on cluster keys + sortWithinPartitions, the plain
  parquet analogue of Snowflake clustering / Delta OPTIMIZE).

Scale notes (100 TB): readers never infer schemas (no extra scan);
writers take an explicit ``partition_cols`` so downstream per-key
readers get partition pruning; clustered writes sort within files so
parquet row-group min/max statistics prune on the sort key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    header: bool = True,
) -> DataFrame:
    """S1: schema'd CSV scan — inference deliberately off."""
    return spark.read.csv(path, header=header, schema=schema)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


# The one memo of build-once state, keyed (applicationId, sf_dir,
# name): a fresh driver session never sees another session's state.
# It holds plans and indexes, never query results: the LAZY plans of
# the testdata tables (``"<table>.parquet"``; resolving a parquet
# source costs ~0.14 s of listing, footer reads and py4j) and of the
# derived inputs the query registry resolves by parameter name
# (``__spark_entry__.d_<name>``, entry ``name``): the bar/tick
# cleaning chains and the marts over them (``clean_bars``,
# ``daily_returns``, ``rolling_indicators``, ``stock_performance``,
# ``ticks``; ~0.2-0.7 s of plan construction each), whose every action
# still scans parquet; and built INDEX state (``pair_graph`` and
# ``copurchase_graph`` via localCheckpoint, ``ivf_index``/``pq_index``,
# the txn demo tables), paid once per session. Every build is
# deterministic.
_MEMO: dict[tuple[str, str, str], object] = {}


def memo(spark: SparkSession, sf_dir: str, name: str, build):
    """The memoized value ``name`` for this application and ``sf_dir``,
    built by ``build()`` on the first call. A DataFrame comes back as a
    fresh ``select("*")`` over it, never the memo's own DataFrame: an
    action on a shared DataFrame executes its QueryExecution, after
    which the next caller's extended explain also prints AQE's
    ``== Initial Plan ==`` (every exchange counted twice). Any other
    value (an index, a graph tuple, a TxnTable) comes back as stored."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if key not in _MEMO:
        _MEMO[key] = build()
    value = _MEMO[key]
    return value.select("*") if isinstance(value, DataFrame) else value


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (TESTDATA.md), memoized as
    ``"<name>.parquet"``.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS); with
    ``spark.sql.legacy.parquet.nanosAsLong`` it scans as long
    nanoseconds and is converted here to a microsecond timestamp
    (truncating division — the same ns→µs truncation DuckDB applies
    when casting TIMESTAMP_NS to TIMESTAMP).
    """

    def read() -> DataFrame:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        return df

    return memo(spark, sf_dir, f"{name}.parquet", read)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_cols: Sequence[str] | None = None,
) -> None:
    """S2/S3: (partitioned) parquet write."""
    writer = df.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def compact_zone(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    cluster_cols: Sequence[str] | None = None,
    partition_cols: Sequence[str] | None = None,
) -> int:
    """Compact a parquet zone's small files (streaming sinks append one
    file per micro-batch — the classic small-files problem).

    Sizes the output file count from the zone's actual bytes, rewrites
    to a temp dir (never reads and overwrites the same path in one
    job), then swaps via rename-old → rename-new → delete-old, so a
    crash at any point leaves either the old or the new zone intact
    (never neither); on the next invocation the leftover
    ``path__old`` / ``path__compacting`` markers are detected and the
    interrupted swap is rolled forward (or back) before compacting.
    Returns the new file count. With ``cluster_cols`` the rewrite also
    sorts within files (OPTIMIZE analogue); with ``partition_cols``
    the hive layout is preserved — compacting a partitioned zone
    WITHOUT passing them would flatten it and break downstream
    partition pruning.

    LOCAL-FILESYSTEM ONLY: the swap uses os.rename (atomic on POSIX).
    Object stores (s3a:// etc.) have no atomic rename — compact there
    via a table format with transactional commit (Delta/Iceberg
    OPTIMIZE) instead; this function raises on non-local URIs rather
    than corrupting the zone.
    """
    import glob
    import os
    import shutil

    if "://" in path and not path.startswith("file://"):
        raise ValueError(
            f"compact_zone is local-filesystem only (atomic os.rename); got {path!r}"
        )
    tmp_marker, old_marker = f"{path}__compacting", f"{path}__old"
    if os.path.exists(old_marker):
        if os.path.exists(path):
            # Crashed after the new zone was swapped in — finish the delete.
            shutil.rmtree(old_marker)
        elif os.path.exists(tmp_marker):
            # Crashed between the two renames with a complete rewrite
            # staged — roll forward.
            os.rename(tmp_marker, path)
            shutil.rmtree(old_marker)
        else:
            # No staged rewrite — roll back to the old zone.
            os.rename(old_marker, path)
    if os.path.exists(tmp_marker):
        shutil.rmtree(tmp_marker)  # stale partial rewrite from a crash

    files = glob.glob(f"{path}/**/*.parquet", recursive=True)
    if not files:
        return 0
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, -(-total // target_file_bytes))
    df = spark.read.parquet(path)
    out = df.repartition(int(n_out))
    if cluster_cols:
        out = out.sortWithinPartitions(*cluster_cols)
    writer = out.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(tmp_marker)
    os.rename(path, old_marker)
    os.rename(tmp_marker, path)
    shutil.rmtree(old_marker)
    return len(glob.glob(f"{path}/**/*.parquet", recursive=True))


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: Sequence[str],
    mode: str = "overwrite",
    partition_cols: Sequence[str] | None = None,
    target_files: int | None = None,
) -> None:
    """S13: clustered table write (Snowflake ``cluster_by`` analogue).

    Repartitions on the leading cluster key (hash) so co-clustered rows
    land in the same files, then sorts within partitions so row-group
    stats prune range predicates on the cluster keys.
    """
    cols = list(cluster_cols)
    repartitioned = (
        df.repartition(target_files, *cols[:1]) if target_files else df.repartition(*cols[:1])
    )
    sorted_df = repartitioned.sortWithinPartitions(*cols)
    write_parquet(sorted_df, path, mode=mode, partition_cols=partition_cols)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """JSON-Lines scan — the lingua franca of LLM corpus interchange
    (web dumps, instruction sets, eval suites all ship as .jsonl).
    Schema is REQUIRED: inference costs a full extra pass at 100 TB
    and silently unions drifting shapes. PERMISSIVE mode + an
    explicit corrupt-record column turns malformed lines into
    auditable rows instead of job failures (the try_cast stance of
    the cleaning paths, applied to the parse itself): select
    ``corrupt_col IS NOT NULL`` into a quarantine zone, assert a
    rate bound in plans/checks, and keep going. (Spark refuses a
    query that references ONLY the corrupt column on a raw scan —
    cache the frame, or land it to parquet first, before filtering
    the quarantine.)

    Scale: newline-delimited JSON splits by line across executors
    (unlike multiline JSON, which is one task per file); compressed
    inputs split only if the codec does (prefer zstd/bzip2 or many
    files over one giant gzip).
    """
    if isinstance(schema, str):
        from pyspark.sql.types import _parse_datatype_string

        schema = _parse_datatype_string(schema)
    if not any(f.name == corrupt_col for f in schema.fields):
        from pyspark.sql.types import StringType, StructField

        schema = StructType(
            list(schema.fields) + [StructField(corrupt_col, StringType(), True)]
        )
    return spark.read.schema(schema).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", corrupt_col
    ).json(path)


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_cols: Sequence[str] | None = None,
    compression: str | None = None,
) -> None:
    """JSON-Lines sink (one JSON object per line; trainer-loader
    ready). ``compression='gzip'|'zstd'`` trades scan splittability
    for size — prefer partitioned output over one big file."""
    writer = df.write.mode(mode)
    if compression:
        writer = writer.option("compression", compression)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.json(path)
