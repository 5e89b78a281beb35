#!/usr/bin/env python
"""Determinism sweep under a HOSTILE session: verify every oracle
with a session the engine did not build — tiny parallelism (the
partition count changes every shuffle's summation grouping), a prime
shuffle-partition count, a non-UTC timezone, and no repo conf.

This is the round-4 hostile-session contract (PERF.md "Determinism
under hostile sessions") as a committed, repeatable tool instead of
an ad-hoc driver: the driver owns the session, so every registered
query must produce BIT-identical output no matter the master/
partitioning/timezone it arrives with (the registry applies
``session.configure_runtime`` before every query, for the one conf
that is semantic — parquet nanos). A query whose result depends on partition count or
session TZ fails the DuckDB hash compare here even when the default
local[32]/UTC sweep is green.

Usage: python tools/hostile_sweep.py [--sf DIR] [query ...]
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
# tools/ itself must also be importable: main() does `import
# verify_oracles`, which lives beside this file, and that must work
# whether main() is reached via the __main__ guard or a module import.
sys.path.insert(0, str(Path(__file__).resolve().parent))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--master", default="local[5]")
    ap.add_argument("--partitions", default="7")
    ap.add_argument("--tz", default="Asia/Tokyo")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # Build the hostile session FIRST: every later getOrCreate()
    # (including the engine's own session factory) returns THIS
    # session with THESE confs — exactly how the driver hands us one.
    (
        SparkSession.builder.master(args.master)
        .appName("hostile-sweep")
        .config("spark.sql.shuffle.partitions", args.partitions)
        .config("spark.sql.session.timeZone", args.tz)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    # Reuse the standard gate's compare loop verbatim on that session.
    sys.argv = (
        [sys.argv[0], "--sf", args.sf] + args.queries
    )
    import verify_oracles  # noqa: E402  (tools/ is on sys.path — module-top insert)

    return verify_oracles.main()


if __name__ == "__main__":
    raise SystemExit(main())
