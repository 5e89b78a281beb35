#!/usr/bin/env python
"""Round-13 build/exec decomposition over EVERY headline row (VERDICT
r12 "Next round" #3/#7): per row, BUILD = query-function call (driver
py4j plan construction), EXEC = noop materialization, best-of-N warm.
The r12 tool took a hand-picked list; the round-13 lever is the ~120-
row long tail whose per-row 0.2-0.7 s build constant the driver's
scaling block exposed (ratios ≈ 1), so this sweeps the whole headline
list and prints rows sorted by build desc.

Usage: python tools/opt_decompose_r13.py [--sf DIR] [--runs 2] [name ...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from stock_market_data_pipeline_v2_spark.operators.dedup import (
        release_cached_inputs,
    )
    from stock_market_data_pipeline_v2_spark.session import get_spark

    import __spark_entry__ as m
    import bench

    spark = get_spark("opt-decompose-r13")
    qs = m.queries()
    names = args.names or [n for n in qs if n not in bench.NOT_HEADLINE]
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    print(f"# loadavg {os.getloadavg()}")
    rows = []
    for name in names:
        bb, be, bt = float("inf"), float("inf"), float("inf")
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(f"decompose:{name}")
            t0 = time.perf_counter()
            df = qs[name](spark, args.sf)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            release_cached_inputs(df)
            bb = min(bb, t1 - t0)
            be = min(be, t2 - t1)
            bt = min(bt, t2 - t0)
        rows.append((name, bb, be, bt))
        print(f"## {name:34s} {bb:7.2f} {be:7.2f} {bt:7.2f}", flush=True)
    spark.sparkContext.setJobDescription(None)
    print(f"\n{'query':34s} {'build':>7s} {'exec':>7s} {'total':>7s}  (sorted by build)")
    for name, bb, be, bt in sorted(rows, key=lambda r: -r[1]):
        print(f"{name:34s} {bb:7.2f} {be:7.2f} {bt:7.2f}")
    tot_b = sum(r[1] for r in rows)
    tot_e = sum(r[2] for r in rows)
    print(f"{'TOTAL':34s} {tot_b:7.2f} {tot_e:7.2f} {tot_b + tot_e:7.2f}")


if __name__ == "__main__":
    main()
