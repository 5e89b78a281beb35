"""Scale probe for the round-6/7 warehouse + graph tiers: time the
profiler (exact vs HLL sketch) and the co-purchase graph family
(PageRank / triangles / k-core) at 1× and N× the sf0.1 lineitem.

Replication is density-preserving for the graph: each replica offsets
BOTH l_orderkey and l_partkey by a replica-unique stride, so replica
graphs are disjoint — N× nodes and edges with the SAME degree
distribution (replicating verbatim would multiply co-purchase degree
by N and measure a density artifact, not engine scaling — the
scale_probe_dedup namespacing argument applied to keys). For the
profiler, offset keys scale the high-cardinality distinct counts ×N
while flag columns stay constant-cardinality — the realistic shape.

Graph rows time the QUERY path over a prebuilt, localCheckpoint-ed
graph (the `copurchase_graph` memo protocol: the build amortizes
across the family and is reported as its own row).

Usage: python tools/scale_probe_warehouse.py [--mult 10] [--sf DIR]
Prints one JSON line: {"mult": N, "queries": {name: sec, ...}}
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame, functions as F


def replicate_lineitem(li: DataFrame, mult: int) -> DataFrame:
    if mult == 1:
        return li
    ok_stride = li.agg(F.max("l_orderkey")).first()[0] + 1
    pk_stride = li.agg(F.max("l_partkey")).first()[0] + 1
    copies = []
    for i in range(mult):
        copies.append(
            li.select(
                (F.col("l_orderkey") + F.lit(i * ok_stride)).alias(
                    "l_orderkey"
                ),
                (F.col("l_partkey") + F.lit(i * pk_stride)).alias(
                    "l_partkey"
                ),
                *[
                    c
                    for c in li.columns
                    if c not in ("l_orderkey", "l_partkey")
                ],
            )
        )
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from stock_market_data_pipeline_v2_spark.operators.graph import (
        build_copurchase_graph,
        connected_components,
        kcore_peel,
        pagerank_copurchase,
        triangle_stats,
    )
    from stock_market_data_pipeline_v2_spark.operators.profiling import (
        LINEITEM_PROFILE_SPEC,
        profile_table,
        profile_table_sketch,
    )
    from stock_market_data_pipeline_v2_spark.session import (
        configure_runtime,
        get_spark,
    )
    from stock_market_data_pipeline_v2_spark.sources.io import load_table

    spark = get_spark("scale-probe-warehouse")
    configure_runtime(spark)
    li = replicate_lineitem(
        load_table(spark, args.sf, "lineitem"), args.mult
    ).localCheckpoint()  # materialize the replica union so every row
    # times the operator, not the replication

    timings: dict[str, float] = {}

    def run(name, fn, n=2):
        best = float("inf")
        for _ in range(n):
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    run("profile_exact", lambda: profile_table(li, LINEITEM_PROFILE_SPEC))
    run(
        "profile_sketch",
        lambda: profile_table_sketch(li, LINEITEM_PROFILE_SPEC, p=8),
    )

    t0 = time.perf_counter()
    deg_edges, nodes = build_copurchase_graph(li)
    graph = (deg_edges.localCheckpoint(), nodes.localCheckpoint())
    timings["graph_build"] = round(time.perf_counter() - t0, 3)
    run("part_pagerank", lambda: pagerank_copurchase(li, graph=graph))
    run("part_triangles", lambda: triangle_stats(li, graph=graph))
    run("part_kcore", lambda: kcore_peel(li, k=80, iters=8, graph=graph))
    run(
        "part_components",
        lambda: connected_components(li, iters=8, graph=graph),
    )

    # round 9: the skyline's scaling axis is the (brand, price) grain
    # the two-level prefix-min scans — replicate PART with a
    # per-replica price offset so the distinct-price cardinality (and
    # the grain frame) scales ×N while partkeys stay disjoint.
    from pyspark.sql import functions as F

    from stock_market_data_pipeline_v2_spark.operators.dedup import (
        release_cached_inputs,
    )
    from stock_market_data_pipeline_v2_spark.operators.skyline import (
        part_skyline,
    )

    part = load_table(spark, args.sf, "part")
    copies = [part]
    for k in range(1, args.mult):
        copies.append(
            part.withColumn(
                "p_partkey", F.col("p_partkey") + F.lit(k * 10_000_000)
            ).withColumn(
                "p_retailprice", F.col("p_retailprice") + F.lit(k * 2000.0)
            )
        )
    big_part = copies[0]
    for c in copies[1:]:
        big_part = big_part.unionByName(c)
    big_part = big_part.localCheckpoint()

    def run_skyline():
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            df = part_skyline(big_part)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
            release_cached_inputs(df)
        timings["part_skyline"] = round(best, 3)

    run_skyline()

    print(json.dumps({"mult": args.mult, "queries": timings}))


if __name__ == "__main__":
    main()
