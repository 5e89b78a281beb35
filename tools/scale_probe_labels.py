"""Scale probe for the round-9/10 label/eval family (VERDICT r9 #6):
time label_centroid_similarity, label_loo_outliers, knn_label_eval
(BLAS exact), knn_label_eval_ivf (the r10 scale path), and
classifier_calibration at 1× and N× their corpora.

Replication is label-preserving for embeddings: each replica offsets
vec_id by a replica-unique stride while KEEPING the label — N× the
vectors over the SAME label universe, which is exactly the claim
under test (the centroid/LOO/eval family's interior state is
|labels|·dim, so cost should scale with the SCAN, not the label
count). classifier_calibration scales on documents: doc_id offset per
replica, same sources, so the labeled slice and the range-rank frame
grow ×N.

The IVF row times the QUERY path over an index built on the
replicated corpus (the `ivf_index` build-once protocol; the build is
its own row). A vote-coverage gate (total votes == corpus rows)
checks the IVF eval's semantics hold at scale, not just its speed.

Usage: python tools/scale_probe_labels.py [--mult 10] [--sf DIR]
Prints one JSON line: {"mult": N, "n_vectors": ..., "queries": {...}}
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame, functions as F


def replicate_embeddings(embs: DataFrame, mult: int) -> DataFrame:
    if mult == 1:
        return embs
    stride = embs.agg(F.max("vec_id")).first()[0] + 1
    copies = [
        embs.select(
            (F.col("vec_id") + F.lit(i * stride)).alias("vec_id"),
            *[c for c in embs.columns if c != "vec_id"],
        )
        for i in range(mult)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def replicate_documents(docs: DataFrame, mult: int) -> DataFrame:
    if mult == 1:
        return docs
    stride = docs.agg(F.max("doc_id")).first()[0] + 1
    copies = [
        docs.select(
            (F.col("doc_id") + F.lit(i * stride)).alias("doc_id"),
            *[c for c in docs.columns if c != "doc_id"],
        )
        for i in range(mult)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from stock_market_data_pipeline_v2_spark.operators.centroids import (
        label_centroid_similarity,
        label_loo_outliers,
    )
    from stock_market_data_pipeline_v2_spark.operators.classifier import (
        classifier_calibration,
    )
    from stock_market_data_pipeline_v2_spark.operators.similarity import (
        build_ivf_index,
        knn_label_eval,
        knn_label_eval_ivf,
    )
    from stock_market_data_pipeline_v2_spark.session import (
        configure_runtime,
        get_spark,
    )
    from stock_market_data_pipeline_v2_spark.sources.io import load_table

    spark = get_spark("scale-probe-labels")
    configure_runtime(spark)
    embs = replicate_embeddings(
        load_table(spark, args.sf, "embeddings"), args.mult
    ).localCheckpoint()
    n_vec = embs.count()
    docs = replicate_documents(
        load_table(spark, args.sf, "documents"), args.mult
    ).localCheckpoint()

    timings: dict[str, float] = {}

    def run(name, fn, n=2):
        best = float("inf")
        for _ in range(n):
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    run("label_centroid_similarity", lambda: label_centroid_similarity(embs))
    run("label_loo_outliers", lambda: label_loo_outliers(embs))
    run("knn_label_eval", lambda: knn_label_eval(embs))

    t0 = time.perf_counter()
    idx = build_ivf_index(embs, n_assign=3, persist=True)
    timings["ivf_build"] = round(time.perf_counter() - t0, 3)
    run("knn_label_eval_ivf", lambda: knn_label_eval_ivf(embs, index=idx))

    # vote-coverage gate at scale: every corpus vector votes
    votes = (
        knn_label_eval_ivf(embs, index=idx)
        .agg(F.sum("n_vectors"))
        .first()[0]
    )
    idx.release()
    assert votes == n_vec, f"vote coverage broke at {args.mult}x: {votes}/{n_vec}"

    run("classifier_calibration", lambda: classifier_calibration(docs))

    print(
        json.dumps(
            {"mult": args.mult, "n_vectors": n_vec, "queries": timings}
        )
    )


if __name__ == "__main__":
    main()
