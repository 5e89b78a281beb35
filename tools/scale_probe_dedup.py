"""Scale probe for the dedup/ANN family: time the SCALE-TIER paths at
1× and N× the sf0.1 documents/embeddings tables.

Replication is density-preserving: each replica's shingle space is
namespaced (every token gets a per-replica suffix) and each replica's
embedding space is decorrelated (per-replica deterministic sign-flip
pattern — norm- and within-replica-cosine-preserving), so N× data has
N× the near-dup pairs, not N²×. Without this, replicating docs
verbatim manufactures duplicate groups of size N and the probe would
measure the O(dup_group²) pair blowup inherent to ANY exact dedup —
a duplicate-density artifact, not an engine-scaling property.

Only the scale-tier paths are probed (MinHash-LSH, SimHash, capped
exact Jaccard, hyperplane-LSH ANN, block-grid BLAS embedding dedup).
The O(n²) ground-truth tiers are verification baselines at small SF
by design and are excluded.

Usage: python tools/scale_probe_dedup.py [--mult 10] [--sf DIR]
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


def replicate_docs(docs: DataFrame, mult: int) -> DataFrame:
    if mult == 1:
        return docs
    n_ids = docs.agg(F.max("doc_id")).first()[0] + 1
    copies = []
    for i in range(mult):
        c = docs.select(
            (F.col("doc_id") + F.lit(i * n_ids)).alias("doc_id"),
            # namespace every token: replica i shares no shingles with
            # replica j, so pair density per doc stays constant
            F.regexp_replace(F.col("text"), r"(\S+)", r"$1" + f"_{i}").alias(
                "text"
            ),
            "lang",
            "source",
        )
        copies.append(c)
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def replicate_embs(embs: DataFrame, mult: int) -> DataFrame:
    if mult == 1:
        return embs
    n_ids = embs.agg(F.max("vec_id")).first()[0] + 1
    copies = []
    for i in range(mult):
        # deterministic per-(replica, dim) sign pattern: preserves
        # norms and within-replica cosines, decorrelates across
        # replicas (expected cross-replica cosine ~0)
        c = embs.select(
            (F.col("vec_id") + F.lit(i * n_ids)).alias("vec_id"),
            F.transform(
                F.col("embedding"),
                lambda x, j: x
                * F.when(
                    F.pmod(F.xxhash64(j * F.lit(1000) + F.lit(i)), 2) == 0,
                    F.lit(1.0),
                ).otherwise(F.lit(-1.0)),
            ).alias("embedding"),
        )
        copies.append(c)
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--queries", nargs="*", default=None)
    args = ap.parse_args()

    from stock_market_data_pipeline_v2_spark.operators import dedup as _r6_dedup
    from stock_market_data_pipeline_v2_spark.operators.dedup import (
        embedding_neardup_pairs_blas,
        embedding_neardup_pairs_ivf,
        incremental_dedup_decisions,
        minhash_lsh_pairs,
        ngram_decontaminate,
        repeated_span_stats,
        repeated_span_stats_rolling,
        shingle_jaccard_pairs,
        simhash_pairs,
    )
    from stock_market_data_pipeline_v2_spark.operators.pq import (
        build_pq_index,
        ivfpq_adc_topk,
        pq_adc_topk,
    )
    from stock_market_data_pipeline_v2_spark.operators.similarity import (
        build_ivf_index,
        hyperplane_lsh_topk,
        ivf_topk,
    )
    from stock_market_data_pipeline_v2_spark.operators.winnow import (
        passage_overlap_pairs,
    )
    from stock_market_data_pipeline_v2_spark.session import get_spark
    from stock_market_data_pipeline_v2_spark.sources.io import load_table

    spark = get_spark("scale-probe-dedup")
    docs = replicate_docs(load_table(spark, args.sf, "documents"), args.mult)
    embs = replicate_embs(load_table(spark, args.sf, "embeddings"), args.mult)
    # materialize inputs so the probe times the operator, not the
    # replication lineage
    docs = docs.cache()
    embs = embs.cache()
    docs.count(), embs.count()

    qs = embs.filter(F.col("vec_id") % 100 == 0)
    # Build-once index for the IVF query-path rows (the architecture
    # under bench: __spark_entry__.d_ivf_index). Its own cost is probed
    # separately as `ivf_build` — expected ~n^1.5 while n_cells = √n
    # grows (the assignment scan is n·n_cells dots), flattening to
    # linear once n_cells hits the 4096 cap at n ≈ 16.8M.
    idx = build_ivf_index(embs, n_assign=3, persist=True)
    pq_idx = build_pq_index(embs, persist=True)
    from stock_market_data_pipeline_v2_spark.operators.bpe import (
        FIXED_MERGES,
        bpe_token_counts,
    )
    from stock_market_data_pipeline_v2_spark.operators.curation import (
        quality_decile_bins,
        source_drift_kl,
    )
    from stock_market_data_pipeline_v2_spark.operators.text import (
        lm_perplexity,
    )

    from stock_market_data_pipeline_v2_spark.operators.curation import (
        cross_source_contamination,
        shingle_novelty,
    )
    from stock_market_data_pipeline_v2_spark.operators.retrieval import (
        tfidf_topk,
    )

    probes = {
        # (curation_pipeline is NOT probed: the token namespacing of
        # the replicas breaks its stopword gates — a replication
        # artifact; its stages are covered by their own rows)
        "lm_perplexity": lambda: lm_perplexity(docs),
        "tfidf_topk": lambda: tfidf_topk(docs, k=5),
        # the trailing filters on COMPUTED columns defeat count()'s
        # join elimination (both plans end in aggregate-keyed joins
        # Catalyst can prove count-invariant and would otherwise
        # skip — the probe must time the real plan)
        "shingle_novelty": lambda: shingle_novelty(docs).filter(
            "n_shingles >= 0"
        ),
        # includes the pair-graph build (the bench splits it out via
        # the shared pair_graph memo; here the full cost is probed)
        "cross_source_contamination": lambda: cross_source_contamination(
            docs, shingle_jaccard_pairs(docs, threshold=0.5, max_shingle_freq=1000)
        ).filter("contamination_rate >= 0"),
        "source_drift_kl": lambda: source_drift_kl(docs),
        # vocab-level BPE: replica token namespacing grows the vocab
        # ~10x, so this row probes the vocab-linear encode claim
        "bpe_token_counts": lambda: bpe_token_counts(docs, FIXED_MERGES),
        "quality_decile_bins": lambda: quality_decile_bins(docs),
        "passage_overlap": lambda: passage_overlap_pairs(docs, threshold=0.3),
        "pq_build": lambda: build_pq_index(embs).codes,
        "ann_pq_topk": lambda: pq_adc_topk(embs, qs, k=5, index=pq_idx),
        "ann_ivfpq_topk": lambda: ivfpq_adc_topk(
            embs, qs, k=5, ivf_index=idx, pq_index=pq_idx
        ),
        "dedup_ngram_jaccard_capped": lambda: shingle_jaccard_pairs(
            docs, n=3, threshold=0.5, max_shingle_freq=1000
        ),
        "dedup_minhash_lsh": lambda: minhash_lsh_pairs(
            docs, threshold=0.5, max_shingle_freq=1000
        ),
        # computed-column filter defeats count()'s join elimination
        "repeated_spans": lambda: repeated_span_stats(docs).filter(
            "covered_tokens >= 0"
        ),
        "repeated_spans_rolling": lambda: repeated_span_stats_rolling(
            docs
        ).filter("covered_tokens >= 0"),
        "dedup_simhash": lambda: simhash_pairs(docs, max_hamming=3),
        # batch-vs-corpus admission: batch is the fixed 10% slice, so
        # this row probes how admission cost scales with CORPUS size
        # (the corpus-side index branches; the production fixed cost)
        "dedup_incremental": lambda: incremental_dedup_decisions(
            docs.filter("doc_id % 10 != 0"),
            docs.filter("doc_id % 10 = 0"),
            threshold=0.5,
            max_shingle_freq=1000,
        ),
        # round 5: exact 13-gram decontamination — reference is the
        # fixed 10% slice, so the row probes corpus-side scaling of
        # the broadcast gram join + interval union
        "ngram_decontaminate": lambda: ngram_decontaminate(
            docs.filter("doc_id % 10 != 0"),
            docs.filter("doc_id % 10 = 0"),
        ).filter("contaminated_tokens >= 0"),
        "ann_lsh_topk": lambda: hyperplane_lsh_topk(embs, qs, k=5),
        "dedup_embedding_blas": lambda: embedding_neardup_pairs_blas(
            embs, threshold=0.4
        ),
        "ivf_build": lambda: build_ivf_index(embs, n_assign=3).assignments,
        "ann_ivf_topk": lambda: ivf_topk(None, qs, k=5, index=idx),
        "dedup_embedding_ivf": lambda: embedding_neardup_pairs_ivf(
            embs, threshold=0.4, index=idx
        ),
        # round 6: the lossless prefix-filter tier vs the capped
        # inverted index above — same metric, rare-tail candidate cost
        "dedup_prefix_filter": lambda: _r6_dedup.jaccard_prefix_filter_pairs(
            docs, n=3, threshold=0.5
        ),
        # round 6: data-independent O(n·w) SNM candidate generation
        "dedup_snm": lambda: _r6_dedup.dedup_sorted_neighborhood(
            docs, window_size=10
        ),
        # round 6: fixed-size Bloom decontamination (reference = the
        # 10% slice; the filter words table is m/32 rows at ANY mult)
        "bloom_decontaminate": lambda: _r6_dedup.bloom_decontaminate(
            docs.filter("doc_id % 10 != 0"),
            docs.filter("doc_id % 10 = 0"),
        ).filter("n_grams >= 0"),
    }
    if args.queries:
        probes = {k: v for k, v in probes.items() if k in args.queries}

    times: dict[str, float] = {}
    rows: dict[str, int] = {}
    for name, build in probes.items():
        best = float("inf")
        for _ in range(2):  # best-of-2: host CPU steal makes 1-run noisy
            t0 = time.monotonic()
            n = build().count()
            best = min(best, time.monotonic() - t0)
        times[name] = round(best, 2)
        rows[name] = n
    print(
        json.dumps(
            {"mult": args.mult, "sf": args.sf, "queries": times, "rows": rows}
        )
    )


if __name__ == "__main__":
    main()
