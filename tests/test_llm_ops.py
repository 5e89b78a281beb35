"""LLM-data operator tests: dedup tiers, similarity search, text
analysis, multimodal plumbing.

The oracle harness covers exact-result parity; these tests cover what
oracles can't: recall of the approximate tiers vs the exact baseline,
decode-kernel determinism, and hand-computed goldens.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _embs(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_minhash_lsh_recall_vs_exact(spark):
    from stock_market_data_pipeline_v2_spark.operators.dedup import (
        minhash_lsh_pairs,
        shingle_jaccard_pairs,
    )

    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in shingle_jaccard_pairs(_docs(spark), threshold=0.5).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_pairs(_docs(spark), threshold=0.5).collect()
    }
    assert exact, "testdata should contain planted near-dups"
    # subset oracle: every LSH pair is exact-verified → no false
    # positives, and its jaccard is BIT-identical to the exact tier's
    assert all(exact.get(k) == v for k, v in lsh.items())
    # banded (8x4) LSH at j>=0.5 should catch most planted dups
    assert len(lsh) / len(exact) >= 0.8


def test_shingle_freq_cap_is_lower_bound(spark):
    """max_shingle_freq prunes the JOIN only: capped output must be a
    subset of uncapped with jaccard never above the uncapped score
    (sizes stay unpruned, so pruning can only shrink intersections)."""
    from stock_market_data_pipeline_v2_spark.operators.dedup import (
        shingle_jaccard_pairs,
    )

    docs = _docs(spark)
    full = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in shingle_jaccard_pairs(docs, threshold=0.3).collect()
    }
    # cap=3 is aggressive enough to actually prune on 100 docs
    capped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in shingle_jaccard_pairs(
            docs, threshold=0.3, max_shingle_freq=3
        ).collect()
    }
    assert capped.keys() <= full.keys()
    assert all(capped[k] <= full[k] for k in capped)
    # the generous cap used by the entry points must not prune at all
    # at test scale — the oracle gate relies on that exactness
    entry_cap = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in shingle_jaccard_pairs(
            docs, threshold=0.3, max_shingle_freq=1000
        ).collect()
    }
    assert entry_cap == full


def test_simhash_finds_planted_dup(spark):
    from stock_market_data_pipeline_v2_spark.operators.dedup import simhash_pairs

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text=base + " extra"),
            Row(doc_id=3, text="completely different words entirely unrelated content"),
        ]
    )
    # hamming(1,2) = 8 under the md5-digit token hash (deterministic);
    # unrelated pairs sit at 31-33 — budget 10 separates them cleanly.
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_pairs(docs, max_hamming=10).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_ann_lsh_recall(spark):
    from stock_market_data_pipeline_v2_spark.operators.similarity import (
        cosine_topk,
        hyperplane_lsh_topk,
    )

    embs = _embs(spark)
    queries = embs.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r.query_id, r.neighbor_id) for r in cosine_topk(embs, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in hyperplane_lsh_topk(embs, queries, k=5).collect()
    }
    assert len(exact) == 25
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"ANN recall too low: {recall}"


def test_ann_ivf_recall(spark):
    from stock_market_data_pipeline_v2_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )

    embs = _embs(spark)
    queries = embs.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r.query_id, r.neighbor_id) for r in cosine_topk(embs, queries, k=5).collect()
    }
    approx_rows = ivf_topk(embs, queries, k=5).collect()
    approx = {(r.query_id, r.neighbor_id) for r in approx_rows}
    assert len(exact) == 25
    # seeded KMeans on fixed input → deterministic; measured 0.92 on
    # this corpus with the defaults (random init, n_probe=16)
    # (synthetic near-uniform vectors are IVF's worst case — recall ≈
    # fraction of corpus probed; real clustered embeddings do far
    # better per candidate)
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF recall too low: {recall}"
    # emitted cosines are exact and ranks dense per query
    by_q = {}
    for r in approx_rows:
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())


def test_ann_tiers_subset_of_brute_pool(spark):
    """Symmetric gate to recall: PRECISION — every emitted (query,
    neighbor, cosine) of the approximate ANN tiers appears in a deep
    brute-force pool with the identical rounded cosine (the ANN
    analogue of the dedup-IVF subset-bit-identity gate). Pool depth
    50 ≫ k=5: a tier would have to miss 45 better neighbors for a
    true emission to fall outside the pool."""
    from stock_market_data_pipeline_v2_spark.operators.similarity import (
        cosine_topk,
        hyperplane_lsh_topk,
        ivf_topk,
    )

    embs = _embs(spark)
    queries = embs.filter(F.col("vec_id") % 100 == 0)
    pool = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk(embs, queries, k=50).collect()
    }
    for tier in (hyperplane_lsh_topk, ivf_topk):
        rows = tier(embs, queries, k=5).collect()
        assert rows, f"{tier.__name__} emitted nothing"
        for r in rows:
            key = (r.query_id, r.neighbor_id)
            assert key in pool, f"{tier.__name__}: {key} outside brute top-50"
            assert pool[key] == r.cosine, (
                f"{tier.__name__}: cosine {r.cosine} != brute {pool[key]} at {key}"
            )


def test_cosine_topk_blas_bit_identical(spark):
    """The BLAS exact tier must reproduce cosine_topk EXACTLY — every
    (query, neighbor, rank, cosine) tuple, not just the pair set
    (BLAS prunes candidates; the exact fold decides the ranks). Small
    block_rows forces a real multi-block grid."""
    from stock_market_data_pipeline_v2_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_blas,
    )

    embs = _embs(spark)
    queries = embs.filter(F.col("vec_id") % 25 == 0)
    ref = {
        (r.query_id, r.neighbor_id, r.rank, r.cosine)
        for r in cosine_topk(embs, queries, k=5).collect()
    }
    got = {
        (r.query_id, r.neighbor_id, r.rank, r.cosine)
        for r in cosine_topk_blas(embs, queries, k=5, block_rows=64).collect()
    }
    assert got == ref


def test_ivf_index_build_query_split(spark):
    """The prebuilt-index query paths return results identical to the
    self-building paths — the split moves work, never answers — and
    one n_assign=3 index serves BOTH the ANN tier (home cells) and
    the SemDeDup dedup tier (full multi-assignment)."""
    from stock_market_data_pipeline_v2_spark.operators.dedup import (
        embedding_neardup_pairs_ivf,
        release_cached_inputs,
    )
    from stock_market_data_pipeline_v2_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
    )

    embs = _embs(spark)
    queries = embs.filter(F.col("vec_id") % 100 == 0)
    idx = build_ivf_index(embs, n_assign=3, persist=True)
    try:
        assert idx.assignments.is_cached
        got = {
            (r.query_id, r.neighbor_id, r.rank, r.cosine)
            for r in ivf_topk(None, queries, k=5, index=idx).collect()
        }
        ref = {
            (r.query_id, r.neighbor_id, r.rank, r.cosine)
            for r in ivf_topk(embs, queries, k=5).collect()
        }
        assert got == ref
        got_d = {
            (r.id_a, r.id_b, r.cosine)
            for r in embedding_neardup_pairs_ivf(
                embs, threshold=0.4, index=idx
            ).collect()
        }
        ref_plan = embedding_neardup_pairs_ivf(embs, threshold=0.4)
        ref_d = {(r.id_a, r.id_b, r.cosine) for r in ref_plan.collect()}
        release_cached_inputs(ref_plan)
        assert got_d == ref_d
    finally:
        idx.release()
    assert not idx.assignments.is_cached


def test_embedding_ivf_subset_and_recall(spark):
    from stock_market_data_pipeline_v2_spark.operators.dedup import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_ivf,
        release_cached_inputs,
    )

    embs = _embs(spark)
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_neardup_pairs(embs, threshold=0.4).collect()
    }
    res = embedding_neardup_pairs_ivf(embs, threshold=0.4)
    approx = {(r.id_a, r.id_b): r.cosine for r in res.collect()}
    release_cached_inputs(res)
    # every emitted pair is real and carries the bit-identical cosine
    assert all(k in exact for k in approx), "IVF tier emitted a non-pair"
    assert all(exact[k] == v for k, v in approx.items()), "cosine mismatch"
    # recall: seeded KMeans on fixed input → deterministic; measured
    # 0.85 on this corpus with the defaults (near-uniform synthetic
    # vectors at cosine 0.4 are the worst case for space partitioning
    # — production semantic dedup at ≥0.9 co-clusters far better)
    recall = len(approx) / len(exact)
    assert recall >= 0.6, f"IVF dedup recall too low: {recall}"


def test_ngram_containment_detects_quotes(spark):
    """Decontamination semantics: a corpus doc quoting an eval item
    verbatim scores containment 1.0 even when the doc is longer than
    the item (the asymmetry Jaccard lacks); unrelated docs score 0."""
    from stock_market_data_pipeline_v2_spark.operators.curation import (
        ngram_containment,
    )

    eval_item = "what is the capital of france answer paris"
    reference = spark.createDataFrame([Row(doc_id=100, text=eval_item)])
    corpus = spark.createDataFrame(
        [
            # pure verbatim quote → every trigram leaked
            Row(doc_id=1, text=eval_item),
            # quote embedded in a longer page → all of ITS OWN trigrams
            # that leak are counted against ITS OWN size
            Row(
                doc_id=2,
                text="a much longer page with plenty of its own prose "
                + eval_item
                + " followed by even more unrelated trailing chatter",
            ),
            Row(doc_id=3, text="totally unrelated words about gardening and weather"),
        ]
    )
    rows = {
        r.doc_id: r
        for r in ngram_containment(corpus, reference, threshold=0.0).collect()
    }
    assert rows[1].containment == 1.0
    assert 0.0 < rows[2].containment < 1.0
    assert rows[2].n_hits == rows[1].n_shingles  # the full quote leaked
    assert rows[3].containment == 0.0
    # threshold filters the kill list
    killed = {
        r.doc_id
        for r in ngram_containment(corpus, reference, threshold=0.5).collect()
    }
    assert killed == {1}


def test_pack_sequences_contract(spark):
    """Distributed two-level prefix sum must equal the plain
    sequential packing contract: docs laid head-to-tail in doc_id
    order, each assigned to the bin where it starts (bins may
    overflow by one doc, never silently split a doc)."""
    from stock_market_data_pipeline_v2_spark.operators.curation import (
        pack_sequences,
    )

    docs = _docs(spark)
    # tiny range_size forces MANY ranges → the cross-range offset
    # broadcast path is actually exercised, not degenerate
    got = {
        r.doc_id: (r.n_tokens, r.start_offset, r.bin_id)
        for r in pack_sequences(docs, ctx_tokens=100, range_size=7).collect()
    }
    ordered = sorted(got)
    offset = 0
    for doc_id in ordered:
        n_tokens, start, bin_id = got[doc_id]
        assert start == offset, f"doc {doc_id}: start {start} != cumsum {offset}"
        assert bin_id == start // 100
        offset += n_tokens
    # a doc starting mid-bin stays in that bin even if it overflows it
    overflowing = [
        d for d in ordered
        if got[d][1] % 100 + got[d][0] > 100
    ]
    assert overflowing, "fixture should contain at least one overflow doc"
    assert all(got[d][2] == got[d][1] // 100 for d in overflowing)


def test_exact_long_div_past_double_precision(spark):
    """bin_id arithmetic must stay exact past 2^53 — `floor(x/y)` on
    doubles misbins there (ADVICE r2 #3). Probe offsets straddling
    the double cliff against Python's arbitrary-precision `//`."""
    from stock_market_data_pipeline_v2_spark.operators.curation import (
        exact_long_div,
    )

    ctx = 256
    offsets = [
        0,
        255,
        256,
        2**53 - 1,
        2**53,
        2**53 + 1,
        # 2^53+255 is halfway between representable doubles 2^53+254
        # and 2^53+256; ties-to-even lands on +256, crossing a bin
        # boundary → floor(double) misbins by +1
        2**53 + 255,
        2**62 + 12345,
    ]
    df = spark.createDataFrame([(o,) for o in offsets], "start_offset long")
    got = {
        r.start_offset: r.bin_id
        for r in df.select(
            "start_offset", exact_long_div("start_offset", ctx).alias("bin_id")
        ).collect()
    }
    assert got == {o: o // ctx for o in offsets}
    # and confirm the double path really is wrong up there (guards the
    # test itself against a divisor where the cliff is invisible)
    from pyspark.sql import functions as F

    dbl = {
        r.start_offset: r.bad
        for r in df.select(
            "start_offset",
            F.floor(F.col("start_offset") / F.lit(float(ctx))).cast("long").alias("bad"),
        ).collect()
    }
    assert any(dbl[o] != o // ctx for o in offsets)


def test_bench_cache_discipline(spark):
    """bench.py's loop materializes each query then releases its
    attached caches (VERDICT r2 #4) — two emulated bench passes over
    the cache-attaching operators must leave the session's RDD
    storage exactly at baseline (no accumulation until LRU pressure).
    """
    from stock_market_data_pipeline_v2_spark.operators.dedup import (
        minhash_lsh_pairs,
        release_cached_inputs,
        shingle_jaccard_pairs,
    )

    docs = _docs(spark)

    def storage_ids() -> set[int]:
        return {
            info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    base = storage_ids()
    for _ in range(2):
        for op in (shingle_jaccard_pairs, minhash_lsh_pairs):
            df = op(docs, threshold=0.5, max_shingle_freq=1000)
            df.count()
            release_cached_inputs(df)
    # no entry created by the loop survives it (earlier tests' leftovers
    # may be async-GC'd meanwhile, so compare ids, not counts)
    leaked = storage_ids() - base
    assert not leaked, f"bench discipline leaked cached RDDs: {leaked}"


def test_release_cached_inputs(spark):
    from stock_market_data_pipeline_v2_spark.operators.dedup import (
        release_cached_inputs,
        shingle_jaccard_pairs,
    )

    docs = _docs(spark)
    pairs = shingle_jaccard_pairs(docs, n=3, threshold=0.5)
    pairs.count()  # materialize (populates the shingle cache)
    cached = pairs._cached_inputs
    assert cached and all(c.is_cached for c in cached)
    release_cached_inputs(pairs)
    assert all(not c.is_cached for c in cached)
    release_cached_inputs(docs)  # frames without caches are a no-op


def test_text_stats_golden(spark):
    from stock_market_data_pipeline_v2_spark.operators.text import text_stats

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="The cat, and the dog!", lang="en", source="t", n_chars=0)]
    )
    r = text_stats(docs).first()
    # normalized: "the cat, and the dog!" → 21 chars, 5 words
    assert r.n_chars == 21 and r.n_words == 5
    assert r.n_punct == 2  # ',' and '!'
    assert r.n_stopwords == 3  # the, and, the
    assert r.avg_word_len == 3.0  # 15 letters / 5 words
    assert r.punct_ratio == round(2 / 21, 4)


def test_lang_id_markers(spark):
    from stock_market_data_pipeline_v2_spark.operators.text import lang_id

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="der hund und die katze ist ein tier", lang="de"),
            Row(doc_id=2, text="the cat and the dog is in the house", lang="en"),
        ]
    )
    out = {r.doc_id: r.predicted_lang for r in lang_id(docs).collect()}
    assert out == {1: "de", 2: "en"}


def test_multimodal_decode_deterministic(spark):
    from stock_market_data_pipeline_v2_spark.operators.multimodal import (
        attach_binary,
        decode_features,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=0, text="abc", lang="en", source="t", n_chars=3)]
    )
    r = decode_features(attach_binary(docs)).first()
    assert r.byte_len == 3
    assert r.checksum == (97 + 98 + 99) % 65536
    assert r.head_byte == 97
    assert r.media_format == "png"


def test_embedding_neardup_symmetric_bound(spark):
    from stock_market_data_pipeline_v2_spark.operators.dedup import (
        embedding_neardup_pairs,
    )

    pairs = embedding_neardup_pairs(_embs(spark), threshold=0.4).collect()
    for r in pairs:
        assert r.id_a < r.id_b
        assert 0.4 <= r.cosine <= 1.0


def test_dedup_clusters_transitive(spark):
    from stock_market_data_pipeline_v2_spark.operators.dedup import dedup_clusters

    # chain A~B~C plus isolated pair D~E: components {1,2,3} and {10,11}
    pairs = spark.createDataFrame(
        [Row(doc_a=1, doc_b=2), Row(doc_a=2, doc_b=3), Row(doc_a=10, doc_b=11)]
    )
    out = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_repetition_filter_planted(spark):
    """Planted repetition must trip exactly the right rule: a doc
    that is one bigram over and over fails top-bigram; duplicated
    lines fail dup-line; clean prose passes everything."""
    from stock_market_data_pipeline_v2_spark.operators.text import (
        repetition_filter,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="buy now " * 20),  # one bigram, 40 words
            Row(doc_id=2, text="line one\nline one\nline one\nline two"),
            # ≥ 17 words: with all-unique n-grams, top3 = 3/n_words
            # must fall under the 0.18 cut (the rules assume
            # Gopher-scale docs, ≥ 50 words in production)
            Row(
                doc_id=3,
                text="the quick brown fox jumps over a lazy dog near the wide "
                "river bank today while birds sing softly above",
            ),
        ]
    )
    out = {r.doc_id: r for r in repetition_filter(docs).collect()}
    # doc 1: "buy now" appears 20× in 40 words → top2 = 1.0
    assert out[1].top_bigram_frac == 1.0
    assert not out[1].pass_top_bigram and not out[1].keep
    # doc 2: 4 lines, 2 distinct → dup_line_frac = 0.5 > 0.30
    assert out[2].n_lines == 4
    assert out[2].dup_line_frac == 0.5
    assert not out[2].pass_dup_lines and not out[2].keep
    # doc 3: no repetition ("the" twice is fine at n-gram level)
    assert out[3].keep
    assert out[3].dup_line_frac == 0.0


def test_mix_corpus_budget_contract(spark):
    """Budget fill: per-source hash order, the first doc crossing the
    budget is included (never undershoot), later docs dropped; a
    budget larger than the source keeps the whole source; sources
    without a budget vanish."""
    from stock_market_data_pipeline_v2_spark.operators.curation import (
        mix_corpus,
    )

    docs = _docs(spark)
    budgets = {"src0": 100, "src1": 10_000_000}
    rows = mix_corpus(docs, budgets=budgets).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    assert set(by_src) == {"src0", "src1"}
    # src1: whole source kept (budget >> corpus)
    n_src1 = docs.filter(F.col("source") == "src1").count()
    assert len(by_src["src1"]) == n_src1
    for rs in by_src.values():
        rs.sort(key=lambda r: r.mix_rank)
        # hash order, contiguous ranks, tokens_before is the running sum
        assert [r.mix_rank for r in rs] == list(range(1, len(rs) + 1))
        cum = 0
        for r in rs:
            assert r.tokens_before == cum
            cum += r.n_tokens
    kept = by_src["src0"]
    # every kept doc starts under budget; the last one may overflow it,
    # and the hypothetical next doc would start at/over budget
    assert all(r.tokens_before < 100 for r in kept)
    assert kept[-1].tokens_before + kept[-1].n_tokens >= 100


def test_bm25_relevance_ordering(spark):
    """BM25 semantics on planted docs: more distinct query terms →
    higher score; rarer terms out-weigh common ones; repeated terms
    saturate (tf term is concave); non-matching docs absent."""
    import math

    from stock_market_data_pipeline_v2_spark.operators.retrieval import (
        bm25_topk,
    )

    filler = "lorem ipsum dolor sit amet "
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=filler * 4 + "alpha beta"),      # both terms
            Row(doc_id=2, text=filler * 4 + "alpha"),           # one term
            Row(doc_id=3, text=filler * 4 + "alpha alpha alpha"),  # tf saturation
            Row(doc_id=4, text=filler * 4),                     # no terms
        ]
    )
    rows = {r.doc_id: r for r in bm25_topk(docs, ["alpha", "beta"], k=10).collect()}
    assert 4 not in rows
    assert rows[1].rank == 1  # two distinct terms beat any single-term tf
    assert rows[3].bm25 > rows[2].bm25  # higher tf still helps...
    assert rows[3].bm25 < 3 * rows[2].bm25  # ...but sub-linearly
    # idf sanity: beta (df=1) is worth more than alpha (df=3)
    idf = lambda df_, n=3: math.log((n - df_ + 0.5) / (df_ + 0.5) + 1)  # noqa: E731
    assert idf(1) > idf(3)


def test_rrf_fuse_contract(spark):
    """RRF: ids in both lists sum both reciprocal terms; one-list ids
    get one term; ordering is by fused score with id tiebreak."""
    from stock_market_data_pipeline_v2_spark.operators.retrieval import (
        rrf_fuse,
    )

    a = spark.createDataFrame([Row(doc_id=10, rank=1), Row(doc_id=11, rank=2)])
    b = spark.createDataFrame([Row(doc_id=11, rank=1), Row(doc_id=12, rank=2)])
    out = {r.doc_id: r for r in rrf_fuse(a, b).collect()}
    assert out[11].rrf_score == round(1 / 62 + 1 / 61, 6)
    assert out[10].rrf_score == round(1 / 61, 6)
    assert out[12].rrf_score == round(1 / 62, 6)
    assert out[11].fused_rank == 1
    # 1/61 > 1/62 → doc 10 (rank-1 in a) beats doc 12 (rank-2 in b)
    assert out[10].fused_rank == 2 and out[12].fused_rank == 3
    assert out[10].rank_b is None and out[12].rank_a is None


def test_dedup_clusters_star_matches_propagation(spark):
    """Same labels from both CC algorithms on branchy input (chain +
    pair + a triangle-with-tail) — the star twin must be a drop-in."""
    from stock_market_data_pipeline_v2_spark.operators.dedup import (
        dedup_clusters,
        dedup_clusters_star,
    )

    pairs = spark.createDataFrame(
        [
            Row(doc_a=1, doc_b=2),
            Row(doc_a=2, doc_b=3),
            Row(doc_a=10, doc_b=11),
            Row(doc_a=20, doc_b=21),
            Row(doc_a=21, doc_b=22),
            Row(doc_a=22, doc_b=20),
            Row(doc_a=22, doc_b=23),
        ]
    )
    prop = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    star = {r.doc_id: r.cluster_id for r in dedup_clusters_star(pairs).collect()}
    assert star == prop
    assert star == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}


def test_dedup_clusters_star_long_chain(spark):
    """Adversarial diameter (VERDICT r2 #6): a planted 1000-doc chain.
    Min-label propagation is O(diameter) rounds and must refuse at its
    default budget (documented contract, not silent wrong labels);
    the star algorithm converges in O(log) rounds and labels the
    whole chain with its minimum."""
    from stock_market_data_pipeline_v2_spark.operators.dedup import (
        dedup_clusters,
        dedup_clusters_star,
    )

    n = 1000
    pairs = spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    labels = dedup_clusters_star(pairs).collect()
    assert len(labels) == n
    assert all(r.cluster_id == 0 for r in labels)
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(pairs)


def test_pii_scrub_planted(spark):
    from stock_market_data_pipeline_v2_spark.operators.text import pii_scrub

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="mail Bob.Smith+x@corp.example.COM or 555-867-5309 now"),
            Row(doc_id=2, text="server 10.0.255.3 ssn 123-45-6789 backup 1.2.3.4"),
            Row(doc_id=3, text="clean text with no identifiers at all"),
        ]
    )
    out = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert out[1].n_email == 1 and out[1].n_phone == 1
    assert "<email>" in out[1].scrubbed and "<phone>" in out[1].scrubbed
    assert "@" not in out[1].scrubbed and "5309" not in out[1].scrubbed
    assert out[2].n_ip == 2 and out[2].n_ssn == 1 and out[2].n_phone == 0
    assert out[2].scrubbed == "server <ip> ssn <ssn> backup <ip>"
    assert out[3].n_email == out[3].n_ip == out[3].n_ssn == out[3].n_phone == 0
    assert out[3].scrubbed == "clean text with no identifiers at all"


def test_gopher_filter_rules(spark):
    from stock_market_data_pipeline_v2_spark.operators.text import (
        gopher_quality_filter,
    )

    good = "the quick brown fox jumps over a lazy dog and runs on for miles " * 5
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=good),                       # passes all gates
            Row(doc_id=2, text="too short to keep"),        # word-count gate
            Row(doc_id=3, text=("#### " * 60) + good),      # symbol-ratio gate
            Row(doc_id=4, text="12 34 56 78 90 " * 20),     # alpha + stopword gates
        ]
    )
    out = {r.doc_id: r for r in gopher_quality_filter(docs).collect()}
    assert out[1].keep
    assert not out[2].keep and not out[2].pass_word_count
    assert not out[3].keep and not out[3].pass_symbol_ratio
    assert not out[4].keep and not out[4].pass_alpha_words and not out[4].pass_stopwords


def test_multimodal_resize_deterministic(spark):
    from stock_market_data_pipeline_v2_spark.operators.multimodal import (
        attach_binary,
        resize_media,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=0, text="abcdefgh", lang="en", source="t", n_chars=8)]
    )
    r = resize_media(attach_binary(docs), out_w=2, out_h=2).first()
    # nearest-neighbor sample of b"abcdefgh" (8 bytes) down to 4:
    # linspace(0,7,4) = [0, 2.33, 4.67, 7] → floor → a, c, e, h
    assert bytes(r.resized) == b"aceh"
    assert r.resized_len == 4 and r.out_w == 2 and r.out_h == 2
    # empty payload → zero-filled block, not a crash
    empty = spark.createDataFrame(
        [Row(doc_id=1, text="", lang="en", source="t", n_chars=0)]
    )
    r2 = resize_media(attach_binary(empty), out_w=2, out_h=2).first()
    assert bytes(r2.resized) == bytes(4)


def test_multimodal_frame_sampling(spark):
    from stock_market_data_pipeline_v2_spark.operators.multimodal import (
        attach_binary,
        sample_frames,
    )

    text = "x" * 300  # payload: 300 bytes → frames of 64: ceil=5 (0..4)
    docs = spark.createDataFrame(
        [Row(doc_id=0, text=text, lang="en", source="t", n_chars=300)]
    )
    rows = sample_frames(attach_binary(docs), frame_bytes=64, every=2).collect()
    assert [r.frame_idx for r in sorted(rows, key=lambda r: r.frame_idx)] == [0, 2, 4]
    by_idx = {r.frame_idx: r for r in rows}
    assert by_idx[0].frame_len == 64
    assert by_idx[4].frame_len == 300 - 4 * 64  # tail frame is short
    assert by_idx[0].frame_checksum == (ord("x") * 64) % 65536


def test_chunk_documents_boundaries(spark):
    from stock_market_data_pipeline_v2_spark.operators.curation import (
        chunk_documents,
    )

    text = "".join(chr(97 + (i % 26)) for i in range(1000))
    docs = spark.createDataFrame([Row(doc_id=1, text=text), Row(doc_id=2, text="")])
    rows = {
        (r.doc_id, r.chunk_idx): r
        for r in chunk_documents(docs, chunk_chars=512, overlap=64).collect()
    }
    # stride 448: 1000 chars → ceil(1000/448) = 3 chunks
    assert {k for k in rows if k[0] == 1} == {(1, 0), (1, 1), (1, 2)}
    c0, c1, c2 = (rows[(1, i)].chunk_text for i in range(3))
    assert len(c0) == 512 and len(c1) == 512
    assert len(c2) == 1000 - 2 * 448  # tail chunk
    assert c0 == text[0:512] and c1 == text[448:960] and c2 == text[896:1000]
    # the overlap region is shared verbatim across the boundary
    assert c1[:64] == c0[-64:]
    # empty doc still yields one (empty) chunk, not zero rows
    assert rows[(2, 0)].chunk_text == "" and rows[(2, 0)].n_chunks == 1


def test_stratified_sample_deterministic(spark):
    from stock_market_data_pipeline_v2_spark.operators.curation import (
        stratified_sample,
    )

    docs = _docs(spark)
    a = {(r.doc_id, r.sample_rank) for r in stratified_sample(docs, {"en": 10}).collect()}
    b = {(r.doc_id, r.sample_rank) for r in stratified_sample(docs, {"en": 10}).collect()}
    assert a == b and len(a) == 10  # reproducible, quota-exact
    # a different salt draws a genuinely different sample
    c = {
        (r.doc_id, r.sample_rank)
        for r in stratified_sample(docs, {"en": 10}, salt="v2").collect()
    }
    assert {d for d, _ in c} != {d for d, _ in a}
    # quota above stratum size keeps the whole stratum, no padding
    big = stratified_sample(docs, {"de": 10_000}).collect()
    n_de = docs.filter(F.col("lang") == "de").count()
    assert len(big) == n_de


def test_winnow_guarantee_and_density(spark):
    """The MOSS contract: (a) every shared verbatim run of
    ≥ w+k−1 tokens yields a shared fingerprint HASH (positions may
    differ); (b) selection density is far below 1 (the point of
    winnowing); (c) every selected hash at a position is the true
    window minimum (spot-checked via a hand-built doc)."""
    from stock_market_data_pipeline_v2_spark.operators.winnow import (
        passage_overlap_pairs,
        winnow_fingerprints,
    )

    k, w = 4, 5
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens ≥ w+k−1
    rows = [
        Row(doc_id=1, text=f"one two three {shared} four five six"),
        Row(doc_id=2, text=f"seven eight nine ten {shared} eleven"),
        Row(doc_id=3, text="totally unrelated words in this document here"),
    ]
    docs = spark.createDataFrame(rows)
    fp = winnow_fingerprints(docs, k=k, w=w)
    by_doc = {
        d: {r.fp_hash for r in g}
        for d, g in __import__("itertools").groupby(
            sorted(fp.collect(), key=lambda r: r.doc_id), key=lambda r: r.doc_id
        )
    }
    assert by_doc[1] & by_doc[2], "shared 8-token run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])

    # density on the real corpus: ~2/(w+1) of grams selected
    corpus = _docs(spark)
    n_grams = corpus.select(
        F.sum(F.greatest(F.size(F.split(F.lower(F.trim("text")), r"\s+")) - (k - 1), F.lit(0)))
    ).first()[0]
    n_fp = winnow_fingerprints(corpus, k=k, w=w).count()
    assert n_fp < 0.6 * n_grams  # well below full shingling

    pairs = passage_overlap_pairs(docs, k=k, w=w, threshold=0.1)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert (1, 2) in got and not any(3 in p for p in got)


@pytest.mark.filterwarnings("error:Cannot infer the eval type")
def test_pq_adc_recall_subset_and_determinism(spark):
    """PQ/ADC tier gates: (a) recall ≥ 0.6 vs brute top-k at the
    defaults; (b) precision — every emitted (query, neighbor, cosine)
    appears in the deep brute pool with the identical rounded cosine
    (exact re-rank contract); (c) a rebuilt index encodes the corpus
    IDENTICALLY (sorted-sample seeded training — the determinism the
    rows-only gate leans on); (d) a multi-block grid passes the same
    gates (per-block cuts keep a SUPERSET of the single-block
    candidates, so ranks may shift toward brute — never away)."""
    from stock_market_data_pipeline_v2_spark.operators.pq import (
        build_pq_index,
        pq_adc_topk,
    )
    from stock_market_data_pipeline_v2_spark.operators.similarity import cosine_topk

    embs = _embs(spark)
    queries = embs.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r.query_id, r.neighbor_id) for r in cosine_topk(embs, queries, k=5).collect()
    }
    pool = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk(embs, queries, k=50).collect()
    }
    idx = build_pq_index(embs, persist=True)
    rows = pq_adc_topk(embs, queries, k=5, index=idx).collect()
    approx = {(r.query_id, r.neighbor_id) for r in rows}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"PQ recall too low: {recall}"
    for r in rows:
        key = (r.query_id, r.neighbor_id)
        assert key in pool, f"PQ emission {key} outside brute top-50"
        assert pool[key] == r.cosine
    # (c) rebuild determinism: identical codes frame
    idx2 = build_pq_index(embs, persist=True)
    c1 = {(r.id, tuple(r.codes)) for r in idx.codes.collect()}
    c2 = {(r.id, tuple(r.codes)) for r in idx2.codes.collect()}
    assert c1 == c2
    # (d) multi-block grid: same gates; recall can only improve
    multi_rows = pq_adc_topk(embs, queries, k=5, index=idx, block_rows=64).collect()
    multi = {(r.query_id, r.neighbor_id) for r in multi_rows}
    assert len(exact & multi) / len(exact) >= recall
    for r in multi_rows:
        key = (r.query_id, r.neighbor_id)
        assert key in pool and pool[key] == r.cosine
    idx.release()
    idx2.release()


def test_prototypicality_prune_contract(spark):
    """Pruning gates: scores equal a numpy recompute of
    cosine(vector, home-cell centroid); per-cell quota respected in
    both modes with opposite tails kept; every corpus vector appears
    exactly once; deterministic across invocations."""
    import numpy as np

    from stock_market_data_pipeline_v2_spark.operators.curation import (
        prototypicality_prune,
    )
    from stock_market_data_pipeline_v2_spark.operators.similarity import (
        build_ivf_index,
    )

    embs = _embs(spark)
    n = embs.count()
    idx = build_ivf_index(embs, n_assign=2, persist=True)
    rows = prototypicality_prune(idx, keep_fraction=0.7).collect()
    assert len(rows) == n and len({r.id for r in rows}) == n

    cent = {r.cell: np.asarray(r.cv) for r in idx.centroids.collect()}
    vecs = {r.id: (np.asarray(r.v), r.cells[0]) for r in idx.assignments.collect()}
    for r in rows[:200]:
        v, home = vecs[r.id]
        assert r.cell == home
        c = cent[r.cell]
        denom = np.linalg.norm(v) * np.linalg.norm(c)
        want = float(v @ c / denom) if denom else None
        assert want is not None and abs(r.prototypicality - want) < 1e-6

    import math
    from collections import Counter

    cell_n = Counter(r.cell for r in rows)
    kept = Counter(r.cell for r in rows if r.keep)
    assert all(kept[c] == math.ceil(0.7 * cell_n[c]) for c in cell_n)
    # prune_prototypes keeps the LOW-score tail; prune_outliers the HIGH
    by_cell_scores = {}
    for r in rows:
        by_cell_scores.setdefault(r.cell, []).append((r.prototypicality, r.keep))
    out_rows = prototypicality_prune(idx, keep_fraction=0.7, mode="prune_outliers").collect()
    hi = {}
    for r in out_rows:
        hi.setdefault(r.cell, []).append((r.prototypicality, r.keep))
    for c, scored in by_cell_scores.items():
        lo_kept = max(s for s, k in scored if k)
        lo_drop = min((s for s, k in scored if not k), default=None)
        if lo_drop is not None:
            assert lo_kept <= lo_drop + 1e-12  # kept tail is the low one
        hi_kept = min(s for s, k in hi[c] if k)
        hi_drop = max((s for s, k in hi[c] if not k), default=None)
        if hi_drop is not None:
            assert hi_kept >= hi_drop - 1e-12
    again = prototypicality_prune(idx, keep_fraction=0.7).collect()
    assert {tuple(r) for r in again} == {tuple(r) for r in rows}
    idx.release()


@pytest.mark.filterwarnings("error:Cannot infer the eval type")
def test_ivfpq_recall_and_pool_precision(spark):
    """IVF-PQ composition gates: recall ≥ 0.6 vs brute; every
    emission in the deep brute pool with the identical exact cosine;
    raising the refine budget with everything else fixed never lowers
    recall (a larger ADC trim keeps a SUPERSET of candidates; note
    n_probe is NOT monotone under a fixed budget — extra cells'
    members compete in the global trim and can evict true neighbors
    the ADC underscores)."""
    from stock_market_data_pipeline_v2_spark.operators.pq import (
        build_pq_index,
        ivfpq_adc_topk,
    )
    from stock_market_data_pipeline_v2_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk,
    )

    embs = _embs(spark)
    queries = embs.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r.query_id, r.neighbor_id) for r in cosine_topk(embs, queries, k=5).collect()
    }
    pool = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk(embs, queries, k=50).collect()
    }
    ivf = build_ivf_index(embs, n_assign=3, persist=True)
    pq = build_pq_index(embs, persist=True)
    rows = ivfpq_adc_topk(embs, queries, k=5, ivf_index=ivf, pq_index=pq).collect()
    got = {(r.query_id, r.neighbor_id) for r in rows}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.6, f"IVF-PQ recall too low: {recall}"
    for r in rows:
        key = (r.query_id, r.neighbor_id)
        assert key in pool and pool[key] == r.cosine
    wide = ivfpq_adc_topk(
        embs, queries, k=5, ivf_index=ivf, pq_index=pq, refine=32
    ).collect()
    wide_recall = len(exact & {(r.query_id, r.neighbor_id) for r in wide}) / len(exact)
    assert wide_recall >= recall
    ivf.release()
    pq.release()


def test_extend_ivf_index_matches_rebuild_assignment(spark):
    """Incremental add contract: extending an index with a new batch
    assigns the batch EXACTLY as the build step would against the
    same centroids, leaves existing assignments untouched, and the
    extended index serves queries covering both halves."""
    from stock_market_data_pipeline_v2_spark.operators.similarity import (
        build_ivf_index,
        extend_ivf_index,
        ivf_topk,
    )

    embs = _embs(spark)
    old = embs.filter(F.col("vec_id") % 5 != 0)
    new = embs.filter(F.col("vec_id") % 5 == 0)
    idx = build_ivf_index(old, n_assign=2, persist=True)
    ext = extend_ivf_index(idx, new, persist=True)

    before = {r.id: tuple(r.cells) for r in idx.assignments.collect()}
    after = {r.id: tuple(r.cells) for r in ext.assignments.collect()}
    assert set(after) == {r.vec_id for r in embs.select("vec_id").collect()}
    assert all(after[i] == c for i, c in before.items())  # old untouched

    # determinism: a second extend assigns the batch identically
    ext2 = extend_ivf_index(idx, new)
    again = {r.id: tuple(r.cells) for r in ext2.assignments.collect()}
    assert again == after

    got = ivf_topk(None, embs.filter(F.col("vec_id") % 100 == 0), k=5, index=ext)
    assert got.count() > 0
    ext.release()


def test_gram_builders_match_naive_formulation(spark):
    """The zip_with n-gram composition (PERF.md lesson 3) must emit
    exactly the grams of the naive transform(sequence, slice) form it
    replaced, for every doc in the corpus and for n = 2, 3, 4."""
    from stock_market_data_pipeline_v2_spark.operators.dedup import (
        _norm_text,
        grams_from,
    )

    docs = _docs(spark)
    for n in (2, 3, 4):
        words = F.split(_norm_text(), r"\s+")
        naive = F.when(
            F.size(words) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(words) - (n - 1)),
                lambda i: F.array_join(F.slice(words, i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
        diff = docs.select(
            F.col("doc_id"),
            grams_from(_norm_text(), n).alias("a"),
            naive.alias("b"),
        ).filter(F.col("a") != F.col("b"))
        assert diff.count() == 0, f"gram mismatch at n={n}"


def test_write_training_shards_contract(spark, tmp_path):
    """Shard export: (a) every doc lands in exactly one shard and
    reads back intact; (b) spill contract — each shard minus its last
    doc is under budget; (c) doc_id ranges of consecutive shards
    never interleave (tape order); (d) manifest matches the written
    layout and a re-run is byte-identical."""
    from stock_market_data_pipeline_v2_spark.operators.curation import (
        write_training_shards,
    )

    docs = _docs(spark)
    out = str(tmp_path / "shards")
    budget = 2000
    manifest = write_training_shards(docs, out, shard_tokens=budget).collect()
    back = spark.read.parquet(out)
    n = docs.count()
    assert back.count() == n
    assert back.select("doc_id").distinct().count() == n

    rows = back.select("shard_id", "doc_id", "n_tokens").collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard_id, []).append((r.doc_id, r.n_tokens))
    for sid, members in by_shard.items():
        members.sort()
        total = sum(t for _, t in members)
        assert total - members[-1][1] < budget  # spill contract
    sids = sorted(by_shard)
    for a, b in zip(sids, sids[1:]):
        assert max(d for d, _ in by_shard[a]) < min(d for d, _ in by_shard[b])

    m = {r.shard_id: (r.n_docs, r.shard_tokens) for r in manifest}
    assert m == {
        sid: (len(v), sum(t for _, t in v)) for sid, v in by_shard.items()
    }
    manifest2 = write_training_shards(docs, out, shard_tokens=budget).collect()
    assert sorted(map(tuple, manifest2)) == sorted(map(tuple, manifest))


def test_hash_embeddings_drive_dense_stack(spark):
    """Feature-hash embeddings plug into the dense stack: exact
    duplicate texts embed IDENTICALLY, planted near-dup pairs (the
    jaccard ≥ 0.5 set) score high cosine on hashed vectors, and the
    brute ANN tier runs end-to-end on them (the point of the op —
    corpora without model embeddings still get the whole stack)."""
    from stock_market_data_pipeline_v2_spark.operators.dedup import (
        shingle_jaccard_pairs,
    )
    from stock_market_data_pipeline_v2_spark.operators.similarity import (
        cosine_topk,
    )
    from stock_market_data_pipeline_v2_spark.operators.text import (
        hash_embed_documents,
    )

    docs = _docs(spark)
    emb = hash_embed_documents(docs).withColumnRenamed("doc_id", "vec_id")
    vecs = {r.vec_id: tuple(r.embedding) for r in emb.collect()}

    planted = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma delta epsilon"),
            Row(doc_id=2, text="alpha beta gamma delta epsilon"),
            Row(doc_id=3, text="zeta eta theta iota kappa"),
        ]
    )
    pv = {r.doc_id: tuple(r.embedding) for r in hash_embed_documents(planted).collect()}
    assert pv[1] == pv[2] and pv[1] != pv[3]  # exact dup → identical vector

    import math

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb) if na and nb else 0.0

    near = shingle_jaccard_pairs(docs, threshold=0.5).collect()
    assert near
    scores = [cos(vecs[r.doc_a], vecs[r.doc_b]) for r in near]
    assert sum(s >= 0.5 for s in scores) / len(scores) >= 0.9

    queries = emb.filter(F.col("vec_id") % 50 == 0)
    assert cosine_topk(emb, queries, k=3).count() > 0


def test_leakage_safe_split_never_straddles(spark):
    """Every near-dup pair lands on ONE side; singletons split by
    their own hash; the assignment is invariant to partitioning."""
    from stock_market_data_pipeline_v2_spark.operators.curation import (
        leakage_safe_split,
    )
    from stock_market_data_pipeline_v2_spark.operators.dedup import (
        shingle_jaccard_pairs,
    )

    docs = _docs(spark)
    pairs = shingle_jaccard_pairs(docs, threshold=0.5)
    split = leakage_safe_split(docs, pairs, val_fraction=0.25).cache()
    side = {r.doc_id: r.split for r in split.collect()}
    pr = pairs.select("doc_a", "doc_b").collect()
    assert pr, "testdata should contain planted near-dups"
    for r in pr:
        assert side[r.doc_a] == side[r.doc_b], (r.doc_a, r.doc_b)
    # full coverage, both sides populated at 25%
    assert len(side) == docs.count()
    n_val = sum(1 for s in side.values() if s == "val")
    assert 0 < n_val < len(side)
    # partition-invariance: same assignment from a different layout
    again = {
        r.doc_id: r.split
        for r in leakage_safe_split(
            docs.repartition(7), pairs.repartition(3), val_fraction=0.25
        ).collect()
    }
    assert again == side
    split.unpersist()


def test_scd2_history_versions_on_change(spark):
    """Hand-built change stream: same-value touches collapse, ts ties
    order by the tiebreak id, validity chains end-to-end."""
    from datetime import datetime

    from stock_market_data_pipeline_v2_spark.operators.upsert import scd2_history

    T = datetime
    rows = [
        # user 1: A, touch A (collapses), B, back to A
        Row(user_id=1, ts=T(2024, 1, 1, 9), status="A", event_id=1),
        Row(user_id=1, ts=T(2024, 1, 2, 9), status="A", event_id=2),
        Row(user_id=1, ts=T(2024, 1, 3, 9), status="B", event_id=3),
        Row(user_id=1, ts=T(2024, 1, 4, 9), status="A", event_id=4),
        # user 2: ts tie resolved by event_id → X then Y
        Row(user_id=2, ts=T(2024, 1, 1, 9), status="X", event_id=10),
        Row(user_id=2, ts=T(2024, 1, 1, 9), status="Y", event_id=11),
    ]
    out = scd2_history(spark.createDataFrame(rows)).collect()
    h = {(r.user_id, r.version): r for r in out}
    assert len(h) == 5
    u1 = [h[(1, v)] for v in (1, 2, 3)]
    assert [r.status for r in u1] == ["A", "B", "A"]
    assert u1[0].valid_from == T(2024, 1, 1, 9)
    # the collapsed touch does NOT open a version; A stays valid to the B change
    assert u1[0].valid_to == T(2024, 1, 3, 9)
    assert u1[1].valid_to == T(2024, 1, 4, 9)
    assert u1[2].valid_to is None and u1[2].is_current
    assert not u1[0].is_current and not u1[1].is_current
    u2 = [h[(2, v)] for v in (1, 2)]
    assert [r.status for r in u2] == ["X", "Y"]
    assert u2[0].valid_to == u2[1].valid_from  # zero-duration tie interval


def test_importance_resample_favors_target(spark):
    """Docs from the target slice should carry higher mean importance
    weight than the rest; the Gumbel draw is deterministic."""
    from stock_market_data_pipeline_v2_spark.operators.curation import (
        importance_resample,
        importance_weights,
    )

    docs = _docs(spark)
    target = docs.filter("lang = 'en'")
    w = importance_weights(docs, target)
    rows = w.join(docs.select("doc_id", "lang"), "doc_id").collect()
    en = [r.importance_weight for r in rows if r.lang == "en"]
    rest = [r.importance_weight for r in rows if r.lang != "en"]
    assert en and rest
    assert sum(en) / len(en) > sum(rest) / len(rest)
    s1 = importance_resample(docs, target, n_keep=50).collect()
    assert len(s1) == 50 and all(r.sample_rank <= 50 for r in s1)
    s2 = importance_resample(docs.repartition(13), target, n_keep=50).collect()
    assert sorted(r.doc_id for r in s1) == sorted(r.doc_id for r in s2)


def test_incremental_dedup_planted_verdicts(spark):
    """All three verdict branches on planted docs: an exact copy of a
    corpus doc, a near-copy (one word changed), and a fresh doc."""
    from stock_market_data_pipeline_v2_spark.operators.dedup import (
        incremental_dedup_decisions,
        release_cached_inputs,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [Row(doc_id=1, text=base), Row(doc_id=2, text="totally different words here")]
    )
    batch = spark.createDataFrame(
        [
            Row(doc_id=100, text="  " + base.upper() + " "),  # normalizes equal
            Row(doc_id=101, text=base.replace("kappa", "lambda")),  # near-dup
            Row(doc_id=102, text="unrelated fresh content nothing shared at all"),
        ]
    )
    out = incremental_dedup_decisions(corpus, batch, threshold=0.5)
    rows = {r.doc_id: r for r in out.collect()}
    release_cached_inputs(out)
    assert rows[100].verdict == "drop_exact" and rows[100].match_doc_id == 1
    assert rows[100].jaccard is None
    assert rows[101].verdict == "drop_neardup" and rows[101].match_doc_id == 1
    assert rows[101].jaccard and rows[101].jaccard >= 0.5
    assert rows[102].verdict == "keep" and rows[102].match_doc_id is None


def test_wav_codec_real_roundtrip(spark):
    """The REAL codec tier: synthesized WAV containers parse back with
    the exact header fields, and signal features match the analytic
    expectation for the known tone (zero crossings of a f-Hz sine over
    d seconds ≈ 2·f·d)."""
    from stock_market_data_pipeline_v2_spark.operators.multimodal import (
        _WAV_RATE,
        _WAV_SECONDS,
        attach_wav_audio,
        decode_wav_features,
    )

    docs = _docs(spark).limit(32)
    media = attach_wav_audio(docs)
    feats = {r.doc_id: r for r in decode_wav_features(media).collect()}
    assert len(feats) == 32
    n_expected = int(_WAV_RATE * _WAV_SECONDS)
    for doc_id, r in feats.items():
        assert r.sample_rate == _WAV_RATE
        assert r.n_channels == 1 and r.sample_width == 2
        assert r.n_frames == n_expected
        assert r.duration_ms == 50
        freq = 220.0 + 55.0 * (doc_id % 16)
        expected_zc = 2.0 * freq * _WAV_SECONDS
        assert abs(r.zero_crossings - expected_zc) <= 2  # boundary samples
        # PCM16 sine at amplitude 20000: rms ≈ 20000/√2, peak ≤ 20000
        assert abs(r.rms - 20000 / 2**0.5) < 300
        assert 19000 <= r.peak <= 20000

    # determinism: payload bytes identical across invocations (golden
    # stability for the container writer)
    p1 = {r.doc_id: bytes(r.payload) for r in media.collect()}
    p2 = {
        r.doc_id: bytes(r.payload)
        for r in attach_wav_audio(_docs(spark).limit(32)).collect()
    }
    assert p1 == p2
    assert all(v[:4] == b"RIFF" and v[8:12] == b"WAVE" for v in p1.values())


def test_audio_frozen_features():
    """The oracle's frozen per-class feature table
    (oracles.AUDIO_CLASS_FEATURES) must equal what the REAL kernel
    computes on this host. Rationale (ADVICE r6): the r6 oracle
    recomputed sin() inside DuckDB, betting DuckDB's libm bit-matches
    numpy's at int16 truncation boundaries — true here, not portable.
    Freezing the 16 rows keeps transcendentals out of the oracle
    boundary; if numpy/libm ever drifts, THIS test fails loudly
    instead of the driver's hash gate flipping silently."""
    import io
    import wave

    import numpy as np
    import pandas as pd

    from stock_market_data_pipeline_v2_spark import oracles
    from stock_market_data_pipeline_v2_spark.operators.multimodal import (
        _decode_wav_batch,
        _synth_wav_bytes,
    )

    pdf = pd.DataFrame(
        {"doc_id": list(range(16)),
         "payload": [_synth_wav_bytes(k) for k in range(16)]}
    )
    out = _decode_wav_batch(pdf)
    got = [
        (int(r.doc_id), int(r.rms), int(r.peak), int(r.zero_crossings))
        for r in out.itertuples()
    ]
    assert got == oracles.AUDIO_CLASS_FEATURES, (
        "numpy/libm produced different audio features than the frozen "
        "oracle table — regenerate oracles.AUDIO_CLASS_FEATURES from "
        "this kernel output and re-verify the oracle gate"
    )
    # no sin()/pi() may cross the oracle boundary
    low = oracles.AUDIO_FEATURES_SQL.lower()
    assert "sin(" not in low and "pi()" not in low


def test_png_codec_real_roundtrip_and_filters(spark):
    """REAL image codec: decoded pixels equal the synth formula
    exactly, and the decoder handles every PNG scanline filter, not
    just the one its own encoder emits."""
    import zlib

    import numpy as np

    from stock_market_data_pipeline_v2_spark.operators.multimodal import (
        _PNG_SIDE,
        _png_chunk,
        _png_decode,
        _synth_pixels,
        _synth_png_bytes,
        attach_png_images,
        decode_png_features,
    )

    docs = _docs(spark).limit(16)
    feats = {r.doc_id: r for r in decode_png_features(attach_png_images(docs)).collect()}
    assert len(feats) == 16
    for doc_id, r in feats.items():
        px = _synth_pixels(doc_id).astype("int64")
        assert (r.width, r.height, r.channels) == (_PNG_SIDE, _PNG_SIDE, 3)
        n = _PNG_SIDE * _PNG_SIDE
        assert r.mean_r == int(px[..., 0].sum() // n)
        assert r.mean_g == int(px[..., 1].sum() // n)
        assert r.mean_b == int(px[..., 2].sum() // n)
        assert r.pixel_checksum == int(px.sum() % 1_000_000_007)

    # pixel-exact: decode(encode(px)) == px
    assert (_png_decode(_synth_png_bytes(7)) == _synth_pixels(7)).all()

    # filter coverage: re-encode the same image with Sub(1), Up(2),
    # Average(3) and Paeth(4) scanline filters; decode must recover
    # identical pixels from every encoding
    px = _synth_pixels(3)
    h, w, _ = px.shape

    def encode_with_filter(ft):
        rows = []
        prev = np.zeros(w * 3, dtype=np.int64)
        for y in range(h):
            cur = px[y].reshape(-1).astype(np.int64)
            if ft == 1:
                left = np.concatenate([np.zeros(3, dtype=np.int64), cur[:-3]])
                enc = (cur - left) % 256
            elif ft == 2:
                enc = (cur - prev) % 256
            elif ft == 3:
                left = np.concatenate([np.zeros(3, dtype=np.int64), cur[:-3]])
                enc = (cur - (left + prev) // 2) % 256
            elif ft == 4:
                enc = np.zeros(w * 3, dtype=np.int64)
                for i in range(w * 3):
                    a = int(cur[i - 3]) if i >= 3 else 0
                    b = int(prev[i])
                    c = int(prev[i - 3]) if i >= 3 else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    base = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    enc[i] = (cur[i] - base) % 256
            rows.append(bytes([ft]) + bytes(enc.astype(np.uint8)))
            prev = cur
        import struct

        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(b"".join(rows)))
            + _png_chunk(b"IEND", b"")
        )

    for ft in (1, 2, 3, 4):
        assert (_png_decode(encode_with_filter(ft)) == px).all(), f"filter {ft}"


def test_png_real_resize_kernel(spark):
    """Real resize: decode(resize(encode(px))) == px[::2, ::2]."""
    from stock_market_data_pipeline_v2_spark.operators.multimodal import (
        _png_decode,
        _synth_pixels,
        attach_png_images,
        resize_png_images,
    )

    docs = _docs(spark).limit(8)
    out = {
        r.doc_id: r
        for r in resize_png_images(attach_png_images(docs), factor=2).collect()
    }
    assert len(out) == 8
    for doc_id, r in out.items():
        expect = _synth_pixels(doc_id)[::2, ::2]
        assert (r.height, r.width) == expect.shape[:2]
        assert (_png_decode(bytes(r.resized)) == expect).all()


def test_bpe_trainer_classic_corpus_and_greedy_runs(spark):
    """BPE trainer on the Sennrich corpus learns the textbook merge
    sequence; the window-algebra merge pass implements greedy
    left-to-right semantics exactly (parity rule on a==b runs)."""
    from stock_market_data_pipeline_v2_spark.operators.bpe import (
        _init_symbols,
        _merge_pass,
        bpe_encode_vocab,
        learn_bpe_merges,
        word_vocab,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="low low low low low"),
            Row(doc_id=1, text="lower lower"),
            Row(doc_id=2, text="newest newest newest newest newest newest"),
            Row(doc_id=3, text="widest widest widest"),
        ]
    )
    merges = learn_bpe_merges(docs, n_merges=5)
    # freqs: es 9, est 9, est</w> 9, lo 7, low 7 — the textbook run
    assert merges == [
        ("e", "s"),
        ("es", "t"),
        ("est", "</w>"),
        ("l", "o"),
        ("lo", "w"),
    ]
    enc = {
        r.word: list(r.subwords)
        for r in bpe_encode_vocab(word_vocab(docs), merges).collect()
    }
    assert enc["low"] == ["low", "</w>"]
    assert enc["newest"] == ["n", "e", "w", "est</w>"]

    # greedy a==b runs: 'aaaa' under (a,a) → [aa, aa, </w>]; 'aaa' →
    # [aa, a, </w>] (even offsets within the run merge, odd wait)
    runs = spark.createDataFrame(
        [Row(word="aaaa", freq=1), Row(word="aaa", freq=1)]
    )
    merged = _merge_pass(_init_symbols(runs), "a", "a")
    out = {
        r.word: [s.sym for s in sorted(r.syms, key=lambda s: s.pos)]
        for r in merged.groupBy("word")
        .agg(F.collect_list(F.struct("pos", "sym")).alias("syms"))
        .collect()
    }
    assert out["aaaa"] == ["aa", "aa", "</w>"]
    assert out["aaa"] == ["aa", "a", "</w>"]


def test_bpe_pass_matches_python_reference_randomized(spark):
    """Differential test: the window-algebra merge pass equals a
    straightforward Python greedy scan on 60 random words from a tiny
    alphabet (adversarial for run/parity logic: long equal-symbol
    runs, overlapping candidates), across several merge pairs."""
    import random

    from stock_market_data_pipeline_v2_spark.operators.bpe import (
        EOW,
        _init_symbols,
        _merge_pass,
    )

    rng = random.Random(42)
    words = list(
        {
            "".join(rng.choice("aab") for _ in range(rng.randint(1, 12)))
            for _ in range(60)
        }
    )
    vocab = spark.createDataFrame([Row(word=w, freq=1) for w in words])

    def py_greedy(syms, a, b):
        out = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    for a, b in [("a", "a"), ("a", "b"), ("b", "a"), ("aa", "b")]:
        sym = _init_symbols(vocab)
        if (a, b) == ("aa", "b"):  # second-round pair: apply (a,a) first
            sym = _merge_pass(sym, "a", "a")
        got = {
            r.word: [s.sym for s in sorted(r.syms, key=lambda s: s.pos)]
            for r in _merge_pass(sym, a, b)
            .groupBy("word")
            .agg(F.collect_list(F.struct("pos", "sym")).alias("syms"))
            .collect()
        }
        for w in words:
            base = list(w) + [EOW]
            if (a, b) == ("aa", "b"):
                base = py_greedy(base, "a", "a")
            assert got[w] == py_greedy(base, a, b), (w, a, b)


def test_incremental_lsh_subset_of_exact_and_recall(spark):
    """LSH admission tier: (a) every verdict it emits that DROPS a doc
    appears in the exact tier's output with the identical match and
    rounded jaccard (subset-bit-identity — LSH may only downgrade a
    drop to keep, never invent or alter one); (b) planted near-dups
    are caught."""
    from stock_market_data_pipeline_v2_spark.operators.dedup import (
        incremental_dedup_decisions,
        incremental_dedup_lsh,
        release_cached_inputs,
    )

    docs = _docs(spark)
    corpus = docs.filter("doc_id % 10 != 0")
    batch = docs.filter("doc_id % 10 = 0")
    exact = incremental_dedup_decisions(corpus, batch, threshold=0.5)
    exact_rows = {r.doc_id: r for r in exact.collect()}
    release_cached_inputs(exact)
    lsh = incremental_dedup_lsh(corpus, batch, threshold=0.5)
    lsh_rows = {r.doc_id: r for r in lsh.collect()}
    release_cached_inputs(lsh)

    assert set(lsh_rows) == set(exact_rows)  # one verdict per batch doc
    n_drops_exact = sum(1 for r in exact_rows.values() if r.verdict != "keep")
    n_drops_lsh = 0
    for doc_id, r in lsh_rows.items():
        e = exact_rows[doc_id]
        if r.verdict == "keep":
            continue
        n_drops_lsh += 1
        # subset-bit-identity vs the exact tier
        assert (r.verdict, r.match_doc_id, r.jaccard) == (
            e.verdict,
            e.match_doc_id,
            e.jaccard,
        ), (doc_id, r, e)
    assert n_drops_exact > 0
    # recall over the testdata's planted dups
    assert n_drops_lsh >= 0.6 * n_drops_exact

    # planted: an exact copy and a one-word-change near-dup must drop
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    c2 = spark.createDataFrame([Row(doc_id=1, text=base)])
    b2 = spark.createDataFrame(
        [
            Row(doc_id=100, text=base.upper()),
            Row(doc_id=101, text=base.replace("kappa", "lambda")),
        ]
    )
    out = incremental_dedup_lsh(c2, b2, threshold=0.5)
    planted = {r.doc_id: r.verdict for r in out.collect()}
    release_cached_inputs(out)
    assert planted[100] == "drop_exact"
    assert planted[101] == "drop_neardup"


def test_sft_spans_index_into_flat_string(spark):
    """The span contract, end-to-end: reconstruct each doc's flattened
    chat string from its turns and assert every span [start, end)
    slices out exactly its rendered turn — the invariant that keeps
    SFT loss off user text."""
    from stock_market_data_pipeline_v2_spark.operators.curation import (
        chunk_documents,
        sft_render_spans,
    )

    docs = _docs(spark).limit(25)
    spans = sft_render_spans(docs, turn_chars=256).collect()
    turns = {
        (r.doc_id, r.chunk_idx): r.chunk_text
        for r in chunk_documents(docs, chunk_chars=256, overlap=0).collect()
    }
    by_doc = {}
    for r in sorted(spans, key=lambda r: (r.doc_id, r.turn_idx)):
        rendered = f"<|{r.role}|>{turns[(r.doc_id, r.turn_idx)]}<|end|>"
        by_doc.setdefault(r.doc_id, []).append((r, rendered))
    assert by_doc
    for doc_id, items in by_doc.items():
        flat = "".join(rendered for _, rendered in items)
        for r, rendered in items:
            assert flat[r.span_start : r.span_end] == rendered, (doc_id, r)
            assert r.trainable == (r.role == "assistant")


def test_bpe_model_roundtrip(spark, tmp_path):
    from stock_market_data_pipeline_v2_spark.operators.bpe import (
        bpe_token_counts,
        learn_bpe_merges,
        load_bpe_model,
        save_bpe_model,
    )

    docs = _docs(spark).limit(40)
    merges = learn_bpe_merges(docs, n_merges=6)
    p = str(tmp_path / "bpe.json")
    save_bpe_model(merges, p)
    assert load_bpe_model(p) == merges
    # counts under the reloaded model equal counts under the original
    a = {r.doc_id: r.n_bpe_tokens for r in bpe_token_counts(docs, merges).collect()}
    b = {
        r.doc_id: r.n_bpe_tokens
        for r in bpe_token_counts(docs, load_bpe_model(p)).collect()
    }
    assert a == b and a


def test_strip_html_and_split_sentences_planted(spark):
    """Planted cases for the crawl-cleaning pair: script payloads must
    not leak, entities decode once, block tags become line structure;
    sentence split handles multi-terminator text (the corpus docs have
    no punctuation, so the oracle row alone is degenerate for these
    paths)."""
    from stock_market_data_pipeline_v2_spark.operators.text import (
        split_sentences,
        strip_html,
    )

    html = (
        '<html><head><script>var x = "<p>LEAK</p>";</script>'
        "<style>b {}</style></head><body><h1>Title</h1>"
        "<p>one &amp;lt; two</p><p>a&nbsp;b</p><!-- gone --></body></html>"
    )
    out = strip_html(
        spark.createDataFrame([Row(doc_id=1, html=html)])
    ).collect()[0]
    assert "LEAK" not in out.clean_text and "gone" not in out.clean_text
    # &amp;lt; decodes ONCE: literal "&lt;", never "<"
    assert out.clean_text == "Title\none &lt; two\na b"

    sents = split_sentences(
        spark.createDataFrame(
            [Row(doc_id=1, text="First one. Second!  Third? no-split.end")]
        )
    ).collect()
    assert [r.sentence for r in sents] == [
        "first one.",
        "second!",
        "third?",
        "no-split.end",  # terminator without trailing space: no split
    ]
    assert [r.sent_idx for r in sents] == [0, 1, 2, 3]


def test_tfidf_topk_hand_computed(spark):
    """Rare terms outrank common ones; k bounds output; ties break on
    token; token-free docs emit no rows."""
    import math

    from stock_market_data_pipeline_v2_spark.operators.retrieval import (
        tfidf_topk,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="common common rare"),
            Row(doc_id=2, text="common other"),
            Row(doc_id=3, text="common"),
            Row(doc_id=4, text="   "),  # token-free
        ]
    )
    out = tfidf_topk(docs, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 4 not in by_doc  # token-free: no keywords
    assert all(len(v) <= 2 for v in by_doc.values())
    d1 = {r.token: r for r in by_doc[1]}
    # doc 1: tf(common)=2 idf=ln(5/4)+1; tf(rare)=1 idf=ln(5/2)+1
    idf_common = math.log(5.0 / 4.0) + 1.0
    idf_rare = math.log(5.0 / 2.0) + 1.0
    assert abs(d1["common"].tfidf - round(2 * idf_common, 6)) < 1e-9
    assert abs(d1["rare"].tfidf - round(1 * idf_rare, 6)) < 1e-9
    # 2*idf_common (~2.446) > idf_rare (~1.916): common ranks first
    assert d1["common"].rank == 1 and d1["rare"].rank == 2
    # doc 3 has one term -> single row rank 1
    assert [r.rank for r in by_doc[3]] == [1]


def test_shingle_novelty_planted(spark):
    """First doc owns all its shingles (share 1.0); a verbatim later
    duplicate owns none (0.0); a doc under n words has no shingles
    (n_shingles=0, NULL share)."""
    from stock_market_data_pipeline_v2_spark.operators.curation import (
        shingle_novelty,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=10, text="alpha beta gamma delta"),
            Row(doc_id=20, text="alpha beta gamma delta"),  # exact dup
            Row(doc_id=30, text="totally fresh words here now"),
            Row(doc_id=40, text="two words"),  # < n=3 words
        ]
    )
    out = {r.doc_id: r for r in shingle_novelty(docs, n=3).collect()}
    assert out[10].n_shingles == 2 and out[10].novelty_share == 1.0
    assert out[20].n_shingles == 2 and out[20].novelty_share == 0.0
    assert out[30].novelty_share == 1.0
    assert out[40].n_shingles == 0 and out[40].novelty_share is None
    # ordering contract: doc_id ascending
    assert [r.doc_id for r in shingle_novelty(docs, n=3).collect()] == [
        10,
        20,
        30,
        40,
    ]


def test_cross_source_contamination_planted(spark):
    """Planted near-dup across two sources: the matrix counts it in
    BOTH directions, the diagonal stays 0, zero rows are explicit."""
    from stock_market_data_pipeline_v2_spark.operators.curation import (
        cross_source_contamination,
    )
    from stock_market_data_pipeline_v2_spark.operators.dedup import (
        shingle_jaccard_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=base, lang="en", source="crawl"),
            Row(doc_id=2, text=base + " iota", lang="en", source="bench"),
            Row(doc_id=3, text="totally different words entirely here",
                lang="en", source="crawl"),
            Row(doc_id=4, text="another unrelated document body text",
                lang="en", source="clean"),
        ]
    )
    pairs = shingle_jaccard_pairs(docs, n=3, threshold=0.5)
    out = {
        (r.source_a, r.source_b): r
        for r in cross_source_contamination(docs, pairs).collect()
    }
    assert len(out) == 9  # full 3x3 spine, zeros explicit
    assert out[("crawl", "bench")].n_contaminated == 1
    assert out[("crawl", "bench")].n_docs_a == 2
    assert out[("crawl", "bench")].contamination_rate == 0.5
    assert out[("bench", "crawl")].n_contaminated == 1
    assert out[("bench", "crawl")].contamination_rate == 1.0
    assert out[("crawl", "crawl")].n_contaminated == 0
    assert out[("clean", "bench")].n_contaminated == 0


def test_repeated_span_stats_planted(spark):
    """A verbatim 8-token passage shared by two docs is found with the
    exact interval union; unique docs and short docs report zeros."""
    from stock_market_data_pipeline_v2_spark.operators.dedup import (
        repeated_span_stats,
    )

    shared = "one two three four five six seven eight"  # 8 tokens
    docs = spark.createDataFrame(
        [
            # shared passage at offset 2 of a 12-token doc
            Row(doc_id=1, text="aa bb " + shared + " yy zz"),
            # the same passage at offset 0 of a 10-token doc
            Row(doc_id=2, text=shared + " pp qq"),
            Row(doc_id=3, text="totally unrelated words that repeat nothing at all"),
            Row(doc_id=4, text="short doc"),
            Row(doc_id=5, text=""),
        ]
    )
    out = {r.doc_id: r for r in repeated_span_stats(docs, span_tokens=8).collect()}
    # doc 1: 12 tokens; exactly one shared 8-gram (the passage) at pos 2
    assert out[1].n_tokens == 12 and out[1].n_repeated_spans == 1
    assert out[1].covered_tokens == 8 and out[1].repeated_frac == round(8 / 12, 6)
    # doc 2: 10 tokens; same passage at pos 0
    assert out[2].covered_tokens == 8 and out[2].repeated_frac == 0.8
    assert out[3].n_repeated_spans == 0 and out[3].repeated_frac == 0.0
    assert out[4].n_tokens == 2 and out[4].covered_tokens == 0
    assert out[5].n_tokens == 0 and out[5].repeated_frac is None
    # overlap union: two docs sharing a 9-token run contain TWO shared
    # 8-grams whose spans overlap — covered tokens must be 9, not 16
    nine = "n1 n2 n3 n4 n5 n6 n7 n8 n9"
    docs2 = spark.createDataFrame(
        [Row(doc_id=1, text=nine + " tailx"), Row(doc_id=2, text="headx " + nine)]
    )
    out2 = {r.doc_id: r for r in repeated_span_stats(docs2, span_tokens=8).collect()}
    assert out2[1].n_repeated_spans == 2 and out2[1].covered_tokens == 9
    assert out2[2].covered_tokens == 9


def test_extend_pq_index_matches_build_encoding(spark):
    """PQ incremental-add contract (twin of the IVF test): a new
    batch encodes against the FROZEN codebooks exactly as the build
    pass would, existing codes are untouched, the extend is
    deterministic, and the extended index serves ADC queries over
    both halves."""
    from stock_market_data_pipeline_v2_spark.operators.pq import (
        build_pq_index,
        extend_pq_index,
        pq_adc_topk,
    )

    embs = _embs(spark)
    old = embs.filter(F.col("vec_id") % 5 != 0)
    new = embs.filter(F.col("vec_id") % 5 == 0)
    idx = build_pq_index(old, persist=True)
    before = {r.id: tuple(r.codes) for r in idx.codes.collect()}

    ext = extend_pq_index(idx, new, persist=True)
    after = {r.id: tuple(r.codes) for r in ext.codes.collect()}
    assert set(after) == {r.vec_id for r in embs.select("vec_id").collect()}
    assert all(after[i] == c for i, c in before.items())  # old untouched
    # codebooks are frozen by construction (same object)
    assert ext.codebook_local == idx.codebook_local

    # determinism: a second extend encodes the batch identically
    ext2 = extend_pq_index(idx._replace(codes=ext.codes.limit(0)), new)
    again = {r.id: tuple(r.codes) for r in ext2.codes.collect()}
    assert all(after[i] == c for i, c in again.items())
    assert set(again) == {r.vec_id for r in new.select("vec_id").collect()}

    got = pq_adc_topk(embs, embs.filter(F.col("vec_id") % 100 == 0), k=5, index=ext)
    assert got.count() > 0
    ext.release()


def test_dedup_sentences_within_doc_planted(spark):
    """First occurrence kept, order preserved, repeats removed;
    sentence-free docs emit empty clean_text."""
    from stock_market_data_pipeline_v2_spark.operators.text import (
        dedup_sentences_within_doc,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="Buy now. Real content here. Buy now. More text. Buy now."),
            Row(doc_id=2, text="Unique one. Unique two."),
            Row(doc_id=3, text=""),
        ]
    )
    out = {r.doc_id: r for r in dedup_sentences_within_doc(docs).collect()}
    assert out[1].n_sentences == 5 and out[1].n_unique == 3
    assert out[1].n_removed == 2
    # order preserved, first occurrences only (normalized lowercase)
    assert out[1].clean_text == "buy now. real content here. more text."
    assert out[2].n_removed == 0
    assert out[3].n_sentences == 0 and out[3].clean_text == ""


def test_lsh_plane_terms_match_live_spark(spark):
    """The frozen plane terms (operators/lsh_planes.py, generated by
    tools/gen_lsh_planes.py) must equal what the live Spark xxhash64
    expressions derive — the ann_lsh_topk oracle embeds the frozen
    copy, so drift here would silently decouple oracle and engine."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from gen_lsh_planes import compute_terms_live

    from stock_market_data_pipeline_v2_spark.operators.lsh_planes import (
        DIM,
        N_PLANES,
        NNZ,
        PLANE_TERMS,
    )

    assert (N_PLANES, NNZ, DIM) == (128, 8, 64)
    live = compute_terms_live(spark)
    assert [
        [tuple(t) for t in plane] for plane in live
    ] == [[tuple(t) for t in plane] for plane in PLANE_TERMS]


def test_frozen_index_state_matches_live_build(spark):
    """The IVF/PQ oracle SQL embeds the frozen per-SF index state
    (index_state/*.json, written by tools/dump_index_state.py). The
    round-5 trainers are deterministic functions of the sorted
    sample, so a live rebuild must reproduce the frozen doubles
    EXACTLY — any drift would silently decouple the oracles from the
    engine's memoized index."""
    from stock_market_data_pipeline_v2_spark.ann_state import (
        compute_state,
        load_state,
    )

    live = compute_state(spark, "/root/testdata/sf0.01")
    frozen = load_state("sf0.01")
    assert live["n_cells"] == frozen["n_cells"]
    assert live["ivf_centroids"] == frozen["ivf_centroids"]
    assert live["pq"]["codebook"] == frozen["pq"]["codebook"]


def test_repeated_spans_rolling_bit_identity(spark):
    """The rolling-polynomial tier must reproduce the md5 tier's
    output EXACTLY (same grams matched → same interval unions →
    same stats) — the gate VERDICT r4 #4 set for shipping the
    PERF.md-documented production swap."""
    from stock_market_data_pipeline_v2_spark.operators.dedup import (
        repeated_span_stats,
        repeated_span_stats_rolling,
    )

    docs = _docs(spark)
    a = repeated_span_stats(docs).toPandas().reset_index(drop=True)
    b = repeated_span_stats_rolling(docs).toPandas().reset_index(drop=True)
    assert a.equals(b)


def test_temperature_mix_single_source_gets_full_budget(spark):
    """Degenerate mixing: with one source, w/Σw = 1 exactly in the
    integer algebra, so the whole budget lands on it."""
    from stock_market_data_pipeline_v2_spark.operators.curation import (
        temperature_mix,
    )

    docs = spark.createDataFrame(
        [(i, "one two three four five", "en", "solo") for i in range(10)],
        "doc_id long, text string, lang string, source string",
    )
    out = temperature_mix(docs, total_budget=12).collect()
    assert all(r["token_budget"] == 12 for r in out)
    # overflow-spill contract: budgets filled, first doc over is kept
    assert sum(r["n_tokens"] for r in out) >= 12
    assert max(r["tokens_before"] for r in out) < 12


def test_ngram_decontaminate_empty_reference_keeps_all(spark):
    """No benchmark grams → zero coverage, nothing dropped, and every
    corpus doc still gets a row (left-join spine)."""
    from stock_market_data_pipeline_v2_spark.operators.dedup import (
        ngram_decontaminate,
    )

    docs = _docs(spark).limit(20)
    empty_ref = docs.filter("doc_id < 0")
    out = ngram_decontaminate(docs, empty_ref).collect()
    assert len(out) == 20
    assert all(r["contaminated_tokens"] == 0 and not r["drop"] for r in out)


def test_ngram_decontaminate_planted_contamination(spark):
    """A corpus doc quoting a reference doc verbatim is fully
    covered; an unrelated doc is untouched."""
    from pyspark.sql import Row

    from stock_market_data_pipeline_v2_spark.operators.dedup import (
        ngram_decontaminate,
    )

    quote = " ".join(f"tok{i}" for i in range(20))
    other = " ".join(f"zzz{i}" for i in range(20))
    corpus = spark.createDataFrame(
        [Row(doc_id=1, text=quote), Row(doc_id=2, text=other)]
    )
    ref = spark.createDataFrame([Row(doc_id=9, text=quote)])
    out = {r["doc_id"]: r for r in ngram_decontaminate(corpus, ref, n=13).collect()}
    assert out[1]["contaminated_tokens"] == 20 and out[1]["drop"]
    assert out[2]["contaminated_tokens"] == 0 and not out[2]["drop"]


def test_ann_state_env_selection(monkeypatch):
    """oracle_sql() must expand the frozen index state for the corpus
    the run reads: default (driver path, no env) is sf0.01; the env
    override switches the literals. The centroid literals differ per
    SF (22 vs 44 cells), so a wrong selection is a guaranteed red
    row, not a subtle drift."""
    from stock_market_data_pipeline_v2_spark import ann_state

    monkeypatch.delenv("SPARK_GRAFT_ORACLE_SF", raising=False)
    assert ann_state.oracle_sf_label() == "sf0.01"
    s001 = ann_state.load_state()
    assert s001["label"] == "sf0.01" and s001["n_cells"] == 22
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF", "sf0.1")
    s01 = ann_state.load_state()
    assert s01["label"] == "sf0.1" and s01["n_cells"] == 44
    sql_small = ann_state.ann_ivf_oracle_sql(s001)
    sql_big = ann_state.ann_ivf_oracle_sql(s01)
    assert sql_small != sql_big
