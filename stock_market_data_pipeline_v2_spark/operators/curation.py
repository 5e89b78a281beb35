"""Corpus curation operators: chunking, vocabulary, reproducible
sampling — the steps between raw documents and a training mix
(BASELINE.json north star; no reference counterpart).

All pure Catalyst expressions; the only shuffles are the token-count
groupBy and the per-stratum sampling window. Everything is
DETERMINISTIC by construction — a re-run of the pipeline on the same
corpus yields byte-identical chunks/samples, which is what makes
training mixes reproducible and ablations comparable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.core import single_partition_key
from .text import TOKEN_PATTERN, _norm


def exact_long_div(col_name: str, divisor: int) -> Column:
    """Integer floor-division on longs via SQL ``div`` — exact over
    the FULL long range. ``floor(x / lit(d))`` routes through a double
    and is exact only below 2^53 (~9e15): a 100 TB corpus at ~25e12
    tape tokens is safe, but a larger tape would silently misbin.
    Long arithmetic costs nothing and removes the cliff."""
    return F.expr(f"`{col_name}` div CAST({int(divisor)} AS BIGINT)").cast("long")


def chunk_documents(
    documents: DataFrame,
    chunk_chars: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Split each document into fixed-width character chunks with
    ``overlap`` leading context — the standard pre-tokenization step
    for long documents (context windows are bounded; chunk boundaries
    with overlap avoid cutting every boundary-spanning fact).

    One row in → ceil(len/stride) rows out via a bounded ``sequence``
    explode; chunk text is sliced inside the scan projection, so the
    whole operator is scan-shaped: no shuffle, peak state O(doc len)
    per row. At 100 TB, chunking changes ROW COUNT not byte volume
    (plus overlap·chunks duplicated bytes — bounded by
    overlap/stride, 12.5% at the defaults).
    """
    if overlap >= chunk_chars:
        raise ValueError(f"overlap={overlap} must be < chunk_chars={chunk_chars}")
    stride = chunk_chars - overlap
    t = F.col("t")
    # chunk i covers [i·stride + 1, i·stride + chunk_chars] (1-based);
    # last chunk starts while i·stride < len so every char is covered.
    n_chunks = F.greatest(
        F.ceil((F.length(t).cast("double")) / stride).cast("int"), F.lit(1)
    )
    return (
        documents.select("doc_id", _norm().alias("t"))
        .select(
            "doc_id",
            "t",
            n_chunks.alias("n_chunks"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.col("n_chunks").cast("long").alias("n_chunks"),
            t.substr(
                F.col("chunk_idx") * stride + 1, F.lit(chunk_chars)
            ).alias("chunk_text"),
        )
    )


def token_frequency(
    documents: DataFrame,
    top_k: int = 100,
    min_count: int = 1,
) -> DataFrame:
    """Corpus vocabulary: global token counts + document frequency,
    ranked (count desc, token asc — deterministic), top-k. The
    vocabulary build every tokenizer-training / coverage-audit step
    needs.

    Shape: explode → ONE map-side-combined groupBy on token → top-k.
    The explode multiplies rows but the partial aggregation collapses
    them before the shuffle, so shuffle volume is O(distinct tokens
    per partition), not O(total tokens) — the reason groupBy beats
    any collect-and-count at corpus scale.
    """
    toks = documents.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(_norm(), F.lit(TOKEN_PATTERN), F.lit(0))
        ).alias("token"),
    )
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.count_distinct("doc_id").alias("n_docs"),
    )
    # Top-k FIRST via orderBy+limit — Spark plans TakeOrderedAndProject
    # (per-partition bounded heaps, merge of k-row results), so the
    # billions-of-distinct-tokens case never sorts globally. The rank
    # window then runs over ≤ k rows; its single partition is bounded
    # by k, not by vocabulary size.
    rank_w = Window.partitionBy(single_partition_key("token")).orderBy(
        F.desc("n_occurrences"), F.asc("token")
    )
    return (
        counts.filter(F.col("n_occurrences") >= min_count)
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(top_k)
        .withColumn("rank", F.row_number().over(rank_w).cast("long"))
        .select("rank", "token", "n_occurrences", "n_docs")
    )


def ngram_containment(
    corpus: DataFrame,
    reference: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    broadcast_reference: bool = True,
) -> DataFrame:
    """Benchmark DECONTAMINATION: for each corpus document, the
    fraction of its distinct word n-grams that appear anywhere in the
    ``reference`` set (an eval/benchmark corpus) —
    ``containment = |S_doc ∩ S_ref| / |S_doc|``, the asymmetric
    cousin of Jaccard used for test-set-leakage detection (a long web
    page quoting one eval item verbatim scores high even though its
    Jaccard against the item is tiny). Returns
    (doc_id, n_shingles, n_hits, containment) for corpus docs at or
    above ``threshold`` — the kill list a pretraining mix subtracts
    before training.

    Shape: the reference collapses to its DISTINCT shingle set, so
    the join has multiplicity ≤ 1 per corpus shingle — the output
    never exceeds the corpus shingle count and no stop-list is needed
    (unlike the dedup self-join there is no O(freq²) blowup).
    Benchmarks are small next to a training corpus, so the reference
    side is broadcast by default (``broadcast_reference=False`` falls
    back to a shingle-key shuffle join for reference sets beyond
    broadcast size). Docs with fewer than ``n`` words have no
    shingles and are absent from the output (nothing to leak).
    """
    from .dedup import word_shingles

    corpus_sh = word_shingles(corpus, n)
    ref_sh = word_shingles(reference, n).select("shingle").distinct()
    if broadcast_reference:
        ref_sh = F.broadcast(ref_sh)
    sizes = corpus_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        corpus_sh.join(ref_sh, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    containment = F.col("n_hits") / F.col("n_shingles")
    from ..functions.core import round_away

    return (
        sizes.join(hits, "doc_id", "left")
        .withColumn("n_hits", F.coalesce(F.col("n_hits"), F.lit(0).cast("long")))
        .filter(containment >= threshold)
        .select(
            "doc_id",
            "n_shingles",
            "n_hits",
            round_away(containment, 4).alias("containment"),
        )
    )


def pack_sequences(
    documents: DataFrame,
    ctx_tokens: int = 256,
    range_size: int = 1024,
) -> DataFrame:
    """Deterministic greedy sequence PACKING: documents in doc_id
    order are laid head-to-tail on a token tape; training example
    (bin) k covers tape offsets [k·ctx_tokens, (k+1)·ctx_tokens), and
    each document is assigned to the bin where it STARTS — the
    overflow-spill packing contract (a bin may run over by its last
    document; the trainer truncates or spills). Returns
    (doc_id, n_tokens, start_offset, bin_id) — with this, a packing
    job is a groupBy(bin_id) away from emitting training examples.

    A global cumulative sum is the textbook single-partition-window
    trap, so it is computed as a DISTRIBUTED two-level prefix sum:
    per-range subtotals (``rng = doc_id // range_size``) are
    prefix-summed on the small range frame (n_docs / range_size rows
    — the only unpartitioned window, bounded by the knob), broadcast
    back, and the per-document cumsum windows partition by range.
    Integer arithmetic end-to-end → bit-exact against the oracle's
    plain global-window formulation. Token counts use TOKEN_PATTERN
    (same tokenizer as text_stats/token_frequency).
    """
    tok_count = F.size(
        F.regexp_extract_all(_norm(), F.lit(TOKEN_PATTERN), F.lit(0))
    ).cast("long")
    base = documents.select(
        "doc_id",
        tok_count.alias("n_tokens"),
        F.floor(F.col("doc_id") / range_size).alias("rng"),
    )
    totals = base.groupBy("rng").agg(F.sum("n_tokens").alias("rng_tokens"))
    w_rng = Window.partitionBy(single_partition_key("rng")).orderBy("rng").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "rng",
        F.coalesce(F.sum("rng_tokens").over(w_rng), F.lit(0))
        .cast("long")
        .alias("rng_offset"),
    )
    w_doc = (
        Window.partitionBy("rng")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        base.join(F.broadcast(offsets), "rng")
        .withColumn(
            "start_offset",
            (
                F.col("rng_offset")
                + F.coalesce(F.sum("n_tokens").over(w_doc), F.lit(0))
            ).cast("long"),
        )
        .withColumn("bin_id", exact_long_div("start_offset", ctx_tokens))
        .select("doc_id", "n_tokens", "start_offset", "bin_id")
    )


def stratified_sample(
    documents: DataFrame,
    quotas: dict[str, int],
    stratum_col: str = "lang",
    salt: str = "v1",
) -> DataFrame:
    """Deterministic quota sampling per stratum: keep the ``quota``
    docs with the smallest ``md5(salt ∥ doc_id)`` in each stratum —
    the hash-ordering trick that makes a sample REPRODUCIBLE across
    engines, re-runs and partitionings (``sample()`` is none of
    those), and incrementally stable: adding new docs only displaces
    ties at the quota boundary, it never reshuffles the whole sample.
    Changing ``salt`` draws an independent sample (ablation runs).

    md5 (not xxhash64) so the DuckDB oracle reproduces the exact
    sample — both engines hash the identical string. Strata not named
    in ``quotas`` are dropped; a quota larger than the stratum keeps
    the whole stratum. One shuffle (the per-stratum window sort).
    """
    quota_expr = F.create_map(
        *[F.lit(x) for kv in quotas.items() for x in kv]
    )
    key = F.md5(F.concat(F.lit(salt), F.lit(":"), F.col("doc_id").cast("string")))
    w = Window.partitionBy(stratum_col).orderBy("sample_key")
    return (
        documents.withColumn("sample_key", key)
        .withColumn("quota", quota_expr[F.col(stratum_col)])
        .filter(F.col("quota").isNotNull())
        .withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= F.col("quota"))
        .select("doc_id", stratum_col, "source", "sample_rank", "sample_key")
    )


def mix_corpus(
    documents: DataFrame,
    budgets: dict[str, int],
    source_col: str = "source",
    salt: str = "v1",
) -> DataFrame:
    """Token-budget corpus MIXING: assemble a training mix by filling
    each source's token budget deterministically — the step that turns
    per-source weights ("60% web, 30% code, 10% books") into an actual
    document list. Docs are drawn per source in ``md5(salt ∥ doc_id)``
    order (the same engine-portable hash draw as
    :func:`stratified_sample` — reproducible across engines, re-runs
    and partitionings, and incrementally stable) until the budget is
    reached; the first doc to cross it is INCLUDED (the overflow-spill
    contract of :func:`pack_sequences`: budgets are filled, never
    silently undershot; the trainer truncates). Sources without a
    budget are dropped.

    One shuffle (the per-source window sort); token counts use
    TOKEN_PATTERN, the same tokenizer as text_stats/token_frequency/
    pack_sequences, so budgets here mean the same tokens the packer
    bins. ``tokens_before`` is emitted so downstream packing can
    resume each source's tape without recounting.
    """
    budget_expr = F.create_map(
        *[F.lit(x) for kv in budgets.items() for x in kv]
    )
    tok_count = F.size(
        F.regexp_extract_all(_norm(), F.lit(TOKEN_PATTERN), F.lit(0))
    ).cast("long")
    key = F.md5(
        F.concat(F.lit(salt), F.lit(":"), F.col("doc_id").cast("string"))
    )
    w = Window.partitionBy(source_col).orderBy("mix_key")
    w_cum = w.rowsBetween(Window.unboundedPreceding, -1)
    return (
        documents.withColumn("mix_key", key)
        .withColumn("n_tokens", tok_count)
        .withColumn("token_budget", budget_expr[F.col(source_col)])
        .filter(F.col("token_budget").isNotNull())
        .withColumn(
            "tokens_before",
            F.coalesce(F.sum("n_tokens").over(w_cum), F.lit(0)).cast("long"),
        )
        .withColumn("mix_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("tokens_before") < F.col("token_budget"))
        .select(
            "doc_id", source_col, "n_tokens", "mix_rank", "tokens_before", "mix_key"
        )
    )


def prototypicality_prune(
    index,
    keep_fraction: float = 0.7,
    mode: str = "prune_prototypes",
) -> DataFrame:
    """Embedding-space data pruning (Sorscher et al. 2022, "Beyond
    neural scaling laws"; the prototypicality half of D4, Tirumala et
    al. 2023 — SemDeDup lives in operators/dedup.py): score every
    vector by cosine to its k-means cell centroid and keep a per-cell
    quota, dropping the MOST prototypical examples
    (``prune_prototypes`` — with abundant data, easy/redundant
    cluster cores teach least) or the LEAST prototypical
    (``prune_outliers`` — for noisy web corpora where the cluster
    fringe is junk).

    Takes a prebuilt :class:`~.similarity.IvfIndex` — the SAME index
    the ANN and SemDeDup tiers query (build once, derive every
    embedding-space curation decision from it). Output: (id, cell,
    prototypicality, cell_rank, keep) for every corpus vector —
    keep is a flag, not a filter, so a pipeline can tally what a
    cut would drop before committing to it.

    Plan shape: centroids broadcast (model state), prototypicality is
    one map-side cosine per vector, and the only shuffle is the
    per-cell rank window; quota = ceil(keep_fraction · |cell|)
    computed inside the same window pass (count over the cell
    partition). Deterministic: rank ties break toward the smaller id.
    Scales as one narrow-row window over n vectors regardless of
    corpus width — the vectors themselves stay in the scan stage.
    """
    if mode not in ("prune_prototypes", "prune_outliers"):
        raise ValueError(f"unknown mode: {mode}")
    from ..functions.core import round_away
    from ..functions.vectors import cosine_from_parts, dot_unrolled, l2_norm_unrolled

    dim = index.dim
    assigned = index.assignments.select(
        "id", "v", "nrm", F.element_at("cells", 1).alias("cell")
    )
    cent = index.centroids.select(
        "cell", F.col("cv").alias("ctr")
    ).withColumn("ctr_nrm", l2_norm_unrolled("ctr", dim))
    proto = cosine_from_parts(
        dot_unrolled("v", "ctr", dim), F.col("nrm"), F.col("ctr_nrm")
    )
    # prune_prototypes keeps the LOW-prototypicality tail → rank asc;
    # prune_outliers keeps the HIGH tail → rank desc.
    order = (
        [F.asc("proto_raw"), F.asc("id")]
        if mode == "prune_prototypes"
        else [F.desc("proto_raw"), F.asc("id")]
    )
    w = Window.partitionBy("cell").orderBy(*order)
    wc = Window.partitionBy("cell")
    return (
        assigned.join(F.broadcast(cent), "cell")
        .withColumn("proto_raw", proto)
        .withColumn("cell_rank", F.row_number().over(w).cast("long"))
        .withColumn("cell_n", F.count(F.lit(1)).over(wc))
        .withColumn(
            "keep",
            F.col("cell_rank")
            <= F.ceil(F.col("cell_n") * F.lit(float(keep_fraction))).cast("long"),
        )
        .select(
            "id",
            "cell",
            round_away(F.col("proto_raw"), 6).alias("prototypicality"),
            "cell_rank",
            "keep",
        )
    )


def quality_decile_bins(documents: DataFrame, n_bins: int = 10) -> DataFrame:
    """EXACT global quality binning — "keep the top 30% by quality"
    needs every document's exact rank, and a naive
    ``row_number() OVER (ORDER BY ...)`` is the single-partition
    window trap at corpus scale. Computed instead as a distributed
    two-level rank (same shape as :func:`pack_sequences`):
    ``repartitionByRange`` on (quality desc, doc_id) range-sorts the
    corpus, per-partition row_numbers run in parallel, and partition
    offsets come from one unpartitioned window over ≤ parallelism
    rows (knob-bounded, never the corpus). The final rank is
    boundary-placement-independent — ANY range partitioning plus
    local sort yields the identical global rank — so the result is
    bit-stable and the oracle's plain global-window formulation gates
    it exactly. Bin assignment is exact long arithmetic:
    ``(rank−1)·n_bins div n + 1``.

    Output: (doc_id, quality_score, quality_rank, decile 1..n_bins,
    best quality first). Scores come from :func:`~.text.text_stats`
    (same expression the ``text_quality`` oracle pins down).
    """
    from .text import text_stats

    scored = text_stats(documents).select("doc_id", "quality_score")
    par = documents.sparkSession.sparkContext.defaultParallelism
    ranged = scored.repartitionByRange(
        par, F.desc("quality_score"), F.asc("doc_id")
    ).withColumn("__pid", F.spark_partition_id())
    w_loc = Window.partitionBy("__pid").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    local = ranged.withColumn("__lrn", F.row_number().over(w_loc).cast("long"))
    counts = ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    w_off = Window.partitionBy(single_partition_key("__pid")).orderBy(
        "__pid"
    ).rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy(single_partition_key("__pid")).orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offs = counts.select(
        "__pid",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).cast("long").alias("__off"),
        F.sum("__cnt").over(w_all).cast("long").alias("__n"),
    )
    return (
        local.join(F.broadcast(offs), "__pid")
        .withColumn("quality_rank", (F.col("__off") + F.col("__lrn")).cast("long"))
        .withColumn(
            "decile",
            (F.expr(f"(quality_rank - 1) * {int(n_bins)} div __n") + 1).cast("long"),
        )
        .select("doc_id", "quality_score", "quality_rank", "decile")
    )


def curation_pipeline(documents: DataFrame) -> DataFrame:
    """The INTEGRATED cleaning pass a pretraining corpus goes through
    before mixing/packing, as one oracle-gated plan: Gopher quality
    gates AND repetition gates decide keep; PII is scrubbed from the
    survivors; exact duplicates collapse to their canonical (min
    doc_id) with the duplicate count retained for mix weighting.
    Output: (doc_id, scrubbed, dup_count, quality-filtered, deduped)
    — the corpus a downstream ``mix_corpus``/``pack_sequences`` run
    consumes.

    Composition, not new semantics: every stage is an existing
    oracle-gated operator (:func:`~.text.gopher_quality_filter`,
    :func:`~.text.repetition_filter`, :func:`~.text.pii_scrub`,
    :func:`~.dedup.dedup_exact`), so the pipeline oracle is their
    SQL CTEs joined on doc_id. Plan shape: four scan-shaped branches
    over the same source joined on the narrow doc_id key; the
    medallion runner (plans/pipeline.py) materializes zone boundaries
    between such stages at production scale, so per-stage scans — not
    a hand-fused mega-projection — are the honest cost model.
    """
    from .dedup import dedup_exact
    from .text import gopher_quality_filter, pii_scrub, repetition_filter

    g = gopher_quality_filter(documents).select(
        "doc_id", F.col("keep").alias("keep_quality")
    )
    r = repetition_filter(documents).select(
        "doc_id", F.col("keep").alias("keep_repetition")
    )
    p = pii_scrub(documents).select("doc_id", "scrubbed")
    canon = dedup_exact(documents).select(
        F.col("canonical_doc_id").alias("doc_id"), "dup_count"
    )
    return (
        p.join(g, "doc_id")
        .join(r, "doc_id")
        .join(canon, "doc_id")  # inner: only hash-group canonicals survive
        .filter(F.col("keep_quality") & F.col("keep_repetition"))
        .select("doc_id", "scrubbed", "dup_count")
    )


def corpus_stats_by_source(documents: DataFrame) -> DataFrame:
    """Per-(source, lang) corpus profile — the first report any
    training-mix decision reads: document and token counts, token
    share, length distribution (mean + exact median), mean quality,
    and the distinct-token count (lexical diversity). One
    scan-shaped stats projection feeding two aggregates: the
    (source, lang) rollup (map-side combined, tiny group domain) and
    a distinct-token count per group via the token explode — the only
    corpus-sized shuffle, keyed by (source, lang, token) so it
    partial-aggregates before moving. Exact median buffers per-group
    values: the grain is (source × lang) — bounded — same accepted
    cost as daily_summary (PERF.md)."""
    stats = documents.select(
        "source",
        "lang",
        "doc_id",
        F.size(
            F.regexp_extract_all(_norm(), F.lit(TOKEN_PATTERN), F.lit(0))
        ).cast("long").alias("n_tokens"),
    )
    from ..functions.core import null_if_zero_divide, round_away

    base = stats.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        round_away(F.avg("n_tokens"), 2).alias("mean_tokens"),
        F.median("n_tokens").alias("median_tokens"),
    )
    toks = documents.select(
        "source",
        "lang",
        F.explode(
            F.regexp_extract_all(_norm(), F.lit(TOKEN_PATTERN), F.lit(0))
        ).alias("token"),
    )
    diversity = toks.groupBy("source", "lang").agg(
        F.count_distinct("token").alias("distinct_tokens")
    )
    total = base.select(F.sum("total_tokens").alias("__all"))
    return (
        base.join(diversity, ["source", "lang"])
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            "lang",
            "n_docs",
            "total_tokens",
            round_away(
                null_if_zero_divide(
                    F.col("total_tokens").cast("double"),
                    F.col("__all").cast("double"),
                ),
                4,
            ).alias("token_share"),
            "mean_tokens",
            F.col("median_tokens").cast("double").alias("median_tokens"),
            "distinct_tokens",
        )
    )


def write_training_shards(
    documents: DataFrame,
    out_dir: str,
    shard_tokens: int = 100_000,
    range_size: int = 1024,
) -> DataFrame:
    """Export the corpus as token-budgeted TRAINING SHARDS: documents
    in doc_id order are packed onto the token tape
    (:func:`pack_sequences` with the shard budget as the bin width —
    same spill contract: a shard may run over by its last document),
    then written as one hive partition per shard
    (``out_dir/shard_id=K/``) so a data loader can open shard K
    without listing the corpus. Returns the shard MANIFEST
    (shard_id, n_docs, shard_tokens, first_doc_id, last_doc_id) —
    computed from the same packing frame that drove the write, so
    manifest and layout cannot drift.

    Deterministic end-to-end (doc_id order + integer tape
    arithmetic): re-running produces byte-identical shard membership.
    Scale shape: pack_sequences' two-level prefix sum plus ONE
    partitioned write; the partition count is total_tokens/
    shard_tokens — the knob that sizes output files for the trainer,
    the same dynamic-partition write path as the gold zones
    (sources/io.py)."""
    packed = pack_sequences(
        documents, ctx_tokens=shard_tokens, range_size=range_size
    ).withColumnRenamed("bin_id", "shard_id")
    sharded = documents.join(packed, "doc_id").select(
        "shard_id", "doc_id", "text", "n_tokens", "start_offset"
    )
    sharded.write.mode("overwrite").partitionBy("shard_id").parquet(out_dir)
    return (
        packed.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
            F.min("doc_id").alias("first_doc_id"),
            F.max("doc_id").alias("last_doc_id"),
        )
        .orderBy("shard_id")
    )


def leakage_safe_split(
    documents: DataFrame,
    pairs: DataFrame,
    val_fraction: float = 0.1,
    salt: str = "v1",
) -> DataFrame:
    """GROUP-AWARE train/validation split: near-duplicate documents
    never straddle the boundary. Splitting uniformly at the document
    level leaks — a validation doc with a near-copy in train is a
    memorization freebie that inflates eval (the decontamination
    problem, applied to one's own corpus). The unit of assignment must
    be the near-dup CLUSTER, not the document.

    ``pairs`` is any near-dup edge list (doc_a, doc_b) — shingle
    Jaccard, winnowing, SemDeDup; every doc inherits its connected
    component's min-label representative (:func:`~.dedup.
    dedup_clusters_star`, the diameter-independent CC), singletons
    represent themselves. The side is drawn from
    ``md5(salt:group_rep)``: the first 4 hex chars compare against
    ``round(val_fraction·65536)`` in hex — a pure function of the
    GROUP, so (a) both engines and any partitioning agree, (b) the
    whole cluster moves together by construction, and (c) adding new
    docs later never flips an existing group's side (incremental
    stability — eval sets stay frozen as the corpus grows). Changing
    ``salt`` redraws the fold (cross-validation).

    Scale shape: the CC runs on the EDGE LIST (dup pairs ≪ corpus);
    the labels frame joins back by doc_id key — narrow rows, one
    shuffle — and the hash draw is scan-shaped. 0 < val_fraction < 1.
    """
    from .dedup import dedup_clusters_star

    if not 0.0 < val_fraction < 1.0:
        raise ValueError(f"val_fraction must be in (0, 1), got {val_fraction}")
    thresh_hex = format(int(round(val_fraction * 65536)), "04x")
    labels = dedup_clusters_star(pairs).withColumnRenamed("cluster_id", "__cid")
    rep = F.coalesce(F.col("__cid"), F.col("doc_id"))
    key4 = F.substring(
        F.md5(F.concat(F.lit(salt), F.lit(":"), rep.cast("string"))), 1, 4
    )
    return (
        documents.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            rep.alias("group_rep"),
            F.when(key4 < F.lit(thresh_hex), F.lit("val"))
            .otherwise(F.lit("train"))
            .alias("split"),
        )
    )


def importance_weights(
    documents: DataFrame,
    target: DataFrame,
    n_buckets: int = 256,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by how much more likely its hashed-unigram bag is under
    the TARGET distribution (a small high-quality corpus — here any
    DataFrame of documents) than under the RAW distribution (the
    corpus itself). weight(doc) = Σ_tokens log p̂_tgt(bucket(tok)) −
    log p̂_raw(bucket(tok)), with add-one smoothing over ``n_buckets``
    hashed buckets — the hashed n-gram generative model of the paper,
    unigram variant.

    Exactness: bucket ids parse the md5 prefix (engine-portable, as
    hash_embed); counts are integers; each per-token log-ratio is one
    ``ln`` of an integer-ratio double, and the per-doc sum folds over
    the position-sorted contribution list (PERF.md lesson 2 — the
    oracle mirrors with ``list_reduce(list(... ORDER BY pos))``).

    Scale shape: both count tables are ≤ ``n_buckets`` rows (hashing
    collapses the vocabulary — the POINT of DSIR at web scale: model
    size is fixed regardless of corpus size), so the per-token join
    is a broadcast; the only corpus-sized shuffle is the
    position-sorted per-doc fold. Docs with no tokens weigh 0.
    """
    from ..functions.core import round_away

    spark_par = documents.sparkSession.sparkContext.defaultParallelism
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10).cast("long"),
        F.lit(n_buckets),
    ).cast("long")

    def tok_buckets(df: DataFrame) -> DataFrame:
        return (
            df.select(
                "doc_id",
                F.posexplode(
                    F.regexp_extract_all(_norm(), F.lit(TOKEN_PATTERN), F.lit(0))
                ).alias("pos", "token"),
            )
            .withColumn("bucket", bucket)
        )

    raw_tok = tok_buckets(documents.repartition(spark_par, "doc_id"))
    raw_cnt = raw_tok.groupBy("bucket").agg(F.count(F.lit(1)).alias("c_raw"))
    tgt_cnt = (
        tok_buckets(target).groupBy("bucket").agg(F.count(F.lit(1)).alias("c_tgt"))
    )
    raw_tot = raw_cnt.agg(F.sum("c_raw").alias("t_raw"))
    tgt_tot = tgt_cnt.agg(F.sum("c_tgt").alias("t_tgt"))
    lam = F.log(
        (F.coalesce(F.col("c_tgt"), F.lit(0)) + 1).cast("double")
        / (F.col("t_tgt") + n_buckets).cast("double")
    ) - F.log(
        (F.coalesce(F.col("c_raw"), F.lit(0)) + 1).cast("double")
        / (F.col("t_raw") + n_buckets).cast("double")
    )
    fold = F.aggregate(
        F.transform(
            F.sort_array(F.collect_list(F.struct(F.col("pos"), F.col("lam")))),
            lambda s: s["lam"],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        raw_tok.join(F.broadcast(raw_cnt), "bucket", "left")
        .join(F.broadcast(tgt_cnt), "bucket", "left")
        .crossJoin(F.broadcast(raw_tot))
        .crossJoin(F.broadcast(tgt_tot))
        .withColumn("lam", lam)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), fold.alias("w"))
    )
    return (
        documents.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce(F.col("w"), F.lit(0.0)).alias("raw_weight"),
            round_away(F.coalesce(F.col("w"), F.lit(0.0)), 6).alias(
                "importance_weight"
            ),
        )
    )


def importance_resample(
    documents: DataFrame,
    target: DataFrame,
    n_keep: int = 100,
    n_buckets: int = 256,
    salt: str = "v1",
) -> DataFrame:
    """Importance RESAMPLING over :func:`importance_weights` — the
    selection half of DSIR: draw ``n_keep`` docs without replacement
    with probability ∝ exp(weight) via the Gumbel-top-k trick
    (Kool et al. 2019): score = weight + Gumbel(0,1), keep the top
    ``n_keep``. The Gumbel draw is DETERMINISTIC — u parses 13 hex
    chars of ``md5(salt:doc_id)`` into a 52-bit uniform (u =
    (v + 0.5)/2^52 ∈ (0,1), never 0 or 1 → both logs finite), g =
    −ln(−ln u) — so the sample is reproducible across engines,
    re-runs and partitionings, and ``salt`` re-draws it (ablations).

    Ranking uses the UNROUNDED score with a doc_id tiebreak; the
    emitted score rounds once at the end. Scale shape: the weight
    pass (broadcast count tables) plus ONE top-k, selected by
    ``orderBy(...).limit(n_keep)`` — Catalyst compiles that to
    ``TakeOrderedAndProject`` (per-partition heaps + a driver-side
    merge of ``n_keep`` rows, no global sort, no corpus-wide
    shuffle); the rank window then runs over the ≤``n_keep``
    survivors only (the :func:`~.retrieval.bm25_topk` shape —
    VERDICT r4 #3). The literal partition key keeps WindowExec's
    single-partition WARN out of the logs for a window that is
    single-partition BY DESIGN (bounded rows).
    """
    from ..functions.core import round_away

    w = importance_weights(documents, target, n_buckets=n_buckets)
    v52 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.lit(":"), F.col("doc_id").cast("string"))),
            1,
            13,
        ),
        16,
        10,
    ).cast("double")
    u = (v52 + F.lit(0.5)) / F.lit(4503599627370496.0)
    score = F.col("raw_weight") + (-F.log(-F.log(u)))
    rank_w = Window.partitionBy(single_partition_key("doc_id")).orderBy(
        F.desc("score_raw"), F.asc("doc_id")
    )
    return (
        w.withColumn("score_raw", score)
        .orderBy(F.desc("score_raw"), F.asc("doc_id"))
        .limit(n_keep)
        .withColumn("sample_rank", F.row_number().over(rank_w).cast("long"))
        .select(
            "doc_id",
            "n_tokens",
            "importance_weight",
            round_away(F.col("score_raw"), 6).alias("gumbel_score"),
            "sample_rank",
        )
    )


def shuffle_corpus(documents: DataFrame, salt: str = "v1") -> DataFrame:
    """Deterministic GLOBAL permutation — the training serving order.
    Trainers need the corpus globally shuffled (adjacent documents
    from one source/crawl correlate, and correlated batches hurt), and
    they need the order REPRODUCIBLE: restarting a run, or re-sharding
    for a different world size, must replay the identical sequence.
    ``rand()``-based shuffles fail both (seed × partitioning
    dependent); this draws each doc's sort key as ``md5(salt:doc_id)``
    — a pure function of identity, so any engine, partitioning, or
    retry agrees — and assigns ``position`` = exact global rank of
    (key, doc_id). Changing ``salt`` is a fresh epoch permutation.

    Scale shape: the naive form is a corpus-wide ``row_number()`` —
    the single-partition window trap. Computed instead as the same
    distributed two-level rank as :func:`quality_decile_bins`:
    ``repartitionByRange`` on the key (distributed sort), parallel
    per-partition row_numbers, plus one offsets window over
    ≤ parallelism rows; boundary-placement-independent, so the result
    bit-matches the oracle's naive global-window form. Feed the
    output straight to :func:`write_training_shards` partitioned on
    ``position div docs_per_shard`` for sequential-read serving.
    """
    keyed = documents.select(
        "doc_id",
        F.md5(
            F.concat(F.lit(salt), F.lit(":"), F.col("doc_id").cast("string"))
        ).alias("shuffle_key"),
    )
    par = documents.sparkSession.sparkContext.defaultParallelism
    ranged = keyed.repartitionByRange(
        par, F.asc("shuffle_key"), F.asc("doc_id")
    ).withColumn("__pid", F.spark_partition_id())
    w_loc = Window.partitionBy("__pid").orderBy(
        F.asc("shuffle_key"), F.asc("doc_id")
    )
    local = ranged.withColumn("__lrn", F.row_number().over(w_loc).cast("long"))
    counts = ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    w_off = Window.partitionBy(single_partition_key("__pid")).orderBy(
        "__pid"
    ).rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.select(
        "__pid",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).cast("long").alias("__off"),
    )
    return (
        local.join(F.broadcast(offs), "__pid")
        .select(
            "doc_id",
            "shuffle_key",
            (F.col("__off") + F.col("__lrn")).cast("long").alias("position"),
        )
        .orderBy("position")
    )


def source_drift_kl(documents: DataFrame, n_buckets: int = 256) -> DataFrame:
    """Per-source distribution drift: KL(p_source ‖ p_corpus) over the
    hashed-unigram model — the monitoring twin of :func:`importance_
    weights` (same fixed-size bucket model, aggregated per source
    instead of per document). A crawl source whose token distribution
    drifts from the corpus (spam injection, template change, language
    shift) shows up as a KL jump BEFORE it pollutes training — this is
    the number a continuously-fed corpus alerts on.

    KL = Σ_b p_s(b)·ln(p_s(b)/p_c(b)) with add-one smoothing over all
    ``n_buckets`` buckets (zero-count buckets carry smoothed mass, so
    every bucket contributes and the sum is over a FIXED domain).

    Exactness: counts are integers; each term is pure double
    arithmetic of integer ratios; the per-source sum folds in bucket
    order over the n_buckets-row spine (oracle mirrors with
    ``list_reduce(list(... ORDER BY bucket))``). Scale shape: the
    model is ≤ sources × n_buckets rows no matter the corpus size
    (the DSIR property); the only corpus-sized work is the token
    count, which partial-aggregates map-side on (source, bucket); the
    spine cross join and every subsequent stage are model-sized.
    """
    from ..functions.core import round_away
    from .text import TOKEN_PATTERN, _norm

    spark = documents.sparkSession
    par = spark.sparkContext.defaultParallelism
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10).cast("long"),
        F.lit(n_buckets),
    ).cast("long")

    tok = (
        documents.repartition(par, "doc_id")
        .select(
            "source",
            F.explode(
                F.regexp_extract_all(_norm(), F.lit(TOKEN_PATTERN), F.lit(0))
            ).alias("token"),
        )
        .withColumn("bucket", bucket)
    )
    src_cnt = tok.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).alias("c_s")
    )
    cor_cnt = tok.groupBy("bucket").agg(F.count(F.lit(1)).alias("c_c"))
    src_tot = src_cnt.groupBy("source").agg(F.sum("c_s").alias("t_s"))
    cor_tot = cor_cnt.agg(F.sum("c_c").alias("t_c"))

    spine = (
        documents.select("source")
        .distinct()
        .crossJoin(
            spark.range(n_buckets).select(F.col("id").cast("long").alias("bucket"))
        )
    )
    p_s = (F.coalesce(F.col("c_s"), F.lit(0)) + 1).cast("double") / (
        F.col("t_s") + n_buckets
    ).cast("double")
    p_c = (F.coalesce(F.col("c_c"), F.lit(0)) + 1).cast("double") / (
        F.col("t_c") + n_buckets
    ).cast("double")
    fold = F.aggregate(
        F.transform(
            F.sort_array(F.collect_list(F.struct(F.col("bucket"), F.col("term")))),
            lambda s: s["term"],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # Totals join LEFT with coalesce-to-0: a source whose documents
    # all tokenize to zero tokens has no src_tot row, and an inner
    # join would silently drop it from the drift report — the most
    # anomalous input (a source suddenly emitting empty text) must
    # surface, as n_tokens=0 with KL over the pure-smoothed p_s.
    return (
        spine.join(F.broadcast(src_cnt), ["source", "bucket"], "left")
        .join(F.broadcast(cor_cnt), "bucket", "left")
        .join(F.broadcast(src_tot), "source", "left")
        .crossJoin(F.broadcast(cor_tot))
        .withColumn("t_s", F.coalesce(F.col("t_s"), F.lit(0).cast("long")))
        .withColumn("t_c", F.coalesce(F.col("t_c"), F.lit(0).cast("long")))
        .withColumn("term", p_s * (F.log(p_s) - F.log(p_c)))
        .groupBy("source")
        .agg(
            F.max("t_s").cast("long").alias("n_tokens"),
            fold.alias("__kl"),
        )
        .select(
            "source",
            "n_tokens",
            round_away(F.col("__kl"), 6).alias("kl_divergence"),
        )
        .orderBy("source")
    )


def shingle_novelty(documents: DataFrame, n: int = 3) -> DataFrame:
    """Per-document NOVELTY score: the share of a document's word
    ``n``-gram shingles that no lower-doc_id document contains —
    contribution scoring for dedup-aware curation. A crawl ordered by
    ingest time reads this as "what fraction of this page is new
    content": boilerplate-heavy or near-duplicate pages score near 0
    and are prune candidates even when no single pair crosses a
    Jaccard threshold; novelty is the aggregate complement of the
    pairwise dedup family.

    Output: (doc_id, n_shingles, n_novel, novelty_share 6 dp).
    Documents with fewer than ``n`` words have no shingles —
    n_shingles = 0 and a NULL share (kept in the output, not
    dropped: the degenerate inputs are the ones to surface).

    Exactness: counts are integers; the share is one integer-ratio
    divide rounded 6 dp. Scale shape: one shingle-grain groupBy
    (min doc_id per shingle — map-side combined, one narrow row per
    DISTINCT shingle) and one shingle-grain join back, both
    hash-partitioned on the shingle; per-doc reduction is a
    map-side-combined count. Nothing is quadratic — unlike the pair
    tiers there is no inverted-index self-join, so no df-cap is
    needed: a boilerplate shingle contributes one index row and
    min() is insensitive to its frequency.
    """
    from .dedup import word_shingles

    sh = word_shingles(documents, n)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    from ..functions.core import round_away

    return (
        documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            round_away(
                F.col("n_novel").cast("double")
                / F.nullif(F.col("n_shingles"), F.lit(0)).cast("double"),
                6,
            ).alias("novelty_share"),
        )
        .orderBy("doc_id")
    )


def cross_source_contamination(
    documents: DataFrame, pairs: DataFrame
) -> DataFrame:
    """Source-granular contamination matrix: for every ordered source
    pair (a, b), the share of a's documents that have at least one
    near-duplicate in b — the number that says "benchmark X leaked
    into crawl Y" or "mirror source Z is 80% redundant with W" before
    any training run ingests either. The diagonal (a = b) is each
    source's internal near-dup rate. Takes the near-dup pair graph as
    input by the same contract as :func:`dedup_clusters` /
    ``leakage_safe_split`` — production maintains the graph beside
    the corpus.

    Output: full sources × sources spine (zero rows INCLUDED — a 0%
    overlap claim should be an explicit row, not an absence), with
    (n_contaminated, n_docs_a, contamination_rate 6 dp).

    Scale shape: the symmetrized edge list is pair-graph-sized
    (≪ corpus); both enrichment joins carry bare (doc_id, source)
    rows; the spine cross join and the final aggregate are
    |sources|²-sized model frames. Nothing corpus-grain shuffles.
    """
    from ..functions.core import round_away

    src = documents.select("doc_id", "source")
    edges = pairs.select(
        F.col("doc_a").alias("x"), F.col("doc_b").alias("y")
    ).unionByName(pairs.select(F.col("doc_b").alias("x"), F.col("doc_a").alias("y")))
    hits = (
        edges.join(
            src.select(F.col("doc_id").alias("x"), F.col("source").alias("source_a")),
            "x",
        )
        .join(
            src.select(F.col("doc_id").alias("y"), F.col("source").alias("source_b")),
            "y",
        )
        .select("x", "source_a", "source_b")
        .distinct()
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_contaminated"))
    )
    totals = documents.groupBy(F.col("source").alias("source_a")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_a")
    )
    sources = documents.select("source").distinct()
    spine = (
        sources.select(F.col("source").alias("source_a"))
        .crossJoin(F.broadcast(sources.select(F.col("source").alias("source_b"))))
    )
    return (
        spine.join(F.broadcast(hits), ["source_a", "source_b"], "left")
        .join(F.broadcast(totals), "source_a")
        .select(
            "source_a",
            "source_b",
            F.coalesce("n_contaminated", F.lit(0)).cast("long").alias(
                "n_contaminated"
            ),
            "n_docs_a",
            round_away(
                F.coalesce("n_contaminated", F.lit(0)).cast("double")
                / F.col("n_docs_a").cast("double"),
                6,
            ).alias("contamination_rate"),
        )
        .orderBy("source_a", "source_b")
    )


def length_bucket_batches(
    documents: DataFrame, batch_size: int = 32
) -> DataFrame:
    """Length-grouped batch assembly — the padding killer: a batch's
    compute cost is batch_size × max_len, so batching random-length
    documents together wastes (max−mean)/max of every step. Sorting
    the corpus by token length and cutting consecutive runs of
    ``batch_size`` puts near-equal lengths in each batch, which is
    the standard dynamic-batching trade (slightly correlated batches,
    bought back by the serving-order shuffle upstream).

    batch_id = (length_rank − 1) div batch_size over the exact global
    (n_tokens, doc_id) rank — computed with the same distributed
    two-level rank as :func:`shuffle_corpus` (range repartition +
    per-partition row_number + ≤-parallelism offsets window; no
    corpus-wide window), bit-matching the oracle's naive global form.
    Also emits each batch's padding waste: 1 − len/max_len_in_batch
    would need a second window, so the per-row output carries
    (doc_id, n_tokens, length_rank, batch_id) and the oracle-shared
    aggregate view is left to the consumer. Token counts use the
    shared TOKEN_PATTERN lexer (the pack_sequences contract).
    """
    from .text import TOKEN_PATTERN, _norm

    counted = documents.select(
        "doc_id",
        F.regexp_count(_norm(), F.lit(TOKEN_PATTERN)).cast("long").alias(
            "n_tokens"
        ),
    )
    par = documents.sparkSession.sparkContext.defaultParallelism
    ranged = counted.repartitionByRange(
        par, F.asc("n_tokens"), F.asc("doc_id")
    ).withColumn("__pid", F.spark_partition_id())
    w_loc = Window.partitionBy("__pid").orderBy(
        F.asc("n_tokens"), F.asc("doc_id")
    )
    local = ranged.withColumn("__lrn", F.row_number().over(w_loc).cast("long"))
    counts = ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    w_off = Window.partitionBy(single_partition_key("__pid")).orderBy(
        "__pid"
    ).rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.select(
        "__pid",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).cast("long").alias("__off"),
    )
    return (
        local.join(F.broadcast(offs), "__pid")
        .withColumn("length_rank", (F.col("__off") + F.col("__lrn")).cast("long"))
        .select(
            "doc_id",
            "n_tokens",
            "length_rank",
            (
                F.expr(f"(length_rank - 1) div {int(batch_size)}")
            ).cast("long").alias("batch_id"),
        )
        .orderBy("length_rank")
    )


def sft_render_spans(
    documents: DataFrame, turn_chars: int = 256
) -> DataFrame:
    """Instruction-tuning data prep: render documents as alternating
    user/assistant turns under a chat template and emit the LOSS-MASK
    SPANS — the [start, end) character offsets of each turn inside the
    flattened training string. SFT loss applies only to assistant
    tokens; computing spans at data-prep time (instead of re-parsing
    templates in the trainer) is the standard contract, and off-by-one
    span bugs silently train on user text — hence the oracle gate.

    Turns come from fixed-width chunking (overlap 0 — turns must not
    share text), role alternates user/assistant by turn parity, each
    turn renders as ``<|role|>text<|end|>``. Offsets are a per-doc
    prefix sum of rendered lengths — exact integer arithmetic, one
    window over (doc, turn) rows; scan-shaped otherwise. Output one
    row per turn: (doc_id, turn_idx, role, span_start, span_end,
    trainable). The flattened string itself is ``string_agg`` of the
    rendered turns in turn order — reconstructible, so it is not
    materialized here (bytes stay in the scan)."""
    turns = chunk_documents(documents, chunk_chars=turn_chars, overlap=0).select(
        "doc_id",
        F.col("chunk_idx").alias("turn_idx"),
        F.when(F.col("chunk_idx") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        "chunk_text",
    )
    rendered_len = (
        F.length("chunk_text") + F.length("role") + F.lit(4 + 7)
    )  # <|role|> ... <|end|> framing: 2+2 around role, 7 for <|end|>
    w = Window.partitionBy("doc_id").orderBy("turn_idx")
    w_prior = w.rowsBetween(Window.unboundedPreceding, -1)
    return (
        turns.withColumn("__rlen", rendered_len.cast("long"))
        .withColumn("__prior", F.sum("__rlen").over(w_prior))
        .select(
            "doc_id",
            "turn_idx",
            "role",
            F.coalesce(F.col("__prior"), F.lit(0)).cast("long").alias("span_start"),
            (F.coalesce(F.col("__prior"), F.lit(0)) + F.col("__rlen"))
            .cast("long")
            .alias("span_end"),
            (F.col("role") == "assistant").alias("trainable"),
        )
        .orderBy("doc_id", "turn_idx")
    )


def temperature_mix(
    documents: DataFrame,
    total_budget: int = 50_000,
    source_col: str = "source",
    salt: str = "v1",
) -> DataFrame:
    """TEMPERATURE-WEIGHTED corpus mixing (round 5): per-source token
    budgets ∝ (source token count)^T with T = 1/2, then the
    :func:`mix_corpus` deterministic fill — the multinomial
    temperature sampling every multilingual / multi-source LM mix
    uses (Lample & Conneau 2019; GPT-3's data weights) to up-sample
    small sources without letting head sources drown the mix.

    T is FIXED at 1/2 so the oracle stays bit-exact: ``n^0.5`` is
    IEEE-correctly-rounded ``sqrt`` in every engine, whereas a
    general ``pow(n, T)`` routes through exp/ln whose last ulp is
    libm-specific (the PERF.md sin() lesson). The weight algebra is
    then INTEGER end-to-end: ``w_s = floor(sqrt(tokens_s)·10⁶)``,
    ``budget_s = total_budget·w_s div Σw`` — exact in any engine and
    any summation order, so the div boundary can never flip. A
    different T only needs the sqrt swapped for pow plus a tolerance
    gate; the plan shape is T-independent.

    Plan: one token-count aggregate to the per-source weight table
    (broadcast, sources are few), the scalar Σw broadcast back, and
    the same single window-sort fill as mix_corpus. Output adds the
    derived ``token_budget`` per row (auditable: the budget is data,
    not config).
    """
    tok_count = F.size(
        F.regexp_extract_all(_norm(), F.lit(TOKEN_PATTERN), F.lit(0))
    ).cast("long")
    key = F.md5(
        F.concat(F.lit(salt), F.lit(":"), F.col("doc_id").cast("string"))
    )
    base = documents.withColumn("n_tokens", tok_count).withColumn("mix_key", key)
    weights = (
        base.groupBy(source_col)
        .agg(F.sum("n_tokens").alias("__src_tokens"))
        .withColumn(
            "__w",
            F.floor(F.sqrt(F.col("__src_tokens").cast("double")) * 1e6).cast(
                "long"
            ),
        )
    )
    w_all = Window.partitionBy(single_partition_key(source_col)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    budgets = (
        weights.withColumn("__wsum", F.sum("__w").over(w_all))
        .withColumn(
            "token_budget",
            F.expr(f"CAST({int(total_budget)} AS BIGINT) * __w div __wsum").cast(
                "long"
            ),
        )
        .select(source_col, "token_budget")
    )
    w = Window.partitionBy(source_col).orderBy("mix_key")
    w_cum = w.rowsBetween(Window.unboundedPreceding, -1)
    return (
        base.join(F.broadcast(budgets), source_col)
        .withColumn(
            "tokens_before",
            F.coalesce(F.sum("n_tokens").over(w_cum), F.lit(0)).cast("long"),
        )
        .withColumn("mix_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("tokens_before") < F.col("token_budget"))
        .select(
            "doc_id",
            source_col,
            "n_tokens",
            "token_budget",
            "mix_rank",
            "tokens_before",
            "mix_key",
        )
    )
