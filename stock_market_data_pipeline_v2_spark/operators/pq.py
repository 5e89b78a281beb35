"""Product-quantization (PQ) ANN tier over ``array<float>``
embeddings — the MEMORY-COMPRESSION scale path (Jégou, Douze &
Schmid, "Product Quantization for Nearest Neighbor Search", TPAMI
2011; the FAISS ``IndexPQ``/ADC design), completing the ANN family:

- brute / BLAS (operators/similarity.py): exact, O(n·q) float math;
- LSH: hash-bucketed candidates, no training;
- IVF: data-adaptive cell pruning, n_probe/√n probed fraction;
- **PQ (here): 32× vector compression** — each unit vector is stored
  as ``m`` small codes (64 float32 = 256 B → 16 4-bit codes = 8 B at
  the defaults m=16, ksub=16), and a
  query scans codes with ``m`` table lookups + adds per vector
  instead of ``dim`` multiply-adds. At 100 TB of embeddings the PQ
  code table for 400 G vectors is ~3 TB — cacheable in cluster
  memory, where the raw vectors (~100 TB) are not. That residency
  flip, not the FLOP count, is why every production ANN engine ships
  PQ.

Asymmetric distance computation (ADC): the query stays UNQUANTIZED;
``approx_dot(q, x) = Σ_sub LUT[sub, code_sub(x)]`` with
``LUT[sub, c] = <q_sub, centroid_{sub,c}>`` — so the only
approximation is the corpus-side quantization error. Candidates are
over-fetched per block (``refine``× k) by ADC score, then re-ranked
with the EXACT cosine (same expressions, rounding and tiebreak as
``cosine_topk``), so emitted neighbors are never wrong — only
possibly missing, exactly like the LSH/IVF tiers (recall + subset
gates in tests/test_llm_ops.py).

Scale shape: codebook training is ONE distributed pass (sample →
explode to (sub, subvector) → per-sub Lloyd's inside a grouped
kernel — m tiny k-means, not m corpus scans); encoding is one
broadcast-join scan collapsing map-side to (id, codes); the ADC scan
is the same block-grid ``applyInPandas`` shape as
``cosine_topk_blas`` — per-task state O(q·block_rows), narrow
candidate rows to the exact re-rank, raw vectors touched ONLY for
candidates (compressed scan, exact fetch-by-id — the production
split). Codebook is model state: m·ksub·dsub doubles (16·16·4 = 1 Ki
doubles at the defaults), broadcast by construction.

Determinism: training sorts each subspace sample by vector id before
seeded init, so a rebuild yields the identical codebook; encoding
breaks distance ties toward the smaller code; ADC candidate cuts are
threshold-based (order-insensitive) and the exact re-rank uses the
canonical deterministic tiebreak.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.core import round_away
from ..functions.vectors import (
    as_double,
    cosine_from_parts,
    dot_unrolled,
    l2_norm_unrolled,
)


class PqIndex(NamedTuple):
    """A trained product quantizer plus the encoded corpus.

    - ``codebook``: (sub int, code int, center array<double>) —
      m·ksub rows of MODEL state (inspectable, broadcast-sized).
    - ``codebook_local``: the same centers as a nested Python list
      ``[sub][code][dim]`` for the ADC kernel closure (model state on
      the driver, like the IVF centroid table — never a data
      collect).
    - ``codes``: (id long, codes array<int>) — the compressed corpus,
      m small ints per vector; persist() before query-many use.
    """

    codebook: DataFrame
    codebook_local: list
    codes: DataFrame
    m: int
    ksub: int
    dim: int

    def release(self) -> None:
        self.codes.unpersist()


def _sq_dist_expr(a: Column, b_items: list[Column]) -> Column:
    """Σ (a[i] − b_i)² as a flat expression over ``len(b_items)``
    element_at terms — no intermediate array allocation."""
    terms = [
        (F.element_at(a, i + 1) - b_items[i]) * (F.element_at(a, i + 1) - b_items[i])
        for i in range(len(b_items))
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def _encode_codes(c: DataFrame, cb_df: DataFrame, m: int, dsub: int) -> DataFrame:
    """Encode (id, uv) rows against a codebook frame: m rows per
    vector (bounded explode), broadcast-join the m-row grouped
    codebook (one ordered struct array of ksub centers per subspace —
    the per-vector argmin is a bounded in-row fold, never a shuffle),
    tie→smaller code, collapse back to one (id, codes) row. The only
    shuffle moves n narrow rows. Shared by the build pass and the
    incremental :func:`extend_pq_index` ADD path — one definition, so
    extended batches encode bit-identically to built ones."""
    cb_grouped = cb_df.groupBy("sub").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("code"), F.col("center")))
        ).alias("centers")
    )
    argmin_code = F.array_min(
        F.transform(
            F.col("centers"),
            lambda s: F.struct(
                _sq_dist_expr(
                    F.col("sv"),
                    [F.element_at(s["center"], i + 1) for i in range(dsub)],
                ).alias("d"),
                s["code"].alias("code"),
            ),
        )
    )["code"]
    return (
        c.select(
            "id", "uv", F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub")
        )
        .select(
            "id",
            "sub",
            F.expr(f"slice(uv, sub * {dsub} + 1, {dsub})").alias("sv"),
        )
        .join(F.broadcast(cb_grouped), "sub")
        .select("id", "sub", argmin_code.alias("code"))
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("sub"), F.col("code")))),
                lambda s: s["code"],
            ).alias("codes")
        )
    )


def extend_pq_index(
    index: PqIndex,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    persist: bool = False,
) -> PqIndex:
    """Incremental ADD for the PQ index (the FAISS ``add()`` path,
    twin of :func:`similarity.extend_ivf_index`): encode a batch of
    NEW vectors against the FROZEN codebooks and union the codes
    table. Nightly corpus growth appends compressed codes without
    retraining — subquantizers are trained on a representative sample
    and drift slowly; the production cadence is add-per-batch,
    retrain-per-epoch (then re-encode everything once).

    Exactness: the encode plan is the build pass's own
    ``_encode_codes`` — new ids encode bit-identically to a build
    that had used the same codebooks; existing (id, codes) rows are
    untouched by construction. Cost: ONE scan of the batch (bounded
    m-row explode + broadcast argmin); nothing corpus-sized runs.

    ``persist=True`` caches the merged frame and releases the old one.
    """
    spark = new_vectors.sparkSession
    par = spark.sparkContext.defaultParallelism
    m, dim = index.m, index.dim
    dsub = dim // m
    unit = F.when(
        F.col("nrm") > 0,
        F.transform(F.col("v"), lambda x: x / F.col("nrm")),
    ).otherwise(F.transform(F.col("v"), lambda x: F.lit(0.0)))
    c = (
        new_vectors.repartition(par, id_col)
        .select(
            F.col(id_col).alias("id"),
            as_double(F.col(vec_col)).alias("v"),
        )
        .withColumn("nrm", l2_norm_unrolled("v", dim))
        .withColumn("uv", unit)
    )
    merged = index.codes.unionByName(_encode_codes(c, index.codebook, m, dsub))
    if persist:
        merged = merged.cache()
        merged.count()  # deliberate materialization before release
        index.codes.unpersist()
    return index._replace(codes=merged)


def build_pq_index(
    corpus: DataFrame,
    m: int = 16,
    ksub: int = 16,
    dim: int = 64,
    seed: int = 42,
    max_iter: int = 8,
    train_fraction: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    persist: bool = False,
) -> PqIndex:
    """Train the product quantizer and encode every corpus vector.

    Vectors are unit-normalized BEFORE subspace slicing, so the sum
    of per-subspace dots IS the cosine estimate (zero-norm vectors
    encode as zero vectors and rank last, mirroring the exact tier's
    null-cosine handling). Training runs one grouped kernel: the
    sample explodes to (sub, subvector) rows and each subspace fits a
    seeded Lloyd's over its own group — deterministic (sample sorted
    by id inside the kernel, RandomState(seed+sub) strided init,
    empty cells keep their previous center).

    At 100 TB pass ``train_fraction`` ~1e-4: subquantizers need a
    representative sample, not the population; encoding is the only
    full pass, and it is one broadcast-join scan.
    """
    import numpy as np
    import pandas as pd

    if dim % m:
        raise ValueError(f"m={m} must divide dim={dim}")
    dsub = dim // m
    spark = corpus.sparkSession
    n = corpus.count()  # scalar only — sizes the training sample
    if train_fraction is None:
        train_fraction = 1.0 if n <= 100_000 else 100_000 / n

    par = spark.sparkContext.defaultParallelism
    unit = F.when(
        F.col("nrm") > 0,
        F.transform(F.col("v"), lambda x: x / F.col("nrm")),
    ).otherwise(F.transform(F.col("v"), lambda x: F.lit(0.0)))
    c = (
        corpus.repartition(par, id_col)
        .select(
            F.col(id_col).alias("id"),
            as_double(F.col(vec_col)).alias("v"),
        )
        .withColumn("nrm", l2_norm_unrolled("v", dim))
        .withColumn("uv", unit)
    )
    if n == 0:
        empty_cb = spark.createDataFrame([], "sub int, code int, center array<double>")
        return PqIndex(
            codebook=empty_cb,
            codebook_local=[[[0.0] * dsub for _ in range(ksub)] for _ in range(m)],
            codes=c.select("id", F.array().cast("array<int>").alias("codes")),
            m=m,
            ksub=ksub,
            dim=dim,
        )

    train = c if train_fraction >= 1.0 else c.sample(train_fraction, seed=seed)
    sub_train = train.select(
        "id", "uv", F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub")
    ).select(
        "id",
        "sub",
        F.expr(f"slice(uv, sub * {dsub} + 1, {dsub})").alias("sv"),
    )

    def lloyd(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        sub = int(key[0])
        pdf = pdf.sort_values("id")  # group arrival order is not deterministic
        x = np.stack([np.asarray(r, dtype=np.float64) for r in pdf["sv"]])
        rng = np.random.RandomState(seed + sub)
        kk = min(ksub, len(x))
        init_idx = rng.choice(len(x), size=kk, replace=False)
        centers = x[init_idx].copy()
        for _ in range(max_iter):
            d = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for j in range(kk):
                mask = assign == j
                if mask.any():
                    centers[j] = x[mask].mean(axis=0)
        if kk < ksub:  # degenerate tiny sample: pad with repeats
            centers = np.vstack([centers, centers[[0] * (ksub - kk)]])
        return pd.DataFrame(
            {
                "sub": sub,
                "code": np.arange(ksub, dtype=np.int32),
                "center": [centers[j].tolist() for j in range(ksub)],
            }
        )

    codebook = (
        sub_train.groupBy("sub")
        .applyInPandas(lloyd, schema="sub int, code int, center array<double>")
    )
    cb_rows = codebook.collect()  # m·ksub rows of model state
    cb_local = [[[0.0] * dsub for _ in range(ksub)] for _ in range(m)]
    for r in cb_rows:
        cb_local[r.sub][r.code] = list(r.center)
    cb_df = spark.createDataFrame(
        [(s, j, cb_local[s][j]) for s in range(m) for j in range(ksub)],
        "sub int, code int, center array<double>",
    )
    codes = _encode_codes(c, cb_df, m, dsub)
    if persist:
        codes = codes.cache()
        codes.count()  # deliberate build-once materialization
    return PqIndex(
        codebook=cb_df,
        codebook_local=cb_local,
        codes=codes,
        m=m,
        ksub=ksub,
        dim=dim,
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    index: PqIndex | None = None,
    refine: int = 8,
    block_rows: int = 65536,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    margin: float = 1e-9,
) -> DataFrame:
    """ANN top-k by PQ/ADC scan + exact cosine re-rank. Output shape,
    rounding and tiebreak identical to ``cosine_topk``; emitted
    cosines are exact (re-ranked), recall < 1 only through ADC
    candidate misses — raise ``refine`` to trade scan cost for
    recall.

    Plan: corpus CODES hash into blocks (narrow m-int rows — the raw
    vectors never enter the kernel); queries replicate per block
    carrying their raw vector; each block task builds the q×m×ksub
    LUT from the closure codebook (model state) and scores the block
    with m gathers + adds per (query, member), keeping per query
    every member within ``margin`` of its block-local
    (refine·k)-th-best ADC score. Only narrow candidate id pairs
    leave the kernel; the exact re-rank joins the raw vectors BY ID —
    at 100 TB the compressed scan touches ~3 TB of codes while the
    exact side fetches only candidates.
    """
    import numpy as np
    import pandas as pd

    if index is None:
        index = build_pq_index(corpus, id_col=id_col, vec_col=vec_col)
    m, ksub, dim = index.m, index.ksub, index.dim
    dsub = dim // m
    cb = index.codebook_local

    spark = corpus.sparkSession
    n = corpus.count()
    if n == 0:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, rank long, cosine double"
        )
    nblocks = max(1, -(-n // block_rows))

    c_tag = index.codes.select(
        F.col("id"),
        F.col("codes"),
        F.pmod(F.xxhash64(F.col("id")), F.lit(nblocks)).cast("int").alias("blk"),
        F.lit(None).cast("array<double>").alias("qv"),
    )
    q_tag = queries.select(
        F.col(id_col).alias("id"),
        F.lit(None).cast("array<int>").alias("codes"),
        F.explode(
            F.sequence(F.lit(0), F.lit(nblocks - 1)).cast("array<int>")
        ).alias("blk"),
        as_double(F.col(vec_col)).alias("qv"),
    )
    fetch = max(1, refine * k)

    def adc_block(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        is_q = pdf["qv"].notna().to_numpy()
        ids = pdf["id"].to_numpy(dtype=np.int64)
        qids, cids = ids[is_q], ids[~is_q]
        if not len(qids) or not len(cids):
            return pd.DataFrame({"query_id": [], "neighbor_id": []}).astype(
                {"query_id": np.int64, "neighbor_id": np.int64}
            )
        qmat = np.stack(
            [np.asarray(x, dtype=np.float64) for x in pdf["qv"][is_q]]
        )
        qn = np.linalg.norm(qmat, axis=1)
        qn[qn == 0] = np.nan
        qunit = qmat / qn[:, None]
        codes_mat = np.stack(
            [np.asarray(x, dtype=np.int64) for x in pdf["codes"][~is_q]]
        )
        cbook = np.asarray(cb, dtype=np.float64)  # (m, ksub, dsub)
        # LUT[q, sub, code] = <q_sub, center_{sub,code}>
        lut = np.einsum(
            "qsd,scd->qsc", qunit.reshape(len(qids), m, dsub), cbook
        )
        scores = np.zeros((len(qids), len(cids)))
        for sub in range(m):
            scores += lut[:, sub, codes_mat[:, sub]]
        scores = np.nan_to_num(scores, nan=-np.inf)
        scores[qids[:, None] == cids[None, :]] = -np.inf  # self-pairs
        kk = min(fetch, scores.shape[1])
        thresh = np.partition(scores, -kk, axis=1)[:, -kk]
        qi, ci = np.nonzero(scores >= (thresh[:, None] - margin))
        return pd.DataFrame({"query_id": qids[qi], "neighbor_id": cids[ci]})

    cand = (
        c_tag.unionByName(q_tag)
        .groupBy("blk")
        .applyInPandas(adc_block, schema="query_id long, neighbor_id long")
    )
    c_exact = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("cv"),
    ).withColumn("cn", l2_norm_unrolled("cv", dim))
    q_exact = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("qv"),
    ).withColumn("qn", l2_norm_unrolled("qv", dim))
    cos = cosine_from_parts(
        dot_unrolled("qv", "cv", dim), F.col("qn"), F.col("cn")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_raw"), F.asc("neighbor_id")
    )
    return (
        cand.join(c_exact, "neighbor_id")
        .join(F.broadcast(q_exact), "query_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine_raw", cos)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            round_away(F.col("cosine_raw"), 6).alias("cosine"),
        )
    )


def ivfpq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    ivf_index=None,
    pq_index: PqIndex | None = None,
    n_probe: int = 16,
    refine: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    margin: float = 1e-9,
) -> DataFrame:
    """IVF-PQ — the production composition (FAISS ``IndexIVFPQ``):
    the IVF coarse quantizer prunes the corpus to ``n_probe`` cells
    (probed fraction n_probe/√n shrinks with corpus size) and the PQ
    codes make scanning those cells ~32× lighter in memory traffic —
    multiplicative savings, which is why a trillion-vector index is
    ALWAYS IVF(-ish) × PQ(-ish). Both indexes are the ones the other
    tiers already share (build once, compose everywhere).

    Plan: probe ranking against the broadcast centroid table (same as
    ``ivf_topk``); the cell equi-join lands on (id, home cell, codes)
    rows — 8 B payloads, raw vectors absent; per-cell grouped kernels
    ADC-score members against the probing queries' LUTs and keep a
    per-(query, cell) ``refine·k`` cut with a tie margin; one narrow
    window trims to the global per-query ``refine·k`` by ADC before
    the exact cosine re-rank fetches candidate vectors BY ID. Output
    contract identical to every other tier (exact cosines, dense
    ranks, deterministic tiebreak); recall < 1 through cell misses
    (raise ``n_probe``) or ADC misranking (raise ``refine``) — both
    measured in tests/test_llm_ops.py.
    """
    import numpy as np
    import pandas as pd

    if ivf_index is None or pq_index is None:
        raise ValueError("ivfpq_adc_topk needs prebuilt ivf_index and pq_index")
    m, ksub, dim = pq_index.m, pq_index.ksub, pq_index.dim
    dsub = dim // m
    cb = pq_index.codebook_local
    fetch = max(1, refine * k)

    mem = (
        ivf_index.assignments.select(
            "id", F.element_at("cells", 1).alias("cell")
        )
        .join(pq_index.codes, "id")
        .select(
            "id",
            "cell",
            "codes",
            F.lit(None).cast("array<double>").alias("qv"),
            F.lit(None).cast("long").alias("query_id"),
        )
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("qv"),
    )
    probe_rank = Window.partitionBy("query_id").orderBy(
        F.desc("cdot"), F.asc("cell")
    )
    q_probes = (
        q.crossJoin(F.broadcast(ivf_index.centroids))
        .withColumn("cdot", dot_unrolled("qv", "cv", ivf_index.dim))
        .withColumn("pr", F.row_number().over(probe_rank))
        .filter(F.col("pr") <= n_probe)
        .select(
            F.lit(None).cast("long").alias("id"),
            "cell",
            F.lit(None).cast("array<int>").alias("codes"),
            "qv",
            "query_id",
        )
    )

    def adc_cell(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        is_q = pdf["qv"].notna().to_numpy()
        if not is_q.any() or is_q.all():
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "adc": []}
            ).astype({"query_id": np.int64, "neighbor_id": np.int64, "adc": np.float64})
        qids = pdf["query_id"][is_q].to_numpy(dtype=np.int64)
        cids = pdf["id"][~is_q].to_numpy(dtype=np.int64)
        qmat = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["qv"][is_q]])
        qn = np.linalg.norm(qmat, axis=1)
        qn[qn == 0] = np.nan
        qunit = qmat / qn[:, None]
        codes_mat = np.stack(
            [np.asarray(x, dtype=np.int64) for x in pdf["codes"][~is_q]]
        )
        cbook = np.asarray(cb, dtype=np.float64)
        lut = np.einsum("qsd,scd->qsc", qunit.reshape(len(qids), m, dsub), cbook)
        scores = np.zeros((len(qids), len(cids)))
        for sub in range(m):
            scores += lut[:, sub, codes_mat[:, sub]]
        scores = np.nan_to_num(scores, nan=-np.inf)
        scores[qids[:, None] == cids[None, :]] = -np.inf
        kk = min(fetch, scores.shape[1])
        thresh = np.partition(scores, -kk, axis=1)[:, -kk]
        qi, ci = np.nonzero(scores >= (thresh[:, None] - margin))
        return pd.DataFrame(
            {"query_id": qids[qi], "neighbor_id": cids[ci], "adc": scores[qi, ci]}
        )

    cand = (
        mem.unionByName(q_probes)
        .groupBy("cell")
        .applyInPandas(adc_cell, schema="query_id long, neighbor_id long, adc double")
    )
    adc_w = Window.partitionBy("query_id").orderBy(
        F.desc("adc"), F.asc("neighbor_id")
    )
    trimmed = (
        cand.withColumn("adc_rank", F.row_number().over(adc_w))
        .filter(F.col("adc_rank") <= fetch)
        .select("query_id", "neighbor_id")
    )
    c_exact = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("cv"),
    ).withColumn("cn", l2_norm_unrolled("cv", dim))
    q_exact = q.withColumn("qn", l2_norm_unrolled("qv", dim))
    cos = cosine_from_parts(
        dot_unrolled("qv", "cv", dim), F.col("qn"), F.col("cn")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_raw"), F.asc("neighbor_id")
    )
    return (
        trimmed.join(c_exact, "neighbor_id")
        .join(F.broadcast(q_exact), "query_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine_raw", cos)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            round_away(F.col("cosine_raw"), 6).alias("cosine"),
        )
    )


PQ_PROFILE_Q_SCALE = 10**9  # squared-error quantization units


def pq_subspace_profile(index: PqIndex, corpus: DataFrame,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Index-health report off the persisted PQ codes (round 8 — the
    product-quantizer twin of ``similarity.py:ivf_cluster_profile``):
    per subspace — code-capacity utilization (distinct codes
    assigned), the heaviest code's load (assignment skew), and the
    quantization error the compression pays (what a production ANN
    service watches for retrain/re-split decisions).

    Exactness: each (vector, subspace) squared reconstruction error
    to its ASSIGNED center is one left-associative double chain on
    identical operands, quantized to BIGINT units
    (floor(e²·10⁹ + 0.5)) so per-subspace totals are order-free
    integer sums; counts/loads are integers; mean is one float
    division of exact integers; max is order-free on identical
    doubles.

    100 TB design: consumes the codes table (m small ints per
    vector — the index IS the input; no re-encode, no argmin over
    ksub), one broadcast join against the m·ksub-row codebook, one
    (sub, code)-grain partial agg re-aggregated to m rows.
    """
    m, ksub, dim = index.m, index.ksub, index.dim
    dsub = dim // m
    unit_slice = F.when(
        F.col("nrm") > 0,
        F.transform(F.col("__sv0"), lambda x: x / F.col("nrm")),
    ).otherwise(F.transform(F.col("__sv0"), lambda x: F.lit(0.0)))
    c = (
        corpus.select(
            F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v")
        )
        .withColumn("nrm", l2_norm_unrolled("v", dim))
    )
    enc = index.codes.select(
        "id", F.posexplode("codes").alias("sub", "code")
    )
    err = _sq_dist_expr(
        F.col("sv"),
        [F.element_at(F.col("center"), j + 1) for j in range(dsub)],
    )
    per = (
        enc.join(c, "id")
        .select(
            "sub",
            "code",
            F.expr(f"slice(v, sub * {dsub} + 1, {dsub})").alias("__sv0"),
            "nrm",
        )
        .withColumn("sv", unit_slice)
        .join(F.broadcast(index.codebook), ["sub", "code"])
        .select(
            "sub",
            "code",
            err.alias("__e"),
        )
    )
    per_code = per.groupBy("sub", "code").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(
            F.floor(
                F.col("__e") * F.lit(float(PQ_PROFILE_Q_SCALE)) + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("__sq"),
        F.max("__e").alias("__mx"),
    )
    return (
        per_code.groupBy("sub")
        .agg(
            F.sum("__n").cast("long").alias("n_vectors"),
            F.count(F.lit(1)).cast("long").alias("codes_used"),
            F.max("__n").cast("long").alias("max_code_load"),
            F.sum("__sq").cast("long").alias("sum_sqerr_q"),
            F.max("__mx").alias("__emx"),
        )
        .select(
            F.col("sub").cast("long").alias("sub"),
            "n_vectors",
            "codes_used",
            "max_code_load",
            "sum_sqerr_q",
            round_away(
                F.col("sum_sqerr_q").cast("double")
                / (
                    F.col("n_vectors").cast("double")
                    * F.lit(float(PQ_PROFILE_Q_SCALE))
                ),
                6,
            ).alias("mean_sqerr"),
            round_away(F.col("__emx"), 6).alias("max_sqerr"),
        )
        .orderBy("sub")
    )
