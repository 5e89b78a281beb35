"""Model-based quality scoring: a frozen-weight linear classifier.

The standard LLM-curation stack scores documents with a small linear
model (fastText-style) beside its heuristic gates; the reference
pipeline has no model layer at all, so this is engine-forward surface
in the LLM-data family (SURVEY.md §6 disposition). The model is a
centroid-difference discriminant over the repo's deterministic
hashing-trick embeddings (``text.hash_embed_documents``), trained
OFFLINE and frozen as literals by ``tools/train_quality_weights.py``
(the ann_state pattern: the engine and the oracle only ever see
frozen numbers).

Cross-engine exactness: the logit is ``bias + Σ w_i·u_i`` over the
6-dp-rounded unit vector, evaluated as one UNROLLED left-associative
chain GENERATED from the same weight literals on both sides (the
``l2_norm_unrolled`` / ``embedding_diversity`` move) — identical IEEE
ops in identical order, so the 6-dp logit is bit-identical and
hash-gated. The sigmoid probability is deliberately NOT an output
column: exp never crosses the oracle boundary (PERF.md), sigmoid is
monotone so every downstream ranking/decile/threshold composes on
the logit unchanged, and the decision flag ``logit > 0`` is the
calibrated 0.5-probability cut.

100 TB design: scoring is a scan-shaped map over the embedding frame
(the expensive part, the token explode + bucket fold, is the already-
audited hash-embedding plan); the model is 65 literals baked into the
expression — no join, no broadcast, no state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.core import round_away
from ..quality_weights import QUALITY_BIAS, QUALITY_DIM, QUALITY_WEIGHTS


def _logit_col(vec: str, weights: list[float], bias: float) -> Column:
    """The frozen linear model as ONE parsed SQL chain (r12: the
    dot_unrolled lesson — the Column-API loop cost ~320 py4j
    round-trips ≈ ~1 s of plan-build per call). ``repr(float)``
    round-trips every weight exactly, the same rendering the oracle
    generator uses, and the left-assoc add order is unchanged.
    Takes the vector COLUMN NAME."""
    chain = f"CAST({float(bias)!r} AS DOUBLE)"
    for i, w in enumerate(weights):
        chain += f" + CAST({float(w)!r} AS DOUBLE) * element_at({vec}, {i + 1})"
    return F.expr(chain)


def quality_classifier(
    documents: DataFrame,
    weights: list[float] | None = None,
    bias: float | None = None,
    dim: int | None = None,
) -> DataFrame:
    """(doc_id, quality_logit 6 dp, predicted_high_quality) for every
    document — the frozen linear model applied to the hash-embedding
    unit vector. Logit hash-gated; flag = unrounded logit > 0."""
    from .text import hash_embed_documents

    weights = QUALITY_WEIGHTS if weights is None else weights
    bias = QUALITY_BIAS if bias is None else bias
    dim = QUALITY_DIM if dim is None else dim
    emb = hash_embed_documents(documents, dim=dim)
    logit = _logit_col("embedding", weights, bias)
    return (
        emb.select(
            "doc_id",
            round_away(logit, 6).alias("quality_logit"),
            (logit > 0.0).alias("predicted_high_quality"),
        )
        .orderBy("doc_id")
    )


def quality_classifier_oracle_sql(
    weights: list[float] | None = None,
    bias: float | None = None,
) -> str:
    """DuckDB twin generated from the SAME frozen literals, reusing
    the shared hash-embedding CTE chain (``oracles.HASH_EMBED_CTES``)
    and the same left-associative term order as :func:`_logit_col`."""
    from ..oracles import HASH_EMBED_CTES

    weights = QUALITY_WEIGHTS if weights is None else weights
    bias = QUALITY_BIAS if bias is None else bias
    chain = f"CAST({float(bias)!r} AS DOUBLE)"
    for i, w in enumerate(weights):
        chain += f"\n        + CAST({float(w)!r} AS DOUBLE) * u[{i + 1}]"
    return f"""
WITH {HASH_EMBED_CTES},
uv AS (
    SELECT doc_id,
        CASE WHEN nrm > 0
             THEN list_transform(raw, x -> round(x / nrm, 6))
             ELSE raw END AS u
    FROM n
),
lg AS (
    SELECT doc_id,
        {chain} AS lraw
    FROM uv
)
SELECT doc_id, round(lraw, 6) AS quality_logit,
       lraw > 0.0 AS predicted_high_quality
FROM lg
ORDER BY doc_id
"""


def source_quality_profile(documents: DataFrame) -> DataFrame:
    """Per-source model-quality rollup — the dashboard a curation team
    reads after scoring: documents kept by the frozen classifier and
    the mean logit, per source. Composes :func:`quality_classifier`
    (the logit column is already 6-dp rounded and hash-gated, so the
    group mean can be made order-free by summing the logits as
    DECIMAL(12,6) — exact integer arithmetic in disguise, the
    embedding_diversity move — and dividing ONCE as double).

    Output: (source, n_docs, n_high, kept_frac 6 dp, mean_logit 6 dp).
    100 TB shape: scoring is scan-shaped; this adds one source-grain
    map-side-combinable aggregate."""
    scored = quality_classifier(documents)
    j = documents.select("doc_id", "source").join(scored, "doc_id")
    agg = j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.when(F.col("predicted_high_quality"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_high"),
        F.sum(F.col("quality_logit").cast("decimal(12,6)")).alias("__sl"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_high",
        round_away(
            F.col("n_high").cast("double") / F.col("n_docs").cast("double"),
            6,
        ).alias("kept_frac"),
        round_away(
            F.col("__sl").cast("double") / F.col("n_docs").cast("double"), 6
        ).alias("mean_logit"),
    ).orderBy("source")


def source_quality_profile_oracle_sql() -> str:
    """DuckDB twin of :func:`source_quality_profile` — wraps the
    generated classifier oracle as a nested-WITH CTE (same frozen
    literals), then the identical decimal-sum/one-divide algebra."""
    qc = quality_classifier_oracle_sql().strip()
    qc = qc.replace("ORDER BY doc_id", "")
    return f"""
WITH qc AS (
{qc}
),
j AS (
    SELECT d.source, qc.quality_logit, qc.predicted_high_quality
    FROM documents d JOIN qc ON d.doc_id = qc.doc_id
)
SELECT source,
    CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(CASE WHEN predicted_high_quality THEN 1 ELSE 0 END)
         AS BIGINT) AS n_high,
    round(CAST(sum(CASE WHEN predicted_high_quality THEN 1 ELSE 0 END)
               AS DOUBLE) / count(*), 6) AS kept_frac,
    round(CAST(sum(CAST(quality_logit AS DECIMAL(12,6))) AS DOUBLE)
          / count(*), 6) AS mean_logit
FROM j
GROUP BY source
ORDER BY source
"""


def classifier_auc_report(documents: DataFrame) -> DataFrame:
    """Model EVALUATION as an exact distributed computation: per
    source, the tie-adjusted Mann–Whitney AUC of the frozen
    classifier's logit against the heuristic's top-30%/bottom-30%
    labels — the number the out-of-sample pytest checks, computed
    in-engine so a 100 TB evaluation never leaves the cluster.

    Exactness: AUC is a RANK statistic, so it reduces to integers —
    labels come from a deterministic (quality_score, doc_id) rank,
    the 30% cut is ``(3n) div 10`` (never ``floor(0.3·n)``: 0.3 is
    below 3/10 in binary and floor(0.3·n) loses a unit at some n),
    and the tie-adjusted rank-sum works in HALF-UNITS so the .5s of
    averaged tie ranks stay integral:
    ``R2 = Σ_values p_at·(2·cum_less + n_at + 1)`` and
    ``AUC = (R2 − n_pos(n_pos+1)) / (2·n_pos·n_neg)`` — one float
    division of exact BIGINTs, 6-dp rounded.

    100 TB shape: scoring and labeling are scan-shaped; the rank-sum
    folds per (source, logit-value) — map-side combinable — and one
    value-ordered window per source finishes it.
    """
    from pyspark.sql import Window

    from .text import text_stats

    ts = text_stats(documents).select("doc_id", "source", "quality_score")
    w_rank = Window.partitionBy("source").orderBy("quality_score", "doc_id")
    w_n = Window.partitionBy("source")
    ranked = ts.select(
        "doc_id",
        "source",
        F.row_number().over(w_rank).alias("__r"),
        F.count(F.lit(1)).over(w_n).alias("__n"),
    )
    kcut = F.expr("(3 * __n) div 10")
    lab = ranked.filter(
        (F.col("__r") <= kcut) | (F.col("__r") > F.col("__n") - kcut)
    ).select(
        "doc_id",
        "source",
        F.when(F.col("__r") <= kcut, F.lit(0))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("__label"),
    )
    scored = quality_classifier(documents).select("doc_id", "quality_logit")
    j = lab.join(scored, "doc_id")
    pv = j.groupBy("source", "quality_logit").agg(
        F.count(F.lit(1)).cast("long").alias("__n_at"),
        F.sum("__label").cast("long").alias("__p_at"),
    )
    w_less = (
        Window.partitionBy("source")
        .orderBy("quality_logit")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cc = pv.select(
        "source",
        "__n_at",
        "__p_at",
        F.coalesce(
            F.sum("__n_at").over(w_less), F.lit(0).cast("long")
        ).alias("__cum_less"),
    )
    ag = cc.groupBy("source").agg(
        F.sum(
            F.col("__p_at")
            * (2 * F.col("__cum_less") + F.col("__n_at") + 1)
        )
        .cast("long")
        .alias("__r2"),
        F.sum("__p_at").cast("long").alias("n_pos"),
        F.sum("__n_at").cast("long").alias("__nt"),
    )
    n_neg = (F.col("__nt") - F.col("n_pos")).alias("n_neg")
    u2 = F.col("__r2") - F.col("n_pos") * (F.col("n_pos") + 1)
    return ag.select(
        "source",
        "n_pos",
        n_neg,
        round_away(
            F.try_divide(
                u2.cast("double"),
                (2 * F.col("n_pos") * (F.col("__nt") - F.col("n_pos"))).cast(
                    "double"
                ),
            ),
            6,
        ).alias("auc"),
    ).orderBy("source")


def classifier_calibration(
    documents: DataFrame, n_bins: int = 10
) -> DataFrame:
    """Model calibration report — the reliability diagram as data:
    the labeled evaluation set (the AUC report's per-source
    top-30%/bottom-30% heuristic labels) bucketed into ``n_bins``
    score bins by GLOBAL logit rank, with the observed positive rate
    per bin. A monotone, well-separated score shows pos_rate rising
    with the bin; a flat row is where the model stops discriminating
    — this is the chart a curation team reads before trusting a
    threshold.

    Exactness: bin assignment is exact long arithmetic on a global
    rank (``(rank−1)·n_bins div n + 1``); the rank is the distributed
    two-level range-rank of :func:`~.curation.quality_decile_bins`
    (repartitionByRange + local row_number + offset join — identical
    to a global window, never a corpus-wide single partition);
    counts are BIGINT; ``pos_rate`` is one division, 6-dp rounded;
    ``mean_logit`` sums the 6-dp logits in DECIMAL(12,6) (order-free)
    and divides once; min/max are exact order stats.

    100 TB shape: scoring/labeling are scan-shaped; the rank is one
    range shuffle of the labeled slice; the report is an
    ``n_bins``-row aggregate, map-side combinable.
    """
    from pyspark.sql import Window

    from ..functions.core import single_partition_key
    from .text import text_stats

    ts = text_stats(documents).select("doc_id", "source", "quality_score")
    w_rank = Window.partitionBy("source").orderBy("quality_score", "doc_id")
    w_n = Window.partitionBy("source")
    ranked = ts.select(
        "doc_id",
        F.row_number().over(w_rank).alias("__r"),
        F.count(F.lit(1)).over(w_n).alias("__n"),
    )
    kcut = F.expr("(3 * __n) div 10")
    lab = ranked.filter(
        (F.col("__r") <= kcut) | (F.col("__r") > F.col("__n") - kcut)
    ).select(
        "doc_id",
        F.when(F.col("__r") <= kcut, F.lit(0))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("__label"),
    )
    scored = quality_classifier(documents).select("doc_id", "quality_logit")
    j = lab.join(scored, "doc_id")

    par = documents.sparkSession.sparkContext.defaultParallelism
    # CACHED (PERF.md lesson 8): `ranged` feeds both the local
    # row_number and the per-pid counts, and column pruning makes the
    # two subtrees' range exchanges differ, so neither is reused. Each
    # evaluation samples its own RangePartitioner bounds; once the
    # input is sampled rather than read whole (sf0.1 at local[4]) the
    # two pid assignments disagree and the ranks overlap or skip.
    # Callers release it via `_cached_inputs`.
    ranged = (
        j.repartitionByRange(par, F.asc("quality_logit"), F.asc("doc_id"))
        .withColumn("__pid", F.spark_partition_id())
        .cache()
    )
    w_loc = Window.partitionBy("__pid").orderBy(
        F.asc("quality_logit"), F.asc("doc_id")
    )
    local = ranged.withColumn(
        "__lrn", F.row_number().over(w_loc).cast("long")
    )
    counts = ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    w_off = (
        Window.partitionBy(single_partition_key("__pid"))
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = (
        Window.partitionBy(single_partition_key("__pid"))
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    offs = counts.select(
        "__pid",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0))
        .cast("long")
        .alias("__off"),
        F.sum("__cnt").over(w_all).cast("long").alias("__nt"),
    )
    binned = (
        local.join(F.broadcast(offs), "__pid")
        .withColumn("__rank", (F.col("__off") + F.col("__lrn")).cast("long"))
        .withColumn(
            "score_bin",
            (F.expr(f"(__rank - 1) * {int(n_bins)} div __nt") + 1).cast(
                "long"
            ),
        )
    )
    agg = binned.groupBy("score_bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__label").cast("long").alias("n_pos"),
        F.sum(F.col("quality_logit").cast("decimal(12,6)")).alias("__sl"),
        F.min("quality_logit").alias("min_logit"),
        F.max("quality_logit").alias("max_logit"),
    )
    out = agg.select(
        "score_bin",
        "n_docs",
        "n_pos",
        round_away(
            F.col("n_pos").cast("double") / F.col("n_docs").cast("double"), 6
        ).alias("pos_rate"),
        round_away(
            F.col("__sl").cast("double") / F.col("n_docs").cast("double"), 6
        ).alias("mean_logit"),
        "min_logit",
        "max_logit",
    ).orderBy("score_bin")
    out._cached_inputs = (ranged,)
    return out


def classifier_calibration_oracle_sql(n_bins: int = 10) -> str:
    """DuckDB twin of :func:`classifier_calibration` — plain global
    window formulation of the two-level rank (provably identical),
    same labels, same integer bin arithmetic, same decimal-sum mean."""
    from ..oracles import TEXT_QUALITY_SQL

    qc = quality_classifier_oracle_sql().strip().replace(
        "ORDER BY doc_id", ""
    )
    return f"""
WITH ts AS (
{TEXT_QUALITY_SQL}
),
qc AS (
{qc}
),
rk AS (
    SELECT doc_id, source,
        row_number() OVER (PARTITION BY source
                           ORDER BY quality_score, doc_id) AS r,
        count(*) OVER (PARTITION BY source) AS n
    FROM ts
),
lab AS (
    SELECT doc_id,
        CASE WHEN r <= (3 * n) // 10 THEN 0 ELSE 1 END AS label
    FROM rk
    WHERE r <= (3 * n) // 10 OR r > n - (3 * n) // 10
),
g AS (
    SELECT label, quality_logit,
        row_number() OVER (ORDER BY quality_logit, doc_id) AS rnk,
        count(*) OVER () AS nt
    FROM (SELECT l.doc_id, l.label, qc.quality_logit
          FROM lab l JOIN qc USING (doc_id))
),
b AS (
    SELECT (rnk - 1) * {int(n_bins)} // nt + 1 AS score_bin,
           label, quality_logit
    FROM g
)
SELECT CAST(score_bin AS BIGINT) AS score_bin,
    CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(label) AS BIGINT) AS n_pos,
    round(CAST(sum(label) AS DOUBLE) / count(*), 6) AS pos_rate,
    round(CAST(sum(CAST(quality_logit AS DECIMAL(12,6))) AS DOUBLE)
          / count(*), 6) AS mean_logit,
    min(quality_logit) AS min_logit,
    max(quality_logit) AS max_logit
FROM b
GROUP BY 1
ORDER BY 1
"""


def classifier_auc_oracle_sql() -> str:
    """DuckDB twin of :func:`classifier_auc_report` — composes the
    generated classifier oracle and the shared text-stats SQL as
    nested-WITH CTEs; identical integer half-unit rank algebra."""
    from ..oracles import TEXT_QUALITY_SQL

    qc = quality_classifier_oracle_sql().strip().replace(
        "ORDER BY doc_id", ""
    )
    return f"""
WITH ts AS (
{TEXT_QUALITY_SQL}
),
qc AS (
{qc}
),
rk AS (
    SELECT doc_id, source,
        row_number() OVER (PARTITION BY source
                           ORDER BY quality_score, doc_id) AS r,
        count(*) OVER (PARTITION BY source) AS n
    FROM ts
),
lab AS (
    SELECT doc_id, source,
        CASE WHEN r <= (3 * n) // 10 THEN 0 ELSE 1 END AS label
    FROM rk
    WHERE r <= (3 * n) // 10 OR r > n - (3 * n) // 10
),
j AS (
    SELECT l.source, l.label, qc.quality_logit AS s
    FROM lab l JOIN qc USING (doc_id)
),
pv AS (
    SELECT source, s,
        CAST(count(*) AS BIGINT) AS n_at,
        CAST(sum(label) AS BIGINT) AS p_at
    FROM j GROUP BY 1, 2
),
cc AS (
    SELECT source, n_at, p_at,
        coalesce(sum(n_at) OVER (PARTITION BY source ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS cum_less
    FROM pv
),
ag AS (
    SELECT source,
        CAST(sum(p_at * (2 * cum_less + n_at + 1)) AS BIGINT) AS r2,
        CAST(sum(p_at) AS BIGINT) AS np,
        CAST(sum(n_at) AS BIGINT) AS nt
    FROM cc GROUP BY source
)
SELECT source, np AS n_pos, nt - np AS n_neg,
    round(CAST(r2 - np * (np + 1) AS DOUBLE)
          / CAST(2 * np * (nt - np) AS DOUBLE), 6) AS auc
FROM ag
ORDER BY source
"""
