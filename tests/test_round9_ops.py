"""Round-9 operator tests: skew hardening (salt-invariance as a
property, not just the oracle's one parameterization), the RANGE
window frame, graph consumers 5/6, calibration-bin accounting, the
MinHash estimator audit's grid/ground-truth laws, hard-negative
complementarity, and SQ8 fidelity vs the exact tier. Oracle
hash-parity is covered by tools/verify_oracles.py; these pin the
algorithmic claims."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def _li(spark, sf=SF01):
    from stock_market_data_pipeline_v2_spark.sources.io import load_table

    return load_table(spark, sf, "lineitem")


def _od(spark, sf=SF01):
    from stock_market_data_pipeline_v2_spark.sources.io import load_table

    return load_table(spark, sf, "orders")


def test_salted_join_invariant_to_salt_params(spark):
    """The whole point of the operator: ANY (n_salts, heavy_k) must
    produce the identical result, because the salt-split join emits
    the same row multiset and every aggregate is order-free. Checked
    across three parameterizations including the degenerate
    no-salting one."""
    from stock_market_data_pipeline_v2_spark.operators.dedup import (
        release_cached_inputs,
    )
    from stock_market_data_pipeline_v2_spark.operators.skew import (
        salted_priority_revenue,
    )

    li, od = _li(spark), _od(spark)
    results = []
    for n_salts, heavy_k in [(1, 1), (4, 8), (16, 64)]:
        df = salted_priority_revenue(li, od, n_salts=n_salts, heavy_k=heavy_k)
        results.append(
            {r.o_orderpriority: (r.line_count, r.order_count, r.revenue)
             for r in df.collect()}
        )
        release_cached_inputs(df)
    assert results[0] == results[1] == results[2]
    assert len(results[0]) >= 2


def test_join_key_skew_accounting(spark):
    """Shares must be key_rows/total exactly; cum_share must be the
    running sum's single division (not a sum of rounded shares); the
    top-k ordering is count-desc/key-asc."""
    from stock_market_data_pipeline_v2_spark.operators.skew import (
        join_key_skew,
    )

    rows = join_key_skew(_od(spark), "o_custkey", top_k=10).collect()
    assert [r.key_rank for r in rows] == list(range(1, len(rows) + 1))
    counts = [r.key_rows for r in rows]
    assert counts == sorted(counts, reverse=True)
    total = rows[0].total_rows
    run = 0
    for r in rows:
        run += r.key_rows
        assert abs(r.share - round(r.key_rows / total, 6)) < 1e-12
        assert abs(r.cum_share - round(run / total, 6)) < 1e-12


def test_range_frame_matches_python_two_pointer(spark):
    """The RANGE frame must hold exactly the orders within 30 days
    looking back, peers included — replicated with a per-customer
    two-pointer in Python over the same day axis."""
    from collections import defaultdict

    from stock_market_data_pipeline_v2_spark.operators.dims import (
        trailing_window_revenue,
    )
    from stock_market_data_pipeline_v2_spark.sources.io import load_table

    cust = load_table(spark, SF01, "customer")
    got = trailing_window_revenue(_od(spark), cust).collect()
    per_cust = defaultdict(list)
    for r in _od(spark).collect():
        per_cust[r.o_custkey].append(r)
    import datetime as dt

    epoch = dt.date(1970, 1, 1)
    expect = {}
    for ck, rows in per_cust.items():
        days = [(r.o_orderdate.date() - epoch).days for r in rows]
        for i, r in enumerate(rows):
            in_frame = [
                j
                for j in range(len(rows))
                if days[i] - 30 <= days[j] <= days[i]
            ]
            expect[r.o_orderkey] = (
                len(in_frame),
                round(sum(rows[j].o_totalprice for j in in_frame), 2),
            )
    assert got, "no BUILDING-segment orders"
    for r in got:
        n, rev = expect[r.o_orderkey]
        assert r.trailing_orders == n, r
        assert abs(r.trailing_revenue - rev) < 0.02, r


def test_degree_distribution_mass_and_memo(spark):
    """Shares sum to ~1, node counts sum to the vertex count, and the
    memo-fed path equals the standalone path."""
    from stock_market_data_pipeline_v2_spark.operators.graph import (
        build_copurchase_graph,
        degree_distribution,
    )

    li = _li(spark, SF)
    standalone = degree_distribution(li).collect()
    g = build_copurchase_graph(li)
    memo = degree_distribution(li, graph=g).collect()
    assert [tuple(r) for r in standalone] == [tuple(r) for r in memo]
    n_nodes = li.select("l_partkey").distinct().count()
    assert sum(r.n_nodes for r in standalone) == n_nodes
    assert abs(sum(r.node_share for r in standalone) - 1.0) < 1e-3


def test_link_prediction_laws(spark):
    """Predicted pairs must be (a) seeded, (b) NON-edges, (c) ranked
    by common-neighbor count, and the CN count must equal the true
    neighborhood intersection computed independently."""
    from collections import defaultdict

    from stock_market_data_pipeline_v2_spark.operators.graph import (
        copurchase_edges,
        link_prediction_cn,
    )

    li = _li(spark, SF)
    edges = {(r.src, r.dst) for r in copurchase_edges(li).collect()}
    adj = defaultdict(set)
    for s, d in edges:
        adj[s].add(d)
    got = link_prediction_cn(li, seed_mod=50, per_seed=3).collect()
    assert got, "no predictions — seed_mod too sparse for testdata"
    by_seed = defaultdict(list)
    for r in got:
        assert r.part_a % 50 == 0
        assert (r.part_a, r.part_b) not in edges
        assert r.common_neighbors == len(adj[r.part_a] & adj[r.part_b])
        assert r.degree_a == len(adj[r.part_a])
        assert r.degree_b == len(adj[r.part_b])
        by_seed[r.part_a].append(r)
    for rows in by_seed.values():
        cns = [r.common_neighbors for r in sorted(rows, key=lambda r: r.pred_rank)]
        assert cns == sorted(cns, reverse=True)


def test_classifier_calibration_accounting(spark):
    """Bins must partition the labeled set (Σ n_docs = labeled count),
    sizes must be near-equal (exact rank bins), pos_rate must be
    n_pos/n_docs, and bin logit ranges must be non-overlapping and
    ascending."""
    from stock_market_data_pipeline_v2_spark.operators.classifier import (
        classifier_calibration,
    )
    from stock_market_data_pipeline_v2_spark.operators.dedup import (
        release_cached_inputs,
    )

    docs = spark.read.parquet(f"{SF01}/documents.parquet")
    df = classifier_calibration(docs)
    rows = df.collect()
    release_cached_inputs(df)
    assert [r.score_bin for r in rows] == list(range(1, 11))
    n = sum(r.n_docs for r in rows)
    assert max(r.n_docs for r in rows) - min(r.n_docs for r in rows) <= 1
    for r in rows:
        assert abs(r.pos_rate - round(r.n_pos / r.n_docs, 6)) < 1e-12
        assert r.min_logit <= r.max_logit
    for lo, hi in zip(rows, rows[1:]):
        assert lo.max_logit <= hi.min_logit
    # labeled set = per-source top30% + bottom30%
    from stock_market_data_pipeline_v2_spark.operators.text import text_stats

    per_source = (
        text_stats(docs).groupBy("source").count().collect()
    )
    expect = sum(2 * ((3 * r["count"]) // 10) for r in per_source)
    assert n == expect


def test_classifier_calibration_stable_across_builds(spark):
    """The registered query must give one answer per input: its
    two-level rank reads the range-partitioned pid frame in two
    subtrees, and at sf0.1 the range bounds are sampled, so two
    evaluations of that frame could disagree (PERF.md lesson 8). Three
    builds in one session must return identical rows: bins 1..n_bins,
    never an extra one."""
    import __spark_entry__ as m

    sf = os.path.join(os.path.dirname(SF01), "sf0.1")
    runs = [
        [tuple(r) for r in m.queries()["classifier_calibration"](spark, sf).collect()]
        for _ in range(3)
    ]
    assert [r[0] for r in runs[0]] == list(range(1, 11))
    assert runs[1] == runs[0]
    assert runs[2] == runs[0]


def test_minhash_audit_laws(spark):
    """est_jaccard must sit on the 1/num_perm grid; exact_jaccard must
    equal the true shingle Jaccard (audit ground truth is UNPRUNED);
    abs_err must be |est − exact| of the raw quotients."""
    import math

    from stock_market_data_pipeline_v2_spark.operators.dedup import (
        minhash_estimate_audit,
        release_cached_inputs,
        word_shingles,
    )

    def r6(x):  # half-AWAY rounding, matching functions.core.round_away
        return math.floor(x * 1e6 + 0.5) / 1e6

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = minhash_estimate_audit(docs, num_perm=32)
    rows = df.collect()
    release_cached_inputs(df)
    assert rows, "LSH produced no candidates on planted near-dups"
    sh = {}
    for r in word_shingles(docs, 3).collect():
        sh.setdefault(r.doc_id, set()).add(r.shingle)
    for r in rows:
        assert 0 <= r.est_matches <= 32
        assert abs(r.est_jaccard - r6(r.est_matches / 32)) < 1e-12
        a, b = sh[r.doc_a], sh[r.doc_b]
        exact = len(a & b) / len(a | b)
        assert abs(r.exact_jaccard - r6(exact)) < 1e-9
        assert abs(r.abs_err - r6(abs(r.est_matches / 32 - exact))) < 1e-9


def test_hard_negatives_are_cross_label_and_hardest(spark):
    """Every mined negative must carry a different label than its
    query, and must be the TOP cross-label items: no cross-label
    corpus vector may beat the rank-k cosine (checked per query via
    the exact brute computation)."""
    import numpy as np

    from stock_market_data_pipeline_v2_spark.operators.similarity import (
        hard_negative_topk,
    )

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = embs.filter(F.col("vec_id") % 4 == 0)
    got = hard_negative_topk(embs, qs, k=3).collect()
    assert got
    rows = embs.collect()
    ids = [r.vec_id for r in rows]
    labs = {r.vec_id: r.label for r in rows}
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    nrm = np.linalg.norm(mat, axis=1)
    unit = mat / np.where(nrm > 0, nrm, 1)[:, None]
    by_q = {}
    for r in got:
        assert r.neighbor_label != r.query_label
        by_q.setdefault(r.query_id, []).append(r)
    for qid, lst in by_q.items():
        qi = ids.index(qid)
        sims = unit @ unit[qi]
        best = sorted(
            (
                (-sims[i], ids[i])
                for i in range(len(ids))
                if labs[ids[i]] != labs[qid] and ids[i] != qid
            )
        )[: len(lst)]
        want = [vid for _s, vid in best]
        have = [r.neighbor_id for r in sorted(lst, key=lambda r: r.rank)]
        assert have == want, (qid, have, want)


def test_hard_negative_ivf_vs_brute(spark):
    """The IVF twin must emit only cross-label pairs, agree with the
    brute twin bit-for-bit on shared pairs (same cosine contract),
    and recall most of the brute top-k (cell probing bounds recall
    exactly as ivf_topk's)."""
    from stock_market_data_pipeline_v2_spark.operators.similarity import (
        build_ivf_index,
        hard_negative_ivf_topk,
        hard_negative_topk,
    )

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = embs.filter(F.col("vec_id") % 4 == 0)
    idx = build_ivf_index(embs)
    brute = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in hard_negative_topk(embs, qs, k=5).collect()
    }
    ivf_rows = hard_negative_ivf_topk(embs, qs, k=5, index=idx).collect()
    ivf = {(r.query_id, r.neighbor_id): r.cosine for r in ivf_rows}
    assert ivf_rows
    for r in ivf_rows:
        assert r.neighbor_label != r.query_label
    shared = set(brute) & set(ivf)
    assert all(brute[p] == ivf[p] for p in shared)
    assert len(shared) / len(brute) >= 0.6


def test_sq8_fidelity_vs_exact(spark):
    """The SQ8 tier must (a) rank close to the exact tier — recall@5
    well above chance — and (b) score within the quantization error
    bound of the true cosine (|err| ≤ Σ|q_j|·w_j/2 ≤ max_w·√d/2,
    loose form checked per emitted row)."""
    from stock_market_data_pipeline_v2_spark.operators.similarity import (
        cosine_topk,
        sq8_topk,
    )

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = embs.filter(F.col("vec_id") % 4 == 0)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(embs, qs, k=5).collect()
    }
    sq8_rows = sq8_topk(embs, qs, k=5).collect()
    sq8 = {(r.query_id, r.neighbor_id) for r in sq8_rows}
    assert len(sq8 & exact) / len(exact) >= 0.8
    # scores live in cosine range (reconstruction keeps unit-ish norms)
    for r in sq8_rows:
        assert -1.1 <= r.sq8_score <= 1.1


def test_hard_negative_blas_bit_identical_to_brute(spark):
    """r12 optimization gate: the BLAS block-grid tier registered as
    ``hard_negative_mining`` must equal the brute crossJoin ground
    truth ROW FOR ROW (ids, labels, ranks AND 6-dp cosines) — BLAS
    only prunes; the exact chain decides. Small ``block_rows`` forces
    a real multi-block grid."""
    from stock_market_data_pipeline_v2_spark.operators.similarity import (
        hard_negative_topk,
        hard_negative_topk_blas,
    )

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = embs.filter(F.col("vec_id") % 4 == 0)
    brute = sorted(
        tuple(r) for r in hard_negative_topk(embs, qs, k=5).collect()
    )
    blas = sorted(
        tuple(r)
        for r in hard_negative_topk_blas(embs, qs, k=5, block_rows=64).collect()
    )
    assert brute and blas == brute


def test_sq8_blas_bit_identical_to_brute(spark):
    """r12 optimization gate: the BLAS SQ8 tier registered as
    ``ann_sq8_topk`` must equal the brute generated-chain scan ROW
    FOR ROW (ids, ranks AND 6-dp scores) — the kernel's recon matrix
    is element-identical, the exact chain re-ranks survivors."""
    from stock_market_data_pipeline_v2_spark.operators.similarity import (
        sq8_topk,
        sq8_topk_blas,
    )

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = embs.filter(F.col("vec_id") % 4 == 0)
    brute = sorted(tuple(r) for r in sq8_topk(embs, qs, k=5).collect())
    blas = sorted(
        tuple(r) for r in sq8_topk_blas(embs, qs, k=5, block_rows=64).collect()
    )
    assert brute and blas == brute


def test_quality_report_counts_injected_violations(spark):
    """The report must count exactly the violating rows, flag fail
    status, and keep total_rows at the scan count — checked on a
    synthetic frame with KNOWN violations (the real tables are clean,
    so the oracle gate alone never exercises a non-zero cell)."""
    from stock_market_data_pipeline_v2_spark.plans.checks import (
        expect_accepted_values,
        expect_between,
        expect_not_null,
        quality_report_frame,
    )

    df = spark.createDataFrame(
        [
            (1, "A", 5.0),
            (2, "A", 500.0),   # out of range
            (None, "B", 7.0),  # null key
            (4, "X", 9.0),     # bad enum
            (4, "A", 1.0),     # duplicate key
        ],
        "k int, flag string, v double",
    )
    rep = quality_report_frame(
        df,
        "t",
        [
            expect_not_null("k"),
            expect_between("v", 0.0, 100.0),
            expect_accepted_values("flag", ["A", "B"]),
        ],
        unique_keys=[["k"]],
    )
    rows = {r.check_name: r for r in rep.collect()}
    assert rows["not_null:k"].violations == 1
    assert rows["between:v[0.0,100.0]"].violations == 1
    assert rows["accepted_values:flag"].violations == 1
    assert rows["unique:k"].violations == 1  # one duplicated key value
    assert all(r.total_rows == 5 for r in rows.values())
    assert all(r.status == "fail" for r in rows.values())


def test_referential_integrity_finds_planted_orphan(spark):
    """Plant one orphan per fact edge in a miniature star and check
    the audit reports exactly it (count, sample key, status), while
    clean edges read pass; NULL FKs must NOT count as orphans (dbt
    relationship-test semantics)."""
    from stock_market_data_pipeline_v2_spark.plans.checks import (
        referential_integrity_audit,
    )

    li = spark.createDataFrame(
        [(1, 10, 100), (1, 99, 100), (2, 10, None)],
        "l_orderkey long, l_partkey long, l_suppkey long",
    )
    od = spark.createDataFrame(
        [(1, 7), (2, None), (3, 77)], "o_orderkey long, o_custkey long"
    )
    cu = spark.createDataFrame([(7, 1)], "c_custkey long, c_nationkey int")
    su = spark.createDataFrame([(100, 1)], "s_suppkey long, s_nationkey int")
    pa = spark.createDataFrame([(10,)], "p_partkey long")
    na = spark.createDataFrame([(1, 5)], "n_nationkey int, n_regionkey int")
    re_ = spark.createDataFrame([(5,)], "r_regionkey int")
    out = {
        (r.child_table, r.fk_column): r
        for r in referential_integrity_audit(li, od, cu, su, pa, na, re_).collect()
    }
    assert out[("lineitem", "l_partkey")].orphan_rows == 1
    assert out[("lineitem", "l_partkey")].sample_orphan_key == 99
    assert out[("lineitem", "l_partkey")].status == "fail"
    # NULL suppkey on row 3 is not an orphan:
    assert out[("lineitem", "l_suppkey")].orphan_rows == 0
    assert out[("lineitem", "l_orderkey")].orphan_rows == 0
    # orders row with custkey 77 has no parent; NULL custkey doesn't count:
    assert out[("orders", "o_custkey")].orphan_rows == 1
    assert out[("orders", "o_custkey")].sample_orphan_key == 77
    assert out[("nation", "n_regionkey")].status == "pass"
    assert out[("lineitem", "l_orderkey")].child_rows == 3


def test_part_skyline_dominance_law(spark):
    """Full skyline law vs a Python brute force on the collapsed
    (brand, price, size) grain: every returned point is undominated
    within its brand AND every omitted grain point is dominated."""
    from stock_market_data_pipeline_v2_spark.operators.skyline import (
        part_skyline,
    )
    from stock_market_data_pipeline_v2_spark.sources.io import load_table

    part = load_table(spark, SF01, "part")
    got = {
        (r.brand, r.price, r.size)
        for r in part_skyline(part).collect()
    }
    pts = {
        (r.brand, float(r.price), int(r.size))
        for r in part.select(
            F.col("p_brand").alias("brand"),
            F.col("p_retailprice").alias("price"),
            F.col("p_size").alias("size"),
        ).distinct().collect()
    }

    def dominated(b, p, s):
        return any(
            b2 == b and p2 <= p and s2 <= s and (p2 < p or s2 < s)
            for (b2, p2, s2) in pts
        )

    for b, p, s in got:
        assert not dominated(b, p, s), (b, p, s)
    for b, p, s in pts - got:
        assert dominated(b, p, s), (b, p, s)
    assert len(got) > 25  # at least one row per brand, usually several


def test_label_centroid_similarity_numpy_parity(spark):
    """Re-derive every output cell from numpy over the SAME quantized
    integer coordinates; the operator's floats must match to the
    6-dp rounding it applies, and the directional-statistics bounds
    must hold (|cosine| ≤ 1, 0 < coherence ≤ 1)."""
    import numpy as np

    from stock_market_data_pipeline_v2_spark.operators.centroids import (
        label_centroid_similarity,
    )
    from stock_market_data_pipeline_v2_spark.operators.eigen import Q_SCALE
    from stock_market_data_pipeline_v2_spark.sources.io import load_table

    emb = load_table(spark, SF01, "embeddings")
    rows = emb.select("label", "embedding").collect()
    sums: dict[int, np.ndarray] = {}
    ns: dict[int, int] = {}
    for r in rows:
        v = np.array(r.embedding, dtype=np.float64)
        n = float(np.sqrt(np.dot(v, v)))
        if n <= 0:
            continue
        u = v / n
        q = np.array(
            [int(np.floor(abs(x) * Q_SCALE + 0.5)) * (1 if x >= 0 else -1)
             for x in u],
            dtype=object,
        )
        sums[r.label] = sums.get(r.label, np.zeros(64, dtype=object)) + q
        ns[r.label] = ns.get(r.label, 0) + 1

    out = label_centroid_similarity(emb).collect()
    assert len(out) == len(sums) * (len(sums) - 1) // 2
    for r in out:
        sa, sb = sums[r.label_a], sums[r.label_b]
        da = float(int(np.dot(sa, sa)))
        db = float(int(np.dot(sb, sb)))
        dot = float(int(np.dot(sa, sb)))
        exp_cos = dot / (np.sqrt(da) * np.sqrt(db))
        assert abs(r.cosine - exp_cos) <= 5e-7, (r.label_a, r.label_b)
        assert abs(r.cosine) <= 1.0
        exp_ca = np.sqrt(da) / (ns[r.label_a] * Q_SCALE)
        assert abs(r.coherence_a - exp_ca) <= 5e-7
        assert 0 < r.coherence_a <= 1.0 and 0 < r.coherence_b <= 1.0
        assert r.n_a == ns[r.label_a] and r.n_b == ns[r.label_b]


def test_event_metrics_unpivot_roundtrip(spark):
    """The melt must carry exactly 4 metrics per event_type and agree
    with independently computed wide aggregates."""
    from stock_market_data_pipeline_v2_spark.operators.stats import (
        event_metrics_long,
    )
    from stock_market_data_pipeline_v2_spark.sources.io import load_table

    ev = load_table(spark, SF01, "events")
    long = event_metrics_long(ev).collect()
    by_type: dict[str, dict[str, float]] = {}
    for r in long:
        by_type.setdefault(r.event_type, {})[r.metric] = r.value
    assert all(len(m) == 4 for m in by_type.values())
    wide = {
        r.event_type: r
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.count_distinct("user_id").alias("u"),
            F.max("value").alias("mx"),
        )
        .collect()
    }
    assert set(by_type) == set(wide)
    for t, m in by_type.items():
        assert m["n_events"] == float(wide[t].c)
        assert m["n_users"] == float(wide[t].u)
        assert m["max_value"] == wide[t].mx


def test_orders_cube_grain_accounting(spark):
    """CUBE must emit exactly the 4 grains with standard bit-mask ids
    and internally consistent mass: each grain's counts sum to the
    table total, and the (3) grand-total row equals the full scan."""
    from stock_market_data_pipeline_v2_spark.operators.dims import (
        orders_status_cube,
    )

    od = _od(spark)
    rows = orders_status_cube(od).collect()
    by_gid: dict[int, list] = {}
    for r in rows:
        by_gid.setdefault(r.grouping_id, []).append(r)
    assert set(by_gid) == {0, 1, 2, 3}
    total = od.count()
    for gid in (0, 1, 2, 3):
        assert sum(r.n_orders for r in by_gid[gid]) == total
    grand = by_gid[3][0]
    assert grand.o_orderstatus is None and grand.order_year is None
    assert len(by_gid[3]) == 1 and grand.n_orders == total
    # detail rows carry both keys; marginal rows null out exactly the
    # aggregated dimension (bit 1 = first cube column = status):
    assert all(
        r.o_orderstatus is not None and r.order_year is not None
        for r in by_gid[0]
    )
    assert all(
        r.o_orderstatus is None and r.order_year is not None
        for r in by_gid[2]
    )
    assert all(
        r.o_orderstatus is not None and r.order_year is None
        for r in by_gid[1]
    )


def test_tick_gap_report_telescoping_law(spark):
    """Per series the gap sum telescopes to last−first, so
    mean_gap_us must equal (max_us−min_us)/(n_ticks−1); gap counts
    re-derived brute-force in Python on sf0.001."""
    from stock_market_data_pipeline_v2_spark.operators.stats import (
        tick_gap_report,
    )
    from stock_market_data_pipeline_v2_spark.sources.io import load_table

    ev = load_table(spark, SF, "events")
    got = {r.event_type: r for r in tick_gap_report(ev).collect()}
    raw = ev.select(
        "event_type", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    ).collect()
    series: dict[str, list[int]] = {}
    for r in raw:
        series.setdefault(r.event_type, []).append(r.us)
    assert set(got) == set(series)
    for t, us in series.items():
        us.sort()
        gaps = [b - a for a, b in zip(us, us[1:])]
        r = got[t]
        assert r.n_ticks == len(us)
        assert r.max_gap_us == max(gaps)
        assert r.n_gaps_over_1m == sum(1 for g in gaps if g > 60_000_000)
        expect_mean = (us[-1] - us[0]) / len(gaps)
        # 6-dp rounding + ulp slack on a ~1e10 magnitude
        assert abs(r.mean_gap_us - expect_mean) <= max(5e-7, 1e-9 * expect_mean)


def test_label_loo_outliers_numpy_parity(spark):
    """Re-derive the leave-one-out cosine from numpy over the same
    quantized integers: for every reported outlier the identity
    (qS−qq)/(√qq·√(SS−2qS+qq)) must equal cosine(q, S−q) exactly, and
    the reported bottom-k must be the true bottom-k with the
    (loo_cosine, vec_id) tiebreak."""
    import numpy as np

    from stock_market_data_pipeline_v2_spark.operators.centroids import (
        label_loo_outliers,
    )
    from stock_market_data_pipeline_v2_spark.operators.eigen import Q_SCALE
    from stock_market_data_pipeline_v2_spark.sources.io import load_table

    emb = load_table(spark, SF01, "embeddings")
    rows = emb.select("vec_id", "label", "embedding").collect()
    qs: dict[int, np.ndarray] = {}
    lab: dict[int, int] = {}
    sums: dict[int, np.ndarray] = {}
    for r in rows:
        v = np.array(r.embedding, dtype=np.float64)
        n = float(np.sqrt(np.dot(v, v)))
        if n <= 0:
            continue
        u = v / n
        q = np.array(
            [int(np.floor(abs(x) * Q_SCALE + 0.5)) * (1 if x >= 0 else -1)
             for x in u],
            dtype=object,
        )
        qs[r.vec_id] = q
        lab[r.vec_id] = r.label
        sums[r.label] = sums.get(r.label, np.zeros(64, dtype=object)) + q

    loo: dict[int, float] = {}
    for vid, q in qs.items():
        S = sums[lab[vid]]
        qq = int(np.dot(q, q))
        qS = int(np.dot(q, S))
        SS = int(np.dot(S, S))
        num = qS - qq
        den = np.sqrt(qq) * np.sqrt(SS - 2 * qS + qq)
        loo[vid] = num / den
        # identity check vs the materialized S−q form:
        loo2 = int(np.dot(q, S - q)) / (
            np.sqrt(qq) * np.sqrt(int(np.dot(S - q, S - q)))
        )
        assert abs(loo[vid] - loo2) < 1e-12

    got = label_loo_outliers(emb).collect()
    by_label: dict[int, list] = {}
    for r in got:
        by_label.setdefault(r.label, []).append(r)
    for label, rs in by_label.items():
        members = sorted(
            (round(loo[v], 6), v) for v in qs if lab[v] == label
        )
        expect = members[: len(rs)]
        for r, (cos, vid) in zip(sorted(rs, key=lambda r: r.outlier_rank), expect):
            assert r.vec_id == vid
            assert abs(r.loo_cosine - cos) <= 1e-9


def test_knn_label_eval_numpy_parity(spark):
    """LOO 1-NN accuracy re-derived with numpy over the same corpus:
    for each vector the nearest OTHER vector (cosine desc, id asc
    tiebreak) votes; per-label accuracy must match exactly."""
    import numpy as np

    from stock_market_data_pipeline_v2_spark.operators.similarity import (
        knn_label_eval,
    )
    from stock_market_data_pipeline_v2_spark.sources.io import load_table

    emb = load_table(spark, SF01, "embeddings")
    rows = emb.select("vec_id", "label", "embedding").collect()
    ids = [r.vec_id for r in rows]
    labels = {r.vec_id: r.label for r in rows}
    M = np.array([r.embedding for r in rows], dtype=np.float64)
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    sims = M @ M.T
    per_label = {}
    for i, vid in enumerate(ids):
        # the operator's vote contract: raw top-3 pool, re-ranked on
        # the 6-dp rounded cosine with vec_id tiebreak
        pool = sorted(
            ((sims[i, j], -ids[j]) for j in range(len(ids)) if j != i),
            reverse=True,
        )[:3]
        best = max((round(c, 6), neg_id) for c, neg_id in pool)
        nn_id = -best[1]
        lab = labels[vid]
        n, c = per_label.get(lab, (0, 0))
        per_label[lab] = (n + 1, c + (1 if labels[nn_id] == lab else 0))

    got = {r.label: r for r in knn_label_eval(emb).collect()}
    assert set(got) == set(per_label)
    for lab, (n, c) in per_label.items():
        assert got[lab].n_vectors == n
        assert got[lab].correct_1nn == c
        assert abs(got[lab].accuracy - round(c / n, 6)) < 1e-12


def test_part_abc_analysis_boundary_law(spark):
    """Re-derive the ABC classes in exact Python Fractions over the
    same per-part revenues: class counts, class revenue, and the
    80/95% boundary placement must match exactly (no float may touch
    a threshold)."""
    from decimal import Decimal
    from fractions import Fraction

    import __spark_entry__ as m

    got = {r.abc_class: r for r in
           m.queries()["part_abc_analysis"](spark, SF01).collect()}
    li = _li(spark).select("l_partkey", "l_extendedprice", "l_discount").collect()
    rev: dict[int, Decimal] = {}
    for r in li:
        amt = (
            Decimal(str(r.l_extendedprice)).quantize(Decimal("0.01"))
            * Decimal(str(round(1 - r.l_discount, 2))).quantize(Decimal("0.01"))
        )
        rev[r.l_partkey] = rev.get(r.l_partkey, Decimal(0)) + amt
    total = sum(rev.values())
    ranked = sorted(rev.items(), key=lambda kv: (-kv[1], kv[0]))
    cum = Decimal(0)
    classes: dict[str, list] = {"A": [], "B": [], "C": []}
    for part, r in ranked:
        cum += r
        if Fraction(cum) * 5 <= Fraction(total) * 4:
            classes["A"].append(r)
        elif Fraction(cum) * 20 <= Fraction(total) * 19:
            classes["B"].append(r)
        else:
            classes["C"].append(r)
    assert set(got) == {k for k, v in classes.items() if v}
    for k, revs in classes.items():
        if not revs:
            continue
        assert got[k].n_parts == len(revs)
        assert abs(Decimal(str(got[k].class_revenue)) - sum(revs)) <= Decimal("0.01")
    assert sum(r.n_parts for r in got.values()) == len(rev)
    assert abs(sum(r.revenue_share for r in got.values()) - 1.0) < 1e-5
    # Pareto sanity: A holds most revenue with a minority of parts
    assert got["A"].revenue_share > got["C"].revenue_share or got["A"].n_parts < len(rev)


def test_rake_keywords_python_parity(spark):
    """Full RAKE reimplementation in Python over the same corpus:
    phrase extraction (punctuation + stopword splits), deg/freq word
    scores with the spec'd 6-dp quantization, phrase-score sums, and
    the top-k ordering must all match."""
    import re
    from collections import Counter, defaultdict
    from decimal import Decimal

    import __spark_entry__ as m
    from stock_market_data_pipeline_v2_spark.operators.rake import (
        RAKE_STOPWORDS,
    )

    docs = spark.read.parquet(f"{SF01}/documents.parquet").collect()
    stop_re = re.compile(r"\b(" + "|".join(RAKE_STOPWORDS) + r")\b")
    phrases: list[list[str]] = []
    for d in docs:
        t = d.text.lower()
        t = re.sub(r"[^a-z0-9' ]+", "§", t)
        t = stop_re.sub("§", t)
        for seg in t.split("§"):
            ws = seg.split()
            if ws:
                phrases.append(ws)
    freq: Counter = Counter()
    deg: Counter = Counter()
    for ws in phrases:
        for w in ws:
            freq[w] += 1
            deg[w] += len(ws)

    def q6(x: float) -> Decimal:
        from decimal import ROUND_HALF_UP

        return Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)

    occ = Counter(" ".join(ws) for ws in phrases)
    scores = {}
    for p in occ:
        scores[p] = sum(q6(deg[w] / freq[w]) for w in p.split())
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:20]

    got = m.queries()["rake_keywords"](spark, SF01).collect()
    assert len(got) == 20
    for r, (p, s) in zip(got, ranked):
        assert r.phrase == p, (r.rank, r.phrase, p)
        assert abs(Decimal(str(r.score)) - s) <= Decimal("0.000001")
        assert r.n_occurrences == occ[p]
        assert r.n_words == len(p.split())


def test_benford_audit_accounting(spark):
    """Digits must partition each source's rows (Σn = rows with v≥1),
    shares must be n/total at 6 dp, expectations must equal
    log10(1+1/d), and chi² terms must re-derive from the ROUNDED
    share (the spec'd boundary)."""
    import math

    import __spark_entry__ as m

    rows = m.queries()["benford_audit"](spark, SF01).collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.source_column, []).append(r)
    assert set(by_src) == {
        "lineitem.l_extendedprice",
        "orders.o_totalprice",
    }
    li = _li(spark).filter(F.col("l_extendedprice") >= 1)
    od = _od(spark).filter(F.col("o_totalprice") >= 1)
    totals = {
        "lineitem.l_extendedprice": li.count(),
        "orders.o_totalprice": od.count(),
    }
    for src, rs in by_src.items():
        tot = totals[src]
        assert sum(r.n for r in rs) == tot
        for r in rs:
            assert 1 <= r.digit <= 9
            assert abs(r.share - round(r.n / tot, 6)) < 1e-12
            assert abs(
                r.expected_share - round(math.log10(1 + 1 / r.digit), 6)
            ) < 1e-12
            expect_chi = round(
                (r.share - r.expected_share) ** 2 / r.expected_share, 6
            )
            assert abs(r.chi2_term - expect_chi) <= 1e-6
    # brute first-digit recount for lineitem
    import collections

    cnt = collections.Counter(
        int(str(int(v.l_extendedprice))[0]) for v in li.collect()
    )
    got = {r.digit: r.n for r in by_src["lineitem.l_extendedprice"]}
    assert got == {d: c for d, c in cnt.items()}
