"""Round 12: transactional-table completion (VERDICT r11 "What's
wrong" #1/#2 + next-round #2/#3 + the four ADVICE findings) —
multi-column zone-map survival across every write path, row DELETE,
snapshot-history retention, JSON-safe footer stats, retry-loop schema
TOCTOU, dangling-hint fallback, and the staged-orphan accessor."""

import os

import pytest
from pyspark.sql import functions as F


def _rows(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, ver long")


def _read(spark, t, version=None):
    return sorted(tuple(r) for r in t.read(spark, version).collect())


def _grid(spark, n=1024, wmod=32):
    # k row-major, w decorrelated — the adversarial case for 1-D sorts
    rows = [(k, (k * 37) % wmod, f"v{k}", 1) for k in range(n)]
    return spark.createDataFrame(rows, "k long, w long, v string, ver long")


def test_txn_writes_preserve_multicolumn_zone_maps(spark, tmp_path):
    """THE r11 finding (VERDICT r11 "What's wrong" #1): after
    optimize_zorder records {k, w} zone maps, a merge on k, an
    append, and a stream batch must all stage stats for BOTH columns
    (the parent manifest's stat-col union), so a pruned read on the
    SECOND dimension still genuinely skips files afterwards."""
    from stock_market_data_pipeline_v2_spark.sources.txn_table import TxnTable

    t = TxnTable.create(spark, str(tmp_path / "t"), _grid(spark), keys=["k"])
    t.optimize_zorder(spark, specs=[("k", 0, 1023), ("w", 0, 31)], n_files=8)

    # narrow merge on k — pre-fix this staged stats for k only
    t.merge(
        spark,
        spark.createDataFrame(
            [(5, 3, "V5", 2)], "k long, w long, v string, ver long"
        ),
        keys=["k"],
        version_col="ver",
        zone_map_col="k",
    )
    m = t.manifest()
    rewritten = [f for f in m["files"] if f in m["stats"]]
    assert rewritten and all(
        set(m["stats"][f]) >= {"k", "w"} for f in rewritten
    ), "merge must stage stats for every previously mapped column"

    # the second dimension still prunes after the merge
    kept_w, total = t.prune_files("w", 0, 3)
    assert len(kept_w) < total, "w-range must still prune post-merge"
    got = sorted(tuple(r) for r in t.read_pruned(spark, "w", 0, 3).collect())
    want = sorted(
        tuple(r)
        for r in t.read(spark).filter("w >= 0 and w <= 3").collect()
    )
    assert got == want

    # append and stream-append files carry both columns too
    extra = spark.createDataFrame(
        [(2000, 5, "a", 1)], "k long, w long, v string, ver long"
    )
    # (empty part files have no footer row groups → no stats entry,
    # the documented conservative case — assert on the data files)
    def _new_with_stats(m_new, m_old):
        new = set(m_new["files"]) - set(m_old["files"])
        assert new
        with_stats = [f for f in new if f in m_new["stats"]]
        assert with_stats, "non-empty staged files must record stats"
        assert all(set(m_new["stats"][f]) >= {"k", "w"} for f in with_stats)

    va = t.append(spark, extra)
    ma = t.manifest(va)
    _new_with_stats(ma, m)
    vs = t.commit_stream_batch(spark, extra, "app", 0)
    _new_with_stats(t.manifest(vs), ma)


def test_txn_prune_box_two_dimensional(spark, tmp_path):
    """prune_box / read_pruned_box: an AND-of-ranges box prunes on
    every dimension at once — on a z-ordered layout it keeps at most
    what either single-column prune keeps, and the read equals
    read-then-filter on BOTH a z-ordered and a 1-D-optimized layout
    (layout changes cost, never semantics)."""
    from stock_market_data_pipeline_v2_spark.sources.txn_table import TxnTable

    box = [("k", 0, 63), ("w", 0, 3)]

    z = TxnTable.create(spark, str(tmp_path / "z"), _grid(spark), keys=["k"])
    z.optimize_zorder(spark, specs=[("k", 0, 1023), ("w", 0, 31)], n_files=8)
    one = TxnTable.create(spark, str(tmp_path / "o"), _grid(spark), keys=["k"])
    one.optimize(spark, cluster_col="k", n_files=8)

    kept_box, total = z.prune_box(box)
    kept_k, _ = z.prune_files("k", 0, 63)
    kept_w, _ = z.prune_files("w", 0, 31 + 1)  # full w-range: no-op prune
    assert len(kept_box) <= min(len(kept_k), len(kept_w))
    assert len(kept_box) < total

    for t in (z, one):
        got = sorted(
            tuple(r) for r in t.read_pruned_box(spark, box).collect()
        )
        want = sorted(
            tuple(r)
            for r in t.read(spark)
            .filter("k between 0 and 63 and w between 0 and 3")
            .collect()
        )
        assert got == want
    # z-order's reason to exist: the box keeps no more files than the
    # 1-D layout (which cannot prune on w at all)
    kept_1d, _ = one.prune_box(box)
    assert len(kept_box) <= len(kept_1d)


def test_txn_delete_selective_and_null_semantics(spark, tmp_path):
    """Row DELETE (VERDICT r11 next-round #2): selective rewrite via
    the zone-map hit-test carries non-intersecting files forward
    byte-identical, end state equals the full-COW twin, key_unique_on
    survives, and NULL-condition rows are KEPT (SQL DELETE)."""
    from stock_market_data_pipeline_v2_spark.sources.txn_table import TxnTable

    base = _rows(
        spark,
        [(k, f"v{k}", 1) for k in range(1, 33)] + [(99, None, 1)],
    )
    t = TxnTable.create(spark, str(tmp_path / "t"), base, keys=["k"])
    t.optimize(spark, cluster_col="k", n_files=4)
    m_opt = t.manifest()

    # delete with a condition on v: NULL for k=99 → that row is KEPT
    v = t.delete(
        spark,
        (F.col("k").between(1, 8)) & (F.col("v") != "v3"),
        prune_col="k",
        prune_lo=1,
        prune_hi=8,
    )
    m = t.manifest(v)
    assert m["op"] == "delete"
    assert m["key_unique_on"] == ["k"], "delete cannot break uniqueness"
    carried = set(m_opt["files"]) & set(m["files"])
    assert carried, "non-intersecting files must be carried forward"
    latest = {r.k for r in t.read(spark).collect()}
    assert latest == {3} | set(range(9, 33)) | {99}
    assert {r.v for r in t.read(spark).filter("k = 99").collect()} == {None}

    # full-COW twin (no prune bound) reaches the identical end state
    twin = TxnTable.create(spark, str(tmp_path / "twin"), base, keys=["k"])
    twin.delete(spark, (F.col("k").between(1, 8)) & (F.col("v") != "v3"))
    assert _read(spark, t) == _read(spark, twin)
    # and the SQL-string condition form works (k=99 matches too)
    twin.delete(spark, "k >= 30")
    assert {r.k for r in twin.read(spark).collect()} == {3} | set(range(9, 30))


def test_txn_expire_snapshots_retention(spark, tmp_path):
    """Snapshot retention (VERDICT r11 next-round #3): expire drops
    old manifests (expired versions unreadable, survivors exact),
    vacuum then reclaims files referenced only by expired history,
    time travel within retention stays exact, and a hint dangling at
    an expired version still resolves (ADVICE r11 #1)."""
    from stock_market_data_pipeline_v2_spark.sources.txn_table import TxnTable

    t = TxnTable.create(spark, str(tmp_path / "t"), _rows(spark, [(1, "a", 1)]))
    t.merge(spark, _rows(spark, [(2, "b", 1)]), keys=["k"], version_col="ver")
    t.merge(spark, _rows(spark, [(3, "c", 1)]), keys=["k"], version_col="ver")
    t.merge(spark, _rows(spark, [(2, "B", 2)]), keys=["k"], version_col="ver")
    before_v3 = _read(spark, t, version=3)
    before_v4 = _read(spark, t, version=4)

    expired = t.expire_snapshots(keep_last=2)
    assert expired == [1, 2]
    assert t.versions() == [3, 4]
    assert t.latest_version() == 4
    with pytest.raises(FileNotFoundError, match="expired"):
        t.read(spark, version=1)
    # survivors exact, history walks only surviving versions
    assert _read(spark, t, version=3) == before_v3
    assert _read(spark, t) == before_v4
    assert [h["version"] for h in t.history()] == [3, 4]

    # files pinned only by expired versions are now orphans; vacuum
    # reclaims them and the survivors still read exact
    orphans = t.staged_orphans()
    assert orphans, "expired-only files must become orphans"
    assert t.vacuum(grace_seconds=0) >= len(orphans)
    assert t.staged_orphans() == []
    assert _read(spark, t, version=3) == before_v3
    assert _read(spark, t) == before_v4

    # dangling hint: point it at an expired version → listdir fallback
    with open(t._hint_path, "w") as fh:
        fh.write("1")
    assert t.latest_version() == 4
    with pytest.raises(ValueError, match="keep_last"):
        t.expire_snapshots(keep_last=0)


def test_txn_footer_stats_json_safe_degrade(spark, tmp_path):
    """ADVICE r11 #3: a zone-map column whose parquet stats are not
    JSON-native (timestamp) must degrade to no-stats-conservative —
    the commit succeeds, pruning keeps every file, and read_pruned
    still equals read-then-filter."""
    from stock_market_data_pipeline_v2_spark.sources.txn_table import TxnTable

    df = spark.createDataFrame(
        [(k, f"2024-01-{k:02d} 00:00:00") for k in range(1, 9)],
        "k long, ts_s string",
    ).select("k", F.col("ts_s").cast("timestamp").alias("ts"))
    t = TxnTable.create(spark, str(tmp_path / "t"), df, zone_map_col="ts")
    m = t.manifest()
    assert all("ts" not in s for s in m["stats"].values())
    kept, total = t.prune_files("ts", "x", "y")
    assert len(kept) == total, "no stats → conservative keep-all"
    # string stat columns DO record and order correctly
    t2 = TxnTable.create(
        spark,
        str(tmp_path / "t2"),
        spark.createDataFrame(
            [("a", 1), ("m", 2), ("z", 3)], "s string, n long"
        ).repartitionByRange(3, "s"),
        zone_map_col="s",
    )
    kept2, total2 = t2.prune_files("s", "a", "b")
    assert len(kept2) < total2


def test_txn_schema_guard_rechecked_per_retry(spark, tmp_path):
    """ADVICE r11 #2 (TOCTOU): an append that loses its race to a
    schema-changing commit must re-validate against the NEW parent
    and fail loudly, not commit a mixed-schema snapshot."""
    from pyspark.sql.types import StructType
    from stock_market_data_pipeline_v2_spark.sources import txn_table as tt

    root = str(tmp_path / "t")
    t = tt.TxnTable.create(spark, root, _rows(spark, [(1, "a", 1)]))
    new_schema = spark.createDataFrame([(1, 0.5)], "k long, score double").schema

    class RacedBySchemaChange(tt.TxnTable):
        def _stage(self, df, stats_col=None):
            out = super()._stage(df, stats_col=stats_col)
            # between stage and commit, a (hypothetical migration)
            # writer lands a version with a DIFFERENT schema
            saboteur = tt.TxnTable(self.root)
            parent = saboteur.latest_version()
            saboteur._try_commit(parent, [], "create", new_schema)
            return out

    with pytest.raises(ValueError, match="schema mismatch"):
        RacedBySchemaChange(root).append(spark, _rows(spark, [(2, "b", 1)]))


def test_txn_staged_orphans_accessor(spark, tmp_path):
    """staged_orphans lists lost-race/abandoned staging debris
    (expected under contention, never reader-visible); vacuum past
    grace clears it."""
    from stock_market_data_pipeline_v2_spark.sources.txn_table import TxnTable

    t = TxnTable.create(spark, str(tmp_path / "t"), _rows(spark, [(1, "a", 1)]))
    assert t.staged_orphans() == []
    t._stage(_rows(spark, [(9, "orphan", 1)]))
    orphans = t.staged_orphans()
    assert orphans and all(o.startswith("data/") for o in orphans)
    assert {r.k for r in t.read(spark).collect()} == {1}
    assert t.vacuum(grace_seconds=0) >= len(orphans)
    assert t.staged_orphans() == []


def test_txn_evolve_schema_additive(spark, tmp_path):
    """Additive schema evolution (Delta mergeSchema shape): a
    committed schema widening rewrites ZERO data — old files
    null-fill the new column at read time under the manifest schema,
    time travel before the evolution still shows the old schema,
    stats/uniqueness carry forward so pruning and selective merges
    keep working, and non-additive or stale-schema writes stay loud."""
    from stock_market_data_pipeline_v2_spark.sources.txn_table import TxnTable

    base = _rows(spark, [(k, f"v{k}", 1) for k in range(1, 33)])
    t = TxnTable.create(spark, str(tmp_path / "t"), base, keys=["k"])
    t.optimize(spark, cluster_col="k", n_files=4)
    m_before = t.manifest()

    v = t.evolve_schema(spark, [("score", "double")])
    m = t.manifest(v)
    assert m["op"] == "evolve-schema"
    assert m["files"] == m_before["files"], "zero data rewritten"
    assert m["stats"] == m_before["stats"]
    assert m["key_unique_on"] == ["k"]

    # old rows read null-filled; pre-evolution time travel is untouched
    got = t.read(spark)
    assert got.columns == ["k", "v", "ver", "score"]
    assert got.filter("score is not null").count() == 0
    assert t.read(spark, version=2).columns == ["k", "v", "ver"]

    # stale-schema append fails loudly; new-schema append + selective
    # merge work, and zone-map pruning still rides the carried stats
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(spark, _rows(spark, [(40, "x", 1)]))
    wide = spark.createDataFrame(
        [(1, "V1", 2, 0.9)], "k long, v string, ver long, score double"
    )
    t.merge(spark, wide, keys=["k"], version_col="ver", zone_map_col="k")
    m2 = t.manifest()
    assert set(m["files"]) & set(m2["files"]), "selective merge post-evolve"
    rows = {r.k: (r.v, r.score) for r in t.read(spark).collect()}
    assert rows[1] == ("V1", 0.9) and rows[2] == ("v2", None)
    kept, total = t.prune_files("k", 1, 4)
    assert len(kept) < total

    with pytest.raises(ValueError, match="already exists"):
        t.evolve_schema(spark, [("score", "double")])


def test_txn_delete_conflict_retry_is_serializable(spark, tmp_path):
    """A delete that loses the commit race must re-read the WINNER's
    snapshot and re-apply — the interloper's merge survives the
    delete, and the delete's erasure survives the merge (no lost
    update in either direction). Race forced deterministically: an
    interloper merge commits between the delete's snapshot read and
    its commit attempt."""
    from stock_market_data_pipeline_v2_spark.sources import txn_table as tt

    root = str(tmp_path / "t")
    t = tt.TxnTable.create(
        spark,
        root,
        _rows(spark, [(k, f"v{k}", 1) for k in range(1, 9)]),
        keys=["k"],
    )

    class Racy(tt.TxnTable):
        def _stage(self, df, stats_col=None):
            out = super()._stage(df, stats_col=stats_col)
            if not getattr(self, "_raced", False):
                self._raced = True
                tt.TxnTable(self.root).merge(
                    spark,
                    _rows(spark, [(20, "interloper", 2)]),
                    keys=["k"],
                    version_col="ver",
                )
            return out

    v = Racy(root).delete(spark, "k <= 3")
    m = t.manifest(v)
    assert m["op"] == "delete" and m["parent"] == 2
    latest = {r.k: r.v for r in t.read(spark).collect()}
    assert set(latest) == {4, 5, 6, 7, 8, 20}, latest
    assert latest[20] == "interloper"
    # history shows the serialized order: create, interloper, delete
    assert [h["op"] for h in t.history()] == ["create", "merge", "delete"]


def test_txn_version_as_of_and_clone(spark, tmp_path):
    """Timestamp time travel + zero-copy clone: version_as_of picks
    the last version committed at or before the asked time (and
    refuses pre-creation times); clone shares bytes via hard links
    yet diverges independently — writes to either side are invisible
    to the other, and vacuuming the source cannot hurt the clone."""
    import time

    from stock_market_data_pipeline_v2_spark.sources.txn_table import TxnTable

    before_create = time.time()
    time.sleep(0.02)
    t = TxnTable.create(spark, str(tmp_path / "t"), _rows(spark, [(1, "a", 1)]))
    time.sleep(0.02)
    mid = time.time()
    time.sleep(0.02)
    t.append(spark, _rows(spark, [(2, "b", 1)]))
    assert t.version_as_of(mid) == 1
    assert t.version_as_of(time.time()) == 2
    with pytest.raises(FileNotFoundError, match="pre-creation"):
        t.version_as_of(before_create)
    # retention trims what as-of can reach
    t.append(spark, _rows(spark, [(3, "c", 1)]))
    t.expire_snapshots(keep_last=2)
    with pytest.raises(FileNotFoundError):
        t.version_as_of(mid)

    c = t.clone(str(tmp_path / "c"))
    assert _read(spark, c) == _read(spark, t)
    assert [h["version"] for h in c.history()] == [2, 3]
    # divergence: writes to one side are invisible to the other
    c.append(spark, _rows(spark, [(9, "z", 1)]))
    assert {r.k for r in c.read(spark).collect()} == {1, 2, 3, 9}
    assert {r.k for r in t.read(spark).collect()} == {1, 2, 3}
    t.delete(spark, "k = 1")
    assert {r.k for r in c.read(spark).collect()} == {1, 2, 3, 9}
    # source vacuum (even with zero grace) cannot reclaim shared bytes
    t.expire_snapshots(keep_last=1)
    t.vacuum(grace_seconds=0)
    assert {r.k for r in c.read(spark).collect()} == {1, 2, 3, 9}
    with pytest.raises(FileExistsError):
        t.clone(str(tmp_path / "c"))


def test_txn_delete_query_lineage(spark):
    """q_txn_delete (registered r12): the driver-visible composition
    — raw create → dedup merge → OPTIMIZE → genuinely selective
    DELETE → expire_snapshots → vacuum — equals latest-wins minus
    the erased rows, with only the post-retention versions left."""
    import __spark_entry__ as entry
    from stock_market_data_pipeline_v2_spark.operators.upsert import merge_upsert
    from stock_market_data_pipeline_v2_spark.sources.io import load_table, memo

    sf = "/root/testdata/sf0.001"
    got = entry.queries()["txn_delete"](spark, sf)
    events = load_table(spark, sf, "events").select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    want = (
        merge_upsert(
            events,
            events.limit(0),
            keys=["user_id", "event_type"],
            version_col="ts",
            tiebreak_cols=["event_id"],
        )
        .filter(
            ~(
                F.col("user_id").between(10, 19)
                & (F.col("event_type") == "purchase")
            )
        )
        .select("user_id", "event_type", "ts", "event_id", "value")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    t = memo(
        spark, sf, "txn_delete", lambda: pytest.fail("txn_delete not memoized")
    )
    # retention kept exactly the last two versions (optimize, delete)
    assert [h["op"] for h in t.history()] == ["optimize", "delete"]
    assert t.manifest()["key_unique_on"] == ["user_id", "event_type"]
    # the delete was genuinely selective: optimize-layout files carried
    vs = t.versions()
    carried = set(t.manifest(vs[0])["files"]) & set(t.manifest(vs[1])["files"])
    assert carried, "selective delete must carry non-hit files"
    # vacuum ran: nothing unreferenced is left on disk
    assert t.staged_orphans() == []
