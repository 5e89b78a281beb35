"""Round 11: transactional-table hardening (VERDICT r10 "What's
wrong" #1/#2 + next-round #3/#4/#5) — key-uniqueness-gated selective
merge, OPTIMIZE re-clustering, vacuum retention grace, and the
idempotent streaming sink."""

import os

import pytest
from pyspark.sql import functions as F


def _rows(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, ver long")


def _read(spark, t, version=None):
    return sorted(tuple(r) for r in t.read(spark, version).collect())


def test_txn_zone_map_duplicate_key_base_falls_back(spark, tmp_path):
    """THE r10 latent bug (VERDICT r10 "What's wrong" #1): a
    duplicate-key base, range-clustered so a narrow update's zone map
    would skip the low-key file, must NOT take the selective path —
    pre-fix, the skipped file's duplicate/stale keys survived and the
    end state diverged from full copy-on-write."""
    from stock_market_data_pipeline_v2_spark.sources.txn_table import TxnTable

    # keys 1..4 DUPLICATED (two versions each), clustered: file 1 =
    # low keys, file 2 = high keys
    dup_base = _rows(
        spark,
        [(k, f"old{k}", 1) for k in range(1, 9)]
        + [(k, f"new{k}", 2) for k in range(1, 5)],
    ).repartitionByRange(2, "k")
    t = TxnTable.create(
        spark, str(tmp_path / "t"), dup_base, zone_map_col="k"
    )
    assert t.manifest()["key_unique_on"] is None
    m1 = t.manifest()
    # update touches ONLY the high range — a zone map would skip the
    # low-key file, carrying its duplicates forward
    t.merge(
        spark,
        _rows(spark, [(8, "V8", 3)]),
        keys=["k"],
        version_col="ver",
        zone_map_col="k",
    )
    m2 = t.manifest()
    # fallback = full rewrite: nothing carried forward
    assert not (set(m1["files"]) & set(m2["files"]))
    # and the merge re-established the uniqueness claim
    assert m2["key_unique_on"] == ["k"]
    # end state == full-COW twin (latest-wins, duplicates collapsed)
    twin = TxnTable.create(spark, str(tmp_path / "twin"), dup_base)
    twin.merge(spark, _rows(spark, [(8, "V8", 3)]), keys=["k"], version_col="ver")
    assert _read(spark, t) == _read(spark, twin)
    latest = {r.k: r.v for r in t.read(spark).collect()}
    assert latest == {1: "new1", 2: "new2", 3: "new3", 4: "new4",
                      5: "old5", 6: "old6", 7: "old7", 8: "V8"}


def test_txn_create_keys_verified_and_append_clears_claim(spark, tmp_path):
    """create(keys=...) VERIFIES the uniqueness claim (a lying caller
    fails loudly); append drops the claim, forcing the next
    zone-mapped merge back to full COW."""
    import pytest

    from stock_market_data_pipeline_v2_spark.sources.txn_table import TxnTable

    with pytest.raises(ValueError, match="key-unique"):
        TxnTable.create(
            spark,
            str(tmp_path / "bad"),
            _rows(spark, [(1, "a", 1), (1, "b", 2)]),
            keys=["k"],
        )

    base = _rows(spark, [(k, f"v{k}", 1) for k in range(1, 9)]).repartitionByRange(2, "k")
    t = TxnTable.create(
        spark, str(tmp_path / "t"), base, zone_map_col="k", keys=["k"]
    )
    assert t.manifest()["key_unique_on"] == ["k"]
    t.append(spark, _rows(spark, [(2, "dup", 2)]), zone_map_col="k")
    assert t.manifest()["key_unique_on"] is None
    m_before = t.manifest()
    t.merge(
        spark,
        _rows(spark, [(8, "V8", 3)]),
        keys=["k"],
        version_col="ver",
        zone_map_col="k",
    )
    m_after = t.manifest()
    # post-append merge must be a full rewrite (no carried files)...
    assert not (set(m_before["files"]) & set(m_after["files"]))
    # ...which collapses the appended duplicate by latest-wins
    latest = {r.k: r.v for r in t.read(spark).collect()}
    assert latest[2] == "dup" and latest[8] == "V8"
    assert m_after["key_unique_on"] == ["k"]


def test_txn_optimize_clusters_and_selective_merge_skips(spark, tmp_path):
    """The production lineage: raw (duplicate-key) create → full-COW
    merge (establishes uniqueness) → OPTIMIZE (range-disjoint files)
    → narrow merge that GENUINELY skips files — end state still
    identical to full COW, rows unchanged by optimize."""
    from stock_market_data_pipeline_v2_spark.sources.txn_table import TxnTable

    dup_base = _rows(
        spark,
        [(k, f"old{k}", 1) for k in range(1, 33)]
        + [(k, f"mid{k}", 2) for k in range(1, 17)],
    )
    t = TxnTable.create(spark, str(tmp_path / "t"), dup_base, zone_map_col="k")
    t.merge(
        spark,
        _rows(spark, [(1, "m1", 3)]),
        keys=["k"],
        version_col="ver",
        zone_map_col="k",
    )
    before_opt = _read(spark, t)
    v_opt = t.optimize(spark, cluster_col="k", n_files=4)
    m_opt = t.manifest(v_opt)
    assert m_opt["op"] == "optimize"
    assert m_opt["key_unique_on"] == ["k"]  # carried through
    assert _read(spark, t) == before_opt  # rows unchanged
    # every file has a recorded zone map, and ranges are disjoint
    stats = [tuple(m_opt["stats"][f]["k"]) for f in m_opt["files"]]
    assert len(stats) == len(m_opt["files"]) and len(stats) > 1
    spans = sorted(stats)
    assert all(a[1] < b[0] for a, b in zip(spans, spans[1:]))
    # narrow update → selective merge skips the non-intersecting files
    t.merge(
        spark,
        _rows(spark, [(32, "V32", 4), (40, "new", 4)]),
        keys=["k"],
        version_col="ver",
        zone_map_col="k",
    )
    m2 = t.manifest()
    carried = set(m_opt["files"]) & set(m2["files"])
    rewritten = set(m_opt["files"]) - set(m2["files"])
    assert carried and rewritten, "optimize must enable genuine skipping"
    # end state == a full-COW twin of the same operation sequence
    twin = TxnTable.create(spark, str(tmp_path / "twin"), dup_base)
    twin.merge(spark, _rows(spark, [(1, "m1", 3)]), keys=["k"], version_col="ver")
    twin.merge(
        spark,
        _rows(spark, [(32, "V32", 4), (40, "new", 4)]),
        keys=["k"],
        version_col="ver",
    )
    assert _read(spark, t) == _read(spark, twin)


def test_txn_vacuum_grace_protects_inflight_writer(spark, tmp_path):
    """vacuum's retention grace (VERDICT r10 "What's wrong" #2): a
    LIVE writer's staged-but-uncommitted files survive a default
    vacuum running in the stage→commit window, and its commit then
    reads cleanly; grace_seconds=0 reclaims dead stagings."""
    from stock_market_data_pipeline_v2_spark.sources import txn_table as tt

    root = str(tmp_path / "t")
    t = tt.TxnTable.create(spark, root, _rows(spark, [(1, "a", 1)]))

    class VacuumedMidFlight(tt.TxnTable):
        def _stage(self, df, stats_col=None):
            out = super()._stage(df, stats_col=stats_col)
            # a maintenance vacuum fires between stage and commit
            tt.TxnTable(self.root).vacuum()  # default grace
            return out

    writer = VacuumedMidFlight(root)
    v = writer.append(spark, _rows(spark, [(2, "b", 1)]))
    # the commit's files survived the concurrent vacuum
    assert {r.k for r in t.read(spark, v).collect()} == {1, 2}

    # dead orphan: invisible to readers, reclaimed only past grace
    t._stage(_rows(spark, [(99, "orphan", 1)]))
    n_files = lambda: sum(len(fs) for _, _, fs in os.walk(t._data_dir))  # noqa: E731
    before = n_files()
    assert t.vacuum() == 0, "fresh staging must survive the grace window"
    assert n_files() == before
    assert t.vacuum(grace_seconds=0) >= 1
    assert n_files() < before
    assert {r.k for r in t.read(spark).collect()} == {1, 2}


def test_txn_stream_batch_commit_idempotent(spark, tmp_path):
    """commit_stream_batch: per-app txn watermark in the manifest —
    replays are no-ops, distinct apps don't interfere, the watermark
    survives unrelated commits."""
    from stock_market_data_pipeline_v2_spark.sources.txn_table import TxnTable

    t = TxnTable.create(
        spark, str(tmp_path / "t"), _rows(spark, []).limit(0)
    )
    assert t.commit_stream_batch(spark, _rows(spark, [(1, "a", 1)]), "app", 0)
    assert t.commit_stream_batch(spark, _rows(spark, [(2, "b", 1)]), "app", 1)
    # replay of batch 1 → skipped
    assert t.commit_stream_batch(spark, _rows(spark, [(2, "b", 1)]), "app", 1) is None
    # an unrelated merge carries the watermark forward
    t.merge(spark, _rows(spark, [(2, "B", 2)]), keys=["k"], version_col="ver")
    assert t.last_committed_batch("app") == 1
    assert t.commit_stream_batch(spark, _rows(spark, [(1, "a", 1)]), "app", 1) is None
    # a different app has its own watermark
    assert t.commit_stream_batch(spark, _rows(spark, [(3, "c", 1)]), "other", 0)
    assert {r.k: r.v for r in t.read(spark).collect()} == {1: "a", 2: "B", 3: "c"}


def test_txn_sink_stream_exactly_once_across_restart(spark, tmp_path):
    """The real readStream→foreachBatch path: ticks dropped as files,
    committed per micro-batch through the manifest protocol; a
    restart with a second drop neither re-commits batch 0 nor drops
    batch 1 — exactly-once table state."""
    import json

    from stock_market_data_pipeline_v2_spark.sources.txn_table import TxnTable
    from stock_market_data_pipeline_v2_spark.streaming.jobs import (
        read_tick_stream,
        start_txn_sink_stream,
    )

    src = tmp_path / "drop"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def drop(name, rows):
        (src / name).write_text("\n".join(json.dumps(r) for r in rows))

    def tick(sym, minute, price):
        return {
            "symbol": sym,
            "timestamp": f"2024-01-01 09:{minute:02d}:00",
            "price": price,
            "volume": 10,
        }

    drop("b1.json", [tick("AAPL", 1, 100.0), tick("MSFT", 2, 200.0)])
    # pin the schema with an empty create (batch twin of the stream's
    # post-transform schema; streaming frames can't seed a batch write)
    stream_schema = read_tick_stream(spark, str(src)).schema
    t = TxnTable.create(
        spark, str(tmp_path / "t"), spark.createDataFrame([], stream_schema)
    )

    q = start_txn_sink_stream(spark, str(src), t, ckpt, app_id="ticks")
    q.awaitTermination(120)
    first = {r.symbol for r in t.read(spark).collect()}
    assert first == {"AAPL", "MSFT"}
    assert t.last_committed_batch("ticks") >= 0

    drop("b2.json", [tick("GOOG", 3, 300.0)])
    q2 = start_txn_sink_stream(spark, str(src), t, ckpt, app_id="ticks")
    q2.awaitTermination(120)
    rows = t.read(spark).collect()
    assert len(rows) == 3, "batch 1 must not be re-committed"
    assert {r.symbol for r in rows} == {"AAPL", "MSFT", "GOOG"}
    # snapshot history shows stream-append commits, watermark advanced
    assert t.last_committed_batch("ticks") >= 1
    assert "stream-append" in {h["op"] for h in t.history()}


def test_txn_latest_hint_is_a_lower_bound_not_a_dependency(spark, tmp_path):
    """latest_version resolves O(1) off the _latest_hint pointer, but
    the hint is only ever a hint: stale, missing, or corrupt hints
    all still resolve the true latest (forward probe / listdir
    fallback), so a writer dying between link and hint update can
    never wedge readers."""
    import os

    from stock_market_data_pipeline_v2_spark.sources.txn_table import TxnTable

    root = str(tmp_path / "t")
    t = TxnTable.create(spark, root, _rows(spark, [(1, "a", 1)]))
    t.append(spark, _rows(spark, [(2, "b", 1)]))
    t.append(spark, _rows(spark, [(3, "c", 1)]))
    assert t.latest_version() == 3
    # stale hint (writer died before updating it) → forward probe
    with open(t._hint_path, "w") as fh:
        fh.write("1")
    assert t.latest_version() == 3
    # corrupt hint → listdir fallback
    with open(t._hint_path, "w") as fh:
        fh.write("not-a-version")
    assert t.latest_version() == 3
    # missing hint → listdir fallback
    os.unlink(t._hint_path)
    assert t.latest_version() == 3
    # and the next commit restores it
    t.append(spark, _rows(spark, [(4, "d", 1)]))
    with open(t._hint_path) as fh:
        assert fh.read().strip() == "4"


def test_txn_append_schema_guard(spark, tmp_path):
    """A drifted-schema append must fail loudly instead of silently
    committing a mixed-schema snapshot; column ORDER and nullability
    differences are not drift."""
    import pytest

    from pyspark.sql import functions as F
    from stock_market_data_pipeline_v2_spark.sources.txn_table import TxnTable

    t = TxnTable.create(
        spark, str(tmp_path / "t"), _rows(spark, [(1, "a", 1)])
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(
            spark,
            spark.createDataFrame([(2, "b", 1, 0.5)], "k long, v string, ver long, extra double"),
        )
    with pytest.raises(ValueError, match="schema mismatch"):
        t.commit_stream_batch(
            spark,
            spark.createDataFrame([(2, "b")], "k long, v string"),
            "app",
            0,
        )
    # reordered columns are the same schema (parquet reads by name)
    v = t.append(
        spark, _rows(spark, [(2, "b", 1)]).select("ver", "v", "k")
    )
    assert {r.k for r in t.read(spark, v).select("k").collect()} == {1, 2}


def test_txn_time_travel_query_matches_prefix_merge(spark):
    """q_txn_time_travel (registered r11): the pinned version-2 read
    equals merge_upsert over only the first two event batches — the
    snapshot that existed before optimize + the second merge."""
    import __spark_entry__ as entry
    from stock_market_data_pipeline_v2_spark.operators.upsert import merge_upsert
    from stock_market_data_pipeline_v2_spark.sources.io import load_table, memo

    sf = "/root/testdata/sf0.001"
    got = entry.queries()["txn_time_travel"](spark, sf)
    events = load_table(spark, sf, "events").select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    c1 = F.lit("2024-01-12").cast("timestamp")
    c2 = F.lit("2024-01-20").cast("timestamp")
    want = merge_upsert(
        events.filter(F.col("ts") < c1),
        events.filter((F.col("ts") >= c1) & (F.col("ts") < c2)),
        keys=["user_id", "event_type"],
        version_col="ts",
        tiebreak_cols=["event_id"],
    ).select("user_id", "event_type", "ts", "event_id", "value")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # and the demo lineage is what the docstring claims
    t = memo(spark, sf, "txn_demo", lambda: pytest.fail("txn_demo not memoized"))
    assert [h["op"] for h in t.history()] == [
        "create", "merge", "optimize", "merge", "optimize"
    ]
    # v1 (raw create) makes no uniqueness claim; v2+ do
    assert t.manifest(1)["key_unique_on"] is None
    assert t.manifest(2)["key_unique_on"] == ["user_id", "event_type"]
    assert t.manifest(3)["key_unique_on"] == ["user_id", "event_type"]
    assert t.manifest(5)["key_unique_on"] == ["user_id", "event_type"]
    # the registered pruned read genuinely skips files and equals
    # read-then-filter on the same snapshot
    kept, total = t.prune_files("user_id", 0, 9)
    assert len(kept) < total
    pruned = entry.queries()["txn_pruned_read"](spark, sf)
    filtered = t.read(spark).filter(
        (F.col("user_id") >= 0) & (F.col("user_id") <= 9)
    ).select("user_id", "event_type", "ts", "event_id", "value")
    assert sorted(map(tuple, pruned.collect())) == sorted(
        map(tuple, filtered.collect())
    )


def test_txn_optimize_zorder_prunes_on_both_dimensions(spark, tmp_path):
    """OPTIMIZE ZORDER: after re-clustering by the Morton z-value of
    (k, w), a pruned read on EITHER column genuinely skips files —
    the multi-dimensional layout a 1-D sort cannot give (sorting on k
    leaves every file's w envelope spanning the full domain). Rows
    unchanged; a later zone-mapped merge on k still works off the
    multi-column zone maps."""
    from stock_market_data_pipeline_v2_spark.sources.txn_table import TxnTable

    # 1024 points on a 32x32 grid: k row-major, w column-major — the
    # adversarial case for any single-column sort
    rows = [(k, (k * 37) % 32, f"v{k}", 1) for k in range(1024)]
    df = spark.createDataFrame(rows, "k long, w long, v string, ver long")
    t = TxnTable.create(spark, str(tmp_path / "t"), df, keys=["k"])
    before = sorted(tuple(r) for r in t.read(spark).collect())
    v = t.optimize_zorder(
        spark, specs=[("k", 0, 1023), ("w", 0, 31)], n_files=8
    )
    m = t.manifest(v)
    assert m["op"] == "optimize" and m["key_unique_on"] == ["k"]
    assert sorted(tuple(r) for r in t.read(spark).collect()) == before
    # both dimensions carry zone maps on every file
    assert all(
        set(m["stats"][f]) == {"k", "w"} for f in m["files"]
    )
    # a narrow box on EACH dimension skips files
    kept_k, total = t.prune_files("k", 0, 63)
    kept_w, _ = t.prune_files("w", 0, 3)
    assert total == len(m["files"]) > 1
    assert len(kept_k) < total, "k-range must prune"
    assert len(kept_w) < total, "w-range must prune"
    # pruned reads equal read-then-filter on both dimensions
    for col, lo, hi in (("k", 0, 63), ("w", 0, 3)):
        got = sorted(
            tuple(r) for r in t.read_pruned(spark, col, lo, hi).collect()
        )
        want = sorted(
            tuple(r)
            for r in t.read(spark)
            .filter(f"{col} >= {lo} and {col} <= {hi}")
            .collect()
        )
        assert got == want, col
    # the zone-mapped merge path still rides the multi-column maps
    t.merge(
        spark,
        spark.createDataFrame([(5, 99, "V5", 2)], "k long, w long, v string, ver long"),
        keys=["k"],
        version_col="ver",
        zone_map_col="k",
    )
    m2 = t.manifest()
    assert set(m["files"]) & set(m2["files"]), "non-hit z-files carried"
    assert {r.v for r in t.read(spark).filter("k = 5").collect()} == {"V5"}
