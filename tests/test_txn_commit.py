"""The TxnTable commit loop: every write verb serializes behind a
concurrent commit and carries the parent's fields it does not change,
every verb gives up after ``COMMIT_ATTEMPTS`` lost races, and a writer
killed mid-commit leaves either the parent or the new version — never a
half-committed table."""

import json
import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

from stock_market_data_pipeline_v2_spark.sources import txn_table as tt

REPO = Path(__file__).resolve().parent.parent
INTERLOPER_KEY = 100


def _rows(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, ver long")


def _base(spark, root):
    """v1 = key-unique create of k 1..8, v2 = a CHECK constraint."""
    t = tt.TxnTable.create(
        spark, root, _rows(spark, [(k, f"v{k}", 1) for k in range(1, 9)]),
        keys=["k"],
    )
    t.add_constraint(spark, "k_pos", "k > 0")
    return t


# verb -> (committed op, call on a table at _base's v2)
VERBS = {
    "append": ("append", lambda s, t: t.append(s, _rows(s, [(9, "a", 1)]))),
    "merge": ("merge", lambda s, t: t.merge(
        s, _rows(s, [(2, "B", 2)]), keys=["k"], version_col="ver"
    )),
    "delete": ("delete", lambda s, t: t.delete(s, "k <= 3")),
    "update": ("update", lambda s, t: t.update(s, "k = 1", {"v": "'X'"})),
    "evolve_schema": ("evolve-schema", lambda s, t: t.evolve_schema(
        s, [("score", "double")]
    )),
    "add_constraint": ("add-constraint", lambda s, t: t.add_constraint(
        s, "v_set", "v is not null"
    )),
    "drop_constraint": ("drop-constraint", lambda s, t: t.drop_constraint("k_pos")),
    "restore": ("restore", lambda s, t: t.restore(1)),
    "optimize": ("optimize", lambda s, t: t.optimize(s, "k", n_files=2)),
    "optimize_zorder": ("optimize", lambda s, t: t.optimize_zorder(
        s, [("k", 0, 127), ("ver", 0, 7)], n_files=2
    )),
    "commit_stream_batch": ("stream-append", lambda s, t: t.commit_stream_batch(
        s, _rows(s, [(9, "s", 1)]), "app", 0
    )),
}


@pytest.mark.parametrize("verb", sorted(VERBS))
def test_every_verb_serializes_behind_a_concurrent_commit(spark, tmp_path, verb):
    """The verb's first commit attempt loses to an interloper stream
    append; the retry commits onto the interloper's version, keeps its
    row wherever the verb's semantics keep rows (restore re-targets its
    snapshot), and carries its exactly-once watermark."""
    op, call = VERBS[verb]
    root = str(tmp_path / "t")
    _base(spark, root)
    raced = []

    class Raced(tt.TxnTable):
        def _try_commit(self, parent, files, op, schema, **kw):
            if not raced:
                raced.append(tt.TxnTable(self.root).commit_stream_batch(
                    spark, _rows(spark, [(INTERLOPER_KEY, "i", 1)]),
                    "interloper", 0,
                ))
            return super()._try_commit(parent, files, op, schema, **kw)

    v = call(spark, Raced(root))
    t = tt.TxnTable(root)
    m = t.manifest(v)
    assert raced == [3]
    assert (m["op"], m["parent"]) == (op, 3)
    assert m["txn"]["interloper"] == 0
    keys = {r.k for r in t.read(spark).collect()}
    assert (INTERLOPER_KEY in keys) == (verb != "restore"), keys
    if verb == "restore":
        assert keys == set(range(1, 9)) and m["constraints"] == {}
        assert m["key_unique_on"] == ["k"]
    else:
        assert m["key_unique_on"] == (["k"] if verb == "merge" else None)


def test_stream_batch_replayed_by_the_winner_is_a_no_op(spark, tmp_path):
    """A stream batch whose id the interloper committed while it was
    staging returns None on the retry and commits nothing."""
    root = str(tmp_path / "t")
    _base(spark, root)
    raced = []

    class Raced(tt.TxnTable):
        def _try_commit(self, parent, files, op, schema, **kw):
            if not raced:
                raced.append(tt.TxnTable(self.root).commit_stream_batch(
                    spark, _rows(spark, [(INTERLOPER_KEY, "i", 1)]), "app", 0
                ))
            return super()._try_commit(parent, files, op, schema, **kw)

    got = Raced(root).commit_stream_batch(spark, _rows(spark, [(9, "s", 1)]), "app", 0)
    t = tt.TxnTable(root)
    assert got is None and raced == [3] and t.latest_version() == 3
    assert {r.k for r in t.read(spark).collect()} == {*range(1, 9), INTERLOPER_KEY}


@pytest.mark.parametrize("verb", sorted(VERBS))
def test_every_verb_gives_up_after_commit_attempts(spark, tmp_path, verb):
    """Against a table whose every version slot is always taken, each
    verb makes exactly COMMIT_ATTEMPTS attempts, then raises
    CommitConflict naming its op, and commits nothing."""
    op, call = VERBS[verb]
    root = str(tmp_path / "t")
    _base(spark, root)
    attempts = []

    class Contended(tt.TxnTable):
        def _try_commit(self, parent, files, op, schema, **kw):
            attempts.append(parent)
            raise tt.CommitConflict(f"version {parent + 1} already committed")

    with pytest.raises(tt.CommitConflict, match=f"^{op} gave up after "):
        call(spark, Contended(root))
    assert attempts == [2] * tt.COMMIT_ATTEMPTS
    assert tt.TxnTable(root).latest_version() == 2


# Commits the staged files through _try_commit in a process with no
# JVM, and dies (os._exit) at the point named by argv[2].
_KILLED_WRITER = textwrap.dedent("""
    import json, os, sys
    from stock_market_data_pipeline_v2_spark.sources import txn_table as tt

    root, point, files = sys.argv[1], sys.argv[2], json.loads(sys.argv[3])
    t = tt.TxnTable(root)
    parent = t.latest_version()
    m = t.manifest(parent)
    if point == "before_link":
        os.link = lambda *a: os._exit(17)
    else:
        tt.TxnTable._update_hint = lambda self, v: os._exit(17)
    t._try_commit(
        parent, m["files"] + files, "append", m["schema"],
        stats=m["stats"], txn=m["txn"], constraints=m["constraints"],
    )
    sys.exit("the commit was not interrupted")
""")


@pytest.mark.parametrize("point", ["before_link", "before_hint"])
def test_interrupted_commit_leaves_parent_or_new_version(spark, tmp_path, point):
    """A writer killed after fsyncing its temp manifest but before the
    link leaves the parent visible, its staged files orphaned and its
    temp manifest behind; one killed after the link but before the hint
    update has committed (the hint is only a lower bound). Either way
    vacuum(grace_seconds=0) leaves only referenced files."""
    root = str(tmp_path / "t")
    t = tt.TxnTable.create(spark, root, _rows(spark, [(1, "a", 1)]))
    files, _stats = t._stage(_rows(spark, [(2, "b", 1)]))
    proc = subprocess.run(
        [sys.executable, "-c", _KILLED_WRITER, root, point, json.dumps(files)],
        cwd=REPO, env={**os.environ, "PYTHONPATH": str(REPO)},
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 17, proc.stderr
    temps = [n for n in os.listdir(t._versions_dir) if n.startswith(".tmp-")]
    with open(t._hint_path) as fh:
        assert fh.read().strip() == "1"
    if point == "before_link":
        assert t.latest_version() == 1
        assert {r.k for r in t.read(spark).collect()} == {1}
        assert t.staged_orphans() == sorted(files)
        assert len(temps) == 1
        assert t.vacuum(grace_seconds=0) == len(files) + 1
    else:
        assert t.latest_version() == 2
        assert {r.k for r in t.read(spark).collect()} == {1, 2}
        assert t.staged_orphans() == []
        assert temps == []
        assert t.vacuum(grace_seconds=0) == 0
    assert t.staged_orphans() == []
    assert [n for n in os.listdir(t._versions_dir) if n.startswith(".tmp-")] == []
    assert {r.k for r in t.read(spark).collect()} == (
        {1} if point == "before_link" else {1, 2}
    )
