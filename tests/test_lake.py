"""LakeTable contract: atomic snapshots, incremental bucket rewrite,
schema evolution, idempotent commits."""

import os

from pyspark.sql import functions as F

from tests.conftest import FIELDS


def _mk(spark, tmp_path, buckets=8):
    from wal_listener_spark.lake.table import LakeTable

    return LakeTable.create(
        spark, str(tmp_path / "t"), ["repo", "path"], FIELDS, num_buckets=buckets
    )


def _changes(spark, rows):
    return spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, content string,"
        " lsn long, op string",
    )


def test_merge_upsert_delete_roundtrip(spark, tmp_path):
    tb = _mk(spark, tmp_path)
    tb.merge_batch(
        _changes(
            spark,
            [
                ("r1", "a.py", "c1", "py", "x1", 10, "I"),
                ("r1", "b.py", "c1", "py", "x2", 11, "I"),
            ],
        ),
        "b0",
        11,
    )
    tb.merge_batch(
        _changes(
            spark,
            [
                ("r1", "a.py", "c2", "py", "x1-new", 20, "U"),
                ("r1", "b.py", None, None, None, 21, "D"),
            ],
        ),
        "b1",
        21,
    )
    rows = {r["path"]: r.asDict() for r in tb.read_public().collect()}
    assert set(rows) == {"a.py"}
    assert rows["a.py"]["content"] == "x1-new"


def test_stale_lsn_is_noop(spark, tmp_path):
    """Per-key lsn-monotonic merge guard: replaying an older change must
    not regress the row (W1 watermark semantics, listener.go:426)."""
    tb = _mk(spark, tmp_path)
    tb.merge_batch(_changes(spark, [("r1", "a.py", "c2", "py", "new", 20, "I")]), "b0", 20)
    tb.merge_batch(_changes(spark, [("r1", "a.py", "c1", "py", "old", 10, "U")]), "b1", 21)
    rows = tb.read_public().collect()
    assert rows[0]["content"] == "new"


def test_toast_coalesce_keeps_target(spark, tmp_path):
    """NULL in a coalesce_col means TOAST-unchanged: target value wins
    (SURVEY.md §7 hard part (c))."""
    tb = _mk(spark, tmp_path)
    tb.merge_batch(_changes(spark, [("r1", "a.py", "c1", "py", "keepme", 10, "I")]), "b0", 10)
    tb.merge_batch(
        _changes(spark, [("r1", "a.py", "c2", "py", None, 20, "U")]),
        "b1",
        20,
        coalesce_cols=["content"],
    )
    row = tb.read_public().collect()[0]
    assert row["content"] == "keepme"
    assert row["commit"] == "c2"


def test_incremental_bucket_rewrite(spark, tmp_path):
    """A merge touching one key rewrites only that key's bucket —
    the 100TB-scale property (a 1% batch rewrites ~1% of files)."""
    tb = _mk(spark, tmp_path, buckets=8)
    rows = [(f"r{i}", f"f{i}.py", "c", "py", f"v{i}", 10 + i, "I") for i in range(64)]
    tb.merge_batch(_changes(spark, rows), "b0", 100)
    before = dict(tb.manifest["buckets"])
    stats = tb.merge_batch(
        _changes(spark, [("r1", "f1.py", "c", "py", "v1x", 200, "U")]), "b1", 200
    )
    assert len(stats["buckets_rewritten"]) == 1
    after = tb.manifest["buckets"]
    unchanged = [b for b in before if int(b) not in stats["buckets_rewritten"]]
    assert unchanged and all(before[b] == after[b] for b in unchanged)
    got = {r["path"]: r["content"] for r in tb.read_public().collect()}
    assert got["f1.py"] == "v1x" and len(got) == 64


def test_schema_evolution_adds_column(spark, tmp_path):
    """ensure_columns == Iceberg ALTER TABLE ADD COLUMN: old files read
    NULL for the new column (P4 Relation-driven evolution)."""
    tb = _mk(spark, tmp_path)
    tb.merge_batch(_changes(spark, [("r1", "a.py", "c1", "py", "x", 10, "I")]), "b0", 10)
    assert tb.ensure_columns([("stars", "int")])
    assert not tb.ensure_columns([("stars", "int")])  # idempotent
    chg = spark.createDataFrame(
        [("r2", "b.py", "c1", "py", "y", 5, 20, "I")],
        "repo string, path string, commit string, lang string, content string,"
        " stars int, lsn long, op string",
    )
    tb.merge_batch(chg, "b1", 20)
    rows = {r["path"]: r.asDict() for r in tb.read_public().collect()}
    assert rows["a.py"]["stars"] is None
    assert rows["b.py"]["stars"] == 5


def test_atomic_version_swap_and_load(spark, tmp_path):
    tb = _mk(spark, tmp_path)
    tb.merge_batch(_changes(spark, [("r1", "a.py", "c1", "py", "x", 10, "I")]), "b0", 10)
    vdir = os.path.join(str(tmp_path / "t"), "manifest")
    v = int(open(os.path.join(vdir, "VERSION")).read())
    assert os.path.exists(os.path.join(vdir, f"v{v}.json"))
    from wal_listener_spark.lake.table import LakeTable

    tb2 = LakeTable.load(spark, str(tmp_path / "t"))
    assert tb2.manifest["version"] == v
    assert tb2.last_applied_lsn == 10
    assert tb2.read_public().count() == 1


def test_lineage_records_per_commit(spark, tmp_path):
    tb = _mk(spark, tmp_path)
    tb.merge_batch(_changes(spark, [("r1", "a.py", "c1", "py", "x", 10, "I")]), "b0", 10)
    tb.merge_batch(_changes(spark, [("r1", "a.py", None, None, None, 20, "D")]), "b1", 20)
    lin = tb.lineage()
    assert [e["batch_key"] for e in lin] == ["b0", "b1"]
    assert lin[0]["upserts"] == 1 and lin[1]["deletes"] == 1
    assert all("buckets_rewritten" in e for e in lin)


def test_manifest_stays_bounded_over_many_epochs(spark, tmp_path, monkeypatch):
    """Retention-window + 10 epoch replay: committed_batches stays within
    the retention window, the manifest JSON does not grow O(epochs), and
    the full lineage stays queryable from the side file. The window is
    shrunk for the test — every pruning/no-op code path reads the module
    global at call time, so the property is identical at any width."""
    import os

    from wal_listener_spark.lake import table as table_mod
    from wal_listener_spark.lake.table import LakeTable

    monkeypatch.setattr(table_mod, "BATCH_KEY_RETENTION", 12)
    root = str(tmp_path / "t")
    tb = LakeTable.create(spark, root, ["k"], [("k", "string"), ("v", "string")], num_buckets=4)
    n_epochs = table_mod.BATCH_KEY_RETENTION + 10
    for e in range(n_epochs):
        chg = spark.createDataFrame(
            [(f"key{e % 7}", f"v{e}", 100 + e, "U")], "k string, v string, lsn long, op string"
        )
        tb = LakeTable.load(spark, root)
        tb.merge_batch(chg, batch_key=f"e{e}", high_lsn=100 + e)

    tb = LakeTable.load(spark, root)
    cb = tb.properties["committed_batches"]
    assert len(cb) == table_mod.BATCH_KEY_RETENTION
    # the retained keys are the newest (redelivery frontier)
    assert f"e{n_epochs - 1}" in cb and "e0" not in cb
    lineage = tb.lineage()
    assert len(lineage) == n_epochs  # full history preserved
    assert lineage[-1]["high_lsn"] == 100 + n_epochs - 1
    # manifest file itself is bounded (no lineage, pruned batch keys)
    v = tb.manifest["version"]
    size = os.path.getsize(os.path.join(root, "manifest", f"v{v}.json"))
    assert size < 20_000, f"manifest grew to {size}B"
    # an epoch inside the retention window still no-ops
    tb = LakeTable.load(spark, root)
    s = tb.merge_batch(
        spark.createDataFrame([("key0", "dup", 100, "U")], "k string, v string, lsn long, op string"),
        batch_key=f"e{n_epochs - 1}", high_lsn=100 + n_epochs - 1,
    )
    assert s["noop"] is True
    # a pruned epoch replays as a row-level no-op (state unchanged)
    tb = LakeTable.load(spark, root)
    before = sorted((r["k"], r["v"]) for r in tb.read_public().collect())
    tb.merge_batch(
        spark.createDataFrame([("key0", "v0", 100, "U")], "k string, v string, lsn long, op string"),
        batch_key="e0", high_lsn=100,
    )
    after = sorted(
        (r["k"], r["v"]) for r in LakeTable.load(spark, root).read_public().collect()
    )
    assert before == after


def test_time_travel_reads_old_snapshot(spark, tmp_path):
    """VERSION AS OF analog: load(root, version=N) sees exactly that
    snapshot's state; snapshots() lists what's still available."""
    from wal_listener_spark.lake.table import LakeTable

    root = str(tmp_path / "t")
    tb = LakeTable.create(spark, root, ["k"], [("k", "string"), ("v", "string")], num_buckets=4)
    tb.merge_batch(
        spark.createDataFrame([("a", "v1", 100, "I")], "k string, v string, lsn long, op string"),
        batch_key="e1", high_lsn=100,
    )
    v1 = LakeTable.load(spark, root).manifest["version"]
    tb = LakeTable.load(spark, root)
    tb.merge_batch(
        spark.createDataFrame([("a", "v2", 200, "U")], "k string, v string, lsn long, op string"),
        batch_key="e2", high_lsn=200,
    )
    now = {r["k"]: r["v"] for r in LakeTable.load(spark, root).read_public().collect()}
    old = {r["k"]: r["v"] for r in LakeTable.load(spark, root, version=v1).read_public().collect()}
    assert now == {"a": "v2"} and old == {"a": "v1"}
    assert v1 in LakeTable.snapshots(root)

    # expire old snapshots -> time travel window shrinks
    LakeTable.load(spark, root).expire_snapshots(keep_last=1)
    assert v1 not in LakeTable.snapshots(root)


def test_catalog_maintenance_all_tables(spark, tmp_path):
    from wal_listener_spark import pipeline
    from wal_listener_spark.config import PipelineConfig
    from wal_listener_spark.lake.catalog import LakeCatalog
    from wal_listener_spark.trace.generator import TRACE_SCHEMA

    rows = []
    for rel in (1, 2):
        rows.append((1 + rel, -1, 0, "R", rel, "public", f"t{rel}",
                     [("k", 25, True, -1), ("v", 25, False, -1)],
                     None, None, None, None, None))
        import datetime
        ts = datetime.datetime(2024, 1, 1)
        rows.append((100 * rel, rel, -1, "B", None, None, None, None, None, None, None, ts, None))
        rows.append((100 * rel + 1, rel, 0, "I", rel, None, None, None, None,
                     {"k": "a", "v": "x"}, [], None, None))
        rows.append((100 * rel + 2, rel, 99, "C", None, None, None, None, None, None, None, ts, None))
    cat = LakeCatalog.create(spark, str(tmp_path / "cat"), num_buckets=4)
    pipeline.replay_batch(
        spark.createDataFrame(rows, TRACE_SCHEMA), cat, PipelineConfig(num_buckets=4), "b0"
    )
    cat = LakeCatalog.load(spark, str(tmp_path / "cat"))
    res = cat.compact_all()
    assert set(res) == {"public_t1", "public_t2"}
    res2 = cat.expire_snapshots_all(keep_last=1)
    assert all(r["removed_manifests"] >= 0 for r in res2.values())
    assert cat.read_public().count() == 2


def test_committed_batches_pruned_by_recency(spark, tmp_path, monkeypatch):
    """The epoch no-op guard protects the foreachBatch redelivery
    frontier = the most RECENTLY committed epochs. Epochs arrive in
    arbitrary LSN order, so pruning must go by insertion recency — a
    high-LSN sort could evict the epoch that was just committed."""
    import wal_listener_spark.lake.table as lt

    monkeypatch.setattr(lt, "BATCH_KEY_RETENTION", 4)
    tb = _mk(spark, tmp_path)
    # descending high_lsn: recency order is the OPPOSITE of LSN order
    for i, hl in enumerate([100, 90, 80, 70, 60, 50]):
        tb.merge_batch(
            _changes(spark, [("r1", f"f{i}.py", "c", "py", "x", hl, "I")]),
            f"b{i}",
            hl,
        )
    cb = tb.properties["committed_batches"]
    assert list(cb) == ["b2", "b3", "b4", "b5"], cb
    # the just-committed epoch must no-op on redelivery
    st = tb.merge_batch(
        _changes(spark, [("r1", "f5.py", "c", "py", "x", 50, "I")]), "b5", 50
    )
    assert st["noop"] and st["reason"] == "replayed_epoch"


def test_failed_merge_does_not_leak_cache(spark, tmp_path):
    """merge_batch persists the change set on the selective path; a
    failure anywhere between that persist and the write (stats collect,
    target read, join analysis, parquet write) must still unpersist —
    a leaked cached frame lives in the executor cache for the session
    and foreachBatch retries pile leaks up."""
    import pytest

    from wal_listener_spark.lake.table import LakeTable

    tb = _mk(spark, tmp_path)

    def _n_cached():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    base = _n_cached()
    # failure AFTER the stats pre-pass: sabotage the target read
    orig_read = LakeTable.read
    try:
        LakeTable.read = lambda self, *a, **k: (_ for _ in ()).throw(
            RuntimeError("boom: target read failed")
        )
        with pytest.raises(RuntimeError, match="boom"):
            tb.merge_batch(
                _changes(spark, [("r1", "a.py", "c1", "py", "x", 10, "I")]),
                "bfail",
                10,
            )
    finally:
        LakeTable.read = orig_read
    assert _n_cached() == base, "cached change set leaked after failed merge"

    # and the same batch_key retries cleanly afterwards
    s = tb.merge_batch(
        _changes(spark, [("r1", "a.py", "c1", "py", "x", 10, "I")]), "bfail", 10
    )
    assert not s.get("noop")
    assert _n_cached() == base


def _delta_changes(spark, rows):
    """Merge-input shape incl. set markers, as both compaction paths
    emit: rows = (repo, path, commit, lang, content, set_content,
    setlsn_content, lsn, op). Unlisted value cols are set at the row
    lsn (commit/lang always sent; content may TOAST-skip)."""
    out = []
    for repo, path, commit, lang, content, set_c, setlsn_c, lsn, op in rows:
        out.append((
            repo, path, commit, lang, content,
            op != "D", None if op == "D" else lsn,
            op != "D", None if op == "D" else lsn,
            set_c, setlsn_c, lsn, op,
        ))
    return spark.createDataFrame(
        out,
        "repo string, path string, commit string, lang string,"
        " content string, __set_commit boolean, __setlsn_commit long,"
        " __set_lang boolean, __setlsn_lang long,"
        " __set_content boolean, __setlsn_content long, lsn long, op string",
    )


def test_delta_append_resolve_fold_maintenance(spark, tmp_path):
    """Merge-on-read lifecycle: delta commits resolve at read identically
    to the folded state; replayed delta epochs no-op; compact() folds
    pending deltas; expire_snapshots never drops a delta data dir a kept
    manifest still references."""
    from wal_listener_spark.lake.table import LakeTable

    tb = _mk(spark, tmp_path)
    root = tb.root
    # epoch d0: two inserts
    tb.append_delta(
        _delta_changes(spark, [
            ("r1", "p1", "c0", "en", "v0", True, 10, 10, "I"),
            ("r2", "p2", "c0", "en", "w0", True, 20, 20, "I"),
        ]),
        "d0", 20,
    )
    # replayed epoch is a manifest-level no-op
    tb = LakeTable.load(spark, root)
    assert tb.append_delta(_delta_changes(spark, []), "d0", 20)["noop"]
    # epoch d1: TOAST update on p1 (content unset), delete p2
    tb = LakeTable.load(spark, root)
    tb.append_delta(
        _delta_changes(spark, [
            ("r1", "p1", "c1", "en", None, False, None, 30, "U"),
            ("r2", "p2", None, None, None, False, None, 40, "D"),
        ]),
        "d1", 40,
    )
    tb = LakeTable.load(spark, root)
    assert tb.delta_count == 2
    got = {r["path"]: r.asDict() for r in tb.read_public().collect()}
    # TOAST carry-forward across delta generations; delete tombstoned
    assert set(got) == {"p1"}
    assert got["p1"]["commit"] == "c1" and got["p1"]["content"] == "v0"

    # out-of-order older epoch arriving AFTER: explicit content set at
    # lsn 25 must win over the TOAST-skip at 30 (column-level LWW)
    tb.append_delta(
        _delta_changes(spark, [
            ("r1", "p1", "cX", "en", "v25", True, 25, 25, "U"),
        ]),
        "d2", 40,
    )
    tb = LakeTable.load(spark, root)
    got = {r["path"]: r.asDict() for r in tb.read_public().collect()}
    assert got["p1"]["commit"] == "c1"  # lsn 30 row wins the column
    assert got["p1"]["content"] == "v25"  # 25 > TOAST (never set at 30)

    # compact() folds pending deltas, state unchanged, deltas cleared
    before = {r["path"]: r.asDict() for r in tb.read_public().collect()}
    tb.compact()
    tb = LakeTable.load(spark, root)
    assert tb.delta_count == 0
    after = {r["path"]: r.asDict() for r in tb.read_public().collect()}
    assert before == after

    # time-travel manifest still references its delta dirs: expire must
    # keep any data dir a kept snapshot lists (delta or bucket)
    tb.append_delta(
        _delta_changes(spark, [
            ("r1", "p1", "c9", "en", "v9", True, 99, 99, "U"),
        ]),
        "d3", 99,
    )
    tb = LakeTable.load(spark, root)
    tb.expire_snapshots(keep_last=2)
    tb = LakeTable.load(spark, root)
    got = {r["path"]: r.asDict() for r in tb.read_public().collect()}
    assert got["p1"]["content"] == "v9" and got["p1"]["commit"] == "c9"


def _rows_by_key(df):
    return {(r["repo"], r["path"]): r.asDict() for r in df.collect()}


def test_delta_rows_respect_truncate_watermark(spark, tmp_path):
    """A late pre-truncate delta row is dropped at read time exactly as
    the merge (and the fold) drop it: read_public agrees before and
    after fold_deltas."""
    from wal_listener_spark.lake.table import LakeTable

    tb = _mk(spark, tmp_path)
    root = tb.root
    tb.merge_batch(
        _changes(spark, [("r1", "a", "c1", "py", "x", 120, "I")]),
        "t0", 120, truncate_lsn=100,
    )
    tb = LakeTable.load(spark, root)
    tb.append_delta(
        _delta_changes(spark, [("r1", "b", "c0", "py", "y", True, 50, 50, "I")]),
        "d0", 50,
    )
    tb = LakeTable.load(spark, root)
    assert sorted(r["path"] for r in tb.read_public().collect()) == ["a"]
    tb.fold_deltas()
    tb = LakeTable.load(spark, root)
    assert tb.delta_count == 0
    assert sorted(r["path"] for r in tb.read_public().collect()) == ["a"]


def test_fold_preserves_read_state(spark, tmp_path):
    """fold_deltas() writes back exactly what the read path resolves:
    read_public() — and the full stored rows, __clsn_* included — are
    identical before and after the fold, over a populated base, TOAST
    carry-forward, out-of-order generations and delete-then-reinsert.
    Untouched buckets keep their files; only folded generations leave
    the manifest."""
    from wal_listener_spark.lake.table import LakeTable

    tb = _mk(spark, tmp_path, buckets=4)
    root = tb.root
    base = [(f"r{i % 3}", f"p{i}", "c0", "en", f"v{i}", 10 + i, "I") for i in range(12)]
    tb.merge_batch(_changes(spark, base), "m0", 40)
    gens = [
        # TOAST update (content unset) + delete of p1
        [("r0", "p0", "c1", "en", None, False, None, 100, "U"),
         ("r1", "p1", None, None, None, False, None, 101, "D")],
        # out of order: an older explicit content set lands after the
        # TOAST-skip at 100, and p2 updated
        [("r0", "p0", "cX", "en", "v90", True, 90, 90, "U"),
         ("r2", "p2", "c2", "en", "w2", True, 95, 95, "U")],
        # an INSERT over p3's live base row (a delete + reinsert
        # compacted within one epoch) and p1 reinserted after its delete
        [("r0", "p3", "c3", "de", "z3", True, 120, 120, "I"),
         ("r1", "p1", "c4", "fr", "z1", True, 130, 130, "I")],
        # a stale change older than p4's base row is a no-op
        [("r1", "p4", "cS", "en", "stale", True, 5, 5, "U")],
    ]
    for i, g in enumerate(gens):
        tb = LakeTable.load(spark, root)
        tb.append_delta(_delta_changes(spark, g), f"d{i}", 130)
    tb = LakeTable.load(spark, root)
    assert tb.delta_count == len(gens)
    public_before = _rows_by_key(tb.read_public())
    stored_before = _rows_by_key(tb.read())
    buckets_before = dict(tb.manifest["buckets"])

    stats = tb.fold_deltas()
    tb = LakeTable.load(spark, root)
    assert tb.delta_count == 0
    assert stats["folded_batches"] == [f"d{i}" for i in range(len(gens))]
    assert _rows_by_key(tb.read_public()) == public_before
    assert _rows_by_key(tb.read()) == stored_before
    for b, files in tb.manifest["buckets"].items():
        if int(b) not in stats["buckets_rewritten"]:
            assert files == buckets_before[b]
        else:
            assert len(files) == 1  # one file per rewritten bucket

    got = public_before
    assert got[("r0", "p0")]["commit"] == "c1"  # lsn 100 row wins
    assert got[("r0", "p0")]["content"] == "v90"  # explicit set > TOAST
    assert got[("r1", "p1")]["content"] == "z1"  # reinserted after delete
    assert got[("r1", "p4")]["content"] == "v4"  # stale update ignored


def test_background_fold_commits_with_next_delta(spark, tmp_path):
    """start_fold() folds a frozen manifest copy off-thread; the next
    append_delta commits the fold and its own delta as ONE snapshot,
    dropping only the folded generations. A fold resolved by
    commit_fold lands alone; an abandoned fold leaves an orphan dir
    that expire_snapshots reclaims."""
    from wal_listener_spark.lake.table import LakeTable

    tb = _mk(spark, tmp_path, buckets=4)
    root = tb.root
    tb.append_delta(
        _delta_changes(spark, [("r1", "p1", "c0", "en", "v0", True, 10, 10, "I")]),
        "d0", 10,
    )
    tb = LakeTable.load(spark, root)
    v = tb.manifest["version"]
    fold = tb.start_fold()
    stats = tb.append_delta(
        _delta_changes(spark, [("r2", "p2", "c1", "en", "w1", True, 20, 20, "I")]),
        "d1", 20, fold=fold,
    )
    assert stats["snapshot_version"] == v + 1
    assert stats["fold"]["folded_batches"] == ["d0"]
    tb = LakeTable.load(spark, root)
    assert [g["batch_key"] for g in tb.manifest["deltas"]] == ["d1"]
    assert sorted(r["path"] for r in tb.read_public().collect()) == ["p1", "p2"]
    assert tb.read(with_deltas=False).count() == 1  # p1 folded into base

    # a fold with no delta to share its snapshot commits alone
    fold = tb.start_fold()
    assert tb.commit_fold(fold)["snapshot_version"] == v + 2
    tb = LakeTable.load(spark, root)
    assert tb.delta_count == 0
    assert sorted(r["path"] for r in tb.read_public().collect()) == ["p1", "p2"]

    # abandoned: nothing committed, the fold's data dir is an orphan
    tb.append_delta(
        _delta_changes(spark, [("r3", "p3", "c2", "en", "x2", True, 30, 30, "I")]),
        "d2", 30,
    )
    tb = LakeTable.load(spark, root)
    dirs = set(os.listdir(os.path.join(root, "data")))
    tb.start_fold().abandon()
    orphan = set(os.listdir(os.path.join(root, "data"))) - dirs
    assert len(orphan) == 1 and "-fold-" in orphan.pop()
    assert LakeTable.load(spark, root).delta_count == 1
    tb.expire_snapshots(keep_last=1)
    assert not [d for d in os.listdir(os.path.join(root, "data")) if d not in dirs]
    assert sorted(
        r["path"] for r in LakeTable.load(spark, root).read_public().collect()
    ) == ["p1", "p2", "p3"]
