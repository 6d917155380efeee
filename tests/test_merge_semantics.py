"""Cross-epoch merge semantics the round-1 advisor flagged:

1. an UPDATE that explicitly sets a TOASTable column to SQL NULL must
   land as NULL — not be resurrected from the target by the TOAST
   coalesce (explicit 'n' cell vs 'u' cell, parser.go:325-344);
2. non-text key OIDs must hash into the same bucket on the change side
   (compact_agg, raw text cells) and the target side (typed stored
   columns) — otherwise the prebucketed merge join misses matches and
   duplicates keys.

Both run the full replay_batch path across TWO epochs so the merge (not
just batch-local compaction with ``compact_agg``) is exercised.
"""

import datetime

from wal_listener_spark import pipeline
from wal_listener_spark.config import PipelineConfig
from wal_listener_spark.lake.table import LakeTable
from wal_listener_spark.trace.generator import TRACE_SCHEMA

TS = datetime.datetime(2024, 1, 1)


def _rel(lsn, rel_id, name, cols):
    """cols: list of (name, oid, is_key)."""
    return (
        lsn, -1, 0, "R", rel_id, "public", name,
        [(n, oid, k, -1) for n, oid, k in cols],
        None, None, None, None, None,
    )


def _tx(rows, tx, rel_id, lsn0, op, new_vals, old_vals=None, toast=()):
    rows.append((lsn0, tx, -1, "B", None, None, None, None, None, None, None, TS, None))
    rows.append(
        (lsn0 + 1, tx, 0, op, rel_id, None, None, None, old_vals, new_vals,
         list(toast), None, None)
    )
    rows.append((lsn0 + 2, tx, 99, "C", None, None, None, None, None, None, None, TS, None))


REL_TEXT = [("k", 25, True), ("content", 25, False), ("note", 25, False)]


def _replay(spark, root, rows, key_cols, fields, batch_key):
    trace = spark.createDataFrame(rows, TRACE_SCHEMA)
    tb = LakeTable.create(spark, root, key_cols, fields, num_buckets=4)
    stats = pipeline.replay_batch(trace, tb, PipelineConfig(num_buckets=4), batch_key)
    return stats


def test_update_to_explicit_null_crosses_epochs(spark, tmp_path):
    root = str(tmp_path / "t")
    fields = [("k", "string"), ("content", "string"), ("note", "string")]

    # epoch 1: INSERT sets both value columns
    rows1 = [_rel(1, 1, "repos", REL_TEXT)]
    _tx(rows1, 10, 1, 100, "I", {"k": "a", "content": "c1", "note": "n1"})
    _replay(spark, root, rows1, ["k"], fields, "e1")

    # epoch 2: UPDATE with content = explicit SQL NULL ('n' cell ->
    # present in the map with a null value) and note TOASTed ('u' cell ->
    # absent + listed in toast_cols)
    rows2 = [_rel(1, 1, "repos", REL_TEXT)]
    _tx(
        rows2, 11, 1, 200, "U",
        {"k": "a", "content": None},
        old_vals={"k": "a"},
        toast=["note"],
    )
    trace2 = spark.createDataFrame(rows2, TRACE_SCHEMA)
    tb = LakeTable.load(spark, root)
    pipeline.replay_batch(trace2, tb, PipelineConfig(num_buckets=4), "e2")

    got = LakeTable.load(spark, root).read_public().collect()
    assert len(got) == 1
    row = got[0].asDict()
    assert row["content"] is None, "explicit UPDATE-to-NULL must not resurrect"
    assert row["note"] == "n1", "TOAST 'u' column must keep the target value"


def test_int_and_uuid_keys_bucket_consistently(spark, tmp_path):
    """Two epochs upserting the SAME int+uuid key must merge, not
    duplicate (change-side bucket hashed over typed/cast values)."""
    rel = [("id", 23, True), ("uid", 2950, True), ("content", 25, False)]
    fields = [("id", "int"), ("uid", "string"), ("content", "string")]
    root = str(tmp_path / "t")

    uid_mixed = "ABCDEF12-3456-7890-ABCD-EF1234567890"  # upper on the wire
    rows1 = [_rel(1, 1, "items", rel)]
    for i in range(6):
        _tx(rows1, 10 + i, 1, 100 + 10 * i, "I",
            {"id": str(i), "uid": uid_mixed, "content": f"v1-{i}"})
    _replay(spark, root, rows1, ["id", "uid"], fields, "e1")

    rows2 = [_rel(1, 1, "items", rel)]
    for i in range(6):
        _tx(rows2, 30 + i, 1, 400 + 10 * i, "U",
            {"id": str(i), "uid": uid_mixed.lower(), "content": f"v2-{i}"},
            old_vals={"id": str(i), "uid": uid_mixed.lower()})
    trace2 = spark.createDataFrame(rows2, TRACE_SCHEMA)
    tb = LakeTable.load(spark, root)
    pipeline.replay_batch(trace2, tb, PipelineConfig(num_buckets=4), "e2")

    got = LakeTable.load(spark, root).read_public().collect()
    assert len(got) == 6, f"expected 6 merged keys, got {len(got)} (dup keys?)"
    assert all(r["content"].startswith("v2-") for r in got)
    assert all(r["uid"] == uid_mixed.lower() for r in got)


def test_toast_epoch_applied_before_its_setter(spark, tmp_path):
    """Out-of-order epochs + TOAST: the LATER epoch (whose UPDATE
    TOAST-skips `content`) applies FIRST; when the earlier epoch (the
    INSERT that set content) arrives, column-level LWW must keep the
    newer note AND fill in the older content — pure row-level LWW would
    discard it forever."""
    root = str(tmp_path / "t")
    fields = [("k", "string"), ("content", "string"), ("note", "string")]
    LakeTable.create(spark, root, ["k"], fields, num_buckets=4)
    cfg = PipelineConfig(num_buckets=4)

    # epoch 2 (later LSNs) first: UPDATE with content TOASTed
    rows2 = [_rel(1, 1, "repos", REL_TEXT)]
    _tx(rows2, 20, 1, 200, "U", {"k": "a", "note": "n2"},
        old_vals={"k": "a"}, toast=["content"])
    pipeline.replay_batch(
        spark.createDataFrame(rows2, TRACE_SCHEMA),
        LakeTable.load(spark, root), cfg, "e2",
    )

    # epoch 1 (earlier LSNs) second: the INSERT that set content
    rows1 = [_rel(1, 1, "repos", REL_TEXT)]
    _tx(rows1, 10, 1, 100, "I", {"k": "a", "content": "c1", "note": "n1"})
    pipeline.replay_batch(
        spark.createDataFrame(rows1, TRACE_SCHEMA),
        LakeTable.load(spark, root), cfg, "e1",
    )

    got = LakeTable.load(spark, root).read_public().collect()
    assert len(got) == 1
    row = got[0].asDict()
    assert row["note"] == "n2", "newer epoch's note must win"
    assert row["content"] == "c1", (
        "older epoch's explicit content must survive the TOAST skip"
    )


def test_losing_delete_does_not_clear_newer_row(spark, tmp_path):
    """A DELETE from an older epoch arriving after a newer re-INSERT must
    not clear columns or resurrect the tombstone."""
    root = str(tmp_path / "t")
    fields = [("k", "string"), ("content", "string"), ("note", "string")]
    LakeTable.create(spark, root, ["k"], fields, num_buckets=4)
    cfg = PipelineConfig(num_buckets=4)

    # newer epoch first: re-INSERT at lsn 300
    rows2 = [_rel(1, 1, "repos", REL_TEXT)]
    _tx(rows2, 30, 1, 300, "I", {"k": "a", "content": "c3", "note": "n3"})
    pipeline.replay_batch(
        spark.createDataFrame(rows2, TRACE_SCHEMA),
        LakeTable.load(spark, root), cfg, "e2",
    )
    # older epoch second: the original INSERT + DELETE at lsn 100/110
    rows1 = [_rel(1, 1, "repos", REL_TEXT)]
    _tx(rows1, 10, 1, 100, "I", {"k": "a", "content": "c1", "note": "n1"})
    _tx(rows1, 11, 1, 110, "D", None, old_vals={"k": "a"})
    pipeline.replay_batch(
        spark.createDataFrame(rows1, TRACE_SCHEMA),
        LakeTable.load(spark, root), cfg, "e1",
    )
    got = LakeTable.load(spark, root).read_public().collect()
    assert len(got) == 1 and got[0]["content"] == "c3" and got[0]["note"] == "n3"
