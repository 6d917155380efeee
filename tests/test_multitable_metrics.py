"""Multi-table routing (T7) through the full pipeline, and the metrics
log surface (W7)."""

import datetime

from wal_listener_spark import pipeline
from wal_listener_spark.config import PipelineConfig
from wal_listener_spark.lake.table import LakeTable
from wal_listener_spark.metrics import MetricsLog
from wal_listener_spark.trace.generator import TRACE_SCHEMA


def _rel(lsn, rel_id, name, cols):
    return (
        lsn, -1, 0, "R", rel_id, "public", name,
        [(c, 25, c == "k", -1) for c in cols],
        None, None, None, None, None,
    )


def _tx(rows, k, rel_id, lsn0, vals):
    ts = datetime.datetime(2024, 1, 1)
    rows.append((lsn0, k, -1, "B", None, None, None, None, None, None, None, ts, None))
    rows.append(
        (lsn0 + 1, k, 0, "I", rel_id, None, None, None, None, vals, [], None, None)
    )
    rows.append((lsn0 + 2, k, 99, "C", None, None, None, None, None, None, None, ts, None))


def test_two_relations_route_to_their_own_tables(spark, tmp_path):
    """Events for two relations in one batch route to per-relation
    LakeTables under one catalog (the lake analog of per-table topic
    fan-out, event.go:24-36); the union read NULL-fills the other
    table's columns."""
    from wal_listener_spark.lake.catalog import LakeCatalog

    rows = [
        _rel(1, 1, "repos", ["k", "content"]),
        _rel(2, 2, "meta", ["k", "owner"]),
    ]
    _tx(rows, 10, 1, 100, {"k": "a", "content": "c1"})
    _tx(rows, 11, 2, 200, {"k": "b", "owner": "me"})
    trace = spark.createDataFrame(rows, TRACE_SCHEMA)

    cat = LakeCatalog.create(spark, str(tmp_path / "cat"), num_buckets=4)
    stats = pipeline.replay_batch(trace, cat, PipelineConfig(num_buckets=4), "b0")
    assert set(stats["tables"]) == {"public_repos", "public_meta"}
    cat = LakeCatalog.load(spark, str(tmp_path / "cat"))
    assert cat.table_names() == ["public_meta", "public_repos"]
    repos = {r["k"]: r.asDict() for r in cat.read_public("public_repos").collect()}
    assert repos["a"]["content"] == "c1" and "owner" not in repos["a"]
    got = {r["k"]: r.asDict() for r in cat.read_public().collect()}
    assert got["a"]["content"] == "c1" and got["a"]["owner"] is None
    assert got["b"]["owner"] == "me" and got["b"]["content"] is None
    assert got["a"]["__table"] == "public_repos"


def test_single_table_rejects_multi_relation_stream(spark, tmp_path):
    import pytest

    rows = [
        _rel(1, 1, "repos", ["k", "content"]),
        _rel(2, 2, "meta", ["k", "owner"]),
    ]
    _tx(rows, 10, 1, 100, {"k": "a", "content": "c1"})
    _tx(rows, 11, 2, 200, {"k": "a", "owner": "me"})
    trace = spark.createDataFrame(rows, TRACE_SCHEMA)
    tb = LakeTable.create(
        spark, str(tmp_path / "t"), ["k"], [("k", "string")], num_buckets=4
    )
    with pytest.raises(ValueError, match="LakeCatalog"):
        pipeline.replay_batch(trace, tb, PipelineConfig(num_buckets=4), "b0")


def test_truncate_scopes_to_its_relation(spark, tmp_path):
    """TRUNCATE on relation A must not delete relation B's rows, and the
    same key value in two relations must not collide (the round-1
    shared-table bug)."""
    from wal_listener_spark.lake.catalog import LakeCatalog

    rows = [
        _rel(1, 1, "repos", ["k", "content"]),
        _rel(2, 2, "meta", ["k", "owner"]),
    ]
    _tx(rows, 10, 1, 100, {"k": "a", "content": "c1"})
    _tx(rows, 11, 2, 200, {"k": "a", "owner": "me"})  # same key value!
    trace = spark.createDataFrame(rows, TRACE_SCHEMA)
    cat = LakeCatalog.create(spark, str(tmp_path / "cat"), num_buckets=4)
    cfg = PipelineConfig(num_buckets=4)
    pipeline.replay_batch(trace, cat, cfg, "e0")

    # epoch 2: truncate relation 1 only (lsn above everything applied)
    rows2 = [
        _rel(1, 1, "repos", ["k", "content"]),
        _rel(2, 2, "meta", ["k", "owner"]),
        (500, -2, 0, "T", 1, None, None, None, None, None, None, None, 0),
    ]
    trace2 = spark.createDataFrame(rows2, TRACE_SCHEMA)
    cat = LakeCatalog.load(spark, str(tmp_path / "cat"))
    pipeline.replay_batch(trace2, cat, cfg, "e1")

    cat = LakeCatalog.load(spark, str(tmp_path / "cat"))
    assert cat.read_public("public_repos").count() == 0, "A truncated"
    meta = cat.read_public("public_meta").collect()
    assert len(meta) == 1 and meta[0]["owner"] == "me", "B untouched"


def test_metrics_log_records_counters(spark, tmp_path):
    rows = [_rel(1, 1, "repos", ["k", "content"])]
    _tx(rows, 10, 1, 100, {"k": "a", "content": "c1"})
    # an uncommitted tx -> problematic_events (parser.go:20-23 analog)
    rows.append((300, 77, 0, "I", 1, None, None, None, None, {"k": "z", "content": "x"}, [], None, None))
    trace = spark.createDataFrame(rows, TRACE_SCHEMA)
    tb = LakeTable.create(
        spark, str(tmp_path / "t"), ["k"], [("k", "string")], num_buckets=4
    )
    stats = pipeline.replay_batch(trace, tb, PipelineConfig(num_buckets=4), "b0")
    assert stats["quarantined"] == 1

    log = MetricsLog(str(tmp_path / "metrics.jsonl"))
    log.record_batch(stats)
    entries = log.read_all()
    kinds = {e["kind"] for e in entries}
    assert "problematic_events_total" in kinds
    assert "published_events_total" in kinds
    pub = [e for e in entries if e["kind"] == "published_events_total"][0]
    assert pub["upserts"] == 1 and pub["table"] == "public_repos"


def test_replay_job_cli(spark, tmp_path):
    """The spark-submit entrypoint end-to-end (bounded local run)."""
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    import replay_job

    from wal_listener_spark.streaming.job import write_tx_aligned
    from wal_listener_spark.trace import generator

    trace = generator.build_trace(spark, "/root/testdata/sf0.001", amplify=1)
    write_tx_aligned(trace, str(tmp_path / "trace"), num_files=4)
    rc = replay_job.main(
        [
            "--trace-dir", str(tmp_path / "trace"),
            "--table-root", str(tmp_path / "lake"),
            "--checkpoint", str(tmp_path / "ckpt"),
            "--num-buckets", "4",
            "--metrics-log", str(tmp_path / "m.jsonl"),
        ],
        stop_session=False,  # embedded in the test session
    )
    assert rc == 0
    tb = LakeTable.load(spark, str(tmp_path / "lake"))
    assert tb.read_public().count() > 0
    assert MetricsLog(str(tmp_path / "m.jsonl")).read_all()


def test_stamp_table_names_broadcasts_above_threshold(spark):
    """50 relations: the registry lookup must plan as a broadcast hash
    join (not a 50-branch CASE chain) and still resolve every name."""
    from wal_listener_spark.operators.registry import RelationRegistry, RelationSchema
    from wal_listener_spark.pipeline import stamp_table_names

    reg = RelationRegistry()
    for i in range(50):
        reg.relations[i] = RelationSchema(i, "public", f"t{i}", [("k", 25, True)])
    rows = [(100 + i, i, 0, "I", i, None, None, None, None, {"k": "x"}, [], None, None)
            for i in range(50)]
    df = spark.createDataFrame(rows, TRACE_SCHEMA)
    stamped = stamp_table_names(df, reg)
    plan = stamped._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    got = {r["rel_id"]: r["table_name"] for r in stamped.collect()}
    assert got == {i: f"t{i}" for i in range(50)}


def test_parallel_relation_merges_match_serial(spark, tmp_path):
    """4 relations merged concurrently (driver thread pool) must produce
    exactly the serial result — each relation owns its table, so the
    jobs are independent."""
    from wal_listener_spark.lake.catalog import LakeCatalog

    def _mk_trace():
        rows = []
        for rel in range(1, 5):
            rows.append(_rel(rel, rel, f"t{rel}", ["k", "v"]))
            for i in range(3):
                _tx(rows, rel * 100 + i, rel, 1000 * rel + 10 * i,
                    {"k": f"k{i}", "v": f"r{rel}i{i}"})
        return spark.createDataFrame(rows, TRACE_SCHEMA)

    results = {}
    for par in (1, 4):
        cat = LakeCatalog.create(spark, str(tmp_path / f"cat{par}"), num_buckets=4)
        stats = pipeline.replay_batch(
            _mk_trace(), cat,
            PipelineConfig(num_buckets=4, max_parallel_merges=par), "b0",
        )
        assert len(stats["tables"]) == 4
        cat = LakeCatalog.load(spark, str(tmp_path / f"cat{par}"))
        results[par] = {
            name: sorted(
                (r["k"], r["v"]) for r in cat.read_public(name).collect()
            )
            for name in cat.table_names()
        }
    assert results[1] == results[4]
    assert results[4]["public_t3"] == [("k0", "r3i0"), ("k1", "r3i1"), ("k2", "r3i2")]


def test_problematic_kinds_publish_and_ack(spark, tmp_path, monkeypatch):
    """problematic_events_total{kind} parity (metrics.go:21-59,
    listener.go:397-428): a failed merge meters kind=publish, a failed
    snapshot commit (the ack analog) meters kind=ack; both re-raise so
    the epoch retries from the checkpoint."""
    import pytest

    import wal_listener_spark.streaming.job as sj
    from wal_listener_spark.operators.registry import RelationRegistry
    from wal_listener_spark.streaming.job import run_replay_stream, write_tx_aligned

    rows = [_rel(1, 1, "repos", ["k", "content"])]
    _tx(rows, 10, 1, 100, {"k": "a", "content": "c1"})
    trace = spark.createDataFrame(rows, TRACE_SCHEMA)
    trace_dir = str(tmp_path / "trace")
    write_tx_aligned(trace, trace_dir, 1)

    def _mk_table(name):
        tb = LakeTable.create(
            spark, str(tmp_path / name), ["k"],
            [("k", "string"), ("content", "string")], num_buckets=4,
        )
        # pre-seed the registry so run_replay_stream's bootstrap commit
        # happens before any failure injection
        reg = RelationRegistry().update_from_trace(trace)
        tb.properties["registry"] = reg.to_json()
        tb.save_properties()
        return tb

    # kind=publish: the merge path blows up
    _mk_table("t_pub")
    log_pub = MetricsLog(str(tmp_path / "m_pub.jsonl"))
    with monkeypatch.context() as m:
        def _boom(*a, **k):
            raise RuntimeError("merge blew up")

        m.setattr(sj, "replay_batch", _boom)
        with pytest.raises(Exception):
            run_replay_stream(
                spark, trace_dir, str(tmp_path / "t_pub"),
                str(tmp_path / "ck_pub"), PipelineConfig(num_buckets=4),
                metrics=log_pub,
            )
    assert log_pub.problem_counts().get("publish", 0) >= 1

    # kind=ack: the snapshot commit fails
    from wal_listener_spark.lake.table import AckCommitError

    _mk_table("t_ack")
    log_ack = MetricsLog(str(tmp_path / "m_ack.jsonl"))
    with monkeypatch.context() as m:
        def _noack(self):
            raise AckCommitError("simulated VERSION swap failure")

        m.setattr(LakeTable, "_commit_manifest", _noack)
        with pytest.raises(Exception):
            run_replay_stream(
                spark, trace_dir, str(tmp_path / "t_ack"),
                str(tmp_path / "ck_ack"), PipelineConfig(num_buckets=4),
                metrics=log_ack,
            )
    assert log_ack.problem_counts().get("ack", 0) >= 1

    # healthy run: counters recorded, no problems
    _mk_table("t_ok")
    log_ok = MetricsLog(str(tmp_path / "m_ok.jsonl"))
    st = run_replay_stream(
        spark, trace_dir, str(tmp_path / "t_ok"),
        str(tmp_path / "ck_ok"), PipelineConfig(num_buckets=4),
        metrics=log_ok,
    )
    assert st and not log_ok.problem_counts()
    assert any(
        e["kind"] == "published_events_total" for e in log_ok.read_all()
    )


def test_tailing_into_catalog_routes_multi_relation(spark, tmp_path):
    """Tailing mode x multi-relation routing: a NON-tx-aligned trace
    carrying two relations (transactions interleaved across trigger
    boundaries) tails through the bucketed-state assembler into a
    LakeCatalog — each relation's rows land in its own table, and a
    tx whose Begin/Commit straddle epochs still applies atomically."""
    from wal_listener_spark.lake.catalog import LakeCatalog
    from wal_listener_spark.streaming.tailing import run_tailing_stream
    from wal_listener_spark.trace import generator

    rows = [
        _rel(1, 1, "repos", ["k", "content"]),
        _rel(2, 2, "meta", ["k", "owner"]),
    ]
    lsn = 100
    for i in range(12):
        rel_id = 1 + i % 2
        vals = (
            {"k": f"r{i}", "content": f"c{i}"}
            if rel_id == 1
            else {"k": f"m{i}", "owner": f"o{i}"}
        )
        _tx(rows, 100 + i, rel_id, lsn, vals)
        lsn += 3
    trace = spark.createDataFrame(rows, TRACE_SCHEMA)
    trace_dir = str(tmp_path / "trace")
    # raw lsn split: 5 files over 36 data rows -> txs straddle files
    generator.write_trace(trace, trace_dir, num_files=5)

    root = str(tmp_path / "cat")
    LakeCatalog.create(spark, root, num_buckets=4)
    stats = run_tailing_stream(
        spark, trace_dir, root, str(tmp_path / "ckpt"),
        cfg=PipelineConfig(num_buckets=4), max_files_per_trigger=2,
    )
    assert len(stats) >= 2  # multiple epochs

    cat = LakeCatalog.load(spark, root)
    repos = {r["k"]: r["content"] for r in cat.read_public("public_repos").collect()}
    meta = {r["k"]: r["owner"] for r in cat.read_public("public_meta").collect()}
    assert repos == {f"r{i}": f"c{i}" for i in range(0, 12, 2)}
    assert meta == {f"m{i}": f"o{i}" for i in range(1, 12, 2)}


def _grouped_epoch2(spark, trace, live, nb):
    """A second epoch over a populated target, touching only lake buckets
    0 and 1: every third live key there gets an UPDATE (commit and
    content set, lang TOASTed), the next one a DELETE. tx_id stays the
    key index, so reshard_relations routes each change to the relation
    that owns the key. Returns (rows, updated {key: k}, deleted {key: k})."""
    from pyspark.sql import functions as F

    from wal_listener_spark.lake.table import _bucket_expr
    from wal_listener_spark.trace import spec

    keyed = (
        trace.filter(F.col("op") == "I")
        .select(
            "tx_id",
            F.col("new_vals")["repo"].alias("repo"),
            F.col("new_vals")["path"].alias("path"),
        )
        .dropDuplicates(["tx_id"])
        .withColumn("b", _bucket_expr(["repo", "path"], nb))
        .collect()
    )
    picked = sorted(
        (r["tx_id"], (r["repo"], r["path"]))
        for r in keyed
        if r["b"] in (0, 1) and (r["repo"], r["path"]) in live
    )
    updated = {key: k for i, (k, key) in enumerate(picked) if i % 3 == 0}
    deleted = {key: k for i, (k, key) in enumerate(picked) if i % 3 == 1}
    ts = datetime.datetime(2024, 2, 1)
    lsn = trace.agg(F.max("lsn")).collect()[0][0] + 10
    rows = []
    for key, k in sorted(list(updated.items()) + list(deleted.items())):
        kv = {"repo": key[0], "path": key[1]}
        if key in updated:
            op, new, toast = "U", {**kv, "commit": f"e2c{k}", "content": f"e2-{k}"}, ["lang"]
        else:
            op, new, toast = "D", None, []
        rows.append((lsn, k, -1, "B", None, None, None, None, None, None, None, ts, None))
        rows.append(
            (lsn + 1, k, 0, op, spec.REL_ID, None, None, None, kv, new, toast, None, None)
        )
        rows.append((lsn + 2, k, 99, "C", None, None, None, None, None, None, None, ts, None))
        lsn += 10
    return rows, updated, deleted


def test_grouped_merge_matches_single_table_state(spark, tmp_path):
    """The catalog's grouped one-plan merge (>=3 same-schema relations:
    one compaction, one join, one partitioned write, N manifest commits)
    must produce exactly the same rows as the single-table replay of the
    same events — and a replayed epoch must no-op per table. Covers BOTH
    merge modes: selective_buckets=True (cached stats pre-pass) and
    False (wide mode: Observation counters riding the fused write job,
    empty-union skip), each over two epochs: a backfill into empty
    tables, then a second epoch that changes a subset of keys in two of
    the four buckets, merged into the populated targets (selective mode
    must rewrite only those buckets and keep the rest). Per-table
    upserts/deletes must equal the counts derived from the trace."""
    from pyspark.sql import functions as F

    from wal_listener_spark.lake.catalog import LakeCatalog
    from wal_listener_spark.lake.table import LakeTable
    from wal_listener_spark.trace import generator

    SF = "/root/testdata/sf0.001"
    NB = 4
    nk = generator.num_keys(spark, SF, 1)
    trace = generator.build_trace(spark, SF, amplify=1, k_evo=nk)
    multi = generator.reshard_relations(trace, NB)

    def _state(df):
        return {
            (r["repo"], r["path"]): (r["commit"], r["lang"], r["content"])
            for r in df.collect()
        }

    single_root = str(tmp_path / "single")
    LakeTable.create(
        spark, single_root, ["repo", "path"],
        [("repo", "string"), ("path", "string"), ("commit", "string"),
         ("lang", "string"), ("content", "string")],
        num_buckets=NB,
    )
    pipeline.replay_batch(
        trace, LakeTable.load(spark, single_root),
        PipelineConfig(num_buckets=NB), "s0",
    )
    want = _state(LakeTable.load(spark, single_root).read_public())

    e2_rows, updated, deleted = _grouped_epoch2(spark, trace, set(want), NB)
    assert updated and deleted
    e2 = spark.createDataFrame(e2_rows, TRACE_SCHEMA)
    pipeline.replay_batch(
        e2, LakeTable.load(spark, single_root),
        PipelineConfig(num_buckets=NB), "s1",
    )
    want2 = _state(LakeTable.load(spark, single_root).read_public())
    # the single-table oracle itself: updates land (lang kept across the
    # TOAST cell), deletes drop, every other key is unchanged
    assert want2 == {
        key: (
            (f"e2c{updated[key]}", v[1], f"e2-{updated[key]}")
            if key in updated else v
        )
        for key, v in want.items()
        if key not in deleted
    }

    # absolute per-table counters: backfill = one compacted row per key
    # (a key whose last change is a DELETE counts as a delete), epoch 2 =
    # the changed keys; table i owns the keys with k % NB == i
    last_op = {
        r["tx_id"]: r["w"]["op"]
        for r in trace.filter(F.col("op").isin("I", "U", "D"))
        .groupBy("tx_id")
        .agg(F.max(F.struct("lsn", "op")).alias("w"))
        .collect()
    }

    def _counts(ops: dict) -> dict:
        out = {f"public_repos_{i}": [0, 0] for i in range(NB)}
        for k, op in ops.items():
            out[f"public_repos_{k % NB}"][op == "D"] += 1
        return {name: tuple(c) for name, c in out.items()}

    want_counts = {
        "g0": _counts(last_op),
        "g1": _counts(
            {**{k: "U" for k in updated.values()},
             **{k: "D" for k in deleted.values()}}
        ),
    }
    e2_multi = generator.reshard_relations(e2, NB)
    touched = {f"public_repos_{k % NB}" for k in (*updated.values(), *deleted.values())}

    for mode in (True, False):
        root = str(tmp_path / f"cat_sel_{mode}")
        cat = LakeCatalog.create(spark, root, num_buckets=NB)
        cfg = PipelineConfig(num_buckets=NB, selective_buckets=mode)
        stats = pipeline.replay_batch(multi, cat, cfg, "g0")
        assert len(stats["tables"]) == NB
        assert all(m.get("grouped") for m in stats["tables"].values()), stats

        # replayed epoch: every table no-ops on its batch key
        cat = LakeCatalog.load(spark, root)
        stats2 = pipeline.replay_batch(multi, cat, cfg, "g0")
        assert all(m.get("noop") for m in stats2["tables"].values())

        cat = LakeCatalog.load(spark, root)
        assert _state(cat.read_public().drop("__table")) == want, (
            f"selective_buckets={mode}"
        )

        # second epoch into the populated targets
        stats3 = pipeline.replay_batch(e2_multi, cat, cfg, "g1")
        assert all(m.get("grouped") for m in stats3["tables"].values()), stats3
        cat = LakeCatalog.load(spark, root)
        assert _state(cat.read_public().drop("__table")) == want2, (
            f"selective_buckets={mode}, epoch 2"
        )
        if mode:
            for name in touched:
                assert set(stats3["tables"][name]["buckets_rewritten"]) <= {0, 1}

        for key, st in (("g0", stats), ("g1", stats3)):
            got_counts = {
                name: (m["upserts"], m["deletes"])
                for name, m in st["tables"].items()
            }
            assert got_counts == want_counts[key], (key, mode, got_counts)
