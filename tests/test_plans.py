"""Physical-plan assertions — the scale properties the engine claims
(SURVEY.md §4) must be visible in the executed plan, not just asserted
in prose: filter pushdown to parquet, column pruning, single payload
exchange in the compaction, no exchange between compaction and merge."""

import re

import pytest
from pyspark.sql import functions as F

from tests.conftest import FIELDS, SF_DIR
from wal_listener_spark.trace import generator
from wal_listener_spark.trace.generator import TRACE_SCHEMA


@pytest.fixture(scope="module")
def trace_dir(spark, tmp_path_factory):
    from wal_listener_spark.streaming.job import write_tx_aligned

    d = str(tmp_path_factory.mktemp("plans") / "trace")
    write_tx_aligned(generator.build_trace(spark, SF_DIR, amplify=1), d, 8)
    return d


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_parquet(spark, trace_dir):
    """An op/lsn filter must appear in PushedFilters of the parquet scan
    (predicate pushdown — the source-side filtering the reference gets
    from a filtered publication, README.md:118-123)."""
    df = (
        spark.read.schema(TRACE_SCHEMA)
        .parquet(trace_dir)
        .filter((F.col("op") == "R") & (F.col("lsn") > 100))
        .select("lsn", "rel_id")
    )
    plan = _plan(df)
    assert "PushedFilters" in plan
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan).group(1)
    assert "op" in pushed and "lsn" in pushed, pushed


def test_column_pruning_reaches_scan(spark, trace_dir):
    """A 2-column projection must not read the payload maps: ReadSchema
    carries only the selected columns."""
    df = spark.read.schema(TRACE_SCHEMA).parquet(trace_dir).select("lsn", "op")
    plan = _plan(df)
    rs = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    assert "lsn" in rs and "op" in rs
    assert "new_vals" not in rs and "old_vals" not in rs, rs


def _compaction_input(spark, trace_dir):
    from wal_listener_spark.operators.registry import RelationRegistry
    from wal_listener_spark.pipeline import stamp_table_names

    tr = spark.read.schema(TRACE_SCHEMA).parquet(trace_dir)
    reg = RelationRegistry().update_from_trace(tr)
    rel = stamp_table_names(
        tr.filter(F.col("op").isin("I", "U", "D", "T")), reg
    ).filter(F.col("rel_id") == 1)
    return tr, rel, reg.relations[1]


def test_compaction_single_exchange_no_sort_shuffle_blowup(spark, trace_dir):
    """The agg-based LWW compaction moves the payload through exactly ONE
    exchange (the bucket repartition) — the one-shuffle merge property."""
    from wal_listener_spark.operators import apply as apply_op

    _, rel, schema = _compaction_input(spark, trace_dir)
    chg = apply_op.compact_agg(rel, schema, num_buckets=8)
    plan = _plan(chg)
    assert plan.count("Exchange") == 1, plan


def test_compaction_branch_exchange_counts(spark, trace_dir):
    """Exchange count of every other compact_agg shape the engine plans:
    the storm special-case adds only the tiny storm-row exchange, the
    salted two-phase form its phase-1 groupBy exchange, the grouped
    multi-relation fan-in and the bucketless delta path one each."""
    from wal_listener_spark.operators import apply as apply_op

    tr, rel, schema = _compaction_input(spark, trace_dir)
    storm_txs = [
        r["tx_id"]
        for r in tr.filter(F.col("op") == "U").select("tx_id").distinct()
        .orderBy("tx_id").limit(3).collect()
    ]
    assert storm_txs
    shapes = {
        "storm": (dict(num_buckets=8, storm_txs=storm_txs), 2),
        "pre_salt": (dict(num_buckets=8, pre_salt=8), 2),
        "grouped": (
            dict(num_buckets=8, extra_group_cols=["rel_id"], num_partitions=16),
            1,
        ),
        "delta": (dict(num_buckets=None), 1),
    }
    for name, (kw, want) in shapes.items():
        plan = _plan(apply_op.compact_agg(rel, schema, **kw))
        assert plan.count("Exchange") == want, (name, plan)


def _hash_exchanges(plan: str) -> int:
    """Hash exchanges in an executed plan, with the cached subtree of an
    InMemoryRelation counted once (its executed adaptive plan prints the
    final plan and then, as its last child, the ``== Initial Plan ==``
    again, rooted at the marker's own indent)."""
    n, skip = 0, None
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" :+-"))
        if skip is not None and indent >= skip:
            continue
        skip = indent if "== Initial Plan ==" in line else None
        n += "Exchange hashpartitioning" in line
    return n


def test_merge_reuses_bucket_partitioning(spark, tmp_path, monkeypatch):
    """Hash exchanges in the plan of the frame the merge hands to the
    parquet writer, for the bare table and the catalog's grouped merge
    (3 same-schema relations), wide and selective, into empty and into
    populated targets: the compaction's bucket repartition and the
    target's alignment to it — nothing else. The join reuses the change
    side's (rel_id, bucket) partitioning and the write needs no shuffle
    of its own, also when a constant-tagged empty target could fold
    rel_id out of the join keys."""
    from pyspark.sql import DataFrameWriter

    from tests.test_multitable_metrics import _rel, _tx
    from wal_listener_spark.config import PipelineConfig
    from wal_listener_spark.lake.catalog import LakeCatalog, load_target
    from wal_listener_spark.lake.table import LakeTable
    from wal_listener_spark.pipeline import replay_batch

    plans = []
    write = DataFrameWriter.parquet

    def _capture(self, path, *a, **k):
        plans.append(_plan(self._df))
        return write(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", _capture)

    def _trace(rel_ids):
        rows = [_rel(r, r, f"t{r}", ["k", "v"]) for r in rel_ids]
        for r in rel_ids:
            for i in range(6):
                _tx(rows, 10 * r + i, r, 100 * r + 10 * i, {"k": f"k{i}", "v": f"v{i}"})
        return spark.createDataFrame(rows, TRACE_SCHEMA)

    got = {}
    for mode in ("wide", "selective"):
        cfg = PipelineConfig(num_buckets=4, selective_buckets=mode == "selective")
        bare = str(tmp_path / f"bare_{mode}")
        LakeTable.create(
            spark, bare, ["k"], [("k", "string"), ("v", "string")], num_buckets=4
        )
        cat = str(tmp_path / f"cat_{mode}")
        LakeCatalog.create(spark, cat, num_buckets=4)
        for target, root, trace in (
            ("bare", bare, _trace([1])), ("catalog", cat, _trace([1, 2, 3]))
        ):
            for state, key in (("empty", "b0"), ("populated", "b1")):
                plans.clear()
                stats = replay_batch(trace, load_target(spark, root), cfg, key)
                assert not stats["noop"], stats
                assert len(plans) == 1, (target, mode, state, len(plans))
                got[target, mode, state] = _hash_exchanges(plans[0])
    assert got == {
        (t, m, s): 2
        for t in ("bare", "catalog")
        for m in ("wide", "selective")
        for s in ("empty", "populated")
    }, got


def test_wide_mode_merge_single_pass(spark, trace_dir, tmp_path):
    """selective_buckets=False (full-replay mode): the change pipeline
    must run exactly once — no persist barrier (no InMemoryRelation in
    any later plan) — and still produce the same state + counters."""
    from wal_listener_spark.config import PipelineConfig
    from wal_listener_spark.lake.table import LakeTable
    from wal_listener_spark.pipeline import replay_batch

    roots = {}
    for mode in (True, False):
        root = str(tmp_path / f"t{mode}")
        tb = LakeTable.create(spark, root, ["repo", "path"], FIELDS, num_buckets=8)
        tr = spark.read.schema(TRACE_SCHEMA).parquet(trace_dir)
        stats = replay_batch(
            tr, tb,
            PipelineConfig(num_buckets=8, selective_buckets=mode),
            "b0",
        )
        m = stats["tables"]["public_repos"]
        roots[mode] = (root, m["upserts"], m["deletes"])
    (r_sel, up_sel, del_sel), (r_wide, up_wide, del_wide) = roots[True], roots[False]
    assert (up_sel, del_sel) == (up_wide, del_wide)
    sel = sorted(
        tuple(r) for r in LakeTable.load(spark, r_sel).read_public().collect()
    )
    wide = sorted(
        tuple(r) for r in LakeTable.load(spark, r_wide).read_public().collect()
    )
    assert sel == wide and len(sel) > 0
