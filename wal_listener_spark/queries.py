"""Driver-facing queries + DuckDB oracle SQL.

Every entry in ``QUERIES`` is one operator/capability from SURVEY.md §2
(or a training-data-pipeline op), run by the driver at sf=0.01 and
compared against ``ORACLE_SQL`` executed by DuckDB over the same parquet
views — row count, schema and order-insensitive value hash must match.

Both sides derive from the same deterministic spec
(``trace/spec.py``): the Spark side *runs the actual engine operators*
(trace generation -> assembly -> registry -> filter -> LWW apply ->
lake MERGE); the oracle side evaluates the closed-form of that spec in
ANSI SQL. Shared constants keep them in lock-step.

Portability rules used throughout (Spark <-> DuckDB):
 - hashes via md5/sha256 hex (identical across engines);
 - float outputs scaled to ints (``round(x*10000)``) to dodge repr drift;
 - timestamps compared as unix epoch seconds;
 - int-in-string concat produces identical text on both engines.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import PipelineConfig
from .lake.table import LakeTable
from .operators import apply as apply_op
from .operators import decode as decode_op
from .operators import events as events_op
from .operators.assemble import assemble_transactions
from .operators.filters import allowlist_filter
from .operators.registry import RelationRegistry, typed_changes
from .trace import framed, generator, spec

AMPLIFY = 2  # CDC key-space amplification for driver queries

_SCRATCH_ROOTS: list[str] = []


def _scratch(prefix: str) -> str:
    """Gate-query scratch dir (throwaway lake roots / checkpoints).

    Prefers tmpfs: gate queries measure engine semantics, and /tmp in
    the sandbox is a shared physical disk whose co-tenant contention
    can multiply the many small parquet commits these replays perform.
    Dirs are removed at interpreter exit (a gate run creates several)."""
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    d = tempfile.mkdtemp(prefix=prefix, dir=base)
    if not _SCRATCH_ROOTS:
        import atexit
        import shutil

        atexit.register(
            lambda: [shutil.rmtree(p, ignore_errors=True) for p in _SCRATCH_ROOTS]
        )
    _SCRATCH_ROOTS.append(d)
    return d


FIELDS = [
    ("repo", "string"),
    ("path", "string"),
    ("commit", "string"),
    ("lang", "string"),
    ("content", "string"),
]

# --------------------------------------------------------------------------
# shared oracle SQL fragments (DuckDB dialect, derived from trace/spec.py)
# --------------------------------------------------------------------------


def _keys_cte(amplify: int = AMPLIFY) -> str:
    """CTE computing the key attributes exactly as generator._keys_df."""
    return f"""
keys AS (
  SELECT d.doc_id*{amplify} + r.range AS k, d.text, d.lang,
         (SELECT count(*)*{amplify} FROM documents)//2 AS k_evo
  FROM documents d, range({amplify}) r
),
attrs AS (
  SELECT k, text, lang, k_evo,
    CASE WHEN k%{spec.HOT_MOD}=0 THEN '{spec.HOT_REPO}'
         ELSE 'org'||(k%{spec.REPO_MOD})||'/proj'||(k%{spec.PROJ_MOD}) END AS repo,
    'src/m'||(k//100)||'/f'||k||'.'||lang AS path,
    1 + k%{spec.NVER_MOD} AS n_ver
  FROM keys
)"""


def _final_cte() -> str:
    """Closed-form of last-write-wins with TOAST carry-forward:
    content version = largest v <= v_last that was not TOASTed."""
    t = spec.TOAST_MOD
    return f"""
final AS (
  SELECT *, n_ver-1 AS v_last,
    CASE
      WHEN n_ver-1 = 0 THEN 0
      WHEN (k+(n_ver-1))%{t} <> 0 THEN n_ver-1
      WHEN n_ver-2 = 0 THEN 0
      WHEN (k+(n_ver-2))%{t} <> 0 THEN n_ver-2
      ELSE 0 END AS v_content
  FROM attrs
)"""


def _final_select(where: str) -> str:
    return f"""
SELECT repo, path,
  substr(sha256(k||':'||v_last), 1, 40) AS commit,
  lang,
  text||'#v'||v_content AS content,
  (CASE WHEN k >= k_evo THEN k%{spec.STARS_MOD} END)::INT AS stars,
  sha256(text||'#v'||v_content) AS content_sha
FROM final WHERE {where}"""


def oracle_final_state(amplify: int = AMPLIFY, extra_where: str = "TRUE") -> str:
    return (
        "WITH "
        + _keys_cte(amplify)
        + ","
        + _final_cte()
        + _final_select(f"k%{spec.DELETE_MOD} <> 0 AND ({extra_where})")
    )


# --------------------------------------------------------------------------
# Spark-side helpers
# --------------------------------------------------------------------------


def _final_state_df(spark: SparkSession, sf_dir: str, **trace_kw) -> DataFrame:
    """Run the actual operator pipeline (no lake) on a fresh trace and
    return the final state with the sha invariant column."""
    trace = generator.build_trace(spark, sf_dir, amplify=AMPLIFY, **trace_kw)
    return _apply_pipeline(trace)


def _apply_pipeline(
    trace: DataFrame, filter_tables: dict | None = None
) -> DataFrame:
    registry = RelationRegistry().update_from_trace(trace)
    committed, _q = assemble_transactions(trace)
    schema = registry.relations[spec.REL_ID]
    from .pipeline import stamp_table_names

    committed = stamp_table_names(committed, registry)
    filtered, _obs = allowlist_filter(committed, filter_tables, observe=False)
    # the engine's LWW kernel, then the batch-local drops: a final
    # DELETE removes the key, the truncate barrier every key it covers
    rel_rows = filtered.filter(F.col("rel_id") == schema.rel_id)
    final = apply_op.compact_agg(rel_rows, schema).filter(F.col("op") != "D")
    t_lsn = apply_op.truncate_barrier_lsn(rel_rows)
    if t_lsn is not None:
        final = final.filter(F.col("lsn") > F.lit(t_lsn))
    return final.select(
        "repo",
        "path",
        "commit",
        "lang",
        "content",
        F.col("stars").cast("int").alias("stars"),
        F.sha2(F.coalesce(F.col("content"), F.lit("")), 256).alias("content_sha"),
    )


def _replay_through_lake(spark: SparkSession, sf_dir: str, **trace_kw) -> DataFrame:
    """Full-engine path: trace -> replay_batch -> lake MERGE -> snapshot."""
    from .pipeline import replay_batch

    trace = generator.build_trace(spark, sf_dir, amplify=AMPLIFY, **trace_kw)
    root = _scratch("wal_lake_")
    table = LakeTable.create(spark, root, ["repo", "path"], FIELDS, num_buckets=16)
    replay_batch(trace, table, PipelineConfig(num_buckets=16), "driver-batch")
    table = LakeTable.load(spark, root)
    return table.read_public().select(
        "repo",
        "path",
        "commit",
        "lang",
        "content",
        F.col("stars").cast("int").alias("stars"),
        F.sha2(F.coalesce(F.col("content"), F.lit("")), 256).alias("content_sha"),
    )


# --------------------------------------------------------------------------
# CDC queries
# --------------------------------------------------------------------------


def q_cdc_replay_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full replay through the lake MERGE (S6+P*+T*+K+W ops)."""
    return _replay_through_lake(spark, sf_dir)


def q_cdc_tailing_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True-tailing escalation path against the SAME final-state oracle:
    the trace is written NON-tx-aligned (raw lsn split — Begin and
    Commit of a transaction land in different micro-batches), tailed
    epoch-by-epoch through the bucketed-state assembler
    (streaming/tailing.py: applyInPandasWithState keyed by
    hash(tx_id) % 64), and the resulting lake state must be identical
    to the bounded replay's (wal.go:21-30 buffer semantics under
    Spark's no-ordering-promise file source)."""
    from .streaming.tailing import run_tailing_stream

    trace = generator.build_trace(spark, sf_dir, amplify=AMPLIFY)
    work = _scratch("wal_tail_gate_")
    trace_dir = os.path.join(work, "trace")
    generator.write_trace(trace, trace_dir, num_files=6)
    root = os.path.join(work, "lake")
    LakeTable.create(spark, root, ["repo", "path"], FIELDS, num_buckets=16)
    run_tailing_stream(
        spark, trace_dir, root, os.path.join(work, "ckpt"),
        cfg=PipelineConfig(num_buckets=16), max_files_per_trigger=2,
    )
    return LakeTable.load(spark, root).read_public().select(
        "repo",
        "path",
        "commit",
        "lang",
        "content",
        F.col("stars").cast("int").alias("stars"),
        F.sha2(F.coalesce(F.col("content"), F.lit("")), 256).alias("content_sha"),
    )


def q_cdc_tailing_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain-mode tailing against the same final-state oracle: raw
    micro-batches stage with NO stateful operator, and group merges
    (every 2 staged batches here) assemble transactions batch-side —
    incomplete txs divert to the pending store across group boundaries
    and complete in a later merge (streaming/tailing.py drain_merge).
    The deep-backlog twin of cdc_tailing_replay's per-trigger path."""
    from .streaming.tailing import run_tailing_stream

    trace = generator.build_trace(spark, sf_dir, amplify=AMPLIFY)
    work = _scratch("wal_drain_gate_")
    trace_dir = os.path.join(work, "trace")
    generator.write_trace(trace, trace_dir, num_files=6)
    root = os.path.join(work, "lake")
    LakeTable.create(spark, root, ["repo", "path"], FIELDS, num_buckets=16)
    run_tailing_stream(
        spark, trace_dir, root, os.path.join(work, "ckpt"),
        cfg=PipelineConfig(num_buckets=16), max_files_per_trigger=2,
        group_commit_batches=2,
    )
    return LakeTable.load(spark, root).read_public().select(
        "repo",
        "path",
        "commit",
        "lang",
        "content",
        F.col("stars").cast("int").alias("stars"),
        F.sha2(F.coalesce(F.col("content"), F.lit("")), 256).alias("content_sha"),
    )


def q_cdc_lww_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator-level apply (the engine's struct-max LWW kernel + TOAST
    carry-forward), no sink."""
    return _final_state_df(spark, sf_dir)


def q_cdc_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_keys = generator.num_keys(spark, sf_dir, AMPLIFY)
    return _final_state_df(spark, sf_dir, k_tr=n_keys // 4)


def q_cdc_filter_allowlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    trace = generator.build_trace(spark, sf_dir, amplify=AMPLIFY)
    return _apply_pipeline(
        trace, filter_tables={"repos": ["insert", "update", "truncate"]}
    )


def q_cdc_replay_overlap_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate half the LSN range (replay overlap) — LWW must absorb it."""
    trace = generator.build_trace(spark, sf_dir, amplify=AMPLIFY)
    dup = trace.filter(F.col("tx_id") % 2 == 0)
    return _apply_pipeline(trace.unionByName(dup))


def q_cdc_delta_commits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read delta commits (the live-tail latency path): the
    trace replays as FOUR out-of-LSN-order epochs, each appended as a
    lake delta generation (``LakeTable.append_delta`` — one write +
    manifest swap, no bucket rewrite), one epoch replayed twice
    (exactly-once no-op), a fold absorbing the first half mid-history,
    and the final snapshot read resolving base ∪ remaining deltas
    through the closed-form column-level LWW. Must equal the same
    sequential-apply oracle as the copy-on-write replay (Iceberg v2
    merge-on-read semantics over the reference's apply rules)."""
    from .pipeline import replay_batch

    trace = generator.build_trace(spark, sf_dir, amplify=AMPLIFY)
    nk = generator.num_keys(spark, sf_dir, AMPLIFY)
    cuts = [0, nk // 4, nk // 2, 3 * nk // 4, nk + 20]
    epochs = [
        trace.filter(
            (F.col("lsn") >= (cuts[i] + 1) * spec.SLOT)
            & (F.col("lsn") < (cuts[i + 1] + 1) * spec.SLOT)
            | (F.col("op") == "R")
        )
        for i in range(4)
    ]
    root = _scratch("wal_delta_")
    table = LakeTable.create(spark, root, ["repo", "path"], FIELDS, num_buckets=16)
    cfg = PipelineConfig(num_buckets=16, delta_commits=True)
    for i in (2, 0, 2, 1):  # out of order + epoch 2 replayed (no-op)
        replay_batch(epochs[i], LakeTable.load(spark, root), cfg, f"d{i}")
    LakeTable.load(spark, root).fold_deltas()  # mid-history fold
    replay_batch(epochs[3], LakeTable.load(spark, root), cfg, "d3")
    return LakeTable.load(spark, root).read_public().select(
        "repo",
        "path",
        "commit",
        "lang",
        "content",
        F.col("stars").cast("int").alias("stars"),
        F.sha2(F.coalesce(F.col("content"), F.lit("")), 256).alias("content_sha"),
    )


def q_cdc_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relation v2 lands mid-stream (P4): every change event BEFORE the
    evolution LSN must type against the 5-column schema (stars NULL,
    5 positional cells) and every event after it against the 6-column
    one (stars = k % STARS_MOD, 6 cells) — asserted per event across
    the full key space, not as a 2-row census. The cell count comes
    from the actual typed projection the registry produced."""
    trace = generator.build_trace(spark, sf_dir, amplify=AMPLIFY)
    registry = RelationRegistry().update_from_trace(trace)
    committed, _q = assemble_transactions(trace)
    from .pipeline import stamp_table_names

    committed = stamp_table_names(committed, registry)
    data = committed.filter(F.col("op").isin("I", "U"))
    typed = typed_changes(data, registry.relations[spec.REL_ID])
    # positional arity of the wire tuple (map cells + TOAST cells) comes
    # from the raw frame; the typed stars value from the registry path
    cells = data.select(
        F.col("lsn"),
        F.col("op"),
        (F.size("new_vals") + F.size("toast_cols")).cast("int").alias("n_cells"),
    )
    return cells.join(
        typed.select("lsn", F.col("stars").cast("int").alias("stars")), "lsn"
    ).select("lsn", "op", "n_cells", "stars")


def q_cdc_tx_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    trace = generator.build_trace(spark, sf_dir, amplify=AMPLIFY)
    committed, _ = assemble_transactions(trace)
    return committed.groupBy("tx_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.unix_timestamp(F.max("commit_ts")).alias("commit_epoch"),
    )


def q_cdc_event_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    trace = generator.build_trace(spark, sf_dir, amplify=AMPLIFY)
    committed, _ = assemble_transactions(trace)
    ev = events_op.to_events(committed, spec.SCHEMA_NAME, spec.TABLE_NAME)
    return ev.select("id", "action", "lsn")


#: subject-routing gate dimensions: 150 sharded tables, a 50-entry
#: topicsMap (> TOPICS_BROADCAST_THRESHOLD, so the gate exercises the
#: broadcast-join override path, not the CASE chain)
_ROUTE_SHARDS = 150
_ROUTE_TOPICS_MAP = {
    f"public_repos_{i}": f"t{i:03d}_mapped"
    for i in range(_ROUTE_SHARDS)
    if i % 3 == 0
}


def q_cdc_subject_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subject routing (T7) through the broadcast topicsMap path: the
    event stream is resharded across 150 logical tables
    (public.repos_<k%150>), stamped via stamp_subjects with a 50-entry
    override map — every third shard remapped, the rest falling through
    to schema_table — and censused per subject (event.go:24-36 naming,
    nats_test.go:27-44 expectation, at map sizes where the CASE-chain
    form is no longer the executed plan)."""
    trace = generator.build_trace(spark, sf_dir, amplify=AMPLIFY)
    committed, _ = assemble_transactions(trace)
    ev = events_op.to_events(committed, spec.SCHEMA_NAME, spec.TABLE_NAME)
    # k = floor(lsn / SLOT) - 1 (LSN layout in trace/spec.py): reshard
    # each event to its key's logical table
    shard = (F.floor(F.col("lsn") / spec.SLOT) - 1) % _ROUTE_SHARDS
    ev = ev.withColumn(
        "table", F.concat(F.lit(spec.TABLE_NAME + "_"), shard.cast("string"))
    )
    routed = events_op.stamp_subjects(
        ev.drop("subject"),
        topic="STREAM",
        topic_prefix="prefix_",
        topics_map=_ROUTE_TOPICS_MAP,
    )
    return routed.groupBy("subject").agg(F.count(F.lit(1)).alias("n"))


def q_cdc_event_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Kafka event-feed path (K2) end to end, driver-hard: trace ->
    assembly -> event projection -> injected at-least-once redelivery
    (every 7th LSN duplicated — the crash-between-publish-and-ack shape,
    README.md:57) -> the REAL streaming consumer dedup
    (``dedup_event_stream``: dropDuplicatesWithinWatermark on the
    deterministic event id) -> ``kafka_payload`` (key, value, topic) rows
    exactly as the producer would publish them (kafka.go:110-153,
    messageKeyFrom='repo' with table-name fallback, event.go:24-36
    routing). The oracle reconstructs the byte-exact payload JSON in
    closed form and hashes it — a drift in id derivation, JSON field
    order, key fallback, routing, or dedup shows up as a hash or row
    mismatch."""
    from .operators.sink import dedup_event_stream, kafka_payload

    trace = generator.build_trace(spark, sf_dir, amplify=AMPLIFY)
    committed, _ = assemble_transactions(trace)
    ev = events_op.to_events(committed, spec.SCHEMA_NAME, spec.TABLE_NAME)
    redelivered = ev.unionByName(ev.filter(F.col("lsn") % 7 == 0))
    feed_dir = _scratch("wal_feed_")
    redelivered.write.mode("overwrite").parquet(feed_dir)
    stream = spark.readStream.schema(redelivered.schema).parquet(feed_dir)
    payload = kafka_payload(
        dedup_event_stream(stream, watermark_delay="30 minutes"),
        message_key_from="repo",
    )
    sink = f"event_feed_{os.getpid()}"
    q = (
        payload.writeStream.format("memory")
        .queryName(sink)
        .option(
            "checkpointLocation", _scratch("wal_feed_ckpt_")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink).select(
        "key", "topic", F.md5("value").alias("payload_md5")
    )


def q_cdc_quarantine_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop commits for tx_id % 13 == 0 -> those txs quarantine
    (ErrMessageLost analog, parser.go:20-23)."""
    trace = generator.build_trace(spark, sf_dir, amplify=AMPLIFY)
    broken = trace.filter(~((F.col("op") == "C") & (F.col("tx_id") % 13 == 0)))
    committed, quarantined = assemble_transactions(broken)
    return (
        committed.select(F.lit("committed").alias("kind"))
        .unionByName(quarantined.select(F.lit("quarantined").alias("kind")))
        .groupBy("kind")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _cell_sig(tags_col: str, vals_col: str):
    """Canonical string of a decoded positional tuple: 't:<val>' for sent
    cells, bare 'n'/'u' tags otherwise, ';'-joined. NULL tuple -> ''."""
    return F.concat_ws(
        ";",
        F.zip_with(
            F.col(tags_col),
            F.col(vals_col),
            lambda t, v: F.when(t == "t", F.concat(F.lit("t:"), v)).otherwise(t),
        ),
    )


def q_cdc_decode_framed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Framed binary roundtrip, hashed PER FRAME: encode the full sf
    trace to pgoutput wire bytes (trace/framed.py), decode with the
    vectorized batch-numpy decoder, and emit one digest row per data
    frame covering every positional cell tag and value (parser.go:178-344
    byte parity at thousands of frames — the census-only form of this
    gate could not catch a cell-level decoder regression)."""
    trace = generator.build_trace(spark, sf_dir, amplify=AMPLIFY)
    frames = framed.frames_from_columnar(trace)
    decoded = decode_op.decode_frames(frames)
    return decoded.filter(F.col("op").isin("I", "U", "D")).select(
        F.col("lsn"),
        F.col("op"),
        F.md5(
            F.concat_ws(
                "|",
                F.col("op"),
                F.col("lsn").cast("string"),
                _cell_sig("new_cell_tags", "new_cell_vals"),
                _cell_sig("old_cell_tags", "old_cell_vals"),
            )
        ).alias("frame_sha"),
    )


def q_cdc_decode_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roundtrip op census over ALL message kinds (B/C/R/I/U/D + ignored
    O/Y passthrough counts — P0/P3 dispatch coverage; the per-frame byte
    parity lives in cdc_decode_framed)."""
    trace = generator.build_trace(spark, sf_dir, amplify=AMPLIFY)
    frames = framed.frames_from_columnar(trace)
    decoded = decode_op.decode_frames(frames)
    return decoded.groupBy("op").agg(F.count(F.lit(1)).alias("n"))


def q_cdc_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-repo rollup via the salted two-phase aggregation (hot repo =
    ~1/3 of keys; north_rule skew handling). Result must equal a plain
    GROUP BY — the oracle checks exactly that."""
    from .operators import skew

    final = _final_state_df(spark, sf_dir)
    return skew.salted_agg(
        final, ["repo"], ["path"], {"n_paths": ("count", "path")}, buckets=16
    )


def q_cdc_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-epoch replay; returns the lake's per-commit lineage counters
    (W1/W2 resumability surface). Oracle: closed-form per-epoch key
    counts from the trace spec."""
    from .pipeline import replay_batch

    trace = generator.build_trace(spark, sf_dir, amplify=AMPLIFY)
    nk = generator.num_keys(spark, sf_dir, AMPLIFY)
    split_lsn = (nk // 2 + 1) * 16  # key k owns LSN slot [(k+1)*16, ...)
    root = _scratch("wal_lineage_")
    table = LakeTable.create(spark, root, ["repo", "path"], FIELDS, num_buckets=16)
    cfg = PipelineConfig(num_buckets=16)
    replay_batch(trace.filter(F.col("lsn") < split_lsn), table, cfg, "e0")
    table = LakeTable.load(spark, root)
    replay_batch(trace.filter(F.col("lsn") >= split_lsn), table, cfg, "e1")
    table = LakeTable.load(spark, root)
    rows = [
        (e["batch_key"].split(":")[0], e["upserts"], e["deletes"])
        for e in table.lineage()
    ]
    return spark.createDataFrame(
        rows, "epoch string, upserts bigint, deletes bigint"
    )


def q_cdc_maintenance_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintenance lifecycle under the oracle: two-epoch replay ->
    compact() (tombstone GC at the last-applied watermark + one file per
    bucket, lake/table.py:507-556) -> expire_snapshots() keeping exactly
    back to the epoch-0 commit (table.py:558-596) -> read BOTH the
    current snapshot and the time-travel snapshot at epoch 0. Proves the
    rewrite changed no visible state and expiry kept time travel intact
    (Iceberg rewrite_data_files + expire_snapshots semantics)."""
    from .pipeline import replay_batch

    trace = generator.build_trace(spark, sf_dir, amplify=AMPLIFY)
    nk = generator.num_keys(spark, sf_dir, AMPLIFY)
    split_lsn = (nk // 2 + 1) * spec.SLOT  # key k owns [(k+1)*SLOT, ...)
    root = _scratch("wal_maint_")
    table = LakeTable.create(spark, root, ["repo", "path"], FIELDS, num_buckets=16)
    cfg = PipelineConfig(num_buckets=16)
    replay_batch(trace.filter(F.col("lsn") < split_lsn), table, cfg, "e0")
    v_epoch0 = LakeTable.load(spark, root).manifest["version"]
    replay_batch(
        trace.filter(F.col("lsn") >= split_lsn),
        LakeTable.load(spark, root), cfg, "e1",
    )
    table = LakeTable.load(spark, root)
    table.compact()  # watermark = last_applied_lsn: every tombstone GCs
    table = LakeTable.load(spark, root)
    table.expire_snapshots(keep_last=table.manifest["version"] - v_epoch0 + 1)

    def _pub(t: LakeTable, phase: str) -> DataFrame:
        df = t.read_public()
        if "stars" not in df.columns:
            # the epoch-0 snapshot predates the Relation-v2 evolution
            df = df.withColumn("stars", F.lit(None).cast("int"))
        return df.select(
            F.lit(phase).alias("phase"),
            "repo",
            "path",
            "commit",
            "lang",
            "content",
            F.col("stars").cast("int").alias("stars"),
            F.sha2(F.coalesce(F.col("content"), F.lit("")), 256).alias(
                "content_sha"
            ),
        )

    return _pub(LakeTable.load(spark, root), "current").unionByName(
        _pub(LakeTable.load(spark, root, version=v_epoch0), "epoch0")
    )


def q_cdc_cast_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-width OID cast matrix (T2) — every OID in the reference's
    AssertValue dispatch (data.go:59-125, pg_type.go:5-21): bool, int2
    (with an out-of-range permissive-NULL case), int4, int8, text,
    varchar, timestamp (NTZ layout data.go:86-87), timestamptz, date +
    time (kept as strings, data.go:90-91), uuid (case-canonicalized),
    jsonb (unmarshal/remarshal normalization incl. malformed -> NULL,
    data.go:94-104), and unknown-OID string fallthrough."""
    from .functions import casts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    j_raw = F.when(did % 7 == 0, F.lit("not json{")).otherwise(
        F.concat(
            F.lit('{"a": ['),
            did.cast("string"),
            F.lit(', true, null], "z": "v'),
            did.cast("string"),
            F.lit('"}'),
        )
    )
    d = docs.select(
        "doc_id",
        F.when(did % 2 == 0, F.lit("t")).otherwise(F.lit("f")).alias("b"),
        F.when(did % 13 == 0, F.lit("99999"))
        .otherwise((did % 1000 - 500).cast("string"))
        .alias("i2"),
        F.col("n_chars").cast("string").alias("i"),
        (did * 1000000007).cast("string").alias("l"),
        F.concat(F.lit("txt-"), did.cast("string")).alias("txt"),
        F.concat(F.lit("vc-"), did.cast("string")).alias("vc"),
        F.lit("2022-08-27 17:44:58").alias("ts"),
        F.lit("2022-08-27 17:44:58+02").alias("tz"),
        F.lit("2022-08-27").alias("dt"),
        F.lit("17:44:58").alias("tm"),
        F.upper(F.md5(F.col("text"))).alias("u"),
        j_raw.alias("j"),
        F.lit("(1,2)").alias("pt"),
    )
    return d.select(
        "doc_id",
        casts.cast_text_value(F.col("b"), casts.BOOL_OID).alias("as_bool"),
        casts.cast_text_value(F.col("i2"), casts.INT2_OID).alias("as_i2"),
        casts.cast_text_value(F.col("i"), casts.INT4_OID).alias("as_int"),
        casts.cast_text_value(F.col("l"), casts.INT8_OID).alias("as_long"),
        casts.cast_text_value(F.col("txt"), casts.TEXT_OID).alias("as_text"),
        casts.cast_text_value(F.col("vc"), casts.VARCHAR_OID).alias("as_varchar"),
        casts.cast_text_value(F.col("ts"), casts.TIMESTAMP_OID)
        .cast("string")
        .alias("ts_ntz_str"),
        F.unix_timestamp(
            casts.cast_text_value(F.col("tz"), casts.TIMESTAMPTZ_OID)
        ).alias("tz_epoch"),
        casts.cast_text_value(F.col("dt"), casts.DATE_OID).alias("as_date"),
        casts.cast_text_value(F.col("tm"), casts.TIME_OID).alias("as_time"),
        casts.cast_text_value(F.col("u"), casts.UUID_OID).alias("as_uuid"),
        casts.cast_text_value(F.col("j"), casts.JSONB_OID).alias("as_jsonb"),
        casts.cast_text_value(F.col("pt"), 600).alias("as_unknown"),
    )


# --------------------------------------------------------------------------
# CDC oracle SQL
# --------------------------------------------------------------------------


def _oracle_cdc() -> dict[str, str]:
    A = AMPLIFY
    d = spec.DELETE_MOD
    base = {
        "cdc_replay_final_state": oracle_final_state(),
        "cdc_tailing_replay": oracle_final_state(),
        "cdc_tailing_drain": oracle_final_state(),
        "cdc_lww_compaction": oracle_final_state(),
        "cdc_replay_overlap_dedup": oracle_final_state(),
        "cdc_delta_commits": oracle_final_state(),
        # truncate barrier just before key k_tr wipes exactly keys < k_tr
        "cdc_truncate": (
            "WITH " + _keys_cte() + "," + _final_cte()
            + _final_select(
                f"k%{d} <> 0 AND k >= (SELECT count(*)*{A} FROM documents)//4"
            )
        ),
        # deletes filtered out -> deleted keys keep their last content
        "cdc_filter_allowlist": (
            "WITH " + _keys_cte() + "," + _final_cte() + _final_select("TRUE")
        ),
        # per-event typed-projection evidence: arity and stars flip at
        # the Relation-v2 boundary for every key after k_evo
        "cdc_schema_evolution": f"""
WITH {_keys_cte()}
SELECT ((k+1)*{spec.SLOT} + 1 + r.range)::BIGINT AS lsn,
       CASE WHEN r.range = 0 THEN 'I' ELSE 'U' END AS op,
       (5 + CASE WHEN k >= k_evo THEN 1 ELSE 0 END)::INT AS n_cells,
       (CASE WHEN k >= k_evo THEN k%{spec.STARS_MOD} END)::INT AS stars
FROM attrs, range({spec.NVER_MOD}) r WHERE r.range < n_ver""",
        "cdc_tx_assembly": f"""
WITH {_keys_cte()}
SELECT k AS tx_id,
       (n_ver + CASE WHEN k%{d}=0 THEN 1 ELSE 0 END)::BIGINT AS n_events,
       epoch(TIMESTAMP '{spec.EPOCH}' + k * INTERVAL 1 second)::BIGINT AS commit_epoch
FROM attrs""",
        "cdc_event_projection": f"""
WITH {_keys_cte()},
rows_ AS (
  SELECT (k+1)*{spec.SLOT} + 1 + r.range AS lsn, r.range AS seq,
         CASE WHEN r.range = 0 THEN 'INSERT' ELSE 'UPDATE' END AS action
  FROM attrs, range({spec.NVER_MOD}) r WHERE r.range < n_ver
  UNION ALL
  SELECT (k+1)*{spec.SLOT} + 5 AS lsn, n_ver AS seq, 'DELETE' AS action
  FROM attrs WHERE k%{d} = 0
),
h AS (SELECT *, sha256(lsn||':'||seq) AS hh FROM rows_)
SELECT substr(hh,1,8)||'-'||substr(hh,9,4)||'-'||substr(hh,13,4)||'-'||
       substr(hh,17,4)||'-'||substr(hh,21,12) AS id, action, lsn
FROM h""",
        # closed form of the 150-shard broadcast routing: every third
        # shard remapped by the topicsMap, others fall through
        "cdc_subject_routing": f"""
WITH {_keys_cte()},
shards AS (
  SELECT k%{_ROUTE_SHARDS} AS shard,
         n_ver + CASE WHEN k%{d}=0 THEN 1 ELSE 0 END AS n_events
  FROM attrs
)
SELECT 'STREAM.prefix_' ||
       CASE WHEN shard%3 = 0
            THEN 't'||lpad(shard::VARCHAR, 3, '0')||'_mapped'
            ELSE 'public_repos_'||shard END AS subject,
       sum(n_events)::BIGINT AS n
FROM shards GROUP BY 1""",
        # byte-exact closed form of the Kafka producer rows: JSON field
        # order = event-struct order, null fields omitted, map keys in
        # generator insertion order, commitTime ISO-8601 .000Z; key =
        # data['repo'] with table-name fallback for DELETE (no data)
        "cdc_event_feed": f"""
WITH {_keys_cte()},
vers AS (
  SELECT a.*, r.range AS v
  FROM attrs a, range({spec.NVER_MOD}) r WHERE r.range < n_ver
),
iu AS (
  SELECT repo AS key_, ((k+1)*{spec.SLOT} + 1 + v)::BIGINT AS lsn, v AS seq,
         CASE WHEN v = 0 THEN 'INSERT' ELSE 'UPDATE' END AS action,
         '"data":{{"repo":"'||repo||'","path":"'||path
           ||'","commit":"'||substr(sha256(k||':'||v), 1, 40)
           ||'","lang":"'||lang||'"'
           ||CASE WHEN v > 0 AND (k+v)%{spec.TOAST_MOD} = 0 THEN ''
                  ELSE ',"content":"'||text||'#v'||v||'"' END
           ||CASE WHEN k >= k_evo THEN ',"stars":"'||(k%{spec.STARS_MOD})||'"'
                  ELSE '' END
           ||'}}'
           ||CASE WHEN v = 0 THEN ''
                  ELSE ',"data_old":{{"repo":"'||repo
                       ||'","path":"'||path||'"}}' END AS body,
         k
  FROM vers
),
dels AS (
  SELECT '{spec.TABLE_NAME}' AS key_, ((k+1)*{spec.SLOT} + 5)::BIGINT AS lsn,
         n_ver AS seq, 'DELETE' AS action,
         '"data_old":{{"repo":"'||repo||'","path":"'||path||'"}}' AS body, k
  FROM attrs WHERE k%{d} = 0
),
ev AS (SELECT * FROM iu UNION ALL SELECT * FROM dels),
built AS (
  SELECT key_, lsn,
    '{{"id":"'||substr(hh,1,8)||'-'||substr(hh,9,4)||'-'||substr(hh,13,4)
      ||'-'||substr(hh,17,4)||'-'||substr(hh,21,12)
      ||'","schema":"{spec.SCHEMA_NAME}","table":"{spec.TABLE_NAME}"'
      ||',"action":"'||action||'",'||body
      ||',"commitTime":"'
      ||strftime(TIMESTAMP '{spec.EPOCH}' + k * INTERVAL 1 second,
                 '%Y-%m-%dT%H:%M:%S.000Z')
      ||'"}}' AS value
  FROM (SELECT *, sha256(lsn||':'||seq) AS hh FROM ev)
)
SELECT key_ AS "key",
       'wal_listener.{spec.SCHEMA_NAME}_{spec.TABLE_NAME}' AS topic,
       md5(value) AS payload_md5
FROM built""",
        "cdc_quarantine_integrity": f"""
WITH {_keys_cte()},
c AS (SELECT k, n_ver + CASE WHEN k%{d}=0 THEN 1 ELSE 0 END AS n FROM attrs)
SELECT 'committed' AS kind, sum(n)::BIGINT AS n FROM c WHERE k%13 <> 0
UNION ALL
SELECT 'quarantined' AS kind, sum(n)::BIGINT AS n FROM c WHERE k%13 = 0""",
        # per-frame closed form of the wire tuples: positional cells in
        # Relation ordinal order, 't:<val>' / 'n' / 'u' tags, old tuple
        # key-only ('K' kind: non-key positions are 'n'); D old tuples
        # use base arity (encoder never widens a key-only delete)
        "cdc_decode_framed": f"""
WITH {_keys_cte()},
vers AS (
  SELECT a.*, r.range AS v
  FROM attrs a, range({spec.NVER_MOD}) r WHERE r.range < n_ver
),
iu AS (
  SELECT ((k+1)*{spec.SLOT} + 1 + v)::BIGINT AS lsn,
         CASE WHEN v = 0 THEN 'I' ELSE 'U' END AS op,
         't:'||repo||';t:'||path
           ||';t:'||substr(sha256(k||':'||v), 1, 40)
           ||';t:'||lang||';'
           ||CASE WHEN v > 0 AND (k+v)%{spec.TOAST_MOD} = 0
                  THEN 'u' ELSE 't:'||text||'#v'||v END
           ||CASE WHEN k >= k_evo THEN ';t:'||(k%{spec.STARS_MOD})
                  ELSE '' END AS new_sig,
         CASE WHEN v = 0 THEN ''
              ELSE 't:'||repo||';t:'||path||';n;n;n'
                   ||CASE WHEN k >= k_evo THEN ';n' ELSE '' END
         END AS old_sig
  FROM vers
),
dels AS (
  SELECT ((k+1)*{spec.SLOT} + 5)::BIGINT AS lsn, 'D' AS op, '' AS new_sig,
         't:'||repo||';t:'||path||';n;n;n' AS old_sig
  FROM attrs WHERE k%{d} = 0
),
frames AS (SELECT * FROM iu UNION ALL SELECT * FROM dels)
SELECT lsn, op, md5(op||'|'||lsn||'|'||new_sig||'|'||old_sig) AS frame_sha
FROM frames""",
        "cdc_decode_census": f"""
WITH {_keys_cte()},
agg AS (SELECT count(*) AS nk, sum(n_ver)::BIGINT AS nv,
               count(*) FILTER (WHERE k%{d}=0) AS nd
        FROM attrs)
SELECT op, n FROM (
  SELECT 'B' AS op, nk::BIGINT AS n FROM agg
  UNION ALL SELECT 'C', nk::BIGINT FROM agg
  UNION ALL SELECT 'I', nk::BIGINT FROM agg
  UNION ALL SELECT 'U', (nv - nk)::BIGINT FROM agg
  UNION ALL SELECT 'D', nd::BIGINT FROM agg
  UNION ALL SELECT 'R', 2::BIGINT
  UNION ALL SELECT 'O', 1::BIGINT
  UNION ALL SELECT 'Y', 1::BIGINT
) t""",
        # compaction + snapshot expiry change nothing visible: current ==
        # full final state, time-travel at epoch 0 == the half-key state
        "cdc_maintenance_lifecycle": (
            "WITH " + _keys_cte() + "," + _final_cte()
            + f"""
SELECT 'current' AS phase, t.* FROM ({_final_select(f"k%{d} <> 0")}) t
UNION ALL
SELECT 'epoch0' AS phase, t.* FROM ({_final_select(
    f"k%{d} <> 0 AND k < (SELECT count(*)*{A} FROM documents)//2"
)}) t"""
        ),
        "cdc_skew_salted_agg": f"""
WITH {_keys_cte()}
SELECT repo, count(*) AS n_paths
FROM attrs WHERE k%{d} <> 0 GROUP BY repo""",
        "cdc_lineage": f"""
WITH {_keys_cte()},
half AS (SELECT (SELECT count(*)*{A} FROM documents)//2 AS h)
SELECT 'e0' AS epoch,
       (SELECT count(*) FROM attrs, half WHERE k < h AND k%{d} <> 0)::BIGINT AS upserts,
       (SELECT count(*) FROM attrs, half WHERE k < h AND k%{d} = 0)::BIGINT AS deletes
UNION ALL
SELECT 'e1',
       (SELECT count(*) FROM attrs, half WHERE k >= h AND k%{d} <> 0)::BIGINT,
       (SELECT count(*) FROM attrs, half WHERE k >= h AND k%{d} = 0)::BIGINT""",
        "cdc_cast_matrix": """
SELECT doc_id,
  CAST(CASE WHEN doc_id%2=0 THEN 't' ELSE 'f' END AS BOOLEAN) AS as_bool,
  TRY_CAST(CASE WHEN doc_id%13=0 THEN '99999'
                ELSE (doc_id%1000 - 500)::VARCHAR END AS SMALLINT) AS as_i2,
  n_chars::INT AS as_int,
  (doc_id * 1000000007)::BIGINT AS as_long,
  'txt-'||doc_id AS as_text,
  'vc-'||doc_id AS as_varchar,
  CAST('2022-08-27 17:44:58' AS TIMESTAMP)::VARCHAR AS ts_ntz_str,
  epoch(CAST('2022-08-27 17:44:58+02' AS TIMESTAMPTZ))::BIGINT AS tz_epoch,
  '2022-08-27' AS as_date,
  '17:44:58' AS as_time,
  lower(upper(md5(text))) AS as_uuid,
  CASE WHEN doc_id%7=0 THEN NULL
       ELSE json('{"a": ['||doc_id||', true, null], "z": "v'||doc_id||'"}')::VARCHAR
  END AS as_jsonb,
  '(1,2)' AS as_unknown
FROM documents""",
    }
    return base


CDC_QUERIES = {
    "cdc_replay_final_state": q_cdc_replay_final_state,
    "cdc_tailing_replay": q_cdc_tailing_replay,
    "cdc_tailing_drain": q_cdc_tailing_drain,
    "cdc_lww_compaction": q_cdc_lww_compaction,
    "cdc_truncate": q_cdc_truncate,
    "cdc_filter_allowlist": q_cdc_filter_allowlist,
    "cdc_replay_overlap_dedup": q_cdc_replay_overlap_dedup,
    "cdc_delta_commits": q_cdc_delta_commits,
    "cdc_schema_evolution": q_cdc_schema_evolution,
    "cdc_tx_assembly": q_cdc_tx_assembly,
    "cdc_event_projection": q_cdc_event_projection,
    "cdc_subject_routing": q_cdc_subject_routing,
    "cdc_event_feed": q_cdc_event_feed,
    "cdc_quarantine_integrity": q_cdc_quarantine_integrity,
    "cdc_decode_framed": q_cdc_decode_framed,
    "cdc_decode_census": q_cdc_decode_census,
    "cdc_cast_matrix": q_cdc_cast_matrix,
    "cdc_skew_salted_agg": q_cdc_skew_salted_agg,
    "cdc_maintenance_lifecycle": q_cdc_maintenance_lifecycle,
    "cdc_lineage": q_cdc_lineage,
}
