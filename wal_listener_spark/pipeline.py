"""End-to-end replay pipeline: trace micro-batch -> lake MERGE.

One function per SURVEY.md §3.2 stage, and ``replay_batch`` composing
them — used identically by bounded batch replay, the Structured
Streaming ``foreachBatch`` sink, and the driver-facing queries.

Stage order mirrors the reference hot path ``processMessage``
(``/root/reference/internal/listener/listener.go:388-436``):
parse -> tx flush on commit -> filter -> event assembly -> publish ->
ack. Our publish is the lake MERGE; our ack is the snapshot commit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import PipelineConfig
from .lake.table import LakeTable, PendingFold
from .operators import apply as apply_op
from .operators.filters import allowlist_filter
from .operators.registry import RelationRegistry, RelationSchema, typed_changes


#: above this relation count the stamped lookup becomes a broadcast
#: join — a CASE chain of hundreds of branches blows up Catalyst
#: analysis time O(relations) per column
STAMP_BROADCAST_THRESHOLD = 16


def _phase_timer():
    """Env-gated phase timing (``WAL_TIMING=1``): stderr lines per
    replay phase, for finding where non-compute wall seconds go (driver
    scheduling gaps, stage tails). Zero cost when unset."""
    import os
    import sys
    import time

    if not os.environ.get("WAL_TIMING"):
        return lambda label: None
    state = {"t": time.time()}

    def mark(label: str) -> None:
        now = time.time()
        print(
            f"[wal-timing] {label}: {now - state['t']:.2f}s",
            file=sys.stderr, flush=True,
        )
        state["t"] = now

    return mark


def stamp_table_names(df: DataFrame, registry: RelationRegistry) -> DataFrame:
    """Data rows carry only rel_id; resolve schema/table from the
    registry (the T1 registry lookup, wal.go:70-76). Few relations:
    a constant-folded CASE expression (no join at all). Many relations:
    a broadcast hash join against the tiny (rel_id, schema, table)
    frame — same plan shape either way (no shuffle of the payload)."""
    rels = registry.relations
    if len(rels) > STAMP_BROADCAST_THRESHOLD:
        spark = df.sparkSession
        m = spark.createDataFrame(
            [(s.rel_id, s.schema_name, s.table_name) for s in rels.values()],
            "rel_id int, schema_name string, table_name string",
        )
        return df.drop("schema_name", "table_name").join(
            F.broadcast(m), "rel_id", "left"
        )
    sch = F.lit(None).cast("string")
    tbl = F.lit(None).cast("string")
    for rel_id, s in rels.items():
        sch = F.when(F.col("rel_id") == rel_id, F.lit(s.schema_name)).otherwise(sch)
        tbl = F.when(F.col("rel_id") == rel_id, F.lit(s.table_name)).otherwise(tbl)
    return df.withColumn("schema_name", sch).withColumn("table_name", tbl)


#: sentinel for "caller did not precompute the truncate barrier"
_UNSET = object()


def compact_for_merge(
    typed: DataFrame, schema: RelationSchema, t_lsn: "int | None | object" = _UNSET
) -> tuple[DataFrame, int | None]:
    """Batch-local LWW compaction keeping delete markers (the merge
    needs them to delete target rows), plus the truncate barrier.

    ``t_lsn``: pass the relation's truncate barrier when the caller
    already knows it (replay_batch extracts it from the fused one-scan
    census — running ``truncate_barrier_lsn`` here again would pay a
    dedicated collect job per batch for information the census already
    produced). Standalone callers omit it and pay the single scan."""
    from .lake.table import BUCKET_COL

    if t_lsn is _UNSET:
        t_lsn = apply_op.truncate_barrier_lsn(typed)
    data = typed.filter(F.col("op").isin("I", "U", "D"))
    compacted = apply_op.last_write_wins(
        data,
        key_cols=schema.key_columns,
        value_cols=schema.value_columns,
        toastable_cols=schema.value_columns,
        emit_set_markers=True,
        # callers that pre-bucketed the typed frame get the windows
        # partitioned by (bucket, keys) — same groups, but a
        # bucket-aligned input then needs no window exchange
        extra_partition_cols=(
            [BUCKET_COL] if BUCKET_COL in typed.columns else None
        ),
    )
    if t_lsn is not None:
        # keys fully before the barrier are wiped by the merge's
        # truncate handling; their change rows must not resurrect them
        compacted = compacted.filter(
            (F.col("lsn") > F.lit(t_lsn)) | (F.col("op") == "D")
        )
    return compacted, t_lsn


def replay_batch(
    trace: DataFrame,
    table: "LakeTable | LakeCatalog",
    cfg: PipelineConfig,
    batch_key: str,
) -> dict:
    """Apply one micro-batch of trace rows to the lake.

    ``table`` is either a bare :class:`LakeTable` (single-relation
    stream — the flagship repos table) or a :class:`LakeCatalog`
    (multi-relation stream: each relation merges into ITS OWN table
    under the catalog root, the analog of per-table topics —
    event.go:24-36). A bare LakeTable with a multi-relation registry is
    rejected: one shared table cannot isolate relation key spaces or
    scope a TRUNCATE to the relation that issued it.

    Exactly-once: (1) replayed epochs no-op on batch_key (the reference's
    LSN-ack analog, listener.go:426); (2) the merge's per-key
    lsn-monotonic guard (tombstoned deletes, truncate watermark) absorbs
    overlapping or out-of-order LSN ranges — micro-batches may arrive in
    any order (file listing makes no ordering promise) and the state
    still converges to the sequential result.

    Merge-on-read targets (``cfg.delta_commits``) take the delta fold off
    the commit path: when a fold is due on a bare LakeTable it starts on
    a background thread BEFORE the census (it reads only committed
    deltas, so it overlaps the assembler and census), and every exit
    resolves it — a data epoch commits it in the same snapshot as its
    delta, a truncate / full-merge epoch commits it before merge_batch,
    an empty or replayed epoch commits it alone, an error abandons it.
    LakeCatalog targets fold in line.
    """
    from .lake.catalog import LakeCatalog

    fold = None
    if (
        cfg.delta_commits
        and not isinstance(table, LakeCatalog)
        and table.delta_count >= cfg.delta_fold_every
    ):
        fold = table.start_fold()
    try:
        stats = _replay_batch(trace, table, cfg, batch_key, fold)
    except BaseException:
        if fold is not None:
            fold.abandon()
        raise
    if fold is not None and not fold.resolved:
        table.commit_fold(fold)
    return stats


def _replay_batch(
    trace: DataFrame,
    table: "LakeTable | LakeCatalog",
    cfg: PipelineConfig,
    batch_key: str,
    fold: "PendingFold | None",
) -> dict:
    from .lake.catalog import LakeCatalog

    mark = _phase_timer()
    is_catalog = isinstance(table, LakeCatalog)
    # NOTE: deliberately NOT persisting the batch. The columnar cache
    # build for map/array-typed rows costs more than the 2-3 extra
    # parquet scans it saves (measured: +26s on a 500k-event batch at 32
    # threads), and the scans are pushed-down column-pruned reads.

    # Control plane in ONE driver action: Relation rows (P4, tiny), the
    # high-LSN watermark, the per-table truncate barriers AND the
    # tx-integrity census (P1/P2/T5) collect as a single 1-row result.
    # Each extra driver round-trip costs seconds of fixed scheduling/
    # barrier latency that dominates small epochs and caps scaling
    # efficiency on big ones; both scans below are column-pruned (never
    # touch the payload maps).
    # The per-tx aggregate carries ONLY primitive aggs. Collecting the
    # (rare) Truncate/Relation structs inside this groupBy allocated two
    # list buffers PER GROUP — an OLTP-shaped trace has ~2 rows/tx, so a
    # 33M-event batch made 16M groups x 2 = 32M list buffers and spent
    # most of the census in GC full pauses (measured: 23-29s -> 5.6s at
    # local[8] after moving T/R collection to a filtered side aggregate).
    ctl = None
    if cfg.assume_complete_txs:
        # LIGHT census for assembled batches (the stateful upstream
        # releases only complete transactions, so the ErrMessageLost
        # check is its contract, not this batch's): ONE flat aggregate,
        # no per-tx groupBy. Rare Relation/Truncate-carrying triggers
        # fall back to the full census below. This halves the
        # per-trigger fixed cost on the live-tail path (measured
        # ~1.1s -> ~0.5s at 8 state partitions).
        light = trace.agg(
            F.max("lsn").alias("high_lsn"),
            F.sum(F.when(F.col("op").isin("R", "T"), 1).otherwise(0)).alias(
                "n_ctrl"
            ),
        ).collect()[0]
        if not light["n_ctrl"]:
            ctl = {"high_lsn": light["high_lsn"], "bad": [],
                   "truncs": [], "rels": [], "storm_cands": None,
                   "total_changes": None}
            mark("census_light")
    if ctl is None:
        per_tx = trace.select("tx_id", "lsn", "op").groupBy("tx_id").agg(
            F.max("lsn").alias("hi_lsn"),
            F.sum(
                F.when(F.col("op").isin("I", "U", "D"), 1).otherwise(0)
            ).alias("n_changes"),
            F.max(F.when(F.col("op") == "C", 1).otherwise(0)).alias("has_commit"),
        )
        summary = per_tx.agg(
            F.max("hi_lsn").alias("high_lsn"),
            F.collect_list(
                F.when(
                    (F.col("n_changes") > 0) & (F.col("has_commit") == 0),
                    F.struct("tx_id", "n_changes"),
                )
            ).alias("bad"),
            # storm statistics ride the census for free (same job): the
            # total change count plus every transaction above the 50k
            # absolute floor (candidates for the storm special-case —
            # txs that large are vanishingly rare in OLTP streams, so
            # the list is bounded) drive the adaptive hot-key handling
            # below
            F.sum("n_changes").alias("total_changes"),
            F.collect_list(
                F.when(
                    F.col("n_changes") > 50_000,
                    F.struct("tx_id", "n_changes"),
                )
            ).alias("storm_cands"),
        )
        # T/R rows are a vanishing fraction of the trace: collect them
        # from a pushed-down filtered scan, cross-joined into the same
        # single-row result so the whole control plane stays ONE driver
        # action
        ctrl_rows = trace.filter(F.col("op").isin("T", "R")).agg(
            F.collect_list(
                F.when(F.col("op") == "T", F.struct("rel_id", "lsn"))
            ).alias("truncs"),
            F.collect_list(
                F.when(
                    F.col("op") == "R",
                    F.struct(
                        "lsn", "rel_id", "schema_name", "table_name",
                        "rel_columns",
                    ),
                )
            ).alias("rels"),
        )
        ctl = summary.crossJoin(ctrl_rows).collect()[0]
        mark("census")

    registry = RelationRegistry.from_json(table.properties.get("registry"))
    registry.update_from_rows(ctl["rels"] or [])
    if not registry.relations:
        if ctl["high_lsn"] is None:
            return {"batch_key": batch_key, "noop": True, "reason": "empty_batch"}
        # data with no known relation: the reference fail-stops with
        # ErrMessageLost (wal.go:32, parser.go:79-81). Failing the epoch
        # is retryable and loses nothing; a silent noop would drop rows
        # a stateful upstream has already released exactly-once.
        raise ValueError(
            f"batch {batch_key} carries change rows but no relation is "
            "registered (seed the registry or include Relation messages)"
        )
    if ctl["high_lsn"] is None:
        # registry-only batch: persist what we learned, no data to merge
        table.properties["registry"] = registry.to_json()
        table.save_properties()
        return {"batch_key": batch_key, "noop": True, "reason": "no_rows"}
    high_lsn = ctl["high_lsn"]
    # per-relation truncate barrier (truncate fans out per relation —
    # parser.go:212-225; one table's truncate must not barrier another's)
    trunc_by_rel: dict[int, int] = {}
    for t in ctl["truncs"] or []:
        if t is not None and t["rel_id"] is not None:
            trunc_by_rel[t["rel_id"]] = max(
                trunc_by_rel.get(t["rel_id"], -1), t["lsn"]
            )

    # P1/P2/T5: transaction integrity without a payload-wide join. The
    # ErrMessageLost condition (a tx with changes but no Commit —
    # parser.go:20-23) came out of the fused control scan above (map-side
    # combined per-tx counts); the offending tx ids are excluded with a
    # broadcast filter. The payload rows never shuffle on tx_id — the
    # reference's per-tx buffering is an artifact of its socket loop,
    # not a data dependency of the final state.
    bad_rows = ctl["bad"] or []
    bad_txs = [r["tx_id"] for r in bad_rows]
    n_quarantined = sum(r["n_changes"] for r in bad_rows)

    committed = trace.filter(F.col("op").isin("I", "U", "D", "T"))
    if bad_txs and cfg.quarantine_uncommitted:
        committed = committed.filter(~F.col("tx_id").isin(bad_txs))
    committed = stamp_table_names(committed, registry)

    # Adaptive hot-key handling (guide §2.5): the default single-exchange
    # compaction sends every version of a key to ONE reducer, so an
    # update-storm transaction (the reference's hash-partitioner hot-key
    # hazard, kafka.go:120-128) turns one task into the stage straggler
    # (measured 17-22 s vs ~6 s storm-free on the 4.2M-event hot bench).
    # The census already aggregates per-tx change counts, so storm
    # candidates are free — transactions above 4x a reducer's fair share
    # (and the 50k absolute floor, so small batches never trigger) are
    # special-cased in compact_agg: their rows pre-aggregate separately
    # (map-side collapse, tiny exchange) and re-join the single-exchange
    # plan as partial maxes. Storm-free batches keep the plain plan.
    # A storm spread across MANY small transactions on one key is not
    # detected — set compact_pre_salt explicitly for that shape.
    pre_salt = cfg.compact_pre_salt
    total_chg = ctl["total_changes"]
    storm_txs: list[int] = []
    if pre_salt is None and ctl["storm_cands"] and total_chg:
        fair_share = total_chg / max(cfg.num_buckets, 1)
        storm_txs = [
            r["tx_id"] for r in ctl["storm_cands"]
            if r is not None and r["n_changes"] > 4 * fair_share
        ]

    # T3: allow-list filter
    filtered, obs = allowlist_filter(committed, cfg.filter_tables)

    stats: dict = {
        "batch_key": batch_key,
        "noop": False,
        "quarantined": n_quarantined,
        "tables": {},
    }

    if not is_catalog and len(registry.relations) > 1:
        raise ValueError(
            "multi-relation stream into a single LakeTable: a TRUNCATE or "
            "key collision would cross relations — replay into a "
            "LakeCatalog (lake/catalog.py) instead"
        )

    import os as _os

    items = sorted(registry.relations.items())

    # Multi-relation fan-in: merging per relation pays one full payload
    # scan + one compaction shuffle + one independently-planned merge
    # job PER TABLE — at 16 relations the per-plan driver cost alone
    # (3-5 s of eager Catalyst analysis each) dwarfs the payload work.
    # Every group of relations sharing a schema signature (and carrying
    # no truncate this epoch) instead goes through ONE grouped plan:
    # one compaction pass grouped by (rel_id, bucket, keys), one merge
    # join against the union of target snapshots, ONE write partitioned
    # by (rel_id, bucket) — then N cheap manifest commits
    # (LakeCatalog.merge_group). Per-epoch driver cost becomes
    # independent of the table count.
    grouped_ids: set[int] = set()
    if (
        is_catalog
        and len(items) > 2
        and not cfg.delta_commits
        and _os.environ.get("WAL_COMPACT") != "window"
    ):
        by_sig: dict = {}
        for rel_id, schema in items:
            if trunc_by_rel.get(rel_id) is not None:
                continue  # truncate epochs take the per-table path
            sig = (
                tuple(schema.key_columns),
                tuple((c, schema.oid_of(c)) for c in schema.value_columns),
            )
            by_sig.setdefault(sig, []).append((rel_id, schema))
        for group in by_sig.values():
            if len(group) < 3:
                continue
            g_ids = [r for r, _ in group]
            # catalog-wide parallelism for the shared one-plan merge:
            # (tables x per-table buckets), capped so a very wide catalog
            # doesn't explode task count — per-task payload shrinks with
            # the cap anyway since volume is fixed per epoch
            g_parts = min(
                table.num_buckets * len(g_ids),
                max(cfg.num_buckets * 4, 256),
            )
            compacted_all = apply_op.compact_agg(
                filtered.filter(F.col("rel_id").isin(g_ids)),
                group[0][1],
                num_buckets=table.num_buckets,
                pre_salt=pre_salt,
                storm_txs=storm_txs or None,
                extra_group_cols=["rel_id"],
                num_partitions=g_parts,
            )
            stats["tables"].update(
                table.merge_group(
                    group, compacted_all, high_lsn, batch_key,
                    selective=cfg.selective_buckets,
                    num_partitions=g_parts,
                )
            )
            grouped_ids.update(g_ids)
        items = [kv for kv in items if kv[0] not in grouped_ids]

    # one merge per relation, each into its own table (T7 routing)
    def _merge_relation(rel_id: int, schema) -> tuple[str, dict]:
        rel_table = table.table_for(schema) if is_catalog else table
        rel_table.ensure_columns(schema.spark_fields())
        rel_rows = filtered.filter(F.col("rel_id") == rel_id)
        # agg-based LWW pre-bucketed on the lake layout: ONE payload
        # shuffle feeds compaction, payload fetch, merge join and the
        # partitioned write (see apply.compact_agg). WAL_COMPACT=window
        # switches to the window-sort path (A/B knob).
        t_lsn = trunc_by_rel.get(rel_id)
        use_delta = cfg.delta_commits and t_lsn is None
        if _os.environ.get("WAL_COMPACT") == "window":
            from .lake.table import BUCKET_COL, _bucket_expr

            typed = typed_changes(rel_rows, schema)
            if not use_delta:
                # same prebucketed one-shuffle shape as the agg path:
                # bucket stamped + repartitioned BEFORE the window, and
                # the windows partition by (bucket, keys) — the single
                # exchange then feeds window sort, merge join and the
                # partitioned write (the A/B knob compares compaction
                # strategies, not merge plans)
                typed = typed.withColumn(
                    BUCKET_COL,
                    _bucket_expr(schema.key_columns, rel_table.num_buckets),
                ).repartition(rel_table.num_buckets, F.col(BUCKET_COL))
            # barrier comes from the census — same job count as the
            # default agg path (no dedicated truncate collect)
            compacted, _ = compact_for_merge(typed, schema, t_lsn=t_lsn)
            merge_input = compacted.select(
                *([BUCKET_COL] if not use_delta else []),
                *schema.key_columns,
                *schema.value_columns,
                *[f"__set_{c}" for c in schema.value_columns],
                *[f"__setlsn_{c}" for c in schema.value_columns],
                "lsn",
                "op",
            )
        else:
            compacted = apply_op.compact_agg(
                rel_rows, schema,
                # the bucket repartition exists to align the merge join +
                # partitioned write; a delta append has neither, so the
                # compaction groups at session width and append_delta
                # stamps the bucket COLUMN itself (one fewer exchange on
                # the per-trigger hot path)
                num_buckets=None if use_delta else rel_table.num_buckets,
                pre_salt=pre_salt,
                storm_txs=storm_txs or None,
            )
            if t_lsn is not None:
                compacted = compacted.filter(
                    (F.col("lsn") > F.lit(t_lsn)) | (F.col("op") == "D")
                )
            merge_input = compacted  # carries __bucket: one-shuffle merge
        if use_delta:
            # merge-on-read commit (live-tail latency path): append the
            # compacted set as a delta generation — the epoch's only
            # data job — committing the background fold in the same
            # snapshot (catalog tables fold in line, on cadence).
            # Truncate-carrying epochs fall through to the full merge
            # (which folds first).
            if fold is None and rel_table.delta_count >= cfg.delta_fold_every:
                rel_table.fold_deltas()
            return schema.qualified_name, rel_table.append_delta(
                merge_input,
                batch_key=f"{batch_key}:{schema.qualified_name}",
                high_lsn=high_lsn,
                registry_json=None if is_catalog else registry.to_json(),
                fold=fold,
            )
        if fold is not None:
            rel_table.commit_fold(fold)
        mstats = rel_table.merge_batch(
            merge_input,
            batch_key=f"{batch_key}:{schema.qualified_name}",
            high_lsn=high_lsn,
            truncate_lsn=t_lsn,
            selective=cfg.selective_buckets,
            coalesce_cols=schema.value_columns,
            # single-table mode keeps the registry in table properties;
            # catalog mode owns it at the catalog level (saved below)
            registry_json=None if is_catalog else registry.to_json(),
        )
        return schema.qualified_name, mstats

    if is_catalog and len(items) > 1 and cfg.max_parallel_merges > 1:
        # relations commit to disjoint tables, so their merges are
        # independent Spark jobs — submit concurrently (driver threads;
        # the scheduler interleaves stages) instead of a serial loop
        # that would bottleneck a many-table stream on per-job latency
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(
            max_workers=min(cfg.max_parallel_merges, len(items))
        ) as ex:
            for name, mstats in ex.map(lambda kv: _merge_relation(*kv), items):
                stats["tables"][name] = mstats
    else:
        for rel_id, schema in items:
            name, mstats = _merge_relation(rel_id, schema)
            stats["tables"][name] = mstats

    if is_catalog:
        table.properties["registry"] = registry.to_json()
        table.save_properties()

    mark("merges")
    if stats["tables"] and all(m.get("noop") for m in stats["tables"].values()):
        stats["noop"] = True

    if obs is not None:
        try:
            stats["filter_metrics"] = obs.get
        except Exception:
            pass
    return stats
