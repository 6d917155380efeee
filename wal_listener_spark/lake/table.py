"""LakeTable — an Iceberg-style copy-on-write table over parquet.

No Iceberg runtime jar ships in this environment, so the sink implements
the same contract natively (public Iceberg spec concepts: versioned
snapshot manifests, atomic pointer swap, schema evolution, snapshot
properties):

 - data lives in hash buckets on the merge key: ``bucket =
   pmod(xxhash64(key), num_buckets)`` — a MERGE only reads and rewrites
   *touched* buckets, never the whole table (at 100 TB a batch touching
   1% of keys rewrites ~1% of files);
 - a commit = write new bucket files -> write ``manifest/v{N}.json`` ->
   atomically swap the ``VERSION`` pointer (os.replace). A crash at any
   point leaves the previous snapshot readable (orphan files only);
 - snapshot properties carry ``last_applied_lsn``, the committed
   batch-id set and the relation registry — the lake-side half of the
   exactly-once protocol (the reference's LSN-ack/standby-status:
   ``/root/reference/internal/listener/listener.go:426-433,525-533``).
   A replayed foreachBatch epoch is a manifest-level no-op, and a
   replayed LSN range is a row-level no-op via the per-key
   ``__lsn``-monotonic merge guard;
 - schema evolution = adding columns to the manifest schema
   (schema-on-read fills NULL for old files) — the Spark analog of
   Iceberg ``ALTER TABLE ADD COLUMN`` driven by Relation messages
   (``parser.go:71-93``);
 - ``lineage`` records per-commit, per-bucket row counts — the
   per-partition lineage/metrics the north_rule requires.

Swap-in path for a real cluster: with
``org.apache.iceberg:iceberg-spark-runtime`` on the classpath the merge
below is one ``MERGE INTO ... WHEN MATCHED/NOT MATCHED`` statement; this
class keeps identical semantics without the jar.
"""

from __future__ import annotations

import functools
import json
import os
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as SparkTypes

from ..operators.apply import _part_spec

LSN_COL = "__lsn"
BUCKET_COL = "__bucket"
DELETED_COL = "__deleted"
#: hidden per-value-column set-LSN ("__clsn_<col>"): the LSN of the row
#: that last explicitly set the column. Column-level LWW needs it for
#: out-of-order epochs: a newer row that TOAST-skipped a column must not
#: discard an older epoch's explicit value arriving later. NULL = never
#: explicitly set in this table's lifetime (or a legacy file, where the
#: row LSN is the conservative fallback).
CLSN_PREFIX = "__clsn_"

#: committed-batch keys retained in the manifest. The epoch no-op guard
#: only needs the redelivery frontier (foreachBatch re-delivers the last
#: uncommitted epoch); anything older that replays is absorbed row-level
#: by the per-key LSN guard + tombstones, so pruning is safe — it trades
#: a manifest rewrite that would grow O(epochs) for a bounded one.
BATCH_KEY_RETENTION = 64


class AckCommitError(RuntimeError):
    """The snapshot commit (manifest/VERSION swap — our standby-status
    ack, listener.go:525-533) failed. Distinguished from merge/publish
    failures so problematic_events_total{kind} can meter them apart
    (metrics.go:21-59: parse / publish / ack)."""


def _bucket_expr(key_cols: list[str], num_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(num_buckets))


def _merge_out_cols(
    key_cols: list[str],
    value_cols: list[str],
    chg_cols: set[str],
    coalesce_cols: list[str],
    extra_cols: tuple[str, ...] = (),
) -> list:
    """Output expressions of the full-outer MERGE between a target
    snapshot aliased ``t`` and a compacted change set aliased ``c`` —
    THE single definition of the apply semantics, used by
    :func:`merge_tables`. ``extra_cols`` pass through via coalesce(t, c)
    (the relation id of a grouped merge)."""
    c_lsn = F.col("c.lsn")
    t_lsn = F.col(f"t.{LSN_COL}")
    has_c = c_lsn.isNotNull()
    has_t = t_lsn.isNotNull()
    wins = has_c & (~has_t | (c_lsn > t_lsn))  # per-key monotonic guard (W1)
    is_del = F.col("c.op") == "D"

    out_cols = []
    for k in key_cols:
        out_cols.append(F.coalesce(F.col(f"t.{k}"), F.col(f"c.{k}")).alias(k))
    t_deleted = F.coalesce(F.col(f"t.{DELETED_COL}"), F.lit(False))
    for v in value_cols:
        # Column-level last-write-wins. The row-level `wins` guard
        # alone cannot converge under out-of-order epochs + TOAST: a
        # newer row that TOAST-skipped a column would permanently
        # discard an older epoch's explicit value arriving later. So
        # each column carries its own set-LSN and the higher set-LSN
        # wins, with tombstones never resurrected and a losing DELETE
        # never clearing a newer row's columns.
        src = F.col(f"c.{v}") if v in chg_cols else F.lit(None)
        tgt = F.col(f"t.{v}")
        t_vlsn = F.coalesce(F.col(f"t.{CLSN_PREFIX}{v}"), t_lsn)
        if v in coalesce_cols and f"__set_{v}" in chg_cols:
            # marker-gated TOAST: explicitly-set wins (even explicit
            # NULL); unset keeps target
            c_set = F.col(f"c.__set_{v}")
        elif v in coalesce_cols:
            # legacy NULL-means-unchanged fallback (no markers)
            c_set = src.isNotNull()
        else:
            c_set = has_c
        if f"__setlsn_{v}" in chg_cols:
            c_vlsn = F.coalesce(F.col(f"c.__setlsn_{v}"), c_lsn)
        else:
            c_vlsn = c_lsn
        out_cols.append(
            F.when(wins & is_del, F.lit(None))
            .when(
                wins,
                F.when(c_set, src).otherwise(F.when(~t_deleted, tgt)),
            )
            .otherwise(  # target row newer
                F.when(t_deleted, tgt)  # tombstone: never resurrect
                .when(has_c & c_set & ~is_del & (c_vlsn > t_vlsn), src)
                .otherwise(tgt)
            )
            .alias(v)
        )
        # set-LSN bookkeeping: -1 = tracked row, column never set
        # (so an older explicit set can still claim it); stored NULL
        # only ever means a legacy pre-clsn file, where the row LSN
        # is the conservative (in-order-semantics) fallback above
        out_cols.append(
            F.when(wins & is_del, F.lit(-1))
            .when(
                wins,
                F.when(c_set, c_vlsn).otherwise(
                    F.when(~t_deleted & has_t, t_vlsn).otherwise(F.lit(-1))
                ),
            )
            .otherwise(
                F.when(t_deleted, F.lit(-1))
                .when(has_c & c_set & ~is_del & (c_vlsn > t_vlsn), c_vlsn)
                .otherwise(t_vlsn)
            )
            .cast("bigint")
            .alias(f"{CLSN_PREFIX}{v}")
        )
    out_cols.append(F.when(wins, c_lsn).otherwise(t_lsn).alias(LSN_COL))
    out_cols.append(
        F.when(wins, is_del).otherwise(t_deleted).alias(DELETED_COL)
    )
    out_cols.append(
        F.coalesce(F.col(f"t.{BUCKET_COL}"), F.col(f"c.{BUCKET_COL}")).alias(
            BUCKET_COL
        )
    )
    for e in extra_cols:
        out_cols.append(F.coalesce(F.col(f"t.{e}"), F.col(f"c.{e}")).alias(e))
    return out_cols


def _change_counts(sel=None, sfx: str = "") -> list:
    """Upsert/delete counters ``n{sfx}``/``nd{sfx}`` over the change rows
    ``sel`` selects (every row when None)."""
    is_del = F.col("op") == "D"
    return [
        F.count(F.lit(1) if sel is None else F.when(sel, 1)).alias(f"n{sfx}"),
        F.sum(
            F.when(is_del if sel is None else sel & is_del, 1).otherwise(0)
        ).alias(f"nd{sfx}"),
    ]


def merge_tables(
    members: list[tuple["LakeTable", str, int | None]],
    changes: DataFrame,
    high_lsn: int,
    new_dir: Callable[[], str],
    truncate_lsn: int | None = None,
    coalesce_cols: list[str] | None = None,
    registry_json: list[dict] | None = None,
    selective: bool = True,
    tag_col: str | None = None,
    num_partitions: int | None = None,
) -> list[dict]:
    """THE copy-on-write MERGE: one plan applies a compacted change set to
    N member tables of one schema and bucket count; each member then
    commits its own snapshot. Returns the members' stats, in order.

    ``members``: (table, batch_key, tag). A single-table merge has one
    member tagged None. A grouped merge tags each member with its value
    of ``tag_col`` (the relation id), which the change rows carry and
    which joins, partitions and writes as a leading key column — the way
    ``compact_agg``'s ``extra_group_cols`` generalise the compaction.
    Per member: a committed ``batch_key`` is a replayed-epoch no-op
    (dropped before the plan is built, so a crash between two members'
    commits re-runs only the uncommitted ones), pending deltas fold
    first, and the change rows are filtered at the member's truncate
    watermark (the stored one or this epoch's ``truncate_lsn``, whichever
    is higher).

    ``selective=True`` (incremental epochs without a truncate): a stats
    pre-pass materializes the change set once (persist) and collects
    each member's touched buckets, so the merge reads and rewrites ONLY
    those — a member without change rows rewrites nothing. Otherwise
    (wide batches: backfills, full replays, truncates): no pre-pass —
    every bucket is read, the change pipeline runs exactly once, inside
    the write job, and the counters ride it via ``observe``.

    Prebucketed changes (``__bucket`` present and partitioned on (tag,
    bucket) at ``num_partitions`` width — ``compact_agg``'s layout) keep
    their partitioning: the tagged union of the members' target reads is
    aligned to it, so the full-outer join on (tag, bucket, keys) and the
    write need no exchange on the change side. ONE write, partitioned by
    (tag, bucket), lands under ``new_dir()`` (called after the folds) and
    each member commits its slice by root-relative paths.
    """
    out: list[dict | None] = [None] * len(members)
    todo = []
    for i, (tb, batch_key, tag) in enumerate(members):
        if batch_key in tb.properties.get("committed_batches", {}):
            out[i] = {"batch_key": batch_key, "noop": True, "reason": "replayed_epoch"}
            continue
        # pending merge-on-read deltas fold into the base first: the
        # target read and selective bucket accounting assume the base
        # files ARE the state
        tb.fold_deltas()
        todo.append((i, tb, batch_key, tag))
    if not todo:
        return out

    first = todo[0][1]
    key_cols = first.key_cols
    value_cols = [f["name"] for f in first.manifest["schema"] if f["name"] not in key_cols]
    num_buckets = first.num_buckets
    extra = [tag_col] if tag_col else []
    tags = [tag for *_, tag in todo]
    sfxs = ["" if t is None else f"_{t}" for t in tags]

    def _by_tag(rows) -> dict:
        return {(r[tag_col] if tag_col else None): r for r in rows}

    chg = changes
    if tag_col:
        chg = chg.filter(F.col(tag_col).isin(tags))
    prebucketed = BUCKET_COL in chg.columns
    for _, tb, _, tag in todo:
        # truncate watermark: wipes everything applied before it, and
        # blocks any later-arriving pre-truncate change from resurrecting
        trunc = max(
            tb.properties.get("truncate_lsn", -1),
            -1 if truncate_lsn is None else truncate_lsn,
        )
        if trunc >= 0:
            keep = (F.col("lsn") > F.lit(trunc)) | (F.col("op") == "D")
            chg = chg.filter(keep if tag is None else (F.col(tag_col) != tag) | keep)
    if not prebucketed:
        chg = chg.withColumn(BUCKET_COL, _bucket_expr(key_cols, num_buckets))

    observation = persisted = None
    try:
        if selective and truncate_lsn is None:
            # one materialization of the (expensive) upstream pipeline,
            # reused by the stats pass and the merge join/write (the
            # cache preserves the bucket partitioning for the join below)
            chg = persisted = chg.persist()
            counts = _by_tag(
                chg.groupBy(*extra).agg(
                    *_change_counts(), F.collect_set(BUCKET_COL).alias("bks")
                ).collect()
            )
            affected = [sorted(counts[t]["bks"]) if t in counts else [] for t in tags]
        else:
            observation = Observation(f"merge-{uuid.uuid4().hex}")
            chg = chg.observe(observation, *[
                agg for t, sfx in zip(tags, sfxs)
                for agg in _change_counts(None if t is None else F.col(tag_col) == t, sfx)
            ])
            affected = [list(range(num_buckets)) for _ in tags]

        tag_type = chg.schema[tag_col].dataType if tag_col else None

        def _target(t: DataFrame, tag) -> DataFrame:
            t = t.withColumn(BUCKET_COL, _bucket_expr(key_cols, num_buckets))
            if truncate_lsn is not None:
                t = t.filter(F.col(LSN_COL) > F.lit(truncate_lsn))
            if tag is not None:
                t = t.withColumn(tag_col, F.lit(tag).cast(tag_type))
            return t

        # a member without committed files in its affected buckets adds
        # nothing to the union (16 unioned empty relations planned ~500
        # zero-row exchange tasks: 8 s of scheduling on a first-epoch
        # catalog backfill)
        parts = [
            _target(tb.read(aff, with_deltas=False), tag)
            for (_, tb, _, tag), aff in zip(todo, affected)
            if tb._bucket_files(aff)
        ]
        if not parts:
            # no target rows anywhere: one typed empty frame. Its tag is a
            # column, not a constant — a constant tag folds out of the
            # join keys and both sides re-exchange on (bucket, keys)
            empty = first.read([], with_deltas=False)
            if tag_col:
                empty = first.spark.createDataFrame(
                    [], first._read_schema().add(tag_col, tag_type)
                )
            parts = [_target(empty, None)]
        target = functools.reduce(DataFrame.unionByName, parts)
        if prebucketed:
            # align the target to the change side's (tag, bucket)
            # partitioning: the join below then needs NO exchange on the
            # change side and its output is already laid out for the
            # partitioned write
            target = target.repartition(*_part_spec(extra, num_buckets, num_partitions))

        # plain equality (keys are non-null by construction). With
        # prebucketed input the bucket column joins too: hash-partitioning
        # on (tag, bucket) satisfies the clustered distribution of (tag,
        # bucket, keys), so both sides stay put (one-shuffle merge).
        on = extra + ([BUCKET_COL] if prebucketed else []) + list(key_cols)
        joined = target.alias("t").join(
            chg.alias("c"), [F.col(f"t.{c}") == F.col(f"c.{c}") for c in on], "full_outer"
        )
        result = joined.select(
            *_merge_out_cols(
                key_cols, value_cols, set(chg.columns), coalesce_cols or [],
                extra_cols=tuple(extra),
            )
        )
        if not prebucketed:
            # cluster rows by bucket for the partitioned write
            result = result.repartition(
                max(sum(map(len, affected)), 1), *[F.col(c) for c in extra], F.col(BUCKET_COL)
            )
        # prebucketed: join output is already (tag, bucket)-partitioned —
        # the write's per-task dynamic partitioning needs no extra shuffle
        out_dir = new_dir()
        result.write.partitionBy(*extra, BUCKET_COL).mode("overwrite").parquet(out_dir)

        if observation is not None:
            try:
                m = observation.get  # filled by the write job above
                counts = {
                    t: {"n": m[f"n{sfx}"], "nd": m[f"nd{sfx}"]}
                    for t, sfx in zip(tags, sfxs)
                }
            except Exception:
                # AQE's runtime empty-relation propagation can eliminate
                # the CollectMetrics node when the change set turns out
                # empty at runtime (e.g. a truncate-only epoch) — the
                # observation then holds no row. Recount directly: one
                # extra job on what is almost always an empty frame.
                counts = _by_tag(chg.groupBy(*extra).agg(*_change_counts()).collect())
    finally:
        # unpersist on EVERY exit — success or a failure anywhere between
        # the persist and the write (stats collect, target read, join/plan
        # analysis, parquet write). A leaked cached frame lives in the
        # executor cache for the session, and foreachBatch retries would
        # pile leaks up.
        if persisted is not None:
            persisted.unpersist()

    for (i, tb, batch_key, tag), aff in zip(todo, affected):
        c = counts.get(tag)
        n, nd = (c["n"], c["nd"] or 0) if c is not None else (0, 0)
        member_dir = out_dir if tag is None else os.path.join(out_dir, f"{tag_col}={tag}")
        # a truncate epoch's affected set is every bucket, so the swap
        # drops every pre-truncate file
        out[i] = tb.commit_external_buckets(
            batch_key, high_lsn, tb._written_buckets(member_dir),
            aff, upserts=n - nd, deletes=nd,
            truncate_lsn=truncate_lsn, registry_json=registry_json,
        )
    return out


class LakeTable:
    def __init__(self, spark: SparkSession, root: str, manifest: dict):
        self.spark = spark
        self.root = root
        self.manifest = manifest

    # ------------------------------------------------------------- setup
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        key_cols: list[str],
        fields: list[tuple[str, str]],
        num_buckets: int = 32,
    ) -> "LakeTable":
        """CREATE TABLE IF NOT EXISTS analog (reference bootstraps its
        publication idempotently — repository.go:36-42)."""
        if os.path.exists(os.path.join(root, "manifest", "VERSION")):
            return cls.load(spark, root)
        os.makedirs(os.path.join(root, "manifest"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        manifest = {
            "version": 0,
            "key_cols": key_cols,
            "num_buckets": num_buckets,
            "schema": [{"name": n, "type": t} for n, t in fields],
            "buckets": {},
            "properties": {
                "last_applied_lsn": -1,
                "committed_batches": {},
                "registry": [],
            },
        }
        t = cls(spark, root, manifest)
        t._commit_manifest()
        return t

    @classmethod
    def load(
        cls, spark: SparkSession, root: str, version: int | None = None
    ) -> "LakeTable":
        """Open the current snapshot, or time-travel to ``version`` (any
        manifest expire_snapshots has not removed) — the Iceberg
        VERSION AS OF analog; snapshots are immutable, so reads against
        an old version see exactly its file set."""
        if version is None:
            with open(os.path.join(root, "manifest", "VERSION")) as f:
                version = int(f.read().strip())
        with open(os.path.join(root, "manifest", f"v{version}.json")) as f:
            return cls(spark, root, json.load(f))

    @classmethod
    def snapshots(cls, root: str) -> list[int]:
        """Versions still available for time travel."""
        mdir = os.path.join(root, "manifest")
        return sorted(
            int(e[1:-5])
            for e in os.listdir(mdir)
            if e.startswith("v") and e.endswith(".json")
        )

    # ---------------------------------------------------------- accessors
    @property
    def key_cols(self) -> list[str]:
        return self.manifest["key_cols"]

    @property
    def num_buckets(self) -> int:
        return self.manifest["num_buckets"]

    @property
    def properties(self) -> dict:
        return self.manifest["properties"]

    @property
    def last_applied_lsn(self) -> int:
        return self.properties.get("last_applied_lsn", -1)

    @property
    def field_names(self) -> list[str]:
        return [f["name"] for f in self.manifest["schema"]]

    def _read_schema(self) -> SparkTypes.StructType:
        parts = [f"`{f['name']}` {f['type']}" for f in self.manifest["schema"]]
        parts.append(f"`{LSN_COL}` bigint")
        parts.append(f"`{DELETED_COL}` boolean")
        key_cols = set(self.manifest["key_cols"])
        for f in self.manifest["schema"]:
            if f["name"] not in key_cols:
                parts.append(f"`{CLSN_PREFIX}{f['name']}` bigint")
        return SparkTypes.StructType.fromDDL(", ".join(parts))

    def _bucket_files(self, buckets: list[int] | None = None) -> list[str]:
        out: list[str] = []
        items = self.manifest["buckets"].items()
        for b, files in items:
            if buckets is None or int(b) in buckets:
                out.extend(os.path.join(self.root, f) for f in files)
        return out

    def read(
        self, buckets: list[int] | None = None, with_deltas: bool = True
    ) -> DataFrame:
        """Snapshot read (explicit file list = snapshot isolation);
        schema-on-read fills NULL for columns added after a file was
        written (schema evolution). With pending delta generations
        (merge-on-read commits — :meth:`append_delta`), the base rows
        and delta rows resolve through one aggregation that reproduces
        the merge's column-level LWW, so readers always see the fully
        applied state without waiting for a fold."""
        files = self._bucket_files(buckets)
        schema = self._read_schema()
        if not files:
            base = self.spark.createDataFrame([], schema)
        else:
            base = self.spark.read.schema(schema).parquet(*files)
        if not with_deltas or not self.manifest.get("deltas"):
            return base
        versions = self._base_as_versions(base).unionByName(
            self._read_delta_rows(buckets)
        )
        return self._resolve_versions(versions)

    def read_public(self) -> DataFrame:
        """Live rows only — delete tombstones filtered out. Tombstones
        (rows with ``__deleted``) keep the per-key LSN watermark so
        out-of-order micro-batches cannot resurrect a deleted key; a
        compaction pass may GC tombstones older than the global low
        watermark (future work)."""
        return self.read().filter(~F.coalesce(F.col(DELETED_COL), F.lit(False))).select(
            *self.field_names
        )

    # ----------------------------------------------------------- evolution
    def ensure_columns(self, fields: list[tuple[str, str]]) -> bool:
        """ALTER TABLE ADD COLUMN analog. Returns True if schema changed.
        Only additive evolution is supported (pgoutput Relation updates in
        practice add columns; type changes would need a rewrite)."""
        existing = {f["name"] for f in self.manifest["schema"]}
        changed = False
        for name, typ in fields:
            if name not in existing:
                self.manifest["schema"].append({"name": name, "type": typ})
                changed = True
        return changed

    # --------------------------------------------------------------- merge
    def merge_batch(
        self,
        changes: DataFrame,
        batch_key: str,
        high_lsn: int,
        truncate_lsn: int | None = None,
        coalesce_cols: list[str] | None = None,
        registry_json: list[dict] | None = None,
        selective: bool = True,
    ) -> dict:
        """Exactly-once MERGE of a compacted change set: the single-table
        form of :func:`merge_tables` (one untagged member), writing the
        table's next ``data/v{N}`` dir.

        ``changes``: ONE row per key (already LWW-compacted batch-locally)
        with columns = key cols + value cols + ``lsn`` + ``op``
        ('I'/'U' upsert, 'D' delete).
        ``coalesce_cols``: TOASTable columns. When the change set carries
        ``__set_<col>`` markers (``compact_agg`` emits them), the
        marker decides: set -> take the batch value even when it is an
        explicit SQL NULL; unset (TOAST 'u' all batch) -> keep the
        target. Without markers, NULL falls back to "unchanged"
        (coalesce(source, target)) — legacy callers only; that form
        cannot represent UPDATE-to-NULL (SURVEY.md §7 hard part (c)).
        ``batch_key`` idempotency: replaying an already-committed epoch is
        a no-op (foreachBatch may re-deliver after crash); per-key
        ``lsn``-monotonic guard makes overlapping LSN ranges no-ops too.

        The merge is **order-independent across batches**: deletes write
        tombstones (the key's LSN watermark survives), and truncates
        advance a table-level ``truncate_lsn`` watermark, so micro-batches
        may arrive in any LSN order (distributed file listing makes no
        ordering promise) and the final state still converges to the
        sequential-oracle result.

        ``selective`` picks between the stats pre-pass and the wide
        single-job form (see :func:`merge_tables`).
        """
        return merge_tables(
            [(self, batch_key, None)], changes, high_lsn,
            lambda: os.path.join(self.root, f"data/v{self.manifest['version'] + 1}"),
            truncate_lsn=truncate_lsn, coalesce_cols=coalesce_cols,
            registry_json=registry_json, selective=selective,
        )[0]

    # ---------------------------------------------- merge-on-read deltas
    # The LIVE-tail commit path (Iceberg v2 / Flink CDC shape): a trigger
    # appends its LWW-compacted change set as a DELTA generation — one
    # parquet write plus the atomic manifest swap, no target read, no
    # join, no bucket rewrite — and readers resolve base ∪ deltas on
    # read. Resolution is ONE aggregation whose column rules are the
    # closed form of merge_batch's pairwise fold (proven equivalent for
    # valid WAL histories by the delta-vs-merge property tests), and the
    # fold is that same aggregation written back: fold_deltas() rewrites
    # only the delta-touched buckets with exactly the rows readers
    # already see (one bucket repartition, one file per bucket — no
    # persist, no stats job, no join). At 100 TB this is the only
    # per-trigger cost model that holds: commit latency is O(trigger
    # data), while the bucket rewrite is O(touched buckets) and runs off
    # the commit path — the live tail starts it on a background thread
    # against a frozen manifest copy (start_fold) and commits it in the
    # same snapshot as the trigger's own delta (append_delta(fold=...)).

    @property
    def delta_count(self) -> int:
        return len(self.manifest.get("deltas") or [])

    def _delta_read_schema(self) -> SparkTypes.StructType:
        """Stable delta schema from the CURRENT manifest: generations
        written before a schema evolution read NULL for the added column
        (same schema-on-read rule as base files)."""
        key_cols = set(self.manifest["key_cols"])
        parts = [f"`{f['name']}` {f['type']}" for f in self.manifest["schema"]]
        for f in self.manifest["schema"]:
            if f["name"] not in key_cols:
                parts.append(f"`__set_{f['name']}` boolean")
                parts.append(f"`__setlsn_{f['name']}` bigint")
        parts.append("`lsn` bigint")
        parts.append("`seq` int")
        parts.append("`op` string")
        parts.append(f"`{BUCKET_COL}` bigint")
        return SparkTypes.StructType.fromDDL(", ".join(parts))

    def _delta_files(self) -> list[str]:
        return [
            os.path.join(self.root, f)
            for gen in self.manifest.get("deltas") or []
            for f in gen["files"]
        ]

    def _read_delta_rows(self, buckets: list[int] | None) -> DataFrame:
        """Pending delta rows, under the same truncate watermark the
        merge applies to its change set: a late pre-truncate row must
        not resurrect a key at read time that the fold would drop."""
        files = self._delta_files()
        if not files:
            return self.spark.createDataFrame([], self._delta_read_schema())
        df = self.spark.read.schema(self._delta_read_schema()).parquet(*files)
        trunc = self.properties.get("truncate_lsn", -1)
        if trunc >= 0:
            df = df.filter((F.col("lsn") > F.lit(trunc)) | (F.col("op") == "D"))
        if buckets is not None:
            df = df.filter(F.col(BUCKET_COL).isin([int(b) for b in buckets]))
        return df

    def _base_as_versions(self, base: DataFrame) -> DataFrame:
        """Base snapshot rows in the delta-row shape, so resolution can
        aggregate one uniform frame. clsn semantics map directly: a real
        set-LSN (or the legacy NULL = row-LSN fallback) becomes the
        column's setter; -1 (never set / tombstoned) contributes no
        setter."""
        key_cols = self.key_cols
        t_deleted = F.coalesce(F.col(DELETED_COL), F.lit(False))
        cols = [F.col(k) for k in key_cols]
        for f in self.manifest["schema"]:
            c = f["name"]
            if c in set(key_cols):
                continue
            setlsn = F.coalesce(F.col(f"{CLSN_PREFIX}{c}"), F.col(LSN_COL))
            is_set = (~t_deleted) & (setlsn >= 0)
            cols.append(F.col(c))
            cols.append(is_set.alias(f"__set_{c}"))
            cols.append(
                F.when(is_set, setlsn).cast("bigint").alias(f"__setlsn_{c}")
            )
        cols.append(F.col(LSN_COL).alias("lsn"))
        cols.append(F.lit(0).alias("seq"))
        cols.append(F.when(t_deleted, F.lit("D")).otherwise(F.lit("U")).alias("op"))
        cols.append(
            F.coalesce(
                F.col(BUCKET_COL) if BUCKET_COL in base.columns else F.lit(None),
                _bucket_expr(key_cols, self.num_buckets),
            ).alias(BUCKET_COL)
        )
        return base.select(*cols)

    def _resolve_versions(
        self, versions: DataFrame, with_bucket: bool = False
    ) -> DataFrame:
        """ONE groupBy(bucket, key) collapsing a key's version rows (base
        row + any delta rows) to its final stored row — the closed form
        of the pairwise merge for valid WAL histories:

        - row-level winner = max (lsn, seq); its op decides the
          tombstone;
        - d_max = newest DELETE lsn; a column's setter qualifies only
          above it (a delete wipes everything at or before it, and valid
          WAL re-sets every column via the INSERT that must follow);
        - per column the qualifying setter with the highest set-LSN wins
          (struct max — exact under re-aggregation, no ordering needed).

        The bucket is a function of the key, so grouping by it too
        changes no group; it lets a bucket-partitioned input aggregate
        without another exchange (the fold). ``with_bucket`` keeps the
        bucket column in the output.
        """
        key_cols = self.key_cols
        value_cols = [
            f["name"] for f in self.manifest["schema"]
            if f["name"] not in set(key_cols)
        ]
        aggs = [
            F.max(F.struct("lsn", "seq", "op")).alias("win"),
            F.coalesce(
                F.max(F.when(F.col("op") == "D", F.col("lsn"))), F.lit(-1)
            ).alias("d_max"),
        ]
        for c in value_cols:
            aggs.append(
                F.max(
                    F.when(
                        F.coalesce(F.col(f"__set_{c}"), F.lit(False)),
                        F.struct(
                            F.coalesce(
                                F.col(f"__setlsn_{c}"), F.col("lsn")
                            ).alias("l"),
                            F.struct(F.col(c).alias("x")).alias("v"),
                        ),
                    )
                ).alias(f"__cand_{c}")
            )
        agged = versions.groupBy(BUCKET_COL, *key_cols).agg(*aggs)

        deleted = F.col("win.op") == "D"
        out = [F.col(k) for k in key_cols]
        setters = {}
        for c in value_cols:
            cand = F.col(f"__cand_{c}")
            setters[c] = ~deleted & cand.isNotNull() & (
                cand.getField("l") > F.col("d_max")
            )
            out.append(F.when(setters[c], cand.getField("v").getField("x")).alias(c))
        out.append(F.col("win.lsn").alias(LSN_COL))
        out.append(deleted.alias(DELETED_COL))
        for c in value_cols:
            out.append(
                F.when(setters[c], F.col(f"__cand_{c}").getField("l"))
                .otherwise(F.lit(-1))
                .cast("bigint")
                .alias(f"{CLSN_PREFIX}{c}")
            )
        if with_bucket:
            out.append(F.col(BUCKET_COL))
        return agged.select(*out)

    def append_delta(
        self,
        changes: DataFrame,
        batch_key: str,
        high_lsn: int,
        registry_json: list[dict] | None = None,
        fold: "PendingFold | None" = None,
    ) -> dict:
        """Commit one micro-batch as a merge-on-read DELTA generation.

        ``changes`` must be the compacted merge-input shape (one row per
        key with ``__set_<col>``/``__setlsn_<col>`` markers — both
        compaction paths emit it). Exactly-once mechanics are identical
        to merge_batch: replayed epochs no-op on batch_key, overlapping
        LSN ranges resolve row/column-level at read or fold time. The
        write is the trigger's ONLY data job; the snapshot commit is the
        same atomic manifest/VERSION swap (our LSN ack).

        ``fold``: a background fold (:meth:`start_fold`) to commit in the
        SAME snapshot — the delta is written while the fold may still
        run, then the fold is joined and both land in one manifest
        version. A replayed epoch leaves the fold uncommitted (the
        caller commits it alone)."""
        committed = self.properties.get("committed_batches", {})
        if batch_key in committed:
            return {"batch_key": batch_key, "noop": True, "reason": "replayed_epoch"}
        missing = [
            c
            for f in self.manifest["schema"]
            if f["name"] not in set(self.key_cols)
            for c in (f"__set_{f['name']}", f"__setlsn_{f['name']}")
            if c not in changes.columns
        ]
        if missing:
            raise ValueError(
                f"append_delta requires set markers; missing {missing[:4]}"
            )
        if BUCKET_COL not in changes.columns:
            changes = changes.withColumn(
                BUCKET_COL, _bucket_expr(self.key_cols, self.num_buckets)
            )
        if "seq" not in changes.columns:
            changes = changes.withColumn("seq", F.lit(0))
        schema = self._delta_read_schema()
        new_version = self.manifest["version"] + 1
        rel_dir = f"data/v{new_version}"
        out_dir = os.path.join(self.root, rel_dir)
        (
            changes.select([F.col(f.name).cast(f.dataType) for f in schema.fields])
            # a trigger's delta is O(trigger data): narrow the write so a
            # 250 ms trigger makes a few files, not one per core (fewer
            # tasks now, fewer files for every resolution read later; a
            # backfill-sized delta still spreads across 4 writers)
            .coalesce(4)
            .write.mode("overwrite")
            .parquet(out_dir)
        )
        files = [
            f"{rel_dir}/{fn}"
            for fn in os.listdir(out_dir)
            if fn.endswith(".parquet")
        ]
        fold_stats = self._take_fold(fold)
        deltas = list(self.manifest.get("deltas") or [])
        deltas.append({"files": files, "high_lsn": high_lsn, "batch_key": batch_key})
        stats = {
            "batch_key": batch_key,
            "noop": False,
            "delta": True,
            "high_lsn": high_lsn,
            "pending_deltas": len(deltas),
            "snapshot_version": new_version,
        }
        self.manifest["version"] = new_version
        self.manifest["deltas"] = deltas
        self._record_batch(batch_key, high_lsn)
        if registry_json is not None:
            self.properties["registry"] = registry_json
        self._commit_manifest()
        if fold_stats is not None:
            fold_stats["snapshot_version"] = new_version
            self._append_lineage(fold_stats)
            stats["fold"] = fold_stats
        self._append_lineage({k: v for k, v in stats.items() if k != "fold"})
        return stats

    def fold_deltas(self, commit: bool = True) -> dict | None:
        """Absorb pending delta generations into the bucketed base.

        The delta-touched buckets are rewritten straight from the read
        path's resolution (:meth:`_resolve_versions` over base ∪ deltas)
        — the stored rows readers already see, ``__clsn_*`` included —
        repartitioned once on the bucket and written one file per
        bucket into a data dir no other writer uses. One Spark job: no
        persist, no stats pre-pass, no join; the touched-bucket set and
        the counters come from the delta files' ``lsn``/``op``/bucket
        columns, read on the driver (deltas are O(trigger data)).
        ``upserts``/``deletes`` count the delta change rows absorbed.

        ``commit=False`` applies the fold to this object's manifest in
        memory only — the background form (:class:`PendingFold`), whose
        snapshot a later :meth:`append_delta` / :meth:`commit_fold`
        splices in. Crash-safe either way: until a snapshot lists the
        fold's files, the previous manifest still lists the deltas, and
        the orphaned dir is reclaimed by :meth:`expire_snapshots`."""
        gens = self.manifest.get("deltas") or []
        if not gens:
            return None
        touched, n_rows, n_deletes = self._delta_census()
        rel_dir = f"data/v{self.manifest['version']}-fold-{uuid.uuid4().hex[:8]}"
        new_buckets: dict[str, list[str]] = {}
        if touched:
            versions = self._base_as_versions(
                self.read(touched, with_deltas=False)
            ).unionByName(self._read_delta_rows(None))
            (
                self._resolve_versions(
                    versions.repartition(len(touched), F.col(BUCKET_COL)),
                    with_bucket=True,
                )
                .write.partitionBy(BUCKET_COL)
                .mode("overwrite")
                .parquet(os.path.join(self.root, rel_dir))
            )
            new_buckets = self._written_buckets(os.path.join(self.root, rel_dir))
        stats = {
            "batch_key": f"fold-v{self.manifest['version']}",
            "noop": False,
            "fold": True,
            "high_lsn": max(g["high_lsn"] for g in gens),
            "upserts": n_rows - n_deletes,
            "deletes": n_deletes,
            "truncate_lsn": None,
            "buckets_rewritten": sorted(int(b) for b in new_buckets),
            "folded_batches": [g["batch_key"] for g in gens],
        }
        self._splice_fold(stats, new_buckets)
        if commit:
            self._commit_fold_alone(stats)
        return stats

    def _delta_census(self) -> tuple[list[int], int, int]:
        """(touched buckets, change rows, delete rows) of the pending
        deltas under the truncate watermark — the same filter
        :meth:`_read_delta_rows` applies."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        files = self._delta_files()
        if not files:
            return [], 0, 0
        t = pa.concat_tables(
            pq.read_table(f, columns=["lsn", "op", BUCKET_COL]) for f in files
        )
        trunc = self.properties.get("truncate_lsn", -1)
        if trunc >= 0:
            t = t.filter(
                pc.or_(pc.greater(t["lsn"], trunc), pc.equal(t["op"], "D"))
            )
        touched = sorted(int(b) for b in pc.unique(t[BUCKET_COL]).to_pylist())
        n_deletes = pc.sum(pc.equal(t["op"], "D")).as_py() or 0
        return touched, t.num_rows, n_deletes

    def _splice_fold(self, stats: dict, new_buckets: dict[str, list[str]]) -> None:
        """Apply a fold to this manifest: drop exactly the folded delta
        generations (by batch_key — generations appended since the fold's
        snapshot stay pending) and swap only the rewritten buckets."""
        folded = set(stats["folded_batches"])
        self.manifest["deltas"] = [
            g for g in self.manifest.get("deltas") or []
            if g["batch_key"] not in folded
        ]
        buckets = dict(self.manifest["buckets"])
        for b in stats["buckets_rewritten"]:
            buckets[str(b)] = new_buckets[str(b)]
        self.manifest["buckets"] = buckets

    def start_fold(self) -> "PendingFold | None":
        """Start folding the pending deltas on a background thread,
        against a deep copy of the current manifest. The caller stays
        the only committer: it resolves the returned fold through
        :meth:`append_delta` (same snapshot), :meth:`commit_fold` (own
        snapshot) or :meth:`PendingFold.abandon` (on error)."""
        if not self.manifest.get("deltas"):
            return None
        return PendingFold(self)

    def _take_fold(self, fold: "PendingFold | None") -> dict | None:
        """Join ``fold`` and splice its output into this manifest (the
        caller commits). The fold read only generations this manifest
        still lists — nothing but this thread commits in between. A
        column added since the fold's snapshot is absent from its files
        and reads NULL with the row-LSN set-LSN fallback; harmless, as
        every row in them was typed before that column existed, so any
        valid set of it carries a higher LSN."""
        if fold is None:
            return None
        stats = fold.result()
        fold.resolved = True
        if stats is not None:
            self._splice_fold(stats, fold.table.manifest["buckets"])
        return stats

    def commit_fold(self, fold: "PendingFold | None") -> dict | None:
        """Commit a background fold in its own snapshot (epochs with no
        delta to share it: truncates and full merges commit it before
        merge_batch, empty and replayed epochs commit it alone)."""
        stats = self._take_fold(fold)
        if stats is not None:
            self._commit_fold_alone(stats)
        return stats

    def _commit_fold_alone(self, stats: dict) -> None:
        self.manifest["version"] += 1
        stats["snapshot_version"] = self.manifest["version"]
        self._commit_manifest()
        self._append_lineage(stats)

    def commit_external_buckets(
        self,
        batch_key: str,
        high_lsn: int,
        new_buckets: dict[str, list[str]],
        affected: list[int],
        upserts: int,
        deletes: int,
        truncate_lsn: int | None = None,
        registry_json: list[dict] | None = None,
    ) -> dict:
        """Commit a copy-on-write snapshot whose bucket files are already
        written: merge_batch's own output, or an external job's (the
        catalog's grouped many-table merge writes ONE partitioned dataset
        and each member table commits its slice via root-relative
        paths). Affected buckets swap to the new files, the truncate
        watermark and registry advance, batch_key joins the no-op ring
        and the LSN watermark advances."""
        buckets = dict(self.manifest["buckets"])
        for b in affected:
            buckets.pop(str(b), None)
        buckets.update(new_buckets)
        new_version = self.manifest["version"] + 1
        stats = {
            "batch_key": batch_key,
            "noop": False,
            "high_lsn": high_lsn,
            "upserts": upserts,
            "deletes": deletes,
            "truncate_lsn": truncate_lsn,
            "buckets_rewritten": sorted(int(b) for b in new_buckets),
            "snapshot_version": new_version,
        }
        self.manifest["version"] = new_version
        self.manifest["buckets"] = buckets
        props = self.properties
        if truncate_lsn is not None:
            props["truncate_lsn"] = max(props.get("truncate_lsn", -1), truncate_lsn)
        self._record_batch(batch_key, high_lsn)
        if registry_json is not None:
            props["registry"] = registry_json
        self._commit_manifest()
        self._append_lineage(stats)
        return stats

    # --------------------------------------------------------- maintenance
    def compact(self, tombstone_watermark_lsn: int | None = None) -> dict:
        """Maintenance rewrite: GC delete-tombstones whose LSN is at or
        below the watermark (default: the table's last_applied_lsn — safe
        once no in-flight epoch can carry older LSNs) and rewrite every
        live bucket into a single file per bucket.

        The Iceberg analog is rewrite_data_files + a delete-file sweep.
        Runs as its own snapshot commit; readers on the previous snapshot
        are unaffected (copy-on-write).
        """
        self.fold_deltas()  # maintenance operates on the folded base
        wm = (
            tombstone_watermark_lsn
            if tombstone_watermark_lsn is not None
            else self.last_applied_lsn
        )
        live = self.read().filter(
            ~(F.coalesce(F.col(DELETED_COL), F.lit(False)) & (F.col(LSN_COL) <= wm))
        ).withColumn(BUCKET_COL, _bucket_expr(self.key_cols, self.num_buckets))

        new_version = self.manifest["version"] + 1
        rel_dir = f"data/v{new_version}"
        out_dir = os.path.join(self.root, rel_dir)
        (
            live.repartition(self.num_buckets, F.col(BUCKET_COL))
            .write.partitionBy(BUCKET_COL)
            .mode("overwrite")
            .parquet(out_dir)
        )
        new_buckets = self._written_buckets(os.path.join(self.root, rel_dir))
        self.manifest["version"] = new_version
        self.manifest["buckets"] = new_buckets
        stats = {
            "batch_key": f"compact-v{new_version}",
            "noop": False,
            "compaction": True,
            "tombstone_watermark": wm,
            "snapshot_version": new_version,
            "buckets_rewritten": sorted(int(b) for b in new_buckets),
        }
        self._commit_manifest()
        self._append_lineage(stats)
        return stats

    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Drop manifest versions older than the newest ``keep_last`` and
        delete data directories no kept snapshot references (Iceberg
        expire_snapshots + remove_orphan_files analog)."""
        mdir = os.path.join(self.root, "manifest")
        current = self.manifest["version"]
        keep_versions = set(range(max(0, current - keep_last + 1), current + 1))

        referenced: set[str] = set()
        for v in sorted(keep_versions):
            p = os.path.join(mdir, f"v{v}.json")
            if not os.path.exists(p):
                continue
            with open(p) as f:
                m = json.load(f)
            for files in m.get("buckets", {}).values():
                for fp in files:
                    referenced.add(fp.split("/")[1])  # data/vN/... -> vN
            for gen in m.get("deltas") or []:
                for fp in gen["files"]:
                    referenced.add(fp.split("/")[1])

        removed_manifests = 0
        for entry in os.listdir(mdir):
            if entry.startswith("v") and entry.endswith(".json"):
                v = int(entry[1:-5])
                if v not in keep_versions:
                    os.remove(os.path.join(mdir, entry))
                    removed_manifests += 1
        removed_dirs = 0
        data_dir = os.path.join(self.root, "data")
        for entry in os.listdir(data_dir):
            if entry.startswith("v") and entry not in referenced:
                import shutil

                shutil.rmtree(os.path.join(data_dir, entry), ignore_errors=True)
                removed_dirs += 1
        return {
            "kept_versions": sorted(keep_versions),
            "removed_manifests": removed_manifests,
            "removed_data_dirs": removed_dirs,
        }

    # ------------------------------------------------------- bookkeeping
    def _written_buckets(self, out_dir: str) -> dict[str, list[str]]:
        """Parquet files per bucket of a dataset written
        ``partitionBy(BUCKET_COL)`` into ``out_dir``, as paths relative to
        this table's root (``out_dir`` may lie outside it: a grouped
        merge's shared dir). Empty when nothing was written there."""
        if not os.path.isdir(out_dir):
            return {}
        return {
            entry.split("=", 1)[1]: [
                os.path.relpath(os.path.join(out_dir, entry, fn), self.root)
                for fn in os.listdir(os.path.join(out_dir, entry))
                if fn.endswith(".parquet")
            ]
            for entry in os.listdir(out_dir)
            if entry.startswith(f"{BUCKET_COL}=")
        }

    def _record_batch(self, batch_key: str, high_lsn: int) -> None:
        """Advance the LSN watermark and (re-)insert ``batch_key`` at the
        end of the committed-batch ring. Pruning is by insertion recency,
        NOT by high_lsn: epochs arrive in arbitrary LSN order, and the
        no-op guard protects the foreachBatch redelivery frontier — the
        most RECENTLY committed keys. (dict / JSON object order is
        insertion order, preserved across manifest round-trips.)"""
        props = self.properties
        props["last_applied_lsn"] = max(self.last_applied_lsn, high_lsn)
        cb = dict(props.get("committed_batches", {}))
        cb.pop(batch_key, None)
        cb[batch_key] = high_lsn
        if len(cb) > BATCH_KEY_RETENTION:
            keep = list(cb)[-BATCH_KEY_RETENTION:]
            cb = {k: cb[k] for k in keep}
        props["committed_batches"] = cb

    # ------------------------------------------------------------- lineage
    def _append_lineage(self, stats: dict) -> None:
        """Per-commit lineage rolls to an append-only side file (one JSON
        line per commit) instead of growing the manifest: the manifest
        rewrite stays O(buckets) on a 10^5-epoch replay, and the lineage
        stays queryable (``spark.read.json`` on a cluster). Written after
        the snapshot commit — a crash between the two loses at most the
        newest observability line, never table state."""
        with open(os.path.join(self.root, "lineage.jsonl"), "a") as f:
            f.write(json.dumps(stats) + "\n")

    def lineage(self) -> list[dict]:
        entries = list(self.manifest.get("lineage", []))  # legacy manifests
        p = os.path.join(self.root, "lineage.jsonl")
        if os.path.exists(p):
            with open(p) as f:
                entries.extend(json.loads(line) for line in f if line.strip())
        return entries

    # -------------------------------------------------------------- commit
    def _commit_manifest(self) -> None:
        """Atomic snapshot commit: manifest file then VERSION pointer swap
        (the lake analog of SendStandbyStatus acking the LSN —
        listener.go:525-533)."""
        v = self.manifest["version"]
        mdir = os.path.join(self.root, "manifest")
        try:
            os.makedirs(mdir, exist_ok=True)
            tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}.json")
            with open(tmp, "w") as f:
                json.dump(self.manifest, f)
            os.replace(tmp, os.path.join(mdir, f"v{v}.json"))
            tmp2 = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}")
            with open(tmp2, "w") as f:
                f.write(str(v))
            os.replace(tmp2, os.path.join(mdir, "VERSION"))
        except OSError as e:
            raise AckCommitError(f"snapshot commit failed for v{v}: {e}") from e

    def save_properties(self) -> None:
        self.manifest["version"] += 1
        self._commit_manifest()


class PendingFold:
    """A :meth:`LakeTable.fold_deltas` running on a background thread
    against a deep copy of the manifest taken at submit time, so the
    submitting thread can keep mutating (and committing) its own table.
    The thread is a ``pyspark.InheritableThread``: it inherits the
    submitter's job group, so stopping a streaming query cancels the
    fold's Spark jobs with the trigger's."""

    def __init__(self, table: LakeTable):
        import copy

        from pyspark import InheritableThread

        self.table = LakeTable(table.spark, table.root, copy.deepcopy(table.manifest))
        #: set once the fold is committed or abandoned
        self.resolved = False
        self._out: dict = {}
        self._thread = InheritableThread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        try:
            self._out["stats"] = self.table.fold_deltas(commit=False)
        except BaseException as e:  # re-raised on the committing thread
            self._out["error"] = e

    def result(self) -> dict | None:
        """Wait for the fold; its stats, or its error re-raised."""
        self._thread.join()
        if "error" in self._out:
            raise self._out["error"]
        return self._out.get("stats")

    def abandon(self) -> None:
        """Error path: wait for the thread and drop its output. The data
        dir it wrote stays an orphan no snapshot references, which
        :meth:`LakeTable.expire_snapshots` reclaims."""
        self._thread.join()
        self.resolved = True
