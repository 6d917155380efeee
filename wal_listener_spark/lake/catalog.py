"""LakeCatalog — one LakeTable per replicated relation.

The reference fans each relation out to its own topic
(``/root/reference/internal/publisher/event.go:24-36``: subject =
``{topic_prefix}{schema}_{table}``); the lake-side analog is one
*table* per relation, each under its own root:

    <root>/catalog.json                 registry + shared properties
    <root>/tables/<schema>_<table>/     a LakeTable (manifest + buckets)

This is what fixes cross-relation interference the shared-table design
suffered from: a TRUNCATE on relation A only touches A's table (its own
truncate watermark, its own bucket reset), and equal key values in two
relations can never collide because they live in different key spaces.

The relation registry (driven by pgoutput 'R' messages) is catalog-level
state: it maps rel_id -> schema and outlives any one table. Saved with
the same atomic-replace discipline as table manifests.
"""

from __future__ import annotations

import json
import os
import uuid as _uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .table import LakeTable

MARKER = "catalog.json"


def is_catalog(root: str) -> bool:
    return os.path.exists(os.path.join(root, MARKER))


def load_target(spark: SparkSession, root: str):
    """Open ``root`` as whichever lake form lives there: a LakeCatalog
    (multi-relation) or a bare LakeTable (single-relation)."""
    if is_catalog(root):
        return LakeCatalog.load(spark, root)
    return LakeTable.load(spark, root)


class LakeCatalog:
    def __init__(self, spark: SparkSession, root: str, state: dict):
        self.spark = spark
        self.root = root
        self.state = state

    # ------------------------------------------------------------- setup
    @classmethod
    def create(
        cls, spark: SparkSession, root: str, num_buckets: int = 32
    ) -> "LakeCatalog":
        """CREATE NAMESPACE IF NOT EXISTS analog (idempotent, like the
        reference's publication bootstrap — repository.go:36-42)."""
        if is_catalog(root):
            return cls.load(spark, root)
        os.makedirs(os.path.join(root, "tables"), exist_ok=True)
        cat = cls(
            spark,
            root,
            {"num_buckets": num_buckets, "properties": {"registry": []}},
        )
        cat.save_properties()
        return cat

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "LakeCatalog":
        with open(os.path.join(root, MARKER)) as f:
            return cls(spark, root, json.load(f))

    # ---------------------------------------------------------- accessors
    @property
    def properties(self) -> dict:
        return self.state["properties"]

    @property
    def num_buckets(self) -> int:
        return self.state["num_buckets"]

    def table_names(self) -> list[str]:
        tdir = os.path.join(self.root, "tables")
        if not os.path.isdir(tdir):
            return []
        return sorted(
            e for e in os.listdir(tdir)
            if os.path.exists(os.path.join(tdir, e, "manifest", "VERSION"))
        )

    def table(self, qualified_name: str) -> LakeTable:
        return LakeTable.load(
            self.spark, os.path.join(self.root, "tables", qualified_name)
        )

    def table_for(self, schema) -> LakeTable:
        """Create-or-load the relation's table (CREATE TABLE IF NOT
        EXISTS driven by the Relation message — parser.go:71-93)."""
        return LakeTable.create(
            self.spark,
            os.path.join(self.root, "tables", schema.qualified_name),
            key_cols=schema.key_columns,
            fields=schema.spark_fields(),
            num_buckets=self.num_buckets,
        )

    def read_public(self, qualified_name: str | None = None) -> DataFrame:
        """Live rows of one table, or the schema-union of every table
        (NULL-filled, ``__table`` stamped) when no name is given."""
        if qualified_name is not None:
            return self.table(qualified_name).read_public()
        out = None
        for name in self.table_names():
            df = self.table(name).read_public().withColumn(
                "__table", F.lit(name)
            )
            out = df if out is None else out.unionByName(
                df, allowMissingColumns=True
            )
        if out is None:
            raise ValueError(f"catalog {self.root} has no tables")
        return out

    # ------------------------------------------------- grouped merge
    def merge_group(
        self,
        group: list[tuple[int, object]],
        changes: DataFrame,
        high_lsn: int,
        batch_key_prefix: str,
        selective: bool = True,
        num_partitions: int | None = None,
    ) -> dict[str, dict]:
        """ONE merge plan for every same-schema relation in ``group``
        (list of (rel_id, RelationSchema)).

        Per-table merges pay a per-PLAN driver cost (eager Catalyst
        analysis + an independent write job) that is independent of data
        volume — measured 3-5 s PER TABLE at 16 relations, dwarfing the
        actual payload work. Here the group's target snapshots union
        into one frame stamped with ``rel_id``, join the compacted
        change set (which carries ``rel_id`` from the shared
        compaction) once, and ONE write lands partitioned by
        (rel_id, bucket) under ``<root>/shared/``; each member table
        then commits its slice by root-relative file paths — N manifest
        swaps, one data job. Per-epoch driver cost becomes independent
        of table count, which is what a 100-table CDC catalog needs.

        Exactly-once is still per table: already-committed batch keys
        drop out of the group before the plan is built (their stats
        report the usual replayed-epoch no-op), so a crash between two
        manifest commits re-runs only the uncommitted tables.
        Table-level expire_snapshots never deletes shared dirs (they
        live outside <table>/data); compact() migrates a table's rows
        into its own root, after which expire_shared() can GC
        generations no current manifest references."""
        from pyspark.sql import functions as F

        from .table import (
            BUCKET_COL,
            _bucket_expr,
            _merge_out_cols,
        )

        stats_out: dict[str, dict] = {}
        todo: list[tuple[int, object, LakeTable, str]] = []
        for rel_id, schema in group:
            tb = self.table_for(schema)
            tb.ensure_columns(schema.spark_fields())
            bkey = f"{batch_key_prefix}:{schema.qualified_name}"
            if bkey in tb.properties.get("committed_batches", {}):
                stats_out[schema.qualified_name] = {
                    "batch_key": bkey, "noop": True,
                    "reason": "replayed_epoch",
                }
                continue
            tb.fold_deltas()  # grouped merge targets the folded base
            todo.append((rel_id, schema, tb, bkey))
        if not todo:
            return stats_out

        g_schema = todo[0][1]
        key_cols = list(g_schema.key_columns)
        value_cols = list(g_schema.value_columns)
        chg = changes.filter(
            F.col("rel_id").isin([r for r, _, _, _ in todo])
        )
        obs = None
        per_rel: dict | None = None
        if selective:
            # incremental epochs: a stats pre-pass is unavoidable (the
            # touched-bucket list must exist BEFORE the target read is
            # planned), so the compacted change set is cached and the
            # counters ride the same action
            chg = chg.persist()
            per_rel = {
                r["rel_id"]: r
                for r in chg.groupBy("rel_id").agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(
                        F.when(F.col("op") == "D", 1).otherwise(0)
                    ).alias("nd"),
                    F.collect_set(BUCKET_COL).alias("bks"),
                ).collect()
            }
        else:
            # wide mode (backfill/full replay): every bucket rewrites, so
            # nothing needs to be known before the write — per-relation
            # counters ride the single fused job as map-side Observation
            # aggregates (the same trick single-table wide mode uses) and
            # the compaction is computed exactly ONCE, inside the write.
            # The persisted two-action shape cost a full extra payload
            # materialization per epoch (measured ~10 s on 4.2M events).
            from pyspark.sql import Observation

            obs = Observation()
            aggs = []
            for rel_id, _, _, _ in todo:
                tag = F.col("rel_id") == rel_id
                aggs.append(
                    F.count(F.when(tag, 1)).alias(f"n_{rel_id}")
                )
                aggs.append(
                    F.count(
                        F.when(tag & (F.col("op") == "D"), 1)
                    ).alias(f"nd_{rel_id}")
                )
            chg = chg.observe(obs, *aggs)
        try:
            t_parts = []
            affected_by_rel: dict[int, list[int]] = {}
            for rel_id, schema, tb, _ in todo:
                row = per_rel.get(rel_id) if per_rel is not None else None
                affected = (
                    sorted(row["bks"]) if (selective and row is not None)
                    else list(range(tb.num_buckets))
                )
                affected_by_rel[rel_id] = affected
                # a table with no committed files contributes nothing to
                # the union — skip it (16 unioned empty relations still
                # planned ~500 zero-row exchange tasks: measured 8s of
                # pure scheduling on a first-epoch catalog backfill)
                if not tb._bucket_files(affected):
                    continue
                t_parts.append(
                    tb.read(affected, with_deltas=False)
                    .withColumn(
                        BUCKET_COL, _bucket_expr(key_cols, tb.num_buckets)
                    )
                    .withColumn("rel_id", F.lit(rel_id).cast("int"))
                )
            if not t_parts:
                # no target rows anywhere: a single typed empty relation
                # keeps the merge projection uniform and lets Catalyst
                # collapse the full-outer join to the change side
                first = todo[0][2]
                t_parts.append(
                    first.read([], with_deltas=False)
                    .withColumn(
                        BUCKET_COL, _bucket_expr(key_cols, first.num_buckets)
                    )
                    .withColumn("rel_id", F.lit(-1).cast("int"))
                )
            target = t_parts[0]
            for p in t_parts[1:]:
                target = target.unionByName(p)
            # NO pre-join repartition of the target: the change side is a
            # CACHED plan (the stats action above shares it), and a plan
            # behind an InMemoryRelation+AQE boundary does not expose its
            # partitioning to EnsureRequirements — the join re-exchanges
            # both sides on the full key set regardless, so aligning the
            # target up front would only add a wasted full shuffle of the
            # (potentially large) target.

            t = target.alias("t")
            c = chg.alias("c")
            cond = [
                F.col("t.rel_id") == F.col("c.rel_id"),
                F.col(f"t.{BUCKET_COL}") == F.col(f"c.{BUCKET_COL}"),
            ] + [F.col(f"t.{k}") == F.col(f"c.{k}") for k in key_cols]
            result = t.join(c, cond, "full_outer").select(
                *_merge_out_cols(
                    key_cols, value_cols, set(chg.columns), value_cols,
                    extra_cols=("rel_id",),
                )
            )

            gen = _uuid.uuid4().hex[:10]
            shared_rel = f"shared/g{gen}"
            out_dir = os.path.join(self.root, shared_rel)
            # cluster the merge output for the dynamic-partition write:
            # one (rel_id, bucket) combo per task (catalog-wide
            # parallelism), rows pre-sorted on the partition columns so
            # the writer streams one file at a time. Without this the
            # write stage ran at shuffle-partitions width with every
            # task holding ALL tables-x-buckets combos — hundreds of
            # concurrently open parquet writers per task (measured: a
            # 49.5s stage, 302s of GC, on 0.5 GB of data).
            clustered = result.repartition(
                num_partitions or self.num_buckets,
                F.col("rel_id"), F.col(BUCKET_COL),
            ).sortWithinPartitions("rel_id", BUCKET_COL)
            (
                clustered.write.partitionBy("rel_id", BUCKET_COL)
                .mode("overwrite")
                .parquet(out_dir)
            )

            obs_row = dict(obs.get) if obs is not None else None
            for rel_id, schema, tb, bkey in todo:
                rel_dir = os.path.join(out_dir, f"rel_id={rel_id}")
                new_buckets: dict[str, list[str]] = {}
                if os.path.isdir(rel_dir):
                    for entry in os.listdir(rel_dir):
                        if not entry.startswith(f"{BUCKET_COL}="):
                            continue
                        b = entry.split("=", 1)[1]
                        new_buckets[b] = [
                            os.path.relpath(
                                os.path.join(rel_dir, entry, fn), tb.root
                            )
                            for fn in os.listdir(os.path.join(rel_dir, entry))
                            if fn.endswith(".parquet")
                        ]
                if obs_row is not None:
                    n = int(obs_row.get(f"n_{rel_id}") or 0)
                    nd = int(obs_row.get(f"nd_{rel_id}") or 0)
                else:
                    row = per_rel.get(rel_id) if per_rel is not None else None
                    n = row["n"] if row is not None else 0
                    nd = (row["nd"] or 0) if row is not None else 0
                stats_out[schema.qualified_name] = {
                    **tb.commit_external_buckets(
                        bkey, high_lsn, new_buckets, affected_by_rel[rel_id],
                        upserts=n - nd, deletes=nd,
                    ),
                    "grouped": True,
                }
        finally:
            if selective:
                chg.unpersist()
        return stats_out

    def expire_shared(self) -> dict:
        """GC shared grouped-merge generations no CURRENT table manifest
        references (after compact() has migrated rows into per-table
        roots). Conservative: any reference keeps the generation."""
        shared_dir = os.path.join(self.root, "shared")
        if not os.path.isdir(shared_dir):
            return {"removed": 0}
        referenced: set[str] = set()
        for name in self.table_names():
            for files in self.table(name).manifest["buckets"].values():
                for fp in files:
                    if "shared/" in fp.replace(os.sep, "/"):
                        part = fp.replace(os.sep, "/").split("shared/")[1]
                        referenced.add(part.split("/")[0])
        removed = 0
        for entry in os.listdir(shared_dir):
            if entry not in referenced:
                import shutil

                shutil.rmtree(os.path.join(shared_dir, entry),
                              ignore_errors=True)
                removed += 1
        return {"removed": removed}

    # -------------------------------------------------------------- commit
    def save_properties(self) -> None:
        tmp = os.path.join(self.root, f".tmp-{_uuid.uuid4().hex}.json")
        os.makedirs(self.root, exist_ok=True)
        with open(tmp, "w") as f:
            json.dump(self.state, f)
        os.replace(tmp, os.path.join(self.root, MARKER))

    # --------------------------------------------------------- maintenance
    def compact_all(self, tombstone_watermark_lsn: int | None = None) -> dict:
        """Run LakeTable.compact on every relation table."""
        return {
            name: self.table(name).compact(tombstone_watermark_lsn)
            for name in self.table_names()
        }

    def expire_snapshots_all(self, keep_last: int = 2) -> dict:
        """Run LakeTable.expire_snapshots on every relation table."""
        return {
            name: self.table(name).expire_snapshots(keep_last)
            for name in self.table_names()
        }
