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

from .table import LakeTable, merge_tables

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
        (list of (rel_id, RelationSchema)): :func:`merge_tables` with one
        member table per relation, tagged by ``rel_id``.

        Per-table merges pay a per-PLAN driver cost (eager Catalyst
        analysis + an independent write job) that is independent of data
        volume — measured 3-5 s PER TABLE at 16 relations, dwarfing the
        actual payload work. Here the compacted change set (which
        carries ``rel_id`` from the shared compaction, partitioned on
        (rel_id, bucket) at ``num_partitions`` width) joins the rel_id-
        tagged union of the members' target snapshots once, and ONE
        write lands partitioned by (rel_id, bucket) under
        ``<root>/shared/``; each member table then commits its slice by
        root-relative file paths — N manifest swaps, one data job.
        Per-epoch driver cost becomes independent of table count, which
        is what a 100-table CDC catalog needs.

        Exactly-once is still per table (each member's batch key is
        ``<prefix>:<qualified name>``). Table-level expire_snapshots
        never deletes shared dirs (they live outside <table>/data);
        compact() migrates a table's rows into its own root, after which
        expire_shared() can GC generations no current manifest
        references."""
        members = []
        for rel_id, schema in group:
            tb = self.table_for(schema)
            tb.ensure_columns(schema.spark_fields())
            members.append((tb, f"{batch_key_prefix}:{schema.qualified_name}", rel_id))
        shared_dir = os.path.join(self.root, "shared", f"g{_uuid.uuid4().hex[:10]}")
        stats = merge_tables(
            members, changes, high_lsn, lambda: shared_dir,
            coalesce_cols=list(group[0][1].value_columns),
            selective=selective, tag_col="rel_id", num_partitions=num_partitions,
        )
        return {
            schema.qualified_name: st if st["noop"] else {**st, "grouped": True}
            for (_, schema), st in zip(group, stats)
        }

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
