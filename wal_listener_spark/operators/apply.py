"""Last-write-wins apply: per-key compaction with TOAST carry-forward,
delete and truncate semantics.

The reference never needs this operator — single-threaded consumption
gives it total order for free (``listener.go:364-386``). Once the stream
is a partitioned DataFrame, ordering matters only *within* a key
(cross-key order is unobservable in final state — same argument the
reference relies on for per-table topics, SURVEY.md §2.6). So
``compact_agg`` — the one LWW kernel, used by the engine and by the
operator-level queries alike — folds each key's changes with a struct
max, no sort:

 - the winning row is ``max(struct(lsn, seq, op))`` per key; per value
   column, ``max(when(set, struct(lsn, seq, v)))`` carries forward the
   last explicitly-sent value past TOAST 'u' cells. Partial maxes
   re-max exactly (associative), so map-side combining, the storm
   special-case and the salted two-phase form are all the same rule.
 - final DELETE drops the key (wal.go kind delete).
 - TRUNCATE is an LSN barrier: keys whose last change precedes the
   truncate are dropped (parser.go:212-225 fans truncate out per
   relation; valid WAL never interleaves a key across the barrier).

The set flag distinguishes "TOAST-unchanged" (skip in carry-forward)
from an explicit SQL NULL (real value that must overwrite): explicit
NULL is a non-null struct with a null ``v`` field, an unset cell is a
null struct, and ``max`` skips only the latter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _part_spec(extra: list, num_buckets: int, num_partitions: int | None):
    """Arguments for the single payload-shuffle ``repartition``: bucket
    alone for the single-relation path, (extra..., bucket) at the
    caller's width for the multi-relation fan-in."""
    from ..lake.table import BUCKET_COL

    cols = [F.col(c) for c in extra] + [F.col(BUCKET_COL)]
    return (num_partitions or num_buckets, *cols)


def compact_agg(
    raw: DataFrame,
    schema,
    num_buckets: int | None = None,
    pre_salt: int | None = None,
    extra_group_cols: list[str] | None = None,
    num_partitions: int | None = None,
    storm_txs: list[int] | None = None,
) -> DataFrame:
    """Aggregation-based LWW compaction, built on hash aggregation
    instead of a window sort:

    ONE groupBy (repo, path) with map-side partial aggregation picks, per
    key, the winning (lsn, seq, op) AND, per column, the payload of the
    last row that *explicitly set* it: ``max(when(set, struct(lsn, seq,
    value)))`` — the struct max orders by (lsn, seq) and carries the
    value along, so TOAST carry-forward needs neither a sort nor a
    fetch join (TOAST 'u' cells and deletes don't "set"; max needs no
    ordering guarantee because lsn is per-key monotone).

    On a 10^10-event replay the partial agg collapses each key's version
    chain inside the map task, so the shuffle carries ~one row per key,
    not one per version. Output: typed key+value columns, lsn, seq, op,
    delete winners included (the merge needs them to delete target rows).

    With ``num_buckets`` set, the frame is repartitioned ONCE on the lake
    bucket (pmod(xxhash64(keys), B)) and every downstream step — the
    winner aggregation, the payload fetch join, and the lake MERGE join —
    runs inside those same partitions (grouping/join keys include
    ``__bucket``, and hash-partitioning on the bucket satisfies their
    clustered distribution). One payload shuffle for the entire apply:
    the storage-partitioned-join layout Iceberg bucketed tables use.

    ``extra_group_cols``: additional grouping columns carried from the
    input and emitted first in the output — the multi-relation fan-in
    path compacts EVERY same-schema relation in one pass by grouping on
    ``(rel_id, bucket, keys)``, so a 100-table catalog pays one payload
    shuffle total instead of one full input scan + shuffle per table.
    With extra cols the single exchange partitions on ``(extra, bucket)``
    at ``num_partitions`` width (callers pass ~tables x buckets): a
    16-table catalog with 16-bucket tables would otherwise run its whole
    shared compaction/merge/write at 16-way parallelism — per-TABLE
    granularity — leaving half a 32-core stage idle and quadrupling the
    per-task sort footprint.
    """
    from ..functions import casts
    from ..lake.table import BUCKET_COL, _bucket_expr

    data = raw.filter(F.col("op").isin("I", "U", "D"))
    key_cols = schema.key_columns
    value_cols = schema.value_columns

    # the winner and per-column candidate structs: every branch below
    # aggregates (or, for the storm's uniform rows, projects) exactly
    # these; the two-phase branches re-max the partials by name
    win = F.struct(F.col("lsn"), F.col("seq"), F.col("op"))
    cands = {
        c: F.when(
            F.col(f"__s_{c}"),
            F.struct(F.col("lsn"), F.col("seq"), F.col(f"__v_{c}").alias("v")),
        )
        for c in value_cols
    }
    aggs = [F.max(win).alias("win")] + [
        F.max(cands[c]).alias(f"__last_{c}") for c in value_cols
    ]
    remax = [F.max("win").alias("win")] + [
        F.max(f"__last_{c}").alias(f"__last_{c}") for c in value_cols
    ]

    # key OID casts happen BEFORE the bucket hash: the merge recomputes
    # target buckets from the *typed* stored columns, so hashing the raw
    # text here would desync the prebucketed join for non-text key OIDs
    # (int keys, case-normalized uuid) and silently duplicate keys.
    keys = [
        casts.cast_text_value(
            F.coalesce(F.col("new_vals").getItem(k), F.col("old_vals").getItem(k)),
            schema.oid_of(k),
        ).alias(k)
        for k in key_cols
    ]
    # project the per-column cell BEFORE the exchange (guide §2.3): the
    # raw map duplicates the key columns and repeats every column NAME
    # per row, so shuffling it ships ~100 B/row the aggregation never
    # needs. One flat value + one set-flag per column is the narrowest
    # exact representation. A column is SET when the tuple carried a
    # cell for it — explicit NULL ('n') is present in the map with a
    # null value, TOAST ('u') is absent + listed in toast_cols
    # (parser.go:325-344 semantics); the boolean keeps explicit NULL
    # distinguishable.
    cell_cols = []
    for c in value_cols:
        is_set = (
            F.col("op").isin("I", "U")
            & F.map_contains_key(F.col("new_vals"), c)
            & ~F.array_contains(
                F.coalesce(F.col("toast_cols"), F.array().cast("array<string>")), c
            )
        )
        cell_cols.append(F.coalesce(is_set, F.lit(False)).alias(f"__s_{c}"))
        cell_cols.append(F.col("new_vals").getItem(c).alias(f"__v_{c}"))
    extra = list(extra_group_cols or [])
    base = data.select(
        *[F.col(c) for c in extra],
        *keys, F.col("lsn"), F.col("seq"), F.col("op"),
        *cell_cols,
        *([F.col("tx_id")] if storm_txs else []),
    )
    group_cols = extra + list(key_cols)
    if num_buckets is not None:
        base = base.withColumn(BUCKET_COL, _bucket_expr(key_cols, num_buckets))
        group_cols = extra + [BUCKET_COL, *key_cols]

    if storm_txs:
        # Named update-storm transactions (census-detected, guide §2.5
        # "special-case the hot keys"): pre-aggregate ONLY the storm
        # rows with their own groupBy — the map-side partial agg
        # collapses each storm key to ~one row per scan task, so that
        # exchange carries a handful of rows — then project every other
        # row into the same partial shape (win + per-column candidate
        # structs, a pure projection) and re-aggregate the union inside
        # the bucket repartition. Exactly one full-size exchange, like
        # the storm-free plan, where the salted two-phase alternative
        # (pre_salt) pays TWO full-size exchanges and two sorts for the
        # uniform rows riding along (measured on the 4.2M-event hot
        # trace: 14-15.5 s salted vs ~6 s for this shape). Re-maxing
        # partial maxes is exact (struct max is associative).
        is_storm = F.col("tx_id").isin([int(t) for t in storm_txs])
        hot_partial = (
            base.filter(is_storm).groupBy(*group_cols).agg(*aggs)
        )
        rest_partial = base.filter(~is_storm).select(
            *[F.col(c) for c in group_cols],
            win.alias("win"),
            *[cands[c].alias(f"__last_{c}") for c in value_cols],
        )
        partial, final_aggs = rest_partial.unionByName(hot_partial), remax
    elif pre_salt:
        # Hot-(repo,path) update-storm guard. The default single-exchange
        # plan repartitions on the bucket BEFORE aggregating, so a key
        # with a 10^6-version chain sends every version to ONE reducer
        # (AQE skew handling covers joins, not aggregates). Two-phase
        # instead: phase 1 groups on (keys, salt(lsn)) — the groupBy's
        # own exchange gets map-side partial aggregation, and the salt
        # spreads any one key across pre_salt reducers; phase 2 re-maxes
        # the per-salt winners inside the bucket repartition. Every agg
        # here is a struct max, so re-aggregation is exact. The extra
        # exchange carries <= pre_salt rows per key (compacted), which is
        # why this is a knob and not the default: on storm-free batches
        # it duplicates exchange volume for no benefit.
        salted = base.withColumn(
            "__salt", F.pmod(F.hash(F.col("lsn")), F.lit(pre_salt))
        )
        partial = salted.groupBy(*group_cols, "__salt").agg(*aggs).drop("__salt")
        final_aggs = remax
    else:
        # plain path: the exchange carries the flat __s_*/__v_* cells and
        # the single groupBy builds the structs after it
        partial, final_aggs = base, aggs
    if num_buckets is not None:
        partial = partial.repartition(*_part_spec(extra, num_buckets, num_partitions))
    agged = partial.groupBy(*group_cols).agg(*final_aggs)

    out_cols = [F.col(c) for c in extra]
    if num_buckets is not None:
        out_cols.append(F.col(BUCKET_COL))
    for k in key_cols:
        out_cols.append(F.col(k))
    for c in value_cols:
        out_cols.append(
            casts.cast_text_value(
                F.col(f"__last_{c}").getField("v"), schema.oid_of(c)
            ).alias(c)
        )
    for c in value_cols:
        # per-column 'was explicitly set' marker + the LSN of the setting
        # row: the merge gates its TOAST coalesce on the marker (so an
        # explicit UPDATE-to-NULL is not resurrected from the target) and
        # uses the set-LSN for column-level LWW across out-of-order
        # epochs (a TOASTed column in a newer row must not discard an
        # older epoch's explicit value that arrives later)
        out_cols.append(F.col(f"__last_{c}").isNotNull().alias(f"__set_{c}"))
        out_cols.append(
            F.col(f"__last_{c}").getField("lsn").alias(f"__setlsn_{c}")
        )
    out_cols.append(F.col("win.lsn").alias("lsn"))
    out_cols.append(F.col("win.seq").alias("seq"))
    out_cols.append(F.col("win.op").alias("op"))
    return agged.select(*out_cols)


def truncate_barrier_lsn(changes: DataFrame) -> int | None:
    """Highest TRUNCATE lsn in the change set (None if no truncate)."""
    row = changes.filter(F.col("op") == "T").agg(F.max("lsn").alias("l")).collect()[0]
    return row["l"]
