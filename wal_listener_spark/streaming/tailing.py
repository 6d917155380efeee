"""True-tailing mode: cross-batch transaction assembly with
``applyInPandasWithState``.

Bounded replay aligns micro-batches to commits (tx-aligned files). A
live tail cannot: a transaction's Begin may arrive in one trigger and
its Commit several triggers later. This module re-creates the
reference's WAL-accumulator semantics (buffer until CommitTime is set —
``/root/reference/internal/listener/transaction/wal.go:21-30,48-52``,
flush at ``listener.go:401-424``) as a keyed stateful operator:

    readStream -> groupBy(tx_id).applyInPandasWithState(buffer-or-release)
               -> foreachBatch(replay_batch)

State is keyed by ``hash(tx_id) % tx_buckets``, NOT by tx_id: with
per-tx keys the Python assembler is invoked once per transaction per
trigger, and a CDC stream of small OLTP transactions (measured: 418k
events / 200k txs at bench scale) pays ~0.3-0.5 ms of
applyInPandasWithState per-group overhead 100k+ times per epoch —
30-50 s/epoch of pure invocation cost. Bucketed keys make the
invocation count O(tx_buckets) per trigger and the transaction
bookkeeping vectorized pandas inside each bucket; state-store rows are
bounded by the bucket count instead of the live-transaction count.

Per-bucket state (one pickled blob): ``open`` maps tx_id -> list of
pickled-pandas chunks (one chunk appended per trigger that contributed
rows to that tx, so an open giant transaction costs O(new rows) of
pickling per trigger — existing chunks are carried as opaque bytes,
never re-serialized through pandas); ``markers`` maps committed tx_id
-> (commit_lsn, commit_ts, last_seen_ms) — scalars, NOT a pickled
row, so 100k committed-tx markers cost megabytes, not hundreds.
Incoming Arrow batches buffer/release wholesale: no per-row Python,
masks + groupby only. When a Commit arrives, the whole transaction
(Begin + changes + Commit) is released downstream atomically, so
``replay_batch``'s integrity accounting and merge see only complete
transactions. Relation/Origin/Type/Truncate rows (tx-less control
messages in our columnar form, tx_id < 0) ride a dedicated -1 bucket
and pass through immediately; rows with NULL tx_id (never produced by
the decoder) also pass through rather than buffering unreleasably.

Late-arriving rows of an already-committed tx (a file split mid-tx,
listed out of order) release immediately together with a synthesized
Commit row built from the marker scalars, so every released batch
still carries complete transactions. For LIVE tails (processingTime
trigger) pass ``marker_ttl_ms`` to purge expired markers — inline on
every trigger that touches the bucket AND via ProcessingTimeTimeout
for buckets gone quiet (per-marker timestamps; a bucket whose state
empties is removed). A straggler row arriving after its tx's marker
expired is indistinguishable from a new open transaction and
RE-BUFFERS (never applied wrong, never released without a Commit); it
would release only if a fresh Commit for that tx_id arrived, so size
the TTL to the source's maximum redelivery horizon. Marker expiry is
judged by EXECUTOR wall clock (``time.time()`` captured when the marker
was last touched): on a multi-executor cluster, clock skew between
hosts — or an NTP step — shifts the effective TTL by the skew amount
in either direction. Degradation stays safe (an early-expired marker
only re-buffers stragglers; a late one holds a few extra bytes), but
when sizing ``marker_ttl_ms`` budget the cluster's worst-case clock
skew on top of the redelivery horizon. Bounded availableNow
replays run without timeouts — the combination of availableNow + state
timeouts does not terminate cleanly (observed: the query never
finishes), and a bounded replay's marker count is bounded by its input
anyway. The reference holds the same buffer in memory (wal.go:21-30)
with no marker at all — it relies on strict socket order. Spark
checkpoints the state store, so a crash mid-transaction resumes with
the buffer intact. ``tx_buckets`` is baked into the checkpoint's key
space: changing it requires a fresh checkpoint (same rule as
``spark.sql.shuffle.partitions`` for state stores).
"""

from __future__ import annotations

import pickle
import time
import uuid
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from dataclasses import replace as _cfg_replace

from ..config import PipelineConfig
from ..pipeline import replay_batch
from ..trace.generator import TRACE_SCHEMA

#: per-bucket state: ONE pickled (open, markers) tuple — see module
#: docstring for the layout and why it beats per-tx state rows
STATE_SCHEMA = T.StructType([T.StructField("blob", T.BinaryType(), True)])

TX_BUCKET_COL = "__tx_bucket"
DEFAULT_TX_BUCKETS = 64

_COLS = [f.name for f in TRACE_SCHEMA.fields]


def _dumps(pdf: pd.DataFrame) -> bytes:
    # pickle (protocol 5) keeps pandas' columnar buffers and the
    # object-typed map/array cells intact with zero per-row work; the
    # blob lives only inside this query's checkpointed state store
    return pickle.dumps(pdf, protocol=5)


def _empty() -> pd.DataFrame:
    return pd.DataFrame(columns=_COLS)


def _synth_commit(tx_id: int, commit_lsn, commit_ts) -> pd.DataFrame:
    """A minimal Commit row rebuilt from marker scalars — released with
    straggler rows so the downstream tx-integrity census still sees a
    complete transaction in every batch."""
    row = {c: None for c in _COLS}
    # lsn/tx_id/seq/op are non-nullable in TRACE_SCHEMA; seq of a Commit
    # row is never consulted downstream (census only checks op == 'C')
    row.update(tx_id=tx_id, lsn=commit_lsn, seq=0, op="C", commit_ts=commit_ts)
    return pd.DataFrame([row], columns=_COLS)


def _load_state(state: GroupState) -> tuple[dict, dict]:
    if state.exists:
        (blob,) = state.get
        if blob:
            return pickle.loads(bytes(blob))
    return {}, {}


def _store_state(
    state: GroupState, open_txs: dict, markers: dict,
    marker_ttl_ms: int | None,
) -> None:
    if open_txs or markers:
        state.update((pickle.dumps((open_txs, markers), protocol=5),))
        if marker_ttl_ms:
            state.setTimeoutDuration(marker_ttl_ms)
    elif state.exists:
        state.remove()


def _make_assemble(marker_ttl_ms: int | None):
    def _assemble(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        return _assemble_impl(key, pdfs, state, marker_ttl_ms)

    return _assemble


def _assemble_impl(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState,
    marker_ttl_ms: int | None = None,
):
    """Buffer each transaction's rows until its Commit arrives, then
    release the complete transaction (the WAL.Clear() lifecycle) — for
    every transaction hashing into this bucket, vectorized.

    Robust to out-of-LSN-order delivery (a file source makes no ordering
    promise): once a tx commits, its marker survives in bucket state,
    and any late-arriving rows release immediately together with a
    synthesized Commit row."""
    now_ms = int(time.time() * 1000)
    if marker_ttl_ms and state.hasTimedOut:
        # timeout fires only for buckets with no fresh data this trigger:
        # purge expired markers, keep open buffers, drop the bucket row
        # entirely once both are empty
        open_txs, markers = _load_state(state)
        cutoff = now_ms - marker_ttl_ms
        markers = {t: m for t, m in markers.items() if m[2] > cutoff}
        _store_state(state, open_txs, markers, marker_ttl_ms)
        yield _empty()
        return

    parts = [pdf for pdf in pdfs if len(pdf)]
    if not parts:
        yield _empty()
        return
    pdf = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
    if TX_BUCKET_COL in pdf.columns:
        pdf = pdf.drop(columns=[TX_BUCKET_COL])

    if key[0] is not None and int(key[0]) < 0:
        # tx-less control rows (Relation/Origin/Type/Truncate): straight
        # through, no state
        yield pdf
        return

    open_txs, markers = _load_state(state)
    tx = pdf["tx_id"]

    # transactions whose Commit is IN this trigger (the common case for
    # an epoch that covers whole files): release fresh rows + any
    # buffered chunks from earlier triggers
    commits = pdf[pdf["op"] == "C"].drop_duplicates("tx_id", keep="last")
    committed_now = set(int(t) for t in commits["tx_id"].tolist())
    # stragglers of transactions that committed in an EARLIER trigger
    present = set(int(t) for t in tx.dropna().unique().tolist())
    marked_late = (present & set(markers)) - committed_now

    release_mask = tx.isin(committed_now | marked_late) | tx.isna()
    released = [pdf[release_mask]] if release_mask.any() else []
    for t in committed_now:
        released.extend(pickle.loads(c) for c in open_txs.pop(t, []))
    for t in marked_late:
        c_lsn, c_ts, _ = markers[t]
        released.append(_synth_commit(t, c_lsn, c_ts))

    # buffer open transactions: ONE new chunk per tx per trigger;
    # existing chunks ride along as opaque bytes (no re-serialization)
    open_pdf = pdf[~release_mask]
    if len(open_pdf):
        for t, g in open_pdf.groupby("tx_id", sort=False):
            open_txs.setdefault(int(t), []).append(_dumps(g))

    # record/refresh markers for newly committed transactions (scalars
    # only — see module docstring)
    for t, lsn, ts in zip(
        commits["tx_id"].tolist(), commits["lsn"].tolist(),
        commits["commit_ts"].tolist(),
    ):
        markers[int(t)] = (lsn, ts, now_ms)

    if marker_ttl_ms and markers:
        # purge expired markers INLINE as well as on timeout: a bucket
        # receiving steady live traffic never goes quiet, so its
        # ProcessingTimeTimeout never fires — without this, markers for
        # every committed tx would accumulate for the stream's lifetime
        cutoff = now_ms - marker_ttl_ms
        markers = {t: m for t, m in markers.items() if m[2] > cutoff}

    _store_state(state, open_txs, markers, marker_ttl_ms)
    if released:
        yield pd.concat(released, ignore_index=True)
    else:
        yield _empty()


def assemble_stream(
    trace_stream: DataFrame,
    marker_ttl_ms: int | None = None,
    tx_buckets: int = DEFAULT_TX_BUCKETS,
) -> DataFrame:
    """Stateful cross-batch tx assembly: only complete transactions (and
    tx-less control rows) flow downstream. ``marker_ttl_ms`` enables the
    committed-marker purge for LIVE (processingTime) tails; leave None
    under availableNow (module docstring). ``tx_buckets`` sizes the
    state key space (fixed per checkpoint)."""
    keyed = trace_stream.withColumn(
        TX_BUCKET_COL,
        # NULL tx_id joins the tx-less bucket too: a null grouping key
        # would crash the state operator's key reader, and a row without
        # a transaction can never commit — pass it through instead
        F.when(F.col("tx_id").isNull() | (F.col("tx_id") < 0), F.lit(-1))
        .otherwise(F.pmod(F.hash("tx_id"), F.lit(tx_buckets)))
        .cast("int"),
    )
    return keyed.groupBy(TX_BUCKET_COL).applyInPandasWithState(
        _make_assemble(marker_ttl_ms),
        outputStructType=TRACE_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if marker_ttl_ms
            else GroupStateTimeout.NoTimeout
        ),
    )


def seed_registry(spark: SparkSession, trace_dir: str, table_root: str) -> None:
    """Pre-seed the relation registry (same rationale as
    run_replay_stream: file epochs arrive in no particular LSN order, so
    a data epoch may precede the Relation epoch; one pushed-down op='R'
    scan restores the pgoutput relation-before-first-use invariant)."""
    from ..lake.catalog import load_target
    from ..operators.registry import RelationRegistry

    table = load_target(spark, table_root)
    before = table.properties.get("registry") or []
    registry = RelationRegistry.from_json(before)
    registry.update_from_trace(
        spark.read.schema(TRACE_SCHEMA).parquet(trace_dir).filter(F.col("op") == "R")
    )
    if registry.relations and registry.to_json() != before:
        table.properties["registry"] = registry.to_json()
        table.save_properties()


def drain_merge(
    spark: SparkSession,
    staging_dir: str,
    pending_dir: str,
    markers_dir: str,
    table_root: str,
    cfg: PipelineConfig,
    isin_threshold: int = 1024,
    marker_retention: int = 64,
) -> dict | None:
    """One group merge of drain-mode staged batches: batch-side
    transaction assembly + exactly-once replay.

    Inputs: every staged raw micro-batch plus every surviving pending
    generation. A column-pruned per-tx census (map-side combined — the
    payload never shuffles) finds transactions with no Commit anywhere
    in the inputs; their rows divert to a NEW pending generation, and a
    small id set filters them out of the replay (literal ``isin`` under
    ``isin_threshold`` ids, broadcast anti-join above — either way no
    payload shuffle). Transactions a PREVIOUS group merge applied
    release immediately with a synthesized Commit from the marker store
    (the reference's WAL-buffer semantics, wal.go:21-30, done in batch).

    Crash-safety is ordering, not locking — every step is recomputable
    until the staged inputs are removed:
      replay (idempotent on batch_key + column-level LWW) -> markers
      (per-merge dir, overwrite) -> new pending generation (per-merge
      dir, overwrite) -> staged cleanup -> old pending-gen cleanup.
    A crash between any two steps re-runs the same merge from the same
    inputs on the next startup; duplicated pending rows across
    generations re-apply as LWW no-ops.
    """
    import os
    import shutil

    from ..lake.catalog import load_target

    dirs = _staged_batch_dirs(staging_dir)

    def _gen_seq(path: str) -> int | None:
        """Monotonic sequence embedded in ``gen-<seq>-...`` names (None
        for legacy mtime-era names)."""
        part = os.path.basename(path).split("-")[1:2]
        return int(part[0]) if part and part[0].isdigit() else None

    def _gens(d: str) -> list[str]:
        """Generation dirs, oldest first. Ordered by the monotonic
        sequence embedded in the name — mtime alone has 1-second
        granularity on some filesystems, and two generations written in
        the same second would tie and sort arbitrarily, letting marker-
        retention pruning delete the newer of the two. Legacy seq-less
        names (all strictly older than any seq-named one) fall back to
        mtime and sort first."""
        if not os.path.isdir(d):
            return []
        entries = [
            os.path.join(d, e) for e in os.listdir(d) if e.startswith("gen-")
        ]
        return sorted(
            entries,
            key=lambda p: (
                (1, _gen_seq(p), "") if _gen_seq(p) is not None
                else (0, os.path.getmtime(p), p)
            ),
        )

    # sweep half-written generations from crashed attempts (tmp- dirs
    # never graduated to gen- via the atomic rename below)
    for base in (pending_dir, markers_dir):
        if os.path.isdir(base):
            for e in os.listdir(base):
                if e.startswith("tmp-"):
                    shutil.rmtree(os.path.join(base, e), ignore_errors=True)

    old_gens = _gens(pending_dir)
    if not dirs and not old_gens:
        return None
    ids = [d.rsplit("-", 1)[1] for d in dirs]
    if ids:
        key = f"tailstage-{ids[0]}-{ids[-1]}"
    else:
        # pending-only merge: derive the epoch key from the input
        # generation names — a constant key would make merge_batch's
        # committed-batch ring treat every later pending-only merge as a
        # replayed epoch and silently no-op it
        import hashlib

        gen_sig = hashlib.md5(
            "|".join(os.path.basename(g) for g in old_gens).encode()
        ).hexdigest()[:10]
        key = f"tailstage-pending-{gen_sig}"
    rows = spark.read.schema(TRACE_SCHEMA).parquet(*(list(dirs) + old_gens))

    # per-tx completeness census (control rows tx_id<0 are exempt)
    census = (
        rows.filter(F.col("tx_id") >= 0)
        .groupBy("tx_id")
        .agg(F.max(F.when(F.col("op") == "C", 1).otherwise(0)).alias("has_c"))
    )
    incomplete = census.filter(F.col("has_c") == 0).select("tx_id")

    # stragglers of already-applied transactions: synthesize their Commit
    synth_rows: list = []
    marker_gens = _gens(markers_dir)
    if marker_gens:
        markers = spark.read.parquet(*marker_gens)
        hits = (
            incomplete.join(markers, "tx_id")
            .groupBy("tx_id")
            .agg(
                F.max("commit_lsn").alias("commit_lsn"),
                F.max("commit_ts").alias("commit_ts"),
            )
            .collect()
        )
        if hits:
            incomplete = incomplete.join(
                F.broadcast(markers.select("tx_id").distinct()), "tx_id", "anti"
            )
            for h in hits:
                r = {c: None for c in _COLS}
                r.update(
                    tx_id=h["tx_id"], lsn=h["commit_lsn"], seq=0, op="C",
                    commit_ts=h["commit_ts"],
                )
                synth_rows.append(tuple(r[c] for c in _COLS))

    inc_ids = [r["tx_id"] for r in incomplete.collect()]
    ctrl = F.col("tx_id") < 0
    if not inc_ids:
        complete, pending_new = rows, None
    elif len(inc_ids) <= isin_threshold:
        complete = rows.filter(ctrl | ~F.col("tx_id").isin(inc_ids))
        pending_new = rows.filter((~ctrl) & F.col("tx_id").isin(inc_ids))
    else:
        id_df = spark.createDataFrame([(i,) for i in inc_ids], "tx_id long")
        complete = rows.join(F.broadcast(id_df), "tx_id", "anti")
        pending_new = rows.join(F.broadcast(id_df), "tx_id", "semi")
    if synth_rows:
        complete = complete.unionByName(
            spark.createDataFrame(synth_rows, TRACE_SCHEMA)
        )

    table = load_target(spark, table_root)
    # the drain census above already diverted incomplete transactions —
    # replay_batch may take the light-census path (falls back on R/T)
    stats = replay_batch(
        complete, table, _cfg_replace(cfg, assume_complete_txs=True),
        batch_key=key,
    )

    # marker + pending generations: written under a unique PER-ATTEMPT
    # name via tmp-dir + atomic rename. Re-running the same merge after
    # a crash-before-cleanup feeds the previous attempt's pending gen
    # back in as an INPUT — an overwrite to the same gen-{key} path
    # would delete its own lazy input mid-read (observed:
    # FAILED_READ_FILE on the rerun). Unique names never collide with
    # inputs; the rename keeps half-written dirs invisible to _gens
    # (tmp- prefix), so a crash mid-write can never leave a torn
    # parquet dir a later merge would try to read. Duplicate rows
    # across surviving generations re-apply as LWW/marker-max no-ops.
    attempt = uuid.uuid4().hex[:8]
    # monotonic generation sequence: max over both stores' existing gens
    # + 1 (same seq for this merge's marker and pending gens) — _gens
    # orders by it, immune to coarse-mtime ties
    next_seq = 1 + max(
        (
            _gen_seq(g) or 0
            for base in (pending_dir, markers_dir)
            for g in _gens(base)
        ),
        default=0,
    )

    def _write_gen(df: DataFrame, base: str) -> None:
        tmp = os.path.join(base, f"tmp-{key}-{attempt}")
        df.write.mode("overwrite").option("compression", "snappy").parquet(tmp)
        os.rename(
            tmp, os.path.join(base, f"gen-{next_seq:010d}-{key}-{attempt}")
        )

    _write_gen(
        complete.filter(F.col("op") == "C").select(
            "tx_id",
            F.col("lsn").alias("commit_lsn"),
            F.col("commit_ts").alias("commit_ts"),
        ),
        markers_dir,
    )
    if pending_new is not None:
        _write_gen(pending_new, pending_dir)
    # inputs now fully represented in (lake, markers, new pending gen)
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
    for g in old_gens:
        shutil.rmtree(g, ignore_errors=True)
    # marker retention: stragglers older than this many group merges
    # re-buffer as pending instead of releasing (same degradation as an
    # expired in-state marker; size to the source's redelivery horizon)
    gens_now = _gens(markers_dir)
    for g in gens_now[: max(0, len(gens_now) - marker_retention)]:
        shutil.rmtree(g, ignore_errors=True)
    return stats


def _pin_tx_buckets(
    checkpoint_dir: str, tx_buckets: int, mode: str = "assemble"
) -> None:
    """Fail fast on a tx_buckets or MODE change against an existing
    checkpoint.

    The bucket count IS the state key space: resuming with a different
    value would look up every open transaction under the wrong key and
    silently re-buffer (or mis-release) — the same class of hazard as
    changing spark.sql.shuffle.partitions on a stateful checkpoint,
    which Spark guards internally. The mode matters too: an 'assemble'
    checkpoint holds buffered transactions in its state store that a
    'drain' resume would never release (and vice versa, a drain
    checkpoint's staging/pending dirs are invisible to the stateful
    plan). Pin both beside the checkpoint and refuse a mismatched
    resume with an actionable error."""
    import json
    import os

    os.makedirs(checkpoint_dir, exist_ok=True)
    pin = os.path.join(checkpoint_dir, "wal_tx_buckets.json")
    if os.path.exists(pin):
        try:
            with open(pin) as f:
                doc = json.load(f)
            pinned = doc["tx_buckets"]
        except (ValueError, KeyError) as e:
            raise ValueError(
                f"tx_buckets pin {pin} is unreadable ({e!r}) — the "
                "checkpoint directory is corrupt (crash mid-create?). "
                "Start from a fresh checkpoint, or restore the pin to "
                "the original tx_buckets value if it is known."
            ) from e
        pinned_mode = doc.get("mode", "assemble")
        if pinned_mode != mode:
            raise ValueError(
                f"checkpoint {checkpoint_dir} was created in "
                f"{pinned_mode!r} mode, refusing to resume in {mode!r}: "
                "buffered transactions live in the state store "
                "('assemble') or in staging/pending dirs ('drain') and "
                "neither mode can see the other's. Drain the original "
                "mode to completion or start a fresh checkpoint."
            )
        if pinned != tx_buckets:
            raise ValueError(
                f"checkpoint {checkpoint_dir} was created with "
                f"tx_buckets={pinned}, refusing to resume with "
                f"{tx_buckets}: state keys are hash(tx_id) % tx_buckets, "
                "so a different bucket count silently orphans buffered "
                "transactions. Use the original value or a fresh "
                "checkpoint."
            )
    else:
        # atomic create (tmp + rename): a crash mid-write must not leave
        # a truncated pin that poisons every later resume
        tmp = pin + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"tx_buckets": tx_buckets, "mode": mode}, f)
        os.replace(tmp, pin)


def run_live_tail(
    spark: SparkSession,
    trace_dir: str,
    table_root: str,
    checkpoint_dir: str,
    cfg: PipelineConfig | None = None,
    processing_interval: str = "500 milliseconds",
    marker_ttl_ms: int = 60_000,
    tx_buckets: int = DEFAULT_TX_BUCKETS,
    until_lsn: int | None = None,
    timeout_s: float = 180.0,
    state_partitions: int | None = None,
) -> list[dict]:
    """LIVE tail: processingTime micro-triggers + marker TTL, merging
    every trigger (latency over throughput — the processingTime twin of
    ``run_tailing_stream``'s availableNow drain). Runs until a returned
    record's ``high_lsn`` reaches ``until_lsn`` (or ``timeout_s``), so a
    caller feeding files concurrently can measure event-to-commit
    latency for every slice: each returned record carries the wall-clock
    time its snapshot commit finished plus the replay stats
    (``high_lsn`` inside per-table stats). The reference's analog loop is
    listener.go:388-436 — publish then ack, here merge then snapshot.

    ``state_partitions``: width of the stateful shuffle, baked into the
    checkpoint at first start (same mechanics and caveats as
    ``run_tailing_stream``). Live triggers carry SMALL inputs, so the
    per-trigger fixed cost — one state-store delta commit and one Python
    assembler invocation per partition — dominates latency at session
    width; unlike the bounded drain (where more partitions win on
    throughput), a latency-sized tail wants this near its per-trigger
    bucket-touch count."""
    import time as _time

    from ..lake.catalog import load_target

    cfg = cfg or PipelineConfig()
    records: list[dict] = []

    _pin_tx_buckets(checkpoint_dir, tx_buckets, mode="assemble")
    seed_registry(spark, trace_dir, table_root)
    # a resumed tail whose lake already covers until_lsn has nothing left
    # to return a record for
    applied_at_start = getattr(
        load_target(spark, table_root), "last_applied_lsn", -1
    )

    def _apply(batch_df, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            table = load_target(batch_df.sparkSession, table_root)
            # assembler releases only complete transactions -> the light
            # census applies (halves per-trigger fixed cost)
            s = replay_batch(
                batch_df, table,
                _cfg_replace(cfg, assume_complete_txs=True),
                batch_key=f"live-{batch_id}",
            )
        finally:
            batch_df.unpersist()
        records.append({"t_commit": _time.time(), "stats": s})

    released = assemble_stream(
        spark.readStream.schema(TRACE_SCHEMA).parquet(trace_dir),
        marker_ttl_ms=marker_ttl_ms,
        tx_buckets=tx_buckets,
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions:
        # read once at query start and baked into the checkpoint as the
        # state partition count — restore right after .start() (see
        # run_tailing_stream)
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        query = (
            released.writeStream.foreachBatch(_apply)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(processingTime=processing_interval)
            .start()
        )
    finally:
        if state_partitions:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    t0 = _time.time()
    try:
        while _time.time() - t0 < timeout_s:
            if query.exception() is not None:
                raise query.exception()
            # stop on a RETURNED record, never on the manifest alone: a
            # trigger's snapshot commit lands before its record does, and
            # a stop in between would interrupt the trigger and drop the
            # record of slices that did commit
            if until_lsn is not None and (
                applied_at_start >= until_lsn
                or _records_high_lsn(records) >= until_lsn
            ):
                break
            _time.sleep(0.2)
    finally:
        query.stop()
    return records


def _records_high_lsn(records: list[dict]) -> int:
    """Highest LSN any returned live-tail record committed (-1: none)."""
    return max(
        (
            m.get("high_lsn") or -1
            for r in list(records)
            for m in (r["stats"].get("tables") or {}).values()
        ),
        default=-1,
    )


def _staged_batch_dirs(staging_dir: str) -> list[str]:
    import os

    if not os.path.isdir(staging_dir):
        return []
    return sorted(
        (
            os.path.join(staging_dir, e)
            for e in os.listdir(staging_dir)
            if e.startswith("batch-")
        ),
        key=lambda p: int(p.rsplit("-", 1)[1]),
    )


def run_tailing_stream(
    spark: SparkSession,
    trace_dir: str,
    table_root: str,
    checkpoint_dir: str,
    cfg: PipelineConfig | None = None,
    max_files_per_trigger: int | None = 1,
    state_partitions: int | None = None,
    tx_buckets: int = DEFAULT_TX_BUCKETS,
    group_commit_batches: int | None = None,
) -> list[dict]:
    """Tail a NON-tx-aligned trace directory: stateful assembly releases
    complete transactions into the same exactly-once merge.

    ``state_partitions`` (optional) pins the stateful shuffle width
    (``spark.sql.shuffle.partitions`` at query start, which Spark bakes
    into the checkpoint as the state-store partition count). Default
    None = session width: measured A/B at 10k-event epochs showed MORE
    state partitions win (1421 vs 872 eps at 16 vs 4 — the assembler's
    Python workers parallelize by state partition, and that beats the
    saved state-store delta files). Pin it low only for a genuinely
    trickle-rate live tail where per-trigger input is tiny and the
    delta-file commit cost dominates.

    ``group_commit_batches``: when set, the query runs in DRAIN mode —
    the deep-backlog (availableNow) shape. Each trigger only STAGES the
    raw micro-batch to parquet (pure JVM file-to-file, no stateful
    operator, no Python, no shuffle), and every N staged batches — plus
    once at stream end — one group merge assembles transactions IN
    BATCH: a column-pruned per-tx census finds transactions with no
    Commit in the staged+pending set, their rows divert to a pending
    store, everything else replays in one ``replay_batch`` whose fixed
    cost (~10s) is paid once per group instead of per trigger. An
    applied-commit marker store (tx_id, commit lsn/ts parquet) lets a
    straggler row of a transaction applied by an EARLIER group merge
    release with a synthesized Commit — the same semantics the stateful
    assembler's in-state markers give a live tail. Crash-safe: the
    staging/pending/marker directories are the source of truth — a
    batch whose foreachBatch returned is checkpoint-committed and never
    redelivered, but its staged files survive and merge on the next
    run's startup; the column-level LWW makes a re-merge after a crash
    between snapshot commit and staging cleanup a no-op. Leave None for
    live (processingTime) tails where per-trigger commit latency is the
    point and the in-state marker TTL does the bookkeeping."""
    import os
    import shutil

    cfg = cfg or PipelineConfig()
    stats: list[dict] = []

    _pin_tx_buckets(
        checkpoint_dir, tx_buckets,
        mode="drain" if group_commit_batches else "assemble",
    )
    seed_registry(spark, trace_dir, table_root)

    staging_dir = checkpoint_dir.rstrip("/") + "_staging"
    pending_dir = checkpoint_dir.rstrip("/") + "_pending"
    markers_dir = checkpoint_dir.rstrip("/") + "_markers"

    def _merge_staged() -> None:
        s = drain_merge(
            spark, staging_dir, pending_dir, markers_dir, table_root, cfg
        )
        if s is not None:
            stats.append(s)

    # crash recovery: staged-but-unmerged batches from a previous run
    # are already checkpoint-committed upstream and will NOT redeliver —
    # merge them before tailing on
    if group_commit_batches:
        _merge_staged()

    def _apply(batch_df, batch_id: int) -> None:
        # NB: batch_df belongs to the micro-batch's CLONED SparkSession.
        # Everything merged/joined with it must come from the same
        # session — frames from the outer session break
        # QueryExecutionListener delivery and deadlock Observation.get
        # (wide-mode merge counters), so load_target uses the batch's
        # own session.
        from ..lake.catalog import load_target

        if group_commit_batches:
            # drain mode: stage the raw batch; assembly happens in the
            # group merge (one action, no state store in the plan)
            d = os.path.join(staging_dir, f"batch-{batch_id}")
            (
                batch_df.write.mode("overwrite")
                .option("compression", "snappy")
                .parquet(d)
            )
            if len(_staged_batch_dirs(staging_dir)) >= group_commit_batches:
                _merge_staged()
            return

        # Persist the released batch: its lineage runs through the
        # stateful Python assembler, and replay_batch triggers ~3 jobs
        # (control-plane census, stats pre-pass, merge write) — without
        # the cache each job would RE-EXECUTE the whole
        # applyInPandasWithState stage (scan + Arrow round-trip + state
        # reads), tripling the per-epoch fixed cost (measured 9-14s vs
        # 2.6s for the same replay_batch on a plain scan). This is the
        # opposite call from pipeline.py's deliberate non-persist of
        # file-scan batches, where the upstream is a cheap pushed-down
        # parquet read.
        batch_df = batch_df.persist()
        try:
            table = load_target(batch_df.sparkSession, table_root)
            s = replay_batch(
                batch_df, table,
                _cfg_replace(cfg, assume_complete_txs=True),
                batch_key=f"tail-{batch_id}",
            )
        finally:
            batch_df.unpersist()
        stats.append(s)

    reader = spark.readStream.schema(TRACE_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(trace_dir)
    # drain mode: no stateful operator in the plan — triggers only
    # stage; assembly happens batch-side in drain_merge
    released = (
        stream
        if group_commit_batches
        else assemble_stream(stream, tx_buckets=tx_buckets)
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions:
        # the stream reads the conf once at query start and bakes it
        # into the checkpoint as the state partition count — restore
        # immediately after .start() so the session-global width is not
        # mutated for the whole run (concurrent batch queries on the
        # shared session would silently plan with the narrow width)
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        query = (
            released.writeStream.foreachBatch(_apply)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        if state_partitions:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    try:
        query.awaitTermination()
    finally:
        if query.isActive:
            query.stop()
    if group_commit_batches:
        _merge_staged()  # drain whatever the last group left staged
    return stats
