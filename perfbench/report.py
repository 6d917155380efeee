"""Per-layer figures of a traced run and the table that prints them."""

from __future__ import annotations

import json
import os
import statistics
from datetime import datetime

from tracer import SPARK_FIELDS, spark_span_metrics, streaming_metrics

SPARK_SPANS = (
    "pipeline.self", "lake.merge_batch", "lake.append_delta",
    "lake.fold_deltas", "lake.read",
)
SPARK_UNITS = {
    "jobs": "count", "tasks": "count", "task_cpu_s": "s", "gc_s": "s",
    "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "spill_mb": "MB",
    "output_mb": "MB", "task_skew": "ratio",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "streaming.triggers": "count",
    "streaming.empty_trigger_ratio": "ratio",
    "streaming.trigger_ms_p50": "ms",
    "streaming.trigger_ms_p90": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.planning_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
    "streaming.latest_offset_ms_p50": "ms",
    "streaming.rows_per_trigger_p50": "count",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "B",
    "streaming.state_commit_ms_p50": "ms",
    "streaming.backlog_slope_ms_per_min": "ms/min",
    "streaming.self_s": "s",
    "pipeline.replay_batch.calls": "count",
    "pipeline.replay_batch.s": "s",
    "pipeline.replay_batch.self_s": "s",
    "pipeline.events_in": "count",
    "pipeline.quarantined_rows": "count",
    "pipeline.noop_epochs": "count",
    "lake.merge_batch.calls": "count",
    "lake.merge_batch.s": "s",
    "lake.append_delta.calls": "count",
    "lake.append_delta.s": "s",
    "lake.fold_deltas.calls": "count",
    "lake.fold_deltas.s": "s",
    "lake.read.s": "s",
    "lake.buckets_rewritten": "count",
    "lake.rows_rewritten": "count",
    "lake.bytes_written": "B",
    "lake.rewrite_useful_ratio": "ratio",
    **{f"spark.{s}.{f}": SPARK_UNITS[f] for s in SPARK_SPANS for f in SPARK_FIELDS},
    "load.gen_s": "s",
    "load.events": "count",
    "load.late_ms_max": "ms",
    "check.mismatch_rows": "rows",
}


def _in_windows(run, rec: dict) -> bool:
    return any(a <= rec["t0"] and (b is None or rec["t0"] <= b) for a, b in run.windows)


def per_layer(run) -> None:
    """Fill ``run.layer`` with every per-layer metric (0 where the
    workload never reaches the layer)."""
    tr = run.tracer
    spans = [s for s in tr.spans if _in_windows(run, s)]
    tr.spans = spans  # self time and totals over the measured windows only
    layer = {k: 0.0 for k in LAYER_UNITS}
    layer.update(run.layer)
    layer["session.start_s"] = run.info.get("session_start_s", 0.0)
    layer["session.warmup_s"] = run.info.get("warmup_s", 0.0)

    progress = []
    if run.collector is not None:
        progress = run.collector.progress = [
            p for p in run.collector.progress
            if datetime.fromisoformat(p["timestamp"]).timestamp() >= run.region_wall - 0.5
        ]
    layer.update(streaming_metrics(progress))
    layer["streaming.self_s"] = sum(
        tr.self_seconds(s) for s in spans if s["name"].startswith("streaming.")
    )

    calls, secs, self_s = tr.totals("pipeline.replay_batch")
    layer["pipeline.replay_batch.calls"] = calls
    layer["pipeline.replay_batch.s"] = secs
    layer["pipeline.replay_batch.self_s"] = self_s
    replays = tr.by_name("pipeline.replay_batch")
    layer["pipeline.quarantined_rows"] = sum(s["attrs"].get("quarantined", 0) for s in replays)
    layer["pipeline.noop_epochs"] = sum(bool(s["attrs"].get("noop")) for s in replays)

    for name in ("lake.merge_batch", "lake.append_delta", "lake.fold_deltas"):
        recs = [s for s in tr.by_name(name) if not s["attrs"].get("noop")]
        layer[f"{name}.calls"] = len(recs)
        layer[f"{name}.s"] = sum(s["t1"] - s["t0"] for s in recs)
    layer["lake.read.s"] = sum(s["t1"] - s["t0"] for s in tr.by_name("lake.read"))
    rewrites = [s["attrs"] for s in spans
                if s["name"] in ("lake.merge_batch", "lake.fold_deltas")
                and "rows_rewritten" in s["attrs"]]
    layer["lake.buckets_rewritten"] = sum(a["buckets"] for a in rewrites)
    layer["lake.rows_rewritten"] = sum(a["rows_rewritten"] for a in rewrites)
    layer["lake.bytes_written"] = sum(a["bytes_written"] for a in rewrites)
    changed = sum(a["changed"] for a in rewrites)
    layer["lake.rewrite_useful_ratio"] = (
        changed / layer["lake.rows_rewritten"] if layer["lake.rows_rewritten"] else 0.0
    )

    if os.path.isdir(run.event_log):
        by_tag = spark_span_metrics(run.event_log)
        by_tag["pipeline.self"] = by_tag.pop("pipeline.replay_batch", {})
        run.info["spark_untagged_jobs"] = by_tag.get("untagged", {}).get("jobs", 0)
        for s in SPARK_SPANS:
            for f in SPARK_FIELDS:
                layer[f"spark.{s}.{f}"] = by_tag.get(s, {}).get(f, 0.0)

    layer["load.gen_s"] = run.gen_s
    layer["load.events"] = run.info.get("applied_events", 0)
    layer["check.mismatch_rows"] = run.mismatch_rows
    run.layer = {k: float(layer[k]) for k in LAYER_UNITS}


def _untraced_medians(cache: str, workload: str) -> tuple[dict, int]:
    path = os.path.join(cache, "results", f"{workload}.jsonl")
    if not os.path.exists(path):
        return {}, 0
    with open(path) as f:
        rows = [json.loads(line) for line in f if line.strip()]
    keys = set().union(*rows) if rows else set()
    return {k: statistics.median(r[k] for r in rows if k in r) for k in keys}, len(rows)


def print_table(run, cache: str) -> None:
    L = run.layer
    w = run.workload
    out = [f"== per-layer table: {w} (seed {run.seed}, traced) =="]
    out.append(f"{'metric':44s} {'value':>14s}  unit")
    for k, unit in LAYER_UNITS.items():
        if L[k] == 0 and k.startswith("spark."):
            continue  # spans this workload never opened
        out.append(f"{k:44s} {L[k]:14.4f}  {unit}")

    # does the named layer carry the time it is expected to carry?
    if w == "live_tail":
        trig_s = sum(
            (p.get("durationMs") or {}).get("triggerExecution", 0)
            for p in run.collector.progress
        ) / 1000
        named = sum(
            (p.get("durationMs") or {}).get(k, 0)
            for p in run.collector.progress
            for k in ("latestOffset", "queryPlanning", "walCommit",
                      "commitOffsets", "addBatch")
        ) / 1000
        share = named / trig_s if trig_s else 0.0
        out.append(
            f"check: streaming phases (latestOffset, planning, walCommit, "
            f"commitOffsets, addBatch incl. pipeline.replay_batch "
            f"{L['pipeline.replay_batch.s']:.2f}s) cover {share:.0%} of "
            f"{trig_s:.2f}s trigger time -> "
            + ("holds" if share > 0.5 else "does NOT hold")
        )
    if w == "backfill":
        epoch_s = L["pipeline.replay_batch.s"]
        share = L["lake.merge_batch.s"] / epoch_s if epoch_s else 0.0
        out.append(
            f"check: lake.merge_batch {L['lake.merge_batch.s']:.2f}s is "
            f"{share:.0%} of epoch time {epoch_s:.2f}s -> "
            + ("holds" if share > 0.5 else "does NOT hold")
        )
        sc = run.info.get("scaling")
        if sc:
            out.append(
                f"scaling.eff_1to4 = {sc['eff_1to4']:.3f} "
                f"(local[1] {sc['eps_local1']:.0f} eps, local[4] "
                f"{sc['eps_local4']:.0f} eps; BASELINE.json target >= 0.8)"
            )

    med, n = _untraced_medians(cache, w)
    if n:
        out.append(f"tracing overhead vs median of {n} untraced run(s) in this checkout:")
        for k, v in run.metrics.items():
            if k in med and med[k]:
                out.append(f"  {k:22s} traced {v:12.3f}  untraced {med[k]:12.3f}"
                           f"  ({(v - med[k]) / med[k]:+.1%})")
    else:
        out.append("tracing overhead: no untraced run of this workload recorded in "
                   "this checkout; traced end-to-end figures:")
        for k, v in run.metrics.items():
            out.append(f"  {k:22s} traced {v:12.3f}")
    print("\n".join(out), flush=True)
    spans_path = os.path.join(cache, "traces", f"{w}-{run.seed}.json")
    run.tracer.dump(spans_path)
    print(f"spans written to {os.path.relpath(spans_path)}", flush=True)
