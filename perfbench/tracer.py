"""Outside-in tracer: spans recorded from the benchmark's side.

The tracer wraps the engine's public functions where their callers look
them up (``pipeline.replay_batch`` and the names the streaming modules
imported, the ``LakeTable`` methods on the class) and times each call as
a span. Spans live in memory and are written once, at the end of the
run. A span's self time is its duration minus the part of it that its
child spans cover.

Spark work is attributed through a job-local property: entering a span
sets ``perfbench.span`` on the calling thread, so every Spark job the
span submits carries the innermost span's name into the event log. The
event log is read after the session stops (``spark_span_metrics``).

Streaming progress comes from a ``StreamingQueryListener`` the benchmark
registers (``ProgressCollector``). No engine environment variable or
engine code change is involved.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

TAG = "perfbench.span"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.sc = None  # SparkContext used to tag jobs; set once started
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        # a span whose calls come back on other threads (the streaming
        # query's foreachBatch thread): those threads adopt it as parent
        self._ambient: int | None = None
        self._patches: list[tuple[object, str, object]] = []
        #: patched functions record spans only while this is set, so
        #: warm-up calls stay out of the per-layer figures
        self.recording = False

    # -------------------------------------------------------------- spans
    @contextmanager
    def span(self, name: str, ambient: bool = False, **attrs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1] if stack else self._ambient,
            "thread": threading.get_ident(),
            "t0": time.perf_counter(),
            "t1": None,
            "attrs": dict(attrs),
        }
        stack.append(rec["id"])
        prev_ambient = self._ambient
        if ambient:
            self._ambient = rec["id"]
        sc = self.sc if self.recording else None
        prev_tag = sc.getLocalProperty(TAG) if sc is not None else None
        if sc is not None:
            sc.setLocalProperty(TAG, name)
        try:
            yield rec
        finally:
            if sc is not None:
                sc.setLocalProperty(TAG, prev_tag)
            rec["t1"] = time.perf_counter()
            stack.pop()
            if ambient:
                self._ambient = prev_ambient
            with self._lock:
                self.spans.append(rec)

    def patch(self, owners: list[tuple[object, str]], name: str, after=None):
        """Wrap the function found at each ``(owner, attr)`` — one wrapper
        per distinct function, so a name imported into several modules is
        traced wherever its caller looks it up. ``after(rec, args, out)``
        may attach counters to the span."""
        wrappers: dict[int, object] = {}
        for owner, attr in owners:
            orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            if id(orig) not in wrappers:
                wrappers[id(orig)] = self._wrap(orig, name, after)
            setattr(owner, attr, wrappers[id(orig)])
            self._patches.append((owner, attr, orig))

    def _wrap(self, fn, name, after):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.recording:
                return fn(*args, **kwargs)
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(rec, args, out)
                return out

        return traced

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ---------------------------------------------------------- analysis
    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_seconds(self, rec: dict) -> float:
        """Duration minus the union of the child spans' intervals."""
        t0, t1 = rec["t0"], rec["t1"]
        kids = sorted(
            (max(c["t0"], t0), min(c["t1"], t1))
            for c in self.spans
            if c["parent"] == rec["id"]
        )
        covered, cur0, cur1 = 0.0, None, None
        for a, b in kids:
            if b <= a:
                continue
            if cur1 is None or a > cur1:
                if cur1 is not None:
                    covered += cur1 - cur0
                cur0, cur1 = a, b
            else:
                cur1 = max(cur1, b)
        if cur1 is not None:
            covered += cur1 - cur0
        return (t1 - t0) - covered

    def totals(self, name: str) -> tuple[int, float, float]:
        """(calls, seconds, self seconds) of every span with this name."""
        recs = self.by_name(name)
        return (
            len(recs),
            sum(r["t1"] - r["t0"] for r in recs),
            sum(self.self_seconds(r) for r in recs),
        )

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class ProgressCollector(StreamingQueryListener):
    """Keeps every streaming progress report of the session in memory."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        doc = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(doc)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def clear(self) -> None:
        with self._lock:
            self.progress.clear()


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile, by the rule of ``statistics.quantiles`` that
    the run-to-run spreads use too (0 for no values)."""
    if not values:
        return 0.0
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def streaming_metrics(progress: list[dict]) -> dict[str, float]:
    dur = [p.get("durationMs") or {} for p in progress]
    rows = [p.get("numInputRows", 0) for p in progress]
    state = [op for p in progress for op in (p.get("stateOperators") or [])]
    last_state = (progress[-1].get("stateOperators") or []) if progress else []
    trig = [d.get("triggerExecution", 0) for d in dur]
    return {
        "streaming.triggers": len(progress),
        "streaming.empty_trigger_ratio": (
            sum(r == 0 for r in rows) / len(rows) if rows else 0.0
        ),
        "streaming.trigger_ms_p50": quantile(trig, 50),
        "streaming.trigger_ms_p90": quantile(trig, 90),
        "streaming.add_batch_ms_p50": quantile([d.get("addBatch", 0) for d in dur], 50),
        "streaming.planning_ms_p50": quantile([d.get("queryPlanning", 0) for d in dur], 50),
        "streaming.wal_commit_ms_p50": quantile([d.get("walCommit", 0) for d in dur], 50),
        "streaming.latest_offset_ms_p50": quantile(
            [d.get("latestOffset", 0) for d in dur], 50
        ),
        "streaming.rows_per_trigger_p50": quantile(rows, 50),
        "streaming.state_rows": sum(op.get("numRowsTotal", 0) for op in last_state),
        "streaming.state_bytes": sum(op.get("memoryUsedBytes", 0) for op in last_state),
        "streaming.state_commit_ms_p50": quantile(
            [op.get("commitTimeMs", 0) for op in state], 50
        ),
    }


SPARK_FIELDS = (
    "jobs", "tasks", "task_cpu_s", "gc_s", "shuffle_write_mb",
    "shuffle_read_mb", "spill_mb", "output_mb", "task_skew",
)


def spark_span_metrics(event_log_dir: str) -> dict[str, dict[str, float]]:
    """Per span tag: jobs, tasks and task metrics summed from the Spark
    event log; ``task_skew`` is max / median task run time in the tag's
    longest stage (by summed task time)."""
    stage_tag: dict[int, str] = {}
    jobs: dict[str, int] = {}
    tasks: dict[int, list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(event_log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    tag = (ev.get("Properties") or {}).get(TAG) or "untagged"
                    jobs[tag] = jobs.get(tag, 0) + 1
                    for sid in ev.get("Stage IDs", []):
                        stage_tag.setdefault(sid, tag)
                elif kind == "SparkListenerTaskEnd":
                    tasks.setdefault(ev["Stage ID"], []).append(
                        ev.get("Task Metrics") or {}
                    )
    out: dict[str, dict[str, float]] = {
        tag: {f: 0.0 for f in SPARK_FIELDS} for tag in jobs
    }
    longest: dict[str, list[float]] = {}
    for sid, ms in tasks.items():
        tag = stage_tag.get(sid, "untagged")
        agg = out.setdefault(tag, {f: 0.0 for f in SPARK_FIELDS})
        run_ms = []
        for m in ms:
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            om = m.get("Output Metrics") or {}
            agg["tasks"] += 1
            agg["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            agg["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
            agg["shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / 2**20
            agg["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / 2**20
            agg["output_mb"] += om.get("Bytes Written", 0) / 2**20
            run_ms.append(float(m.get("Executor Run Time", 0)))
        if sum(run_ms) > sum(longest.get(tag, [])):
            longest[tag] = run_ms
    for tag, agg in out.items():
        agg["jobs"] = float(jobs.get(tag, 0))
        run_ms = longest.get(tag) or []
        med = statistics.median(run_ms) if run_ms else 0.0
        agg["task_skew"] = max(run_ms) / med if med > 0 else 0.0
    return out
