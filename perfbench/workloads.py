"""The benchmark's workloads and the measurements they share.

One run = one workload at one seed:

1. generate (or load from the cache) the seeded inputs and the oracle's
   expected final state — before the engine starts, excluded from every
   metric;
2. set up: start the engine session and warm the workload's exact code
   path (``setup_s``);
3. the timed region (whole backfill passes, or the live feed of
   ``seconds``);
4. many warm full snapshot reads of the final state (``read_ms``), each
   checked against the oracle's checksum, and one row-level comparison
   (``mismatch_rows``).

End-to-end metrics (every workload reports all of them):

- ``setup_s``: session start plus warm-up.
- ``apply_eps``: change events (I/U/D/T) applied per second of the timed
  region.
- ``freshness_ms_p50`` / ``_p90``: from a file's due time to the end of
  the first snapshot commit whose applied LSN covers the file's max LSN.
  On ``live_tail`` a file is due when its slot in the feeder's schedule
  comes; on ``backfill`` the whole backlog is due when the replay starts.
- ``read_ms``: median of the warm full snapshot reads.
- ``cpu_s_per_mevent``: CPU seconds of the process tree (this process,
  the JVM and its Python workers) in the timed region per 10^6 applied
  change events.
- ``peak_rss_mb``: peak RSS (VmHWM) summed over that process tree.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
from contextlib import nullcontext

import host
import inputs
from inputs import InputSpec
from tracer import quantile

FIELDS = [
    ("repo", "string"),
    ("path", "string"),
    ("commit", "string"),
    ("lang", "string"),
    ("content", "string"),
]
CORES = 4
SHUFFLE_PARTITIONS = 8
NUM_BUCKETS = 16
DRIVER_MEMORY = "3g"
OFFHEAP = "2g"

# backfill: ~245 k trace rows (~125 k change events) in 48 files, replayed
# as one epoch (each epoch pays a fixed census/planning/commit cost, so
# one large epoch leaves the payload path the largest share); the warm-up
# is one full pass of the same backlog
BACKFILL = InputSpec("aligned", keys=60_000, files=48, evolution=True,
                     truncate=True, shuffle=True)
BACKFILL_FILES_PER_TRIGGER = 48

# live_tail: one slice every LIVE_INTERVAL_S, LIVE_KEYS_PER_SLICE keys
# (~4 trace rows each) per slice. Each file a trigger picks up adds to
# its fixed cost, so slices are few and large: triggers stay near their
# ~4.5 s floor on a 4-core host and the 15 s feed spans three or more of
# them, so the freshness quantiles pool several triggers
LIVE_INTERVAL_S = 0.15
LIVE_KEYS_PER_SLICE = 60
LIVE_MIN_SLICES = 100
LIVE_WARM_SLICES = 16
# every trigger folds the previous trigger's delta, then appends its own:
# all triggers have the same shape and a read always resolves one delta
LIVE_FOLD_EVERY = 1
LIVE_TIMEOUT_S = 150.0
# a live table of a few thousand keys: few buckets keep each fold and each
# read to a handful of files
LIVE_NUM_BUCKETS = 4
LIVE_TRIGGER = "250 milliseconds"

E2E = (
    "setup_s", "apply_eps", "freshness_ms_p50", "freshness_ms_p90",
    "read_ms", "cpu_s_per_mevent", "peak_rss_mb",
)
UNITS = {
    "setup_s": "s", "apply_eps": "1/s", "freshness_ms_p50": "ms",
    "freshness_ms_p90": "ms", "read_ms": "ms", "cpu_s_per_mevent": "s",
    "peak_rss_mb": "MB",
}


class Run:
    """State of one benchmark run: inputs, session, counters, metrics."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool,
                 cache: str, work: str) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.cache = cache
        self.work = work
        self.tracer = None
        self.collector = None
        if traced:
            from tracer import Tracer

            self.tracer = Tracer()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.mismatch_rows = 0
        self.metrics: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.info: dict = {"workload": workload, "seed": seed, "inputs": {}}
        self.gen_s = 0.0
        self.event_log = os.path.join(work, "eventlog")
        self.windows: list[list] = []
        self.region_wall = 0.0

    # ---------------------------------------------------------- helpers
    def span(self, name: str, **kw):
        return self.tracer.span(name, **kw) if self.tracer else nullcontext({})

    def input(self, label: str, spec: InputSpec) -> inputs.Input:
        inp, gen_s, hit = inputs.build(self.cache, self.seed, spec)
        self.gen_s += gen_s
        self.info["inputs"][label] = {
            "digest": inp.digest, "rows": inp.rows,
            "change_events": inp.change_events, "files": len(inp.files),
            "cache_hit": hit,
        }
        return inp

    def start_session(self, master: str = f"local[{CORES}]",
                      event_log: bool = True) -> float:
        from wal_listener_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            # pinned to a 15 GB, 4-core host shared with other jobs
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.memory.offHeap.size": OFFHEAP,
            # a heap committed up front (as bench.py does): no growth
            # pauses mid-run and a peak RSS that does not depend on when
            # the collector chose to grow the heap
            "spark.driver.extraJavaOptions": (
                f"-XX:+UseParallelGC -XX:ParallelGCThreads={CORES} "
                f"-Xms{DRIVER_MEMORY}"
            ),
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.tracer is not None and event_log:
            os.makedirs(self.event_log, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_log
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        t0 = time.perf_counter()
        with self.span("session.start"):
            spark = get_spark(
                master, app_name=f"perfbench-{self.workload}",
                shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf,
            )
            spark.range(1).count()
        start_s = time.perf_counter() - t0
        self.spark = spark
        if self.tracer is not None and event_log:
            from tracer import ProgressCollector

            self.tracer.sc = spark.sparkContext
            self.collector = ProgressCollector()
            spark.streams.addListener(self.collector)
            self._install_patches()
        return start_s

    def _install_patches(self) -> None:
        import pyarrow.parquet as pq

        import wal_listener_spark.pipeline as pipeline
        import wal_listener_spark.streaming.job as job
        import wal_listener_spark.streaming.tailing as tailing
        from wal_listener_spark.lake.table import LakeTable

        def after_replay(rec, args, out):
            rec["attrs"].update(
                noop=bool(out.get("noop")),
                quarantined=int(out.get("quarantined") or 0),
            )

        def after_merge(rec, args, out):
            if not out or out.get("noop"):
                rec["attrs"]["noop"] = True
                return
            table = args[0]
            rows = size = 0
            for b in out.get("buckets_rewritten") or []:
                for rel in table.manifest["buckets"].get(str(b), []):
                    path = os.path.join(table.root, rel)
                    rows += pq.read_metadata(path).num_rows
                    size += os.path.getsize(path)
            rec["attrs"].update(
                buckets=len(out.get("buckets_rewritten") or []),
                rows_rewritten=rows, bytes_written=size,
                changed=int(out.get("upserts") or 0) + int(out.get("deletes") or 0),
            )

        tr = self.tracer
        tr.patch([(pipeline, "replay_batch"), (job, "replay_batch"),
                  (tailing, "replay_batch")], "pipeline.replay_batch", after_replay)
        tr.patch([(LakeTable, "merge_batch")], "lake.merge_batch", after_merge)
        tr.patch([(LakeTable, "fold_deltas")], "lake.fold_deltas", after_merge)
        tr.patch([(LakeTable, "append_delta")], "lake.append_delta")

    def record(self, on: bool) -> None:
        """Open or close a window of the per-layer figures (the timed
        region and the timed reads); warm-up stays outside."""
        if self.tracer is None:
            return
        self.tracer.recording = on
        if on:
            self.windows.append([time.perf_counter(), None])
        else:
            self.windows[-1][1] = time.perf_counter()

    def region_start(self) -> None:
        """Start of the timed region: drop the warm-up's stream progress
        (reports of warm-up triggers that the listener delivers late are
        dropped by their trigger start time, ``region_wall``)."""
        self.record(True)
        self.region_wall = time.time()
        if self.collector is not None:
            self.collector.clear()

    # ------------------------------------------------------ lake checks
    def _checksum_frame(self, df):
        from pyspark.sql import functions as F

        sha = F.sha2(F.coalesce(F.col("content"), F.lit("")), 256)
        row = F.sha2(F.concat_ws("\x1f", F.col("repo"), F.col("path"), sha), 256)
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.conv(F.substring(row, 1, 8), 16, 10).cast("long")).alias("s"),
        )

    def read_once(self, root: str, inp: inputs.Input) -> float:
        """One full snapshot scan with the checksum aggregate; counts as
        one attempted operation, failed when it disagrees with the oracle."""
        from wal_listener_spark.lake.catalog import load_target

        t0 = time.perf_counter()
        table = load_target(self.spark, root)
        with self.span("lake.read"):
            got = self._checksum_frame(table.read_public()).collect()[0]
        dt = time.perf_counter() - t0
        self.attempted += 1
        if got["n"] != len(inp.expected) or (got["s"] or 0) != inp.expected_checksum:
            self.failed += 1
            self.info.setdefault("bad_reads", []).append(
                {"root": os.path.basename(root), "rows": got["n"]}
            )
        return dt

    def reads(self, root: str, inp: inputs.Input, warm: int, timed: int) -> None:
        """``read_ms``: median of ``timed`` reads after ``warm`` ones."""
        for _ in range(warm):
            self.read_once(root, inp)
        self.record(True)
        times = [self.read_once(root, inp) for _ in range(timed)]
        self.record(False)
        self.metrics["read_ms"] = statistics.median(times) * 1000
        self.info["read_ms_all"] = [round(t * 1000, 1) for t in times]

    def row_check(self, root: str, inp: inputs.Input) -> None:
        """Row-level comparison with the oracle: missing, extra or
        sha256(content)-different rows."""
        from pyspark.sql import functions as F

        from wal_listener_spark.lake.catalog import load_target

        df = load_target(self.spark, root).read_public().select(
            "repo", "path",
            F.sha2(F.coalesce(F.col("content"), F.lit("")), 256).alias("sha"),
        ).toPandas()
        got = dict(zip(zip(df["repo"], df["path"]), df["sha"]))
        exp = inp.expected
        bad = sum(1 for k in exp if got.get(k) != exp[k])
        bad += sum(1 for k in got if k not in exp)
        bad += len(df) - len(got)  # duplicate keys
        self.mismatch_rows += bad
        self.attempted += 1
        if bad:
            self.failed += 1

    # ----------------------------------------------------------- result
    def finish_metrics(self, cpu_s: float, events: int, region_s: float,
                       fresh_ms: list[float]) -> None:
        self.metrics["apply_eps"] = events / region_s
        self.metrics["cpu_s_per_mevent"] = cpu_s / (events / 1e6)
        self.metrics["freshness_ms_p50"] = quantile(fresh_ms, 50)
        self.metrics["freshness_ms_p90"] = quantile(fresh_ms, 90)
        self.info["freshness_samples"] = len(fresh_ms)
        self.info["timed_region_s"] = round(region_s, 3)
        self.info["applied_events"] = events


# ====================================================================
# backfill
# ====================================================================

def _replay(run: Run, inp: inputs.Input, name: str) -> tuple[str, list[float]]:
    """Replay the whole backlog into a fresh table; returns the table root
    and, per file, the seconds from the replay start to the end of the
    snapshot commit of the epoch that carried the file."""
    from wal_listener_spark.config import PipelineConfig
    from wal_listener_spark.lake.table import LakeTable
    from wal_listener_spark.streaming.job import run_replay_stream

    root = os.path.join(run.work, f"lake-{name}")
    t0 = time.time()
    LakeTable.create(run.spark, root, ["repo", "path"], FIELDS,
                     num_buckets=NUM_BUCKETS)
    with run.span("streaming.run_replay_stream", ambient=True):
        stats = run_replay_stream(
            run.spark, inputs.trace_dir(inp), root,
            os.path.join(run.work, f"ck-{name}"),
            PipelineConfig(num_buckets=NUM_BUCKETS, selective_buckets=False),
            max_files_per_trigger=BACKFILL_FILES_PER_TRIGGER,
        )
    run.attempted += len(stats)
    # the file source hands files out in delivery (mtime) order,
    # BACKFILL_FILES_PER_TRIGGER per epoch; an epoch's commit time is the
    # modification time of the manifest version it wrote
    fresh = []
    for i in range(len(inp.files)):
        epoch = i // BACKFILL_FILES_PER_TRIGGER
        version = _epoch_version(stats[epoch]) if epoch < len(stats) else None
        if version is None:
            run.failed += 1
            continue
        manifest = os.path.join(root, "manifest", f"v{version}.json")
        fresh.append(os.path.getmtime(manifest) - t0)
    return root, fresh


def _epoch_version(stats: dict) -> int | None:
    versions = [m.get("snapshot_version") for m in (stats.get("tables") or {}).values()]
    versions = [v for v in versions if v is not None]
    return max(versions) if versions else None


def backfill(run: Run) -> None:
    inp = run.input("backfill", BACKFILL)
    weather = host.Weather()

    start_s = run.start_session()
    t0 = time.perf_counter()
    with run.span("session.warmup"):
        _replay(run, inp, "warm")
    warm_s = time.perf_counter() - t0
    run.metrics["setup_s"] = start_s + warm_s
    run.info["session_start_s"] = round(start_s, 3)
    run.info["warmup_s"] = round(warm_s, 3)

    run.region_start()
    cpu0 = host.tree_cpu_s()
    t_region = time.perf_counter()
    passes, fresh, roots = [], [], []
    # whole passes until 40% of the requested length has passed: a pass
    # of this backlog takes 5-8 s on a 4-core host, so a 10 s request is
    # always exactly one pass (a threshold nearer a pass time would make
    # the pass count, and the figures, bimodal)
    while not passes or time.perf_counter() - t_region < 0.4 * run.seconds:
        tp = time.perf_counter()
        root, f = _replay(run, inp, f"p{len(passes)}")
        passes.append(time.perf_counter() - tp)
        fresh.extend(f)
        roots.append(root)
    region_s = time.perf_counter() - t_region
    cpu_s = host.tree_cpu_s() - cpu0
    run.record(False)
    run.info["pass_s"] = [round(p, 3) for p in passes]
    run.layer["pipeline.events_in"] = inp.rows * len(passes)
    run.finish_metrics(cpu_s, inp.change_events * len(passes), region_s,
                       [x * 1000 for x in fresh])
    for root in roots[:-1]:
        run.read_once(root, inp)
    # reads keep warming past the first few (after two warm-ups the first
    # timed read still ran up to 1.8x the median)
    run.reads(roots[-1], inp, warm=6, timed=9)
    run.row_check(roots[-1], inp)
    run.metrics["peak_rss_mb"] = host.tree_peak_rss_mb()
    run.info["weather"] = weather.read()
    if run.tracer is not None:
        _single_core_baseline(run, inp)


def _single_core_baseline(run: Run, inp: inputs.Input) -> None:
    """Traced runs only: replay the same backlog once at local[1] in the
    same (warm) JVM and compare with this run's local[4] throughput."""
    run.spark.stop()  # also finalizes the event log of the main session
    run.spark = None
    run.start_session("local[1]", event_log=False)
    t0 = time.perf_counter()
    _replay(run, inp, "one-core")
    eps1 = inp.change_events / (time.perf_counter() - t0)
    eps4 = run.metrics["apply_eps"]
    run.info["scaling"] = {
        "eps_local1": round(eps1, 1), "eps_local4": round(eps4, 1),
        "eff_1to4": round(eps4 / eps1 / CORES, 4),
    }


# ====================================================================
# live_tail
# ====================================================================

def _live_spec(slices: int) -> InputSpec:
    return InputSpec("raw", keys=LIVE_KEYS_PER_SLICE * slices, files=slices + 1,
                     evolution=False, truncate=False, shuffle=False)


class LiveTail:
    """One ``run_live_tail`` query on a consumer thread, fed by this
    (main) thread: slices move from a staging directory into the feed
    directory on a fixed schedule that never waits for the engine."""

    def __init__(self, run: Run, inp: inputs.Input) -> None:
        from wal_listener_spark.config import PipelineConfig
        from wal_listener_spark.lake.table import LakeTable

        self.run, self.inp = run, inp
        self.stage = os.path.join(run.work, "stage")
        self.feed_dir = os.path.join(run.work, "feed")
        self.root = os.path.join(run.work, "lake-live")
        os.makedirs(self.stage)
        os.makedirs(self.feed_dir)
        for f in inp.files:
            shutil.copyfile(os.path.join(inputs.trace_dir(inp), f),
                            os.path.join(self.stage, f))
        # slice 0 holds the control rows ahead of the first transaction;
        # it is in place before the query starts, with the first warm-up
        # burst
        for f in inp.files[:1 + LIVE_WARM_SLICES // 2]:
            self._move(f)
        LakeTable.create(run.spark, self.root, ["repo", "path"], FIELDS,
                         num_buckets=LIVE_NUM_BUCKETS)
        self.cfg = PipelineConfig(num_buckets=LIVE_NUM_BUCKETS, delta_commits=True,
                                  delta_fold_every=LIVE_FOLD_EVERY)
        self.out: dict = {}
        self.consumer = threading.Thread(target=self._consume, name="live-tail",
                                         daemon=True)

    def _move(self, f: str) -> None:
        os.rename(os.path.join(self.stage, f), os.path.join(self.feed_dir, f))

    def _consume(self) -> None:
        from wal_listener_spark.streaming.tailing import run_live_tail

        try:
            self.out["records"] = run_live_tail(
                self.run.spark, self.feed_dir, self.root,
                os.path.join(self.run.work, "ck-live"),
                cfg=self.cfg, processing_interval=LIVE_TRIGGER,
                marker_ttl_ms=30_000, until_lsn=self.inp.max_lsn,
                timeout_s=LIVE_TIMEOUT_S, state_partitions=4,
            )
        except Exception as e:  # reported by join() as a failed run
            self.out["error"] = repr(e)

    def start(self) -> None:
        """Start the query and block until its first trigger finished."""
        self.consumer.start()
        deadline = time.time() + 120
        while time.time() < deadline and self.consumer.is_alive():
            if any(q.lastProgress is not None for q in self.run.spark.streams.active):
                return
            time.sleep(0.05)
        raise RuntimeError(f"live tail did not start: {self.out.get('error')}")

    def feed(self, files: list[str]) -> tuple[list[float], list[float]]:
        """Move ``files`` in one every LIVE_INTERVAL_S; returns each file's
        due time and how late the move ran."""
        t_start = time.time() + 0.05
        due, late = [], []
        for i, f in enumerate(files):
            d = t_start + i * LIVE_INTERVAL_S
            pause = d - time.time()
            if pause > 0:
                time.sleep(pause)
            self._move(f)
            late.append(time.time() - d)
            due.append(d)
        return due, late

    def await_applied(self, lsn: int) -> None:
        from wal_listener_spark.lake.table import LakeTable

        deadline = time.time() + LIVE_TIMEOUT_S
        while time.time() < deadline and self.consumer.is_alive():
            if LakeTable.load(self.run.spark, self.root).last_applied_lsn >= lsn:
                return
            time.sleep(0.05)
        raise RuntimeError(f"live tail stalled before LSN {lsn}: {self.out.get('error')}")

    def join(self) -> list[tuple[float, int]]:
        """Wait for the query to apply the whole input; returns (commit
        time, cumulative applied LSN) per snapshot commit."""
        self.consumer.join(LIVE_TIMEOUT_S + 30)
        if self.consumer.is_alive() or "error" in self.out:
            raise RuntimeError(f"live tail failed: {self.out.get('error', 'timeout')}")
        applied, cum = [], -1
        for r in sorted(self.out["records"], key=lambda r: r["t_commit"]):
            for m in (r["stats"].get("tables") or {}).values():
                cum = max(cum, m.get("high_lsn") or -1)
            applied.append((r["t_commit"], cum))
        return applied


def live_tail(run: Run) -> None:
    slices = max(LIVE_MIN_SLICES, round(run.seconds / LIVE_INTERVAL_S))
    inp = run.input("live", _live_spec(LIVE_WARM_SLICES + slices))
    timed_files = inp.files[1 + LIVE_WARM_SLICES:]
    weather = host.Weather()

    start_s = run.start_session()
    t0 = time.perf_counter()
    tail = LiveTail(run, inp)
    with run.span("session.warmup"):
        # two warm-up bursts, the first in place before the query starts,
        # each committed before the next: the query runs every step of the
        # live path (assembler, census, delta append, then fold) before the
        # timed slices come. A raw split leaves a burst's last transaction
        # open, so the watermark to wait for is the burst's last Commit.
        half = 1 + LIVE_WARM_SLICES // 2
        tail.start()
        tail.await_applied(max(inp.file_commit_lsn[:half]))
        for f in inp.files[half:1 + LIVE_WARM_SLICES]:
            tail._move(f)
        tail.await_applied(max(inp.file_commit_lsn[:1 + LIVE_WARM_SLICES]))
    warm_s = time.perf_counter() - t0
    run.metrics["setup_s"] = start_s + warm_s
    run.info["session_start_s"] = round(start_s, 3)
    run.info["warmup_s"] = round(warm_s, 3)

    run.region_start()
    cpu0 = host.tree_cpu_s()
    with run.span("streaming.run_live_tail", ambient=True):
        due, late = tail.feed(timed_files)
        applied = tail.join()
    cpu_s = host.tree_cpu_s() - cpu0
    run.record(False)

    fresh, t_end = [], due[0]
    for d, m in zip(due, inp.file_max_lsn[1 + LIVE_WARM_SLICES:]):
        run.attempted += 1
        done = next((t for t, c in applied if c >= m), None)
        if done is None:
            run.failed += 1
            continue
        fresh.append((done - d) * 1000)
        t_end = max(t_end, done)
    events = sum(inp.file_changes[1 + LIVE_WARM_SLICES:])
    # the region ends with the commit that covers the last slice
    run.finish_metrics(cpu_s, events, t_end - due[0], fresh)
    run.info.update(
        slices=len(timed_files), interval_s=LIVE_INTERVAL_S,
        offered_eps=round(events / (len(timed_files) * LIVE_INTERVAL_S), 1),
        commits=sum(1 for t, _ in applied if t >= due[0]),
        feeder_late_ms_max=round(max(late) * 1000, 2),
    )
    run.layer["load.late_ms_max"] = max(late) * 1000
    run.layer["pipeline.events_in"] = sum(inp.file_rows[1 + LIVE_WARM_SLICES:])
    run.layer["streaming.backlog_slope_ms_per_min"] = _slope(
        [(d - due[0]) / 60 for d in due[:len(fresh)]], fresh
    )
    from wal_listener_spark.lake.table import LakeTable

    run.info["pending_deltas"] = LakeTable.load(run.spark, tail.root).delta_count
    # a read of the live table costs ~1 s (many small files and one
    # pending delta to resolve), so fewer of them
    run.reads(tail.root, inp, warm=2, timed=5)
    run.row_check(tail.root, inp)
    run.metrics["peak_rss_mb"] = host.tree_peak_rss_mb()
    run.info["weather"] = weather.read()


def _slope(xs: list[float], ys: list[float]) -> float:
    """Least-squares slope of ys over xs (0 with fewer than two points)."""
    if len(xs) < 2:
        return 0.0
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    var = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / var if var else 0.0


WORKLOADS = {"backfill": backfill, "live_tail": live_tail}


# ====================================================================
# one run, end to end
# ====================================================================

def run(workload: str, seed: int, seconds: float, traced: bool, cache: str,
        work: str) -> dict:
    r = Run(workload, seed, seconds, traced, cache, work)
    ok = True
    try:
        WORKLOADS[workload](r)
    except Exception as e:  # a failed epoch fails the run, reported below
        import traceback

        traceback.print_exc()
        r.info["error"] = repr(e)
        r.failed += 1
        r.attempted += 1
        ok = False
    finally:
        if r.spark is not None:
            if r.tracer is not None:
                r.tracer.unpatch()
            r.spark.stop()
    r.info["mismatch_rows"] = r.mismatch_rows
    r.info["load_gen_s"] = round(r.gen_s, 3)
    correct = ok and r.failed == 0 and r.mismatch_rows == 0
    if r.tracer is not None:
        import report

        if ok:
            report.per_layer(r)
            report.print_table(r, cache)
        metrics = {k: {"value": r.layer.get(k, 0.0), "unit": unit}
                   for k, unit in report.LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": r.metrics.get(k, 0.0), "unit": UNITS[k]} for k in E2E}
        if ok:
            _save_untraced(cache, workload, r.metrics)
    print("perfbench-info " + json.dumps(r.info), flush=True)
    return {
        "correct": correct,
        "attempted": max(r.attempted, 1),
        "failed": r.failed,
        "metrics": metrics,
    }


def _save_untraced(cache: str, workload: str, metrics: dict) -> None:
    """Keep untraced results so a traced run can state its overhead."""
    os.makedirs(os.path.join(cache, "results"), exist_ok=True)
    with open(os.path.join(cache, "results", f"{workload}.jsonl"), "a") as f:
        f.write(json.dumps(metrics) + "\n")
