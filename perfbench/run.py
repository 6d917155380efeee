"""Repository benchmark: one workload per run, one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 12 --trace 0

Workloads (see ``workloads.py``):

- ``backfill``: a tx-aligned backlog replayed by ``run_replay_stream``
  into fresh copy-on-write lake tables; the payload path (compaction,
  merge join, bucket rewrite) carries the time.
- ``live_tail``: an open-loop feeder moves raw-LSN slices into a feed
  directory on a fixed schedule while ``run_live_tail`` commits
  merge-on-read deltas; per-trigger fixed cost carries the time.

``--trace 0`` measures the end-to-end metrics with no tracing. ``--trace
1`` installs the outside-in tracer, the Spark event log and a streaming
listener, prints a per-layer table, and reports the per-layer metrics.
The last line of standard output is always the result object
``{"correct", "attempted", "failed", "metrics"}``; a run that cannot
start (no engine package beside this directory) exits non-zero without
printing one.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "wal_listener_spark")):
        print(
            f"perfbench: no engine package under {ROOT}; run from a checkout "
            "of the repository",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import host
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(CACHE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # temp files of this process, the JVMs it launches and their Python
    # workers stay inside the checkout
    os.environ["TMPDIR"] = tmp
    # the engine's Python workers import the package by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # a SIGTERM unwinds through the cleanup below instead of killing this
    # process outright and orphaning the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    host.adopt_orphans()
    try:
        result = workloads.run(
            args.workload, args.seed, args.seconds, bool(args.trace), CACHE, work
        )
    finally:
        # the JVM outlives a stopped SparkContext (it exits only when this
        # process's end closes its stdin): end it, and its workers, here
        host.stop_tree()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
