"""Host-side probes: process-tree CPU and memory, and host weather.

Everything reads ``/proc``; nothing here talks to the engine.
"""

from __future__ import annotations

import os
import signal
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants —
    the JVM that pyspark launches and the Python workers the JVM forks."""
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of its tree: a descendant whose
    parent ends (the launcher that ``spark-submit`` leaves behind, the
    workers of a killed JVM) is re-parented here rather than to init, so
    ``stop_tree`` still sees it and reaps it."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _state(pid: int) -> str | None:
    """State letter of ``pid`` (``Z`` for a zombie), or None once it is
    gone; reaps it first if it is an ended child of this process."""
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return None


def stop_tree(grace_s: float = 20.0) -> None:
    """Stop every process this one started — the JVM that pyspark
    launches and the Python workers it forks — and wait until each is
    gone from the process table: SIGTERM first (the JVM runs its
    shutdown hooks), SIGKILL for whatever is left after ``grace_s``."""
    me = os.getpid()

    def left() -> dict[int, str]:
        states = {p: _state(p) for p in process_tree() if p != me}
        return {p: st for p, st in states.items() if st is not None}

    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 10.0)):
        for pid, st in left().items():
            if st != "Z":
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            if not left():
                return
            time.sleep(0.05)
    raise RuntimeError(f"processes still running after SIGKILL: {sorted(left())}")


def tree_cpu_s() -> float:
    """CPU seconds of the live process tree, including children that
    tree members have already reaped (cutime/cstime)."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is state (stat field 3): utime..cstime are 14..17
        total += sum(int(x) for x in fields[11:15])
    return total / CLK_TCK


def tree_peak_rss_mb() -> float:
    """Sum over the live tree of each process's peak RSS (VmHWM)."""
    total_kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        parts = [int(x) for x in f.readline().split()[1:]]
    steal = parts[7] if len(parts) > 7 else 0
    return sum(parts), steal


class Weather:
    """Steal share and load average over a span of the run."""

    def __init__(self) -> None:
        self.t0 = _cpu_ticks()
        self.load0 = os.getloadavg()[0]

    def read(self) -> dict:
        total, steal = _cpu_ticks()
        dt = max(total - self.t0[0], 1)
        return {
            "steal_pct": round(100.0 * (steal - self.t0[1]) / dt, 2),
            "loadavg_start": round(self.load0, 2),
            "loadavg_end": round(os.getloadavg()[0], 2),
            "nproc": os.cpu_count(),
        }
