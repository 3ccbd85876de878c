"""Host and process-tree counters read from ``/proc``, plus the summary
tail rule op latencies are reported with.

The process tree is the benchmark's own Python process and all of its
descendants: the Spark JVM it launches and the pyspark daemon with its
Python workers. CPU is ``utime + stime + cutime + cstime`` summed over the
live tree, so a worker that exits between two snapshots is still counted
through its parent's ``cutime``. Memory is summed PSS from
``smaps_rollup``, so the pages forked workers share with their daemon are
counted once in total.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces: split after its closing paren.
    return raw[raw.rindex(")") + 2:].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _children(pid: int) -> list[int]:
    """Direct children of ``pid``, over all of its threads."""
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            pass
    return out


def process_tree(root: int | None = None) -> list[int]:
    """``root`` and every live descendant, walked down from ``root`` so
    the cost depends on this tree only, not on the rest of the host."""
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def start_ticks(pid: int) -> int | None:
    """When ``pid`` started, in clock ticks since boot; with the pid it
    names one process even after the pid is reused."""
    f = _stat_fields(pid)
    return int(f[19]) if f else None


def end_processes(procs: dict[int, int | None], grace_s: float = 10.0) -> None:
    """Terminate each ``pid: start_ticks`` process still alive, kill the
    ones that outlive ``grace_s``, and return only once all have ended.
    The pids need not be children of this process, so each is polled in
    ``/proc`` rather than waited for."""

    def alive() -> list[int]:
        return [p for p, t in procs.items() if t is not None and start_ticks(p) == t
                and (_stat_fields(p) or ["Z"])[0] != "Z"]

    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 60.0)):
        for pid in alive():
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.monotonic() + wait_s
        while alive() and time.monotonic() < deadline:
            time.sleep(0.05)
        if not alive():
            return


def cpu_seconds(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f:
            # fields[11..14] = utime stime cutime cstime (stat fields 14-17)
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def pss_mb(pids: list[int]) -> float:
    """Summed proportional set size: a page shared by k processes (the
    pyspark daemon and the workers it forks) counts 1/k in each."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total / 1024


def pyworker_roots(pids: list[int]) -> list[int]:
    """The pyspark daemon processes in the tree (workers fork from them)."""
    return [p for p in pids if "pyspark.daemon" in _cmdline(p) or "pyspark/daemon" in _cmdline(p)]


def pyworker_cpu_seconds() -> float:
    """CPU of the pyspark daemon subtree: daemon, live and reaped workers."""
    tree = process_tree()
    pids: list[int] = []
    for root in pyworker_roots(tree):
        pids.extend(process_tree(root))
    return cpu_seconds(sorted(set(pids)))


def cpu_times_total() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    # guest time is already included in user/nice.
    return steal, sum(vals[:8])


def loadavg() -> list[float]:
    """The 1, 5 and 15 minute load averages."""
    with open("/proc/loadavg") as fh:
        return [float(v) for v in fh.read().split()[:3]]


class MemorySampler:
    """Background thread sampling the tree's summed PSS; ``peak(t0, t1)``
    gives the largest sample taken inside a perf_counter window. The tree
    is walked again every ``resolve_s`` and only its pids are read between
    walks (pyspark workers are reused, so the tree changes rarely)."""

    def __init__(self, interval_s: float = 0.1, resolve_s: float = 1.0):
        self.interval_s, self.resolve_s = interval_s, resolve_s
        self.samples: list[tuple[float, float]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="memory-sampler", daemon=True)

    def _run(self) -> None:
        tree: list[int] = []
        resolved = float("-inf")
        while not self._stop.is_set():
            now = time.perf_counter()
            if now - resolved >= self.resolve_s:
                tree, resolved = process_tree(), now
            self.samples.append((now, pss_mb(tree)))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def peak(self, t0: float, t1: float) -> float:
        inside = [v for t, v in self.samples if t0 <= t <= t1]
        return max(inside) if inside else 0.0


def tail_percentile(samples: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(value, percentile)``: the value is the ``beyond + 1``-th
    largest sample, and the percentile is the share of samples at or
    below it, ``100 * (n - beyond) / n``. Needs ``n > beyond``.
    """
    n = len(samples)
    if n <= beyond:
        raise ValueError(f"need more than {beyond} samples for a tail, got {n}")
    return sorted(samples)[n - beyond - 1], 100.0 * (n - beyond) / n
