"""Host facts, the busy-loop probe, and process-tree CPU/RSS from /proc.

``psutil`` is not installed, so the process tree (this Python process,
the Spark JVM it launches, the PySpark daemon and its forked workers) is
walked through ``/proc/<pid>/stat`` directly.

CPU accounting: a live process's ``utime + stime`` plus its
``cutime + cstime`` (CPU of children it has already reaped) covers every
process that ever ran under it, so the sum over the live tree, read
before and after a call, gives the tree's CPU seconds for that call
even when Python workers exit in between.
"""

from __future__ import annotations

import multiprocessing
import os
import platform
import sys
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
BURN_LOOPS = 3_000_000


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _read_stat(pid: str) -> tuple[int, int, int]:
    """(ppid, cpu ticks incl. reaped children, rss pages) of one pid."""
    with open(f"/proc/{pid}/stat") as f:
        data = f.read()
    # comm may hold spaces and parentheses: split after the LAST ')'
    rest = data[data.rindex(")") + 2 :].split()
    return int(rest[1]), sum(int(x) for x in rest[11:15]), int(rest[21])


def tree_stats(root: int | None = None) -> dict[int, tuple[int, int, int]]:
    """``pid -> (ppid, cpu ticks, rss pages)`` for ``root`` and its
    descendants."""
    root = os.getpid() if root is None else root
    stats: dict[int, tuple[int, int, int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                stats[int(name)] = _read_stat(name)
            except (OSError, ValueError, IndexError):
                pass  # exited between listdir and read
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    return sum(t for _, t, _ in tree_stats().values()) / CLK_TCK


def tree_rss_mb() -> float:
    return sum(r for _, _, r in tree_stats().values()) * PAGE / 2**20


class TreeMeter:
    """Context manager: CPU seconds and peak RSS of the process tree over
    the ``with`` body. RSS is sampled by a thread every ``interval``
    seconds (plus once at each edge)."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.cpu_s = 0.0
        self.peak_rss_mb = 0.0
        self._stop = threading.Event()

    def _sample(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb())

    def __enter__(self) -> "TreeMeter":
        self._cpu0 = tree_cpu_s()
        self.peak_rss_mb = tree_rss_mb()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb())
        self.cpu_s = tree_cpu_s() - self._cpu0


def _burn(start: float, conn) -> None:
    """Wait for the common start time, run the fixed loop, send back how
    long it took."""
    time.sleep(max(0.0, start - time.time()))
    t0 = time.perf_counter()
    x = 0
    for i in range(BURN_LOOPS):
        x += i * i
    conn.send(time.perf_counter() - t0)
    conn.close()


def busy_loop_tasks_per_s() -> float:
    """Pure-CPU ceiling of this host right now: ``nproc`` spawned
    processes start one fixed loop together; tasks per second falls when
    neighbours steal CPU. Process start-up is outside the timed part."""
    ctx = multiprocessing.get_context("spawn")
    n = nproc()
    start = time.time() + 0.5  # every process is up well before this
    procs, pipes = [], []
    for _ in range(n):
        recv, send = ctx.Pipe(duplex=False)
        p = ctx.Process(target=_burn, args=(start, send))
        p.start()
        send.close()
        procs.append(p)
        pipes.append(recv)
    took = [r.recv() for r in pipes]
    for p in procs:
        p.join(timeout=60)
    return n / max(took)


def stop_resource_tracker() -> None:
    """Stop the resource-tracker process that starting a ``spawn``
    process launches, and wait for it to end. Left alone, it exits only
    after noticing this process is gone, so it outlives the benchmark."""
    from multiprocessing import resource_tracker

    tracker = resource_tracker._resource_tracker
    tracker._stop()


def steal_ticks() -> int:
    """Host-wide CPU steal (``/proc/stat``), in clock ticks."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def host_facts(master: str) -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    model = ""
    try:
        with open("/proc/cpuinfo") as f:
            model = next(
                (l.split(":", 1)[1].strip() for l in f if l.startswith("model name")),
                "",
            )
    except OSError:
        pass
    return {
        "nproc": nproc(),
        "ram_gb": round(mem_kb / 2**20, 1),
        "cpu_model": model,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "master": master,
        "platform": sys.platform,
    }
