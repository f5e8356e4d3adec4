"""Process-tree bookkeeping from ``/proc`` (psutil is not available).

``TreeSampler`` polls the proportional set size (PSS: resident pages,
each shared page split among the processes mapping it) of this process
and every descendant (the Spark JVM, the Python worker daemon and its
forked workers) and keeps the peak of their sum; summed RSS would count
the pages forked workers share with their daemon once per worker.  It
also remembers every descendant it saw, so ``reap`` can wait for all of
them to end before the benchmark exits.  ``tree_cpu_s`` sums the CPU
time of the same tree.
"""

from __future__ import annotations

import os
import signal
import threading
import time


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces or parens: the ppid follows the last ')'
        out[int(name)] = int(stat[stat.rindex(b")") + 2:].split()[1])
    return out


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime: CPU of the process and of its
    children it has reaped."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return 0
    fields = stat[stat.rindex(b")") + 2:].split()
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every descendant.
    A descendant that ends is reaped by a parent in the tree, whose
    ``cutime``/``cstime`` then carry its CPU, so the difference of two
    readings counts each CPU second once."""
    pids = [os.getpid(), *descendants(os.getpid())]
    return sum(_cpu_ticks(p) for p in pids) / os.sysconf("SC_CLK_TCK")


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass
    return 0


class TreeSampler:
    """Background poll of the process tree's summed PSS.  Reading the
    JVM's ``smaps_rollup`` walks its page tables (~40 ms of CPU on a
    2 GB heap), so the poll is slow and ``cpu_s`` keeps its own CPU
    time, for callers to take out of ``tree_cpu_s``."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak_bytes = 0
        self.cpu_s = 0.0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        pids = descendants(os.getpid())
        self.seen.update(pids)
        total = _pss_bytes(os.getpid()) + sum(_pss_bytes(p) for p in pids)
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            c = time.thread_time()
            self.sample()
            self.cpu_s += time.thread_time() - c

    def __enter__(self) -> "TreeSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM the Python gateway started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def reap(pids, timeout: float = 20.0) -> None:
    """Wait until every pid has ended; SIGKILL what outlives ``timeout``."""
    deadline = time.monotonic() + timeout
    live = [p for p in pids if _alive(p)]
    while live and time.monotonic() < deadline:
        time.sleep(0.1)
        live = [p for p in live if _alive(p)]
    for p in live:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    for p in live:
        while _alive(p) and time.monotonic() < deadline + 5:
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2:stat.rindex(b")") + 3] != b"Z"
