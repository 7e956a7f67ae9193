"""Process-tree helpers: peak RSS and CPU time sampling, CPU steal,
Spark JVM shutdown, and the end-of-run sweep that stops every process
the run started."""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        ppid = int(stat.rpartition(")")[2].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree(exclude: set[int]) -> list[int]:
    """This process and its descendants, without the subtrees of
    ``exclude``."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += [k for k in kids.get(pid, []) if k not in exclude]
    return out


def tree_cpu_s(exclude: set[int]) -> float:
    """User + system CPU seconds of the process tree (see _tree), with
    those of children it has reaped.  Time the hypervisor gives other
    guests is steal, not user or system time, so this does not grow
    with it."""
    total = 0
    for pid in _tree(exclude):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rpartition(")")[2].split()
        except OSError:
            continue
        total += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


class PeakRss:
    """Samples the summed RSS of this process and its descendants
    (the Spark JVM and its Python workers), skipping the subtrees of
    ``exclude`` pids (the input generator's pool), every ``INTERVAL_S``
    seconds on a daemon thread.  ``peak_mb`` is the largest sum seen."""

    INTERVAL_S = 0.5

    def __init__(self, exclude: set[int]):
        self.exclude = exclude
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        return sum(_rss_bytes(pid) for pid in _tree(self.exclude))

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.sample())
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=30)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def cpu_steal() -> tuple[int, int]:
    """(steal, all) CPU jiffies since boot, summed over CPUs: the time a
    hypervisor ran other guests on this one's CPUs, and the total."""
    with open("/proc/stat") as f:
        # user nice system idle iowait irq softirq steal (guest is in user)
        ticks = [int(v) for v in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def steal_share(since: tuple[int, int]) -> float:
    steal, total = cpu_steal()
    return (steal - since[0]) / max(total - since[1], 1)


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the Py4J gateway and wait for the JVM that pyspark launched.
    Closing its stdin is the JVM's own exit signal; its Python worker
    daemon exits when the JVM's end of the pipe closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout)


PR_SET_CHILD_SUBREAPER = 36  # linux/prctl.h


def become_subreaper() -> None:
    """Make this process, not init, the new parent of every descendant
    whose own parent exits first (the JVM's Python worker daemon and the
    workers it forked outlive the JVM by a moment), so that
    end_descendants can find each one and wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_descendants(grace_s: float = 10.0, kill_s: float = 10.0) -> None:
    """Stop every process this one started that still runs and wait
    until each has ended.  The multiprocessing resource tracker (which
    ignores SIGTERM) is stopped through its own pipe; every other
    descendant gets SIGTERM, and SIGKILL once ``grace_s`` has passed.
    Raises if any is still there ``kill_s`` after that."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    me = os.getpid()
    t0 = time.monotonic()
    while True:
        _reap()
        left = [pid for pid in _tree(set()) if pid != me]
        if not left:
            return
        waited = time.monotonic() - t0
        if waited > grace_s + kill_s:
            raise RuntimeError(f"descendants still running: {left}")
        sig = signal.SIGTERM if waited < grace_s else signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
