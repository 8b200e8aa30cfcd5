"""CPU time and resident memory of this process and all its descendants,
read from ``/proc`` (psutil is not available).

The tree is the driver interpreter, the JVM it launched, and the
JVM's Python worker daemon with its forked workers. CPU counts
``utime + stime + cutime + cstime``, so a worker that exited and was
reaped still counts through its parent's ``cutime``.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
RSS_PERIOD_S = 0.1  # how often RssSampler reads the tree's RSS
REAP_TIMEOUT_S = 30.0  # how long reap_descendants waits before SIGKILL


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name: index 0 is the
    state, 1 the ppid, 11-14 utime/stime/cutime/cstime, 19 starttime,
    21 rss (pages)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def _tree(root: int) -> dict[int, list[str]]:
    """Stat fields of ``root`` and every live descendant, by pid."""
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                stats[int(name)] = f
    children: dict[int, list[int]] = {}
    for pid, f in stats.items():
        children.setdefault(int(f[1]), []).append(pid)
    out: dict[int, list[str]] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """utime+stime+cutime+cstime summed over this process tree, in s."""
    ticks = sum(
        int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        for f in _tree(os.getpid()).values()
    )
    return ticks / _TICK


def tree_rss_mb() -> float:
    """Summed resident set size of this process tree, in MB."""
    return sum(int(f[21]) for f in _tree(os.getpid()).values()) * _PAGE / 1e6


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs since boot (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def process_start_epoch() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    started_after_boot = int(_stat_fields(os.getpid())[19]) / _TICK
    return time.time() - uptime + started_after_boot


def reap_descendants() -> None:
    """Wait until every descendant process has exited; after
    ``REAP_TIMEOUT_S`` seconds send SIGKILL to those left and wait again."""
    deadline = time.time() + REAP_TIMEOUT_S
    while True:
        left = [p for p in _tree(os.getpid()) if p != os.getpid()]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + REAP_TIMEOUT_S
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


class RssSampler:
    """Background sampler of the tree's summed RSS, every
    ``RSS_PERIOD_S`` while ``measuring(True)`` is in effect.

    ``peak_mb`` is the highest level the sum held for two consecutive
    samples. The JVM starts short-lived children (``chmod``, ``rm``,
    the Python daemon) through a clone that shares its memory until the
    child execs, and /proc reports the JVM's whole RSS for that child
    too; a single sample caught in that window counts the JVM twice.

    The sampling thread runs in the measured process, so its own CPU
    time is kept in ``cpu_s`` for the caller to take out of the tree's.
    """

    def __init__(self):
        self.peak_mb = 0.0
        self.cpu_s = 0.0
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def measuring(self, on: bool) -> None:
        if on:
            self._active.set()
        else:
            self._active.clear()

    def _run(self) -> None:
        prev = None
        while not self._stop.wait(RSS_PERIOD_S):
            if not self._active.is_set():
                prev = None
                continue
            t = time.thread_time()
            rss = tree_rss_mb()
            self.cpu_s += time.thread_time() - t
            if prev is not None:
                self.peak_mb = max(self.peak_mb, min(prev, rss))
            prev = rss
