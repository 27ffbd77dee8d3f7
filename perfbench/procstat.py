"""Process-tree helpers read from /proc: descendants, pinning, RSS and CPU.

The Spark JVM is a child of the benchmark process and the Python workers
are children of the JVM, so "the process tree" is this process and all
of its descendants.
"""

from __future__ import annotations

import contextlib
import os
import signal
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def descendants(root: int) -> list:
    "PIDs of every live descendant of ``root``."
    return [pid for level in levels(root) for pid in level]


def levels(root: int) -> list:
    "Live descendants of ``root`` by depth: [children, grandchildren, ...]."
    children: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: the ppid follows the last ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, level = [], children.get(root, [])
    while level:
        out.append(level)
        level = [kid for pid in level for kid in children.get(pid, [])]
    return out


def pin_tree(cpus: set) -> None:
    """Pin every thread of this process and its descendants to ``cpus``.
    Threads and processes started later inherit the mask of their parent."""
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            with contextlib.suppress(OSError):  # the thread ended between listing and pinning
                os.sched_setaffinity(int(tid), cpus)


def rss_bytes(pids: list) -> int:
    total = 0
    for pid in pids:
        with contextlib.suppress(OSError), open(f"/proc/{pid}/statm") as f:
            total += int(f.read().split()[1]) * PAGE
    return total


def cpu_jiffies(cpus: set) -> tuple:
    "(busy, total) jiffies summed over ``cpus`` since boot."
    busy = total = 0
    with open("/proc/stat") as f:
        for line in f:
            if not line.startswith("cpu") or line.startswith("cpu "):
                continue
            fields = line.split()
            if int(fields[0][3:]) not in cpus:
                continue
            vals = [int(v) for v in fields[1:9]]
            idle = vals[3] + vals[4]  # idle + iowait
            total += sum(vals)
            busy += sum(vals) - idle
    return busy, total


class TreeSampler:
    """While active (it can be entered many times), samples every
    ``interval`` seconds the RSS of this process's children (the Spark JVM)
    and the summed RSS of their descendants (the Python daemon and
    workers), and counts busy and total jiffies of ``cpus``."""

    def __init__(self, cpus: set, interval: float = 0.05, rescan: float = 0.5):
        self.cpus = cpus
        self.interval = interval
        self.rescan = rescan
        self.jvm_peak = 0
        self.workers_peak = 0
        self._stop = threading.Event()
        self._thread = None
        self._start = (0, 0)
        self.busy = self.total = 0

    def _run(self) -> None:
        jvm, workers, scanned = [], [], 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now - scanned >= self.rescan:
                tree = levels(os.getpid()) or [[]]
                jvm, workers, scanned = tree[0], [p for level in tree[1:] for p in level], now
            self.jvm_peak = max(self.jvm_peak, rss_bytes(jvm))
            self.workers_peak = max(self.workers_peak, rss_bytes(workers))
            self._stop.wait(self.interval)

    def __enter__(self) -> "TreeSampler":
        self._start = cpu_jiffies(self.cpus)
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        busy, total = cpu_jiffies(self.cpus)
        self.busy += busy - self._start[0]
        self.total += total - self._start[1]

    @property
    def busy_share(self) -> float:
        return self.busy / self.total if self.total else 0.0


def reap_descendants(timeout: float = 30.0) -> None:
    "Wait for every descendant to exit; SIGKILL whatever outlives ``timeout``."
    deadline = time.monotonic() + timeout
    while left := descendants(os.getpid()):
        if time.monotonic() > deadline:
            for pid in left:
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
            deadline = time.monotonic() + timeout
        for pid in left:
            with contextlib.suppress(ChildProcessError):  # only our own children are ours to reap
                os.waitpid(pid, os.WNOHANG)
        time.sleep(0.1)
