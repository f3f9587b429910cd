"""Process-tree accounting of the timed process: its start time, the CPU
time of it and its descendants, and their peak summed RSS."""

from __future__ import annotations

import os
import threading


def process_start() -> float:
    """Wall-clock time this process started (from /proc, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants, the JVM and its Python workers, ended children included.

    Time the hypervisor steals from this guest is not charged to any
    process, so host contention inflates wall time far more than this."""
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        todo.extend(_children(pid))
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler(threading.Thread):
    """Peak summed RSS of this process's descendants (the JVM and the
    Python workers it forks), sampled every ``period`` seconds.

    A process counts from its second sample on: a short-lived child the
    JVM forks (e.g. ``rm -rf`` while it deletes temp dirs) briefly shows
    the JVM's whole resident set and would double it."""

    def __init__(self, period: float = 0.5):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._seen: set[int] = set()

    def sample(self) -> int:
        total, seen, todo = 0, set(), _children(os.getpid())
        while todo:
            pid = todo.pop()
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * self._page
            except OSError:
                continue
            seen.add(pid)
            if pid in self._seen:
                total += rss
            todo.extend(_children(pid))
        self._seen = seen
        return total

    def run(self) -> None:
        while not self._halt.wait(self.period):
            self.peak = max(self.peak, self.sample())

    def stop(self) -> int:
        self._halt.set()
        self.join(timeout=5)
        return self.peak
