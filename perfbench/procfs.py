"""Process-tree CPU and memory read from ``/proc``, and the host canary.

The tree is this process and every descendant: the driver's Python,
the JVM it launches, and the JVM's Python daemon and workers. CPU of a
descendant that exits is kept, because its parent reaps it and the
kernel adds it to the parent's ``cutime``/``cstime``.
"""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stats() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cpu seconds incl. reaped children, rss bytes)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read()
        except OSError:  # the process exited while we listed
            continue
        fields = raw[raw.rfind(b")") + 2 :].split()
        # fields[0] is field 3 (state) of proc(5)
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        out[int(name)] = (int(fields[1]), ticks / _CLK, int(fields[21]) * _PAGE)
    return out


def _tree(stats: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def descendants() -> list[int]:
    """Live descendants of this process."""
    root = os.getpid()
    return [p for p in _tree(_stats(), root) if p != root]


def tree_cpu_s() -> float:
    stats = _stats()
    return sum(stats[p][1] for p in _tree(stats, os.getpid()) if p in stats)


def tree_rss_bytes() -> dict[int, int]:
    """pid -> resident bytes, for every process of the tree."""
    stats = _stats()
    return {p: stats[p][2] for p in _tree(stats, os.getpid()) if p in stats}


class RssPeak:
    """Samples the tree's summed resident set every ``interval`` seconds
    while active and keeps the peak, and the per-process split at it."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.at_peak: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = tree_rss_bytes()
        if sum(rss.values()) > self.peak:
            self.peak, self.at_peak = sum(rss.values()), rss

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssPeak":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def canary_ms() -> float:
    """Wall time of a fixed single-threaded pure-Python task: a host
    speed probe recorded beside every run, not a metric of the program."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc * 31 + i) % 1_000_003
    if acc < 0:  # keeps the loop's result live
        raise AssertionError
    return (time.perf_counter() - t0) * 1000.0


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc`` (10 ms ticks)."""
    with open("/proc/self/stat", "rb") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rfind(b")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _CLK


def stop_tree(timeout: float = 30.0) -> None:
    """Terminate any descendant still alive and wait until none is."""
    import signal

    deadline = time.monotonic() + timeout
    sent_kill = False
    while True:
        pids = descendants()
        if not pids:
            return
        late = time.monotonic() > deadline
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL if late else signal.SIGTERM)
            except ProcessLookupError:
                pass
        sent_kill = sent_kill or late
        # reap our own children; deeper ones are reaped by their parents
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        if sent_kill and time.monotonic() > deadline + timeout:
            raise RuntimeError(f"processes {pids} did not exit")
        time.sleep(0.1)
