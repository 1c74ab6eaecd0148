"""The benchmark's process tree, read from /proc: resident memory and CPU
time of this process and every descendant (the driver JVM and its Python
workers), and the host's steal time."""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def tree() -> dict[int, tuple[int, int]]:
    """pid → (RSS in KiB, CPU ticks incl. reaped children) for this process
    and all its descendants."""
    children: dict[int, list[int]] = {}
    stats: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is field 3 of proc(5): ppid is 4, utime..cstime 14-17,
        # rss 24
        cpu = sum(int(x) for x in fields[11:15])
        stats[int(d)] = (int(fields[21]) * _PAGE_KB, cpu)
        children.setdefault(int(fields[1]), []).append(int(d))
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds() -> float:
    """CPU time used so far by the process tree."""
    return sum(cpu for _, cpu in tree().values()) / _TICK


def steal_seconds() -> float:
    """Time the hypervisor ran something else on this host's CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


@contextmanager
def stopwatch():
    """Wall, CPU and steal seconds of the enclosed block, filled in on
    exit: ``with stopwatch() as t: ...; t["wall"], t["cpu"]``."""
    t = {}
    w0, c0, s0 = time.perf_counter(), cpu_seconds(), steal_seconds()
    try:
        yield t
    finally:
        t["wall"] = time.perf_counter() - w0
        t["cpu"] = cpu_seconds() - c0
        t["steal"] = steal_seconds() - s0


class RssSampler(threading.Thread):
    """Peak summed RSS of the process tree, sampled every 250 ms."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.wait(0.25):
            self.peak_kb = max(self.peak_kb,
                               sum(rss for rss, _ in tree().values()))

    def stop(self) -> float:
        """Stop sampling (idempotent); returns the peak in MiB."""
        self._stop_evt.set()
        if self.is_alive():
            self.join()
        return self.peak_kb / 1024
