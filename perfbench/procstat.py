"""Resident memory and CPU time of this process and every process it
started (the Spark JVM and its Python workers), read from /proc."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return data[data.rindex(")") + 2:].split()


def tree(root: int | None = None) -> list[int]:
    """`root` and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def cpu_seconds(pids: list[int]) -> float:
    """User + system time of the processes, plus that of their reaped
    children (a Python worker that exited is counted by its parent)."""
    ticks = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of /proc/<pid>/stat: utime stime cutime cstime
            ticks += sum(int(v) for v in st[11:15])
    return ticks / _TICK


def write_bytes(pids: list[int]) -> int:
    """Bytes the processes caused to be written to storage (tables,
    shuffle and spill files, temp files), from /proc/<pid>/io; a
    reaped child's bytes are counted by its parent."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/io") as f:
                for line in f:
                    if line.startswith("write_bytes:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total


def host_jiffies() -> tuple[int, int]:
    """(all, steal) CPU jiffies of the host since boot, from /proc/stat;
    steal is time the hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:9]]
    return sum(vals), vals[7]


class PeakRss:
    """Samples the tree's resident memory in a background thread."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        with self._lock:
            self.peak = max(self.peak, rss_bytes(tree()))

    def reset(self) -> int:
        """Peak since the last reset (sampled once more now), then
        start a new window."""
        self.sample()
        with self._lock:
            peak, self.peak = self.peak, 0
        return peak

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
