"""Peak resident memory of this process's descendants (the Spark driver JVM
and the Python workers it forks), sampled from /proc by a background thread."""

from __future__ import annotations

import os
import threading


def _ppid_map() -> dict[int, int]:
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        # comm may hold spaces and parentheses: ppid follows the last ')'
        out[int(entry)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def running(pid: int) -> bool:
    """True while pid exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def descendants_rss_mb(root: int) -> float:
    return sum(_rss_kb(pid) for pid in descendants(root)) / 1024.0


class PeakRss:
    """Samples descendants_rss_mb(os.getpid()) every `interval` seconds
    until stopped; `peak_mb` is the highest sample since the last reset."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_mb = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def _loop(self):
        root = os.getpid()
        while not self._stop.wait(self.interval):
            mb = descendants_rss_mb(root)
            with self._lock:
                self.peak_mb = max(self.peak_mb, mb)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def reset(self) -> None:
        with self._lock:
            self.peak_mb = 0.0

    def read(self) -> float:
        with self._lock:
            return self.peak_mb

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
