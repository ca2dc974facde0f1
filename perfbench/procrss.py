"""Peak resident memory of a process tree, sampled from ``/proc``
(psutil is not available).

Each process counts its proportional set size (PSS, from
``smaps_rollup``): pages shared between processes (forked Python
workers, a vfork'ed spawn helper that still maps the JVM) are split
among them instead of being counted once per process, so the sum is
the tree's real resident memory."""

from __future__ import annotations

import os
import threading


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            raw = fh.read()
    except OSError:  # the process exited between listing and reading
        return None
    # the command name is parenthesised and may hold spaces
    return raw.rsplit(")", 1)[1].split()


def tree(root: int) -> list[int]:
    """``root`` and the pids of all its descendants."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(name)
            if f is not None:
                parent[int(name)] = int(f[1])
    out = []
    for pid in parent:
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            out.append(pid)
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size of one process; 0 once it has exited."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):  # exited, or a kernel thread without maps
        pass
    return 0


class PeakRss:
    """Background sampler of the summed RSS of this process tree."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            total = sum(pss_bytes(pid) for pid in tree(root))
            with self._lock:
                self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self.interval_s)

    def reset(self) -> None:
        with self._lock:
            self.peak_bytes = 0

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
