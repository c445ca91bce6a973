"""CPU and memory of a process tree, read from ``/proc`` (no psutil here).

The tree is the benchmark's Spark process, its JVM, the PySpark daemon and
every Python worker the daemon forks.  CPU counts ``cutime``/``cstime`` too,
so a worker that exits and is reaped inside the tree is still counted.
Memory is PSS, not RSS: forked workers share most of their pages with the
daemon, and summed RSS counts those pages once per live worker, so it moved
with the number of idle workers rather than with memory in use.  The JVM
shares no pages with the rest of the tree, so its cheap RSS stands in for
its PSS, whose ``smaps_rollup`` read costs 10-30 ms there.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stats() -> dict[int, list[str]]:
    """pid → the /proc/<pid>/stat fields from the command name on."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read()
        except OSError:  # the process exited while we listed /proc
            continue
        cut = raw.rindex(b")")
        out[int(name)] = [raw[raw.index(b"(") + 1:cut].decode(
            errors="replace")] + raw[cut + 2:].decode().split()
    return out


def _tree(stats: dict[int, list[str]], root: int) -> list[int]:
    """``root`` and every descendant still in ``stats``."""
    kids: dict[int, list[int]] = {}
    for pid, f in stats.items():
        kids.setdefault(int(f[2]), []).append(pid)
    todo, seen = [root], []
    while todo:
        pid = todo.pop()
        if pid in stats:
            seen.append(pid)
            todo.extend(kids.get(pid, ()))
    return seen


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and all its descendants,
    including reaped children."""
    stats = _stats()
    return sum(int(f[12]) + int(f[13]) + int(f[14]) + int(f[15])
               for f in (stats[pid] for pid in _tree(stats, root))) / _TICK


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1])
    except OSError:  # the process exited while we read it
        pass
    return 0


def tree_pss_mb(root: int) -> float:
    """Summed proportional set size of ``root`` and its descendants, MiB."""
    stats = _stats()
    kb = 0
    for pid in _tree(stats, root):
        f = stats[pid]
        kb += int(f[22]) * _PAGE // 1024 if f[0] == "java" else _pss_kb(pid)
    return kb / 1024


class PeakMemory:
    """Samples the tree's summed PSS on a thread; ``peak_mb`` is the
    largest sample taken between ``start`` and ``stop``."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))
            self._stop.wait(self.interval_s)

    def start(self) -> "PeakMemory":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))
        return self.peak_mb
