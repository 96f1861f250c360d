"""Process-tree helpers read from ``/proc`` (psutil is not installed)."""

from __future__ import annotations

import os
import signal
import threading
import time
from pathlib import Path

_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
# pids of the benchmark's own helpers (the host-speed sampler): they and
# their children count in neither the tree's CPU time nor its memory
IGNORED: set[int] = set()


def _stat(pid: int) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    # comm (field 2) may hold spaces; the fields after it start past ')'
    return raw[raw.rindex(")") + 2:].split()


def start_time(pid: int | None = None) -> float:
    """Epoch seconds at which process ``pid`` (default: this one) began."""
    fields = _stat(pid or os.getpid())
    btime = next(int(line.split()[1]) for line in
                 Path("/proc/stat").read_text().splitlines()
                 if line.startswith("btime "))
    return btime + int(fields[19]) / _TICKS


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live descendant of ``root`` (default: this process),
    leaving out the subtrees of ``IGNORED`` pids."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            fields = _stat(int(d))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            if c in IGNORED:
                continue
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    try:
        text = Path(f"/proc/{pid}/smaps_rollup").read_text()
    except OSError:
        return 0
    for line in text.splitlines():
        if line.startswith("Pss:"):
            return int(line.split()[1]) * 1024
    return 0


def tree_pss_bytes(root: int | None = None) -> int:
    """Proportional set size of the process tree: pages shared between
    processes (forked Python workers share most of theirs) count once
    in total, so the sum does not grow with the number of workers the
    way summed RSS does."""
    root = root or os.getpid()
    return sum(_pss_bytes(pid) for pid in [root, *descendants(root)])


def tree_cpu() -> dict[int, float]:
    """CPU seconds (user + system, own + reaped children) of every
    process in this process tree, by pid. CPU time excludes time the
    host stole from the VM, unlike wall time."""
    out = {}
    for pid in [os.getpid(), *descendants()]:
        fields = _stat(pid)
        if fields is not None:
            out[pid] = sum(int(f) for f in fields[11:15]) / _TICKS
    return out


def cpu_since(before: dict[int, float]) -> float:
    """CPU seconds the tree used since the ``tree_cpu()`` snapshot."""
    return sum(v - before.get(pid, 0.0) for pid, v in tree_cpu().items())


class PeakMemory:
    """Samples the PSS of this process tree on a thread; ``peak`` is the
    largest total seen (bytes)."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes())
            self._stop.wait(self.period_s)

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_pss_bytes())


def reap(pids: list[int], timeout_s: float = 20.0) -> None:
    """Wait for ``pids`` to exit; SIGKILL what is still alive after
    ``timeout_s`` and wait up to 5 s more for those."""
    deadline, killed = time.time() + timeout_s, False
    while True:
        alive = [p for p in pids if (f := _stat(p)) is not None and f[0] != "Z"]
        if not alive:
            return
        if time.time() > deadline:
            if killed:
                return
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline, killed = time.time() + 5.0, True
        time.sleep(0.1)
