"""How fast the host runs a fixed computation while a run is measured.

On a shared host the same code runs faster or slower from minute to
minute: other tenants' load lowers the cores' clock and contends for
their caches, so every CPU-bound step of the program slows together
(runs of identical code have differed by ~1.2-1.8x). A side process
times a fixed pure-Python loop every ``PERIOD_S`` as CPU time of its own
thread, so time spent waiting for a core, or stolen by the hypervisor,
does not count. The median over the run, divided by the loop's time on
the host the benchmark's bounds were set on (``spec.json``), is the
run's slowdown factor; the end-to-end timings are divided by it.

The loop touches a few hundred KB, so the program's own load barely
moves it: on a 4-core host its median rose 0.8% while a build kept every
core busy. It costs ~2.5% of one core.

    python3 perfbench/hostspeed.py     # the sampler; stops at stdin EOF
"""

from __future__ import annotations

import json
import select
import statistics
import subprocess
import sys
import time

PERIOD_S = 0.5
_KEYS = 5000
_ITERS = 60_000


def loop_ms() -> float:
    """CPU milliseconds of this thread for one pass of the fixed loop."""
    c0 = time.thread_time()
    d: dict[str, int] = {}
    for i in range(_ITERS):
        k = "k%d" % (i % _KEYS)
        d[k] = d.get(k, 0) + i
    return (time.thread_time() - c0) * 1e3


def _sample() -> None:
    """Time the loop every PERIOD_S until stdin closes; print the list."""
    out = []
    while True:
        out.append(loop_ms())
        if select.select([sys.stdin], [], [], PERIOD_S)[0]:
            if not sys.stdin.buffer.read1(4096):
                break
    print(json.dumps(out))


class HostSpeed:
    """Runs the sampler beside the measured part of a run; ``median_ms``
    is its median loop time, ``factor`` that over ``nominal_ms``."""

    def __init__(self, nominal_ms: float):
        self.nominal_ms = nominal_ms
        self.samples: list[float] = []
        self.pid: int | None = None
        self._proc: subprocess.Popen | None = None

    def start(self) -> "HostSpeed":
        self._proc = subprocess.Popen(
            [sys.executable, __file__], stdin=subprocess.PIPE,
            stdout=subprocess.PIPE, text=True)
        self.pid = self._proc.pid
        return self

    def stop(self) -> None:
        """Close the sampler's stdin and wait for its samples."""
        proc, self._proc = self._proc, None
        if proc is None:
            return
        try:
            out, _ = proc.communicate(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise
        if proc.returncode == 0 and out.strip():
            self.samples = json.loads(out)

    @property
    def median_ms(self) -> float:
        if not self.samples:
            raise RuntimeError("host-speed sampler returned no samples")
        return statistics.median(self.samples)

    @property
    def factor(self) -> float:
        return self.median_ms / self.nominal_ms


if __name__ == "__main__":
    _sample()
