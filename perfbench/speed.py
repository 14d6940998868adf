"""The machine's speed, sampled while a benchmark runs.

    python3 perfbench/speed.py

prints, every ``PERIOD`` seconds until its standard input closes, one line
``<monotonic start> <monotonic end> <CPU seconds>`` for a fixed unit of
single-thread Python work. On a shared host the CPU time of a fixed piece of
work swings by half and more within a minute (a 4-core VM measured 27 to
49 ms for one loop while idle), as other guests compete for the cores'
caches and sibling threads; steal time does not show this, as the work is
not descheduled, only slowed. The benchmark scales an operation's CPU time
by the unit's CPU time over the same interval, so most of that swing
cancels out. The unit runs while the operation does, so part of what it
measures is the operation's own pressure on shared caches: a change that
eases that pressure shows a little less than its full gain.

The unit takes a few milliseconds every ``PERIOD``: a few percent of one
core.
"""

from __future__ import annotations

import math
import os
import select
import statistics
import subprocess
import sys
import threading
import time

PERIOD = 0.05
UNIT_ITERATIONS = 20_000


def unit() -> float:
    x = 0.0
    for i in range(UNIT_ITERATIONS):
        x += math.sqrt(i)
    return x


def main() -> int:
    out = sys.stdout
    while True:
        t0, c0 = time.monotonic(), time.thread_time()
        unit()
        c1, t1 = time.thread_time(), time.monotonic()
        out.write(f"{t0:.6f} {t1:.6f} {c1 - c0:.9f}\n")
        out.flush()
        # sleep, and stop as soon as the reader closes our standard input
        if select.select([sys.stdin], [], [], PERIOD)[0] and not sys.stdin.read(1):
            return 0


class SpeedProbe:
    """Runs this file as a child process and keeps its samples; ``unit_s``
    gives the median CPU time of the unit over an interval."""

    def __init__(self) -> None:
        self.samples: list[tuple[float, float, float]] = []
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            t0, t1, cpu = (float(v) for v in line.split())
            self.samples.append((t0, t1, cpu))

    def unit_s(self, start: float, end: float) -> float:
        """Median CPU seconds of the units run between two ``time.monotonic``
        readings; of the three nearest when fewer ran inside."""
        inside = [c for t0, t1, c in self.samples if t0 >= start and t1 <= end]
        if len(inside) < 3:
            mid = (start + end) / 2
            inside = [c for _, _, c in sorted(self.samples, key=lambda s: abs((s[0] + s[1]) / 2 - mid))[:3]]
        if not inside:
            raise RuntimeError(f"speed probe gave no samples (exit code {self.proc.poll()})")
        return statistics.median(inside)

    def close(self) -> None:
        try:
            self.proc.stdin.close()
            self.proc.wait(timeout=10)
        except (OSError, subprocess.TimeoutExpired):
            self.proc.kill()
            self.proc.wait()
        self._reader.join(timeout=10)


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (BrokenPipeError, KeyboardInterrupt):
        sys.exit(0)
