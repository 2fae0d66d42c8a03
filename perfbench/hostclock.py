"""Wall time with the CPU time the host withheld taken out.

On a shared virtual machine the host can leave a vCPU that has work
waiting while it runs another guest; Linux counts that time as
``steal`` in ``/proc/stat``. Stolen time is no cost of the program,
but it lengthens every wall time measured across it, and on a shared
4-core box it varies from run to run by more than the benchmark's
bounds. ``HostClock`` records the machine's busy and stolen CPU time at
marks the benchmark sets around each timed call, and measures an
interval as its wall time minus the share of the stolen time that
delayed it:

    length = wall - steal / max(1, (busy + steal) / wall)

per stretch between two marks. ``(busy + steal) / wall`` is how many
vCPUs had work on average; when several had, their stolen times
overlap in wall time and count once per vCPU's share. Between marks
time is interpolated linearly. With no steal the length is the wall
time, and it is never shorter than the wall time minus the stolen time.
"""

from __future__ import annotations

import bisect
import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds() -> tuple[float, float]:
    """(busy, stolen) CPU seconds of the whole machine since boot;
    (0, 0) where ``/proc/stat`` does not exist."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
    except OSError:
        return 0.0, 0.0
    user, nice, system, _idle, _iowait, irq, softirq, steal = f
    return (user + nice + system + irq + softirq) / _TICK, steal / _TICK


class HostClock:
    def __init__(self):
        self._walls: list[float] = []  # the marks' wall times
        self._lens: list[float] = []  # corrected time from the first mark to each
        self._steal0 = cpu_seconds()[1]
        self._last = (0.0, 0.0, self._steal0)  # (wall, busy, steal) at the last mark
        self.mark()

    def mark(self) -> float:
        """Record the counters now and return the wall time
        (``time.perf_counter()``) of the mark."""
        busy, steal = cpu_seconds()
        t = time.perf_counter()
        if self._walls:
            t0, b0, s0 = self._last
            wall, stolen = t - t0, steal - s0
            runnable = max(1.0, (busy - b0 + stolen) / wall) if wall > 0 else 1.0
            self._lens.append(self._lens[-1] + max(0.0, wall - stolen / runnable))
        else:
            self._lens.append(0.0)
        self._walls.append(t)
        self._last = (t, busy, steal)
        return t

    def _at(self, t: float) -> float:
        w, v = self._walls, self._lens
        if t <= w[0]:
            return t - w[0]
        if t >= w[-1]:
            return v[-1] + t - w[-1]
        i = bisect.bisect_right(w, t) - 1  # w[i] <= t < w[i + 1]
        return v[i] + (t - w[i]) * (v[i + 1] - v[i]) / (w[i + 1] - w[i])

    def length(self, t0: float, t1: float) -> float:
        """Corrected seconds between two wall times; both should lie
        between marks, outside them time counts as wall time."""
        return self._at(t1) - self._at(t0)

    def stolen(self) -> float:
        """Stolen CPU seconds from the clock's start to its last mark."""
        return self._last[2] - self._steal0
