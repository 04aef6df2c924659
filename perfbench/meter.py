"""Time an interval three ways: wall clock, the CPU this machine's
processes used, and the CPU steal its hypervisor reported.

On a shared virtual machine the host can take the CPUs away from a
runnable guest ("steal"); the guest's wall clock keeps running while its
work waits, so wall times swing with other tenants' load (measured on a
4-vCPU guest: 1% to 47% of the wanted CPU time stolen per run, and op
medians of one workload from 0.69 s to 1.53 s across ten runs).
``Interval.unstolen_ms`` removes that share. The counters come from the
first line of ``/proc/stat`` (machine-wide, in clock ticks).
"""

from __future__ import annotations

import os
import time
from typing import NamedTuple

TICK_MS = 1000.0 / os.sysconf("SC_CLK_TCK")


class Stamp(NamedTuple):
    wall: float  # perf_counter seconds
    busy: int  # user + nice + system + irq + softirq ticks
    steal: int


class Interval(NamedTuple):
    wall_ms: float
    cpu_ms: float
    steal_ms: float

    @property
    def steal_share(self) -> float:
        """Share of the time the CPUs were wanted that the host took."""
        want = self.cpu_ms + self.steal_ms
        return self.steal_ms / want if want > 0 else 0.0

    @property
    def unstolen_ms(self) -> float:
        """Wall time with the stolen share taken out: the wall time the
        interval would have had if the CPUs had run whenever they were
        wanted. Equal to ``wall_ms`` on a host that steals nothing."""
        return self.wall_ms * (1.0 - self.steal_share)


def stamp() -> Stamp:
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    return Stamp(time.perf_counter(), int(f[1]) + int(f[2]) + int(f[3]) + int(f[6]) + int(f[7]),
                 int(f[8]))


def between(a: Stamp, b: Stamp) -> Interval:
    return Interval((b.wall - a.wall) * 1000.0, (b.busy - a.busy) * TICK_MS,
                    (b.steal - a.steal) * TICK_MS)
