"""How much compute the host delivers: stolen time and a pure-CPU control.

The host's CPU delivery swings 1.5-2x over minutes, which moves every wall
time the benchmark takes. Part of the swing is time the hypervisor gives
this VM's vCPUs to other guests; ``Stopwatch`` takes that stolen time out of
the end-to-end walls (on ten sf0.1-shaped runs it cut the spread of the
report wall from 0.20 to 0.17 of its median). The rest of the swing comes
from cores that run slower while they run, which no correction here removes.
A burn loop in ``cores`` spawned processes (after
``scripts/scaling_bench.hw_control``) samples that delivery once per run, so
a slow run can be told apart from a slow program; scaling walls by it added
as much spread as it removed, so the metrics are not scaled by it.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import time


def _burn(n: int) -> int:
    x = 0
    for i in range(n):
        x += i * i
    return x


BURN_LOOPS = 3_000_000  # per process; about 0.3 s on one core
SETTLE_S = 0.5


def stolen_seconds() -> float:
    """CPU time the hypervisor has taken from this machine's vCPUs since
    boot: time a vCPU wanted to run and got no physical CPU (the steal
    column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class Stopwatch:
    """Wall time, and the net wall: the wall less the stolen time averaged
    over the vCPUs, which is the share of the wall the hypervisor took away
    while all of them had work. When fewer had work the net wall still holds
    part of the stolen time: the correction errs towards the raw wall."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.stolen0 = stolen_seconds()

    def read(self) -> tuple[float, float]:
        wall = time.perf_counter() - self.t0
        return wall, wall - (stolen_seconds() - self.stolen0) / os.cpu_count()


class HostControl:
    """A pool of ``cores`` burn processes, kept for the whole run so each
    sample costs only the burn itself."""

    def __init__(self, cores: int):
        self.cores = cores
        self.pool = mp.get_context("spawn").Pool(cores)
        self.pool.map(_burn, [1000] * cores)  # spawn and import before sampling

    def mits(self) -> float:
        """Million loop iterations per second over all processes, sampled
        after ``SETTLE_S`` of quiet so work still draining from the previous
        timed region does not compete with the burn."""
        time.sleep(SETTLE_S)
        t0 = time.perf_counter()
        self.pool.map(_burn, [BURN_LOOPS] * self.cores)
        return self.cores * BURN_LOOPS / 1e6 / (time.perf_counter() - t0)

    def close(self) -> None:
        self.pool.close()
        self.pool.join()

    def __enter__(self) -> "HostControl":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

