"""Host-speed probe: how fast the shared host's cores run while the
program sets up and runs the timed operations, so those times can be
scaled to one reference host speed.

The benchmark runs on a few vCPUs of a shared machine whose cores
change speed by up to 40% over tens of seconds, with what the other
tenants do (on a 4-vCPU VM a fixed loop took 1.1 ms of CPU in one
minute and 1.6 ms in the next, on every core at once). A run of one
minute lands wherever that drift happens to be, and two sets of ten
runs of the same code then differ by more than any useful bound. The
program cannot cause this drift, so the probe measures it beside the
program: one process pinned to each core runs a fixed interpreted loop
every ``PERIOD_S`` and records the loop's own CPU time. CPU time does
not count the time the probe waits for the program's threads, so it
follows the core's speed, not the program's load. Over 27 operations of
``stream_detect`` in one process, the operation wall time had an
interquartile spread of 0.233 of its median; the wall time divided by
the probes' mean loop time, 0.036 (correlation 0.89).

The probes take about 3% of each core while active, the same on every
commit, and sleep otherwise.
"""

from __future__ import annotations

import multiprocessing
import os
import statistics
import time
from contextlib import contextmanager

LOOP = 15_000
PERIOD_S = 0.05
# CPU seconds of one loop at the reference host speed; scaled times are
# the times the operation would take on a host whose cores run the loop
# in this time
REF_LOOP_S = 1.25e-3


def _loop() -> int:
    s = 0
    for i in range(LOOP):
        s += (i * 7) % 13
    return s


def _probe(cpu: int, parent: int, active, stop, conn) -> None:
    os.sched_setaffinity(0, {cpu})
    out = []
    # a parent killed outright never sets ``stop``
    while not stop.is_set() and os.getppid() == parent:
        if not active.wait(0.2):
            continue
        c = time.thread_time()
        _loop()
        out.append((time.perf_counter(), time.thread_time() - c))
        time.sleep(PERIOD_S)
    conn.send(out)
    conn.close()


class HostSpeed:
    """One probe process per core of this process's CPU affinity. Create
    it before the JVM or any thread starts (the probes are forked);
    ``active()`` brackets the timed operations; ``close()`` stops the
    probes, waits for them and keeps their samples for ``scale``."""

    def __init__(self):
        ctx = multiprocessing.get_context("fork")
        self._active, self._stop = ctx.Event(), ctx.Event()
        self._procs, self._conns = [], []
        for cpu in sorted(os.sched_getaffinity(0)):
            recv, send = ctx.Pipe(duplex=False)
            p = ctx.Process(target=_probe, daemon=True,
                            args=(cpu, os.getpid(), self._active,
                                  self._stop, send))
            p.start()
            send.close()
            self._procs.append(p)
            self._conns.append(recv)
        self.pids = {p.pid for p in self._procs}
        self.samples: list[list[tuple[float, float]]] = []

    @contextmanager
    def active(self):
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()

    def close(self) -> None:
        if not self._procs:
            return
        self._stop.set()
        self.samples = [c.recv() if c.poll(10) else [] for c in self._conns]
        for p in self._procs:
            p.join(10)
            if p.is_alive():
                p.kill()
                p.join()
        self._procs = []

    def loop_s(self, t0: float, t1: float) -> float:
        """Mean over cores of the median loop CPU time in [t0, t1]
        (``time.perf_counter`` instants)."""
        per_core = [statistics.median(inside) for inside in (
            [s for t, s in core if t0 <= t <= t1] for core in self.samples)
            if inside]
        if not per_core:
            raise RuntimeError("no host-speed sample in the window")
        return statistics.fmean(per_core)

    def scale(self, t0: float, t1: float) -> float:
        """Factor that turns a time measured in [t0, t1] into the time at
        the reference host speed."""
        return REF_LOOP_S / self.loop_s(t0, t1)
