"""Machine-speed sentinel.

A shared VM's speed can drift by tens of percent over seconds with no
load of its own: on a 4-core VM a fixed pure-Python loop took anywhere
from 45 to 77 ms over one idle minute.
The sentinel runs in its own process, at raised priority where allowed
so that the benchmark's own threads delay it less. Every ``PERIOD_S`` it
times a loop of about 2 ms (about 4% of one CPU) and writes ``<start>
<duration>`` on stdout. A timed operation is then scaled by how slow the
machine was while it ran: the median probe duration in the operation's
interval, widened by ``PAD_S`` on each side so short operations get
several probes, over ``REF_PROBE_S``.

Run as a script it is the probe loop; import it for ``Sentinel``.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time

PERIOD_S = 0.05
PAD_S = 0.25
LOOP = 20_000
#: Probe duration that counts as speed 1.0 (a quiet moment on a 4-core
#: x86 VM). A constant, so calibrated figures compare across runs.
REF_PROBE_S = 0.0016


def _probe_loop() -> None:
    try:
        os.nice(-10)
    except OSError:
        pass  # unprivileged: probe at normal priority
    while True:
        t = time.perf_counter()
        s = 0
        for i in range(LOOP):
            s += i * i % 7
        sys.stdout.write(f"{t} {time.perf_counter() - t}\n")
        sys.stdout.flush()
        time.sleep(PERIOD_S)


class Sentinel:
    """The probe process; ``slowdown(t0, t1)`` once it has stopped."""

    def __init__(self):
        self.proc = subprocess.Popen([sys.executable, __file__],
                                     stdout=subprocess.PIPE, text=True)
        self.samples: list[tuple[float, float]] = []

    def stop(self) -> None:
        self.proc.terminate()
        out, _ = self.proc.communicate()
        self.samples = [tuple(map(float, ln.split())) for ln in out.splitlines()
                        if len(ln.split()) == 2]

    def slowdown(self, t0: float, t1: float) -> float:
        """Median probe duration around [t0, t1] over the reference."""
        if not self.samples:
            raise RuntimeError("the sentinel recorded no probe")
        near = [d for t, d in self.samples if t0 - PAD_S <= t <= t1 + PAD_S]
        if not near:
            near = [min(self.samples, key=lambda s: abs(s[0] - t0))[1]]
        return statistics.median(near) / REF_PROBE_S


if __name__ == "__main__":
    _probe_loop()
