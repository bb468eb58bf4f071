"""How fast the host runs this process right now, from a fixed kernel.

On a shared virtual machine the speed of the same code drifts by a
factor of up to two, between runs and within one over seconds, while
almost none of it shows as ``steal`` in ``/proc/stat``. So a run times a
small fixed reference kernel right before every timed op, and each op's
end-to-end time is reported in reference seconds:

    reported = wall seconds * NOMINAL_S / (median of the NEAREST kernel
               samples in time, before and after the op)

i.e. the time the op would take on a host that runs the kernel in
``NOMINAL_S``. Rates are divided by the same factor; set-up time is
scaled by the median of all the run's samples. The kernel uses no code
of the engine, so an engine change cannot move it: part of it is a
parallel sort inside the session's JVM (the JVM does most of an op's
work, on several threads), the rest pure Python in this process.
"""

from __future__ import annotations

import bisect
import statistics
import time

# Median kernel seconds on the reference host (4 vCPUs of a shared
# x86-64 virtual machine, Spark 4.1.2, Python 3.11). Only ratios
# between runs matter; this constant just keeps the reported values
# close to wall seconds on that host.
NOMINAL_S = 0.04
# kernel samples an op's speed estimate is the median of
NEAREST = 6

_JVM_LONGS = 500_000
_PY_ITERS = 40_000


class HostSpeed:
    """Kernel samples of one run; see the module docstring."""

    def __init__(self, spark):
        self._jvm = spark._jvm
        self.at: list[float] = []  # time.time() of each sample
        self.samples: list[tuple[float, float]] = []  # (jvm s, python s)

    def _kernel(self) -> tuple[float, float]:
        t0 = time.perf_counter()
        self._jvm.java.util.SplittableRandom(7).longs(_JVM_LONGS).parallel().sorted().sum()
        t1 = time.perf_counter()
        acc = 0
        for i in range(_PY_ITERS):
            acc ^= hash(str(i) + "x")
        return t1 - t0, time.perf_counter() - t1

    def warm(self, n: int = 10) -> None:
        """Untimed runs, so the JVM has compiled the kernel."""
        for _ in range(n):
            self._kernel()

    def sample(self) -> None:
        self.at.append(time.time())
        self.samples.append(self._kernel())

    def kernel_s(self) -> float:
        return statistics.median(j + p for j, p in self.samples)

    def factor(self) -> float:
        """Reference seconds per wall second, over the whole run."""
        return NOMINAL_S / self.kernel_s()

    def factor_at(self, t0: float, t1: float) -> float:
        """Reference seconds per wall second for an op that ran from
        ``t0`` to ``t1`` (``time.time()``): from the ``NEAREST`` kernel
        samples around it, half before and half after where there are."""
        i = bisect.bisect_left(self.at, t0)
        j = bisect.bisect_right(self.at, t1)
        half = NEAREST // 2
        lo, hi = max(0, i - half), min(len(self.at), j + half)
        near = [sum(s) for s in self.samples[lo:hi]] or [self.kernel_s()]
        return NOMINAL_S / statistics.median(near)

    def summary(self) -> dict:
        return {
            "nominal_s": NOMINAL_S,
            "kernel_s": self.kernel_s(),
            "jvm_s": statistics.median(j for j, _ in self.samples),
            "python_s": statistics.median(p for _, p in self.samples),
            "samples": len(self.samples),
            "factor": self.factor(),
            "series": [[round(a, 3), round(j, 5), round(p, 5)]
                       for a, (j, p) in zip(self.at, self.samples)],
        }
