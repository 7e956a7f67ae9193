"""Host-contention probe shared by bench.py and perfbench.

A fixed single-core NumPy loop is timed repeatedly; on an unloaded guest
the duration is constant (~0.2s on this box), and host CPU steal
inflates it.  Embedding the probe trace next to every published
throughput number lets a reader distinguish "contended measurement
window" from "engine regression" (VERDICT r2 #3) — without it, a 4x
throughput swing between identical binaries is uninterpretable.
"""

from __future__ import annotations

import threading
import time

# a run whose mean in-run probe exceeds this is not a quiet-window
# measurement (bench.py reports it as the ``quiet`` flag)
QUIET_PROBE_SEC = 0.8

# the stricter gate a COMMITTED HEADLINE docs/sec claim must meet
# (VERDICT r4 #1: the 0.8 validity floor admitted both a 923 docs/s
# window at probe 0.367 and an 1157 docs/s window at probe 0.206 — a
# gate that passes ±26% throughput swings cannot certify a headline;
# 0.25 is ~1.2x this box's unloaded probe of ~0.2)
HEADLINE_PROBE_SEC = 0.25


def steal_probe() -> float:
    """Seconds for a fixed single-core NumPy loop — a host-contention
    probe.  On an unloaded guest this is constant; host CPU steal
    inflates it, so each run's probe documents how contended its
    measurement window was."""
    import numpy as np

    a = np.random.default_rng(0).random(2_000_000)
    t0 = time.time()
    for _ in range(40):
        a = np.sqrt(a * a + 1.0)
    return round(time.time() - t0, 3)


class ProbeSampler:
    """Samples steal_probe() every `interval` seconds on a daemon thread
    (one core — negligible perturbation of a multi-core run).

        with ProbeSampler() as ps:
            ...timed work...
        ps.mean, ps.max, ps.quiet
    """

    def __init__(self, interval: float = 10.0):
        self.interval = interval
        self.samples: list[float] = []
        # (wall-clock time at sample END, duration) — lets a caller that
        # times multiple queries under ONE sampler attribute each sample
        # to the query whose window it fell in (VERDICT r4 #1: per-query
        # probe attribution in the committed bench artifact)
        self.stamped: list[tuple[float, float]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            s = steal_probe()
            self.samples.append(s)
            self.stamped.append((time.time(), s))
            self._stop.wait(self.interval)

    def samples_between(self, t0: float, t1: float) -> list[float]:
        """Probe samples whose measurement window overlapped [t0, t1]
        (a sample stamped at its END overlaps if end >= t0 and
        end - duration <= t1)."""
        return [s for (te, s) in self.stamped if te >= t0 and te - s <= t1]

    def __enter__(self) -> "ProbeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=30)

    @property
    def mean(self) -> float | None:
        return round(sum(self.samples) / len(self.samples), 3) if self.samples else None

    @property
    def max(self) -> float | None:
        return round(max(self.samples), 3) if self.samples else None

    @property
    def quiet(self) -> bool | None:
        m = self.mean
        return None if m is None else m <= QUIET_PROBE_SEC
