"""Host-speed probe for the single-threaded, CPU-bound workload.

On a shared host the speed of one core drifts by a third within minutes,
and the drift reaches pure-Python arithmetic and dict-heavy code alike
(see README.md, "Host speed"). A pass of ``taskgrid_expand`` is CPU time of
one thread, so its wall time follows that drift. The probe is a fixed piece
of pure-Python work, independent of the program, shaped like the expansion
(tuple keys, dict inserts and lookups, attribute dicts). Timed between
jobs, it tells how fast the core is running at that moment. A job time
divided by the probe time and multiplied by ``NOMINAL_S`` is the job's time
at the reference speed, the speed at which one probe takes ``NOMINAL_S``.
"""

from __future__ import annotations

import gc
import time

from .stats import median

NOMINAL_S = 0.005  # one probe at the reference speed
PROBE_NODES = 5000
REACH = 2


def _work() -> int:
    nodes: dict = {}
    for i in range(PROBE_NODES):
        nodes[('n', i % 61, i)] = {'value': i, 'kind': 'compute'}
    adj: dict = {}
    for key, attrs in nodes.items():
        parent = ('n', (key[1] + 1) % 61, key[2] ^ 1)
        if parent in nodes:
            adj.setdefault(parent, {})[key] = {'w': attrs['value'] & 7}
    return sum(len(v) for v in adj.values())


def probe() -> float:
    """Seconds one probe takes now. The collector is paused so that the
    probe's time does not depend on the size of the heap around it."""
    enabled = gc.isenabled()
    gc.disable()
    try:
        t0 = time.perf_counter()
        _work()
        return time.perf_counter() - t0
    finally:
        if enabled:
            gc.enable()


def factor(probes: list[float]) -> float:
    """Reference speed over the speed the probes measured."""
    return NOMINAL_S / median(probes)


def scaled(times: list[float], probes: list[float]) -> list[float]:
    """Job times at the reference speed. ``probes[k]`` ran just before job
    ``k`` and ``probes[k + 1]`` just after it. Job ``k`` is scaled by the
    median of the probes within REACH of it, two before and two after, so
    one disturbed probe does not move it."""
    return [t * factor(probes[max(0, k - REACH + 1):k + REACH + 1]) for k, t in enumerate(times)]
