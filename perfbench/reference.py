"""The host-speed reference: a fixed pure-Python task the benchmark times
between the loop's operations.

The benchmark runs on a shared host whose speed drifts by a third or more
between runs a few minutes apart, for the Python driver and the JVM alike.
Dividing an operation's time by the reference's time in the same run cancels
that drift; what is left is the engine's cost in reference units. The task
builds and sorts small tuples and dicts, the kind of work the engine's
driver-side planning does, and never touches the engine or Spark.
"""

from __future__ import annotations

import statistics
import time

# calls per burst; a burst's median drops a call that a pause happened to hit
BURST = 3

_ROWS = [(f"f-{i:05d}", i, i * 7 % 13, f"{i % 97:03d}") for i in range(2000)]


def task() -> int:
    acc = 0
    for _ in range(8):
        groups: dict[str, list[tuple[str, int]]] = {}
        for name, n, m, k in _ROWS:
            groups.setdefault(k, []).append((name, n * m))
        for k in sorted(groups):
            acc += sum(x for _, x in groups[k]) % 1009
    return acc


def burst() -> float:
    """Seconds one task takes now: the median of ``BURST`` timed calls."""
    times = []
    for _ in range(BURST):
        t0 = time.perf_counter()
        task()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)
