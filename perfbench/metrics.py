"""Spark-free metric arithmetic for the benchmark.

Everything here is pure Python so `test_metrics.py` can pin it without a
JVM: the tail-percentile rule, failure accounting, the py4j round-trip
counter's command filter, and the WAL growth arithmetic.
"""

from __future__ import annotations

import math
import statistics
import threading
from dataclasses import dataclass, field

# a timing's tail is the highest percentile with at least this many
# samples beyond it
TAIL_BEYOND = 10

# py4j's memory-release command ("m\nd\n<id>\ne\n"): sent when Python
# garbage-collects a JavaObject proxy, so its count follows GC timing and
# not the work an operation asks of the JVM
PY4J_MEMORY_PREFIX = "m\n"


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail_percentile(n: int) -> float:
    """The highest percentile of `n` samples with at least TAIL_BEYOND
    samples beyond it, by nearest rank: the sample at 0-based rank
    n - TAIL_BEYOND - 1 has exactly TAIL_BEYOND samples above it, and the
    percentile whose nearest rank lands there is 100 * (n - TAIL_BEYOND) / n.

    Below 2 * TAIL_BEYOND samples that percentile is at or under the
    median and describes no tail; the rule then reports the maximum
    (percentile 100), so the figure is always a tail and always defined."""
    if n <= 0:
        raise ValueError("tail_percentile needs at least one sample")
    if n <= 2 * TAIL_BEYOND:
        return 100.0
    return 100.0 * (n - TAIL_BEYOND) / n


def nearest_rank(sorted_values: list[float], pct: float) -> float:
    """The nearest-rank percentile of an ascending list."""
    if not sorted_values:
        raise ValueError("nearest_rank needs at least one sample")
    rank = max(1, math.ceil(round(pct / 100.0 * len(sorted_values), 9)))
    return float(sorted_values[min(rank, len(sorted_values)) - 1])


def latency_summary(latencies: list[float]) -> dict:
    """Median and rule tail of one operation class. Failed operations are
    passed in as +inf so they count as missing every latency figure."""
    xs = sorted(latencies)
    if not xs:
        return {"n": 0, "p50": 0.0, "tail": 0.0, "tail_pct": 0.0}
    pct = tail_percentile(len(xs))
    return {"n": len(xs), "p50": median(xs), "tail": nearest_rank(xs, pct),
            "tail_pct": round(pct, 3)}


@dataclass
class OpLog:
    """Outcome of every timed operation of a run, in issue order."""

    kinds: list[str] = field(default_factory=list)
    latencies: list[float] = field(default_factory=list)
    failures: int = 0

    def ok(self, kind: str, seconds: float) -> None:
        self.kinds.append(kind)
        self.latencies.append(seconds)

    def fail(self, kind: str) -> None:
        self.kinds.append(kind)
        self.latencies.append(math.inf)
        self.failures += 1

    @property
    def attempted(self) -> int:
        return len(self.latencies)

    def completed(self) -> int:
        return self.attempted - self.failures

    def latencies_of(self, kinds) -> list[float]:
        kinds = set(kinds)
        return [x for k, x in zip(self.kinds, self.latencies) if k in kinds]


def throughput(completed: int, window_s: float) -> float:
    """Completed operations per second of the timed window."""
    if window_s <= 0:
        raise ValueError("throughput needs a positive window")
    return completed / window_s


class Py4jCounter:
    """Counts py4j round-trips by wrapping a gateway client's
    `send_command`, skipping memory-release commands. Install once per
    client; `count` is cumulative, so callers take differences."""

    def __init__(self) -> None:
        self.count = 0
        self._lock = threading.Lock()
        self._client = None
        self._orig = None

    def note(self, command) -> None:
        if isinstance(command, str) and command.startswith(PY4J_MEMORY_PREFIX):
            return
        with self._lock:
            self.count += 1

    def install(self, client) -> None:
        orig = client.send_command

        def send_command(command, *args, **kwargs):
            self.note(command)
            return orig(command, *args, **kwargs)

        self._client, self._orig = client, orig
        client.send_command = send_command

    def uninstall(self) -> None:
        if self._client is not None:
            del self._client.send_command
            self._client = self._orig = None


def wal_bytes_per_write(sizes: list[int]) -> float:
    """Median bytes written to the WAL per journaled write.

    The WAL is one JSON file rewritten whole on every write, so the bytes
    one write costs are the file's whole size after it, not its growth.
    `sizes` lists the file size after each write, in order."""
    return median(sizes)

