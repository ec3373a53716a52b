"""Spans and Spark counters recorded from outside the program.

A traced run wraps every timed operation in a root span (one trace id
per operation) and each call into a layer in a child span. It also
labels the operation's Spark jobs `bench:<workload>:<seq>:<entry>`,
counts py4j round-trips per span, and after the run attributes jobs,
executor time and shuffle bytes to operations with one pass over
Spark's status store. Spans stay in memory until `dump`.

An untraced run uses the same object with `enabled=False`: spans are
still timed (the workloads read their latencies from them) but no job
label is set and no py4j call is counted.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from metrics import Py4jCounter


@dataclass
class Span:
    name: str
    trace_id: int
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0
    py4j_calls: int = 0

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class StageTotals:
    """Spark work attributed to one job label."""

    jobs: int = 0
    exec_run_s: float = 0.0
    exec_cpu_s: float = 0.0
    shuffle_bytes: int = 0


@dataclass
class Tracer:
    spark: object
    workload: str
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _py4j: Py4jCounter = field(default_factory=Py4jCounter)

    def __post_init__(self) -> None:
        if self.enabled:
            self._py4j.install(self.spark.sparkContext._gateway._gateway_client)

    def label(self, seq: int, entry: str) -> str:
        return f"bench:{self.workload}:{seq}:{entry}"

    @contextmanager
    def op(self, seq: int, entry: str):
        """Root span of one operation; its jobs carry the operation label."""
        sc = self.spark.sparkContext
        if self.enabled:
            sc.setJobDescription(self.label(seq, entry))
        try:
            with self._span(entry, trace_id=seq) as s:
                yield s
        finally:
            if self.enabled:
                sc.setJobDescription(None)

    @contextmanager
    def span(self, name: str):
        """Child span of the open operation."""
        with self._span(name, trace_id=self._stack[-1].trace_id) as s:
            yield s

    @contextmanager
    def _span(self, name: str, trace_id: int):
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(name, trace_id, len(self.spans), parent, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        calls0 = self._py4j.count
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.py4j_calls = self._py4j.count - calls0
            self._stack.pop()

    def stage_totals(self) -> dict[str, StageTotals]:
        """Jobs, executor time and shuffle bytes per job label, from
        one pass over the status store (works with the UI disabled)."""
        if not self.enabled:
            return {}
        jvm = self.spark._jvm
        store = self.spark._jsc.sc().statusStore()
        out: dict[str, StageTotals] = {}
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            label = _option_str(jobs.apply(i).description())
            if label is not None:
                out.setdefault(label, StageTotals()).jobs += 1
        no_quantiles = self.spark.sparkContext._gateway.new_array(jvm.double, 0)
        stages = store.stageList(None, False, False, no_quantiles, None)
        for i in range(stages.size()):
            st = stages.apply(i)
            label = _option_str(st.description())
            if label is None:
                continue
            t = out.setdefault(label, StageTotals())
            t.exec_run_s += st.executorRunTime() / 1e3
            t.exec_cpu_s += st.executorCpuTime() / 1e9
            t.shuffle_bytes += st.shuffleWriteBytes()
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([{"name": s.name, "trace_id": s.trace_id,
                        "span_id": s.span_id, "parent": s.parent,
                        "start": s.start, "end": s.end,
                        "py4j_calls": s.py4j_calls} for s in self.spans], fh)

    def close(self) -> None:
        self._py4j.uninstall()


def _option_str(opt) -> str | None:
    """A Scala Option[String] read in one py4j call: `Some(x)` or `None`."""
    text = opt.toString()
    if text.startswith("Some(") and text.endswith(")"):
        value = text[5:-1]
        return value if value.startswith("bench:") else None
    return None
