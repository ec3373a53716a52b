"""Spark-free tests of the benchmark's own metric code.

Run from the root of a checkout: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import layers  # noqa: E402
from metrics import (  # noqa: E402
    OpLog,
    Py4jCounter,
    latency_summary,
    nearest_rank,
    tail_percentile,
    throughput,
    wal_bytes_per_write,
)
from spans import _option_str  # noqa: E402


def test_tail_percentile_leaves_ten_samples_beyond():
    for n in (21, 30, 100, 1000):
        xs = list(range(n))
        tail = nearest_rank(xs, tail_percentile(n))
        assert sum(x > tail for x in xs) == 10
    assert tail_percentile(100) == 90.0
    assert tail_percentile(1000) == 99.0


def test_tail_percentile_small_samples_report_the_maximum():
    for n in (1, 5, 10, 11, 20):
        assert tail_percentile(n) == 100.0
        assert nearest_rank(list(range(n)), tail_percentile(n)) == n - 1
    with pytest.raises(ValueError):
        tail_percentile(0)


def test_latency_summary_median_and_tail():
    s = latency_summary([float(x) for x in range(1, 41)])
    assert s["n"] == 40 and s["p50"] == 20.5
    assert s["tail_pct"] == 75.0 and s["tail"] == 30.0
    assert latency_summary([])["n"] == 0


def test_failed_operations_count_and_miss_every_latency():
    log = OpLog()
    for i in range(24):
        log.ok("read", 1.0 + i / 100)
    log.fail("read")
    log.ok("write", 0.5)
    assert (log.attempted, log.failures, log.completed()) == (26, 1, 25)
    reads = latency_summary(log.latencies_of({"read"}))
    assert reads["n"] == 25
    # the failure sits beyond every completed read
    assert nearest_rank(sorted(log.latencies_of({"read"})), 100.0) == math.inf
    assert throughput(log.completed(), 5.0) == 5.0
    with pytest.raises(ValueError):
        throughput(1, 0.0)


class _FakeClient:
    def __init__(self):
        self.sent = []

    def send_command(self, command, retry=True, binary=False):
        self.sent.append(command)
        return "ok"


def test_py4j_counter_skips_memory_release_commands():
    client = _FakeClient()
    counter = Py4jCounter()
    counter.install(client)
    assert client.send_command("c\no1\nfoo\ne\n") == "ok"
    client.send_command("m\nd\no7\ne\n")  # GC of a JavaObject proxy
    client.send_command("r\nu\norg\ne\n", retry=False)
    assert counter.count == 2
    assert len(client.sent) == 3
    counter.uninstall()
    client.send_command("c\no1\nbar\ne\n")
    assert counter.count == 2
    assert "send_command" not in vars(client)


def test_wal_bytes_are_the_whole_file_per_write():
    # the WAL is rewritten whole, so each write costs the file's full size
    assert wal_bytes_per_write([171, 260, 349, 438]) == 304.5
    assert wal_bytes_per_write([]) == 0.0


def test_option_string_parsing_keeps_only_bench_labels():
    class Opt:
        def __init__(self, text):
            self.text = text

        def toString(self):
            return self.text

    assert _option_str(Opt("Some(bench:session:3:engine.read.path)")) == \
        "bench:session:3:engine.read.path"
    assert _option_str(Opt("Some(other job)")) is None
    assert _option_str(Opt("None")) is None


def test_benchmark_json_lists_the_measured_metrics():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(layers.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} \
        == layers.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} \
        == layers.per_layer_units()
    assert len(bench["per_layer"]) <= 128
    names = [m["name"] for key in ("workloads", "end_to_end", "per_layer")
             for m in bench[key]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n)
               for n in names)
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_generated_data_is_deterministic():
    a, b = datagen.tables(), datagen.tables()
    assert a.keys() == b.keys()
    assert all(a[t].equals(b[t]) for t in a)
    assert a["lineitem"].num_rows == datagen.N_LINEITEM
    assert a["embeddings"].num_rows == datagen.N_EMBEDDINGS
