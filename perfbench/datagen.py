"""Deterministic fixture generator for the benchmark.

Writes the ten tables the package reads (`neumann_spark.catalog.TABLES`)
as one parquet file each, with the column names, types and value ranges
of the repository's star-schema fixtures (FIXTURES.md): a TPC-H-shaped
relational core, an `events` stream, `documents` with ~5% seeded
near-duplicates for dedup, and 64-d unit `embeddings` with a weak label
structure. Sizes match the sf0.01 fixtures, except `embeddings`, which
has the 2,000 rows of the sf0.1 fixture.

The corpus depends only on DATA_SEED, never on a workload seed: every
run of every workload reads the same data, and the workload seed picks
which operations run against it.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# bump when the generated data changes, so stale cached copies are rebuilt
DATA_VERSION = "v1"

N_CUSTOMER = 1_500
N_SUPPLIER = 100
N_PART = 2_000
N_ORDERS = 15_000
N_LINEITEM = 60_000
N_EVENTS = 10_000
N_USERS = N_CUSTOMER // 10
N_DOCUMENTS = 500
N_EMBEDDINGS = 2_000
DIM = 64

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "zh", "es", "de", "fr")
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()

_US_PER_DAY = 86_400 * 1_000_000
_DAY_1995 = 9_131  # 1995-01-01 in days since the epoch
_DAY_2024 = 19_723  # 2024-01-01


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, first_day: int, span_days: int, n: int) -> pa.Array:
    days = _DAY_1995 + first_day + rng.integers(0, span_days, n)
    return pa.array(days.astype(np.int64) * _US_PER_DAY, pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def tables(seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """The generated corpus, one Arrow table per fixture name."""
    rng = np.random.default_rng(seed)
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), i32),
        "r_name": list(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % len(REGIONS) for i in range(25)], i32)})
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(N_CUSTOMER), i64),
        "c_name": _names("Customer", N_CUSTOMER),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMER)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(N_SUPPLIER), i64),
        "s_name": _names("Supplier", N_SUPPLIER),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER)})
    out["part"] = pa.table({
        "p_partkey": pa.array(range(N_PART), i64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   rng.integers(0, 8, (N_PART, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": [PART_TYPES[t] for t in rng.integers(0, 6, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
        "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) / 10, 1)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(N_ORDERS), i64),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), i64),
        "o_orderstatus": [("F", "O", "P")[s] for s in
                          rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _dates(rng, 0, 2_404, N_ORDERS),
        "o_orderpriority": [PRIORITIES[p] for p in
                            rng.integers(0, 5, N_ORDERS)]})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), i64),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), i64),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), i32),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, N_LINEITEM),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": [("A", "N", "R")[f] for f in
                         rng.integers(0, 3, N_LINEITEM)],
        "l_linestatus": [("F", "O")[s] for s in rng.integers(0, 2, N_LINEITEM)],
        "l_shipdate": _dates(rng, 1, 2_499, N_LINEITEM)})
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, N_EVENTS))
    out["events"] = pa.table({
        "event_id": pa.array(range(N_EVENTS), i64),
        "ts": pa.array(_DAY_2024 * _US_PER_DAY + ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), i64),
        "event_type": [EVENT_TYPES[e] for e in rng.integers(0, 5, N_EVENTS)],
        "value": _money(rng, 0.01, 500.0, N_EVENTS),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})
    out["documents"] = _documents(rng)
    out["embeddings"] = _embeddings(rng)
    return out


def _documents(rng) -> pa.Table:
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate: a prefix of an earlier document plus a marker,
            # so MinHash dedup has shared-shingle pairs to find
            src = texts[int(rng.integers(0, i))].split()
            keep = max(8, int(len(src) * rng.uniform(0.8, 1.0)))
            texts.append(" ".join(src[:keep] + ["dup"]))
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[w] for w in
                                  rng.integers(0, len(WORDS), n)))
    lang_p = np.array([0.44, 0.14, 0.14, 0.14, 0.14])
    return pa.table({
        "doc_id": pa.array(range(N_DOCUMENTS), pa.int64()),
        "text": texts,
        "lang": [LANGS[x] for x in rng.choice(5, N_DOCUMENTS, p=lang_p)],
        "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _embeddings(rng) -> pa.Table:
    labels = rng.integers(0, 10, N_EMBEDDINGS)
    centers = rng.standard_normal((10, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    x = rng.standard_normal((N_EMBEDDINGS, DIM)) / np.sqrt(DIM)
    x += 0.15 * centers[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(N_EMBEDDINGS), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def publish(out_dir: str, fill) -> str:
    """Create `out_dir` through `fill(tmp_dir)` and a rename, so a partly
    written copy is never read; an existing complete copy is reused."""
    if os.path.isdir(out_dir):
        return out_dir
    tmp = f"{out_dir}.tmp{os.getpid()}"
    os.makedirs(tmp)
    fill(tmp)
    os.rename(tmp, out_dir)
    return out_dir


def write(out_dir: str, seed: int = DATA_SEED) -> str:
    """Write the corpus under `out_dir`, one `<table>.parquet` file each."""

    def fill(tmp: str) -> None:
        for name, table in tables(seed).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))

    return publish(out_dir, fill)


def write_layout(data_dir: str, out_dir: str, files: int) -> str:
    """A multi-file copy of the corpus: each `<table>.parquet` becomes a
    directory of up to `files` parts, so scans run one task per file
    instead of one per table (each source file is a single row group)."""

    def fill(tmp: str) -> None:
        for name in sorted(os.listdir(data_dir)):
            table = pq.read_table(os.path.join(data_dir, name))
            parts = max(1, min(files, table.num_rows))
            step = -(-table.num_rows // parts)
            os.makedirs(os.path.join(tmp, name))
            for i in range(parts):
                pq.write_table(table.slice(i * step, step),
                               os.path.join(tmp, name, f"part-{i:05d}.parquet"))

    return publish(out_dir, fill)
