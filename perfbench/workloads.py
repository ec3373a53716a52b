"""The workloads: what each sets up, runs and checks.

Each workload is a closed loop from one client: the next operation is
issued only after the previous one returned its rows. A workload runs
in whole rounds with a fixed structure, so every run's latency figures
cover the same mix of operations; the seed picks the statements.

- `analytics`: the 12 headline queries of every engine and one ANN search
  from a saved index, read-only, on a multi-file copy of the data (one
  file per task thread). Driver-side job scheduling and executor
  compute; never touches the engine's result cache or its WAL.
- `session`: command-language statements through
  `NeumannSparkEngine.execute`, 13 reads and 5 writes per round, with the
  WAL armed. Router dispatch, the result cache and its invalidation, and
  WAL rewrites.
"""

from __future__ import annotations

import gc
import math
import os
import random
import time

import datagen
from layers import ANN_QUERY, HEADLINE_MODULES, query_entry
from metrics import OpLog, latency_summary, wal_bytes_per_write

HEADLINE = tuple(HEADLINE_MODULES)


class Workload:
    """Shared loop: set-up repetitions, rounds of operations, checks."""

    name = ""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.rng = random.Random(f"{self.name}:{ctx.seed}")
        self.log = OpLog()
        self.calls: dict[str, list] = {}  # entry -> root spans
        self.seq = 0
        self.problems: list[str] = []

    def bootstrap(self) -> None:
        """Untimed first set-up: the JVM compiles the set-up's code paths
        here, so the timed repetitions measure a warm set-up."""
        self.setup("warm")

    def setup(self, rep: int) -> dict[str, float]:
        """One repetition of the program's set-up; timed for `setup_s`.
        The last repetition's state serves the timed window."""
        raise NotImplementedError

    def begin(self) -> None:
        """Untimed, after the set-ups and before the window."""

    def round(self) -> None:
        raise NotImplementedError

    def check(self) -> None:
        """Untimed output checks; append a line to `problems` per failure."""

    def layer_metrics(self) -> dict[str, float]:
        return {}

    def timed_op(self, kind: str, entry: str, work) -> object:
        """Run `work(tracer)` as one timed operation; a raised error counts
        as a failed operation and the loop continues."""
        tracer = self.ctx.tracer
        seq, self.seq = self.seq, self.seq + 1
        try:
            with tracer.op(seq, entry) as span:
                result = work(tracer)
        except Exception as e:  # noqa: BLE001 — one failed op must not end the run
            self.log.fail(kind)
            self.problems.append(f"{entry} #{seq} failed: {e!r}"[:300])
            return None
        self.log.ok(kind, span.wall)
        self.calls.setdefault(entry, []).append(span)
        return result

    def read_latencies(self) -> list[float]:
        return self.log.latencies


# -- analytics ---------------------------------------------------------------


class Analytics(Workload):
    name = "analytics"

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        from neumann_spark.registry import all_oracles, all_queries

        queries, oracles = all_queries(), all_oracles()
        self.fns = {q: queries[q] for q in HEADLINE}
        self.oracles = {q: oracles[q] for q in (*HEADLINE, ANN_QUERY)}
        self.ann_index: tuple = ()
        self.dir = ""
        self.keep: set[int] = set()
        self.outputs: dict = {}  # query -> rows of its last timed run

    def bootstrap(self) -> None:
        from neumann_spark.pipeline.ann import load_ann_index, save_ann_index

        # the first run in a checkout builds and saves the index (about
        # 35 s); building it per run would cost that every run
        path = datagen.publish(
            f"{self.ctx.data_dir}-ann",
            lambda tmp: save_ann_index(self.spark, self.ctx.data_dir, tmp))
        self.ann_index = load_ann_index(self.spark, path)
        super().bootstrap()

    def setup(self, rep) -> dict[str, float]:
        from neumann_spark.graph.model import edges_df, nodes_df

        # each repetition writes its own multi-file copy of the data (one
        # file per task thread), then derives the graph from it: the graph is
        # derived once per data directory
        t0 = time.perf_counter()
        layout = datagen.write_layout(
            self.ctx.data_dir, os.path.join(self.ctx.run_dir, f"layout-{rep}"),
            self.ctx.cores)
        t1 = time.perf_counter()
        nodes_df(self.spark, layout).count()
        edges_df(self.spark, layout).count()
        t2 = time.perf_counter()
        self.dir = layout
        self.keep = self._persistent_ids()
        return {"catalog.layout_s": t1 - t0, "graph.model.derive_s": t2 - t1}

    def _persistent_ids(self) -> set[int]:
        jmap = self.spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    def _release(self) -> None:
        """Drop what a query left cached (iterative queries checkpoint per
        round), keeping the derived graph: leaked blocks otherwise compete
        with shuffle memory and slow later queries."""
        gc.collect()
        jmap = self.spark.sparkContext._jsc.getPersistentRDDs()
        for k in jmap.keySet().toArray():
            if int(k) not in self.keep:
                jmap.get(k).unpersist(False)

    def round(self) -> None:
        # A fixed order: the queries take no arguments, and the first runs
        # after set-up pay the JVM's remaining JIT work, so a shuffled order
        # would move that cost between queries from seed to seed.
        for q in HEADLINE:
            self._query(q, self.fns[q])
        self._query(ANN_QUERY, self._ann_search)

    def _query(self, q: str, fn) -> None:
        def work(tracer):
            with tracer.span("plan"):
                df = fn(self.spark, self.dir)
            with tracer.span("collect"):
                return df.toPandas()

        rows = self.timed_op(q, query_entry(q), work)
        if rows is not None:
            self.outputs[q] = rows
        self._release()

    def _ann_search(self, spark, sf_dir: str):
        """`ann_ivfpq_rescore` over the loaded index: the registry function
        would build the index in the session first."""
        from neumann_spark.catalog import load
        from neumann_spark.pipeline.ann import _ivfpq_rescore_search

        return _ivfpq_rescore_search(load(spark, sf_dir, "embeddings"),
                                     *self.ann_index)

    def check(self) -> None:
        """Hash-compare each query's rows from the last round with its
        DuckDB oracle over the same data (`tools/selfcheck.py` hashing)."""
        import selfcheck

        con = selfcheck.make_duck(self.ctx.data_dir)
        try:
            for q, got in self.outputs.items():
                want = con.execute(self.oracles[q]).fetchdf()
                if sorted(got.columns) != sorted(want.columns):
                    self.problems.append(
                        f"{q}: columns {sorted(got.columns)} != oracle "
                        f"{sorted(want.columns)}")
                elif len(got) != len(want) or (
                        selfcheck.value_hash(got) != selfcheck.value_hash(want)):
                    self.problems.append(f"{q}: rows differ from the oracle "
                                         f"({len(got)} vs {len(want)} rows)")
        finally:
            con.close()


# -- session -----------------------------------------------------------------

SESSION_TABLE = "bench_items"
SESSION_TABLE_ROWS = 20

# One round: five bursts of reads, each ended by a journaled write of
# one kind. The "repeat" slot re-issues its burst's first read, which the
# result cache serves. Other reads are drawn from skewed pools, so a
# statement often recurs in a later burst; the engine clears its whole
# cache on every write, so such a recurrence misses today and would hit
# under a narrower invalidation. The structure is fixed; the seed picks
# the statements.
BURSTS = ((("select", "neighbors", "similar"), "node"),
          (("path", "repeat", "select"), "edge"),
          (("similar", "neighbors"), "embed"),
          (("select", "find", "similar"), "insert"),
          (("neighbors", "select"), "update"))


# a statement's draw weight is 1 / its rank in its pool
ZIPF_WEIGHTS = [1.0 / (rank + 1) for rank in range(25)]


def _read_pools(rng: random.Random, data_dir: str) -> dict[str, list[str]]:
    """25 distinct reads per kind; the statements of one kind cost about
    the same, so the seed changes which run, not how much work a round
    is. 125 in all, four times the engine's 32-entry result cache."""
    import pyarrow.parquet as pq

    customer = pq.read_table(os.path.join(data_dir, "customer.parquet"))
    by_nation: dict[int, list[int]] = {}
    for cust, n in zip(customer["c_custkey"].to_pylist(),
                       customer["c_nationkey"].to_pylist()):
        by_nation.setdefault(n, []).append(cust)
    pairs = []
    while len(pairs) < 25:
        # two customers of one nation: a two-hop path always exists
        group = by_nation[rng.randrange(25)]
        pairs.append(tuple(rng.sample(group, 2)))
    customers = range(datagen.N_CUSTOMER)
    return {
        "select": [
            "SELECT o_orderpriority, COUNT(*) AS n, "
            "ROUND(SUM(o_totalprice), 2) AS total FROM orders "
            f"WHERE o_custkey % 50 = {r} "
            "GROUP BY o_orderpriority ORDER BY o_orderpriority"
            for r in range(25)],
        "neighbors": [f"NEIGHBORS '{c}'" for c in rng.sample(customers, 25)],
        "path": [f"PATH SHORTEST {a} -> {b} MAX 3" for a, b in pairs],
        "similar": [f"SIMILAR '{k}' TOP 10" for k in
                    rng.sample(range(datagen.N_EMBEDDINGS), 25)],
        "find": [f'FIND docs SIMILAR TO "{k}" TOP 5 CONNECTED TO {c}'
                 for k, c in zip(rng.sample(customers, 25),
                                 rng.sample(customers, 25))],
    }


class Session(Workload):
    name = "session"

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.pools = _read_pools(self.rng, ctx.data_dir)
        self.write_no = 0
        self.engine = None
        self.snap = ""
        self.created_nodes: list[int] = []
        self.expect: dict[str, int] = {}
        self.wal_sizes: list[int] = []
        self.hits = 0
        self.recover_s = 0.0

    def setup(self, rep) -> dict[str, float]:
        from neumann_spark.engine import NeumannSparkEngine

        self.snap = os.path.join(self.ctx.run_dir, f"snapshot-{rep}")
        t0 = time.perf_counter()
        eng = NeumannSparkEngine(self.spark, self.ctx.data_dir)
        eng.execute(f"SAVE '{self.snap}'").collect()
        t1 = time.perf_counter()
        self.engine = eng
        return {"engine.init_s": t1 - t0}

    def _state(self, eng) -> dict[str, int]:
        """Live counts through the command language."""
        nodes = eng.execute("FIND NODES").count()
        edges = eng.execute("FIND EDGES").count()
        embs = eng.execute("COUNT EMBEDDINGS").collect()[0]["count"]
        row = eng.execute(f"SELECT COUNT(*) AS n, SUM(qty) AS q "
                          f"FROM {SESSION_TABLE}").collect()[0]
        return {"nodes": nodes, "edges": edges, "embeddings": int(embs),
                "rows": int(row["n"]), "qty": int(row["q"] or 0)}

    def begin(self) -> None:
        eng = self.engine
        # one untimed read of each kind first, so the window's reads run
        # on warm plans; the journaled writes below clear what it cached
        for pool in self.pools.values():
            eng.execute(pool[0]).collect()
        # the session table is journaled like every later write, so the
        # recovery check replays it too
        eng.execute(f"CREATE TABLE {SESSION_TABLE} "
                    "(id INT, grp INT, qty INT)").collect()
        rows = ", ".join(f"({i}, {i % 4}, {i})"
                         for i in range(SESSION_TABLE_ROWS))
        eng.execute(f"INSERT INTO {SESSION_TABLE} VALUES {rows}").collect()
        self.expect = self._state(eng)

    def _wal_size(self) -> int:
        return os.path.getsize(os.path.join(self.snap, "wal.json"))

    def _vector(self) -> list[float]:
        v = [self.rng.gauss(0.0, 1.0) for _ in range(datagen.DIM)]
        norm = math.sqrt(sum(x * x for x in v))
        return [round(x / norm, 6) for x in v]

    def _write(self, kind: str) -> None:
        self.write_no += 1
        n = self.write_no
        if kind == "node":
            cmd = f"NODE CREATE person {{name: 'user{n}'}}"
        elif kind == "edge":
            if len(self.created_nodes) >= 2:
                a, b = self.rng.sample(self.created_nodes, 2)
            else:
                a, b = self.rng.sample(range(datagen.N_CUSTOMER), 2)
            cmd = f"EDGE CREATE {a} -> {b} : knows"
        elif kind == "embed":
            vec = ",".join(str(x) for x in self._vector())
            cmd = f"EMBED 'sess:{n}' [{vec}]"
        elif kind == "insert":
            rid = SESSION_TABLE_ROWS + n
            cmd = (f"INSERT INTO {SESSION_TABLE} VALUES "
                   f"({rid}, {rid % 4}, {n % 7})")
        else:
            rid = self.rng.randrange(SESSION_TABLE_ROWS)
            cmd = f"UPDATE {SESSION_TABLE} SET qty = qty + 1 WHERE id = {rid}"
        rows = self._timed_command("write", f"engine.write.{kind}", cmd)
        if rows is None:
            return
        self.wal_sizes.append(self._wal_size())
        if kind == "node":
            self.created_nodes.append(int(rows[0]["id"]))
            self.expect["nodes"] += 1
        elif kind == "edge":
            self.expect["edges"] += 1
        elif kind == "embed":
            self.expect["embeddings"] += 1
        elif kind == "insert":
            self.expect["rows"] += 1
            self.expect["qty"] += n % 7
        else:
            self.expect["qty"] += 1

    def _timed_command(self, op_kind: str, entry: str, cmd: str):
        eng = self.engine

        def work(tracer):
            with tracer.span("engine.execute"):
                out = eng.execute(cmd)
            with tracer.span("collect"):
                return out.collect()

        return self.timed_op(op_kind, entry, work)

    def round(self) -> None:
        for reads, write in BURSTS:
            first = None
            for kind in reads:
                if kind == "repeat":
                    kind, cmd = first
                else:
                    cmd = self.rng.choices(self.pools[kind], ZIPF_WEIGHTS)[0]
                    first = first or (kind, cmd)
                # observed, not assumed: the cache decides what it serves
                self.hits += cmd in self.engine._cache
                self._timed_command("read", f"engine.read.{kind}", cmd)
                self._collect_garbage()
            self._write(write)
            self._collect_garbage()

    @staticmethod
    def _collect_garbage() -> None:
        # between operations, so py4j's release of collected JVM proxies
        # is not timed inside the next one
        gc.collect()

    def read_latencies(self) -> list[float]:
        return self.log.latencies_of({"read"})

    def check(self) -> None:
        from neumann_spark.engine import NeumannSparkEngine

        live = self._state(self.engine)
        if live != self.expect:
            self.problems.append(f"live state {live} != expected {self.expect}")
        t0 = time.perf_counter()
        fresh = NeumannSparkEngine(self.spark, self.ctx.data_dir)
        fresh.execute(f"LOAD '{self.snap}' RECOVER").collect()
        self.recover_s = time.perf_counter() - t0
        recovered = self._state(fresh)
        if recovered != self.expect:
            self.problems.append(
                f"recovered state {recovered} != expected {self.expect}")

    def layer_metrics(self) -> dict[str, float]:
        w = latency_summary(self.log.latencies_of({"write"}))
        reads = len(self.log.latencies_of({"read"}))
        return {
            "engine.write_latency_p50_s": w["p50"],
            "engine.write_latency_tail_s": w["tail"],
            "engine.cache_hit_ratio": self.hits / max(reads, 1),
            "engine.wal_bytes_per_write": wal_bytes_per_write(self.wal_sizes),
            "engine.recover_s": self.recover_s,
        }


WORKLOADS = {w.name: w for w in (Analytics, Session)}
