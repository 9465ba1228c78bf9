"""The benchmark's workloads: what one operation is, how it is checked.

``llm_pipeline`` runs data-pipeline registry entries through the engine's
DataFrame entry points (``QueryDef.spark`` then ``collect``, or a parquet
sink for the two write entries).  ``flight_serving`` sends SQL requests
from a ``pyarrow.flight`` client to ``serving.start_flight_server``.

Every operation is compared with a reference answer that DuckDB computes
from the same parquet files before set-up starts.  Each workload is run as
seeded shuffled sweeps: one sweep holds every operation kind of the
workload in fixed proportions, so every run sees the same mix.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
from py4j.protocol import Py4JError

from check import arrow_hash, value_hash

SHUFFLE_WRITE = ("shuffleBytesWritten",)
SHUFFLE_READ = ("localBytesRead", "remoteBytesRead")


@dataclass
class Op:
    """One operation of a sweep; ``key`` names its reference answer."""

    kind: str
    key: str
    params: dict = field(default_factory=dict)


@dataclass
class Outcome:
    """Result of one attempt: answer hash plus per-layer counters."""

    digest: str | None = None
    layers: dict = field(default_factory=dict)
    kind: str = ""


# -- plan and job counters ---------------------------------------------------


def _walk_final(node):
    """Every node of an executed plan, following AQE's final stages.

    After the action has run, ``finalPhysicalPlan`` returns the plan AQE
    settled on without executing anything again; ``initialPlan`` would
    show the unexecuted pre-AQE nodes, whose counters are all zero."""
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _walk_final(children.apply(i))
    for attr in ("plan", "finalPhysicalPlan"):
        try:
            sub = getattr(node, attr)()
        except Py4JError:  # the node has no such accessor
            continue
        yield from _walk_final(sub)


def plan_counters(df) -> dict:
    """Shuffle, spill and scan counters of an already-executed DataFrame."""
    out = {"shuffle_write": 0, "shuffle_read": 0, "spill": 0, "scan_rows": 0}
    seen = set()
    for node in _walk_final(df._jdf.queryExecution().executedPlan()):
        if node.id() in seen:
            continue
        seen.add(node.id())
        scan = node.nodeName().startswith("Scan")
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key, value = str(kv._1()), int(kv._2().value())
            if key in SHUFFLE_WRITE:
                out["shuffle_write"] += value
            elif key in SHUFFLE_READ:
                out["shuffle_read"] += value
            elif key == "spillSize":
                out["spill"] += value
            elif scan and key == "numOutputRows":
                out["scan_rows"] += value
    return out


def job_counters(tracker, job_ids) -> dict:
    stages = tasks = 0
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None:
                stages += 1
                tasks += st.numTasks
    return {"jobs": len(job_ids), "stages": stages, "tasks": tasks}


def _dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under a sink directory, markers excluded."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def duckdb_views(sf_dir: str):
    import duckdb

    from arrow_ballista_spark.catalog import ALL_TABLES

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in ALL_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _duck_hash(con, sql: str, params=None, arrow: bool = False) -> str:
    """Reference hash; ``arrow`` hashes as :func:`arrow_hash` does."""
    cur = con.execute(sql, params) if params is not None else con.execute(sql)
    if arrow:
        return arrow_hash(cur.arrow())
    return value_hash([c[0] for c in cur.description], cur.fetchall())


# -- llm_pipeline -------------------------------------------------------------


class LlmPipeline:
    """Data-pipeline registry entries; two of them end in a parquet sink."""

    name = "llm_pipeline"
    # The first sweep of a fresh JVM takes twice as long as a warm one and
    # the second is still ~15% slower than the third; two warm sweeps put
    # the measured ones on the flat part of that curve.
    WARM_SWEEPS = 2
    SWEEP_S = 6.5  # one warm sweep on a 4-core host, see run.measured_sweeps
    MIN_SWEEPS = 1
    COLLECT = (
        "ext_dedup_clusters",        # eager driver planning (union-find)
        "ext_dedup_editdist",        # Python-kernel execution
        "ext_multimodal_jpeg_stats",  # codec kernel
    )
    WRITES = {
        "ext_shard_pack": None,              # sources.writers.write_parquet
        "ext_merge_upsert": "bucket",        # sources.writers.write_partitioned
    }

    def __init__(self, sf_dir: str, work_dir: str):
        from arrow_ballista_spark.queries import load_all

        self.sf_dir = sf_dir
        self.out_dir = os.path.join(work_dir, "sink")
        self.registry = load_all()
        self.refs: dict[str, str] = {}

    def references(self, con, ops=()) -> None:
        """DuckDB answer of every entry (``ops`` adds nothing here)."""
        for name in self.COLLECT:
            self.refs[name] = _duck_hash(con, self.registry[name].oracle)
        for name in self.WRITES:  # read back from parquet as Arrow
            self.refs[name] = _duck_hash(con, self.registry[name].oracle, arrow=True)

    def reference(self, op: Op) -> str:
        return self.refs[op.key]

    def start(self, spark) -> None:
        self.spark = spark

    def sweep(self, rng: np.random.Generator) -> list[Op]:
        kinds = [*self.COLLECT, *self.WRITES]
        return [Op(k, k) for k in rng.permutation(kinds)]

    def run(self, op: Op, op_id: int, tracer, traced: bool) -> Outcome:
        from pyspark.sql import functions as F

        from arrow_ballista_spark.operators.caching import release_caches
        from arrow_ballista_spark.sources import writers

        sc = self.spark.sparkContext
        qd = self.registry[op.kind]
        sink = self.WRITES.get(op.kind, False)
        path = os.path.join(self.out_dir, f"op{op_id}")
        lay: dict = {}
        with tracer.op(op_id, op.kind) as root:
            with tracer.span("caching.release", op_id):
                t0 = time.perf_counter()
                release_caches()
                lay["release_s"] = time.perf_counter() - t0
            sc.setJobGroup(f"op{op_id}.build", op.kind)
            with tracer.span("queries.build", op_id):
                t0 = time.perf_counter()
                df = qd.spark(self.spark, self.sf_dir)
                lay["build_s"] = time.perf_counter() - t0
            sc.setJobGroup(f"op{op_id}.exec", op.kind)
            if sink is False:
                with tracer.span("exec.action", op_id):
                    t0 = time.perf_counter()
                    rows = df.collect()
                    lay["action_s"] = time.perf_counter() - t0
            elif sink is None:
                with tracer.span("sources.write", op_id):
                    t0 = time.perf_counter()
                    writers.write_parquet(df, path)
                    lay["write_s"] = time.perf_counter() - t0
            else:
                df = df.withColumn(sink, F.pmod(F.col("o_orderkey"), F.lit(4)))
                with tracer.span("sources.write", op_id):
                    t0 = time.perf_counter()
                    writers.write_partitioned(df, path, [sink])
                    lay["write_s"] = time.perf_counter() - t0
            sc.setJobGroup("perfbench", "between operations")
        lay["op_s"] = root["end"] - root["start"]
        lay.update(root.get("counters", {}))
        if sink is False:
            digest = value_hash(df.columns, rows)
            lay["rows"] = len(rows)
        else:
            import pyarrow.dataset as ds

            table = ds.dataset(path, format="parquet", partitioning="hive").to_table()
            digest = arrow_hash(table, drop=(sink,) if sink else ())
            lay["rows"] = table.num_rows
            lay["files"], lay["bytes_written"] = _dir_stats(path)
            shutil.rmtree(path, ignore_errors=True)
        if traced:
            tr = sc.statusTracker()
            build = tr.getJobIdsForGroup(f"op{op_id}.build")
            ex = tr.getJobIdsForGroup(f"op{op_id}.exec")
            lay["jobs_build"] = len(build)
            lay.update(job_counters(tr, list(build) + list(ex)))
            if sink is False:
                lay.update(plan_counters(df))
        return Outcome(digest=digest, layers=lay)

    def stop(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)


# -- flight_serving -----------------------------------------------------------

_POINT_ORDERS = (
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
    "o_orderpriority FROM orders WHERE o_orderkey = {k}"
)
_POINT_CUSTOMER = (
    "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
    "FROM customer WHERE c_custkey = {k}"
)
_SMALL_AGG = (
    "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty, "
    "SUM(l_extendedprice) AS price, MIN(l_discount) AS dmin, MAX(l_tax) AS tmax "
    "FROM lineitem WHERE l_shipdate >= TIMESTAMP '{d0}' "
    "AND l_shipdate < TIMESTAMP '{d1}' AND l_suppkey % 10 = {s} "
    "GROUP BY l_returnflag, l_linestatus"
)
_PREPARED = (
    "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders "
    "WHERE o_custkey = ? AND o_totalprice > ?"
)
_EXTRACT = (
    "SELECT l_orderkey, l_partkey, l_suppkey, l_quantity, l_extendedprice, "
    "l_shipdate FROM lineitem WHERE l_orderkey % 3 = {r}"
)


class FlightServing:
    """Arrow Flight requests: point lookups, small aggregates, prepared
    statements bound with ``do_put``, and a one-third ``lineitem`` extract."""

    name = "flight_serving"
    # requests of each kind in one sweep.  The grouped aggregate (a
    # shuffle) is the slowest kind, about twice the others, which overlap;
    # two of twelve puts p90 inside the aggregates, not on their edge.
    MIX = {"point_orders": 4, "point_customer": 2, "prepared": 2,
           "small_agg": 2, "extract": 2}
    # Request latency falls steeply for the first few sweeps as the JVM
    # compiles the hot path (median 220 ms in sweeps 1-3, 155 ms in 4-9)
    # and slowly after that (135 ms in 10-12, 110-120 ms after 15); six
    # warm sweeps (~10 s) take out the steep part.
    WARM_SWEEPS = 6
    SWEEP_S = 1.6
    # 9 sweeps = 108 requests, so p90 always has ten samples beyond it
    MIN_SWEEPS = 9

    def __init__(self, sf_dir: str, work_dir: str):
        import pyarrow.parquet as pq

        self.sf_dir = sf_dir
        n = lambda t: pq.ParquetFile(os.path.join(sf_dir, f"{t}.parquet")).metadata.num_rows  # noqa: E731
        self.n_orders, self.n_customer = n("orders"), n("customer")
        self.refs: dict[str, str] = {}
        self._con = None

    # requests --------------------------------------------------------------
    def _make(self, kind: str, rng: np.random.Generator) -> Op:
        if kind == "point_orders":
            sql = _POINT_ORDERS.format(k=int(rng.integers(0, self.n_orders)))
        elif kind == "point_customer":
            sql = _POINT_CUSTOMER.format(k=int(rng.integers(0, self.n_customer)))
        elif kind == "small_agg":
            start = np.datetime64("1995-01-01") + np.timedelta64(int(rng.integers(0, 72)) * 30, "D")
            sql = _SMALL_AGG.format(d0=start, d1=start + np.timedelta64(90, "D"),
                                    s=int(rng.integers(0, 10)))
        elif kind == "extract":
            sql = _EXTRACT.format(r=int(rng.integers(0, 3)))
        else:
            args = [int(rng.integers(0, self.n_customer)),
                    float(rng.integers(0, 4) * 100000)]
            return Op(kind, json.dumps([_PREPARED, args]), {"sql": _PREPARED, "args": args})
        return Op(kind, sql, {"sql": sql, "args": None})

    def sweep(self, rng: np.random.Generator) -> list[Op]:
        kinds = [k for k, n in self.MIX.items() for _ in range(n)]
        return [self._make(k, rng) for k in rng.permutation(kinds)]

    def references(self, con, ops=()) -> None:
        """DuckDB answers of ``ops``; later requests are answered lazily."""
        self._con = con
        for op in ops:
            self.reference(op)

    def reference(self, op: Op) -> str:
        if op.key not in self.refs:
            self.refs[op.key] = _duck_hash(self._con, op.params["sql"], op.params["args"],
                                           arrow=True)
        return self.refs[op.key]

    # server ------------------------------------------------------------------
    def start(self, spark) -> None:
        import pyarrow.flight as flight

        from arrow_ballista_spark.serving import start_flight_server

        self.spark = spark
        self.server = start_flight_server(spark, port=0)
        self.client = flight.FlightClient(self.server.location)
        body = json.dumps({"query": _PREPARED}).encode()
        res = next(iter(self.client.do_action(flight.Action("create_prepared_statement", body))))
        self.handle = res.body.to_pybytes()
        self.tracker = spark.sparkContext.statusTracker()
        self.next_job = 0
        self._new_jobs()

    def _new_jobs(self) -> list[int]:
        """Job ids started since the last call (ids are sequential)."""
        new = []
        while self.tracker.getJobInfo(self.next_job) is not None:
            new.append(self.next_job)
            self.next_job += 1
        return new

    def run(self, op: Op, op_id: int, tracer, traced: bool) -> Outcome:
        import pyarrow as pa
        import pyarrow.flight as flight

        args = op.params["args"]
        lay: dict = {}
        if traced:
            self._new_jobs()  # skip jobs of untraced or failed requests
        with tracer.op(op_id, op.kind) as root:
            if args is None:
                desc = flight.FlightDescriptor.for_command(op.params["sql"].encode())
            else:
                desc = flight.FlightDescriptor.for_command(self.handle)
                batch = pa.table({"custkey": pa.array([args[0]], pa.int64()),
                                  "price": pa.array([args[1]], pa.float64())})
                with tracer.span("serving.prepared_bind", op_id):
                    t0 = time.perf_counter()
                    writer, _ = self.client.do_put(desc, batch.schema)
                    writer.write_table(batch)
                    writer.close()
                    lay["bind_s"] = time.perf_counter() - t0
            with tracer.span("serving.flight_info", op_id):
                t0 = time.perf_counter()
                info = self.client.get_flight_info(desc)
                lay["info_s"] = time.perf_counter() - t0
            with tracer.span("serving.do_get", op_id):
                t0 = time.perf_counter()
                table = self.client.do_get(info.endpoints[0].ticket).read_all()
                lay["do_get_s"] = time.perf_counter() - t0
        lay["op_s"] = root["end"] - root["start"]
        lay.update(root.get("counters", {}))
        lay["rows"] = table.num_rows
        digest = arrow_hash(table)
        if traced:
            lay["bytes"] = table.nbytes
            lay.update(job_counters(self.tracker, self._new_jobs()))
            # the same statement straight through the session, no Flight
            t0 = time.perf_counter()
            df = self.spark.sql(op.params["sql"], args=args) if args else self.spark.sql(op.params["sql"])
            df.toArrow()
            lay["direct_s"] = time.perf_counter() - t0
            lay.update(plan_counters(df))
            self._new_jobs()
        return Outcome(digest=digest, layers=lay)

    def stop(self) -> None:
        server = getattr(self, "server", None)
        if server is not None:
            self.client.close()
            server.stop()
            self.server = None


WORKLOADS = {w.name: w for w in (LlmPipeline, FlightServing)}
