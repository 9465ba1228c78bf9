"""BallistaContext-compatible client surface on a SparkSession.

Reference parity (SURVEY.md §2.C / §1.3):

- ``BallistaContext::remote/standalone`` (``ballista/client/src/context.rs:
  87-211``) → :func:`BallistaContext` over ``local[*]`` or a cluster master;
- ``.sql()`` incl. client-side DDL handling — ``CREATE EXTERNAL TABLE``
  with ``STORED AS CSV|PARQUET|AVRO|NDJSON``, ``WITH HEADER ROW``,
  ``DELIMITER``, ``PARTITIONED BY``, ``IF NOT EXISTS``, ``LOCATION``
  (``context.rs:392-459``) → translated onto ``spark.read`` + temp views;
- ``register_csv/parquet/avro/json`` (``context.rs:264-315``);
- ``SHOW TABLES`` / ``SHOW COLUMNS`` (``context.rs:317-346``) → Spark SQL
  natively;
- session settings k/v (``ballista.proto:536-559``) → ``spark.conf``;
- job control — ExecuteQuery / GetJobStatus / CancelJob
  (``ballista.proto:525-534, 585-656``) → :class:`JobHandle` over Spark
  job groups (async submit, poll, cancel).

Everything executes on Spark; this layer is the product API, not an engine.
"""

from __future__ import annotations

import re
import threading
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from arrow_ballista_spark.session import get_session
from arrow_ballista_spark.sources import readers

_EXTERNAL_TABLE_RE = re.compile(
    r"^\s*CREATE\s+EXTERNAL\s+TABLE\s+(?P<if_not_exists>IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<name>[A-Za-z_][A-Za-z0-9_]*)\s*"
    r"(?:\((?P<cols>.*?)\)\s*)?"  # lazy: tolerates DECIMAL(10,2) etc.
    r"STORED\s+AS\s+(?P<format>CSV|PARQUET|AVRO|NDJSON|JSON)\s*"
    r"(?P<header>WITH\s+HEADER\s+ROW\s*)?"
    r"(?:DELIMITER\s+'(?P<delim>[^']*)'\s*)?"
    r"(?:PARTITIONED\s+BY\s+\((?P<parts>[^)]*)\)\s*)?"
    r"LOCATION\s+'(?P<location>[^']+)'\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


# CREATE CATALOG / CREATE SCHEMA DDL (reference: CreateCatalogNode /
# CreateCatalogSchemaNode, datafusion/proto/datafusion.proto:186-203).
# Spark's in-process session catalog is single-level (databases only), so
# a DataFusion CATALOG maps to a Spark database of the same name and a
# two-part `catalog.schema` maps to the database `<catalog>__<schema>`
# (dots are illegal in Spark database names); single-part CREATE SCHEMA
# is native Spark SQL and passes straight through.
_CREATE_CATALOG_RE = re.compile(
    r"^\s*CREATE\s+CATALOG\s+(?P<if_not_exists>IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<name>[A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$",
    re.IGNORECASE,
)
_CREATE_SCHEMA_QUALIFIED_RE = re.compile(
    r"^\s*CREATE\s+SCHEMA\s+(?P<if_not_exists>IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<catalog>[A-Za-z_][A-Za-z0-9_]*)\.(?P<schema>[A-Za-z_][A-Za-z0-9_]*)"
    r"\s*;?\s*$",
    re.IGNORECASE,
)


@dataclass
class JobHandle:
    """Async query job: submit/status/cancel, mirroring the reference's
    ExecuteQuery → GetJobStatus polling → CancelJob RPC triple."""

    job_id: str
    _spark: SparkSession
    _thread: threading.Thread | None = None
    _result: list | None = None
    _error: BaseException | None = None
    _done: threading.Event = field(default_factory=threading.Event)
    # the submitted plan, kept for the monitoring surface (REST /dot,
    # /metrics need the physical plan after the job completes)
    _df: DataFrame | None = None
    # wall-clock timing for the Prometheus exposition (monitoring.py):
    # planning = sql-to-plan build inside submit(); execution = the
    # collect() span on the job thread
    _planning_ms: float = 0.0
    _t_start: float | None = None
    _t_end: float | None = None
    _cancel_requested: bool = False

    def duration_seconds(self) -> float | None:
        if self._t_start is None or self._t_end is None:
            return None
        return self._t_end - self._t_start

    def status(self) -> str:
        """RUNNING / SUCCESSFUL / FAILED / CANCELLED — the reference's
        job-status vocabulary (ballista.proto JobStatus: queued/running/
        successful/failed, plus the cancelled counter the scheduler's
        metrics track separately)."""
        if not self._done.is_set():
            return "RUNNING"
        if self._error is None:
            return "SUCCESSFUL"
        return "CANCELLED" if self._cancel_requested else "FAILED"

    def cancel(self, wait_for_start: float = 30.0) -> bool:
        """Cancel the job group: its active Spark jobs and every job it
        submits later — an adaptive query runs one Spark job per query
        stage, and cancelling only the active ones let the next stage's
        job run to completion when the first finished in between.  Waits
        for the first Spark job of this group to register (mirrors the
        reference's CancelJob, which addresses an already-queued job_id).
        Returns False if no Spark job appeared within ``wait_for_start``
        and the query is still running (e.g. the driver is still
        planning/listing files); later jobs are cancelled all the same."""
        import time

        self._cancel_requested = True
        tracker = self._spark.sparkContext.statusTracker()
        deadline = time.monotonic() + wait_for_start
        delivered = False
        while time.monotonic() < deadline and not self._done.is_set():
            if tracker.getJobIdsForGroup(self.job_id):
                delivered = True
                break
            time.sleep(0.05)
        self._spark.sparkContext._jsc.sc().cancelJobGroupAndFutureJobs(
            self.job_id
        )
        return delivered or self._done.is_set()

    def result(self, timeout: float | None = None) -> list:
        self._done.wait(timeout)
        if not self._done.is_set():
            raise TimeoutError(f"job {self.job_id} still running")
        if self._error:
            raise self._error
        return self._result  # type: ignore[return-value]


class BallistaDataFrame:
    """Reference-client DataFrame surface (``python/src/context.rs:43-120``,
    ``python/pyballista/tests/test_context.py``): ``select_columns``,
    ``limit``, Arrow-batch collection, direct parquet/CSV writers — as a
    transparent wrapper over the Spark DataFrame (every Spark method still
    works; ``.df`` is the raw handle)."""

    def __init__(self, df: DataFrame):
        self.df = df

    def __getattr__(self, name: str):
        return getattr(self.df, name)

    def select_columns(self, *cols: str) -> "BallistaDataFrame":
        return BallistaDataFrame(self.df.select(*cols))

    def limit(self, n: int) -> "BallistaDataFrame":
        return BallistaDataFrame(self.df.limit(n))

    def to_arrow_batches(self) -> list:
        """collect() in the reference python client returns pyarrow
        RecordBatches; Spark 4 exposes the same via toArrow()."""
        return self.df.toArrow().to_batches()

    def write_parquet(self, path: str, **kw) -> None:
        from arrow_ballista_spark.sources import writers

        writers.write_parquet(self.df, path, **kw)

    def write_csv(self, path: str, **kw) -> None:
        from arrow_ballista_spark.sources import writers

        writers.write_csv(self.df, path, **kw)


class BallistaContext:
    """Thin product-surface wrapper: SQL + DataFrame entry points, client
    DDL, table registry, session settings, async job control."""

    def __init__(
        self,
        master: str | None = None,
        settings: dict[str, str] | None = None,
        spark: SparkSession | None = None,
    ):
        self.spark = spark or get_session(
            app_name="ballista-context", master=master
        )
        # DataFusion-name SQL functions (strpos, date_bin, arrow_typeof, …)
        # are part of the product SQL dialect (SURVEY.md §2.B.9)
        from arrow_ballista_spark.functions.compat import (
            register_compat_functions,
        )

        register_compat_functions(self.spark)
        for k, v in (settings or {}).items():
            self.set(k, v)

    def new_session(self) -> "BallistaContext":
        """Isolated logical session: own temp-view namespace and conf,
        shared executors (reference session RPCs, ballista.proto:536-559;
        SURVEY.md §7 risk 7)."""
        return BallistaContext(spark=self.spark.newSession())

    # -- session settings (ballista.proto:536-559 k/v) ---------------------

    def set(self, key: str, value: str) -> None:
        # reference key namespace: ballista.shuffle.partitions etc.
        if key == "ballista.with_information_schema":
            # reference config.rs:43-44 — build the catalog views now
            if str(value).lower() in ("true", "1", "yes"):
                from arrow_ballista_spark.metadata import (
                    register_information_schema,
                )

                register_information_schema(self.spark)
            return
        mapped = {
            "ballista.shuffle.partitions": "spark.sql.shuffle.partitions",
            "ballista.batch.size": "spark.sql.parquet.columnarReaderBatchSize",
        }.get(key, key)
        if mapped:
            self.spark.conf.set(mapped, value)

    def get(self, key: str, default: str | None = None) -> str | None:
        try:
            return self.spark.conf.get(key)
        except Exception:
            return default

    # -- reads / registry (context.rs:214-315) -----------------------------

    def read_parquet(self, path: str, **opts: Any) -> DataFrame:
        return readers.read_parquet(self.spark, path, **opts)

    def read_csv(self, path: str, **opts: Any) -> DataFrame:
        return readers.read_csv(self.spark, path, **opts)

    def read_json(self, path: str, **opts: Any) -> DataFrame:
        return readers.read_json(self.spark, path, **opts)

    def read_avro(self, path: str, **opts: Any) -> DataFrame:
        return readers.read_avro(self.spark, path, **opts)

    def register_table(self, name: str, df: DataFrame) -> None:
        df.createOrReplaceTempView(name)

    def register_parquet(self, name: str, path: str, **opts: Any) -> None:
        self.register_table(name, self.read_parquet(path, **opts))

    def register_csv(self, name: str, path: str, **opts: Any) -> None:
        self.register_table(name, self.read_csv(path, **opts))

    def register_json(self, name: str, path: str, **opts: Any) -> None:
        self.register_table(name, self.read_json(path, **opts))

    def register_avro(self, name: str, path: str, **opts: Any) -> None:
        self.register_table(name, self.read_avro(path, **opts))

    def read_orc(self, path: str, **opts: Any) -> DataFrame:
        return readers.read_orc(self.spark, path, **opts)

    def register_orc(self, name: str, path: str, **opts: Any) -> None:
        self.register_table(name, self.read_orc(path, **opts))

    def register_udf(self, name: str, fn, return_type="string"):
        """Register a Python scalar function for SQL use (reference: the
        executor's scalar-UDF registry, ``ballista/executor/src/executor.rs:
        67-73``; plugin loading replaced by Python registration per
        SURVEY §2.B.11).  Prefer ``functions``' pandas_udf surface for hot
        paths — this row-at-a-time form is for low-volume glue."""
        return self.spark.udf.register(name, fn, return_type)

    def tables(self) -> list[str]:
        return [t.name for t in self.spark.catalog.listTables()]

    # -- SQL with client-side DDL (context.rs:356-462) ---------------------

    def sql(self, sql: str) -> DataFrame:
        m = _EXTERNAL_TABLE_RE.match(sql)
        if m:
            return self._create_external_table(m)
        m = _CREATE_CATALOG_RE.match(sql)
        if m:
            return self._create_namespace(
                m.group("name"), bool(m.group("if_not_exists"))
            )
        m = _CREATE_SCHEMA_QUALIFIED_RE.match(sql)
        if m:
            # two-part catalog.schema flattens to one Spark database (see
            # the regex comment); single-part CREATE SCHEMA is native
            # Spark SQL and never reaches this branch
            return self._create_namespace(
                f"{m.group('catalog')}__{m.group('schema')}",
                bool(m.group("if_not_exists")),
            )
        return self.spark.sql(sql)

    def _create_namespace(self, db: str, if_not_exists: bool) -> DataFrame:
        ine = "IF NOT EXISTS " if if_not_exists else ""
        self.spark.sql(f"CREATE DATABASE {ine}`{db}`")
        return self.spark.sql("SELECT 1 AS ok")

    def _create_external_table(self, m: re.Match) -> DataFrame:
        name = m.group("name")
        # Spark view names are case-insensitive; IF NOT EXISTS must be too
        if m.group("if_not_exists") and name.lower() in {
            t.lower() for t in self.tables()
        }:
            return self.spark.sql("SELECT 1 AS ok WHERE false")
        fmt = m.group("format").upper()
        opts: dict[str, Any] = {}
        schema = None
        if m.group("cols"):
            schema = _ddl_schema(m.group("cols"))
        if schema is not None and m.group("parts"):
            # reference: table_partition_cols are declared outside the
            # column list (context.rs:400-415); hive partition values are
            # strings unless cast — append them so the schema is complete
            from pyspark.sql.types import StringType, StructField

            for c in m.group("parts").split(","):
                schema = schema.add(StructField(c.strip(), StringType()))
        if fmt == "CSV":
            opts["header"] = bool(m.group("header"))
            if m.group("delim"):
                opts["sep"] = m.group("delim")
            df = readers.read_csv(
                self.spark, m.group("location"), schema=schema, **opts
            )
        elif fmt == "PARQUET":
            df = readers.read_parquet(self.spark, m.group("location"))
        elif fmt in ("NDJSON", "JSON"):
            df = readers.read_json(
                self.spark, m.group("location"), schema=schema
            )
        else:  # AVRO
            df = readers.read_avro(self.spark, m.group("location"))
        self.register_table(name, df)
        return self.spark.sql("SELECT 1 AS ok")

    # -- EXPLAIN / plan surface (ExplainNode, datafusion.proto:224-228) ----

    def explain(self, sql_or_df: str | DataFrame, mode: str = "formatted") -> str:
        from arrow_ballista_spark.plans.explain import explain_str

        df = self.sql(sql_or_df) if isinstance(sql_or_df, str) else sql_or_df
        return explain_str(df, mode)

    # -- SQL serving endpoint (flight_sql.rs:485-870 analogue) -------------

    def serve_sql(self, port: int = 10000):
        """Start the in-process JDBC endpoint over this context's catalog
        (reference: embedded FlightSQL service).  Returns the handle;
        also kept on the context for :meth:`stop_serving`."""
        from arrow_ballista_spark.serving import start_sql_server

        self.stop_serving()  # don't orphan a previous endpoint's handle
        self._sql_server = start_sql_server(self.spark, port)
        return self._sql_server

    def stop_serving(self) -> None:
        srv = getattr(self, "_sql_server", None)
        if srv is not None:
            srv.stop()
            self._sql_server = None

    # -- async job control (ballista.proto:525-656) ------------------------

    def jobs(self) -> list[dict]:
        """Submitted-job registry (reference REST ``/api/jobs``)."""
        return [
            {"job_id": h.job_id, "status": h.status()}
            for h in getattr(self, "_jobs", [])
        ]

    def submit(self, sql_or_df: str | DataFrame) -> JobHandle:
        import time

        t_plan = time.monotonic()
        df = self.sql(sql_or_df) if isinstance(sql_or_df, str) else sql_or_df
        planning_ms = (time.monotonic() - t_plan) * 1000.0
        job_id = f"job-{uuid.uuid4().hex[:12]}"
        handle = JobHandle(
            job_id=job_id, _spark=self.spark, _df=df,
            _planning_ms=planning_ms,
        )
        self._jobs = getattr(self, "_jobs", [])
        self._jobs.append(handle)

        def run() -> None:
            import time

            handle._t_start = time.monotonic()
            try:
                self.spark.sparkContext.setJobGroup(
                    job_id, f"ballista {job_id}", interruptOnCancel=True
                )
                handle._result = df.collect()
            except BaseException as e:  # noqa: BLE001 — surfaced via result()
                handle._error = e
            finally:
                handle._t_end = time.monotonic()
                handle._done.set()

        from pyspark import InheritableThread

        t = InheritableThread(target=run, session=self.spark, daemon=True)
        handle._thread = t
        t.start()
        return handle


def _ddl_schema(cols: str):
    from pyspark.sql.types import StructType

    # reference DDL types are DataFusion SQL types; common spellings map
    # 1:1, incl. parameterized ones (DECIMAL(10,2)) — fromDDL parses the
    # raw list directly
    return StructType.fromDDL(cols.strip())
