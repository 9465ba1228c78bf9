"""SparkSession factory with reference-equivalent defaults.

The reference (apache/arrow-ballista) exposes a ``BallistaContext`` whose
execution defaults are documented in ``docs/source/user-guide/configs.md``
and ``ballista/core/src/config.rs:30-48`` (shuffle partitions, batch size,
hash-join thresholds, repartition-for-parallelism flags).  In Spark those
knobs map onto ``spark.sql.shuffle.partitions``, AQE, and the broadcast
threshold — all set here once so every query in the engine runs with the
same envelope.

Scale notes (100 TB design):
 - AQE is on: runtime partition coalescing + skew-join splitting replace the
   reference's static ``ballista.shuffle.partitions=16``.
 - ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE
   re-plans.  On a real cluster raise it to ~2-3x total cores.
 - Arrow transfer is enabled for the Pandas-UDF extension operators.
 - Whole-stage codegen pays off only when compiled classes are reused.
   Spark keeps them in ``CodeGenerator``'s LRU cache, 100 classes by
   default.  One pass of ``bench.py``'s timed entries compiles 1155
   distinct classes and one ``llm_pipeline`` sweep about 130, so at 100
   every warm operation compiles its classes again in Janino.
   ``CODEGEN_CACHE_MAX_ENTRIES`` sizes the cache to twice that working
   set.  It is a static conf: it takes effect only in sessions built
   here (it travels in SparkConf, so executors on a cluster get it too);
   a vanilla session keeps Spark's 100.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: ``spark.sql.codegen.cache.maxEntries``: the next round number above
#: twice the 1155 distinct classes one pass of ``bench.py``'s timed
#: entries compiles (sf0.01, unbounded cache).  Guava splits the cap over
#: 4 segments, so each segment holds 625.
CODEGEN_CACHE_MAX_ENTRIES = 2500


def shuffle_partitions(spark: SparkSession) -> int:
    """The session's ``spark.sql.shuffle.partitions`` as an int — the
    width of the explicit spreads before CPU-heavy map stages.  Managed
    platforms set the conf to non-numeric values (``"auto"``); those
    fall back to the context's ``defaultParallelism``."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism

def get_session(
    app_name: str = "arrow-ballista-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    ui: bool | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Mirrors ``BallistaContext::standalone`` /
    ``BallistaContext::remote`` (reference
    ``ballista/client/src/context.rs:87-211``): local mode is the
    standalone substrate; pointing ``master`` at a cluster is a config
    change, not code.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    parts = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # reference: ballista.shuffle.partitions (config.rs:31); AQE re-plans
        .config("spark.sql.shuffle.partitions", str(parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # reference broadcast analogue: hash_join_single_partition_threshold
        # (config.rs:32-33) -> Spark's broadcast threshold (AQE also promotes)
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # reference collects per-partition statistics (ballista.collect_
        # statistics, config.rs:39) -> Spark CBO over ANALYZE'd tables
        .config("spark.sql.cbo.enabled", "true")
        # compiled whole-stage classes outlive one query (static conf)
        .config(
            "spark.sql.codegen.cache.maxEntries",
            str(CODEGEN_CACHE_MAX_ENTRIES),
        )
        # runtime semi-join reduction: build a bloom filter from the
        # selective side of a shuffle join and push it into the big side's
        # scan.  Engages only past the default size thresholds (10 GB
        # application-side scan), i.e. exactly the 100 TB regime — tiny
        # local runs keep their plans unchanged (mechanism pinned with
        # lowered thresholds in tests/test_plans.py).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "90g"))
        # Spark UI = the deep-inspection monitoring surface (reference serves
        # a scheduler UI on :80, ballista/scheduler/ui).  Off by default in
        # headless/test runs; enable via ui=True or SPARK_GRAFT_UI=1.  The
        # machine-readable REST facade (monitoring.py) works either way.
        .config(
            "spark.ui.enabled",
            "true"
            if (ui if ui is not None
                else os.environ.get("SPARK_GRAFT_UI", "0") == "1")
            else "false",
        )
        .config("spark.shuffle.spill.compress", "true")
        # the JDBC endpoint (serving.start_sql_server) shares this session's
        # temp-view catalog — static conf, must be set before the JVM starts
        .config("spark.sql.hive.thriftServer.singleSession", "true")
    )
    # Jar-path hook for classpath-gated features (Avro datasource, cloud FS
    # connectors — reference analogues: read_avro context.rs:223-231, the
    # object-store registry features).  Colon-separated local jar paths; a
    # deployment that vendors spark-avro_2.13-<ver>.jar here un-gates
    # sources.readers.read_avro with no code change.
    extra_jars = os.environ.get("SPARK_GRAFT_EXTRA_JARS", "")
    if extra_jars:
        b = b.config("spark.jars", ",".join(extra_jars.split(":")))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
