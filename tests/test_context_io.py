"""BallistaContext surface, sources/sinks, and plan introspection."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from arrow_ballista_spark.catalog import load_table
from arrow_ballista_spark.context import BallistaContext
from arrow_ballista_spark.plans import explain
from arrow_ballista_spark.sources import readers, writers
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def ctx(spark):
    return BallistaContext(spark=spark)


def test_register_parquet_and_sql(ctx):
    ctx.register_parquet("nation_ctx", f"{SF_DIR}/nation.parquet")
    assert "nation_ctx" in ctx.tables()
    rows = ctx.sql("SELECT COUNT(*) AS n FROM nation_ctx").collect()
    assert rows[0].n == 25


def test_show_tables_and_columns(ctx):
    ctx.register_parquet("region_ctx", f"{SF_DIR}/region.parquet")
    names = {r[1] for r in ctx.sql("SHOW TABLES").collect()}
    assert "region_ctx" in names
    cols = {r[0] for r in ctx.sql("SHOW COLUMNS IN region_ctx").collect()}
    assert cols == set(load_table(ctx.spark, SF_DIR, "region").columns)


def test_create_external_table_csv_roundtrip(ctx, tmp_path):
    src = load_table(ctx.spark, SF_DIR, "region")
    path = str(tmp_path / "region_csv")
    writers.write_csv(src, path, header=True, sep="|")
    ctx.sql(
        f"CREATE EXTERNAL TABLE region_ext "
        f"STORED AS CSV WITH HEADER ROW DELIMITER '|' LOCATION '{path}'"
    )
    got = ctx.sql(
        "SELECT r_regionkey, r_name FROM region_ext ORDER BY r_regionkey"
    ).collect()
    want = src.select("r_regionkey", "r_name").orderBy("r_regionkey").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # IF NOT EXISTS on an existing name is a no-op, not an error
    ctx.sql(
        f"CREATE EXTERNAL TABLE IF NOT EXISTS region_ext "
        f"STORED AS CSV WITH HEADER ROW DELIMITER '|' LOCATION '{path}'"
    )


def test_create_external_table_with_schema(ctx, tmp_path):
    df = ctx.spark.createDataFrame(
        [(1, "a"), (2, "b")], "id INT, name STRING"
    )
    path = str(tmp_path / "typed_csv")
    writers.write_csv(df, path, header=False)
    ctx.sql(
        f"CREATE EXTERNAL TABLE typed_ext (id INT, name STRING) "
        f"STORED AS CSV LOCATION '{path}'"
    )
    got = ctx.sql("SELECT * FROM typed_ext ORDER BY id").collect()
    assert [tuple(r) for r in got] == [(1, "a"), (2, "b")]


def test_json_roundtrip(ctx, tmp_path):
    src = load_table(ctx.spark, SF_DIR, "nation").select(
        "n_nationkey", "n_name"
    )
    path = str(tmp_path / "nation_json")
    writers.write_json(src, path)
    back = readers.read_json(ctx.spark, path)
    assert back.count() == 25
    assert set(back.columns) == {"n_nationkey", "n_name"}


def test_partitioned_write_and_pruning(ctx, tmp_path):
    src = load_table(ctx.spark, SF_DIR, "nation")
    path = str(tmp_path / "nation_part")
    writers.write_partitioned(src, path, ["n_regionkey"])
    back = readers.read_parquet(ctx.spark, path).filter(
        F.col("n_regionkey") == 2
    )
    plan = explain.explain_str(back)
    assert "PartitionFilters" in plan and "n_regionkey" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    assert back.count() == src.filter("n_regionkey = 2").count()


def test_avro_roundtrip_or_gate(ctx, tmp_path):
    """Avro write -> read roundtrip when the classes are on the classpath
    (this image bundles them in spark-sql without the DataSourceRegister
    entry, so resolution falls back to the fully-qualified class); in a
    genuinely jar-stripped environment the documented gate error raises
    instead.  Deployments can also vendor spark-avro via
    SPARK_GRAFT_EXTRA_JARS (session.get_session wires spark.jars)."""
    if not readers.avro_available(ctx.spark):
        with pytest.raises(Exception):
            readers.read_avro(ctx.spark, str(tmp_path / "nope"))
        return
    path = str(tmp_path / "region_avro")
    region = load_table(ctx.spark, SF_DIR, "region")
    readers.write_avro(region, path)
    back = readers.read_avro(ctx.spark, path)
    assert sorted(r.r_name for r in back.collect()) == sorted(
        r.r_name for r in region.collect()
    )


def test_session_settings(ctx):
    ctx.set("ballista.shuffle.partitions", "8")
    assert ctx.get("spark.sql.shuffle.partitions") == "8"
    ctx.set("ballista.shuffle.partitions", "32")


def test_async_job_success(ctx):
    ctx.register_parquet("orders_ctx", f"{SF_DIR}/orders.parquet")
    h = ctx.submit("SELECT o_orderstatus, COUNT(*) FROM orders_ctx GROUP BY 1")
    rows = h.result(timeout=120)
    assert h.status() == "SUCCESSFUL"
    assert len(rows) >= 1


def test_async_job_cancel(ctx):
    import time

    @F.udf("long")
    def slow(x):
        time.sleep(60)
        return x

    heavy = ctx.spark.range(64).repartition(32).select(
        F.sum(slow(F.col("id")))
    )
    h = ctx.submit(heavy)
    h.cancel()
    with pytest.raises(Exception):
        h.result(timeout=120)
    assert h.status() == "CANCELLED"


def test_explain_modes(ctx):
    df = ctx.sql("SELECT 1 AS one")
    s = ctx.explain(df)
    assert "Physical Plan" in s


def test_plan_report_pushdown(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    df = li.filter(F.col("l_quantity") < 5).select("l_orderkey", "l_quantity")
    rep = explain.plan_report(df)
    assert any("l_quantity" in f for f in rep["pushed_filters"])
    # column pruning: scan reads only the two referenced columns
    assert rep["read_schemas"] and all(
        "l_comment" not in s for s in rep["read_schemas"]
    )


def test_ballista_dataframe_wrapper(ctx, tmp_path):
    from arrow_ballista_spark.context import BallistaDataFrame

    ctx.register_parquet("nation_bdf", f"{SF_DIR}/nation.parquet")
    bdf = BallistaDataFrame(ctx.sql("SELECT * FROM nation_bdf"))
    two = bdf.select_columns("n_nationkey", "n_name").limit(5)
    assert two.count() == 5  # Spark methods delegate
    batches = two.to_arrow_batches()
    assert sum(b.num_rows for b in batches) == 5
    assert batches[0].schema.names == ["n_nationkey", "n_name"]
    out = str(tmp_path / "nation_out")
    two.write_parquet(out)
    assert ctx.read_parquet(out).count() == 5


def test_jobs_registry(ctx):
    before = len(ctx.jobs())
    h = ctx.submit("SELECT 1 AS one")
    h.result(timeout=60)
    js = ctx.jobs()
    assert len(js) == before + 1
    assert js[-1]["job_id"] == h.job_id
    assert js[-1]["status"] == "SUCCESSFUL"


@pytest.mark.slow
def test_cli_one_shot():
    """python -m arrow_ballista_spark -e ... (ballista-cli analogue)."""
    import subprocess
    import sys

    r = subprocess.run(
        [
            sys.executable,
            "-m",
            "arrow_ballista_spark",
            "-e",
            "SELECT 21 * 2 AS answer",
        ],
        capture_output=True,
        text=True,
        timeout=180,
        cwd="/root/repo",
    )
    assert r.returncode == 0
    assert "42" in r.stdout


def test_describe_table(ctx):
    ctx.register_parquet("nation_desc", f"{SF_DIR}/nation.parquet")
    rows = ctx.sql("DESCRIBE nation_desc").collect()
    cols = {r.col_name: r.data_type for r in rows}
    assert cols.get("n_nationkey") in ("int", "bigint")
    assert cols.get("n_name") == "string"


def test_analyze_table_stats(ctx, tmp_path):
    """ANALYZE TABLE + cost-mode stats (ref AnalyzeNode, datafusion.
    proto:219-223): statistics computed on a saved table surface in the
    optimized plan's cost annotations."""
    import shutil

    src = load_table(ctx.spark, SF_DIR, "nation")
    ctx.spark.sql("DROP TABLE IF EXISTS nation_saved")
    wh = ctx.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/nation_saved", ignore_errors=True)
    src.write.mode("overwrite").saveAsTable("nation_saved")
    ctx.sql("ANALYZE TABLE nation_saved COMPUTE STATISTICS FOR ALL COLUMNS")
    ctx.spark.conf.set("spark.sql.cbo.enabled", "true")
    cost = explain.explain_str(
        ctx.sql("SELECT n_name FROM nation_saved WHERE n_nationkey < 5"),
        "cost",
    )
    assert "Statistics" in cost and "rowCount" in cost
    ctx.spark.sql("DROP TABLE nation_saved")


def test_information_schema_views(spark):
    """information_schema.tables/columns parity with the reference's
    with_information_schema catalog (config.rs:43-44)."""
    from arrow_ballista_spark.catalog import register_tables
    from arrow_ballista_spark.metadata import register_information_schema

    register_tables(spark, SF_DIR)
    register_information_schema(spark)
    tabs = {
        r.table_name
        for r in spark.sql(
            "SELECT table_name FROM information_schema.tables"
        ).collect()
    }
    assert {"region", "nation", "lineitem", "documents"} <= tabs
    cols = spark.sql(
        "SELECT column_name, data_type, is_nullable "
        "FROM information_schema.columns WHERE table_name = 'nation' "
        "ORDER BY ordinal_position"
    ).collect()
    assert [c.column_name for c in cols][:2] == ["n_nationkey", "n_name"]
    assert cols[0].data_type in ("int", "bigint")


def test_with_information_schema_setting(spark):
    """ballista.with_information_schema=true builds the catalog views
    through the product settings surface (config.rs:43-44)."""
    from arrow_ballista_spark.context import BallistaContext

    ctx = BallistaContext(spark=spark)
    ctx.register_parquet("infoset_nation", f"{SF_DIR}/nation.parquet")
    ctx.set("ballista.with_information_schema", "true")
    names = {
        r.table_name
        for r in ctx.sql(
            "SELECT table_name FROM information_schema.tables"
        ).collect()
    }
    assert "infoset_nation" in names


def test_bucketed_join_runs_without_shuffle(spark):
    """write_bucketed co-location: two tables bucketed on the same key and
    count join with ZERO exchanges — the shuffle was paid once at write
    time (the durable version of the reference's retained shuffle files)."""
    from arrow_ballista_spark.catalog import load_table
    from arrow_ballista_spark.plans.explain import num_exchanges
    from arrow_ballista_spark.sources.writers import write_bucketed

    cust = load_table(spark, SF_DIR, "customer")
    orders = load_table(spark, SF_DIR, "orders")
    write_bucketed(cust, "bkt_customer", ["c_custkey"], num_buckets=8,
                   sort_cols=["c_custkey"])
    write_bucketed(
        orders.withColumnRenamed("o_custkey", "c_custkey"),
        "bkt_orders", ["c_custkey"], num_buckets=8,
        sort_cols=["c_custkey"],
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bkt_customer").join(
            spark.table("bkt_orders"), "c_custkey"
        )
        assert num_exchanges(joined) == 0, "bucketed join must not shuffle"
        assert joined.count() > 0
        # same key non-bucketed baseline DOES shuffle
        plain = cust.join(
            orders, cust.c_custkey == orders.o_custkey
        )
        assert num_exchanges(plain) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bkt_customer")
        spark.sql("DROP TABLE IF EXISTS bkt_orders")


def test_orc_roundtrip_with_pushdown(ctx, tmp_path):
    """ORC write -> read roundtrip; filter pushdown must reach the ORC
    scan (beyond-reference format, free via Spark's vectorized reader)."""
    nation = load_table(ctx.spark, SF_DIR, "nation")
    path = str(tmp_path / "nation_orc")
    writers.write_orc(nation, path, target_files=2)
    back = readers.read_orc(ctx.spark, path)
    assert back.count() == nation.count()
    filtered = back.where(F.col("n_regionkey") == 2).select("n_name")
    plan = explain.explain_str(filtered, "formatted")
    assert "PushedFilters: [" in plan and "n_regionkey" in plan
    assert sorted(r.n_name for r in filtered.collect()) == sorted(
        r.n_name
        for r in nation.where(F.col("n_regionkey") == 2).collect()
    )


def test_compact_dataset_reduces_files_preserves_rows(ctx, tmp_path):
    """Small-file compaction: 16 tiny files -> few right-sized ones, same
    rows; a second compaction at the same target is a near-no-op."""
    from arrow_ballista_spark.operators import maintenance

    src = load_table(ctx.spark, SF_DIR, "orders")
    path = str(tmp_path / "orders_frag")
    src.repartition(16).write.parquet(path)
    before = maintenance.dataset_stats(ctx.spark, path, suffix=".parquet")
    assert before.n_files == 16
    target = max(1, before.total_bytes // 2)  # aim for ~2 files
    after = maintenance.compact_dataset(ctx.spark, path, target)
    assert after.n_files < before.n_files
    assert abs(after.total_bytes - before.total_bytes) < before.total_bytes
    assert ctx.spark.read.parquet(path).count() == src.count()


def test_text_and_binary_file_sources(ctx, tmp_path):
    """text source: one row per line / per file; binaryFile source: (path,
    length, content) rows with glob pushdown — the multimodal ingest path."""
    d = tmp_path / "raw"
    d.mkdir()
    (d / "a.txt").write_text("line one\nline two\n")
    (d / "b.txt").write_text("solo\n")
    (d / "c.bin").write_bytes(b"\x00\x01\x02")

    lines = readers.read_text(ctx.spark, str(d / "*.txt"))
    assert sorted(r.value for r in lines.collect()) == [
        "line one", "line two", "solo",
    ]
    whole = readers.read_text(ctx.spark, str(d / "*.txt"), whole_text=True)
    assert whole.count() == 2

    bins = readers.read_binary_files(ctx.spark, str(d), glob="*.bin")
    rows = bins.collect()
    assert len(rows) == 1
    assert rows[0].length == 3 and bytes(rows[0].content) == b"\x00\x01\x02"


def test_context_orc_and_udf_registration(ctx, tmp_path):
    """Context-level ORC register + SQL-visible Python UDF (reference:
    executor scalar-UDF registry, executor.rs:67-73)."""
    nation = load_table(ctx.spark, SF_DIR, "nation")
    path = str(tmp_path / "nation_orc_ctx")
    writers.write_orc(nation, path)
    ctx.register_orc("nation_orc", path)
    assert "nation_orc" in ctx.tables()
    ctx.register_udf("shout", lambda s: s.upper() + "!", "string")
    row = ctx.sql(
        "SELECT shout(n_name) AS x FROM nation_orc WHERE n_nationkey = 0"
    ).collect()[0]
    assert row.x == "NATION_0!"


def test_binary_file_ingest_to_multimodal_features(ctx, tmp_path):
    """END-TO-END multimodal ingest: binaryFile source -> (id, blob)
    columns -> Arrow-batched feature extraction + frame sampling.  This is
    the real 100 TB media path: files land as opaque binary rows, features
    are map-only mapInPandas, frames explode 1->N inside Arrow batches."""
    import hashlib as _hl

    from arrow_ballista_spark.operators import multimodal

    d = tmp_path / "media"
    d.mkdir()
    payloads = {i: bytes(range(10)) * (30 * (i + 1)) for i in range(3)}
    for i, b in payloads.items():
        (d / f"{i}.bin").write_bytes(b)

    raw = readers.read_binary_files(ctx.spark, str(d), glob="*.bin")
    blobs = raw.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("content").alias("blob"),
    )
    feats = {
        r.doc_id: (r.n_bytes, r.sha_hex)
        for r in multimodal.extract_blob_features(blobs).collect()
    }
    assert feats == {
        i: (len(b), _hl.sha256(b).hexdigest()) for i, b in payloads.items()
    }
    frames = multimodal.sample_frames(blobs, frame_size=128)
    per_doc = {
        r.doc_id: r.n for r in frames.groupBy("doc_id")
        .agg(F.count("*").alias("n")).collect()
    }
    assert per_doc == {
        i: -(-len(b) // 128) for i, b in payloads.items()
    }


def test_load_table_directory_layout(ctx, tmp_path):
    """catalog.load_table must accept Spark-written DIRECTORY parquet
    (part files), not just the driver's single-file layout — replicas and
    compaction output are directories."""
    from arrow_ballista_spark.catalog import load_table

    src = load_table(ctx.spark, SF_DIR, "events")
    d = str(tmp_path / "events.parquet")
    src.write.parquet(d)
    back = load_table(ctx.spark, str(tmp_path), "events")
    assert back.count() == src.count()
    assert dict(back.dtypes)["ts"] == "timestamp_ntz"


@pytest.mark.slow
def test_package_shipped_to_python_workers(tmp_path):
    """Python-executed operators (UDTF, Python DataSource, stateful
    streaming) pickle their functions BY REFERENCE to engine modules; a
    driver session launched from an arbitrary cwd (the external driver, a
    real cluster) must still let workers import them.  catalog's
    _configure_reader ships the package via addPyFile — verify end-to-end
    from a subprocess whose cwd is NOT the repo root."""
    import subprocess
    import sys

    script = tmp_path / "foreign_cwd_driver.py"
    script.write_text(
        "import sys\n"
        "sys.path.insert(0, '/root/repo')\n"
        "from pyspark.sql import SparkSession\n"
        "spark = (SparkSession.builder.master('local[2]')\n"
        "         .appName('foreign-cwd').getOrCreate())\n"
        "from arrow_ballista_spark.queries import load_all\n"
        "reg = load_all()\n"
        "out = reg['ext_udtf_word_positions'].spark(spark, '%s')\n"
        "assert out.count() > 0\n"
        "print('WORKER_IMPORT_OK')\n" % SF_DIR
    )
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "WORKER_IMPORT_OK" in proc.stdout, (
        f"stdout={proc.stdout[-2000:]}\nstderr={proc.stderr[-2000:]}"
    )


def test_convert_tbl_roundtrip(ctx, tmp_path):
    """tpch-convert parity (tpch.rs:731-800): pipe-delimited .tbl with
    trailing delimiter -> parquet with named columns, repartitioned."""
    from arrow_ballista_spark.catalog import load_table
    from arrow_ballista_spark.sources.convert import convert_dataset

    nat = load_table(ctx.spark, SF_DIR, "nation")
    rows = nat.collect()
    tbl = tmp_path / "nation.tbl"
    with open(tbl, "w") as f:
        for r in rows:
            f.write(f"{r.n_nationkey}|{r.n_name}|{r.n_regionkey}|\n")
    out = str(tmp_path / "nation_parquet")
    n = convert_dataset(
        ctx.spark, str(tbl), out,
        file_format="parquet", partitions=2,
        columns=["n_nationkey", "n_name", "n_regionkey"],
    )
    assert n == len(rows)
    back = ctx.spark.read.parquet(out)
    assert set(back.columns) == {"n_nationkey", "n_name", "n_regionkey"}
    assert back.count() == len(rows)
    got = {(r.n_nationkey, r.n_name, r.n_regionkey) for r in back.collect()}
    want = {(str(r.n_nationkey), r.n_name, str(r.n_regionkey)) for r in rows}
    assert got == want


@pytest.mark.slow
def test_convert_cli(tmp_path):
    """The --convert CLI flag end-to-end in a subprocess."""
    import subprocess
    import sys

    tbl = tmp_path / "t.tbl"
    tbl.write_text("1|a|\n2|b|\n")
    out = str(tmp_path / "t_out")
    proc = subprocess.run(
        [sys.executable, "-m", "arrow_ballista_spark",
         "--convert", str(tbl), out, "--columns", "id,name",
         "--format", "parquet"],
        capture_output=True, text=True, timeout=300, cwd="/root/repo",
    )
    assert "converted 2 rows" in proc.stdout, (proc.stdout, proc.stderr[-800:])


def test_load_table_partitioned_layout_converts_ns(ctx, tmp_path):
    """The ns-timestamp probe must find part files nested under
    hive-style partition dirs (partitionBy layout has no top-level
    *.parquet) — written with REAL timestamp[ns] columns via pyarrow."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from arrow_ballista_spark.catalog import load_table

    d = tmp_path / "events.parquet"
    for part in (0, 1):
        sub = d / f"part={part}"
        sub.mkdir(parents=True)
        tbl = pa.table(
            {
                "event_id": pa.array([part * 10, part * 10 + 1], pa.int64()),
                "ts": pa.array(
                    [1700000000_000000000 + part, 1700000100_000000000],
                    pa.timestamp("ns"),
                ),
            }
        )
        papq.write_table(tbl, sub / "data.parquet")
    back = load_table(ctx.spark, str(tmp_path), "events")
    assert back.count() == 4
    # without the recursive probe the ns column stays a raw bigint
    assert dict(back.dtypes)["ts"] == "timestamp_ntz"


def test_create_catalog_and_schema_ddl(ctx):
    """CREATE CATALOG / CREATE SCHEMA round-trip (reference:
    CreateCatalogNode / CreateCatalogSchemaNode,
    datafusion/proto/datafusion.proto:186-203).  Spark's session catalog
    is single-level: a CATALOG maps to a database, `catalog.schema`
    flattens to `catalog__schema`, single-part CREATE SCHEMA is native."""
    spark = ctx.spark
    for db in ("cat4", "cat4__sch", "plainschema4"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    try:
        assert ctx.sql("CREATE CATALOG cat4").collect()[0].ok == 1
        # idempotent with IF NOT EXISTS, error without
        ctx.sql("CREATE CATALOG IF NOT EXISTS cat4").collect()
        with pytest.raises(Exception):
            ctx.sql("CREATE CATALOG cat4").collect()
        ctx.sql("CREATE SCHEMA IF NOT EXISTS cat4.sch").collect()
        ctx.sql("CREATE SCHEMA plainschema4").collect()  # native passthrough
        dbs = {r.namespace for r in spark.sql("SHOW DATABASES").collect()}
        assert {"cat4", "cat4__sch", "plainschema4"} <= dbs
        # tables resolve inside the created namespace
        spark.sql(
            "CREATE TABLE cat4__sch.t AS SELECT 42 AS answer"
        )
        assert ctx.sql("SELECT answer FROM cat4__sch.t").collect()[0][0] == 42
    finally:
        for db in ("cat4", "cat4__sch", "plainschema4"):
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_csv_inference_multifile_headers_and_multiline(spark, tmp_path):
    """Inference must go through the csv reader itself: a text-line sample
    (a) swallows later files' header rows as data, downgrading numeric
    columns to string, and (b) splits quoted multiline records.  The
    reader options (here multiLine — off by default: multiline files are
    not splittable at scale) must reach the inference sample too."""
    d = tmp_path / "csvdir"
    d.mkdir()
    # the multiline record sits in the FIRST file, the one inference reads
    (d / "part-0.csv").write_text('n,s\n1,"line one\nline two"\n2,plain\n')
    (d / "part-1.csv").write_text("n,s\n3,other\n4,more\n")
    df = readers.read_csv(spark, str(d), multiLine=True)
    assert dict(df.dtypes)["n"] == "int", df.dtypes
    rows = {r.n: r.s for r in df.collect()}
    assert rows[1] == "line one\nline two"
    assert set(rows) == {1, 2, 3, 4}

    # default options: per-file headers must not land as data rows (the
    # old text-line sample downgraded n to string past file 0)
    d2 = tmp_path / "csvdir2"
    d2.mkdir()
    for i in range(3):
        (d2 / f"part-{i}.csv").write_text(f"n,s\n{i},x{i}\n")
    df2 = readers.read_csv(spark, str(d2))
    assert dict(df2.dtypes)["n"] == "int", df2.dtypes
    assert {r.n for r in df2.collect()} == {0, 1, 2}


def test_csv_inference_skips_empty_first_file(spark, tmp_path):
    """Shuffle outputs routinely produce a header-only part-00000; if the
    inference sample stops there, every column infers as string for the
    whole dataset.  Inference must walk to the first file with data."""
    d = tmp_path / "csvdir3"
    d.mkdir()
    (d / "part-00000.csv").write_text("n,s\n")  # header only, no rows
    (d / "part-00001.csv").write_text("n,s\n7,seven\n8,eight\n")
    df = readers.read_csv(spark, str(d))
    assert dict(df.dtypes)["n"] == "int", df.dtypes
    assert {r.n for r in df.collect()} == {7, 8}
