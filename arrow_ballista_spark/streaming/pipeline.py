"""Structured Streaming pipelines over the events table.

The reference is batch-only — no watermarks, unbounded sources, or state
store anywhere in its tree (SURVEY.md §2.B.10, ``ExecutionMode::Bounded``,
``shuffle_writer.rs:138``).  Streaming is therefore a deliberate
Spark-side extension: the same event-time window aggregations the batch
suite runs (queries/windows.py) re-expressed as incremental plans, plus a
custom stateful operator via ``applyInPandasWithState``.

Correctness strategy: every streaming pipeline here has a batch twin; the
test suite runs the stream with ``trigger(availableNow=True)`` into a
memory sink and asserts the result equals the batch DataFrame — the
strongest check available without a live unbounded source.

Scale notes: state is keyed and partitioned by the grouping key (user_id /
window), so state size is O(active keys), not O(events); watermarks bound
state retention for late data; file sources at 100 TB use
``maxFilesPerTrigger`` to cap micro-batch size.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)

from arrow_ballista_spark.types import local_frame


def events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the events parquet (schema pinned from the
    batch read; ns timestamps converted exactly like catalog.load_table)."""
    # load-bearing: sets nanosAsLong/UTC confs so the streaming parquet
    # read below accepts TIMESTAMP(NANOS) (same configs as the batch path)
    from arrow_ballista_spark.catalog import _configure_reader

    _configure_reader(spark)
    path = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(path).schema
    # the file source requires a directory path: single-file driver
    # layout glob-filters inside the dir; DIRECTORY layout (Spark-written
    # part files) streams the directory itself — the leaf-name glob would
    # silently match nothing
    r = spark.readStream.schema(raw_schema)
    stream_path = path if os.path.isdir(path) else sf_dir
    if not os.path.isdir(path):
        r = r.option("pathGlobFilter", "events.parquet")
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    df = r.parquet(stream_path)
    # ns->us conversion mirrors catalog.load_table, but lands on TIMESTAMP
    # (LTZ): watermarks reject TIMESTAMP_NTZ.  The session runs in UTC, so
    # wall-clock values equal the batch table's NTZ values exactly.
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))")
        )
    else:
        df = df.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
    return df


def tumbling_counts(
    events: DataFrame, width: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window per-type aggregate (late data beyond the
    watermark is dropped and state for closed windows is evicted)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            F.col("event_type"),
            F.col("n_events"),
            F.col("sum_value"),
        )
    )


def sliding_avg(
    events: DataFrame,
    width: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "4 hours",
) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.avg("value").alias("avg_value"), F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("win_start"), "avg_value", "n")
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows (gap-based) per user — stateful merge of adjacent
    activity; state closes when the watermark passes the session gap."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("sess_start"),
            F.col("w.end").alias("sess_end"),
            "user_id",
            "n_events",
        )
    )


_STATE_SCHEMA = StructType([StructField("total", LongType())])
_USER_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("total_events", LongType()),
    ]
)


def _count_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    total = state.get[0] if state.exists else 0
    for pdf in pdfs:
        total += len(pdf)
    state.update((total,))
    yield pd.DataFrame({"user_id": [key[0]], "total_events": [total]})


def stateful_user_counts(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-user event totals carried in explicit group state across
    micro-batches (the reference has no stateful surface at all)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _count_fn,
        outputStructType=_USER_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: Per-run (mode, per-batch {batch, n, cs}) records from checksum-sink
#: executions — the measurement side-channel read by
#: tools/measure_streaming_scale.py.  Bounded: one tiny dict per batch.
CHECKSUM_SINK_RESULTS: list[dict] = []

#: In-process opt-in for the checksum measurement sink.  The env var
#: alone used to flip the sink, so an INHERITED
#: SPARK_GRAFT_STREAM_CHECKSUM_SINK (crashed measurement run, stale
#: shell export) silently emptied every streaming entry's result —
#: indistinguishable from a wrong answer in a correctness round (ADVICE
#: r11).  Measurement harnesses must set this flag explicitly
#: (tools/measure_streaming_scale.py does); with the env var set but the
#: flag unset, run_available_now warns loudly and runs the normal
#: memory-sink path.
CHECKSUM_SINK_OPT_IN: bool = False


def run_available_now(
    stream_df: DataFrame, output_mode: str = "complete", **options: Any
) -> DataFrame:
    """Execute a streaming plan over all currently-available input (one
    bounded run), collect via memory sink, return the result as a batch
    DataFrame.

    CAUTION with ``output_mode="update"``: the memory sink ACCUMULATES
    every micro-batch's updated rows, so a multi-batch run (e.g.
    ``maxFilesPerTrigger``) returns stale intermediate rows next to final
    ones.  Callers must reduce to the latest row per key (for monotone
    counters, a max aggregate) — see ``stateful_user_counts``' call site.

    MEASUREMENT MODE: with ``SPARK_GRAFT_STREAM_CHECKSUM_SINK`` set, the
    memory sink is replaced by a foreachBatch sink that reduces each
    micro-batch to one (count, bit_xor(xxhash64)) row executor-side —
    nothing is materialized to the driver, so the measured wall is the
    streaming computation alone (VERDICT r10 item 6: the session-counts
    100x wall was ~half memory-sink collect of 9.5M rows).  Per-batch
    checksums land in :data:`CHECKSUM_SINK_RESULTS`; the RETURNED frame
    is EMPTY (original schema) — callers' post-processing stays valid
    but yields no rows, so the knob is for measurement harnesses only.
    """
    import os as _os

    if _os.environ.get("SPARK_GRAFT_STREAM_CHECKSUM_SINK") and (
        not CHECKSUM_SINK_OPT_IN
    ):
        import warnings

        warnings.warn(
            "SPARK_GRAFT_STREAM_CHECKSUM_SINK is set but the in-process "
            "opt-in (streaming.pipeline.CHECKSUM_SINK_OPT_IN) is not — "
            "ignoring the env var and materializing results normally. "
            "Measurement harnesses must set the flag explicitly.",
            stacklevel=2,
        )
    if _os.environ.get("SPARK_GRAFT_STREAM_CHECKSUM_SINK") and (
        CHECKSUM_SINK_OPT_IN
    ):
        batches: list[dict] = []

        def _checksum_batch(bdf: DataFrame, batch_id: int) -> None:
            r = bdf.selectExpr(
                "count(1) AS n", "bit_xor(xxhash64(struct(*))) AS cs"
            ).collect()[0]
            batches.append(
                {"batch": int(batch_id), "n": int(r["n"]), "cs": r["cs"]}
            )

        q = (
            stream_df.writeStream.foreachBatch(_checksum_batch)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .options(**options)
            .start()
        )
        q.awaitTermination()
        CHECKSUM_SINK_RESULTS.append(
            {"mode": output_mode, "batches": batches}
        )
        return local_frame(stream_df.sparkSession, [], stream_df.schema)

    name = f"sink_{uuid.uuid4().hex[:10]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .options(**options)
        .start()
    )
    q.awaitTermination()
    spark = stream_df.sparkSession
    # detach the result from the memory sink: checkpoint the rows (freed
    # later by operators.caching.release_caches) and drop the sink's temp
    # view — otherwise every invocation leaks one result table in driver
    # memory for the process lifetime
    from arrow_ballista_spark.operators.caching import (
        tracked_local_checkpoint,
    )

    out = tracked_local_checkpoint(spark.table(name))
    spark.catalog.dropTempView(name)
    return out


def stream_count_min(
    tok_stream: DataFrame,
    term_col: str,
    width: int,
    depth: int,
    **options: Any,
) -> DataFrame:
    """Streaming count-min sketch via a per-batch REGISTER MERGE
    (foreachBatch) — the throughput path for the frequency sketch over a
    continuous term stream.

    The previous shape (complete-mode stateful groupBy over exploded
    cells, still available as ``run_available_now(count_min_build(...),
    "complete")``) pays 2 md5 hashes + a hex->long conv per term
    OCCURRENCE — at 100x that's hundreds of millions of md5s and the
    entry measured ~2 orders below its streaming siblings (SCALING.md
    r10).  Inside foreachBatch we get BATCH semantics per micro-batch,
    so each batch first reduces to (term, count) — one map-side-combined
    groupBy whose keys are the batch's DISTINCT vocabulary, transient,
    never persisted state — and only then hashes each distinct term once
    and explodes its ``depth`` cells weighted by the count.  Natural-
    language term frequency makes occurrences/vocabulary a 1-3
    order-of-magnitude hash reduction.

    The merged register is the sketch itself: <= depth*width driver-side
    entries no matter how much data arrives (each batch contributes at
    most depth*width partial cells, collected bounded).  Counts are
    exact sums either way, so the result is byte-identical to
    ``count_min_build`` over the concatenated input — the batch CMS SQL
    stays the oracle (tests/test_streaming.py pins multi-batch
    agreement)."""
    from arrow_ballista_spark.operators import sketch as sk

    register: dict[tuple[int, int], int] = {}

    def _merge(bdf: DataFrame, batch_id: int) -> None:
        per_term = bdf.groupBy(term_col).agg(F.count(F.lit(1)).alias("_n"))
        cells = sk._cells_frame(
            per_term, term_col, width, depth, carry=["_n"]
        )
        part = (
            cells.groupBy("row", "col")
            .agg(F.sum("_n").alias("cnt"))
            .collect()
        )
        for r in part:
            key = (r["row"], r["col"])
            register[key] = register.get(key, 0) + r["cnt"]

    q = (
        tok_stream.writeStream.foreachBatch(_merge)
        .trigger(availableNow=True)
        .options(**options)
        .start()
    )
    q.awaitTermination()
    return local_frame(
        tok_stream.sparkSession,
        [(r, c, n) for (r, c), n in sorted(register.items())],
        "row int, col long, cnt long",
    )


def stream_static_enrich(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream against a batch
    dimension table (the standard streaming-ETL lookup).  Spark plans the
    static side as a broadcast per micro-batch — no stream-side state, no
    watermark needed (unlike stream-stream joins).  At 100 TB the static
    side is the small dimension; a corpus-scale static side would instead
    pre-bucket both sides on the join key."""
    return events.join(F.broadcast(dim), "user_id")


def sink_parquet(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    output_mode: str = "append",
    **options: Any,
) -> None:
    """Exactly-once parquet file sink: one bounded availableNow run.

    Structured Streaming's file sink commits each micro-batch's files in
    the checkpoint's write-ahead ``_spark_metadata`` log, so a re-run with
    the same checkpoint resumes after the last committed batch instead of
    duplicating output — the exactly-once contract a training-data
    ingestion job needs across retries.  Readers resolve the dataset
    through the metadata log, so half-written files from a crashed batch
    are invisible."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .options(**options)
        .start()
    )
    q.awaitTermination()


def documents_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the documents parquet — the continuous
    corpus-ingestion source (new crawl batches arriving as files)."""
    from arrow_ballista_spark.catalog import _configure_reader

    _configure_reader(spark)
    path = os.path.join(sf_dir, "documents.parquet")
    raw_schema = spark.read.parquet(path).schema
    r = spark.readStream.schema(raw_schema)
    # single-file driver layout: glob-filter inside the dir; DIRECTORY
    # layout (Spark-written part files): stream the directory itself —
    # the leaf-name glob would silently match nothing
    stream_path = path if os.path.isdir(path) else sf_dir
    if not os.path.isdir(path):
        r = r.option("pathGlobFilter", "documents.parquet")
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(stream_path)


def stream_dedup_vs_index(
    new_docs: DataFrame, index_docs: DataFrame
) -> DataFrame:
    """Streaming incremental dedup: each arriving document is checked
    against a STATIC stored corpus index by collection fingerprint (md5
    of sorted distinct lowercase tokens — order/duplication-robust, so it
    catches shuffled near-dups, not just byte-identical texts).

    The index side is batch-aggregated to (fingerprint, dup_of=min id)
    and broadcast per micro-batch; the stream side is map-only fingerprint
    + LEFT OUTER lookup — no stream state, no watermark, O(batch) work
    per batch.  This is the continuous re-crawl pattern: the index is
    append-only storage, re-clustering the corpus per batch would be
    O(corpus).  Stream-static ANTI joins are unsupported in Structured
    Streaming, so dedup is expressed as LEFT OUTER + is_dup flag (the
    caller filters)."""
    from arrow_ballista_spark.operators.text import fingerprint

    idx = (
        index_docs.select(
            fingerprint("text").alias("fp"), F.col("doc_id")
        )
        .groupBy("fp")
        .agg(F.min("doc_id").alias("dup_of"))
    )
    stream_fp = new_docs.select(
        "doc_id", fingerprint("text").alias("fp")
    )
    return (
        stream_fp.join(F.broadcast(idx), "fp", "left_outer")
        .select(
            "doc_id",
            F.when(F.col("dup_of").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("is_dup"),
            F.col("dup_of").cast("long").alias("dup_of"),
        )
    )
