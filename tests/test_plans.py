"""Plan-shape regression suite — the 100 TB readiness gate.

Correctness says the answer is right; these tests say the *plan* is the
one that survives a 1000-executor scale-up: filters pushed into the
parquet scan, read schemas pruned to referenced columns, dimension sides
broadcast, shuffle counts bounded, and the hot path inside whole-stage
codegen.  A regression here means a future 100x data bump would fall over
even though sf0.01 still passes."""

from __future__ import annotations

from pyspark.sql import functions as F

from arrow_ballista_spark.catalog import load_table
from arrow_ballista_spark.plans import explain
from arrow_ballista_spark.queries import load_all
from tests.conftest import SF_DIR

REG = load_all()


def _report(spark, name):
    return explain.plan_report(REG[name].spark(spark, SF_DIR))


def test_q1_scan_pushdown_and_pruning(spark):
    rep = _report(spark, "tpch_q1")
    assert any("l_shipdate" in f for f in rep["pushed_filters"])
    # only the 7 referenced lineitem columns are read, not all 16
    assert all("l_comment" not in s for s in rep["read_schemas"])
    # partial+final agg -> exactly one shuffle (plus the final sort)
    assert rep["exchanges"] <= 2


def test_q6_single_scan_no_join(spark):
    rep = _report(spark, "tpch_q6")
    flt = " ".join(rep["pushed_filters"])
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in flt
    assert rep["broadcast_joins"] == 0 and rep["sortmerge_joins"] == 0
    assert rep["exchanges"] <= 1  # single partial/final agg


def test_q3_broadcasts_dimensions(spark):
    rep = _report(spark, "tpch_q3")
    # customer (filtered dim) and one more side must broadcast — a
    # shuffle join of orders x lineitem on this shape wastes two exchanges
    assert rep["broadcast_joins"] >= 2
    assert rep["exchanges"] <= 2


def test_q9_join_tree_prunes_and_broadcasts(spark):
    rep = _report(spark, "tpch_q9")
    assert rep["broadcast_joins"] >= 3
    assert all("l_comment" not in s for s in rep["read_schemas"])


def test_filter_select_reaches_scan(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    df = li.filter(F.col("l_quantity") < 5).select("l_orderkey")
    rep = explain.plan_report(df)
    assert any("l_quantity" in f for f in rep["pushed_filters"])
    schemas = rep["read_schemas"]
    assert schemas and all(
        "l_extendedprice" not in s and "l_comment" not in s for s in schemas
    )


def test_codegen_covers_agg_hot_path(spark):
    df = REG["tpch_q1"].spark(spark, SF_DIR)
    assert explain.codegen_stage_count(df) >= 1


def test_minhash_pipeline_is_map_only_until_band_join(spark):
    """The minhash signature stage must not shuffle: shingling is a
    per-row array transform and the permutations one Arrow map pass."""
    from arrow_ballista_spark.operators import dedup

    docs = load_table(spark, SF_DIR, "documents")
    grams = docs.select(
        F.col("doc_id"), dedup.word_shingles("text", 3).alias("grams")
    )
    hashes = grams.select(
        F.col("doc_id"), dedup.base_hashes("grams").alias("hashes")
    )
    sigs = dedup.minhash_sigs_arrow(hashes, "doc_id", "hashes", 16)
    assert explain.num_exchanges(sigs) == 0
    assert "MapInArrow" in explain.explain_str(sigs, "simple")


def test_topk_uses_take_ordered(spark):
    """ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-partition
    top-k + merge), never a global sort."""
    df = REG["topk"].spark(spark, SF_DIR)
    plan = explain.explain_str(df, "simple")
    assert "TakeOrderedAndProject" in plan


def test_operator_metrics_collected(spark):
    """Reference parity: per-operator metrics (output_rows etc.,
    ballista.proto:245-278) are retrievable from the executed plan."""
    from arrow_ballista_spark.plans import metrics

    df = REG["tpch_q6"].spark(spark, SF_DIR)
    rows = metrics.collect_metrics(df)
    assert any(
        r["metric"] == "numOutputRows" and r["value"] > 0 for r in rows
    )
    summary = metrics.metrics_summary(df, execute=False)
    assert summary["output_rows"]


def test_metrics_read_aqe_current_plan_without_running_it(spark):
    """execute=False reads AQE's current plan: real shuffle bytes once
    the query has run, and no Spark job started on a fresh frame (the
    DOT export walks the same plan)."""
    from arrow_ballista_spark.plans import metrics
    from arrow_ballista_spark.plans.dot import plan_dot

    def shuffle_bytes(df):
        return sum(
            r["value"]
            for r in metrics.collect_metrics(df, execute=False)
            if r["metric"] == "shuffleBytesWritten"
        )

    df = (
        spark.range(0, 2000, numPartitions=4)
        .groupBy((F.col("id") % 7).alias("k"))
        .count()
    )
    sc = spark.sparkContext
    sc.setJobGroup("metrics-no-exec", "collect_metrics(execute=False)")
    try:
        assert shuffle_bytes(df) == 0
        assert "Exchange" in plan_dot(df)
        assert list(sc.statusTracker().getJobIdsForGroup("metrics-no-exec")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    df.collect()
    assert shuffle_bytes(df) > 0


def test_plan_dot_export(spark):
    """DOT export (ref execution_graph_dot.rs / /api/job/{id}/dot)."""
    from arrow_ballista_spark.plans.dot import plan_dot

    df = REG["tpch_q6"].spark(spark, SF_DIR)
    dot = plan_dot(df, execute=True)
    assert dot.startswith("digraph")
    assert "FileScan" in dot or "Scan parquet" in dot
    assert "->" in dot


def test_merge_upsert_plan_no_cartesian(spark):
    """MERGE = anti join + union: never a cartesian/nested-loop, and the
    anti join may broadcast the (batch-sized) updates key set."""
    df = REG["ext_merge_upsert"].spark(spark, SF_DIR)
    plan = explain.explain_str(df, "simple")
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan


def test_bm25_broadcasts_stats_sides(spark):
    """BM25 scoring joins must broadcast the tiny sides (per-term doc
    frequencies, 1-row corpus stats) — the corpus shuffles for the tf
    aggregation, not for the scoring joins."""
    df = REG["ext_text_bm25"].spark(spark, SF_DIR)
    plan = explain.explain_str(df, "simple")
    assert plan.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in plan


def test_snapshot_diff_single_join(spark):
    """CDC diff is ONE full-outer join on the key over map-side
    fingerprints — no second corpus join, no nested loop."""
    df = REG["ext_snapshot_diff"].spark(spark, SF_DIR)
    plan = explain.explain_str(df, "simple")
    assert plan.count("FullOuter") == 1
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_runtime_bloom_filter_join_pruning(spark):
    """Runtime bloom-filter semi-join reduction is enabled in the session
    envelope; it engages only past the (10 GB) application-side scan
    threshold, so pin the mechanism here by lowering the threshold: the
    selective orders-side filter must inject a bloom_filter_agg that
    prunes the lineitem scan before the shuffle join."""
    from arrow_ballista_spark.catalog import register_tables

    register_tables(spark, SF_DIR)
    old_thr = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = spark.sql(
            """
            SELECT l_orderkey, l_extendedprice
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderdate >= DATE '1995-03-01'
              AND o_orderdate < DATE '1995-03-10'
            """
        )
        plan = explain.explain_str(df, "simple")
        assert "bloom_filter_agg" in plan
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_thr,
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)


def test_quantize_and_split_are_map_only(spark):
    """ext_embed_quantize and ext_split_train_val_test must ride the scan:
    zero exchanges, zero joins — at 100 TB they are pure map passes."""
    for name in ("ext_embed_quantize", "ext_split_train_val_test"):
        rep = _report(spark, name)
        assert rep["exchanges"] == 0, (name, rep["exchanges"])
        assert rep["broadcast_joins"] == 0 and rep["sortmerge_joins"] == 0


def test_h2o_factor_join_broadcasts_dim(spark):
    """The 25-row brand dim must broadcast — shuffling the fact side on a
    string key to meet a tiny dim is the classic scale mistake."""
    rep = _report(spark, "h2o_join_factor")
    assert rep["broadcast_joins"] >= 1


def test_semantic_dedup_no_cartesian(spark):
    """The intra-cluster pair stage must be KEYED on the cluster id,
    never a nested-loop over all pairs.  Since the r12 kernel swap the
    dim-64 exact path runs one cluster-keyed applyInPandas Gram per
    cluster (FlatMapGroupsInPandas over a hashpartitioning(cluster)
    exchange) instead of a cluster self-join; both shapes are keyed —
    what must never appear is a cartesian/unkeyed nested loop over the
    point set."""
    df = REG["ext_dedup_semantic"].spark(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the pair stage: cluster-keyed applyInPandas (current kernel) or a
    # keyed equi-join (the pre-r12 self-join shape)
    assert "FlatMapGroupsInPandas" in plan or any(
        j in plan
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    if "FlatMapGroupsInPandas" in plan:
        assert "hashpartitioning(cluster" in plan


def test_pack_shards_offsets_broadcast_not_casewhen(spark):
    """The per-bucket prefix-sum offsets must ride a broadcast-joined
    n_buckets-row frame, NOT a chained CASE WHEN: expression depth linear
    in n_buckets overflows the codegen constant pool at 10^3-10^4 buckets
    (the 100 TB configuration)."""
    from arrow_ballista_spark.operators.corpus import pack_shards

    df = spark.range(0, 3000).selectExpr(
        "id AS doc_id", "(id % 7) + 1 AS n_tok"
    )
    packed = pack_shards(
        df, "doc_id", "n_tok", budget=100, n_buckets=1000
    )
    plan = packed._jdf.queryExecution().executedPlan().toString()
    assert plan.count("CASE WHEN") <= 10, "offsets compiled to a CASE chain"
    assert "BroadcastExchange" in plan
    # integer-exact global prefix sum must survive the rewrite
    rows = packed.orderBy("doc_id").collect()
    run = 0
    for r in rows:
        assert r["cum_before"] == run, (r["doc_id"], r["cum_before"], run)
        run += r["n_tok"]


def test_dsir_scoring_broadcasts_bucket_table(spark):
    """DSIR: the 256-row log-ratio bucket table must BROADCAST back onto
    the gram stream (map-side scoring) — shuffling the corpus grams a
    second time to meet 256 rows is the classic scale mistake — and the
    whole operator must stay free of cartesian products."""
    df = REG["ext_sample_dsir"].spark(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_lm_perplexity_no_cartesian(spark):
    """LM scoring joins the count tables on their natural keys — keyed
    joins only; the 1-row vocab total rides a broadcast."""
    df = REG["ext_quality_lm_perplexity"].spark(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_zorder_key_single_stats_broadcast(spark):
    """The Morton key is map-only off a 1-row min/max broadcast: exactly
    one aggregation exchange (the global stats), no join shuffle of the
    data side."""
    rep = _report(spark, "ext_zorder_key")
    assert rep["sortmerge_joins"] == 0
    # the only exchanges are the two-phase global min/max aggregation
    assert rep["exchanges"] <= 1, rep["exchanges"]


def test_editdist_candidate_join_is_keyed(spark):
    """ED-Join candidates come from a gram-keyed equi-join with the
    position filter as a residual — never a nested loop over pairs."""
    df = REG["ext_dedup_editdist"].spark(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_quality_filters_are_map_only(spark):
    """Gopher rules and C4 cleaning are pure per-row column expressions:
    zero exchanges, zero joins — at 100 TB they run at scan speed."""
    for name in ("ext_quality_gopher_rules", "ext_quality_c4_clean"):
        rep = _report(spark, name)
        assert rep["exchanges"] == 0, (name, rep["exchanges"])
        assert rep["sortmerge_joins"] == 0, name


def test_multimodal_image_stats_map_only(spark):
    """Blob build + decode + stats are chained mapInPandas stages whose
    ONLY shuffle is the deliberate up-front spread repartition
    (_docs_spread: a single-file scan arrives as 1-2 partitions and
    would pin the codec CPU on two cores — SCALING.md r7); the blobs
    themselves never move between executors after the text spread."""
    rep = _report(spark, "ext_multimodal_image_stats")
    assert rep["exchanges"] == 1, rep["exchanges"]
    assert rep["sortmerge_joins"] == 0


def test_pca_project_single_reduce_then_map(spark):
    """ext_embed_pca_project: the only shuffle is the d^2+d+1-row
    sufficient-statistics reduce; projection itself is map-only (no join
    of the point set against anything)."""
    rep = _report(spark, "ext_embed_pca_project")
    assert rep["sortmerge_joins"] == 0
    assert rep["exchanges"] <= 1, rep["exchanges"]


def test_bloom_dedup_bit_set_broadcasts(spark):
    """The Bloom filter's set-bit table (<= m rows, KBs at m=2^16) must
    BROADCAST onto the probe stream — shuffling the corpus to meet a
    bounded bit set is the scale mistake the filter exists to avoid —
    and the probe side must stay cartesian-free."""
    df = REG["ext_dedup_bloom"].spark(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_temperature_mixture_never_shuffles_corpus(spark):
    """The corpus is scanned once into a k-row groupBy; the two scalar
    totals ride broadcasts.  No join of the document stream."""
    df = REG["ext_sample_temperature"].spark(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_ccnet_buckets_cutoffs_broadcast(spark):
    """Per-language tercile cutoffs are a k x 2 table broadcast back onto
    the scored stream; the LM joins stay keyed (no cartesian)."""
    df = REG["ext_quality_ccnet_buckets"].spark(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_winnowing_is_map_only(spark):
    """Fingerprinting must be embarrassingly parallel: tokenize, hash,
    window-min, and per-doc distinct are one array projection — ZERO
    exchanges over the corpus."""
    rep = _report(spark, "ext_text_winnowing")
    assert rep["exchanges"] == 0, rep["exchanges"]
    assert rep["sortmerge_joins"] == 0 and rep["broadcast_joins"] == 0


def test_budget_select_offsets_broadcast_no_global_sort(spark):
    """The bucket-offset table (#buckets rows) broadcasts onto the scored
    stream; the corpus itself never meets a cartesian or a sort-merge
    join on its way to the per-bucket windows."""
    df = REG["ext_select_budget"].spark(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_winnowing_dedup_no_cartesian_keyed_join(spark):
    """The candidate join is keyed on fp (bounded per-key fan-out after
    the df cap); counts/Jaccard ride keyed joins — no all-pairs product."""
    df = REG["ext_dedup_winnowing"].spark(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_count_min_sketch_broadcasts_onto_probes(spark):
    """The sketch (<= depth*width rows) must broadcast to the probe side;
    building it is one two-phase agg onto the bounded cell space; and the
    exact-count side filters the token stream against the broadcast probe
    list instead of shuffling the corpus onto 5 skewed term keys."""
    df = REG["ext_sketch_count_min"].spark(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
