"""Corpus-pipeline operators (operators/corpus.py): semantic invariants the
DuckDB oracle can't express — scale-shape of plans (bucketed range join is
an equi join, decontamination broadcasts the benchmark), and equivalence of
the skew-safe formulations to their naive single-window twins.  The
value-level oracle checks ride tests/test_extensions.py (every ext_* name)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from arrow_ballista_spark.catalog import load_table
from arrow_ballista_spark.operators import corpus
from arrow_ballista_spark.plans import explain
from tests.conftest import SF_DIR


def test_pack_shards_equals_naive_global_window(spark):
    """Two-pass distributed prefix sum == single-task Window.orderBy."""
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", F.size(F.split("text", " +")).cast("long").alias("w")
    )
    packed = {
        r.doc_id: (r.cum_before, r.shard_id)
        for r in corpus.pack_shards(docs, "doc_id", "w", budget=1000).collect()
    }
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    naive = {
        r.doc_id: (r.cum, r.shard)
        for r in docs.select(
            "doc_id",
            F.coalesce(F.sum("w").over(w), F.lit(0)).alias("cum"),
            F.floor(F.coalesce(F.sum("w").over(w), F.lit(0)) / 1000).alias("shard"),
        ).collect()
    }
    assert packed == naive


def test_pack_shards_no_global_window(spark):
    """The heavy window must be partitioned (by range bucket), never a
    global orderBy: every Window node in the plan has a partition spec."""
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", F.size(F.split("text", " +")).cast("long").alias("w")
    )
    plan = explain.explain_str(
        corpus.pack_shards(docs, "doc_id", "w", budget=1000), "simple"
    )
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "SinglePartition" not in line


def test_stratified_two_level_equals_naive(spark):
    """Salted two-level top-k == naive one-window top-k, for several k."""
    docs = load_table(spark, SF_DIR, "documents")
    for k in (1, 7, 20):
        got = {
            (r.lang, r.doc_id)
            for r in corpus.stratified_sample_topk(docs, "lang", "doc_id", k).collect()
        }
        w = Window.partitionBy("lang").orderBy(
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8),
            "doc_id",
        )
        want = {
            (r.lang, r.doc_id)
            for r in docs.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .collect()
        }
        assert got == want, f"k={k}"


def test_hash_sample_fraction_and_determinism(spark):
    docs = load_table(spark, SF_DIR, "documents")
    s1 = corpus.hash_sample(docs, "doc_id", "4000")
    n, total = s1.count(), docs.count()
    # md5 is uniform: ~25% +- a loose binomial bound
    assert 0.10 * total < n < 0.40 * total
    assert s1.count() == n  # re-execution returns the identical sample


def test_bucketed_interval_join_is_equi_join(spark):
    """The range join must plan as a shuffled equi join on the bucket key —
    no BroadcastNestedLoopJoin / CartesianProduct anywhere."""
    events = load_table(spark, SF_DIR, "events")
    iv = events.groupBy(F.col("event_type").alias("band")).agg(
        F.min("value").alias("lo"),
        ((F.min("value") + F.max("value")) / 2).alias("hi"),
    )
    joined = corpus.bucketed_interval_join(events, "value", iv, "lo", "hi", 25.0)
    plan = explain.explain_str(joined, "simple")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan  # AQE may demote the tiny test side
    )


def test_bucketed_interval_join_matches_theta_join(spark):
    events = load_table(spark, SF_DIR, "events")
    iv = events.groupBy(F.col("event_type").alias("band")).agg(
        F.min("value").alias("lo"),
        ((F.min("value") + F.max("value")) / 2).alias("hi"),
    )
    got = (
        corpus.bucketed_interval_join(events, "value", iv, "lo", "hi", 25.0)
        .groupBy("band")
        .count()
        .collect()
    )
    want = (
        events.join(
            iv, (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi"))
        )
        .groupBy("band")
        .count()
        .collect()
    )
    assert {(r.band, r["count"]) for r in got} == {
        (r.band, r["count"]) for r in want
    }


def test_decontaminate_broadcasts_benchmark(spark):
    docs = load_table(spark, SF_DIR, "documents")
    bench = docs.where(F.col("doc_id") % 17 == 0)
    rest = docs.where(F.col("doc_id") % 17 != 0)
    plan = explain.explain_str(corpus.decontaminate(rest, bench), "simple")
    assert "BroadcastHashJoin" in plan


def test_canonical_dedup_keeps_one_per_cluster(spark):
    docs = load_table(spark, SF_DIR, "documents")
    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)], "id long, cluster_id long"
    )
    kept = corpus.canonical_dedup(docs, comp, "doc_id", "n_chars").collect()
    by_cluster = {}
    for r in kept:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    # each labeled cluster yields exactly one survivor with the right size
    assert len(by_cluster[1]) == 1 and by_cluster[1][0].cluster_size == 3
    assert len(by_cluster[10]) == 1 and by_cluster[10][0].cluster_size == 2
    # survivor maximizes n_chars (ties -> min doc_id) within its cluster
    sizes = {
        r.doc_id: r.n_chars for r in docs.where(F.col("doc_id").isin(1, 2, 3)).collect()
    }
    winner = by_cluster[1][0]
    assert winner.n_chars == max(sizes.values())
    # every unlabeled doc survives as its own singleton cluster
    n_docs = docs.count()
    assert len(kept) == n_docs - (3 - 1) - (2 - 1)


def test_canonical_dedup_shuffle_path_matches_broadcast(spark):
    """threshold=0 forces the non-broadcast membership join (the 100 TB
    path: components can be corpus-scale); results must equal the
    broadcast path and the plan must not force a broadcast hint."""
    docs = load_table(spark, SF_DIR, "documents")
    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)], "id long, cluster_id long"
    )
    rows_b = {
        r.doc_id: (r.cluster_id, r.cluster_size)
        for r in corpus.canonical_dedup(
            docs, comp, "doc_id", "n_chars", broadcast_threshold_rows=10**6
        ).collect()
    }
    rows_s = {
        r.doc_id: (r.cluster_id, r.cluster_size)
        for r in corpus.canonical_dedup(
            docs, comp, "doc_id", "n_chars", broadcast_threshold_rows=0
        ).collect()
    }
    assert rows_s == rows_b


def test_kmeans_assignment_broadcasts_centroids(spark):
    """The Lloyd assignment stage must be map-only over the point scan —
    never shuffle the point set against the centroids.  The centroids
    are bounded driver state riding the kernel closure: every shape
    plans one MapInArrow with no join and no exchange.  k=4 and k=8 at
    dim 64 sat on either side of the retired literal-chain cutoff (256
    vs 512 distance terms); dim 8 is the whitened entries' regime."""
    from arrow_ballista_spark.operators.kmeans import kmeans_assign

    emb = load_table(spark, SF_DIR, "embeddings")
    emb8 = emb.select("vec_id", F.slice("embedding", 1, 8).alias("embedding"))
    for df, k in [(emb, 4), (emb, 8), (emb8, 8)]:
        plan = explain.explain_str(kmeans_assign(df, k=k, iters=2), "simple")
        assert "MapInArrow" in plan, plan
        for node in ("CartesianProduct", "Join", "Exchange"):
            assert node not in plan, plan


def test_merge_upsert_and_snapshot_diff_semantics(spark):
    """merge_upsert: updates win, unmatched survive, inserts land.
    snapshot_diff: I/U/D classification, unchanged omitted."""
    from arrow_ballista_spark.operators.merge import merge_upsert, snapshot_diff

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    ups = spark.createDataFrame([(2, "B"), (4, "d")], "k long, v string")
    got = {(r.k, r.v) for r in merge_upsert(base, ups, "k").collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}

    old = base
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d")], "k long, v string"
    )  # 1 unchanged, 2 updated, 3 deleted, 4 inserted
    diff = {(r.k, r.change) for r in snapshot_diff(old, new, "k").collect()}
    assert diff == {(2, "U"), (3, "D"), (4, "I")}
