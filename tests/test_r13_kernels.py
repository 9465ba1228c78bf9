"""Round-13 optimization pins: each changed operator internal is pinned
against the exact shape it replaced (bit-parity, not closeness) on
adversarial inputs — the same discipline as the r12 kernel swaps."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _winnowing_fingerprints_expr(df, text_col, id_col, k=3, w=4):
    """The retired pure-expression form of
    ``text.winnowing_fingerprints`` — the bit-parity witness the kernel
    is pinned against (and the shape the generated DuckDB oracle mirrors
    term by term)."""
    toks = df.select(
        F.col(id_col), F.expr(f"split({text_col}, ' +')").alias("_t")
    ).where(F.size("_t") >= k)
    grams = toks.select(
        F.col(id_col),
        F.expr(
            f"transform(sequence(1, size(_t) - {k} + 1), p -> "
            f"cast(conv(substring(md5(cast(concat_ws(' ', slice(_t, p, {k}))"
            f" as binary)), 1, 15), 16, 10) as bigint))"
        ).alias("_g"),
    )
    return grams.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"array_distinct(transform("
                f"sequence(1, greatest(1, size(_g) - {w} + 1)), "
                f"q -> array_min(slice(_g, q, {w}))))"
            )
        ).alias("fp"),
    )


def test_winnowing_kernel_matches_expression_form(spark):
    """The mapInArrow fingerprint kernel must be BIT-identical to the
    retired split/md5/window-min expression chain (which is also the
    shape the generated DuckDB oracle mirrors) — including leading/
    trailing/multiple spaces, NULLs, short docs, and non-ASCII."""
    from arrow_ballista_spark.operators.text import winnowing_fingerprints

    rows = [
        (1, "a b c d e f g"),
        (2, "  leading and   multiple  spaces "),
        (3, None),
        (4, ""),
        (5, "one two"),
        (6, "x y z"),
        (7, "a a a a a a a a a a"),
        (8, "tab\tis not a split char plus more tokens to pass"),
        (9, "     "),
        (10, "ünïcode tökens ällow méé tôo pass ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for k, w in [(3, 4), (2, 3), (4, 2)]:
        a = sorted(
            (r["doc_id"], r["fp"])
            for r in winnowing_fingerprints(
                df, "text", "doc_id", k=k, w=w
            ).collect()
        )
        b = sorted(
            (r["doc_id"], r["fp"])
            for r in _winnowing_fingerprints_expr(
                df, "text", "doc_id", k=k, w=w
            ).collect()
        )
        assert a == b, f"k={k} w={w}: kernel diverged from expression form"
    assert a, "expected non-empty fingerprints"


@pytest.mark.parametrize("over_gate", [0, 1], ids=["at_gate", "over_gate"])
def test_winnowing_bucket_pairs_match_self_join_form(spark, over_gate):
    """winnowing_dedup_pairs' single-exchange bucket pair generator
    (groupBy(fp) + collect_list + double explode — safe there because
    max_df caps bucket size) must emit exactly the pairs and shared-fp
    counts of the fp self-join, including the df cap and the min_shared
    filter.  max_df = _WINNOW_BUCKET_MAX_DF takes the bucket form, one
    more takes the self-join; the boilerplate run sits in exactly
    _WINNOW_BUCKET_MAX_DF + 1 documents, so the cap drops it on the
    first side and keeps it on the second."""
    from arrow_ballista_spark.operators.caching import release_caches
    from arrow_ballista_spark.operators.dedup import (
        _WINNOW_BUCKET_MAX_DF,
        winnowing_dedup_pairs,
    )
    from arrow_ballista_spark.operators.text import winnowing_fingerprints

    max_df = _WINNOW_BUCKET_MAX_DF + over_gate
    rows = [
        (i,
         "alpha beta gamma delta epsilon zeta eta theta iota kappa "
         + f"tail{i} more{i} filler{i} words{i} end{i}")
        for i in range(1, 5)
    ] + [(7, "totally different words here nothing shared"),
         (8, "alpha beta gamma delta epsilon zeta eta theta other end"),
         (9, "red orange yellow green blue indigo violet black white grey"),
         (10, "red orange yellow green blue indigo violet black white pink")]
    rows += [
        (100 + i, "alpha beta gamma delta epsilon zeta eta theta "
                  + f"pad{i} x{i} y{i} z{i}")
        for i in range(_WINNOW_BUCKET_MAX_DF + 1 - 5)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs_df = winnowing_dedup_pairs(
        df, "text", "doc_id", k=3, w=4, min_shared=2, max_df=max_df
    )
    bucket_form = "collect_list" in str(pairs_df._jdf.queryExecution().analyzed())
    assert bucket_form is not bool(over_gate)
    got = sorted(map(str, pairs_df.collect()))
    release_caches()

    # reference: the retired fp self-join, inlined
    fps = winnowing_fingerprints(df, "text", "doc_id", k=3, w=4)
    hot = (
        fps.groupBy("fp").agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") > max_df).select("fp")
    )
    fps = fps.join(F.broadcast(hot), "fp", "left_anti")
    cnt = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_n"))
    a = fps.select(F.col("doc_id").alias("id_a"), "fp")
    b = fps.select(F.col("doc_id").alias("id_b"), "fp")
    pairs = (
        a.join(b, "fp").where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("int").alias("shared_fps"))
        .where(F.col("shared_fps") >= 2)
    )
    s = F.col("shared_fps").cast("double")
    want = sorted(
        map(str, pairs
            .join(cnt.withColumnRenamed("doc_id", "id_a"), "id_a")
            .withColumnRenamed("_n", "_na")
            .join(cnt.withColumnRenamed("doc_id", "id_b"), "id_b")
            .withColumnRenamed("_n", "_nb")
            .select(
                "id_a", "id_b", "shared_fps",
                F.col("_na").cast("int").alias("n_a"),
                F.col("_nb").cast("int").alias("n_b"),
                (F.floor(s / (F.col("_na") + F.col("_nb") - s) * 10000.0
                         + 0.5) / 10000.0).alias("jaccard"),
            ).collect())
    )
    assert got == want
    # the near-dup pair survives both caps; the boilerplate clique only
    # the larger one
    assert any(g.startswith("Row(id_a=9, id_b=10,") for g in got), got
    assert (len(got) > 1000) is bool(over_gate), len(got)


@pytest.mark.parametrize("vectorized", [False, True], ids=["exact", "blas"])
def test_lloyd_update_partials_match_posexplode_means(spark, vectorized):
    """The fused assignment+partial-sum update's ``round(sum/count, 6)``
    means must equal the retired posexplode + ``round(avg, 6)`` means
    over the same assignment, on both kernels, and the driver-state
    Lloyd loop must be deterministic."""
    from arrow_ballista_spark.operators.kmeans import (
        _assign_arrow,
        _collect_centroids,
        _lloyd,
        _update,
    )

    rows = [
        (i, [float((i * 7 + j * 3) % 11) / 4.0 + (0.125 if i % 3 else -0.5)
             for j in range(6)])
        for i in range(40)
    ]
    e = spark.createDataFrame(rows, "vec_id long, v array<double>")
    cent_rows = _collect_centroids(e, 4, "vec_id")

    # old update: posexplode + round(avg, 6) over the assignment
    assigned = _assign_arrow(e, cent_rows, "vec_id", vectorized)
    old = {
        (int(r["cluster"]), int(r["pos"])): float(r["m"])
        for r in assigned.select(
            "cluster", F.posexplode("v").alias("pos", "val")
        )
        .groupBy("cluster", "pos")
        .agg(F.round(F.avg("val"), 6).alias("m"))
        .collect()
    }
    new = {
        (cid, pos): m
        for cid, means in _update(e, cent_rows, vectorized)
        for pos, m in enumerate(means)
    }
    assert new == old

    # end-to-end: the full driver-state loop is deterministic over it
    out1 = sorted(
        (r["vec_id"], r["cluster"])
        for r in _lloyd(e, 4, 3, "vec_id", vectorized).collect()
    )
    out2 = sorted(
        (r["vec_id"], r["cluster"])
        for r in _lloyd(e, 4, 3, "vec_id", vectorized).collect()
    )
    assert out1 == out2 and len(out1) == 40


_CC_EDGES = (
    [(i, i + 1) for i in range(40)]          # a 41-node chain
    + [(100, 101), (101, 102), (100, 102)]   # a clique
    + [(200, 201)]
    + [(7, 7)]                               # self-loop
)


def _cc_labels(pairs, **kw):
    from arrow_ballista_spark.operators.dedup import connected_components

    stats: dict = {}
    out = connected_components(pairs, stats=stats, **kw)
    return {r.id: r.cluster_id for r in out.collect()}, stats


@pytest.mark.parametrize("below_cap", [0, 1], ids=["at_cap", "over_cap"])
def test_cc_driver_union_find_matches_distributed(spark, below_cap):
    """Both sides of the driver union-find switch (r13) must produce the
    exact labels of the distributed pointer-jumping loop and report
    n_nodes the same way: a cap of exactly n_pairs takes the driver
    path, n_pairs - 1 the loop."""
    pairs = spark.createDataFrame(_CC_EDGES, "id_a long, id_b long")
    want, s_dist = _cc_labels(pairs, driver_pairs_cap=0)
    got, stats = _cc_labels(
        pairs, driver_pairs_cap=len(_CC_EDGES) - below_cap
    )
    assert got == want
    assert stats.get("driver_union_find", False) is (below_cap == 0)
    assert stats["n_nodes"] == s_dist["n_nodes"] == len(got)


def test_cc_mismatched_key_types_take_distributed_loop(spark):
    """int id_a with long id_b: the driver frame has one id type, so the
    switch falls back to the loop (whose union widens the keys) and the
    labels equal the forced-loop run."""
    pairs = spark.createDataFrame(_CC_EDGES, "id_a int, id_b long")
    want, _ = _cc_labels(pairs, driver_pairs_cap=0)
    got, stats = _cc_labels(pairs)
    assert got == want
    assert "driver_union_find" not in stats


def test_lloyd_arrow_update_drops_empty_clusters(spark):
    """An empty cluster (duplicate seed vectors: argmin first-hit sends
    every point to the first copy) must be dropped by the fused partial-
    sum update exactly like the retired posexplode update dropped it —
    not crash on the NULL sum/0 mean (r13 review finding)."""
    from arrow_ballista_spark.operators.kmeans import (
        _collect_centroids,
        _lloyd,
    )

    rows = [(0, [1.0, 2.0, 3.0]), (1, [1.0, 2.0, 3.0])] + [
        (i, [float(i), float(i % 5), 0.25 * i]) for i in range(2, 30)
    ]
    e = spark.createDataFrame(rows, "vec_id long, v array<double>")
    cent_rows = _collect_centroids(e, 3, "vec_id")
    assert cent_rows[0][1] == cent_rows[1][1]  # duplicate seeds
    out = sorted(
        (r["vec_id"], r["cluster"])
        for r in _lloyd(e, 3, 3, "vec_id", False).collect()
    )
    assert len(out) == 30
    assert all(c in (0, 1, 2) for _, c in out)
    # the duplicated centroid 1 must have emptied (first-hit ties)
    assert not any(c == 1 for _, c in out)
