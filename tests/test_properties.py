"""Property-based tests (hypothesis): operator semantics vs pure-Python
reference implementations on randomized small inputs — the coverage the
example-based oracle suite can't reach (reference has none of this,
SURVEY.md §5 item 4; we exceed it deliberately)."""

from __future__ import annotations

from bisect import bisect_right

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from arrow_ballista_spark.operators.asof import asof_join
from arrow_ballista_spark.operators.dedup import exact_dedup

_SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_ts = st.integers(min_value=0, max_value=1000)
_key = st.integers(min_value=0, max_value=3)


@pytest.mark.slow
@given(
    left=st.lists(st.tuples(_key, _ts), min_size=1, max_size=25),
    right=st.lists(st.tuples(_key, _ts, st.integers(-100, 100)), max_size=25),
)
@_SLOW
def test_asof_join_matches_reference(spark, left, right):
    """asof_join == 'latest right with r.ts <= l.ts per key' reference."""
    # unique right (key, ts) so the reference value is well-defined
    right = list({(k, t): (k, t, v) for k, t, v in right}.values())
    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)],
        "lid long, k long, ts long",
    )
    rdf = spark.createDataFrame(right or [(99, -1, 0)], "k long, ts long, v long")
    if not right:
        rdf = rdf.filter("k < -1000")  # empty right side
    out = {
        r.lid: (r.ts_asof, r.v_asof)
        for r in asof_join(ldf, rdf, on="ts", by="k", right_cols=["v"]).collect()
    }
    by_key: dict = {}
    for k, t, v in right:
        by_key.setdefault(k, []).append((t, v))
    for rows in by_key.values():
        rows.sort()
    for i, (k, t) in enumerate(left):
        rows = by_key.get(k, [])
        pos = bisect_right([r[0] for r in rows], t)
        want = rows[pos - 1] if pos else (None, None)
        assert out[i] == want, f"left row {i} (k={k}, ts={t})"


@pytest.mark.slow
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 1000)),
        min_size=1,
        max_size=40,
    )
)
@_SLOW
def test_exact_dedup_matches_reference(spark, rows):
    df = spark.createDataFrame(
        [(i, k) for i, (k, _) in enumerate(rows)], "rid long, k long"
    )
    got = {
        r.k: (r.keep_id, r.n_copies)
        for r in exact_dedup(df, ["k"], "rid").collect()
    }
    want: dict = {}
    for i, (k, _) in enumerate(rows):
        keep, n = want.get(k, (i, 0))
        want[k] = (min(keep, i), n + 1)
    assert got == want


@pytest.mark.slow
@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab c"), min_size=0, max_size=30
        ),
        min_size=1,
        max_size=10,
    )
)
@_SLOW
def test_word_shingles_match_reference(spark, texts):
    from arrow_ballista_spark.operators.dedup import word_shingles

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    got = {
        r.i: list(r.g)
        for r in df.select("i", word_shingles("text", 3).alias("g")).collect()
    }
    import re

    for i, t in enumerate(texts):
        toks = re.split(" +", t)  # Spark split keeps leading/trailing empties
        if len(toks) < 3:
            want = list(dict.fromkeys(toks))
        else:
            want = list(
                dict.fromkeys(
                    " ".join(toks[j : j + 3]) for j in range(len(toks) - 2)
                )
            )
        assert got[i] == want, f"text={t!r}"


def test_new_session_isolates_views(spark):
    from arrow_ballista_spark.context import BallistaContext

    ctx1 = BallistaContext(spark=spark)
    ctx2 = ctx1.new_session()
    ctx2.register_table(
        "iso_view", ctx2.spark.createDataFrame([(1,)], "x long")
    )
    assert "iso_view" in ctx2.tables()
    assert "iso_view" not in ctx1.tables()


@pytest.mark.slow
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=20,
    )
)
@_SLOW
def test_connected_components_matches_union_find(spark, edges):
    """connected_components == pure-Python union-find on random graphs
    (incl. diameters > the typical near-dup clique)."""
    from arrow_ballista_spark.operators.dedup import connected_components

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {x: find(x) for x in parent}

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    # driver_pairs_cap=0 pins the DISTRIBUTED pointer-jumping loop —
    # the r13 small-graph driver path IS union-find, so letting it run
    # here would compare union-find with itself
    got = {
        r.id: r.cluster_id
        for r in connected_components(pairs, driver_pairs_cap=0).collect()
    }
    assert got == want


def test_connected_components_path_graph_log_rounds(spark):
    """Pointer jumping must close a long path (the worst case for plain
    min-label propagation) in ~log2(diameter) rounds, not diameter rounds.
    A 48-node chain has diameter 47; propagation alone needs 47 rounds,
    propagation+jump reaches distance 3^r after r rounds -> <= 7 here
    (bound kept loose vs the theoretical ceiling)."""
    from arrow_ballista_spark.operators.dedup import connected_components

    n = 48
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    stats: dict = {}
    got = {
        r.id: r.cluster_id
        for r in connected_components(
            pairs, stats=stats, driver_pairs_cap=0
        ).collect()
    }
    assert got == {i: 0 for i in range(n)}
    assert stats["rounds"] <= 7, stats


def test_connected_components_reports_node_count(spark):
    """stats['n_nodes'] (r12: observed during the initial checkpoint's
    materialization, consumed by canonical_dedup's broadcast guard to
    skip a count job) must equal the number of distinct nodes in the
    pair graph — which is exactly the CC output's row count."""
    from arrow_ballista_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6), (8, 9), (9, 8)], "id_a long, id_b long"
    )
    stats: dict = {}
    out = connected_components(pairs, stats=stats, driver_pairs_cap=0).collect()
    assert stats["n_nodes"] == 7  # {0,1,2,5,6,8,9}
    assert stats["n_nodes"] == len(out)


def test_semantic_dedup_adaptive_k_default(spark):
    """semantic_dedup_pairs with k=None sizes k via
    adaptive_cluster_count (k ~ sqrt(n), floor 8 — the SCALING.md r9
    fixed-k=22x-vs-adaptive-2.6x evidence) and returns the identical
    pair set as the same k passed explicitly — the adaptive default
    changes the partitioning knob, never the semantics."""
    import numpy as np

    from arrow_ballista_spark.operators.kmeans import (
        adaptive_cluster_count,
        semantic_dedup_pairs,
    )

    assert adaptive_cluster_count(0) == 8
    assert adaptive_cluster_count(63) == 8
    assert adaptive_cluster_count(100) == 10
    assert adaptive_cluster_count(1_000_000) == 1000
    rng = np.random.RandomState(3)
    X = rng.randn(120, 8)
    emb = spark.createDataFrame(
        [(int(i), [float(v) for v in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<double>",
    )
    auto = {
        (r.id_a, r.id_b)
        for r in semantic_dedup_pairs(emb, tau=0.2).collect()
    }
    explicit = {
        (r.id_a, r.id_b)
        for r in semantic_dedup_pairs(
            emb, k=adaptive_cluster_count(120), tau=0.2
        ).collect()
    }
    assert auto == explicit


@pytest.mark.slow
def test_iterative_operators_reliable_checkpoint_dir(spark, tmp_path):
    """checkpoint_dir= switches the round boundary from localCheckpoint
    (executor-memory, dies with the executor) to df.checkpoint() into a
    durable directory — the cluster-scale recovery path (DEPLOY.md).
    Results must be identical and the directory must actually receive
    checkpoint files."""
    from arrow_ballista_spark.operators.dedup import connected_components
    from arrow_ballista_spark.operators.pagerank import pagerank

    ckpt = str(tmp_path / "ckpt")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(23)] + [(100, 101), (101, 102)],
        "id_a long, id_b long",
    )
    # base runs the distributed loop too (cap=0): the durable arm always
    # does (checkpoint_dir disables the driver path), so compare like
    # with like
    base = {
        r.id: r.cluster_id
        for r in connected_components(pairs, driver_pairs_cap=0).collect()
    }
    durable = {
        r.id: r.cluster_id
        for r in connected_components(pairs, checkpoint_dir=ckpt).collect()
    }
    assert durable == base
    import glob as _glob

    assert _glob.glob(f"{ckpt}/*/rdd-*"), "no durable checkpoint written"

    nodes = spark.createDataFrame([(i,) for i in range(6)], "v long")
    edges = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)], "src long, dst long"
    )
    pr_base = {r.v: r["rank"] for r in pagerank(nodes, edges).collect()}
    pr_dur = {
        r.v: r["rank"]
        for r in pagerank(nodes, edges, checkpoint_dir=ckpt).collect()
    }
    assert pr_dur == pr_base


def test_cc_survives_source_deletion_after_checkpoint(spark, tmp_path):
    """The durable-checkpoint claim, exercised: after one materializing
    action, a connected_components frame built with checkpoint_dir= must
    recompute from the checkpoint FILES — proven by deleting the source
    parquet and every tracked cache, then re-collecting the same frame.
    Without truncation-at-checkpoint the re-collect would die scanning
    the deleted source (executor-loss recovery at cluster scale is the
    same recomputation path)."""
    import shutil

    from arrow_ballista_spark.operators.caching import (
        release_caches,
        release_checkpoints,
    )
    from arrow_ballista_spark.operators.dedup import connected_components

    src = str(tmp_path / "pairs_src")
    spark.createDataFrame(
        [(i, i + 1) for i in range(30)] + [(50, 51)],
        "id_a long, id_b long",
    ).write.parquet(src)
    ckpt = str(tmp_path / "ckpt_durable")
    out = connected_components(
        spark.read.parquet(src), checkpoint_dir=ckpt
    )
    first = {r.id: r.cluster_id for r in out.collect()}
    shutil.rmtree(src)
    release_caches()  # drop the tracked persists so nothing masks
    second = {r.id: r.cluster_id for r in out.collect()}
    assert second == first
    assert set(first.values()) == {0, 50}
    release_checkpoints()


@pytest.mark.slow
def test_cc_completes_through_injected_task_failure(tmp_path):
    """Failure injection end-to-end: a once-failing mapper in the CC
    input (fails every task until a flag file exists) under
    master=local[4,2] — task retries are only enabled via the second
    local[] argument — must complete and produce correct clusters with
    durable checkpoints on.  Runs in a subprocess: the shared test
    session's master can't be changed in-JVM.  (Reference analogue:
    executor-loss stage rollback, ballista/scheduler/src/planner.rs:
    259-283.)"""
    import subprocess
    import sys

    script = tmp_path / "inject.py"
    flag = tmp_path / "failed_once.flag"
    ckpt = tmp_path / "ckpt"
    script.write_text(
        f"""
import sys
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[4,2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("cc-failure-injection")
    .getOrCreate()
)
from arrow_ballista_spark.operators.dedup import connected_components

pairs = spark.createDataFrame(
    [(i, i + 1) for i in range(20)] + [(100, 101)],
    "id_a long, id_b long",
)

def fail_once(batches):
    import os
    flag = {str(flag)!r}
    for pdf in batches:
        if not os.path.exists(flag):
            open(flag, "w").write("x")
            raise RuntimeError("injected task failure")
        yield pdf

flaky = pairs.mapInPandas(fail_once, pairs.schema)
out = connected_components(flaky, checkpoint_dir={str(ckpt)!r})
got = sorted((r.id, r.cluster_id) for r in out.collect())
clusters = set(c for _, c in got)
assert clusters == {{0, 100}}, clusters
assert len(got) == 23, got
print("INJECTION_RECOVERED")
"""
    )
    proc = subprocess.run(
        [sys.executable, str(script)],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(tmp_path),
    )
    assert "INJECTION_RECOVERED" in proc.stdout, (
        proc.stdout[-2000:],
        proc.stderr[-2000:],
    )
    assert flag.exists()  # the failure really fired


def test_reliable_checkpoint_tracked_and_released(spark, tmp_path):
    """Written rdd-* checkpoint dirs are recorded and
    release_checkpoints() deletes them — Spark only auto-cleans when
    spark.cleaner.referenceTracking.cleanCheckpoints is set, so a
    multi-hour pipeline without this helper accumulates one frame per
    round on durable storage."""
    import glob as _glob

    from arrow_ballista_spark.operators.caching import (
        release_checkpoints,
        reliable_checkpoint,
    )

    ckpt = str(tmp_path / "ckpt_rel")
    df = spark.range(100)
    out = reliable_checkpoint(df, ckpt)
    assert out.count() == 100
    written = _glob.glob(f"{ckpt}/*/rdd-*")
    assert written, "no durable checkpoint written"
    assert release_checkpoints() >= 1
    assert not _glob.glob(f"{ckpt}/*/rdd-*"), "checkpoint files not deleted"
    assert release_checkpoints() == 0  # idempotent


def test_reliable_checkpoint_concurrent_dir_conflict(spark, tmp_path):
    """setCheckpointDir is session-global: switching the dir while
    another reliable checkpoint is in flight must raise instead of
    silently checkpointing into the other job's directory."""
    import pytest as _pytest

    from arrow_ballista_spark.operators import caching

    df = spark.range(10)
    sc = spark.sparkContext
    dir_a, dir_b = str(tmp_path / "a"), str(tmp_path / "b")
    # simulate job A mid-checkpoint into dir_a
    with caching._CKPT_LOCK:
        state = caching._CKPT_STATE.setdefault(id(sc), [None, 0])
        state[0], state[1] = dir_a, state[1] + 1
    try:
        with _pytest.raises(RuntimeError, match="session-global"):
            caching.reliable_checkpoint(df, dir_b)
        # same dir is fine while in flight
        sc.setCheckpointDir(dir_a)
        assert caching.reliable_checkpoint(df, dir_a).count() == 10
    finally:
        with caching._CKPT_LOCK:
            caching._CKPT_STATE[id(sc)][1] -= 1
        caching.release_checkpoints()


@pytest.mark.slow
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=12,
    ),
)
@_SLOW
def test_connected_components_sparse_trees_match_union_find(spark, edges):
    """Sparse random graphs (n >> |E|: mostly trees/paths, the chainy
    regime the clique-biased test above misses) vs pure union-find."""
    from arrow_ballista_spark.operators.dedup import connected_components

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    # driver_pairs_cap=0 pins the DISTRIBUTED pointer-jumping loop —
    # the r13 small-graph driver path IS union-find, so letting it run
    # here would compare union-find with itself
    got = {
        r.id: r.cluster_id
        for r in connected_components(pairs, driver_pairs_cap=0).collect()
    }
    assert got == want


@pytest.mark.slow
@given(
    base=st.dictionaries(st.integers(0, 20), st.integers(0, 5), max_size=15),
    ups=st.dictionaries(st.integers(0, 25), st.integers(0, 5), max_size=10),
)
@_SLOW
def test_merge_upsert_matches_dict_semantics(spark, base, ups):
    """merge_upsert == python dict.update on (key -> value)."""
    from arrow_ballista_spark.operators.merge import merge_upsert

    want = {**base, **ups}
    bdf = spark.createDataFrame(
        list(base.items()) or [(-1, 0)], "k long, v long"
    )
    udf_ = spark.createDataFrame(
        list(ups.items()) or [(-2, 0)], "k long, v long"
    )
    if not base:
        bdf = bdf.where("k >= 0")
    if not ups:
        udf_ = udf_.where("k >= 0")
    got = {r.k: r.v for r in merge_upsert(bdf, udf_, "k").collect()}
    assert got == want


@given(
    old=st.dictionaries(st.integers(0, 15), st.integers(0, 3), max_size=12),
    new=st.dictionaries(st.integers(0, 15), st.integers(0, 3), max_size=12),
)
@_SLOW
def test_snapshot_diff_matches_dict_semantics(spark, old, new):
    """snapshot_diff == pure-python dict diff (I/U/D, unchanged omitted)."""
    from arrow_ballista_spark.operators.merge import snapshot_diff

    want = {}
    for k in set(old) | set(new):
        if k not in old:
            want[k] = "I"
        elif k not in new:
            want[k] = "D"
        elif old[k] != new[k]:
            want[k] = "U"
    odf = spark.createDataFrame(
        list(old.items()) or [(-1, 0)], "k long, v long"
    )
    ndf = spark.createDataFrame(
        list(new.items()) or [(-2, 0)], "k long, v long"
    )
    if not old:
        odf = odf.where("k >= 0")
    if not new:
        ndf = ndf.where("k >= 0")
    got = {r.k: r.change for r in snapshot_diff(odf, ndf, "k").collect()}
    assert got == want


@given(
    pts=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9), st.integers(0, 9)),
        min_size=4,
        max_size=16,
    ),
)
@_SLOW
def test_kmeans_matches_reference_lloyd(spark, pts):
    """kmeans_assign == a pure-Python Lloyd's with the same deterministic
    rules (smallest-id init, sequential squared-L2, 6dp-rounded means,
    cid tie-break).  Integer-valued vectors keep every sum exact in
    double, so the comparison is bit-deterministic."""
    from arrow_ballista_spark.operators.kmeans import kmeans_assign

    k, iters = 2, 2
    ids = list(range(len(pts)))
    cents = {c: [float(x) for x in pts[c]] for c in range(k)}

    def assign(cents_):
        out = {}
        for i in ids:
            best = min(
                (
                    (
                        sum((pts[i][d] - cents_[c][d]) ** 2 for d in range(3)),
                        c,
                    )
                    for c in sorted(cents_)
                ),
            )
            out[i] = best[1]
        return out

    a = None
    for it in range(iters):
        a = assign(cents)
        if it < iters - 1:
            new = {}
            for c in sorted(cents):
                members = [i for i in ids if a[i] == c]
                if members:
                    new[c] = [
                        round(
                            sum(pts[i][d] for i in members) / len(members), 6
                        )
                        for d in range(3)
                    ]
            cents = new

    df = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in ids],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.vec_id: r.cluster
        for r in kmeans_assign(df, k=k, iters=iters).collect()
    }
    assert got == a


def test_split_partitions_complete_and_deterministic(spark):
    """train/val/test must partition the input exactly (every row in
    exactly one split), reproduce identically run-to-run, and land within
    sane distance of the 75/12.5/12.5 target."""
    from arrow_ballista_spark.catalog import load_table
    from arrow_ballista_spark.operators.corpus import train_val_test_split

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out1 = train_val_test_split(docs, "doc_id").select("doc_id", "split")
    counts = {r["split"]: r["n"] for r in
              out1.groupBy("split").agg(F.count("*").alias("n")).collect()}
    n = docs.count()
    assert sum(counts.values()) == n
    assert set(counts) == {"train", "val", "test"}
    assert 0.60 * n <= counts["train"] <= 0.90 * n
    # determinism: a second run assigns every doc the same split
    out2 = train_val_test_split(docs, "doc_id").select("doc_id", "split")
    assert out1.exceptAll(out2).count() == 0


def test_quantize_int8_roundtrip_error_bound(spark):
    """Dequantized values must sit within half a quantization step of the
    original: |v - q/scale| <= 0.5/scale (scale = 127/max|v|)."""
    from arrow_ballista_spark.catalog import load_table
    from arrow_ballista_spark.operators.similarity import quantize_int8

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = quantize_int8(emb, "vec_id", "embedding")
    joined = q.join(
        emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v")),
        "vec_id",
    )
    bad = joined.filter(
        F.expr(
            "exists(zip_with(v, q, (x, c) -> "
            "abs(x - c / scale) > 0.5 / scale + 1e-12), b -> b)"
        )
        & (F.col("scale") > 0)
    ).count()
    assert bad == 0
    # int8 range respected
    overflow = joined.filter(
        F.expr("exists(q, c -> c > 127 or c < -127)")
    ).count()
    assert overflow == 0


def test_semantic_dedup_subset_of_exact_pairs(spark):
    """Every SemDeDup pair must also be an exact embedding-cosine pair at
    the same threshold (clustering can only REMOVE candidates, never
    invent similarity), with the identical cosine value."""
    from arrow_ballista_spark.catalog import load_table
    from arrow_ballista_spark.operators.kmeans import semantic_dedup_pairs
    from arrow_ballista_spark.operators.similarity import (
        cosine_near_dup_pairs,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    sem = semantic_dedup_pairs(emb, k=8, iters=2, tau=0.35).select(
        "id_a", "id_b", F.round("cos_raw", 9).alias("c")
    )
    exact = cosine_near_dup_pairs(emb, "vec_id", "embedding", 0.35).select(
        "id_a", "id_b", F.round("cos_raw", 9).alias("c")
    )
    assert sem.count() > 0
    assert sem.exceptAll(exact).count() == 0


@pytest.mark.slow
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)).filter(
            lambda p: p[0] != p[1]
        ),
        min_size=1, max_size=30, unique=True,
    )
)
def test_pagerank_matches_reference(spark, edges):
    """Distributed PageRank must equal a pure-Python reference computing
    the identical formula (same teleport, same per-iteration rounding)."""
    import math

    from arrow_ballista_spark.operators.caching import release_caches
    from arrow_ballista_spark.operators.pagerank import pagerank

    n, d, iters = 12, 0.85, 3
    nodes = spark.createDataFrame([(v,) for v in range(n)], "v long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["v"]: r["rank"]
        for r in pagerank(nodes, edf, "v", d=d, iters=iters).collect()
    }
    release_caches()

    def rnd(x):
        return math.floor(abs(x) * 1e9 + 0.5) / 1e9

    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    r = {v: 1.0 / n for v in range(n)}
    base = (1.0 - d) / n
    for _ in range(iters):
        contrib = {v: 0.0 for v in range(n)}
        for s, t in edges:
            contrib[t] += r[s] / deg[s]
        r = {v: rnd(base + d * contrib[v]) for v in range(n)}
    assert set(got) == set(r)
    for v in r:
        assert abs(got[v] - r[v]) <= 2e-9, (v, got[v], r[v])


def test_model_score_pluggable_scorer(spark):
    """model_score must accept a custom scorer and apply it batch-wise."""
    from arrow_ballista_spark.catalog import load_table
    from arrow_ballista_spark.operators.inference import model_score

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = model_score(
        docs, "doc_id", "text",
        scorer=lambda s: s.str.count(" ").astype(float) + 1.0,
    )
    expect = {
        r["doc_id"]: float(r["n"]) for r in docs.selectExpr(
            "doc_id", "size(split(text, ' ')) AS n").collect()
    }
    got = {r["doc_id"]: r["score"] for r in out.collect()}
    assert got == expect


def test_numpy_logistic_scorer_matches_scalar_reference():
    """numpy_logistic_scorer's batched matmul must equal a scalar-Python
    logistic over the same features (weights applied one term at a
    time), including the 1e-9 floor rounding and the empty-string row."""
    import math

    import pandas as pd

    from arrow_ballista_spark.operators.inference import (
        LOGISTIC_WEIGHTS,
        numpy_logistic_scorer,
    )

    texts = pd.Series(
        [
            "The quick brown fox, it jumps!  12 times?",
            "",
            "aaaa",
            "0123456789" * 30,
            "no punct here just words and more words",
        ]
    )
    got = numpy_logistic_scorer()(texts).tolist()
    w = LOGISTIC_WEIGHTS
    want = []
    for t in texts:
        z = (
            w["bias"]
            + w["n_chars"] * len(t)
            + w["n_spaces"] * t.count(" ")
            + w["n_digits"] * sum(c.isdigit() for c in t)
            + w["n_punct"] * sum(c in ".,;:!?" for c in t)
            + w["n_vowels"] * sum(c in "aeiou" for c in t)
        )
        p = 1.0 / (1.0 + math.exp(-z))
        want.append(math.floor(p * 1e9 + 0.5) / 1e9)
    assert got == want


def test_vectorized_kernels_agree_with_exact(spark):
    """The numpy scale-path kernels (matmul assignment, per-cluster Gram
    pairwise) must agree with the oracle-exact fold kernels on the driver
    fixture: identical cluster assignment and identical pair set, with
    cosines equal to 1e-9."""
    from arrow_ballista_spark.catalog import load_table
    from arrow_ballista_spark.operators.caching import release_caches
    from arrow_ballista_spark.operators.kmeans import (
        kmeans_assign,
        semantic_dedup_pairs,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    a_exact = {
        (r["vec_id"], r["cluster"])
        for r in kmeans_assign(emb, k=8, iters=2).collect()
    }
    a_vec = {
        (r["vec_id"], r["cluster"])
        for r in kmeans_assign(emb, k=8, iters=2, vectorized=True).collect()
    }
    assert a_exact == a_vec
    p_exact = {
        (r["id_a"], r["id_b"]): r["cos_raw"]
        for r in semantic_dedup_pairs(emb, k=8, iters=2, tau=0.35).collect()
    }
    release_caches()
    p_vec = {
        (r["id_a"], r["id_b"]): r["cos_raw"]
        for r in semantic_dedup_pairs(
            emb, k=8, iters=2, tau=0.35, vectorized=True
        ).collect()
    }
    release_caches()
    assert set(p_exact) == set(p_vec)
    for key, c in p_exact.items():
        assert abs(c - p_vec[key]) <= 1e-9


def test_vectorized_kmeans_labels_survive_empty_cluster(spark):
    """If a cluster empties during the update, cids become non-contiguous;
    the vectorized kernel must emit ACTUAL cids (not argmin positions) and
    stay in agreement with the exact kernel."""
    from arrow_ballista_spark.operators.kmeans import kmeans_assign

    # 2 identical init vectors (ids 0,1) -> everything ties toward the
    # smaller cid, cluster 1 empties after the first update
    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]),
            (3, [0.0, 1.1]), (4, [5.0, 5.0]), (5, [5.1, 5.0]),
            (6, [-3.0, 0.5]), (7, [-3.1, 0.4]), (8, [0.9, 0.1]),
            (9, [-2.9, 0.6])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {
        (r["vec_id"], r["cluster"])
        for r in kmeans_assign(emb, k=4, iters=3).collect()
    }
    fast = {
        (r["vec_id"], r["cluster"])
        for r in kmeans_assign(emb, k=4, iters=3, vectorized=True).collect()
    }
    assert exact == fast


@given(
    texts=st.lists(
        st.text(alphabet="ab x", min_size=0, max_size=20),
        min_size=2,
        max_size=18,
    ),
    q=st.sampled_from([2, 3, 4, "auto"]),
    d=st.sampled_from([1, 2]),
)
@_SLOW
def test_editdist_pairs_match_bruteforce(spark, texts, q, d):
    """editdist_duplicate_pairs == brute-force all-pairs levenshtein for
    random short strings over a tiny alphabet (maximal gram collisions,
    strings straddling the short/long path boundary, runs of spaces) —
    the lossless-blocking claim under adversarial inputs, including the
    q='auto' per-run gram-length derivation."""
    import pyspark.sql.functions as SF

    from arrow_ballista_spark.operators.dedup import editdist_duplicate_pairs

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b): r.dist
        for r in editdist_duplicate_pairs(
            docs, "text", "doc_id", max_dist=d, q=q, prefix_len=12
        ).collect()
    }
    p = docs.select("doc_id", SF.substring("text", 1, 12).alias("pre"))
    a = p.select(SF.col("doc_id").alias("ia"), SF.col("pre").alias("pa"))
    b = p.select(SF.col("doc_id").alias("ib"), SF.col("pre").alias("pb"))
    brute = {
        (r.ia, r.ib): r.d
        for r in a.crossJoin(b)
        .where(SF.col("ia") < SF.col("ib"))
        .withColumn("d", SF.levenshtein("pa", "pb").cast("long"))
        .where(SF.col("d") <= d)
        .collect()
    }
    assert got == brute


@given(
    data=st.data(),
    vocab_size=st.integers(3, 8),
    n_docs=st.integers(2, 6),
)
@_SLOW
def test_winnowing_guarantee_random_corpora(spark, data, vocab_size, n_docs):
    """Schleimer et al.'s theorem on random corpora: ANY pair of documents
    sharing a contiguous token run of length >= w + k - 1 shares at least
    one fingerprint.  (The converse — no shared run implies no shared
    fingerprint — is NOT claimed by winnowing and not asserted.)"""
    from arrow_ballista_spark.operators.text import winnowing_fingerprints

    k, w = 3, 4
    run_len = w + k - 1
    vocab = [f"v{i}" for i in range(vocab_size)]
    docs = [
        data.draw(
            st.lists(st.sampled_from(vocab), min_size=1, max_size=24),
            label=f"doc{i}",
        )
        for i in range(n_docs)
    ]
    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(docs)],
        "doc_id long, text string",
    )
    fps: dict = {i: set() for i in range(n_docs)}
    for r in winnowing_fingerprints(df, "text", "doc_id", k=k, w=w).collect():
        fps[r["doc_id"]].add(r["fp"])
    runs = [
        {tuple(t[i : i + run_len]) for i in range(len(t) - run_len + 1)}
        for t in docs
    ]
    for a in range(n_docs):
        for b in range(a + 1, n_docs):
            if runs[a] & runs[b]:
                assert fps[a] & fps[b], (
                    f"docs {a},{b} share a {run_len}-token run but no "
                    f"fingerprint: {docs[a]} / {docs[b]}"
                )


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 40),   # score grid value (ties likely)
            st.integers(1, 9),    # positive integer weight
        ),
        min_size=1,
        max_size=60,
    ),
    budget=st.integers(0, 120),
    width_pow=st.integers(-2, 6),  # bucket widths 0.25 .. 64
)
@_SLOW
def test_budget_select_equals_naive_prefix(spark, rows, budget, width_pow):
    """budget_select == the maximal (score, id)-ordered prefix with
    cumulative weight <= budget, for any bucket width, under heavy score
    ties (the case the example test can't sweep)."""
    from arrow_ballista_spark.operators.corpus import budget_select

    data = [(i, float(s) / 4.0, w) for i, (s, w) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, score double, w long")
    got = {
        r["id"]: r["cum_w"]
        for r in budget_select(
            df, "id", "score", "w",
            budget=budget, bucket_width=float(2.0 ** width_pow),
        ).collect()
    }
    want, cum = {}, 0
    for i, s, w in sorted(data, key=lambda t: (t[1], t[0])):
        cum += w
        if cum > budget:
            break
        want[i] = cum
    assert got == want


@given(
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    filters=st.lists(st.integers(0, 4), min_size=1, max_size=6),
    interlace=st.booleans(),
    depth16=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_png_roundtrip_property(h, w, filters, interlace, depth16, seed):
    """encode_png -> decode_png is the identity for ANY image shape and
    ANY per-row filter cycle, non-interlaced AND Adam7 — the decoder's
    five filter reversals and the encoder's five filter applications
    are exact inverses under mod-256 arithmetic, and the seven-pass
    interlace scatter/gather are exact inverses of each other
    (including empty passes on tiny images, which carry zero bytes)."""
    import numpy as np

    from arrow_ballista_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
    out = decode_png(
        encode_png(img, filters=tuple(filters), interlace=interlace,
                   depth16=depth16)
    )
    assert out.shape == img.shape
    assert np.array_equal(out, img)


@given(
    bh=st.integers(1, 4),
    bw=st.integers(1, 4),
    quality=st.sampled_from([95, 98, 100]),
    restart=st.integers(0, 3),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_jpeg_flat_block_roundtrip_property(bh, bw, quality, restart, seed):
    """encode_jpeg -> decode_jpeg is the IDENTITY for block-constant
    grayscale images at quality >= 95: constant 8x8 blocks carry only a
    DC coefficient 8*(v-128), and the quality-95+ luminance DC quantizer
    (2 or 1) divides it exactly — zero quantization error through the
    full Huffman/DC-prediction/restart/IDCT pipeline.  This is the
    analytic contract the value-oracled ext_multimodal_jpeg_stats entry
    rests on, property-tested over shapes, qualities, restart intervals,
    and block values."""
    import numpy as np

    from arrow_ballista_spark.operators.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(seed)
    blocks = rng.randint(0, 256, size=(bh, bw)).astype(np.uint8)
    img = np.repeat(np.repeat(blocks, 8, 0), 8, 1)
    out = decode_jpeg(encode_jpeg(img, quality=quality, restart=restart))
    assert out.shape == (bh * 8, bw * 8, 3)
    for ch in range(3):  # grayscale replicates
        assert np.array_equal(out[:, :, ch], img)


@given(
    bh=st.integers(1, 4),
    bw=st.integers(1, 4),
    crop_h=st.integers(0, 7),
    crop_w=st.integers(0, 7),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_jpeg12_flat_block_roundtrip_property(bh, bw, crop_h, crop_w, seed):
    """12-bit extended-sequential JPEG (SOF1, T.81 Table B.2):
    encode_jpeg12 -> decode_jpeg maps block-constant 12-bit grayscale
    to exactly (v >> 4) at quality 100 — all-ones quantizer, DC
    8*(v-2048) carried exactly through the flat 12-bit Huffman tables
    (DC categories to 15, AC sizes to 14 — past the Annex K 8-bit
    range), level shift 2048, and the documented scale-to-8-bit output
    contract.  Non-multiple-of-8 crops exercise the SOF-dims crop."""
    import numpy as np

    from arrow_ballista_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg12,
    )

    rng = np.random.RandomState(seed)
    h = max(1, bh * 8 - crop_h)
    w = max(1, bw * 8 - crop_w)
    blocks = rng.randint(0, 4096, size=(bh, bw))
    img = np.kron(blocks, np.ones((8, 8), int))[:h, :w]
    out = decode_jpeg(encode_jpeg12(img, quality=100))
    assert out.shape == (h, w, 3)
    want = (img >> 4).astype(np.uint8)
    for ch in range(3):  # grayscale replicates
        assert np.array_equal(out[:, :, ch], want)


@given(
    h=st.integers(1, 32),
    w=st.integers(1, 32),
    rgb=st.booleans(),
    quality=st.sampled_from([50, 75, 90, 100]),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_jpeg_arithmetic_matches_huffman_property(h, w, rgb, quality, seed):
    """Arithmetic-coded sequential JPEG (SOF9, T.81 Annex D QM-coder +
    F.2.4 statistical models) must decode PIXEL-IDENTICALLY to the
    Huffman encode of the same image at the same quality: both writers
    share the `_plane_coefs` quantized coefficients, so entropy coding
    is the only difference and any pixel divergence is a coder bug.
    Runs over arbitrary shapes, gray and 4:4:4 color, and the quality
    range (which drives the QM estimator through skewed and balanced
    contexts, exercising conditional exchange and carry paths)."""
    import numpy as np

    from arrow_ballista_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_arith,
    )

    rng = np.random.RandomState(seed)
    shape = (h, w, 3) if rgb else (h, w)
    img = rng.randint(0, 256, shape).astype(np.uint8)
    da = decode_jpeg(encode_jpeg_arith(img, quality=quality))
    dh = decode_jpeg(encode_jpeg(img, quality=quality))
    assert np.array_equal(da, dh)


def test_jpeg_arithmetic_gates_and_dc_exact():
    """Arithmetic mode gates: SOF10 (progressive arithmetic) and DRI +
    arithmetic degrade with NotImplementedError; a corrupt DAC Kx
    raises ValueError; and quality-100 block-constant images stay
    DC-exact through the arithmetic path (the fixture contract)."""
    import numpy as np
    import pytest

    from arrow_ballista_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_arith,
    )

    rng = np.random.RandomState(9)
    blocks = rng.randint(0, 256, (2, 3)).astype(np.uint8)
    img = np.kron(blocks, np.ones((8, 8), np.uint8))
    blob = bytearray(encode_jpeg_arith(img, quality=100))
    out = decode_jpeg(bytes(blob))
    assert np.array_equal(out[:, :, 0], img)
    sof = blob.find(b"\xff\xc9")
    assert sof > 0
    prog = bytearray(blob)
    prog[sof + 1] = 0xCA  # SOF10: arithmetic progressive
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(prog))
    dac = blob.find(b"\xff\xcc")
    assert dac > 0
    # DAC payload: 2-byte pairs after the length; corrupt an AC Kx to 0
    bad = bytearray(blob)
    p = dac + 4
    while not (bad[p] & 0x10):
        p += 2
    bad[p + 1] = 0
    with pytest.raises(ValueError, match="Kx"):
        decode_jpeg(bytes(bad))


def test_jpeg12_lossy_and_gates():
    """12-bit lossy content decodes close to (img >> 4) at quality 90;
    out-of-range samples, non-grayscale input, and the unsupported
    12-bit modes (SOF0 baseline, SOF9 arithmetic) are rejected —
    by patching the SOF marker of a valid 12-bit stream.  (12-bit
    SOF2 progressive decodes natively since the gate widened; its
    positive fixture lives in test_codec_external.py.)"""
    import numpy as np
    import pytest

    from arrow_ballista_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg12,
    )

    rng = np.random.RandomState(5)
    img = rng.randint(0, 4096, (24, 32))
    out = decode_jpeg(encode_jpeg12(img, quality=90))
    assert np.abs(out[:, :, 0].astype(float) - (img >> 4)).mean() < 2.0
    with pytest.raises(ValueError, match="0..4095"):
        encode_jpeg12(np.array([[4096]]))
    with pytest.raises(ValueError, match="grayscale"):
        encode_jpeg12(np.zeros((8, 8, 3), int))
    blob = bytearray(encode_jpeg12(img))
    sof = blob.find(b"\xff\xc1")
    assert sof > 0
    for bad in (0xC0, 0xC9):  # 12-bit baseline / arithmetic
        patched = bytearray(blob)
        patched[sof + 1] = bad
        with pytest.raises(NotImplementedError, match="12-bit"):
            decode_jpeg(bytes(patched))


@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    subsample=st.sampled_from(["444", "420", "422"]),
    restart=st.integers(0, 2),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=30, deadline=None)
def test_jpeg_lossy_roundtrip_property(h, w, subsample, restart, seed):
    """Full lossy color round-trip over arbitrary shapes and all three
    chroma modes (4:4:4 / 4:2:0 / 4:2:2 — the last exercises the
    decoder's anisotropic upsampling): smooth images reconstruct within
    a small tolerance, the decoded shape is exact, and restart-marker
    streams decode to pixels IDENTICAL to the unmarked stream (restart
    only resegments entropy coding, never changes coefficients)."""
    import numpy as np

    from arrow_ballista_spark.operators.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    base = 128 + 70 * np.sin(xx / 13.0) * np.cos(yy / 11.0)
    img = np.clip(
        np.stack([base, np.roll(base, 3, 0), 255 - base], axis=2)
        + rng.randn(h, w, 3) * 2,
        0, 255,
    ).astype(np.uint8)
    dec0 = decode_jpeg(encode_jpeg(img, quality=92, subsample=subsample))
    assert dec0.shape == (h, w, 3)
    err = np.abs(dec0.astype(int) - img.astype(int)).max()
    assert err <= (25 if subsample == "444" else 60), err
    if restart:
        decr = decode_jpeg(
            encode_jpeg(img, quality=92, subsample=subsample, restart=restart)
        )
        assert np.array_equal(decr, dec0)


@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    mode=st.sampled_from(["gray", "444", "420", "422"]),
    quality=st.sampled_from([50, 75, 92, 98]),
    restart=st.integers(0, 3),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_jpeg_progressive_matches_baseline_property(
    h, w, mode, quality, restart, seed
):
    """Progressive (SOF2) encode -> decode must produce pixels
    IDENTICAL to the baseline encode -> decode of the same image: both
    writers quantize the same coefficients with the same float64
    expression, and Annex G's multi-scan representation (spectral
    selection, DC/AC successive approximation, EOB runs, per-scan
    restarts) is lossless over them — so any pixel difference is a
    coefficient bug in one of the two coders.  Random (worst-case)
    pixels, every chroma mode, odd dimensions, restart intervals."""
    import numpy as np

    from arrow_ballista_spark.operators.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(seed)
    shape = (h, w) if mode == "gray" else (h, w, 3)
    img = rng.randint(0, 256, size=shape).astype(np.uint8)
    kw = {} if mode == "gray" else {"subsample": mode}
    base = decode_jpeg(encode_jpeg(img, quality=quality, restart=restart, **kw))
    prog = decode_jpeg(
        encode_jpeg(img, quality=quality, restart=restart,
                    progressive=True, **kw)
    )
    assert np.array_equal(base, prog)


@given(
    h=st.integers(1, 32),
    w=st.integers(1, 32),
    ncol=st.sampled_from([2, 3, 5, 16, 64, 256]),
    interlace=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_gif_roundtrip_property(h, w, ncol, interlace, seed):
    """encode_gif -> decode_gif is the identity for ANY shape, palette
    size, and interlace mode: GIF is lossless palette indexing, so the
    variable-width LZW coder (CLEAR/EOI, width growth at table
    boundaries, the KwKwK case, 4095-table re-CLEAR) and the 4-pass
    interlace scatter/gather must be exact inverses."""
    import numpy as np

    from arrow_ballista_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
    )

    rng = np.random.RandomState(seed)
    palette = np.stack(
        [np.arange(ncol) % 256, (np.arange(ncol) * 7) % 256,
         (np.arange(ncol) * 13) % 256], axis=1
    ).astype(np.uint8)
    img = palette[rng.randint(0, ncol, (h, w))]
    out = decode_gif(encode_gif(img, interlace=interlace))
    assert out.shape == img.shape
    assert np.array_equal(out, img)


@given(
    h=st.integers(1, 16),
    w=st.integers(1, 16),
    nf=st.integers(1, 4),
    ncol=st.sampled_from([2, 5, 32, 120]),
    delta=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_gif_animation_roundtrip_property(h, w, nf, ncol, delta, seed):
    """encode_gif_animation -> decode_gif_frames reproduces every frame
    exactly, with and without transparency-delta encoding (pixels equal
    to the previous canvas map to the transparent index and must
    composite back losslessly)."""
    import numpy as np

    from arrow_ballista_spark.operators.multimodal import (
        decode_gif_frames,
        encode_gif_animation,
        gif_frame_count,
    )

    rng = np.random.RandomState(seed)
    pal = np.stack(
        [np.arange(ncol) % 256, (np.arange(ncol) * 5) % 256,
         (np.arange(ncol) * 11) % 256], axis=1
    ).astype(np.uint8)
    frames = [pal[rng.randint(0, ncol, (h, w))] for _ in range(nf)]
    blob = encode_gif_animation(frames, delta=delta)
    got = list(decode_gif_frames(blob))
    assert gif_frame_count(blob) == nf
    assert len(got) == nf
    for a, b in zip(got, frames):
        assert np.array_equal(a, b)


@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    rgb=st.booleans(),
    big_endian=st.booleans(),
    rps=st.integers(0, 5),
    compression=st.sampled_from(["none", "packbits", "lzw", "deflate"]),
    predictor=st.booleans(),
    tiled=st.booleans(),
    runs=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_tiff_roundtrip_property(
    h, w, rgb, big_endian, rps, compression, predictor, tiled, runs, seed
):
    """encode_tiff -> decode_tiff is the identity over shapes, gray/RGB,
    both byte orders, any rows-per-strip (multi-strip reassembly) OR
    tiled layout (§15 padded-edge gather), each compression (none /
    PackBits RLE / LZW-EarlyChange / zlib Deflate, over run-heavy AND
    incompressible pixels), with and without predictor-2 horizontal
    differencing (§14): TIFF is a raw/losslessly-packed pixel
    container, so decode must be exact."""
    import numpy as np

    from arrow_ballista_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff,
    )

    rng = np.random.RandomState(seed)
    shape = (h, w, 3) if rgb else (h, w)
    if runs:  # few values -> long RLE runs
        img = (rng.randint(0, 3, size=shape) * 100).astype(np.uint8)
    else:  # incompressible -> literal-heavy PackBits
        img = rng.randint(0, 256, size=shape).astype(np.uint8)
    want = img if rgb else np.repeat(img[:, :, None], 3, 2)
    out = decode_tiff(
        encode_tiff(img, big_endian=big_endian, rows_per_strip=rps,
                    packbits=compression == "packbits",
                    lzw=compression == "lzw",
                    deflate=compression == "deflate",
                    predictor=predictor,
                    tile=(16, 16) if tiled else None)
    )
    assert np.array_equal(out, want)


@given(
    bh=st.integers(1, 5),
    bw=st.integers(1, 5),
    crop_h=st.integers(0, 7),
    crop_w=st.integers(0, 7),
    rgb=st.booleans(),
    big_endian=st.booleans(),
    rps=st.sampled_from([0, 8, 16]),
    tiled=st.booleans(),
    shared=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_tiff_jpeg_roundtrip_property(
    bh, bw, crop_h, crop_w, rgb, big_endian, rps, tiled, shared, seed
):
    """New-style JPEG-in-TIFF (compression 7, TIFF Tech Note 2):
    encode_tiff(jpeg=100) -> decode_tiff is the identity on
    8x8-block-constant images — at quality 100 the quantization tables
    are all ones, every AC coefficient of a constant block is zero,
    and the DC path is exact, so any loss would be a codec bug, not
    JPEG lossiness.  Covers multi-strip and tiled layouts, both byte
    orders, gray and equal-channel RGB (Cb=Cr=128 exactly), and the
    shared-JPEGTables abbreviated-stream variant (tag 347) against
    full per-strip interchange streams."""
    import numpy as np

    from arrow_ballista_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff,
    )

    rng = np.random.RandomState(seed)
    h = max(1, bh * 8 - crop_h)
    w = max(1, bw * 8 - crop_w)
    blocks = rng.randint(0, 256, (bh, bw), dtype=np.uint8)
    img = np.kron(blocks, np.ones((8, 8), np.uint8))[:h, :w]
    if rgb:
        img = np.repeat(img[:, :, None], 3, 2)
    blob = encode_tiff(
        img, big_endian=big_endian, rows_per_strip=rps, jpeg=100,
        jpeg_shared_tables=shared, tile=(16, 16) if tiled else None,
    )
    if shared:
        # the abbreviated streams must actually drop their tables —
        # otherwise the tag-347 merge path is dead code
        full = encode_tiff(
            img, big_endian=big_endian, rows_per_strip=rps, jpeg=100,
            tile=(16, 16) if tiled else None,
        )
        n_chunks = (
            (-(-w // 16)) * (-(-h // 16)) if tiled
            else -(-h // (rps or h))
        )
        if n_chunks > 1:
            assert len(blob) < len(full)
    out = decode_tiff(blob)
    want = img if rgb else np.repeat(img[:, :, None], 3, 2)
    assert np.array_equal(out, want)


def test_tiff_jpeg_gates():
    """JPEG-in-TIFF validity gates: predictor-2 with compression 7 is
    invalid on both the encode and decode side, WhiteIsZero cannot
    pair with JPEG strips, and a corrupt JPEGTables field raises
    ValueError (all inside the image_stats degrade tuple)."""
    import struct

    import numpy as np
    import pytest

    from arrow_ballista_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff,
    )

    img = np.full((8, 8), 9, np.uint8)
    with pytest.raises(ValueError, match="predictor"):
        encode_tiff(img, jpeg=100, predictor=True)
    with pytest.raises(ValueError, match="WhiteIsZero"):
        encode_tiff(img, jpeg=100, white_is_zero=True)
    # decode-side predictor gate: take a predictor-2 LZW file and
    # patch its compression tag to 7 — decode must reject the combo
    # before attempting any JPEG parse
    blob = bytearray(encode_tiff(img, lzw=True, predictor=True))
    (n,) = struct.unpack_from("<H", blob, 8)
    patched = False
    for k in range(n):
        off = 10 + 12 * k
        (tag,) = struct.unpack_from("<H", blob, off)
        if tag == 259:
            assert struct.unpack_from("<H", blob, off + 8) == (5,)
            struct.pack_into("<H", blob, off + 8, 7)
            patched = True
    assert patched
    with pytest.raises(ValueError, match="predictor"):
        decode_tiff(bytes(blob))
    # a corrupt JPEGTables field raises, not crashes
    shared = bytearray(
        encode_tiff(img, jpeg=100, jpeg_shared_tables=True)
    )
    idx = shared.find(b"\xff\xd8", 8)  # JPEGTables payload SOI
    assert idx > 0
    shared[idx] = 0x00  # no longer starts with SOI
    with pytest.raises(ValueError, match="JPEGTables|marker|JPEG"):
        decode_tiff(bytes(shared))


@pytest.mark.slow
@given(
    n=st.integers(4, 30),
    e=st.integers(3, 80),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=15, deadline=None)
def test_triangle_orientation_invariance(spark, n, e, seed):
    """Degree- and id-oriented triangle counting must agree exactly with
    each other AND with a brute-force numpy count on random graphs —
    orientation is a performance choice, never a semantic one
    (operators/pagerank.py:triangle_counts)."""
    import numpy as np

    from arrow_ballista_spark.operators.pagerank import triangle_counts

    rng = np.random.RandomState(seed)
    pairs = set()
    for _ in range(e):
        a, b = rng.randint(0, n, 2)
        if a != b:
            pairs.add((min(a, b), max(a, b)))
    if not pairs:
        return
    adj = np.zeros((n, n), bool)
    for a, b in pairs:
        adj[a, b] = adj[b, a] = True
    want = {}
    for a, b in pairs:
        for c in range(n):
            if c > b and adj[a, c] and adj[b, c]:
                for v in (a, b, c):
                    want[v] = want.get(v, 0) + 1
    edges = spark.createDataFrame(
        [(int(a), int(b)) for a, b in sorted(pairs)], "id_a long, id_b long"
    )
    for orient in ("id", "degree"):
        got = {
            r["node"]: r["n_triangles"]
            for r in triangle_counts(edges, orient=orient).collect()
        }
        assert got == want, (orient, seed)


@given(
    d=st.sampled_from([1, 2, 4]),
    h=st.integers(1, 24),
    w=st.integers(1, 40),
    interlace=st.booleans(),
    cycle=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=50, deadline=None)
def test_png_sub8_roundtrip_property(d, h, w, interlace, cycle, seed):
    """Sub-8-bit grayscale PNG (RFC 2083 §6.1 — r9, the last PNG depth
    gate): encode_png(gray_bits=d) -> decode_png is exact over 1/2/4-bit
    depths, arbitrary shapes (incl. widths that don't fill the last
    packed byte), Adam7 interlace, and the full filter cycle applied to
    the PACKED scanline bytes (bpp=1).  Gray samples scale by the exact
    255/(2^d-1) replication factor, so decode must hit it bit-for-bit."""
    import numpy as np

    from arrow_ballista_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = np.random.RandomState(seed)
    img = rng.randint(0, 1 << d, (h, w)).astype(np.uint8)
    blob = encode_png(
        img, filters=(0, 1, 2, 3, 4) if cycle else (0,),
        interlace=interlace, gray_bits=d,
    )
    out = decode_png(blob)
    want = np.repeat((img * (255 // ((1 << d) - 1)))[:, :, None], 3, 2)
    assert np.array_equal(out, want)
