"""Distributed Lloyd's k-means over an embedding column — the clustering
primitive a training-data pipeline uses for corpus partitioning, IVF coarse
quantization (see :mod:`operators.ivf`), diversity sampling, and
semantic-dedup bucketing.

No reference parity: arrow-ballista has no ML operators (SURVEY.md §2 —
extension beyond the reference surface).  The design is the standard
broadcast-Lloyd iteration every distributed ML library uses, as ONE
driver-state loop (:func:`_lloyd`) with one kernel per step:

- **Seed**: the k smallest-id non-NULL points (:func:`_collect_centroids`
  — TakeOrdered, k rows to the driver; no rand(), so reruns and retries
  agree).
- **Update** (every iteration but the last, :func:`_update`): one fused
  ``mapInArrow`` pass assigns each Arrow batch and emits k·dim
  per-cluster partial sums and counts; a two-phase aggregate finishes
  ``round(try_divide(sum(s), sum(n)), 6)`` and k·dim means collect to
  the driver.  The points never shuffle, and the plan of every
  iteration is a flat scan — there is no lineage to checkpoint.
- **Final assignment**: one map-only ``mapInArrow`` pass
  (:func:`_assign_arrow`) emitting ``(id, v, cluster)`` — the vector
  rides along, so :func:`semantic_dedup_pairs` needs no re-join.

Pairs (:func:`semantic_dedup_pairs`) come from one per-cluster Gram
``applyInPandas`` (:func:`_pairs`).

``vectorized`` chooses only the numpy arithmetic inside those kernels:

- ``False`` (the oracle path): squared-L2 and Gram dots accumulate per
  coordinate in order (``acc += (v_i - c_i)^2`` — elementwise float64,
  bit-identical to the SQL left-to-right ``aggregate`` fold the DuckDB
  oracle mirrors);
- ``True`` (the scale path): BLAS matmuls, ~50x faster per distance at
  n·k ~ 10^8 but summed in a different order (~1e-16), so a near-tie can
  flip; agreement with the exact kernels is pinned by test.

Either way ``np.argmin`` keeps the first minimum with cids ascending (the
``(dist, cid)`` tie-break), and the 6-dp rounding of the means absorbs
partial-sum order, so cross-engine float noise cannot flip an assignment.
``iters`` is intentionally small-and-fixed (Lloyd's converges fast for
coarse quantization; IVF needs "good", not "optimal", cells).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arrow_ballista_spark.operators.similarity import _vector_reader


def _collect_centroids(e: DataFrame, k: int, id_col: str):
    """Deterministic seed: the k smallest-id points (TakeOrdered — k
    rows to the driver, the bounded IVF-centroid pattern).  Returns
    ``[(cid, [floats...]), ...]`` with cid = 0-based rank.  NULL
    vectors are excluded from the seed scan (ADVICE r12: a NULL among
    the k smallest ids would raise ``TypeError`` on the driver)."""
    rows = (
        e.where(F.col("v").isNotNull()).orderBy(id_col).limit(k).collect()
    )
    return [(i, list(r["v"])) for i, r in enumerate(rows)]


def _nearest(cent_rows, vectorized: bool):
    """The one distance kernel: returns ``nearest(V) -> row positions``
    of each point's nearest centroid in ``cent_rows`` order.  A nested
    function, so cloudpickle ships it by value inside the kernels'
    closures (workers never import this module)."""
    import numpy as np

    C = np.asarray([c for _, c in cent_rows], dtype=np.float64)
    c_sq = (C * C).sum(axis=1)

    def nearest(V):
        import numpy as np

        if vectorized:
            # |v-c|^2 = |v|^2 - 2 v.c + |c|^2; |v|^2 is constant per row
            D = -2.0 * (V @ C.T) + c_sq[None, :]
        else:
            D = np.zeros((len(V), len(C)), dtype=np.float64)
            for i in range(C.shape[1]):  # coordinate order == the SQL fold
                diff = V[:, i : i + 1] - C[:, i][None, :]
                D += diff * diff
        return D.argmin(axis=1)

    return nearest


def _assign_arrow(
    e: DataFrame, cent_rows, id_col: str, vectorized: bool
) -> DataFrame:
    """Map-only nearest-centroid assignment in one Arrow pass.  Returns
    ``(id_col, v, cluster)``; cluster is the ACTUAL cid (a cluster that
    emptied in an update leaves a gap in the cid sequence)."""
    from pyspark.sql import types as T

    cids_py = [int(cid) for cid, _ in cent_rows]
    nearest = _nearest(cent_rows, vectorized)
    read = _vector_reader("kmeans_assign", len(cent_rows[0][1]))

    def assign(batches):
        import numpy as np
        import pyarrow as pa

        cids = np.asarray(cids_py, dtype=np.int64)
        for batch in batches:
            va = batch.column(1)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), va, pa.array(cids[nearest(read(va))])],
                [id_col, "v", "cluster"],
            )

    schema = T.StructType(
        [
            e.schema[id_col],
            T.StructField("v", T.ArrayType(T.DoubleType())),
            T.StructField("cluster", T.LongType()),
        ]
    )
    return e.select(F.col(id_col), F.col("v")).mapInArrow(assign, schema)


def _update(e: DataFrame, cent_rows, vectorized: bool):
    """One Lloyd update.  A single Arrow pass fuses the assignment with
    the centroid partial sums: each batch emits k*dim ``(cluster, pos,
    s, n)`` rows (per-cluster coordinate sums and counts), so the update
    shuffle is k*dim rows per batch, never the points.  The means finish
    as ``round(try_divide(sum(s), sum(n)), 6)`` — the 6-dp round absorbs
    partial-sum order — and collect to the driver.  An empty cluster
    emits ``(s=0, n=0)``: its mean is NULL under ``try_divide`` (a bare
    ``/`` throws in Spark 4's default ANSI mode) and it is dropped from
    the next iteration."""
    cids_py = [int(cid) for cid, _ in cent_rows]
    d = len(cent_rows[0][1])
    nearest = _nearest(cent_rows, vectorized)
    read = _vector_reader("kmeans_assign", d)

    def partials(batches):
        import numpy as np
        import pyarrow as pa

        kk = len(cids_py)
        clus = pa.array(np.repeat(np.asarray(cids_py, dtype=np.int64), d))
        pos = pa.array(np.tile(np.arange(d, dtype=np.int32), kk))
        for batch in batches:
            if batch.num_rows == 0:
                continue
            V = read(batch.column(0))
            amin = nearest(V)
            sums = np.zeros((kk, d), dtype=np.float64)
            np.add.at(sums, amin, V)
            counts = np.bincount(amin, minlength=kk).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    clus,
                    pos,
                    pa.array(sums.reshape(-1)),
                    pa.array(np.repeat(counts, d)),
                ],
                ["cluster", "pos", "s", "n"],
            )

    rows = (
        e.select("v")
        .mapInArrow(partials, "cluster long, pos int, s double, n long")
        .groupBy("cluster", "pos")
        .agg(F.round(F.try_divide(F.sum("s"), F.sum("n")), 6).alias("m"))
        .where(F.col("m").isNotNull())
        .collect()
    )
    by_cid: dict = {}
    for r in rows:
        by_cid.setdefault(int(r["cluster"]), {})[int(r["pos"])] = float(r["m"])
    return [
        (cid, [dims[p] for p in sorted(dims)])
        for cid, dims in sorted(by_cid.items())
    ]


def _lloyd(
    e: DataFrame, k: int, iters: int, id_col: str, vectorized: bool
) -> DataFrame:
    """The driver-state Lloyd loop over ``e = (id_col, v array<double>)``:
    seed, ``iters - 1`` updates, final assignment.  Returns
    ``(id_col, v, cluster)`` — empty (same schema) when ``e`` holds no
    non-NULL vector."""
    cent_rows = _collect_centroids(e, k, id_col)
    if not cent_rows:
        return e.withColumn("cluster", F.lit(None).cast("long")).where(
            F.lit(False)
        )
    for _ in range(iters - 1):
        cent_rows = _update(e, cent_rows, vectorized)
    return _assign_arrow(e, cent_rows, id_col, vectorized)


def _points(embeddings: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )


def kmeans_assign(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vectorized: bool = False,
) -> DataFrame:
    """Run ``iters`` Lloyd iterations; returns ``(id_col, cluster)``.

    ``cluster`` is the 0-based index of the nearest centroid after the
    final update, argmin ties broken by smallest cluster id.
    ``vectorized`` picks the kernel arithmetic (see the module
    docstring): ``False`` is bit-exact against the generated DuckDB
    SQL, ``True`` is the BLAS scale path.  Vectors must be non-NULL and
    of one dimension (a ``ValueError`` names the offending row)."""
    return _lloyd(
        _points(embeddings, id_col, vec_col), k, iters, id_col, vectorized
    ).select(id_col, "cluster")


def adaptive_cluster_count(n: int) -> int:
    """SemDeDup cluster count that keeps the per-cluster Gram bounded:
    k ~ sqrt(n) gives expected cluster size ~ sqrt(n) and total pair
    work O(n^1.5) instead of the O(n^2/k) a FIXED k degenerates to.
    Measured (SCALING.md r9): fixed k=8 ran 22x for 10x more data at
    the 100x step; k=sqrt(n) ran 2.6x on the same fixture.  Floor of 8
    keeps tiny corpora non-degenerate (the registry witness setting)."""
    import math

    return max(8, math.isqrt(max(0, n)))


def semantic_dedup_pairs(
    embeddings: DataFrame,
    k: int | None = None,
    iters: int = 2,
    tau: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vectorized: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: k-means-cluster the
    embeddings, then compare pairs only WITHIN a cluster and keep those
    with cosine >= ``tau`` (Abbas et al. 2023, "SemDeDup" — public
    method).  Returns ``(id_a, id_b, cluster, cos_raw)`` with
    ``id_a < id_b``.

    This is the scale path for embedding dedup: the quadratic blow-up is
    confined to one cluster at a time — O(sum |c_i|^2) instead of O(n^2).
    ``k=None`` (the default) sizes k adaptively via
    :func:`adaptive_cluster_count` (k ~ sqrt(n), one bounded count()
    job), keeping total pair work O(n^1.5) — a FIXED k degenerates to
    O(n^2/k), measured 22x-for-10x-data at the 100x step (SCALING.md
    r9) where the adaptive k ran 2.6x.  The pairwise stage shuffles
    the Lloyd assignment (vector riding along) once on the cluster id,
    each cluster one Gram in one task.  Deterministic end-to-end
    (rand()-free init, fixed fold order), so with ``vectorized=False``
    the composition is value-exact against an unrolled SQL oracle;
    ``vectorized=True`` uses BLAS for both the assignment and the Gram
    (values differ at ~1e-16 — agreement-tested, not oracle-hashed)."""
    if k is None:
        # scale-adaptive default (the pq_rerank_topk adaptive-R
        # precedent): one bounded count() job sizes k ~ sqrt(n) so the
        # per-cluster quadratic stays O(n^1.5) total; callers that need
        # a value-pinned k (the oracle entries) pass it explicitly
        k = adaptive_cluster_count(embeddings.count())
    assigned = _lloyd(
        _points(embeddings, id_col, vec_col), k, iters, id_col, vectorized
    )
    return _pairs(assigned, tau, id_col, vectorized)


def _pairs(
    assigned: DataFrame, tau: float, id_col: str, vectorized: bool
) -> DataFrame:
    """Per-cluster pairwise cosine as one Gram per cluster over the
    ``(id_col, v, cluster)`` assignment.  Exact form: the Gram
    accumulates one outer product per coordinate in order (``G += v_i ⊗
    v_i`` — every pair's dot is the JVM ``aggregate`` left-to-right
    fold), norms are the same ordered self-dot + sqrt, and ``cos = dot /
    (na * nb)`` is the two operations of ``cosine_with_norms``.
    Zero-norm rows are excluded like the JVM ``nullif`` NULL rows.
    Memory per task is O(|cluster|^2) doubles — bounded by keeping
    k ~ sqrt(n)."""

    def pairs(key, pdf):
        import numpy as np
        import pandas as pd

        ids = pdf[id_col].to_numpy()
        V = np.array(pdf["v"].tolist(), dtype=np.float64)
        if vectorized:
            nrm = np.linalg.norm(V, axis=1)
        else:
            accn = np.zeros(len(ids), dtype=np.float64)
            for i in range(V.shape[1]):  # coordinate order == the SQL fold
                accn += V[:, i] * V[:, i]
            nrm = np.sqrt(accn)
        live = nrm > 0
        order = np.argsort(ids[live])
        ids, V, nrm = ids[live][order], V[live][order], nrm[live][order]
        n = len(ids)
        if vectorized:
            G = V @ V.T
        else:
            G = np.zeros((n, n), dtype=np.float64)
            for i in range(V.shape[1]):  # coordinate order == the SQL fold
                G += V[:, i : i + 1] * V[:, i][None, :]
        iu = np.triu_indices(n, 1)
        dg, dd = G[iu], (nrm[:, None] * nrm[None, :])[iu]  # na * nb
        ok = dd > 0
        cos = np.zeros(len(dg), dtype=np.float64)
        cos[ok] = dg[ok] / dd[ok]
        keep = ok & (cos >= tau)
        return pd.DataFrame(
            {
                "id_a": ids[iu[0][keep]].astype("int64"),
                "id_b": ids[iu[1][keep]].astype("int64"),
                "cluster": np.full(int(keep.sum()), key[0], dtype="int64"),
                "cos_raw": cos[keep],
            }
        )

    return assigned.groupBy("cluster").applyInPandas(
        pairs, "id_a long, id_b long, cluster long, cos_raw double"
    )
