"""Similarity search over embedding columns (array<float>).

Two paths, mirroring a production ANN layout:

- :func:`brute_force_topk` — exact cosine top-k.  The query batch (small
  by contract) collects to the driver once; one Arrow kernel scores every
  corpus batch against it, so the cost is one scan of the corpus per
  batch of queries — the correct baseline at any scale when the query
  batch fits in memory.
- :func:`hyperplane_lsh_topk` — multi-table random-hyperplane LSH
  (L tables of k sign bits + Hamming-1 multiprobe) with exact-cosine
  re-rank; :func:`lsh_cosine_near_dup_pairs` is the all-pairs variant.
  At 100 TB the bucketed corpus is written partitioned by (table, bucket)
  so a query touches ~L/2^k of the corpus.

Every dot product is a sequential double fold in coordinate order,
bit-identical to the DuckDB oracle's ``list_reduce`` over the products:
the re-rank cosines are JVM ``zip_with``/``aggregate`` expressions
(:func:`dot`), and the Arrow kernels (brute force, LSH buckets, and the
IVF/PQ/k-means kernels built on :func:`_vector_reader`) accumulate
``acc += a_i * b_i`` per coordinate in numpy — never BLAS.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from arrow_ballista_spark.operators.caching import tracked_persist


def _vector_reader(op: str, dim: int):
    """THE vector-batch contract of the Arrow kernels (k-means, LSH
    buckets, IVF, PQ, brute force): returns ``read(va)`` turning an
    Arrow ``list<float|double>`` batch column into an ``(n, dim)``
    float64 matrix (float32 widens exactly, as the SQL folds' casts
    do).  A NULL vector, a NULL element or a row whose length is not
    ``dim`` raises a
    ``ValueError`` naming ``op``, the expected dim and the offending
    batch row — the kernels' ordered folds have no value for such rows,
    and a bare ``reshape`` would fail with a numpy shape message naming
    none of that.  ``read`` is a nested function, so cloudpickle ships
    it BY VALUE inside each kernel's closure: Python workers never need
    to import this package (a session started outside the repo root
    cannot)."""

    def read(va):
        import numpy as np

        if va.null_count:
            row = int(np.argmax(va.is_null().to_numpy(zero_copy_only=False)))
            raise ValueError(
                f"{op}: NULL vector at batch row {row}; expected dim {dim}"
            )
        lens = va.value_lengths().to_numpy(zero_copy_only=False)
        bad = np.flatnonzero(lens != dim)
        if bad.size:
            raise ValueError(
                f"{op}: vector of length {lens[bad[0]]} at batch row "
                f"{bad[0]}; expected dim {dim}"
            )
        flat = va.flatten()
        if flat.null_count:
            raise ValueError(f"{op}: NULL element in a vector of dim {dim}")
        return (
            flat.to_numpy(zero_copy_only=False)
            .astype(np.float64, copy=False)
            .reshape(len(va), dim)
        )

    return read


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold double dot product of two float array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL (filtered by any threshold/rank downstream)
    for zero-norm vectors — the nullif guard matters under Spark 4's
    default ANSI mode, where a bare /0 throws and kills the job."""
    return dot(a, b) / F.nullif(
        F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)), F.lit(0.0)
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_with_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine from precomputed row norms.  Higher-order array folds run
    interpreted (outside codegen), so evaluating the norm fold once per
    ROW instead of once per PAIR cuts the pairwise cost 3x — values are
    bit-identical (same fold over the same data)."""
    return dot(a, b) / F.nullif(na * nb, F.lit(0.0))


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: ``q[i] = round(v[i] *
    127 / max(|v|))`` — 4x storage/IO reduction for ANN corpora (the
    standard scalar-quantized index layout; dot products on int8 reclaim
    most of the recall at a fraction of the bandwidth).

    Map-only: one codegen'd fold for the row max plus one ``transform`` —
    no shuffle, so it rides any scan at 100 TB.  Deterministic and
    oracle-exact: the scale is one IEEE division, rounding is the
    engine-portable floor(|x|+0.5)·sign form, all-zero vectors quantize to
    zeros (scale 0 sentinel).  Returns (id, scale, q) with ``q`` as an
    int array."""
    e = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    e = e.withColumn(
        "amax",
        F.expr(
            "aggregate(v, cast(0.0 as double), (acc, x) -> "
            "greatest(acc, abs(x)))"
        ),
    )
    e = e.withColumn(
        "scale",
        F.when(F.col("amax") > 0, F.lit(127.0) / F.col("amax")).otherwise(
            F.lit(0.0)
        ),
    )
    return e.select(
        F.col(id_col),
        F.col("scale"),
        F.expr(
            "transform(v, x -> cast(floor(abs(x * scale) + 0.5) * "
            "(case when x * scale < 0 then -1 else 1 end) as int))"
        ).alias("q"),
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec: str = "embedding",
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k: the query batch × the streamed corpus.

    Rank key is (cosine DESC, corpus id ASC) so ordering is
    deterministic and engine-independent.  ``exclude_self`` drops rows
    where the ids are equal — correct for self-search over one table
    (the usual dedup/recommendation case); pass False when query and
    corpus ids are unrelated namespaces.  ``query_id`` and ``corpus_id``
    must be distinct names (the output carries both).

    The query batch (small by contract) collects to the driver once, as
    Arrow; one ``mapInArrow`` kernel scores each corpus batch against it
    with the dot and norm folds accumulated per coordinate in order, so
    every cosine is bit-identical to the SQL fold ``dot / nullif(qn *
    cn, 0)``.  Zero-norm rows (on either side) have no cosine and, with
    ``exclude_self``, self-pairs are dropped inside the kernel.  Each
    batch emits every candidate whose cosine is at least its k-th best
    for that query — all ties at the k-th cosine included — and the
    final window ranks the union, so the kept set is exactly the global
    top-k.  Input contract: :func:`_vector_reader` (NULL or ragged
    vectors raise), with the dim of the first query vector.
    """
    from pyspark.sql import types as T

    qt = queries.select(
        F.col(query_id), F.col(vec).cast("array<double>")
    ).toArrow()
    qids = qt.column(0).combine_chunks()
    qv = qt.column(1).combine_chunks()
    dims = [n for n in qv.value_lengths().to_pylist() if n is not None]
    dim = dims[0] if dims else 0
    read = _vector_reader("brute_force_topk", dim)
    Q = read(qv)

    def score(batches):
        import numpy as np
        import pyarrow as pa

        def dots(A, B):  # coordinate order == the SQL fold
            D = np.zeros((len(A), len(B)), dtype=np.float64)
            for i in range(dim):
                D += A[:, i : i + 1] * B[:, i][None, :]
            return D

        def norms(A):
            acc = np.zeros(len(A), dtype=np.float64)
            for i in range(dim):
                acc += A[:, i] * A[:, i]
            return np.sqrt(acc)

        qn = norms(Q)
        qkeys = qids.to_numpy(zero_copy_only=False)
        for batch in batches:
            ids = batch.column(0)
            V = read(batch.column(1))
            den = qn[:, None] * norms(V)[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots(Q, V) / den
            ok = den != 0  # the fold's nullif: no cosine, no candidate
            if exclude_self:
                ok &= qkeys[:, None] != ids.to_numpy(zero_copy_only=False)
            # Spark ranks NaN above every number
            key = np.where(ok, np.where(np.isnan(cos), np.inf, cos), -np.inf)
            n = len(V)
            if 0 < k < n:
                kth = np.partition(key, n - k, axis=1)[:, n - k]
                ok &= key >= kth[:, None]
            qi, ci = np.nonzero(ok)
            yield pa.RecordBatch.from_arrays(
                [qids.take(pa.array(qi)), ids.take(pa.array(ci)),
                 pa.array(cos[qi, ci])],
                [query_id, corpus_id, "cos_raw"],
            )

    scored = corpus.select(
        F.col(corpus_id), F.col(vec).cast("array<double>")
    ).mapInArrow(
        score,
        T.StructType(
            [
                queries.schema[query_id],
                corpus.schema[corpus_id],
                T.StructField("cos_raw", T.DoubleType()),
            ]
        ),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cos_raw").desc(), F.col(corpus_id)
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            query_id,
            corpus_id,
            F.col("cos_raw").alias("cosine"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def _hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_planes)]


def _infer_dim(df: DataFrame, vec: str, dim: int | None) -> int:
    """Embedding dimensionality from the data when not given.  A wrong
    static dim is a *silent* catastrophe: zip_with null-pads, every dot
    folds to NULL, and all vectors land in bucket 0 (no pruning)."""
    if dim is not None:
        return dim
    row = df.select(F.size(F.col(vec))).first()
    if row is None or row[0] is None or row[0] <= 0:
        raise ValueError(f"cannot infer embedding dim from column {vec!r}")
    return int(row[0])


def lsh_buckets_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    all_planes: list[list[list[float]]],
    carry_vec: bool = False,
) -> DataFrame:
    """All n_tables hyperplane sign-bit buckets per row in ONE vectorized
    Arrow pass (r13; the r12 ``_pq_assign_arrow`` recipe).  Returns
    ``(id_col[, v], buckets array<long>)``; bit ``i`` of ``buckets[t]``
    is set iff ``dot(vec, all_planes[t][i]) > 0`` under the sequential
    double fold — the oracle's ``_sql_lsh_bucket`` definition.

    Why: an interpreted ``aggregate`` dot fold per (row, table, plane)
    — ext_sim_topk_lsh at its registry settings (32 tables x 8 planes x
    dim 64) — pays ~16k interpreted multiply-adds per corpus row,
    measured ~50 s at sf0.1 on the single scan partition.  Here each
    batch accumulates ALL table/plane dots per coordinate in order
    (``acc += v_i * p_i`` — elementwise float64, identical to the SQL
    left-to-right fold, so every SIGN matches bit-for-bit), then packs
    sign bits integer-exactly.

    Input contract: :func:`_vector_reader` (NULL or ragged vectors raise).
    ``carry_vec=True`` passes the vector through for consumers that
    re-rank candidates with exact cosine (one copy — the downstream
    explode duplicates it exactly as the column form did)."""
    from pyspark.sql import types as T

    n_tables = len(all_planes)
    n_planes = len(all_planes[0])
    dim = len(all_planes[0][0])
    planes_py = [
        [float(x) for x in p] for planes in all_planes for p in planes
    ]

    read = _vector_reader("lsh_buckets_arrow", dim)

    def kern(batches):
        import numpy as np
        import pyarrow as pa

        P = np.asarray(planes_py, dtype=np.float64).reshape(
            n_tables * n_planes, dim
        )
        for batch in batches:
            ids = batch.column(0)
            va = batch.column(1)
            n = len(va)
            V = read(va)
            D = np.zeros((n, n_tables * n_planes), dtype=np.float64)
            for i in range(dim):  # coordinate order == the SQL fold
                D += V[:, i : i + 1] * P[:, i][None, :]
            bits = (D > 0).astype(np.int64)
            buckets = np.zeros((n, n_tables), dtype=np.int64)
            for t in range(n_tables):
                for i in range(n_planes):
                    buckets[:, t] |= bits[:, t * n_planes + i] << i
            offs = pa.array(
                np.arange(0, (n + 1) * n_tables, n_tables, dtype=np.int32)
            )
            blist = pa.ListArray.from_arrays(
                offs, pa.array(buckets.reshape(-1))
            )
            cols = [ids, va, blist] if carry_vec else [ids, blist]
            names = (
                [id_col, "v", "buckets"] if carry_vec else [id_col, "buckets"]
            )
            yield pa.RecordBatch.from_arrays(cols, names)

    fields = [df.schema[id_col]]
    if carry_vec:
        fields.append(T.StructField("v", T.ArrayType(T.DoubleType())))
    fields.append(T.StructField("buckets", T.ArrayType(T.LongType())))
    return df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    ).mapInArrow(kern, T.StructType(fields))


def hyperplane_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec: str = "embedding",
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int | None = None,
    seed: int = 42,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k: multi-table bucket join (L independent tables of
    n_planes sign bits, plus Hamming-1 multiprobe on the query side) then
    exact cosine re-rank within candidates.

    Candidate recall for a neighbor with per-plane agreement p = 1 - θ/π
    is 1 - (1 - P1)^L with P1 = p^n + n·p^(n-1)(1-p) (own + probed
    buckets): defaults give ~0.97 at cos 0.7 and ~0.74 at cos 0.5 —
    tune L up for weaker-similarity corpora.  dim is inferred from the
    corpus when not given (a mismatched static dim silently disables
    pruning)."""
    dim = _infer_dim(corpus, vec, dim)
    all_planes = [
        _hyperplanes(n_planes, dim, seed + 1000 * t) for t in range(n_tables)
    ]
    # r13: corpus buckets via the vectorized kernel — the column form
    # paid n_tables*n_planes interpreted dot folds per row (~50 s at the
    # topk_lsh registry settings at sf0.1); bucket values bit-identical
    # (ordered accumulation — see lsh_buckets_arrow)
    c = (
        lsh_buckets_arrow(corpus, corpus_id, vec, all_planes, carry_vec=True)
        .select(
            F.col(corpus_id),
            F.col("v").alias("cv"),
            norm(F.col("v")).alias("cn"),
            F.posexplode("buckets").alias("tbl", "bucket"),
        )
    )
    # query side: own bucket + Hamming-1 probes per table.  r13: buckets
    # come from the same kernel and the probes are integer XORs on the
    # bucket VALUE — the previous form repeated the full n_planes-fold
    # bucket EXPRESSION inside every probe struct (n_tables * (n_planes
    # + 1) copies, a ~400k-node Project that cost ~30 s of pure Catalyst
    # analysis at the topk_lsh registry settings).  Same probe values.
    b0 = F.col("_b0")
    qp = (
        lsh_buckets_arrow(queries, query_id, vec, all_planes, carry_vec=True)
        .select(
            F.col(query_id),
            F.col("v").alias("qv"),
            norm(F.col("v")).alias("qn"),
            F.posexplode("buckets").alias("tbl", "_b0"),
        )
        .select(
            query_id,
            "qv",
            "qn",
            "tbl",
            F.explode(
                F.array(
                    b0,
                    *[
                        b0.bitwiseXOR(F.lit(1 << i).cast("bigint"))
                        for i in range(n_planes)
                    ],
                )
            ).alias("bucket"),
        )
    )
    scored = F.broadcast(qp).join(c, ["tbl", "bucket"])
    if exclude_self:
        scored = scored.filter(F.col(query_id) != F.col(corpus_id))
    scored = scored.select(
        query_id,
        corpus_id,
        cosine_with_norms(
            F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
        ).alias("cos_raw"),
    ).distinct()
    w = Window.partitionBy(query_id).orderBy(
        F.col("cos_raw").desc(), F.col(corpus_id)
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            query_id,
            corpus_id,
            F.col("cos_raw").alias("cosine"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def lsh_cosine_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec: str,
    threshold: float,
    n_planes: int = 8,
    n_tables: int = 12,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Scale path for all-pairs cosine near-dup: multi-table hyperplane
    LSH (k=n_planes sign bits per table, L=n_tables independent tables),
    bucket self-join per table, exact-cosine verify, distinct.

    Per-plane sign agreement for a pair at angle θ is p = 1 - θ/π, so
    recall = 1 - (1 - p^k)^L: at the near-dup operating point cos >= 0.9
    (θ≈26°, p≈0.86) the defaults give ~0.96 recall; random pairs (p≈0.5)
    collide per table at 2^-k, so the join touches ~L·n²/2^k pairs — set
    k from corpus size, L from the recall target.  One shuffle keyed on
    (table, bucket); exact verify keeps precision at 1."""
    h = df.select(F.col(id_col), F.col(vec).alias("v"))
    dim = _infer_dim(df, vec, dim)
    all_planes = [
        _hyperplanes(n_planes, dim, seed + 1000 * t) for t in range(n_tables)
    ]
    # tracked persist: both sides of the bucket self-join read this, and
    # the L x k hyperplane dot products are the expensive part (release
    # via operators.caching.release_caches() after the consuming action).
    # r13: buckets via the vectorized kernel (bit-identical — see
    # lsh_buckets_arrow) instead of L*k interpreted folds per row.
    e = tracked_persist(
        lsh_buckets_arrow(df, id_col, vec, all_planes).select(
            F.col(id_col), F.posexplode("buckets").alias("tbl", "b")
        )
    )
    a = e.select(F.col(id_col).alias("id_a"), "tbl", "b")
    b = e.select(F.col(id_col).alias("id_b"), "tbl", "b")
    # dedupe candidate ids BEFORE the O(dim) cosine verify: a near-dup
    # pair collides in most of the L tables by design, and verifying it
    # once instead of ~L times is the dominant cost
    cand = (
        a.join(b, ["tbl", "b"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = h.select(
        F.col(id_col).alias("id_a"),
        F.col("v").alias("va"),
        norm(F.col("v")).alias("na"),
    )
    vb = h.select(
        F.col(id_col).alias("id_b"),
        F.col("v").alias("vb"),
        norm(F.col("v")).alias("nb"),
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            cosine_with_norms(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            ).alias("cos_raw"),
        )
        .filter(F.col("cos_raw") >= threshold)
    )


def cosine_near_dup_pairs(
    df: DataFrame, id_col: str, vec: str, threshold: float
) -> DataFrame:
    """All pairs with cosine >= threshold (exact; self cross-join — the
    LSH-bucketed variant above is the scale path, this is the oracle-able
    exact form)."""
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec).alias("va"),
        norm(F.col(vec)).alias("na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec).alias("vb"),
        norm(F.col(vec)).alias("nb"),
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            cosine_with_norms(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            ).alias("cos_raw"),
        )
        .filter(F.col("cos_raw") >= threshold)
    )

