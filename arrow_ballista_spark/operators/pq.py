"""Product quantization (PQ) over an embedding column — the memory-
compression half of a billion-scale ANN index (Jégou et al. 2011,
"Product Quantization for Nearest Neighbor Search" — public method):
split each d-dim vector into ``m`` subspaces of d/m dims, quantize each
subvector to one of ``k`` codewords, store m small codes instead of d
floats (64 floats -> 8 bytes at m=8, k<=256).

No reference parity: arrow-ballista has no ML operators (SURVEY.md §2 —
extension beyond the reference surface).  Design mirrors the repo's
IVF/k-means conventions so the whole pipeline is value-exact against a
generated DuckDB oracle:

- **Codebooks are deterministic and bounded**: per subspace, the
  codewords are the subvectors of the ``k`` corpus vectors with the
  smallest md5(id) — the same engine-portable seeded sample as IVF's
  coarse centroids (``operators/ivf.py:choose_centroids``); collect is
  k rows, driver work O(k*d), corpus-size-independent.  (Production PQ
  trains per-subspace k-means; the assignment dataflow below is
  identical — swap the codebook source.)
- **One distance kernel** (:func:`_sub_dists`): per subspace, k
  squared-L2 distances with the deterministic left-to-right fold, in
  numpy, the m*k codebook riding in the kernel's closure.  The corpus
  encode (:func:`_pq_assign_arrow`, one map-only ``mapInArrow`` pass)
  keeps the argmin — ties break to the smallest code, matching the SQL
  oracle's ``row_number() ORDER BY dist, code``; the query side
  (:func:`_pq_query_tables`) keeps the whole table for ADC.  No
  explode, no codebook join, no (id, s) re-aggregation, no literal.
- **Codes and recon_err are projections**: the codes array and the
  reconstruction error (per-subspace minima folded in subspace order)
  come straight off the kernel's per-row arrays — zero shuffles in the
  encode (rounded by callers — the 6dp registry contract absorbs
  summation-order noise).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arrow_ballista_spark.operators import ivf
from arrow_ballista_spark.operators.similarity import _vector_reader, norm


def pq_codebooks(
    corpus: DataFrame, id_col: str, vec: str, m: int, k: int
) -> list[list[list[float]]]:
    """``codebooks[s][c]`` = codeword ``c`` of subspace ``s``: the
    subvectors of the k smallest-md5 corpus vectors (md5 of the STRING id
    — bit-identical in DuckDB), code order = md5 order."""
    rows = (
        corpus.select(F.col(id_col).alias("_id"), F.col(vec).alias("_v"))
        .orderBy(F.md5(F.col("_id").cast("string")), F.col("_id"))
        .limit(k)
        .collect()
    )
    if not rows:
        raise ValueError("pq_codebooks: empty corpus")
    d = len(rows[0]["_v"])
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    return [
        [[float(x) for x in r["_v"][s * sub : (s + 1) * sub]] for r in rows]
        for s in range(m)
    ]


def _adc_sum(m: int):
    """The map-only ADC distance: sum of the per-subspace table lookups,
    folded in subspace order over the ``_qt``/``_codes`` columns."""
    return F.expr(
        f"aggregate(sequence(0, {m - 1}), cast(0.0 as double),"
        " (acc, s) -> acc + _qt[s][_codes[s]])"
    )


def _sub_dists(books: "list[list[list[float]]]"):
    """The one per-subspace squared-L2 kernel: returns ``dists(X)``, the
    ``(n, m, k)`` distances from each row's subvector ``s`` to codeword
    ``c`` of subspace ``s``, accumulated ``acc += (x_i - cw_i)^2`` in
    ``i`` order — elementwise float64, identical to the SQL
    ``aggregate`` left-to-right fold and the DuckDB ``list_reduce``.
    The corpus encode keeps its argmin (:func:`_pq_assign_arrow`); the
    query side keeps the whole table (:func:`_pq_query_tables`).  A
    nested function, so cloudpickle ships it by value."""
    import numpy as np

    B = np.asarray(books, dtype=np.float64)  # (m, k, sub)
    m, k, sub = B.shape

    def dists(X):
        import numpy as np

        S = X.reshape(len(X), m, sub)
        D = np.zeros((len(X), m, k), dtype=np.float64)
        for i in range(sub):  # i order == the SQL fold
            diff = S[:, :, i, None] - B[None, :, :, i]
            D += diff * diff
        return D

    return dists


def _pq_assign_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    books: "list[list[list[float]]]",
    cents: "list[list[float]] | None" = None,
    residual: bool = False,
) -> DataFrame:
    """ONE vectorized pass over the corpus computing, per row: the IVF
    cell (when ``cents`` is given), the residual basis swap (when
    ``residual``), and the per-subspace PQ assignment — returned as
    ``(id_col[, cell int], _codes array<int>, _dists array<double>)``.

    Why a Python kernel (guide §4.2): the per-row work here is k*m
    squared-L2 folds (+ n_cells cosine folds for IVF) — higher-order
    SQL array functions evaluate this INTERPRETED (CodegenFallback),
    measured ~1 us per multiply-add, while the pre-r12 shape paid an
    explode to (vector, subspace) rows, a codebook broadcast join and a
    groupBy(id, s) argmin shuffle around the same interpreted folds.
    One ``mapInArrow`` batch hands the whole block to numpy: measured
    5x faster than the join shape at sf0.1 (0.25 s vs 1.21 s for the
    encode pass) with ZERO exchanges — the corpus never shuffles.

    Bit-exactness contract (the oracle equality argument, preserved
    term by term):

    - subspace distance: :func:`_sub_dists`;
    - argmin ties: ``np.argmin`` keeps the FIRST minimum = smallest
      code, the ``min_by(code, struct(dist, code))`` /
      ``row_number() ORDER BY dist, code`` contract;
    - cell cosine: ``ivf._cosine_sims``, ``argmax`` first-max ties =
      the oracle's ``sim DESC, cell ASC``;
    - residual: elementwise ``v - centroid[cell]`` = ``zip_with``.

    Only (id, vector) cross the Python boundary (a column-pruned
    select); numpy state is built once on the driver and shipped in the
    closure.  Callers must pre-filter zero-norm rows when ``cents`` is
    given (the serving-index population).

    Input contract: ``similarity._vector_reader`` (NULL or ragged
    vectors raise a ``ValueError`` naming the row).  Zero-norm
    CENTROIDS are rejected at setup (``ivf._cosine_sims``).
    """
    import numpy as np

    m = len(books)
    dists = _sub_dists(books)
    sims = ivf._cosine_sims(cents) if cents is not None else None
    C = np.asarray(cents, dtype=np.float64) if residual else None
    read = _vector_reader("_pq_assign_arrow", m * len(books[0][0]))

    def assign(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            X = read(batch.column(1))
            n = len(X)
            cols, names = [batch.column(0)], [id_col]
            if sims is not None:
                cell = sims(X).argmax(axis=1)  # first max == smallest cell
                if C is not None:
                    X = X - C[cell]
                cols.append(pa.array(cell.astype(np.int32)))
                names.append("cell")
            D = dists(X)
            codes = D.argmin(axis=2)  # first min == smallest code
            best = np.take_along_axis(D, codes[:, :, None], axis=2)
            off = pa.array(np.arange(0, (n + 1) * m, m, dtype=np.int32))
            for vals in (codes.astype(np.int32), best):
                cols.append(
                    pa.ListArray.from_arrays(off, pa.array(vals.reshape(-1)))
                )
            yield pa.RecordBatch.from_arrays(cols, names + ["_codes", "_dists"])

    fields = [T.StructField(id_col, df.schema[id_col].dataType)]
    if cents is not None:
        fields.append(T.StructField("cell", T.IntegerType()))
    fields += [
        T.StructField("_codes", T.ArrayType(T.IntegerType())),
        T.StructField("_dists", T.ArrayType(T.DoubleType())),
    ]
    src = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    return src.mapInArrow(assign, T.StructType(fields))


def _pq_query_tables(
    queries: DataFrame,
    vec_col: str,
    books: "list[list[list[float]]]",
    cents: "list[list[float]] | None" = None,
) -> DataFrame:
    """The query side of every ADC search: one Arrow pass replacing
    ``vec_col`` by ``_qt array<array<double>>``, ``_qt[s][code]`` = the
    exact subspace distance from the query's subvector ``s`` to
    ``code`` (:func:`_sub_dists`, the corpus encode's own fold), shaped
    for the map-only ``_qt[s][_codes[s]]`` lookup of :func:`_adc_sum`.
    With ``cents`` (residual IVF-PQ) each row first subtracts the
    centroid of its probed ``cell`` column (elementwise ``q - c`` =
    ``zip_with``).  Lazy: the query frame is never collected."""
    import numpy as np

    m, k = len(books), len(books[0])
    dists = _sub_dists(books)
    C = np.asarray(cents, dtype=np.float64) if cents is not None else None
    read = _vector_reader("_pq_query_tables", m * len(books[0][0]))
    pos = queries.columns.index(vec_col)
    cpos = queries.columns.index("cell") if cents is not None else None
    keep = [i for i, c in enumerate(queries.columns) if c != vec_col]

    def tables(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            X = read(batch.column(pos))
            if C is not None:
                X = X - C[batch.column(cpos).to_numpy(zero_copy_only=False)]
            n = len(X)
            inner = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n * m + 1) * k, k, dtype=np.int32)),
                pa.array(dists(X).reshape(-1)),
            )
            qt = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n + 1) * m, m, dtype=np.int32)), inner
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in keep] + [qt],
                [batch.schema.names[i] for i in keep] + ["_qt"],
            )

    fields = [queries.schema.fields[i] for i in keep]
    qt = T.StructField("_qt", T.ArrayType(T.ArrayType(T.DoubleType())))
    return queries.mapInArrow(tables, T.StructType(fields + [qt]))


def pq_code_rows(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    m: int = 8,
    k: int = 16,
    books: "list[list[list[float]]] | None" = None,
) -> DataFrame:
    """Per-subspace PQ assignment as ``(id_col, s, code, dist)`` ROWS —
    the encode dataflow of :func:`pq_encode` stopped before its final
    per-id array aggregation.  Since r12 the assignment is the
    :func:`_pq_assign_arrow` vectorized pass; the only Generate in the
    plan posexplodes m ALREADY-DECIDED rows per vector — no codebook
    join, no (id, s) shuffle.  ``dist`` is the winning codeword's
    squared L2 distance (feeds recon_err)."""
    if books is None:
        books = pq_codebooks(df, id_col, vec_col, m, k)
    kern = _pq_assign_arrow(df, id_col, vec_col, books)
    return kern.select(
        F.col(id_col),
        F.posexplode(F.arrays_zip("_codes", "_dists")).alias("s", "b"),
    ).select(
        id_col,
        F.col("s").cast("int").alias("s"),
        F.col("b._codes").alias("code"),
        F.col("b._dists").alias("dist"),
    )


def pq_encode(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    m: int = 8,
    k: int = 16,
    books: "list[list[list[float]]] | None" = None,
) -> DataFrame:
    """Encode every vector: ``(id_col, codes array<int> length m,
    recon_err double)`` with ``recon_err`` the total squared quantization
    error (sum over subspaces of the winning codeword's squared L2
    distance — unrounded; callers round for oracle output).  Map-only
    since r12: codes and recon_err project straight off
    :func:`_pq_assign_arrow`, deleting the explode + groupBy(id, s) +
    groupBy(id) collect_list round-trip (2 exchanges) from the encode.
    The cross-subspace sum folds in subspace order — one of the orders
    the previous nondeterministic ``SUM`` could produce; callers round
    to 6dp (the registry contract), which absorbs order noise.
    ``books`` lets a caller that already collected the codebooks skip
    the duplicate sample job."""
    if books is None:
        books = pq_codebooks(df, id_col, vec_col, m, k)
    kern = _pq_assign_arrow(df, id_col, vec_col, books)
    return kern.select(
        id_col,
        F.col("_codes").alias("codes"),
        F.expr(
            "aggregate(_dists, cast(0.0 as double), (acc, x) -> acc + x)"
        ).alias("recon_err"),
    )


def _ranked_topk(scored, query_id: str, corpus_id: str, k: int,
                 dist_col: str, out_col: str):
    """The shared engine-stability ranking tail: 6dp-rounded distance
    then id ties, row_number window, top-k — ONE implementation of the
    rounding/tie contract (pq_adc_topk's docstring) so a change to it
    cannot diverge across the four search paths."""
    from pyspark.sql import Window

    rounded = (
        F.floor(F.abs(F.col(dist_col)) * 1e6 + F.lit(0.5)) / 1e6
    )  # dist >= 0: cround without the sign branch
    w = Window.partitionBy(query_id).orderBy(rounded.asc(), F.col(corpus_id))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            query_id,
            corpus_id,
            rounded.alias(out_col),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )

def pq_adc_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec: str = "embedding",
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    books: "list[list[list[float]]] | None" = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — the search half of
    Jégou 2011: the corpus is stored as m codes per vector; each query
    precomputes an (m x n_codes) table of exact subspace distances to
    every codeword, and the approximate distance is the sum of m table
    lookups — the corpus floats are never touched at query time.

    Returns ``(query_id, corpus_id, approx_dist, rnk)`` with rnk by
    (ROUNDED approx_dist ASC, corpus_id): ranking on the 6dp-rounded sum
    makes the kept set engine-stable — identical-code vectors produce
    sums equal to the last ulp, and cross-engine summation-order noise
    (~1e-15 over m=8 addends) cannot flip a 1e-6-rounded key, so ties
    resolve by id identically on both sides (the tfidf lesson: rank by
    the rounded value, not the raw one).

    Scale shape (r12): the corpus encodes in one vectorized map-only
    pass (:func:`_pq_assign_arrow`); the nq query ADC tables
    (:func:`_pq_query_tables`, bounded) broadcast into a nested-loop
    join and the distance is m array lookups per (query, corpus) row —
    the corpus never shuffles before the per-query top-k window.  The
    pre-r12 shape paid two exchanges here (codes groupBy(id, s) + the
    (query, corpus) SUM)."""
    if books is None:  # quality path: train_codebooks(...)
        books = pq_codebooks(corpus, corpus_id, vec, m, n_codes)
    coded = _pq_assign_arrow(corpus, corpus_id, vec, books).select(
        F.col(corpus_id), F.col("_codes")
    )
    qt = _pq_query_tables(
        queries.select(
            F.col(query_id), F.col(vec).cast("array<double>").alias("_qv")
        ),
        "_qv",
        books,
    )
    scored = (
        coded.crossJoin(F.broadcast(qt))
        .filter(F.col(query_id) != F.col(corpus_id))
        .withColumn("adist", _adc_sum(len(books)))
    )
    return _ranked_topk(scored, query_id, corpus_id, k, "adist",
                        "approx_dist")


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    books: "list[list[list[float]]] | None" = None,
) -> DataFrame:
    """IVF-PQ top-k — the standard billion-scale ANN composition (the
    faiss ``IVFx,PQy`` index; Jégou 2011 §V): the IVF coarse quantizer
    prunes the search to ``nprobe`` of ``n_cells`` cells, and within the
    probed cells distances are ADC table lookups over the m-byte PQ
    codes — the corpus embeddings are touched only at INDEX time, never
    at query time, so the serving working set is codes + cell ids
    (9 bytes/vector here vs 256 for raw float64x8... per subspace).

    Non-residual variant: codes quantize the raw vectors (one global
    codebook set), not the cell residuals — the dataflow is identical
    and the residual refinement is a codebook-source swap, the same
    caveat as :func:`pq_codebooks` vs trained k-means.

    Ranking key is (6dp-rounded ADC distance, corpus_id) — the
    :func:`pq_adc_topk` engine-stability contract.  Scale shape (r12):
    the n_cells centroids and the m*k codebook are bounded driver
    artifacts; ONE vectorized pass over the corpus computes both the
    cell assignment and the PQ codes (:func:`_pq_assign_arrow` — no
    idx/codes branch to persist); the nq*nprobe probed (query, cell)
    rows carry their ADC tables and broadcast into a cell-keyed join,
    so the corpus never shuffles — the pre-r12 shape's codes groupBy,
    corpus_id-keyed candidate join, and (query, corpus) SUM exchanges
    are all gone.  At rest the corpus is written partitioned by cell so
    a probe prunes at the file level (the ext_sim_topk_ivf layout
    note)."""
    cents = ivf.choose_centroids(corpus, corpus_id, vec, n_cells)
    if books is None:  # quality path: train_codebooks(...)
        books = pq_codebooks(corpus, corpus_id, vec, m, n_codes)
    nz = corpus.select(
        F.col(corpus_id), F.col(vec).cast("array<double>").alias("_v")
    ).filter(norm(F.col("_v")) > 0)
    coded = _pq_assign_arrow(nz, corpus_id, "_v", books, cents=cents)
    qt = _pq_query_tables(
        ivf.probe_cells(
            queries.select(
                F.col(query_id), F.col(vec).cast("array<double>").alias("_qv")
            ),
            "_qv",
            cents,
            nprobe,
        ),
        "_qv",
        books,
    )
    scored = (
        coded.join(F.broadcast(qt), "cell")
        .filter(F.col(query_id) != F.col(corpus_id))
        .withColumn("adist", _adc_sum(len(books)))
    )
    return _ranked_topk(scored, query_id, corpus_id, k, "adist",
                        "approx_dist")


def train_codebooks(
    corpus: DataFrame,
    id_col: str,
    vec: str,
    m: int = 8,
    k: int = 16,
    sample: int = 4096,
    iters: int = 10,
) -> list[list[list[float]]]:
    """QUALITY codebooks: per-subspace Lloyd's k-means trained driver-side
    on the ``sample`` smallest-id vectors (numpy, deterministic smallest-id
    init, first-min ties) — the production PQ training step, bounded like
    :func:`whitening_literals <arrow_ballista_spark.operators.pca.whitening_literals>`.

    The md5-sample codebooks of :func:`pq_codebooks` keep the ENCODE
    dataflow value-exact against plain SQL but quantize with near-random
    distortion; trained codebooks are what makes ADC distances rank
    meaningfully (measured: recall@10 vs exact-L2 on the clustered
    fixture jumps from ~0.3 to >0.9 — SCALING.md r6 ANN table).  Returns
    the same ``books[s][c]`` shape; feed to :func:`pq_encode` /
    :func:`pq_adc_topk` / :func:`ivf_pq_topk` via ``books=``."""
    X = _sample_matrix(corpus, id_col, vec, sample, nonzero=False)
    return _lloyd_books(X, m, k, iters)


def _lloyd_books(X, m: int, k: int, iters: int) -> list[list[list[float]]]:
    """Per-subspace Lloyd's on a fixed float64 sample matrix — the shared
    numpy kernel behind :func:`train_codebooks` (Spark sample) and
    :func:`train_codebooks_literals` (pyarrow sample): deterministic
    smallest-id init, argmin first-min ties, fixed iteration order, so
    identical inputs produce bit-identical codebooks from either path."""
    import numpy as np

    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    books = []
    for s in range(m):
        S = X[:, s * sub : (s + 1) * sub]
        C = S[:k].copy()  # smallest-id init
        for _ in range(iters):
            dist = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = dist.argmin(axis=1)
            for c in range(k):
                members = S[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books.append([[float(x) for x in row] for row in C])
    return books


def train_codebooks_literals(
    sf_dir: str,
    m: int = 16,
    k: int = 32,
    sample: int = 4096,
    iters: int = 10,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> list[list[list[float]]]:
    """:func:`train_codebooks` without a SparkSession — the literal-oracle
    twin (the ``whitening_literals`` precedent, ``operators/pca.py``):
    stream the parquet row groups with pyarrow keeping only the ``sample``
    smallest-id vectors (driver memory O(sample + batch), not O(corpus)),
    then the SAME numpy Lloyd kernel.  Because both paths sort the same
    ids and feed the same float64 matrix to :func:`_lloyd_books`, the
    codebooks are bit-identical — so the SAME literals can drive the
    Spark plan and a generated DuckDB oracle."""
    import os

    import numpy as np

    from arrow_ballista_spark.operators.pca import smallest_id_sample

    path = os.path.join(sf_dir, f"{table}.parquet")
    smallest = smallest_id_sample(path, id_col, [vec], sample)
    X = np.array(smallest[vec].tolist(), dtype=np.float64)
    return _lloyd_books(X, m, k, iters)


def adaptive_shortlist_size(n: int, k: int = 10) -> int:
    """Scale-adaptive ADC shortlist R (VERDICT r7 item 3): with R fixed
    at 100, rerank recall@10 is 0.984 at 500 vectors but 0.768 at 20k
    (SCALING.md r7) — PQ quantization noise makes the true neighbors'
    ADC rank drift outward roughly with corpus size, so the exact-rerank
    window must track it.  ``max(100, 10k, ceil(0.02 n))`` restores
    ≥0.95 at every measured scale while the rerank stays a vanishing
    fraction of the corpus (2% of n, and the compressed index still
    prunes the other 98%)."""
    import math

    return max(100, 10 * k, math.ceil(0.02 * n))


def pq_rerank_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec: str = "embedding",
    k: int = 10,
    m: int = 16,
    n_codes: int = 32,
    books: "list[list[list[float]]] | None" = None,
    R: int = None,
) -> DataFrame:
    """The DEFAULT compressed-ANN quality composition — trained-codebook
    ADC shortlist → exact squared-L2 rerank — with the shortlist size
    derived from the corpus (one bounded ``count()`` job) via
    :func:`adaptive_shortlist_size` unless ``R`` is pinned.  This is the
    library entry point callers should reach for: the fixed-R recall
    cliff (0.768@20k with R=100, SCALING.md r7) cannot ship by default.
    ``ext_sim_topk_pq_trained`` pins R=100 at its registry SF (500
    vectors, where adaptive R resolves to the same 100) for oracle
    stability."""
    if books is None:
        books = train_codebooks(corpus, corpus_id, vec, m=m, k=n_codes)
    if R is None:
        R = adaptive_shortlist_size(corpus.count(), k)
    shortlist = pq_adc_topk(
        queries, corpus, query_id, corpus_id, vec,
        k=R, m=m, n_codes=n_codes, books=books,
    )
    return adc_rerank_exact(
        shortlist, queries, corpus, query_id, corpus_id, vec, k=k
    )


def adc_rerank_exact(
    shortlist: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Two-stage retrieval refine (the faiss ``IVFPQR`` / re-ranking
    step): exact squared-L2 on the ADC SHORTLIST only, then top-k.

    Why it exists (measured, SCALING.md r6): PQ distances resolve
    BETWEEN clusters but not within them — on the clustered fixture the
    quantization error dwarfs intra-cluster distance differences, so
    ADC recall@10 vs exact-L2 is ~0.07 while the CLUSTER is almost
    always right.  Reranking the ADC top-R with exact distances
    restores recall at R << corpus (0.95+ at R=400 on 20k vectors)
    while the compressed index still prunes the other ~98%.

    Scale shape: the shortlist is nq*R rows — the raw-vector join
    touches only those corpus rows (keyed equi-join; the scan is
    column-pruned to (id, vec)); ranking key (6dp-rounded dist, id) as
    everywhere."""
    q = queries.select(
        F.col(query_id), F.col(vec).cast("array<double>").alias("qv")
    )
    c = corpus.select(
        F.col(corpus_id), F.col(vec).cast("array<double>").alias("cv")
    )
    j = (
        shortlist.select(query_id, corpus_id)
        .join(F.broadcast(q), query_id)
        .join(c, corpus_id)
        .withColumn(
            "dist",
            F.expr(
                "aggregate(sequence(1, size(qv)), cast(0.0 as double),"
                " (acc, i) -> acc + (qv[i-1] - cv[i-1]) * (qv[i-1] - cv[i-1]))"
            ),
        )
    )
    return _ranked_topk(j, query_id, corpus_id, k, "dist", "dist")


def _sample_matrix(
    corpus: DataFrame,
    id_col: str,
    vec: str,
    sample: int,
    nonzero: bool = False,
):
    """The shared smallest-id training sample as a float64 matrix — one
    implementation for every Spark-side trainer (train_codebooks /
    train_residual_codebooks / train_coarse_centroids), so the sampling
    contract can never drift between them.  ``nonzero=True`` excludes
    zero-norm vectors, matching what the SERVING index does
    (``ivf.choose_centroids`` / ``assign_cells`` filter norm > 0) — the
    residual/coarse trainers must train on the population they serve.
    (:func:`train_codebooks` keeps nonzero=False: its literal twin
    :func:`train_codebooks_literals` pins that exact sample.)"""
    import numpy as np

    df = corpus.select(F.col(id_col).alias("_id"), F.col(vec).alias("_v"))
    if nonzero:
        df = df.filter(norm(F.col("_v")) > 0)
    rows = df.orderBy("_id").limit(sample).collect()
    if not rows:
        raise ValueError("_sample_matrix: empty corpus")
    return np.array([list(r["_v"]) for r in rows], dtype=np.float64)


def _cosine_cells(X, C):
    """Driver-side nearest-cosine-centroid assignment (first-max ties —
    the :func:`ivf.assign_cells` contract)."""
    import numpy as np

    xn = np.linalg.norm(X, axis=1, keepdims=True)
    cn = np.linalg.norm(C, axis=1, keepdims=True)
    den = xn * cn.T
    sims = (X @ C.T) / np.where(den == 0, np.inf, den)
    return sims.argmax(axis=1)


def train_residual_codebooks(
    corpus: DataFrame,
    id_col: str,
    vec: str,
    centroids: list[list[float]],
    m: int = 16,
    k: int = 32,
    sample: int = 4096,
    iters: int = 10,
    X=None,
) -> list[list[list[float]]]:
    """RESIDUAL codebooks — the true faiss ``IVFx,PQy`` training step
    (Jegou 2011 §V.A): quantize ``v - centroid(cell(v))`` instead of the
    raw vectors, so the PQ codebooks only have to cover the within-cell
    residual distribution (much tighter than the global one).  Bounded
    like :func:`train_codebooks`: the ``sample`` smallest-id NONZERO
    vectors (the serving-index population) collect, assign to their
    nearest cosine centroid driver-side, and the SAME Lloyd kernel
    trains on the residual matrix.  ``X`` lets a caller that already
    collected the sample (:func:`ivf_pq_residual_topk`'s default path)
    skip the duplicate job."""
    import numpy as np

    if X is None:
        X = _sample_matrix(corpus, id_col, vec, sample, nonzero=True)
    C = np.array(centroids, dtype=np.float64)
    cells = _cosine_cells(X, C)
    return _lloyd_books(X - C[cells], m, k, iters)

def ivf_pq_residual_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec: str = "embedding",
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 16,
    n_codes: int = 32,
    books: "list[list[list[float]]] | None" = None,
    cents: "list[list[float]] | None" = None,
) -> DataFrame:
    """RESIDUAL IVF-PQ top-k — completes :func:`ivf_pq_topk`'s
    "residual refinement is a codebook-source swap" caveat with the
    actual dataflow: corpus vectors encode their residual against their
    cell centroid, and each query builds a PER-PROBED-CELL distance
    table over its own residual ``q - centroid(cell)`` (the asymmetric
    distance then approximates the exact ``||q - x||^2`` with the
    coarse term absorbed).  Ranking contract as everywhere: 6dp-rounded
    distance, id ties.

    Scale shape (r12): centroids and codebooks stay bounded driver
    artifacts; ONE vectorized pass over the corpus computes cell,
    residual and PQ codes (:func:`_pq_assign_arrow` with
    ``residual=True`` — the pre-r12 idx persist + two centroid joins +
    codes groupBy are gone), and the per-(query, probed cell) residual
    tables broadcast into a single cell-keyed join, so the corpus never
    shuffles before the per-query top-k window.

    The ``nprobe=4`` default targets CLUSTERED corpora — the regime
    real embedding spaces produce, where it measures 1.000 recall@10
    at library defaults (SCALING.md r9).  On weakly-clustered or
    isotropic data cell pruning itself costs recall (measured ladder:
    0.686/0.860/0.930/0.954 at nprobe 4/8/12/16 on the adversarial
    isotropic 10x fixture, where nprobe=16 exactly meets the no-IVF
    PQ+rerank ceiling): raise nprobe toward ``n_cells``, or drop IVF
    and use :func:`pq_rerank_topk` whose adaptive-R default already
    meets 0.95 there."""
    if books is not None and cents is None:
        # residual codebooks are only meaningful in the basis of the
        # centroids they were trained against — silently training fresh
        # centroids here would compute ADC distances in a mismatched
        # basis with no error signal
        raise ValueError(
            "ivf_pq_residual_topk: books= requires the cents= they "
            "were trained against (train_residual_codebooks centroids)"
        )
    if cents is None or books is None:
        # collect the training sample ONCE for both trainers
        X = _sample_matrix(corpus, corpus_id, vec, 4096, nonzero=True)
        if cents is None:
            # residuals only shrink against cell MEANS — default to the
            # Lloyd-trained coarse quantizer, not the md5 point sample
            cents = train_coarse_centroids(
                corpus, corpus_id, vec, n_cells, X=X
            )
        if books is None:
            books = train_residual_codebooks(
                corpus, corpus_id, vec, cents, m=m, k=n_codes, X=X
            )
    nz = corpus.select(
        F.col(corpus_id), F.col(vec).cast("array<double>").alias("_v")
    ).filter(norm(F.col("_v")) > 0)
    coded = _pq_assign_arrow(
        nz, corpus_id, "_v", books, cents=cents, residual=True
    )
    qt = _pq_query_tables(
        ivf.probe_cells(
            queries.select(
                F.col(query_id), F.col(vec).cast("array<double>").alias("_qv")
            ),
            "_qv",
            cents,
            nprobe,
        ),
        "_qv",
        books,
        cents=cents,
    )
    scored = (
        coded.join(F.broadcast(qt), "cell")
        .filter(F.col(query_id) != F.col(corpus_id))
        .withColumn("adist", _adc_sum(len(books)))
    )
    return _ranked_topk(scored, query_id, corpus_id, k, "adist",
                        "approx_dist")


def train_coarse_centroids(
    corpus: DataFrame,
    id_col: str,
    vec: str,
    n_cells: int = 16,
    sample: int = 4096,
    iters: int = 10,
    X=None,
) -> list[list[float]]:
    """Lloyd-TRAINED coarse centroids for residual IVF-PQ — the faiss
    coarse quantizer is k-means, not a random sample, and this matters
    specifically for RESIDUAL encoding: subtracting a random corpus
    point (``ivf.choose_centroids``) does not shrink the residual
    distribution (measured: residual recon error 1.3x WORSE than global
    books under md5 centroids), while subtracting trained cell MEANS
    does.  Cosine assignment (the :func:`ivf.assign_cells` metric,
    first-max ties) + mean update — spherical k-means on the bounded
    smallest-id sample; same deterministic-driver contract as
    :func:`train_codebooks`."""
    if X is None:
        X = _sample_matrix(corpus, id_col, vec, sample, nonzero=True)
    return _spherical_kmeans(X, n_cells, iters)


def _spherical_kmeans(X, n_cells: int, iters: int) -> list[list[float]]:
    """Spherical-k-means numpy kernel on a fixed float64 sample matrix —
    shared by :func:`train_coarse_centroids` (Spark sample) and
    :func:`train_residual_literals` (pyarrow sample) so the two paths
    produce bit-identical centroids from identical inputs (the
    :func:`_lloyd_books` precedent)."""
    import numpy as np

    if len(X) < n_cells:
        # silently truncating to len(X) centroids would hand callers a
        # smaller index space than configured (mirrors the `dim not
        # divisible by m` guard in _lloyd_books)
        raise ValueError(
            f"coarse-quantizer training sample has {len(X)} nonzero "
            f"vectors < n_cells={n_cells}; lower n_cells or raise sample"
        )
    C = X[:n_cells].copy()  # smallest-id init (nonzero by construction)
    xn = np.linalg.norm(X, axis=1, keepdims=True)  # invariant across iters
    for _ in range(iters):
        cn = np.linalg.norm(C, axis=1, keepdims=True)
        den = xn * cn.T
        sims = (X @ C.T) / np.where(den == 0, np.inf, den)
        assign = sims.argmax(axis=1)
        for c in range(n_cells):
            members = X[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
    return [[float(x) for x in row] for row in C]


def train_residual_literals(
    sf_dir: str,
    n_cells: int = 16,
    m: int = 16,
    k: int = 32,
    sample: int = 4096,
    iters: int = 10,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec: str = "embedding",
):
    """:func:`train_coarse_centroids` + :func:`train_residual_codebooks`
    without a SparkSession — the literal-oracle twin for the residual
    IVF-PQ registry entry (the :func:`train_codebooks_literals`
    precedent): stream the parquet row groups keeping the ``sample``
    smallest-id NONZERO vectors (the serving-index population —
    ``_sample_matrix(nonzero=True)``'s exact contract), then the SAME
    numpy kernels.  Returns ``(cents, books)`` bit-identical to the
    Spark-side trainers on the same file, so the same literals can
    drive the Spark plan and a generated DuckDB oracle."""
    import os

    import numpy as np

    from arrow_ballista_spark.operators.pca import smallest_id_sample

    path = os.path.join(sf_dir, f"{table}.parquet")
    smallest = smallest_id_sample(path, id_col, [vec], sample,
                                  nonzero_vec=vec)
    X = np.array(smallest[vec].tolist(), dtype=np.float64)
    cents = _spherical_kmeans(X, n_cells, iters)
    C = np.array(cents, dtype=np.float64)
    books = _lloyd_books(X - C[_cosine_cells(X, C)], m, k, iters)
    return cents, books
