"""IVF (inverted-file) approximate nearest neighbor over embedding columns.

The second ANN layout next to hyperplane LSH (similarity.py): a coarse
quantizer partitions the corpus into cells; queries probe only the
``nprobe`` nearest cells and exact-rerank inside them.

Spark-first design:
- centroids are a tiny driver-side list (n_cells × dim floats) chosen
  deterministically from the corpus (min-xxhash sample — a seeded k-means
  refinement can swap in without changing the dataflow);
- cell assignment and query probing are map-only ``mapInArrow`` passes
  over one cosine-to-centroids kernel (:func:`_cosine_sims`), the
  centroids riding in its closure — no shuffle, no literal SQL;
- at scale the indexed corpus is written ``partitionBy("cell")`` so a
  query's probes prune to ~nprobe/n_cells of the data at the file level
  (partition pruning, no compute on unprobed cells);
- the probe join is queries×nprobe exploded rows joined on ``cell`` —
  corpus-sized shuffle avoided by broadcasting the (small) query side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arrow_ballista_spark.operators.caching import tracked_persist
from arrow_ballista_spark.operators.similarity import (
    _vector_reader,
    cosine_with_norms,
    norm,
)


def _cosine_sims(cents: "list[list[float]]"):
    """The one cosine-to-centroids kernel (cell assignment, probing and
    ``pq._pq_assign_arrow``): returns ``sims(V)``, the ``(n, n_cells)``
    cosines of each row of ``V`` to each centroid as an ordering key.
    Dot and row norm accumulate per coordinate in order and the centroid
    norms are ``math.sqrt`` over the Python left-to-right sum, so every
    cosine is bit-identical to the SQL fold ``dot / nullif(rn * cn, 0)``
    the DuckDB oracles compute.  A lane whose ``rn * cn`` is 0 (a zero-norm
    row) is the fold's NULL and reads ``-inf``; a NaN lane reads
    ``+inf`` — Spark orders NULL below and NaN above every number.  A
    nested function, so cloudpickle ships it by value (workers never
    import this package)."""
    import math

    import numpy as np

    cents_py = [[float(x) for x in c] for c in cents]
    if not cents_py:
        raise ValueError("IVF: no centroids (empty or all-zero corpus)")
    cnorms = [math.sqrt(sum(x * x for x in c)) for c in cents_py]
    if not all(x > 0 for x in cnorms):
        raise ValueError(
            "IVF: zero-norm centroid — the cosine cell assignment is "
            "undefined for it; filter it out"
        )
    C = np.asarray(cents_py, dtype=np.float64)
    cn = np.asarray(cnorms, dtype=np.float64)

    def sims(V):
        import numpy as np

        dots = np.zeros((len(V), len(C)), dtype=np.float64)
        sq = np.zeros(len(V), dtype=np.float64)
        for i in range(C.shape[1]):  # coordinate order == the SQL fold
            dots += V[:, i : i + 1] * C[:, i][None, :]
            sq += V[:, i] * V[:, i]
        den = np.sqrt(sq)[:, None] * cn[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            s = dots / den
        s = np.where(np.isnan(s), np.inf, s)
        s[den == 0] = -np.inf
        return s

    return sims


def choose_centroids(
    corpus: DataFrame, id_col: str, vec: str, n_cells: int
) -> list[list[float]]:
    """Deterministic coarse centroids: the n_cells corpus vectors with the
    smallest md5(id) — a seedable uniform sample (collect is n_cells rows,
    never the corpus).  md5 over the id's decimal string is engine-portable
    (bit-identical in DuckDB), so the whole IVF pipeline is oracle-able;
    zero-norm vectors are excluded up front (a zero centroid would make
    every cosine against it NULL/÷0)."""
    rows = (
        corpus.select(F.col(id_col), F.col(vec))
        .filter(norm(F.col(vec)) > 0)
        .orderBy(
            F.md5(F.col(id_col).cast("string").cast("binary")), F.col(id_col)
        )
        .limit(n_cells)
        .collect()
    )
    return [[float(x) for x in r[1]] for r in rows]


def _append_cells(df: DataFrame, vec: str, centroids, op: str, pick):
    """One Arrow pass over ``df`` appending ``cell int``: ``pick(s)``
    turns a batch's ``(n, n_cells)`` :func:`_cosine_sims` keys into
    ``(rows, cells)`` — the input row each output row repeats and its
    cell as an Arrow int32 array.  Input contract:
    ``similarity._vector_reader`` (NULL or ragged vectors raise a
    ``ValueError`` naming ``op``)."""
    sims = _cosine_sims(centroids)
    read = _vector_reader(op, len(centroids[0]))
    pos = df.columns.index(vec)

    def append(batches):
        import pyarrow as pa

        for batch in batches:
            rows, cells = pick(sims(read(batch.column(pos))))
            yield pa.RecordBatch.from_arrays(
                batch.take(pa.array(rows)).columns + [cells],
                batch.schema.names + ["cell"],
            )

    cell = T.StructField("cell", T.IntegerType())
    return df.mapInArrow(append, T.StructType(df.schema.fields + [cell]))


def assign_cells(
    corpus: DataFrame, vec: str, centroids: list[list[float]]
) -> DataFrame:
    """Map-only nearest-centroid assignment: appends ``cell int`` — the
    first maximum cosine (the oracle's ``sim DESC, cell ASC``), NULL for
    a zero-norm row, which has no cosine."""

    def first_max(s):
        import numpy as np
        import pyarrow as pa

        cell = s.argmax(axis=1).astype(np.int32)
        return np.arange(len(s)), pa.array(
            cell, mask=(s == -np.inf).all(axis=1)
        )

    return _append_cells(corpus, vec, centroids, "assign_cells", first_max)


def probe_cells(
    queries: DataFrame, vec: str, centroids: list[list[float]], nprobe: int
) -> DataFrame:
    """Attach the nprobe nearest cell ids to each query row (exploded),
    ranked by the oracle's ``sim DESC, cell DESC`` — so a zero-norm
    query, whose cosines are all NULL, probes the nprobe highest cell
    ids."""

    def nearest(s):
        import numpy as np
        import pyarrow as pa

        cells = np.broadcast_to(np.arange(s.shape[1]), s.shape)
        top = np.lexsort((-cells, -s))[:, :nprobe]
        return (
            np.repeat(np.arange(len(s)), top.shape[1]),
            pa.array(top.reshape(-1).astype(np.int32)),
        )

    return _append_cells(queries, vec, centroids, "probe_cells", nearest)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """End-to-end IVF top-k: build centroids from the corpus, assign
    cells, probe, exact-cosine rerank within probed cells."""
    centroids = choose_centroids(corpus, corpus_id, vec, n_cells)
    # tracked persist: consumed by the probe join; released via
    # operators.caching.release_caches() after the consuming action
    indexed = tracked_persist(
        assign_cells(
            corpus.select(
                F.col(corpus_id),
                F.col(vec).alias("cv"),
                norm(F.col(vec)).alias("cn"),
            )
            # zero-norm vectors have no cosine to ANY centroid (NULL
            # sims -> NULL cell): exclude them from the index explicitly
            # rather than letting them fall out as unjoinable NULL cells
            .filter(F.col("cn") > 0),
            "cv",
            centroids,
        )
    )
    probed = probe_cells(
        queries.select(
            F.col(query_id),
            F.col(vec).alias("qv"),
            norm(F.col(vec)).alias("qn"),
        ),
        "qv",
        centroids,
        nprobe,
    )
    scored = (
        F.broadcast(probed)
        .join(indexed, "cell")
        .filter(F.col(query_id) != F.col(corpus_id))
        .select(
            query_id,
            corpus_id,
            cosine_with_norms(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
            ).alias("cos_raw"),
        )
        .distinct()
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
