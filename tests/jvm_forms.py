"""JVM reference forms of the vector-search and MinHash kernels.

The engine computes each of these steps in one numpy/Arrow kernel.  The
SQL folds below are the forms those kernels replaced, kept here only as
the bit-exact references the parity tests compare against: every dot,
norm and squared distance is the sequential ``aggregate`` fold the DuckDB
oracles mirror, and every model value (centroid, codeword) enters as an
exact float64 literal.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from arrow_ballista_spark.operators.dedup import MERSENNE31, _perm_coeffs
from arrow_ballista_spark.operators.similarity import cosine_with_norms, norm


def dlit(x: float) -> str:
    """Exact double literal: repr() round-trips the binary value and the
    string cast parses it back bit-identically (a bare 1.23 in Spark SQL
    parses as DECIMAL)."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def sql_array(vec) -> str:
    return "array(" + ", ".join(dlit(x) for x in vec) + ")"


def sql_dot(vec_col: str, lit_array: str) -> str:
    """``similarity.dot`` as one SQL string."""
    return (
        f"aggregate(zip_with({vec_col}, {lit_array}, "
        f"(x, y) -> cast(x as double) * cast(y as double)), "
        f"cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _sims_sql(vec: str, centroids, cell_structs: bool) -> str:
    terms = []
    for i, c in enumerate(centroids):
        sim = (
            f"({sql_dot(vec, sql_array(c))} / "
            f"nullif(__rn * {dlit(math.sqrt(sum(x * x for x in c)))}, "
            f"cast(0.0 as double)))"
        )
        terms.append(
            f"named_struct('s', {sim}, 'cell', {i})" if cell_structs else sim
        )
    return "array(" + ", ".join(terms) + ")"


def assign_cells(corpus: DataFrame, vec: str, centroids) -> DataFrame:
    """Broadcast argmax over the centroid literals: first max cell."""
    best = F.expr("array_position(cells_sims, array_max(cells_sims)) - 1")
    return (
        corpus.withColumn("__rn", norm(F.col(vec)))
        .withColumn("cells_sims", F.expr(_sims_sql(vec, centroids, False)))
        .withColumn("cell", best.cast("int"))
        .drop("cells_sims", "__rn")
    )


def probe_cells(queries: DataFrame, vec: str, centroids, nprobe: int):
    """The nprobe nearest cells per query (exploded), by a reversed
    struct sort: sim DESC, cell DESC."""
    top = F.expr(
        f"slice(reverse(array_sort({_sims_sql(vec, centroids, True)})), "
        f"1, {nprobe})"
    )
    return (
        queries.withColumn("__rn", norm(F.col(vec)))
        .withColumn("cell", F.explode(F.transform(top, lambda x: x["cell"])))
        .withColumn("cell", F.col("cell").cast("int"))
        .drop("__rn")
    )


def pq_dist_tables(vec, books):
    """Per-query ADC table column: ``tbl[s][code]`` = the left-to-right
    squared-L2 fold from subvector ``s`` of ``vec`` to codeword ``code``,
    as a nested ``transform`` over one parsed codebook literal."""
    sub = len(books[0][0])
    lit = F.expr(
        "array("
        + ", ".join(
            "array(" + ", ".join(sql_array(cw) for cw in sb) + ")"
            for sb in books
        )
        + ")"
    )

    def sq_fold(cw, s):
        return F.aggregate(
            F.sequence(F.lit(1), F.lit(sub)),
            F.lit(0.0).cast("double"),
            lambda acc, i: acc
            + (vec[s * F.lit(sub) + i - 1] - cw[i - 1])
            * (vec[s * F.lit(sub) + i - 1] - cw[i - 1]),
        )

    return F.transform(
        lit, lambda sb, s: F.transform(sb, lambda cw, c: sq_fold(cw, s))
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
    """Broadcast queries x corpus crossJoin, ``cosine_with_norms`` fold,
    NULL cosines dropped, (cosine DESC, corpus id) window."""
    q = queries.select(
        F.col(query_id), F.col(vec).alias("qv"), norm(F.col(vec)).alias("qn")
    )
    c = corpus.select(
        F.col(corpus_id), F.col(vec).alias("cv"), norm(F.col(vec)).alias("cn")
    )
    scored = F.broadcast(q).crossJoin(c)
    if exclude_self:
        scored = scored.filter(F.col(query_id) != F.col(corpus_id))
    scored = scored.select(
        query_id,
        corpus_id,
        cosine_with_norms(
            F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
        ).alias("cos_raw"),
    ).filter(F.col("cos_raw").isNotNull())
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


def minhash_signature(hashes_col: str, num_perm: int = 128, seed: int = 42):
    """MinHash as ``mh_0 .. mh_{num_perm-1}`` columns: permutation i is
    ``array_min(transform(hashes, h -> pmod(a_i*h + b_i, p)))``."""
    return [
        F.expr(
            f"array_min(transform({hashes_col},"
            f" h -> pmod({a}L * h + {b}L, {MERSENNE31}L)))"
        ).alias(f"mh_{i}")
        for i, (a, b) in enumerate(_perm_coeffs(num_perm, seed))
    ]


def band_hash_array(num_perm: int, rows_per_band: int):
    """Band keys over the ``mh_*`` columns: per band one xxhash64 of its
    rows-per-band values salted with the band index."""
    return F.expr(
        "array("
        + ", ".join(
            "xxhash64("
            + ", ".join(
                f"`mh_{band * rows_per_band + r}`"
                for r in range(rows_per_band)
            )
            + f", {band})"
            for band in range(num_perm // rows_per_band)
        )
        + ")"
    )
