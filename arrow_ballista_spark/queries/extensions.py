"""North-star extension queries: dedup, similarity search, text analysis,
multimodal plumbing (BASELINE.json; no reference parity — the reference has
none of these, SURVEY.md §2.B.10/§7 M5).

Every oracle here is value-exact, not just approximately equal:

- Jaccard / ratios are divisions of identical ints → bit-identical doubles;
- cosine is a sequential double fold in both engines (Spark
  ``aggregate(zip_with(...))`` vs DuckDB ``list_reduce(list_transform(
  list_zip(...)))`` — same order, same widening) → bit-identical;
- hash-dependent ops (xxhash64 minhash/simhash/rolling-hash, Python-seeded
  LSH hyperplanes) are either verified against an *exact* brute-force
  oracle or declared rows-only.  The MinHash entries' exact oracles match
  because no fixture pair lies near the threshold, not because LSH recall
  is 1: with 32 bands of 4 rows a pair of Jaccard s is found with
  probability 1-(1-s^4)^32 — 0.873 at s = 0.5, 0.988 at 0.6 and 0.9998
  at 0.7.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arrow_ballista_spark.catalog import load_table
from arrow_ballista_spark.operators import dedup, layout, multimodal, similarity, text
from arrow_ballista_spark.queries import R, cround, query
from arrow_ballista_spark.session import shuffle_partitions
from arrow_ballista_spark.streaming import pipeline as streaming
from arrow_ballista_spark.types import local_frame

# Shared oracle fragments -------------------------------------------------

# distinct word 3-gram shingles of documents.text (matches
# operators.dedup.word_shingles(n=3))
_SQL_WORD_GRAMS = """
SELECT doc_id,
       list_distinct(CASE WHEN len(toks) < 3 THEN toks
           ELSE list_transform(generate_series(1, len(toks) - 2),
                i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) END)
         AS grams
FROM (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents)
"""

# sequential-fold double dot product (matches operators.similarity.dot)
def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}),"
        f" x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),"
        f" (acc, v) -> acc + v)"
    )


def _sql_cosine(a: str, b: str) -> str:
    return (
        f"({_sql_dot(a, b)} / "
        f"(sqrt({_sql_dot(a, a)}) * sqrt({_sql_dot(b, b)})))"
    )


# --- portable-hash oracle fragments ---------------------------------------
# The LSH / simhash / rolling-hash pipelines are deterministic given their
# Python-seeded hyperplanes and md5-derived token hashes, so their DuckDB
# oracles are *generated*: the same plane literals / hash arithmetic are
# emitted into SQL, and every intermediate (bucket ids, bit votes, modular
# hashes) is integer- or sign-exact across engines.

def _sql_hex15(expr: str) -> str:
    """BIGINT value of the first 15 hex chars of md5(expr) — the DuckDB
    twin of Spark's ``conv(substring(md5(..), 1, 15), 16, 10)``."""
    return (
        f"list_reduce(list_concat([0::BIGINT], list_transform(range(1, 16),"
        f" i -> instr('0123456789abcdef', substring(md5({expr}), i, 1)) - 1)),"
        f" (a, b) -> a * 16 + b)"
    )


def _sql_plane(plane: list[float]) -> str:
    return "[" + ", ".join(repr(float(x)) for x in plane) + "]"


def _sql_lsh_bucket(vec: str, planes: list[list[float]]) -> str:
    """Sign-bit LSH bucket id — sum of distinct powers of two == Spark's
    bitwiseOR of shifted bits; the dot's SIGN is bit-exact because both
    engines run the identical sequential double fold."""
    terms = [
        f"(CASE WHEN {_sql_dot(vec, _sql_plane(p))} > 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    ]
    return "(" + " + ".join(terms) + ")"


def _lsh_tables_sql(
    src: str, id_alias: str, vec: str, n_planes: int, n_tables: int,
    dim: int, seed: int, bucket_alias: str = "bucket",
) -> str:
    """UNION ALL of per-table bucket assignments (same plane literals as
    operators.similarity._hyperplanes)."""
    from arrow_ballista_spark.operators.similarity import _hyperplanes

    parts = []
    for t in range(n_tables):
        planes = _hyperplanes(n_planes, dim, seed + 1000 * t)
        parts.append(
            f"SELECT {id_alias}, {vec}, {t} AS tbl,"
            f" {_sql_lsh_bucket(vec, planes)} AS {bucket_alias} FROM {src}"
        )
    return " UNION ALL ".join(parts)


# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------

@query(
    "ext_dedup_exact",
    """
SELECT md5(text) AS text_hash,
       CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
""",
    doc="exact dedup: hash-groupBy keep-min-id (one shuffle, map-side combine)",
)
def ext_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text_hash", F.md5(F.col("text").cast("binary"))
    )
    return dedup.exact_dedup(docs, ["text_hash"], "doc_id")


@query(
    "ext_dedup_minhash_lsh",
    f"""
WITH g AS ({_SQL_WORD_GRAMS})
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       len(list_intersect(a.grams, b.grams))
         / len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard
FROM g a JOIN g b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.grams, b.grams))
        / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5
""",
    doc=(
        "MinHash+LSH near-dup: word-3-gram shingle -> 128-perm minhash -> "
        "32 bands of 4 rows -> bucket self-join -> exact-Jaccard verify.  "
        "Oracle is brute-force exact Jaccard; LSH miss probability for a "
        "true near-dup (s>=0.9) is (1-0.9^4)^32 ~ 1e-15, so outputs are "
        "identical, while near-orthogonal pairs collide at ~1e-4/band — "
        "the candidate join stays ~linear in corpus size.  At 100 TB only "
        "the banded join runs; the oracle's O(n^2) never does."
    ),
)
def ext_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_dedup_pairs(
        docs, "text", "doc_id", threshold=0.5, num_perm=128, rows_per_band=4
    )


@query(
    "ext_dedup_word_bigram_jaccard",
    """
WITH t AS (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents),
g AS (SELECT doc_id,
             list_distinct(CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
                  ELSE list_transform(generate_series(1, len(toks) - 1),
                                      i -> toks[i] || ' ' || toks[i + 1]) END)
               AS grams
      FROM t)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       len(list_intersect(a.grams, b.grams))
         / len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard
FROM g a JOIN g b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.grams, b.grams))
        / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5
""",
    doc="exact word-bigram Jaccard near-dup pairs (n-gram Jaccard family)",
)
def ext_dedup_word_bigram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # let-binding idiom: bind the token array once per row (an inline
    # split() inside the gram lambda re-evaluates per element — 7x slower)
    bigrams = F.expr(
        "transform(array(split(text, ' +')), t -> "
        "CASE WHEN size(t) < 2 THEN slice(t, 1, 0) ELSE "
        "transform(sequence(1, size(t) - 1),"
        " i -> concat(t[i-1], ' ', t[i+0])) END)[0]"
    )
    g = docs.select(
        F.col("doc_id"), F.array_distinct(bigrams).alias("grams")
    )
    a = g.select(F.col("doc_id").alias("id_a"), F.col("grams").alias("grams_a"))
    b = g.select(F.col("doc_id").alias("id_b"), F.col("grams").alias("grams_b"))
    jac = F.size(F.array_intersect("grams_a", "grams_b")) / F.size(
        F.array_union("grams_a", "grams_b")
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


@query(
    "ext_dedup_simhash",
    f"""
WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), ' +')) AS w
             FROM documents),
hv AS (SELECT doc_id, {_sql_hex15("w")} AS h FROM tok),
votes AS (SELECT doc_id, j, SUM(((h >> j) & 1) * 2 - 1) AS vote
          FROM hv CROSS JOIN (SELECT unnest(range(0, 60)) AS j) bits
          GROUP BY doc_id, j),
sh AS (SELECT doc_id,
              CAST(SUM(CASE WHEN vote > 0 THEN (1::BIGINT << j) ELSE 0 END)
                   AS BIGINT) AS sh
       FROM votes GROUP BY doc_id),
ch AS (SELECT doc_id, sh, ci, (sh >> (15 * CAST(ci AS INT))) & 32767 AS cv
       FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS ci) chunks),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                a.sh AS sh_a, b.sh AS sh_b
         FROM ch a JOIN ch b
           ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
""",
    doc=(
        "60-bit SimHash (md5-derived token hashes — engine-portable, so "
        "the banded pipeline is value-oracled) + 4x15-bit banded "
        "Hamming<=3 near-dup pairs"
    ),
)
def ext_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.simhash_near_dup_pairs(docs, "text", "doc_id", max_hamming=3)
    return pairs.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


@query(
    "ext_dedup_embedding_cosine",
    f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {R(_sql_cosine("a.embedding", "b.embedding"), 6)} AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE {_sql_cosine("a.embedding", "b.embedding")} >= 0.35
""",
    doc="embedding-cosine near-dup pairs (exact form; LSH variant is the scale path)",
)
def ext_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.cosine_near_dup_pairs(emb, "vec_id", "embedding", 0.35)
    return pairs.select(
        "id_a", "id_b", cround(F.col("cos_raw"), 6).alias("cosine")
    )


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------

_TOPK_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < 10),
c AS (SELECT vec_id AS corpus_id, embedding AS cv FROM embeddings),
s AS (SELECT query_id, corpus_id, {_sql_cosine("qv", "cv")} AS cos_raw
      FROM q, c WHERE query_id <> corpus_id),
r AS (SELECT query_id, corpus_id, cos_raw,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, corpus_id) AS rnk
      FROM s)
SELECT query_id, corpus_id, {R("cos_raw", 6)} AS cosine, CAST(rnk AS INT) AS rnk
FROM r WHERE rnk <= 5
"""


@query(
    "ext_sim_topk_bruteforce",
    _TOPK_ORACLE,
    doc=(
        "exact cosine top-5: broadcast query batch x streamed corpus, "
        "windowed rank.  One corpus scan per query batch at any scale."
    ),
)
def ext_sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    out = similarity.brute_force_topk(
        queries, corpus, "query_id", "corpus_id", "embedding", k=5
    )
    return out.select(
        "query_id", "corpus_id", cround(F.col("cosine"), 6).alias("cosine"), "rnk"
    )


def _topk_lsh_oracle() -> str:
    """Generated oracle: the same seeded hyperplanes the Spark operator
    builds as literals (similarity._hyperplanes, seed 42) are emitted into
    SQL, so bucket ids — and therefore the candidate set — are identical;
    the exact-cosine re-rank then hash-matches like the brute-force twin.

    n_tables=32 is the measured recall@10 >= 0.97 operating point on the
    ISOTROPIC test embeddings (SCALING.md ANN-recall table, r6): random
    Gaussian vectors are the worst case for LSH — true top-10 neighbors
    sit at cos ~0.35 where per-plane agreement is barely above 1/2 — and
    the r5 default of 8 tables measured only 0.58@1x / 0.76@10x.  Recall
    RISES with corpus growth at fixed budget (0.976 -> 0.998 from 1x to
    10x) because larger corpora put more genuinely-close neighbors in
    every bucket."""
    n_planes, n_tables, dim, seed, k = 8, 32, 64, 42, 5
    probes = ", ".join(
        ["b0"] + [f"xor(b0, {1 << i})" for i in range(n_planes)]
    )
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < 10),
c AS (SELECT vec_id AS corpus_id, embedding AS cv FROM embeddings),
cb AS ({_lsh_tables_sql("c", "corpus_id", "cv", n_planes, n_tables, dim, seed)}),
qb AS ({_lsh_tables_sql("q", "query_id", "qv", n_planes, n_tables, dim, seed,
                        bucket_alias="b0")}),
qp AS (SELECT query_id, qv, tbl, unnest([{probes}]) AS bucket FROM qb),
s AS (SELECT DISTINCT query_id, corpus_id, {_sql_cosine("qv", "cv")} AS cos_raw
      FROM qp JOIN cb ON qp.tbl = cb.tbl AND qp.bucket = cb.bucket
      WHERE query_id <> corpus_id),
r AS (SELECT query_id, corpus_id, cos_raw,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, corpus_id) AS rnk
      FROM s)
SELECT query_id, corpus_id, {R("cos_raw", 6)} AS cosine, CAST(rnk AS INT) AS rnk
FROM r WHERE rnk <= {k}
"""


@query(
    "ext_sim_topk_lsh",
    _topk_lsh_oracle(),
    doc=(
        "approximate top-5 via random-hyperplane LSH buckets + Hamming-1 "
        "multiprobe + exact re-rank; at scale the corpus is written "
        "partitioned by bucket so each query touches ~corpus/2^bits rows. "
        "Value-oracled: the seeded plane literals are emitted into the "
        "DuckDB SQL, so buckets/candidates/ranks match exactly"
    ),
)
def ext_sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    out = similarity.hyperplane_lsh_topk(
        queries, corpus, "query_id", "corpus_id", "embedding",
        k=5, n_planes=8, n_tables=32, dim=64,
    )
    return out.select(
        "query_id", "corpus_id", cround(F.col("cosine"), 6).alias("cosine"), "rnk"
    )


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------

@query(
    "ext_text_stats",
    f"""
WITH t AS (SELECT doc_id, text, string_split_regex(text, ' +') AS toks
           FROM documents)
SELECT doc_id,
       CAST(len(toks) AS INT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '{text.BPE_TOKEN_PATTERN}')) AS INT)
         AS n_bpe_tokens,
       {R("CAST(list_sum(list_transform(toks, w -> length(w))) AS BIGINT)"
          " / len(toks)", 6)} AS avg_word_len,
       CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
            AS INT) AS n_punct
FROM t
""",
    doc="token counting (whitespace + BPE-ish regex), word-length, punctuation",
)
def ext_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count("text").cast("int").alias("n_tokens"),
        text.bpe_ish_token_count("text").cast("int").alias("n_bpe_tokens"),
        cround(text.avg_word_length("text"), 6).alias("avg_word_len"),
        text.punct_count("text").cast("int").alias("n_punct"),
    )


def _sql_stopword_count(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in text.STOPWORDS[lang])
    return (
        f"len(list_filter(string_split_regex(lower(text), ' +'),"
        f" w -> list_contains([{words}], w)))"
    )


@query(
    "ext_text_quality_langid",
    f"""
WITH s AS (SELECT doc_id, text,
                  len(string_split_regex(text, ' +')) AS n_tok,
                  {_sql_stopword_count("en")} AS sw_en,
                  {_sql_stopword_count("es")} AS sw_es,
                  {_sql_stopword_count("fr")} AS sw_fr,
                  length(text)
                    - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
                    AS n_punct
           FROM documents)
SELECT doc_id,
       {R("(CASE WHEN n_tok BETWEEN 10 AND 100000 THEN CAST(0.4 AS DOUBLE)"
          " ELSE 0.0 END"
          " + CASE WHEN sw_en / n_tok > 0.01 THEN CAST(0.3 AS DOUBLE)"
          " ELSE 0.0 END"
          " + CASE WHEN n_punct / NULLIF(length(text), 0) < 0.1"
          " THEN CAST(0.3 AS DOUBLE) ELSE 0.0 END)", 6)} AS quality,
       CASE WHEN sw_en = greatest(sw_en, sw_es, sw_fr) AND sw_en > 0 THEN 'en'
            WHEN sw_es = greatest(sw_en, sw_es, sw_fr) AND sw_es > 0 THEN 'es'
            WHEN sw_fr = greatest(sw_en, sw_es, sw_fr) AND sw_fr > 0 THEN 'fr'
            ELSE 'und' END AS lang_pred
FROM s
""",
    doc="gopher-style quality score + stopword-heuristic language ID",
)
def ext_text_quality_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # lowered token array materialized once; langid's per-language scores
    # (each referenced by greatest + its WHEN arm) reuse it
    staged = docs.select(
        "doc_id", "text", text.lower_tokens("text").alias("lt")
    )
    return staged.select(
        "doc_id",
        cround(text.quality_score("text"), 6).alias("quality"),
        text.langid_predict("lt").alias("lang_pred"),
    )


@query(
    "ext_text_fingerprint",
    """
SELECT md5(array_to_string(list_sort(list_distinct(
           string_split_regex(lower(text), ' +'))), ' ')) AS fp,
       COUNT(*) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS keep_id
FROM documents
GROUP BY 1
""",
    doc="collection fingerprint (md5 of sorted distinct lowercase tokens) dedup groups",
)
def ext_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(text.fingerprint("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
        )
    )


def _sql_roll_fold(positions: str) -> str:
    """Direct Rabin-Karp fold over the chars at ``positions`` — equals the
    Spark side's O(n) incremental update modulo 2^31-1 (integer-exact in
    both engines)."""
    return (
        f"list_reduce(list_concat([0::BIGINT], list_transform({positions},"
        f" j -> ascii(substring(text, CAST(j AS INT), 1)))),"
        f" (a, c) -> (a * {text.ROLL_BASE} + c) % {text.ROLL_MOD})"
    )


@query(
    "ext_text_rolling_hash",
    f"""
SELECT doc_id,
       CASE WHEN length(text) <= 8
            THEN {_sql_roll_fold("range(1, greatest(length(text), 1) + 1)")}
            ELSE list_aggregate(list_transform(
                     range(1, length(text) - 6),
                     i -> {_sql_roll_fold("range(i, i + 8)")}), 'min')
       END AS rhash
FROM documents
""",
    doc=(
        "shift-robust rolling-hash document sketch: min Rabin-Karp hash "
        "(base 257 mod 2^31-1) over 8-char windows; O(n) incremental fold "
        "Spark-side, value-oracled against direct per-window recompute"
    ),
)
def ext_text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", text.rolling_hash("text").alias("rhash"))


# --------------------------------------------------------------------------
# Multimodal plumbing (decode stubbed; schema/UDF/batch shape real)
# --------------------------------------------------------------------------

@query(
    "ext_multimodal_features",
    """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS sha_hex,
       substring(lower(hex(encode(text))), 1, 16) AS head_hex
FROM documents
""",
    doc=(
        "Arrow-batched (mapInPandas) feature extraction over an opaque "
        "binary column; decode itself is stubbed (no codec libs here)"
    ),
)
def ext_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = multimodal.attach_blob(load_table(spark, sf_dir, "documents"))
    return multimodal.extract_blob_features(docs)


@query(
    "ext_multimodal_frames",
    """
WITH f AS (SELECT doc_id,
                  lower(hex(encode(text))) AS hx,
                  octet_length(encode(text)) AS nb,
                  unnest(generate_series(
                      0, CAST(floor((octet_length(encode(text)) - 1)
                                    / 256) AS INT))) AS i
           FROM documents)
SELECT doc_id,
       CAST(i AS INT) AS frame_idx,
       CAST(least(256, nb - 256 * i) AS INT) AS frame_len,
       md5(substring(hx, 1 + 512 * i, 512)) AS frame_md5
FROM f
""",
    doc=(
        "video-style frame sampling: fixed-size byte frames via mapInPandas "
        "1->N explosion; frame_md5 is md5 over the frame's lowercase hex "
        "encoding, which keeps the oracle octet-exact on ANY input (DuckDB "
        "md5 only hashes VARCHAR, so raw frame bytes aren't expressible; "
        "hex-then-md5 is — VERDICT r8 item 2)"
    ),
)
def ext_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = multimodal.attach_blob(load_table(spark, sf_dir, "documents"))
    return multimodal.sample_frames(docs, frame_size=256)


def _ascii_bytes(t: str, n: int) -> bytes:
    """Byte-pinned codec fixture text: every non-ASCII code point
    becomes ONE ``'?'`` byte, then pad/truncate to ``n`` bytes.  The
    oracle half is the ``regexp_replace(text, '[^\\x00-\\x7f]', '?',
    'g')`` wrapped inside every codec entry's ``rpad`` — after the
    replacement, characters == bytes on BOTH sides, so the
    ``ascii(substring(...))`` byte indexing in the SQL is exact on any
    input, not just ASCII corpora (VERDICT r8 item 2)."""
    return t.encode("ascii", errors="replace").ljust(n, b" ")[:n]


def _docs_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, text) repartitioned to the session parallelism: the
    single-file documents scan arrives as 1-2 partitions, which pins the
    codec entries' CPU-heavy mapInPandas stages on two cores (measured:
    jpeg_stats 12.8s -> 1.3s at sf0.1 — the ppjoin tokenize precedent)."""
    parts = shuffle_partitions(spark)
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(parts, "doc_id")
    )


@query(
    "ext_multimodal_image_stats",
    f"""
WITH px AS (
  SELECT doc_id, i,
         ascii(substring(rpad(regexp_replace(text, '[^\\x00-\\x7f]', '?', 'g'), 192, ' '), i, 1)) AS code
  FROM documents, unnest(generate_series(1, 192)) AS g(i)
)
SELECT doc_id,
       CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
       CAST(3 AS INT) AS channels,
       {R("avg(CASE WHEN (i - 1) % 3 = 0 THEN CAST(code AS DOUBLE) END)", 4)}
         AS mean_r,
       {R("avg(CASE WHEN (i - 1) % 3 = 1 THEN CAST(code AS DOUBLE) END)", 4)}
         AS mean_g,
       {R("avg(CASE WHEN (i - 1) % 3 = 2 THEN CAST(code AS DOUBLE) END)", 4)}
         AS mean_b
FROM px GROUP BY doc_id
""",
    doc=(
        "REAL image decode, driver-witnessable: build an 8x8 P6 PPM blob "
        "per document from its first 192 text bytes (ASCII fixture: byte "
        "== codepoint), run it through the actual library-free decoder + "
        "per-channel statistics (operators/multimodal.py:decode_ppm / "
        "image_stats — header parse, reshape, channel split all real), "
        "and check against an INDEPENDENT byte-level SQL computation of "
        "the same channel means.  Compressed codecs (PNG/JPEG) remain "
        "env-gated; raw PPM/BMP/WAV decode natively.  Map-only Arrow "
        "batches; blobs never leave the executor."
    ),
)
def ext_multimodal_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = _docs_spread(spark, sf_dir)

    def mk(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "blob": [
                        b"P6\n8 8\n255\n"
                        + _ascii_bytes(t, 192)
                        for t in pdf["text"]
                    ],
                }
            )

    blobs = docs.mapInPandas(mk, "doc_id bigint, blob binary")
    out = multimodal.image_stats(blobs, thumb=4)
    return out.select(
        "doc_id", "width", "height", "channels",
        cround("mean_r", 4).alias("mean_r"),
        cround("mean_g", 4).alias("mean_g"),
        cround("mean_b", 4).alias("mean_b"),
    )


@query(
    "ext_multimodal_png_stats",
    f"""
WITH px AS (
  SELECT doc_id, i,
         ascii(substring(rpad(regexp_replace(text, '[^\\x00-\\x7f]', '?', 'g'), 192, ' '), i, 1)) AS code
  FROM documents, unnest(generate_series(1, 192)) AS g(i)
)
SELECT doc_id,
       CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
       CAST(3 AS INT) AS channels,
       {R("CASE WHEN doc_id % 8 = 3 THEN avg(CASE WHEN i <= 64 THEN floor(code / 16.0) * 17 END) ELSE avg(CASE WHEN (i - 1) % 3 = 0 THEN CAST(code AS DOUBLE) END) END", 4)}
         AS mean_r,
       {R("CASE WHEN doc_id % 8 = 3 THEN avg(CASE WHEN i <= 64 THEN floor(code / 16.0) * 17 END) ELSE avg(CASE WHEN (i - 1) % 3 = 1 THEN CAST(code AS DOUBLE) END) END", 4)}
         AS mean_g,
       {R("CASE WHEN doc_id % 8 = 3 THEN avg(CASE WHEN i <= 64 THEN floor(code / 16.0) * 17 END) ELSE avg(CASE WHEN (i - 1) % 3 = 2 THEN CAST(code AS DOUBLE) END) END", 4)}
         AS mean_b
FROM px GROUP BY doc_id
""",
    doc=(
        "REAL PNG decode — sequential AND Adam7-interlaced — driver-"
        "witnessable: per document, deflate-compress its first 192 "
        "text bytes into an actual 8x8 RGB PNG whose rows cycle ALL "
        "FIVE spec filters (None/Sub/Up/Average/Paeth); even doc_ids "
        "write the Adam7 interlaced layout (RFC 2083 §8.2: seven pass "
        "sub-images, per-pass filter chains — r8), odd the sequential "
        "one, doc_id%4==1 writes 16-BIT depth (byte-wise filters "
        "with bpp=6, high-byte downscale — r8), and doc_id%8==3 "
        "writes 4-BIT Adam7 GRAYSCALE from the first 64 bytes' high "
        "nibbles (sub-8 packed samples, filters over packed bytes "
        "with bpp=1, exact x17 gray scaling — r9, so the oracle "
        "cases that lane to avg(floor(code/16)*17)); then run the "
        "stdlib-zlib decoder + channel statistics "
        "(operators/multimodal.py:decode_png — chunk walk, inflate, "
        "per-row filter reversal, pass reassembly all real) and check "
        "against the same INDEPENDENT byte-level SQL channel means as "
        "the PPM entry: the encode/decode round-trip must be the "
        "identity or the hash breaks.  PNG is the most common "
        "web-crawl image format (VERDICT r5 item 5); WebP stays "
        "env-gated.  Map-only Arrow batches."
    ),
)
def ext_multimodal_png_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = _docs_spread(spark, sf_dir)

    def mk(batches):
        import numpy as np

        for pdf in batches:
            blobs = []
            for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                if d % 8 == 3:
                    # 4-bit Adam7 GRAYSCALE lane (r9): high nibbles of
                    # the first 64 bytes; decode scales by exactly 17
                    # (255/15), so the oracle lane is
                    # avg(floor(code/16)*17) on all three channels
                    codes = np.frombuffer(
                        _ascii_bytes(t, 64), np.uint8
                    ).reshape(8, 8)
                    blobs.append(
                        multimodal.encode_png(
                            codes >> 4, filters=(0, 1, 2, 3, 4),
                            interlace=True, gray_bits=4,
                        )
                    )
                    continue
                px = np.frombuffer(
                    _ascii_bytes(t, 192), np.uint8
                ).reshape(8, 8, 3)
                # even docs take the Adam7-INTERLACED path (seven pass
                # sub-images, per-pass filter chains), odd docs the
                # sequential layout — PNG is lossless, so one oracle
                # witnesses both decode paths
                blobs.append(
                    multimodal.encode_png(
                        px, filters=(0, 1, 2, 3, 4),
                        interlace=(d % 2 == 0),
                        # doc_id % 4 == 1: 16-bit depth (v<<8|v widening;
                        # the high-byte downscale round-trips exactly)
                        depth16=(d % 4 == 1),
                    )
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"), "blob": blobs}
            )

    blobs = docs.mapInPandas(mk, "doc_id bigint, blob binary")
    out = multimodal.image_stats(blobs, thumb=4)
    return out.select(
        "doc_id", "width", "height", "channels",
        cround("mean_r", 4).alias("mean_r"),
        cround("mean_g", 4).alias("mean_g"),
        cround("mean_b", 4).alias("mean_b"),
    )


@query(
    "ext_multimodal_jpeg_stats",
    f"""
WITH px AS (
  SELECT doc_id, i,
         ascii(substring(rpad(regexp_replace(text, '[^\\x00-\\x7f]', '?', 'g'), 48, ' '), i, 1)) AS code
  FROM documents, unnest(generate_series(1, 48)) AS g(i)
)
SELECT doc_id,
       CAST(64 AS INT) AS width, CAST(48 AS INT) AS height,
       CAST(3 AS INT) AS channels,
       {R("avg(CAST(code AS DOUBLE))", 4)} AS mean_r,
       {R("avg(CAST(code AS DOUBLE))", 4)} AS mean_g,
       {R("avg(CAST(code AS DOUBLE))", 4)} AS mean_b
FROM px GROUP BY doc_id
""",
    doc=(
        "REAL JPEG decode — baseline AND progressive — driver-"
        "witnessable (VERDICT r6 item 3; r7 item 6).  ASCII fixture "
        "contract (byte == codepoint), like the PPM/PNG/WAV siblings: "
        "the oracle indexes characters, the engine bytes — identical "
        "on the driver's ASCII documents.  Per document, tile its "
        "first 48 text bytes as 48 CONSTANT 8x8 blocks of a 64x48 "
        "grayscale image; EVEN doc_ids encode with the library-free "
        "T.81 Annex G PROGRESSIVE writer (SOF2: interleaved DC "
        "first+refinement at Al=1->0, spectral-band AC scans, EOB "
        "runs, per-scan restart resync), doc_id%4==1 with the "
        "ARITHMETIC writer (SOF9 + DAC conditioning, T.81 Annex D "
        "QM-coder over the F.2.4 statistical models — r9), the rest "
        "with the baseline "
        "writer (quality 95, restart interval 3) — then everything "
        "decodes through the library-free T.81 reader (marker walk, "
        "DQT/DHT/DAC parse, Huffman OR QM-coder entropy decode with "
        "byte-unstuffing and restart resync, multi-scan coefficient "
        "accumulation for "
        "SOF2, DC prediction, dequant, batched float64 IDCT — "
        "operators/jpeg.py) into channel means.  Why a LOSSY codec "
        "can be value-exact: a constant block has only a DC "
        "coefficient, 8*(v-128), and the quality-95 luminance DC "
        "quantizer is 2, which divides it exactly — zero quantization "
        "error, so both decode paths are the identity and the means "
        "equal the INDEPENDENT byte-level SQL average or the hash "
        "breaks.  Lossy-path fidelity (AC coefficients, chroma "
        "subsampling, successive approximation) is covered by the "
        "progressive==baseline pixel-identity property test "
        "(tests/test_properties.py).  Map-only Arrow batches; blobs "
        "never leave the executor."
    ),
)
def ext_multimodal_jpeg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = _docs_spread(spark, sf_dir)

    def mk(batches):
        import numpy as np

        from arrow_ballista_spark.operators.jpeg import (
            encode_jpeg,
            encode_jpeg_arith,
        )

        for pdf in batches:
            blobs = []
            for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
                codes = np.frombuffer(
                    _ascii_bytes(t, 48), np.uint8
                ).reshape(6, 8)
                img = np.repeat(np.repeat(codes, 8, 0), 8, 1)
                d = int(doc_id)
                # even docs take the PROGRESSIVE path (SOF2 multi-scan
                # accumulate: DC first+refine, AC bands, EOB runs),
                # doc_id%4==1 the ARITHMETIC path (SOF9 + DAC, Annex D
                # QM-coder), the rest baseline Huffman — all
                # value-exact on constant blocks, so one oracle
                # witnesses all three decoders
                if d % 4 == 1:
                    blobs.append(encode_jpeg_arith(img, quality=95))
                else:
                    blobs.append(
                        encode_jpeg(
                            img, quality=95, restart=3,
                            progressive=(d % 2 == 0),
                        )
                    )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"), "blob": blobs}
            )

    blobs = docs.mapInPandas(mk, "doc_id bigint, blob binary")
    out = multimodal.image_stats(blobs, thumb=4)
    return out.select(
        "doc_id", "width", "height", "channels",
        cround("mean_r", 4).alias("mean_r"),
        cround("mean_g", 4).alias("mean_g"),
        cround("mean_b", 4).alias("mean_b"),
    )


@query(
    "ext_multimodal_audio_stats",
    f"""
WITH smp AS (
  SELECT doc_id, j,
         (ascii(substring(rpad(regexp_replace(text, '[^\\x00-\\x7f]', '?', 'g'), 192, ' '), 2 * j - 1, 1))
          + 256 * ascii(substring(rpad(regexp_replace(text, '[^\\x00-\\x7f]', '?', 'g'), 192, ' '), 2 * j, 1)))
           AS raw
  FROM documents, unnest(generate_series(1, 96)) AS g(j)
), f AS (
  SELECT doc_id,
         CAST(CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END
              AS DOUBLE) / 32768.0 AS s
  FROM smp
)
SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
       CAST(96 AS BIGINT) AS n_frames, CAST(1 AS INT) AS n_channels,
       {R("sqrt(avg(s * s))", 6)} AS rms,
       {R("max(abs(s))", 6)} AS peak
FROM f GROUP BY doc_id
""",
    doc=(
        "REAL audio decode, driver-witnessable (the WAV twin of "
        "ext_multimodal_image_stats): synthesize a PCM-16 mono 8 kHz WAV "
        "blob per document from its first 192 text bytes, decode it with "
        "the library-free RIFF parser (operators/multimodal.py:"
        "decode_wav — chunk walk, int16 scaling, channel reshape all "
        "real) into duration/RMS/peak via the distributed audio_stats "
        "stage, and check against an independent little-endian int16 "
        "reconstruction in SQL.  Map-only Arrow batches."
    ),
)
def ext_multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import struct

    import pandas as pd

    docs = _docs_spread(spark, sf_dir)

    def mk(batches):
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        for pdf in batches:
            blobs = []
            for t in pdf["text"]:
                data = _ascii_bytes(t, 192)
                blobs.append(
                    b"RIFF"
                    + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
                    + b"WAVE"
                    + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                    + b"data" + struct.pack("<I", len(data)) + data
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"), "blob": blobs}
            )

    blobs = docs.mapInPandas(mk, "doc_id bigint, blob binary")
    out = multimodal.audio_stats(blobs)
    return out.select(
        "doc_id", "sample_rate", "n_frames", "n_channels",
        cround("rms", 6).alias("rms"),
        cround("peak", 6).alias("peak"),
    )


@query(
    "ext_multimodal_mulaw_stats",
    f"""
WITH smp AS (
  SELECT doc_id,
         255 - ascii(substring(rpad(regexp_replace(text, '[^\\x00-\\x7f]', '?', 'g'), 96, ' '), j, 1)) AS u
  FROM documents, unnest(generate_series(1, 96)) AS g(j)
), lin AS (
  SELECT doc_id,
         CAST(CASE WHEN u >= 128
              THEN 132 - (((u % 16) * 8 + 132) * (1 << ((u // 16) % 8)))
              ELSE (((u % 16) * 8 + 132) * (1 << ((u // 16) % 8))) - 132
              END AS DOUBLE) / 32768.0 AS s
  FROM smp
)
SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
       CAST(96 AS BIGINT) AS n_frames, CAST(1 AS INT) AS n_channels,
       {R("sqrt(avg(s * s))", 6)} AS rms,
       {R("max(abs(s))", 6)} AS peak
FROM lin GROUP BY doc_id
""",
    doc=(
        "REAL G.711 µ-law telephony decode, driver-witnessable (the "
        "companded-WAV sibling of ext_multimodal_audio_stats, r8): per "
        "document, wrap its first 96 text bytes as the CODE bytes of a "
        "format-tag-7 (µ-law) mono 8 kHz WAV, decode through the "
        "library-free RIFF parser + 256-entry G.711 expansion LUT "
        "(operators/multimodal.py:decode_wav / _g711_ulaw_table — the "
        "canonical bias-132 segmented expansion), and compare RMS/peak "
        "against an INDEPENDENT closed-form replay of the expansion in "
        "SQL (complement, mantissa*8+132 shifted by the exponent "
        "segment, sign fold) — the LUT and the formula must agree on "
        "every code byte or the hash breaks.  A-law (tag 6) shares the "
        "code path and is pinned by unit test.  Map-only Arrow batches."
    ),
)
def ext_multimodal_mulaw_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import struct

    import pandas as pd

    docs = _docs_spread(spark, sf_dir)

    def mk(batches):
        fmt = struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8)
        for pdf in batches:
            blobs = []
            for t in pdf["text"]:
                data = _ascii_bytes(t, 96)
                blobs.append(
                    b"RIFF"
                    + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
                    + b"WAVE"
                    + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                    + b"data" + struct.pack("<I", len(data)) + data
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"), "blob": blobs}
            )

    blobs = docs.mapInPandas(mk, "doc_id bigint, blob binary")
    out = multimodal.audio_stats(blobs)
    return out.select(
        "doc_id", "sample_rate", "n_frames", "n_channels",
        cround("rms", 6).alias("rms"),
        cround("peak", 6).alias("peak"),
    )


@query(
    "ext_multimodal_gif_stats",
    f"""
WITH px AS (
  SELECT doc_id, i,
         ascii(substring(rpad(regexp_replace(text, '[^\\x00-\\x7f]', '?', 'g'), 64, ' '), i, 1)) AS code
  FROM documents, unnest(generate_series(1, 64)) AS g(i)
)
SELECT doc_id,
       CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
       CAST(3 AS INT) AS channels,
       {R("avg(CAST(code AS DOUBLE))", 4)} AS mean_r,
       {R("avg(CAST(code AS DOUBLE))", 4)} AS mean_g,
       {R("avg(CAST(code AS DOUBLE))", 4)} AS mean_b
FROM px GROUP BY doc_id
""",
    doc=(
        "REAL GIF decode, driver-witnessable (r8 — completes the "
        "PPM/BMP/PNG/JPEG/WAV codec family with the remaining common "
        "web image format): per document, its first 64 text bytes "
        "become an 8x8 grayscale image written as a REAL GIF89a — "
        "global color table, genuine variable-width LZW compression "
        "(CLEAR/EOI, width growth at table boundaries, the KwKwK "
        "case), even doc_ids in the 4-pass INTERLACED row order — then "
        "decoded through the library-free reader "
        "(operators/multimodal.py:decode_gif — block walk, LZW with "
        "table freeze/re-CLEAR, deinterlace) into channel means, "
        "checked against the independent byte-level SQL average.  GIF "
        "is LOSSLESS palette indexing, so decode must be the identity "
        "or the hash breaks.  Map-only Arrow batches."
    ),
)
def ext_multimodal_gif_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = _docs_spread(spark, sf_dir)

    def mk(batches):
        import numpy as np

        for pdf in batches:
            blobs = []
            for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
                codes = np.frombuffer(
                    _ascii_bytes(t, 64), np.uint8
                ).reshape(8, 8)
                img = np.repeat(codes[:, :, None], 3, axis=2)
                blobs.append(
                    multimodal.encode_gif(
                        img, interlace=(int(doc_id) % 2 == 0)
                    )
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"), "blob": blobs}
            )

    blobs = docs.mapInPandas(mk, "doc_id bigint, blob binary")
    out = multimodal.image_stats(blobs, thumb=4)
    return out.select(
        "doc_id", "width", "height", "channels",
        cround("mean_r", 4).alias("mean_r"),
        cround("mean_g", 4).alias("mean_g"),
        cround("mean_b", 4).alias("mean_b"),
    )


@query(
    "ext_multimodal_tiff_stats",
    f"""
WITH px AS (
  SELECT doc_id, i,
         ascii(substring(rpad(regexp_replace(text, '[^\\x00-\\x7f]', '?', 'g'), 48, ' '), i, 1)) AS code
  FROM documents, unnest(generate_series(1, 48)) AS g(i)
)
SELECT doc_id,
       CAST(CASE WHEN doc_id % 8 = 6 THEN 64 ELSE 8 END AS INT) AS width,
       CAST(CASE WHEN doc_id % 8 = 6 THEN 48 ELSE 6 END AS INT) AS height,
       CAST(3 AS INT) AS channels,
       {R("avg(CAST(code AS DOUBLE))", 4)} AS mean_r,
       {R("avg(CAST(code AS DOUBLE))", 4)} AS mean_g,
       {R("avg(CAST(code AS DOUBLE))", 4)} AS mean_b
FROM px GROUP BY doc_id
""",
    doc=(
        "REAL TIFF 6.0 decode, driver-witnessable (the scanned-document "
        "format of OCR corpora): per document, its first 48 text bytes "
        "become a 6x8 grayscale image written as a TIFF whose layout "
        "cycles the real-world variants by doc_id — even doc_ids "
        "BIG-endian (MM): %8==0 TILED 16x16 (§15 padded-edge gather), "
        "%8==2 predictor-2 uncompressed strips (§14), %8==4 "
        "Deflate+predictor (Tech Note 2, stdlib zlib), %8==6 "
        "new-style JPEG strips (compression 7, shared JPEGTables tag "
        "347, 8x-kron DC-exact blocks so the mean oracle holds "
        "byte-exactly; the non-tiled non-JPEG even lanes use "
        "2-rows-per-strip layout); odd little-endian (II): %8==1 PackBits RLE "
        "(§9), %8==5 Deflate, %8==3 LZW+predictor-2, %8==7 LZW tiled "
        "— all decoded "
        "through the library-free IFD walk (operators/multimodal.py:"
        "decode_tiff — tag/type parse, inline-vs-offset values, "
        "strip/tile gather, horizontal-differencing undo, LZW with "
        "EarlyChange) into channel means checked against the "
        "independent byte-level SQL average.  Every lossless variant "
        "must decode as the identity and the JPEG lane is DC-exact by "
        "construction, or the hash breaks; only old-style JPEG "
        "(compression 6) TIFF stays env-gated.  Map-only "
        "Arrow batches."
    ),
)
def ext_multimodal_tiff_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = _docs_spread(spark, sf_dir)

    def mk(batches):
        import numpy as np

        for pdf in batches:
            blobs = []
            for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
                codes = np.frombuffer(
                    _ascii_bytes(t, 48), np.uint8
                ).reshape(6, 8)
                d = int(doc_id)
                if d % 8 == 6:
                    # new-style JPEG-in-TIFF lane (compression 7,
                    # Tech Note 2): each byte becomes an 8x8-constant
                    # block (48x64 canvas) so quality-100 decode is
                    # DC-exact and the channel MEAN equals the byte
                    # mean — the same oracle value as the lossless
                    # lanes; shared JPEGTables (tag 347) exercises
                    # the abbreviated-stream merge in the hot path
                    img = np.kron(codes, np.ones((8, 8), np.uint8))
                    blobs.append(
                        multimodal.encode_tiff(
                            img, big_endian=True, rows_per_strip=16,
                            jpeg=100, jpeg_shared_tables=True,
                        )
                    )
                    continue
                blobs.append(
                    multimodal.encode_tiff(
                        codes,
                        big_endian=(d % 2 == 0),
                        rows_per_strip=2 if d % 2 == 0 else 0,
                        # compression lanes: PackBits RLE (§9), LZW
                        # (§13, MSB-first EarlyChange), zlib Deflate
                        # (Tech Note 2, stdlib zlib)
                        packbits=(d % 8 == 1),
                        lzw=(d % 4 == 3),
                        deflate=(d % 8 in (4, 5)),
                        # §14 horizontal differencing rides
                        # uncompressed, LZW, and Deflate lanes
                        predictor=(d % 8 in (2, 3, 4)),
                        # §15 tiled layout: one padded 16x16 tile over
                        # the 6x8 image, uncompressed and LZW lanes
                        tile=(16, 16) if d % 8 in (0, 7) else None,
                    )
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"), "blob": blobs}
            )

    blobs = docs.mapInPandas(mk, "doc_id bigint, blob binary")
    out = multimodal.image_stats(blobs, thumb=4)
    return out.select(
        "doc_id", "width", "height", "channels",
        cround("mean_r", 4).alias("mean_r"),
        cround("mean_g", 4).alias("mean_g"),
        cround("mean_b", 4).alias("mean_b"),
    )


def _ima_oracle() -> str:
    """Generated recursive-CTE oracle for IMA ADPCM: the step/index
    tables embed as VALUES (from the same module constants the decoder
    uses) and the stateful nibble chain replays sample-by-sample via
    WITH RECURSIVE — (predictor, step index) carried per document
    through 96 iterations of the bit-exact truncating-shift update."""
    from arrow_ballista_spark.operators.multimodal import (
        _IMA_INDEX,
        _IMA_STEPS,
    )

    steps = ", ".join(f"({i}, {s})" for i, s in enumerate(_IMA_STEPS))
    idxs = ", ".join(f"({n}, {d})" for n, d in enumerate(_IMA_INDEX))
    return f"""
WITH RECURSIVE steps(i, s) AS (
  VALUES {steps}
), it(n, d) AS (
  VALUES {idxs}
), nib AS (
  SELECT doc_id, k,
         CASE WHEN (k - 1) % 2 = 0
              THEN ascii(substring(rpad(regexp_replace(text, '[^\\x00-\\x7f]', '?', 'g'), 48, ' '),
                                   (k + 1) // 2, 1)) % 16
              ELSE ascii(substring(rpad(regexp_replace(text, '[^\\x00-\\x7f]', '?', 'g'), 48, ' '),
                                   k // 2, 1)) // 16
         END AS n
  FROM documents, unnest(generate_series(1, 96)) AS g(k)
), dec(doc_id, k, pred, idx) AS (
  SELECT doc_id, 0, 0, 0 FROM documents
  UNION ALL
  SELECT d.doc_id, d.k + 1,
         GREATEST(-32768, LEAST(32767,
           d.pred + (CASE WHEN nb.n >= 8 THEN -1 ELSE 1 END) *
             ((st.s >> 3)
              + CASE WHEN (nb.n % 8) >= 4 THEN st.s ELSE 0 END
              + CASE WHEN (nb.n % 4) >= 2 THEN (st.s >> 1) ELSE 0 END
              + CASE WHEN (nb.n % 2) = 1 THEN (st.s >> 2) ELSE 0 END))),
         GREATEST(0, LEAST(88, d.idx + it.d))
  FROM dec d
  JOIN nib nb ON nb.doc_id = d.doc_id AND nb.k = d.k + 1
  JOIN steps st ON st.i = d.idx
  JOIN it ON it.n = nb.n
  WHERE d.k < 96
), f AS (
  SELECT doc_id, CAST(pred AS DOUBLE) / 32768.0 AS sv FROM dec
)
SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
       CAST(97 AS BIGINT) AS n_frames, CAST(1 AS INT) AS n_channels,
       {R("sqrt(avg(sv * sv))", 6)} AS rms,
       {R("max(abs(sv))", 6)} AS peak
FROM f GROUP BY doc_id
"""


@query(
    "ext_multimodal_adpcm_stats",
    _ima_oracle(),
    doc=(
        "REAL IMA ADPCM (DVI4) decode, driver-witnessable (r8 — the "
        "STATEFUL compressed-audio sibling of the G.711 entry): per "
        "document, its first 48 text bytes become the raw nibble "
        "stream of a mono format-tag-0x11 WAV block (predictor 0, "
        "step index 0), decoded through the library-free reader "
        "(operators/multimodal.py:decode_wav — block walk, low-nibble-"
        "first order, the canonical truncating-shift predictor update "
        "with int16 clamp and 0..88 index clamp) into RMS/peak.  The "
        "oracle replays the SAME stateful chain in SQL: step/index "
        "tables as VALUES and a WITH RECURSIVE carrying (predictor, "
        "index) through 96 bit-exact iterations per document — every "
        "sample must match or the hash breaks (the unrolled-PageRank "
        "precedent, taken to per-sample state).  Lossy-codec fidelity "
        "(the greedy encoder, block restarts, fact-chunk trim) is "
        "pinned by unit tests against an independent scalar reference.  "
        "Map-only Arrow batches."
    ),
)
def ext_multimodal_adpcm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import struct

    import pandas as pd

    docs = _docs_spread(spark, sf_dir)

    def mk(batches):
        fmt = struct.pack("<HHIIHH", 0x11, 1, 8000, 4000, 52, 4)
        for pdf in batches:
            blobs = []
            for t in pdf["text"]:
                data = (
                    struct.pack("<hBB", 0, 0, 0)
                    + _ascii_bytes(t, 48)
                )
                blobs.append(
                    b"RIFF"
                    + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
                    + b"WAVE"
                    + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                    + b"data" + struct.pack("<I", len(data)) + data
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"), "blob": blobs}
            )

    blobs = docs.mapInPandas(mk, "doc_id bigint, blob binary")
    out = multimodal.audio_stats(blobs)
    return out.select(
        "doc_id", "sample_rate", "n_frames", "n_channels",
        cround("rms", 6).alias("rms"),
        cround("peak", 6).alias("peak"),
    )


@query(
    "ext_multimodal_gif_frames",
    f"""
WITH px AS (
  SELECT doc_id, f, i,
         ascii(substring(rpad(regexp_replace(text, '[^\\x00-\\x7f]', '?', 'g'), 192, ' '), f * 64 + i, 1)) AS code
  FROM documents,
       unnest(generate_series(0, 2)) AS gf(f),
       unnest(generate_series(1, 64)) AS gi(i)
)
SELECT doc_id, CAST(f AS INT) AS frame_idx,
       CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
       {R("avg(CAST(code AS DOUBLE))", 4)} AS mean_r,
       {R("avg(CAST(code AS DOUBLE))", 4)} AS mean_g,
       {R("avg(CAST(code AS DOUBLE))", 4)} AS mean_b
FROM px GROUP BY doc_id, f
""",
    doc=(
        "REAL 1→N video-frame extraction, driver-witnessable (r8): per "
        "document, its first 192 text bytes become a THREE-frame 8x8 "
        "grayscale GIF89a animation written with transparency DELTAS "
        "(frames 2-3 encode only pixels that changed vs the previous "
        "canvas — the real animation model; doc_id%3==1 runs frame 2 "
        "with disposal-3 restore-previous, so frame 3's deltas only "
        "reconstruct if the canvas history restore is exact — r9), "
        "then every frame decodes through the library-free reader "
        "(operators/multimodal.py:decode_gif_frames — persistent "
        "canvas, graphic-control transparency + disposal 0/1/2/3 "
        "compositing, per-frame LZW) and explodes into "
        "(doc_id, frame_idx, means) rows — the shot-sampling stage of "
        "a video pipeline running on an actual public container "
        "format instead of the fake_decode stub.  Oracle: the "
        "independent byte-window SQL average per frame — delta "
        "compositing must reconstruct each full frame exactly or the "
        "hash breaks.  Scale shape: map-only Arrow batches; the 1→N "
        "explosion multiplies rows, so downstream aggregation "
        "repartitions (the module's frame-sampling note)."
    ),
)
def ext_multimodal_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = _docs_spread(spark, sf_dir)

    def mk(batches):
        import numpy as np

        for pdf in batches:
            blobs = []
            for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
                data = _ascii_bytes(t, 192)
                frames = [
                    np.repeat(
                        np.frombuffer(
                            data[f * 64 : f * 64 + 64], np.uint8
                        ).reshape(8, 8)[:, :, None],
                        3,
                        axis=2,
                    )
                    for f in range(3)
                ]
                # doc_id%3==1 marks frame 2 disposal-3 (restore-
                # previous): frame 3's transparency deltas are then
                # computed against frame 1's canvas, so a decoder that
                # fails to restore composites wrong pixels and the
                # hash breaks — the full GIF89a disposal model is
                # value-witnessed, not just parsed
                disp = (
                    [0, 3, 0] if int(doc_id) % 3 == 1 else [0, 0, 0]
                )
                blobs.append(
                    multimodal.encode_gif_animation(
                        frames, disposals=disp, delta=True
                    )
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"), "blob": blobs}
            )

    blobs = docs.mapInPandas(mk, "doc_id bigint, blob binary")
    out = multimodal.gif_frame_stats(blobs)
    return out.select(
        "doc_id", "frame_idx", "width", "height",
        cround("mean_r", 4).alias("mean_r"),
        cround("mean_g", 4).alias("mean_g"),
        cround("mean_b", 4).alias("mean_b"),
    )


# --------------------------------------------------------------------------
# Structured Streaming (Spark-side extension; reference is batch-only,
# SURVEY.md §2.B.10).  Each runs the incremental plan over all available
# input (availableNow -> memory sink) and must equal the batch/SQL twin.
# --------------------------------------------------------------------------

@query(
    "ext_stream_tumbling_counts",
    f"""
SELECT date_trunc('hour', ts) AS win_start,
       event_type,
       COUNT(*) AS n_events,
       {R("SUM(value)", 2)} AS sum_value
FROM events
GROUP BY 1, 2
""",
    doc=(
        "watermarked 1h tumbling-window streaming aggregate (file source, "
        "availableNow); oracle is the equivalent batch SQL — streaming and "
        "batch must agree on bounded input"
    ),
)
def ext_stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = streaming.run_available_now(
        streaming.tumbling_counts(streaming.events_stream(spark, sf_dir)),
        "complete",
    )
    return out.select(
        F.col("win_start").cast("timestamp_ntz").alias("win_start"),
        "event_type",
        "n_events",
        cround(F.col("sum_value"), 2).alias("sum_value"),
    )


@query(
    "ext_stream_session_counts",
    """
WITH gaps AS (
    SELECT user_id, ts,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     > INTERVAL '30 minutes'
                THEN 1 ELSE 0 END AS brk
    FROM events
), islands AS (
    SELECT user_id, ts,
           SUM(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sid
    FROM gaps
)
SELECT MIN(ts) AS sess_start,
       MAX(ts) + INTERVAL '30 minutes' AS sess_end,
       user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM islands
GROUP BY user_id, sid
""",
    doc=(
        "watermarked gap-based SESSION windows per user on the stream "
        "(session_window + 2h watermark, availableNow, complete mode) — "
        "the stateful merge-adjacent-activity operator; oracle is the "
        "batch gaps-and-islands SQL the bounded run must converge to "
        "(streaming/pipeline.py:session_counts; batch twin "
        "events_session_window)"
    ),
)
def ext_stream_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = streaming.run_available_now(
        streaming.session_counts(streaming.events_stream(spark, sf_dir)),
        "complete",
    )
    return out.select(
        F.col("sess_start").cast("timestamp_ntz").alias("sess_start"),
        F.col("sess_end").cast("timestamp_ntz").alias("sess_end"),
        "user_id",
        "n_events",
    )


@query(
    "ext_stream_session_counts_closed",
    """
WITH gaps AS (
    SELECT user_id, ts,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     > INTERVAL '30 minutes'
                THEN 1 ELSE 0 END AS brk
    FROM events
), islands AS (
    SELECT user_id, ts,
           SUM(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sid
    FROM gaps
), sess AS (
    SELECT MIN(ts) AS sess_start,
           MAX(ts) + INTERVAL '30 minutes' AS sess_end,
           user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM islands
    GROUP BY user_id, sid
)
SELECT sess_start, sess_end, user_id, n_events
FROM sess
WHERE sess_end <= (SELECT date_trunc('milliseconds', MAX(ts))
                   FROM events) - INTERVAL '2 hours'
""",
    doc=(
        "the BOUNDED-STATE session operator: same gap-based session "
        "windows as ext_stream_session_counts but in APPEND mode — a "
        "session is emitted exactly once when the 2h watermark passes "
        "its end, and its state row is evicted, so state holds only "
        "OPEN sessions inside the watermark horizon instead of every "
        "session ever (the 100 TB configuration; complete mode's state "
        "equals the full session keyspace — SCALING.md r10/r11).  "
        "Oracle is the batch gaps-and-islands SQL restricted to "
        "watermark-closed sessions (sess_end <= max event time, "
        "ms-truncated as Spark's event-time stats are, minus the 2h "
        "delay); sessions still open at end-of-input are intentionally "
        "absent — on a real continuous stream they emit when their gap "
        "closes"
    ),
)
def ext_stream_session_counts_closed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    out = streaming.run_available_now(
        streaming.session_counts(streaming.events_stream(spark, sf_dir)),
        "append",
    )
    return out.select(
        F.col("sess_start").cast("timestamp_ntz").alias("sess_start"),
        F.col("sess_end").cast("timestamp_ntz").alias("sess_end"),
        "user_id",
        "n_events",
    )


@query(
    "ext_stream_stateful_user_counts",
    """
SELECT user_id, COUNT(*) AS total_events
FROM events
GROUP BY user_id
""",
    doc=(
        "custom stateful streaming operator (applyInPandasWithState) "
        "carrying per-user running totals in group state; oracle is the "
        "batch GROUP BY it must converge to on bounded input"
    ),
)
def ext_stream_stateful_user_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    out = streaming.run_available_now(
        streaming.stateful_user_counts(streaming.events_stream(spark, sf_dir)),
        "update",
    )
    # update-mode memory sink accumulates per-batch rows; the running
    # total is monotone, so max == the final value per user
    return out.groupBy("user_id").agg(
        F.max("total_events").alias("total_events")
    )


# --------------------------------------------------------------------------
# Python UDF surface (ref §2.B.11: ScalarUDF / AggregateUDF registries,
# executor.rs:67-73) — Arrow-batched pandas UDFs, never row-at-a-time.
# --------------------------------------------------------------------------

@query(
    "ext_udf_pandas_scalar",
    """
SELECT doc_id,
       CAST(length(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS INT)
         AS norm_len
FROM documents
""",
    doc="vectorized scalar pandas UDF (Arrow batches): text normalization; "
        "oracle recomputes in SQL — UDF results must be engine-equal",
)
def ext_udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.functions.pyudfs import norm_len_udf

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", norm_len_udf()(F.col("text")).alias("norm_len")
    )


@query(
    "ext_udaf_weighted_avg",
    """
SELECT l_returnflag,
       SUM(l_quantity * l_linenumber) / SUM(l_linenumber) AS weighted_qty
FROM lineitem
GROUP BY l_returnflag
""",
    doc="grouped-agg pandas UDAF (ref AggregateUDFExprNode, datafusion."
        "proto:558-563): weighted mean; integer-valued doubles make the "
        "result order-independent and bit-exact vs the SQL oracle",
)
def ext_udaf_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.functions.pyudfs import weighted_qty_udaf

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        weighted_qty_udaf()(F.col("l_quantity"), F.col("l_linenumber")).alias(
            "weighted_qty"
        )
    )


# --------------------------------------------------------------------------
# As-of join (custom operator; absent from both Spark and the reference —
# SURVEY.md §2.B.3 "as-of not required" is exceeded here on purpose)
# --------------------------------------------------------------------------

@query(
    "ext_asof_join",
    """
SELECT l.event_id, l.user_id, l.ts,
       COALESCE(r.ts, TIMESTAMP '1970-01-01') AS ts_asof,
       COALESCE(r.value, -1.0) AS value_asof
FROM (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                WHERE event_type = 'purchase') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
""",
    doc=(
        "as-of (point-in-time) join: each click gets the user's most "
        "recent prior purchase.  Implemented as union + keyed-window "
        "last(ignorenulls) — one shuffle of |L|+|R| rows, no range "
        "explosion; oracle is DuckDB's native ASOF LEFT JOIN"
    ),
)
def ext_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join(clicks, purchases, on="ts", by="user_id",
                    right_cols=["value"])
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.coalesce(F.col("ts_asof"), F.lit("1970-01-01").cast("timestamp_ntz"))
            .alias("ts_asof"),
        F.coalesce(F.col("value_asof"), F.lit(-1.0)).alias("value_asof"),
    )


@query(
    "ext_asof_join_bucketed",
    """
SELECT l.event_id, l.user_id, l.ts,
       COALESCE(r.ts, TIMESTAMP '1970-01-01') AS ts_asof,
       COALESCE(r.value, -1.0) AS value_asof
FROM (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                WHERE event_type = 'purchase') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
""",
    doc=(
        "skew-safe as-of join: same semantics (and oracle) as "
        "ext_asof_join, but the window partitions on (key, time-bucket) "
        "with a carry-in fix-up pass over bucket summaries, so one hot "
        "key splits across n_buckets tasks instead of a single straggler"
    ),
)
def ext_asof_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.operators.asof import asof_join_bucketed

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join_bucketed(
        clicks, purchases, on="ts", by="user_id", right_cols=["value"],
        n_buckets=16,
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.coalesce(F.col("ts_asof"), F.lit("1970-01-01").cast("timestamp_ntz"))
            .alias("ts_asof"),
        F.coalesce(F.col("value_asof"), F.lit(-1.0)).alias("value_asof"),
    )


def _lsh_near_dup_oracle() -> str:
    """Generated oracle for the all-pairs LSH variant — same seeded plane
    literals as operators.similarity.lsh_cosine_near_dup_pairs defaults."""
    n_planes, n_tables, dim, seed, thr = 8, 12, 64, 42, 0.35
    return f"""
WITH src AS (SELECT vec_id, embedding FROM embeddings),
e AS ({_lsh_tables_sql("src", "vec_id", "embedding", n_planes, n_tables,
                       dim, seed, bucket_alias="b")}),
cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM e a JOIN e b
           ON a.tbl = b.tbl AND a.b = b.b AND a.vec_id < b.vec_id),
v AS (SELECT id_a, id_b,
             {_sql_cosine("ea.embedding", "eb.embedding")} AS cos_raw
      FROM cand
      JOIN embeddings ea ON ea.vec_id = cand.id_a
      JOIN embeddings eb ON eb.vec_id = cand.id_b)
SELECT id_a, id_b, {R("cos_raw", 6)} AS cosine
FROM v WHERE cos_raw >= {thr}
"""


@query(
    "ext_sim_lsh_near_dup",
    _lsh_near_dup_oracle(),
    doc=(
        "LSH-bucketed embedding near-dup pairs (the scale path for "
        "ext_dedup_embedding_cosine): multi-table hyperplane LSH (k=8 "
        "bits x L=12 tables) + exact-cosine verify; the join touches "
        "~L*n^2/2^k pairs and recall at the cos>=0.9 design point is "
        "~0.96 (unit-tested on planted near-dups).  Value-oracled via "
        "emitted plane literals"
    ),
)
def ext_sim_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.lsh_cosine_near_dup_pairs(
        emb, "vec_id", "embedding", 0.35
    )
    return pairs.select(
        "id_a", "id_b", cround(F.col("cos_raw"), 6).alias("cosine")
    )


def _ivf_oracle() -> str:
    """Generated oracle: the whole IVF pipeline re-expressed in SQL.  The
    centroid sample is md5(id)-ordered (engine-portable, bit-identical),
    every similarity is the same sequential double fold, and the Spark
    side's tie-breaks are replicated exactly: cell assignment takes the
    FIRST max (sim DESC, cell ASC), probe selection reverses a struct sort
    (sim DESC, cell DESC)."""
    n_cells, nprobe, k = 16, 4, 5
    md5_order = "md5(CAST(vec_id AS VARCHAR)), vec_id"
    return f"""
WITH nz AS (SELECT vec_id, embedding FROM embeddings
            WHERE sqrt({_sql_dot("embedding", "embedding")}) > 0),
cent AS (SELECT embedding AS ce,
                row_number() OVER (ORDER BY {md5_order}) - 1 AS cell
         FROM nz QUALIFY row_number() OVER (ORDER BY {md5_order}) <= {n_cells}),
cw AS (SELECT cell, ce, sqrt({_sql_dot("ce", "ce")}) AS cen FROM cent),
c AS (SELECT vec_id AS corpus_id, embedding AS cv,
             sqrt({_sql_dot("embedding", "embedding")}) AS cn FROM nz),
asg AS (SELECT corpus_id, cv, cn, cell,
               row_number() OVER (PARTITION BY corpus_id
                                  ORDER BY sim DESC, cell ASC) AS r
        FROM (SELECT corpus_id, cv, cn, cell,
                     {_sql_dot("cv", "ce")} / nullif(cn * cen, 0.0) AS sim
              FROM c CROSS JOIN cw)),
idx AS (SELECT corpus_id, cv, cn, cell FROM asg WHERE r = 1),
qa AS (SELECT vec_id AS query_id, embedding AS qv,
              sqrt({_sql_dot("embedding", "embedding")}) AS qn
       FROM embeddings WHERE vec_id < 10),
qs AS (SELECT query_id, qv, qn, cell,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, cell DESC) AS r
       FROM (SELECT query_id, qv, qn, cell,
                    {_sql_dot("qv", "ce")} / nullif(qn * cen, 0.0) AS sim
             FROM qa CROSS JOIN cw)),
pr AS (SELECT query_id, qv, qn, cell FROM qs WHERE r <= {nprobe}),
sc AS (SELECT DISTINCT query_id, corpus_id,
              {_sql_dot("qv", "cv")} / nullif(qn * cn, 0.0) AS cos_raw
       FROM pr JOIN idx USING (cell)
       WHERE query_id <> corpus_id),
rk AS (SELECT query_id, corpus_id, cos_raw,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos_raw DESC, corpus_id) AS rnk
       FROM sc)
SELECT query_id, corpus_id, {R("cos_raw", 6)} AS cosine, CAST(rnk AS INT) AS rnk
FROM rk WHERE rnk <= {k}
"""


@query(
    "ext_sim_topk_ivf",
    _ivf_oracle(),
    doc=(
        "IVF approximate top-5: deterministic coarse centroids (min-md5 "
        "corpus sample — engine-portable), map-only cell assignment, "
        "nprobe=4/16 cells, exact-cosine rerank.  At scale the corpus is "
        "written partitioned by cell so probes prune at the file level. "
        "Value-oracled end-to-end in SQL.  Recall regime (measured, "
        "SCALING.md ANN-recall table r6): cell pruning presumes cluster "
        "structure — on CLUSTERED embeddings (the real-corpus case, GMM "
        "fixture) these settings measure recall@10 = 0.998 and the "
        "sqrt-n rule 1.0; on the ISOTROPIC testdata vectors no cell "
        "boundary separates neighbors from non-neighbors and recall is "
        "budget-bound (0.45 at nprobe=4, 0.78 at nprobe=8 = half the "
        "corpus) — use the LSH entry (distribution-free guarantees) or "
        "brute force for structureless data."
    ),
)
def ext_sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.operators import ivf

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    out = ivf.ivf_topk(queries_df, corpus, k=5, n_cells=16, nprobe=4)
    return out.select(
        "query_id", "corpus_id", cround(F.col("cosine"), 6).alias("cosine"),
        "rnk",
    )


@query(
    "ext_stream_dedup",
    """
SELECT event_type, CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_unique
FROM events
GROUP BY event_type
""",
    doc=(
        "streaming deduplication: dropDuplicatesWithinWatermark on "
        "event_id (state bounded by the watermark horizon) then per-type "
        "counts; oracle is the batch COUNT(DISTINCT) it must equal on "
        "bounded input"
    ),
)
def ext_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = streaming.events_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    deduped = ev.dropDuplicatesWithinWatermark(["event_id"])
    agg = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_unique")
    )
    return streaming.run_available_now(agg, "complete")


@query(
    "ext_skew_salted_join",
    """
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY o_orderstatus
""",
    doc=(
        "salting for skewed join keys (static fallback when AQE skew-join "
        "can't split a single hot key): left salted into 8 buckets, right "
        "replicated 8x, join on (key, salt).  Result provably equals the "
        "plain join — the oracle IS the plain join"
    ),
)
def ext_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.operators.skew import salted_join

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    joined = salted_join(orders, cust, on="o_custkey", salt_buckets=8)
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_custkey").alias("sum_cust"),
    )


@query(
    "ext_pipeline_clean_corpus",
    """
WITH scored AS (
    SELECT doc_id, lang, text,
           md5(array_to_string(list_sort(list_distinct(
               string_split_regex(lower(text), ' +'))), ' ')) AS fp,
           (CASE WHEN len(string_split_regex(text, ' +'))
                      BETWEEN 10 AND 100000
                 THEN CAST(0.4 AS DOUBLE) ELSE 0.0 END
            + CASE WHEN len(list_filter(string_split_regex(lower(text), ' +'),
                       w -> list_contains(['the','a','of','and','to','is','in'], w)))
                       / len(string_split_regex(text, ' +')) > 0.01
                   THEN CAST(0.3 AS DOUBLE) ELSE 0.0 END
            + CASE WHEN (length(text) - length(regexp_replace(text,
                        '[.,!?;:]', '', 'g'))) / NULLIF(length(text), 0) < 0.1
                   THEN CAST(0.3 AS DOUBLE) ELSE 0.0 END) AS quality
    FROM documents),
kept AS (
    SELECT * FROM scored
    WHERE quality >= 0.7
      AND doc_id = (SELECT MIN(s2.doc_id) FROM scored s2 WHERE s2.fp = scored.fp))
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars
FROM kept GROUP BY lang
""",
    doc=(
        "end-to-end training-data cleaning pipeline: quality filter "
        "(gopher-style) -> fingerprint dedup (keep min doc_id) -> per-"
        "language corpus stats.  The composition every 100 TB ingest run "
        "executes; all JVM-side"
    ),
)
def ext_pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        "text",
        text.fingerprint("text").alias("fp"),
        text.quality_score("text").alias("quality"),
    )
    w = Window.partitionBy("fp")
    kept = (
        scored.withColumn("keep_id", F.min("doc_id").over(w))
        .filter((F.col("quality") >= 0.7) & (F.col("doc_id") == F.col("keep_id")))
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
    )


@query(
    "ext_stream_stream_join",
    """
SELECT c.user_id, c.ts AS click_ts, p.ts AS purchase_ts
FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts BETWEEN c.ts - INTERVAL 1 HOUR AND c.ts
""",
    doc=(
        "stream-stream interval join (clicks x purchases within 1h per "
        "user), both sides watermarked so join state is evicted past the "
        "horizon; oracle is the equivalent batch interval join"
    ),
)
def ext_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import expr

    clicks = (
        streaming.events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "1 hour")
        .select(F.col("user_id"), F.col("ts").alias("click_ts"))
    )
    purchases = (
        streaming.events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("p_user_id"), F.col("ts").alias("purchase_ts")
        )
    )
    joined = clicks.join(
        purchases,
        expr(
            "user_id = p_user_id AND "
            "purchase_ts BETWEEN click_ts - INTERVAL 1 HOUR AND click_ts"
        ),
    )
    out = streaming.run_available_now(joined, "append")
    return out.select(
        "user_id",
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
    )


@query(
    "ext_udtf_word_positions",
    """
SELECT doc_id, toks[i] AS word, CAST(i - 1 AS INT) AS pos
FROM (SELECT doc_id, string_split_regex(text, ' +') AS toks,
             unnest(generate_series(1, len(string_split_regex(text, ' +'))))
               AS i
      FROM documents WHERE doc_id < 10)
WHERE length(toks[i]) >= 8
""",
    doc=(
        "Python UDTF (table function, one row -> many): tokenize with "
        "positions via pyspark.sql.functions.udtf + lateral join "
        "(exceeds the reference: UDTF absent there, SURVEY 2.B.11)"
    ),
)
def ext_udtf_word_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.functions.pyudfs import WordPositions
    from pyspark.sql.functions import udtf

    wp = udtf(WordPositions, returnType="word string, pos int")
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    return (
        docs.lateralJoin(wp(F.col("text").outer()))
        .select("doc_id", "word", "pos")
        .filter(F.length("word") >= 8)
    )


@query(
    "ext_dedup_clusters",
    f"""
WITH RECURSIVE g AS ({_SQL_WORD_GRAMS}),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM g a JOIN g b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.grams, b.grams))
          / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5
),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
)
SELECT CAST(id AS BIGINT) AS id, CAST(MIN(r) AS BIGINT) AS cluster_id
FROM reach GROUP BY id
""",
    doc=(
        "near-dup pairs -> duplicate CLUSTERS via distributed connected "
        "components (min-label propagation, one shuffle join per round, "
        "rounds = graph diameter — the GraphX/Pregel CC round structure). "
        "cluster_id = min doc_id in the component, i.e. the canonical doc "
        "a keep-one-per-cluster dedup retains.  Oracle: recursive-CTE "
        "transitive closure over the same exact-Jaccard pair set."
    ),
)
def ext_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(
        docs, "text", "doc_id", threshold=0.5, num_perm=128, rows_per_band=4
    ).select("id_a", "id_b")
    comp = dedup.connected_components(pairs)
    return comp.select(
        F.col("id").cast("long").alias("id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


# --------------------------------------------------------------------------
# Round 3: repetition-quality filtering + embedding k-means
# --------------------------------------------------------------------------

@query(
    "ext_quality_repetition",
    """
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS ws FROM documents
), s AS (
  SELECT doc_id, len(ws) AS n_words, len(list_distinct(ws)) AS n_distinct, ws
  FROM w
), bg AS (
  SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bigram
  FROM s, UNNEST(generate_series(1, len(ws)-1)) AS t(i)
), bc AS (
  SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2
), bt AS (
  SELECT doc_id, MAX(c) AS top_c, CAST(SUM(c) AS DOUBLE) AS tot_c
  FROM bc GROUP BY 1
)
SELECT s.doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       round(1.0 - n_distinct / CAST(n_words AS DOUBLE), 4) AS dup_word_frac,
       round(COALESCE(top_c / tot_c, 0), 4) AS top_bigram_frac,
       CAST(
         (1.0 - n_distinct / CAST(n_words AS DOUBLE)) <= 0.6
         AND COALESCE(top_c / tot_c, 0) <= 0.2 AS INT
       ) AS keep
FROM s LEFT JOIN bt USING (doc_id)
""",
    doc=(
        "Gopher-style repetition quality filter (Rae et al. 2021, "
        "'Scaling Language Models', table A1): duplicate-word fraction + "
        "most-frequent-bigram fraction per document, with a keep flag at "
        "the published-style thresholds.  Scale shape: the per-doc word "
        "stats are map-only column expressions; the bigram mode is "
        "explode -> two-phase (cluster, bigram) count -> per-doc max, so "
        "the corpus never self-joins and partial aggregation runs "
        "map-side.  The two aggs shuffle ~n_bigrams rows once each."
    ),
)
def ext_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), " +").alias("ws")
    )
    stats = words.select(
        "doc_id",
        F.size("ws").cast("long").alias("n_words"),
        F.size(F.array_distinct("ws")).alias("n_distinct"),
        "ws",
    )
    bigrams = stats.select(
        "doc_id",
        F.explode(
            # size(ws)=1 guard: Spark's sequence(1, 0) yields a
            # DESCENDING [1, 0] (two out-of-bounds NULL "bigrams"),
            # whereas DuckDB generate_series(1, 0) is empty
            F.expr(
                "CASE WHEN size(ws) < 2 THEN array() "
                "ELSE transform(sequence(1, size(ws)-1), "
                "i -> concat(ws[i-1], ' ', ws[i])) END"
            )
        ).alias("bigram"),
    )
    top = (
        bigrams.groupBy("doc_id", "bigram")
        .count()
        .groupBy("doc_id")
        .agg(
            F.max("count").alias("top_c"),
            F.sum("count").cast("double").alias("tot_c"),
        )
    )
    dup_frac = F.lit(1.0) - F.col("n_distinct") / F.col("n_words").cast(
        "double"
    )
    top_frac = F.coalesce(F.col("top_c") / F.col("tot_c"), F.lit(0.0))
    return (
        stats.join(top, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            F.round(dup_frac, 4).alias("dup_word_frac"),
            F.round(top_frac, 4).alias("top_bigram_frac"),
            ((dup_frac <= 0.6) & (top_frac <= 0.2))
            .cast("int")
            .alias("keep"),
        )
    )


_KMEANS_K = 8


def _kmeans_chain(k: int) -> str:
    """Unrolled 2-iteration Lloyd's chain over a CTE ``e(vec_id, v)`` —
    shared by ext_embed_kmeans, ext_dedup_semantic, and (over whitened
    vectors) the two whitened entries: ``a1`` = final (vec_id, cid)
    assignment.  ``k`` parameterizes the deterministic smallest-id init
    (the adaptive-k entry embeds k = max(8, isqrt(n)) for the oracle SF's
    fixture count; the fixed-k entries pin k=8)."""
    return f"""c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
         v AS cent
  FROM (SELECT * FROM e ORDER BY vec_id LIMIT {k})
), d0 AS (
  SELECT vec_id, cid,
         list_sum(list_transform(generate_series(1, len(v)),
                  i -> (v[i]-cent[i])*(v[i]-cent[i]))) AS dist
  FROM e CROSS JOIN c0
), a0 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d0) WHERE rn = 1
), c1p AS (
  SELECT cid, i, round(avg(v[i]), 6) AS val
  FROM a0 JOIN e USING (vec_id), UNNEST(generate_series(1, len(v))) AS t(i)
  GROUP BY cid, i
), c1 AS (
  SELECT cid, list(val ORDER BY i) AS cent FROM c1p GROUP BY cid
), d1 AS (
  SELECT vec_id, cid,
         list_sum(list_transform(generate_series(1, len(v)),
                  i -> (v[i]-cent[i])*(v[i]-cent[i]))) AS dist
  FROM e CROSS JOIN c1
), a1 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d1) WHERE rn = 1
)
"""


_KMEANS_CHAIN = _kmeans_chain(_KMEANS_K)

_KMEANS_CTE = (
    """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), """
    + _KMEANS_CHAIN
)


@query(
    "ext_embed_kmeans",
    _KMEANS_CTE + "SELECT vec_id, cid AS cluster FROM a1",
    doc=(
        "Distributed Lloyd's k-means over the embedding column (k=8, 2 "
        "iterations, deterministic smallest-id init) — corpus "
        "partitioning / IVF coarse quantization / semantic-dedup "
        "bucketing.  Value-exact oracle: the iterative algorithm is "
        "unrolled into a 2-step CTE chain; determinism comes from "
        "rand()-free init, left-to-right distance summation, 6-decimal "
        "centroid rounding, and cid tie-breaks (operators/kmeans.py "
        "docstring).  Scale shape: assignment broadcasts k centroids "
        "(map-only scan of the points); the update is one two-phase "
        "(cluster, dim) aggregation — the points themselves never "
        "shuffle."
    ),
)
def ext_embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.operators.kmeans import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, k=_KMEANS_K, iters=2).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cluster").cast("long").alias("cluster"),
    )


@query(
    "ext_dedup_semantic",
    _KMEANS_CTE
    + f"""
SELECT aa.vec_id AS id_a, bb.vec_id AS id_b,
       CAST(aa.cid AS BIGINT) AS cluster,
       {R(_sql_cosine("ea.embedding", "eb.embedding"), 6)} AS cosine
FROM a1 aa
JOIN a1 bb ON aa.cid = bb.cid AND aa.vec_id < bb.vec_id
JOIN embeddings ea ON ea.vec_id = aa.vec_id
JOIN embeddings eb ON eb.vec_id = bb.vec_id
WHERE {_sql_cosine("ea.embedding", "eb.embedding")} >= 0.35
""",
    doc=(
        "SemDeDup-style semantic near-dup pairs (public method: Abbas et "
        "al. 2023): k-means-cluster the embeddings, compare pairs only "
        "WITHIN a cluster, keep cosine >= 0.35.  The quadratic stage is "
        "confined per cluster — O(sum |c_i|^2), one shuffle on cluster "
        "id; at corpus scale k ~ sqrt(n) bounds expected cluster size.  "
        "Value-exact oracle: the unrolled k-means CTE composed with the "
        "same deterministic cosine fold (operators/kmeans.py"
        ":semantic_dedup_pairs)."
    ),
)
def ext_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.operators.kmeans import semantic_dedup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    out = semantic_dedup_pairs(emb, k=_KMEANS_K, iters=2, tau=0.35)
    return out.select(
        "id_a",
        "id_b",
        F.col("cluster").cast("long").alias("cluster"),
        cround(F.col("cos_raw"), 6).alias("cosine"),
    )


@query(
    "ext_text_chunk",
    """
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(chunk_idx * 150 + 1 AS BIGINT) AS chunk_start,
       substr(text, CAST(chunk_idx * 150 + 1 AS INT), 200) AS chunk_text
FROM (SELECT doc_id, text,
             unnest(generate_series(0,
               CAST(floor((greatest(length(text) - 200, 0) + 149) / 150)
                    AS INT))) AS chunk_idx
      FROM documents)
""",
    doc=(
        "Document chunking for embedding/RAG indexing: overlapping "
        "200-char chunks at stride 150 (50-char overlap), 1-based "
        "offsets.  Map-only explode riding the scan — no shuffle at any "
        "scale; every character covered, tail chunk may run short "
        "(operators/text.py:chunk_documents)."
    ),
)
def ext_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = text.chunk_documents(docs, "doc_id", "text", 200, 150)
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("chunk_start").cast("long").alias("chunk_start"),
        "chunk_text",
    )


@query(
    "ext_model_score",
    """
WITH f AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(length(text)
              - length(regexp_replace(text, '[ ]', '', 'g'))
              AS DOUBLE) AS n_spaces,
         CAST(length(text)
              - length(regexp_replace(text, '[0-9]', '', 'g'))
              AS DOUBLE) AS n_digits,
         CAST(length(text)
              - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
              AS DOUBLE) AS n_punct,
         CAST(length(text)
              - length(regexp_replace(text, '[aeiou]', '', 'g'))
              AS DOUBLE) AS n_vowels
  FROM documents
)
SELECT doc_id,
       floor((1.0 / (1.0 + exp(-(-1.5 + 0.008 * n_chars
                                 - 0.01 * n_spaces - 0.05 * n_digits
                                 + 0.12 * n_punct + 0.004 * n_vowels))))
             * 1000000000 + 0.5) / 1000000000e0 AS score
FROM f
""",
    doc=(
        "Batched model inference with a REAL (tiny) model — VERDICT r7 "
        "item 8: a pure-numpy logistic regression (5 count features, "
        "fixed weight vector) scores every document via Arrow-batched "
        "mapInPandas; the weight array materializes once per worker and "
        "each batch is one vectorized matmul + sigmoid "
        "(operators/inference.py:numpy_logistic_scorer) — the quality-"
        "classifier / perplexity-filter / reward-model data path with "
        "an actual model in the slot the container's missing ML runtime "
        "would occupy.  Features are engine-portable counts so the "
        "oracle replays the IDENTICAL model in SQL; scores round at "
        "1e-9 with the portable floor-macro so the ~1-ulp np.exp vs "
        "SQL exp divergence can never flip a hash.  Scale shape: "
        "map-only over the scan (no shuffle), weights broadcast by "
        "closure capture, batch size governed by Arrow maxRecordsPerBatch."
    ),
)
def ext_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.operators.inference import (
        model_score,
        numpy_logistic_scorer,
    )

    docs = load_table(spark, sf_dir, "documents")
    return model_score(docs, "doc_id", "text",
                       scorer=numpy_logistic_scorer())


_PR_ITER = """
c{t} AS (
  SELECT e.dst AS v, SUM(r{p}.r / deg.deg) AS c
  FROM e JOIN r{p} ON e.src = r{p}.v JOIN deg ON deg.src = e.src
  GROUP BY e.dst
), r{t} AS (
  SELECT r{p}.v,
         (floor(abs((1.0 - 0.85) / nn.n + 0.85 * COALESCE(c{t}.c, 0.0))
            * 1000000000 + 0.5) / 1000000000e0) AS r
  FROM r{p} LEFT JOIN c{t} ON r{p}.v = c{t}.v, nn
)"""


@query(
    "ext_graph_pagerank",
    f"""
WITH g AS ({_SQL_WORD_GRAMS}),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM g a JOIN g b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.grams, b.grams))
          / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5
), e AS (
  SELECT id_a AS src, id_b AS dst FROM p
  UNION ALL SELECT id_b, id_a FROM p
), deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM e GROUP BY src),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
r0 AS (SELECT doc_id AS v, 1.0 / nn.n AS r FROM documents, nn),
{_PR_ITER.format(t=1, p=0)},
{_PR_ITER.format(t=2, p=1)},
{_PR_ITER.format(t=3, p=2)}
SELECT v AS doc_id, r AS rank FROM r3
""",
    doc=(
        "PageRank over the near-duplicate graph (word-3-gram Jaccard >= "
        "0.5 edges, both directions), 3 iterations, d=0.85 — "
        "centrality-weighted canonical selection / source-quality "
        "propagation.  Third iterative family next to k-means and "
        "connected components: two bounded shuffles per iteration "
        "(edges x ranks on src, SUM per dst), ranks never collect.  "
        "Value-exact: iterations unrolled into a CTE chain, per-"
        "iteration ranks rounded at 1e-9 with the portable floor macro "
        "(operators/pagerank.py).  RECALL CAVEAT: the Spark edge set "
        "comes from MinHash-LSH banding (r=4, b=32: a pair at Jaccard "
        "exactly 0.5 collides with prob ~1-(1-0.5^4)^32 ~ 0.87) while "
        "the oracle computes exact all-pairs Jaccard, so parity relies "
        "on fixture near-dup pairs sitting comfortably ABOVE the 0.5 "
        "threshold (at J=0.7, miss prob < 4e-4); a borderline pair "
        "missed by every band would flip many rank values at once.  "
        "tests/test_extensions.py pins the candidate set against an "
        "exact gram join at test SF."
    ),
)
def ext_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.operators.pagerank import pagerank

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(
        docs, "text", "doc_id", threshold=0.5, num_perm=128, rows_per_band=4
    ).select("id_a", "id_b")
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionAll(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    nodes = docs.select(F.col("doc_id").alias("v"))
    return pagerank(nodes, edges, "v", d=0.85, iters=3).select(
        F.col("v").alias("doc_id"), F.col("rank")
    )


@query(
    "ext_dedup_canonical_central",
    f"""
WITH RECURSIVE g AS ({_SQL_WORD_GRAMS}),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM g a JOIN g b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.grams, b.grams))
          / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5
), e AS (
  SELECT id_a AS src, id_b AS dst FROM p
  UNION ALL SELECT id_b, id_a FROM p
), reach(id, r) AS (
  SELECT src, src FROM e
  UNION
  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id
), comp AS (
  SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id
), deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM e GROUP BY src),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
r0 AS (SELECT doc_id AS v, 1.0 / nn.n AS r FROM documents, nn),
{_PR_ITER.format(t=1, p=0)},
{_PR_ITER.format(t=2, p=1)},
{_PR_ITER.format(t=3, p=2)},
labeled AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id, r3.r
  FROM documents d
  LEFT JOIN comp c ON d.doc_id = c.id
  JOIN r3 ON r3.v = d.doc_id
)
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(n_members AS BIGINT) AS n_members,
       CAST(keep_id AS BIGINT) AS keep_id, keep_rank
FROM (
  SELECT cluster_id, doc_id AS keep_id, r AS keep_rank,
         COUNT(*) OVER (PARTITION BY cluster_id) AS n_members,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY r DESC, doc_id) AS rn
  FROM labeled) WHERE rn = 1
""",
    doc=(
        "Centrality-weighted canonical dedup: LSH pairs -> connected "
        "components -> PageRank over the same duplicate graph -> keep the "
        "HIGHEST-CENTRALITY member of each cluster (ties to smallest id) "
        "instead of the longest — the capstone composition of three "
        "verified operator families.  Per-iteration 1e-9 rounding makes "
        "the rank ORDERING engine-identical, so the composed oracle is "
        "value-exact.  Scale: each stage is the already-audited plan "
        "(banded LSH, log-diameter CC, two-shuffle PR rounds, per-cluster "
        "window bounded by clique size).  Same LSH-vs-exact-Jaccard "
        "recall caveat as ext_graph_pagerank: parity needs fixture pairs "
        "comfortably above the 0.5 threshold (see that query's doc and "
        "the exact-join candidate pin in tests/test_extensions.py)."
    ),
)
def ext_dedup_canonical_central(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from arrow_ballista_spark.operators.caching import tracked_persist
    from arrow_ballista_spark.operators.pagerank import pagerank

    docs = load_table(spark, sf_dir, "documents")
    pairs = tracked_persist(
        dedup.minhash_dedup_pairs(
            docs, "text", "doc_id", threshold=0.5, num_perm=128,
            rows_per_band=4,
        ).select("id_a", "id_b")
    )
    comp = dedup.connected_components(pairs)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionAll(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    ranks = pagerank(
        docs.select(F.col("doc_id").alias("v")), edges, "v", d=0.85, iters=3
    )
    labeled = (
        docs.select("doc_id")
        .join(comp, docs.doc_id == comp.id, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias(
                "cluster_id"
            ),
        )
        .join(ranks, F.col("doc_id") == F.col("v"))
    )
    w = Window.partitionBy("cluster_id")
    wo = w.orderBy(F.col("rank").desc(), F.col("doc_id"))
    return (
        labeled.withColumn("n_members", F.count(F.lit(1)).over(w))
        .withColumn("rn", F.row_number().over(wo))
        .filter(F.col("rn") == 1)
        .select(
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.col("n_members").cast("long").alias("n_members"),
            F.col("doc_id").cast("long").alias("keep_id"),
            F.col("rank").alias("keep_rank"),
        )
    )


@query(
    "ext_embed_quantize",
    f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), m AS (
  SELECT vec_id, v,
         list_aggregate(list_transform(v, x -> abs(x)), 'max') AS amax
  FROM e
), s AS (
  SELECT vec_id, v,
         CASE WHEN amax > 0 THEN 127.0 / amax ELSE 0.0 END AS scale
  FROM m
)
SELECT vec_id, {R("scale", 6)} AS scale,
       array_to_string(list_transform(v, x ->
         CAST(CAST(floor(abs(x * scale) + 0.5) *
              (CASE WHEN x * scale < 0 THEN -1 ELSE 1 END) AS INT)
              AS VARCHAR)), ',') AS q_csv
FROM s
""",
    doc=(
        "Per-vector symmetric int8 scalar quantization (q = round(v * "
        "127/max|v|)) — 4x storage/IO for ANN corpora.  Map-only, no "
        "shuffle at any scale; engine-portable floor-based rounding makes "
        "the int codes value-exact cross-engine "
        "(operators/similarity.py:quantize_int8)."
    ),
)
def ext_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = similarity.quantize_int8(emb, "vec_id", "embedding")
    return q.select(
        "vec_id",
        cround(F.col("scale"), 6).alias("scale"),
        F.expr(
            "array_join(transform(q, x -> cast(x as string)), ',')"
        ).alias("q_csv"),
    )


@query(
    "ext_sample_diverse",
    _KMEANS_CTE
    + """
SELECT vec_id, CAST(cid AS BIGINT) AS cluster FROM (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY cid
             ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 8), vec_id)
           AS rn
  FROM a1) WHERE rn <= 30
""",
    doc=(
        "Diversity-aware sampling: a uniform per-cluster quota (30) over "
        "the k-means partition of the embedding space, so one dense "
        "region cannot dominate the sample (the cluster-quota curation "
        "pattern).  Composition of kmeans_assign + the skew-safe "
        "two-level stratified top-k (a hot cluster never serializes "
        "into one window task); deterministic md5 rank makes it "
        "value-exact against the unrolled-Lloyd oracle."
    ),
)
def ext_sample_diverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.operators import corpus
    from arrow_ballista_spark.operators.kmeans import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    assign = kmeans_assign(emb, k=_KMEANS_K, iters=2)
    return corpus.stratified_sample_topk(
        assign, "cluster", "vec_id", k=30
    ).select("vec_id", F.col("cluster").cast("long").alias("cluster"))


@query(
    "ext_stream_static_join",
    """
WITH dim AS (
  SELECT DISTINCT user_id, user_id % 3 AS segment FROM events
)
SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events JOIN dim USING (user_id)
GROUP BY segment
""",
    doc=(
        "stream-static join: the event stream enriched against a batch "
        "dimension (broadcast per micro-batch, no stream-side state or "
        "watermark) then aggregated per segment; on bounded input it "
        "must equal the batch join+agg, which is the oracle"
    ),
)
def ext_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = (
        load_table(spark, sf_dir, "events")
        .select("user_id").distinct()
        .withColumn("segment", F.pmod("user_id", F.lit(3)))
    )
    ev = streaming.events_stream(spark, sf_dir).select("event_id", "user_id")
    enriched = streaming.stream_static_enrich(ev, dim)
    agg = enriched.groupBy("segment").agg(F.count(F.lit(1)).alias("n_events"))
    return streaming.run_available_now(agg, "complete").select(
        F.col("segment").cast("long").alias("segment"), "n_events"
    )


@query(
    "ext_stream_dedup_vs_index",
    """
WITH f AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(
             string_split_regex(lower(text), ' +'))), ' ')) AS fp
  FROM documents
), idx AS (
  SELECT fp, MIN(doc_id) AS dup_of FROM f WHERE doc_id % 3 <> 0 GROUP BY fp
)
SELECT d.doc_id,
       CAST(CASE WHEN i.dup_of IS NOT NULL THEN 1 ELSE 0 END AS INT)
         AS is_dup,
       CAST(i.dup_of AS BIGINT) AS dup_of
FROM f d LEFT JOIN idx i USING (fp)
WHERE d.doc_id % 3 = 0
""",
    doc=(
        "STREAMING incremental dedup: arriving documents (doc_id % 3 = 0 "
        "as the new-crawl stream) fingerprint-checked against the static "
        "stored corpus index — broadcast lookup per micro-batch, no "
        "stream state, O(batch) per batch (streaming/pipeline.py"
        ":stream_dedup_vs_index).  On bounded input it must equal the "
        "batch join, which is the oracle."
    ),
)
def ext_stream_dedup_vs_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    index = docs.where(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    stream = streaming.documents_stream(spark, sf_dir).where(
        F.col("doc_id") % 3 == 0
    )
    flagged = streaming.stream_dedup_vs_index(stream, index)
    return streaming.run_available_now(flagged, "append")


_BM25_TERMS = ("data", "join", "stream")

@query(
    "ext_text_bm25",
    f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS ws FROM documents
), d AS (
  SELECT doc_id, len(ws) AS dl, ws FROM w
), hits AS (
  SELECT doc_id, dl, t.w FROM d, UNNEST(ws) AS t(w)
  WHERE t.w IN ('data', 'join', 'stream')
), tf AS (
  SELECT doc_id, dl, w, COUNT(*) AS tf FROM hits GROUP BY 1, 2, 3
), dfreq AS (
  SELECT w, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, w FROM hits)
  GROUP BY w
), corpus AS (
  SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM d
)
SELECT doc_id,
       {R("SUM(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))"
          " * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))", 4)}
         AS bm25
FROM tf JOIN dfreq USING (w) CROSS JOIN corpus
GROUP BY doc_id
""",
    doc=(
        "Okapi BM25 relevance of every document against a fixed query "
        "term set (k1=1.2, b=0.75) — topical document selection for "
        "corpus construction.  Scale shape: term filter rides the "
        "explode; tf two-phase; corpus stats (1 row) and per-term doc "
        "frequencies (|terms| rows) broadcast — the corpus shuffles once"
    ),
)
def ext_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = text.bm25_scores(docs, _BM25_TERMS)
    return out.select("doc_id", cround(F.col("bm25"), 4).alias("bm25"))


@query(
    "ext_merge_upsert",
    f"""
WITH updates AS (
  SELECT o_orderkey, CAST(o_totalprice * 1.1 AS DOUBLE) AS o_totalprice
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey + 100000000, CAST(1.0 AS DOUBLE) FROM orders
  WHERE o_orderkey % 5000 = 0
), base AS (
  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice FROM orders
)
SELECT o_orderkey,
       {R("o_totalprice", 2)} AS o_totalprice
FROM (
  SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
  UNION ALL
  SELECT * FROM updates
)
""",
    doc=(
        "keyed MERGE/upsert (SCD type 1): an updates batch wins on key "
        "collision, unmatched base rows survive, new keys insert.  One "
        "anti join + union — each side shuffles once on the key; AQE "
        "broadcasts batch-sized update sets at runtime (no forced hint)"
    ),
)
def ext_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.operators.merge import merge_upsert

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey", F.col("o_totalprice").cast("double")
    )
    updates = base.where(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey", (F.col("o_totalprice") * 1.1).alias("o_totalprice")
    ).unionByName(
        base.where(F.col("o_orderkey") % 5000 == 0).select(
            (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
            F.lit(1.0).alias("o_totalprice"),
        )
    )
    merged = merge_upsert(base, updates, "o_orderkey")
    return merged.select(
        "o_orderkey", cround(F.col("o_totalprice"), 2).alias("o_totalprice")
    )


@query(
    "ext_snapshot_diff",
    """
WITH old AS (
  SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DOUBLE) AS p
  FROM orders
), new AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 13 = 0 THEN CAST(o_totalprice AS DOUBLE) + 5.0
              ELSE CAST(o_totalprice AS DOUBLE) END AS p
  FROM orders WHERE o_orderkey % 17 <> 0
  UNION ALL
  SELECT o_orderkey + 200000000, 'N', 2.0 FROM orders
  WHERE o_orderkey % 4000 = 0
)
SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
       CASE WHEN old.o_orderkey IS NULL THEN 'I'
            WHEN new.o_orderkey IS NULL THEN 'D'
            ELSE 'U' END AS change
FROM old FULL OUTER JOIN new USING (o_orderkey)
WHERE old.o_orderkey IS NULL OR new.o_orderkey IS NULL
      OR (old.o_orderstatus, old.p) IS DISTINCT FROM
         (new.o_orderstatus, new.p)
""",
    doc=(
        "snapshot diff (change data capture between two corpus versions): "
        "one full-outer join on the key comparing a map-side value "
        "fingerprint; emits (key, I/U/D), unchanged rows omitted — the "
        "input to incremental downstream jobs.  Oracle compares the "
        "values directly; the engine compares a 64-bit hash (wide rows "
        "never widen the join)"
    ),
)
def ext_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.operators.merge import snapshot_diff

    orders = load_table(spark, sf_dir, "orders")
    old = orders.select(
        "o_orderkey", "o_orderstatus", F.col("o_totalprice").cast("double").alias("p")
    )
    new = old.where(F.col("o_orderkey") % 17 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 13 == 0, F.col("p") + 5.0)
        .otherwise(F.col("p"))
        .alias("p"),
    ).unionByName(
        old.where(F.col("o_orderkey") % 4000 == 0).select(
            (F.col("o_orderkey") + 200000000).alias("o_orderkey"),
            F.lit("N").alias("o_orderstatus"),
            F.lit(2.0).alias("p"),
        )
    )
    return snapshot_diff(old, new, "o_orderkey")


@query(
    "ext_dedup_incremental",
    f"""
WITH g AS ({_SQL_WORD_GRAMS}),
newd AS (SELECT doc_id, grams FROM g WHERE doc_id % 3 = 0),
idx AS (SELECT doc_id, grams FROM g WHERE doc_id % 3 <> 0),
matches AS (
  SELECT n.doc_id AS new_id, o.doc_id AS other_id
  FROM newd n JOIN idx o
    ON len(list_intersect(n.grams, o.grams))
         / len(list_distinct(list_concat(n.grams, o.grams))) >= 0.5
  UNION ALL
  SELECT a.doc_id, b.doc_id
  FROM newd a JOIN newd b ON b.doc_id < a.doc_id
  WHERE len(list_intersect(a.grams, b.grams))
          / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5
), agg AS (
  SELECT new_id, MIN(other_id) AS dup_of FROM matches GROUP BY new_id
)
SELECT n.doc_id,
       CAST(CASE WHEN a.dup_of IS NOT NULL THEN 1 ELSE 0 END AS INT)
         AS is_dup,
       CAST(a.dup_of AS BIGINT) AS dup_of
FROM newd n LEFT JOIN agg a ON n.doc_id = a.new_id
""",
    doc=(
        "INCREMENTAL dedup: a new batch (docs with id % 3 = 0) checked "
        "against the existing corpus index (the rest) and against "
        "earlier docs in the same batch — the production pattern for "
        "continuous re-crawls, where re-clustering the whole corpus per "
        "batch is O(corpus) wasted work.  The batch's band signatures "
        "broadcast against the (stored, append-only) index signatures; "
        "work per batch is O(batch x collision rate).  Oracle: exact "
        "Jaccard of each new doc vs index + earlier batch docs"
    ),
)
def ext_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    new_batch = docs.where(F.col("doc_id") % 3 == 0)
    index = docs.where(F.col("doc_id") % 3 != 0)
    out = dedup.incremental_dedup(
        new_batch, index, "text", "doc_id", threshold=0.5
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("is_dup").cast("int").alias("is_dup"),
        F.col("dup_of").cast("long").alias("dup_of"),
    )


@query(
    "ext_dedup_containment",
    f"""
WITH g AS ({_SQL_WORD_GRAMS}),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.grams, b.grams))
           / CAST(len(a.grams) AS DOUBLE) AS containment
  FROM g a JOIN g b ON a.doc_id <> b.doc_id
  WHERE len(list_intersect(a.grams, b.grams))
          / CAST(len(a.grams) AS DOUBLE) >= 0.8
)
SELECT id_a, id_b,
       {R("containment", 4)} AS containment
FROM pairs
""",
    doc=(
        "containment near-SUPERSET detection: |grams(A) n grams(B)| / "
        "|grams(A)| >= 0.8 flags docs mostly contained in another "
        "(quote-inflated or excerpt duplicates that symmetric Jaccard "
        "misses: a short doc inside a long one has low Jaccard but high "
        "containment).  Engine side reuses the LSH candidate pipeline "
        "(banded, linear) with the asymmetric verify; the small-SF "
        "oracle is the exact all-pairs containment.  Scale caveat: "
        "minhash banding recalls by JACCARD, so extreme size-ratio "
        "pairs (high containment, low Jaccard) need the size-stratified "
        "banding variant (band within doc-length buckets) at 100 TB"
    ),
)
def ext_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    parts = shuffle_partitions(spark)
    from arrow_ballista_spark.operators.caching import tracked_persist

    grams = tracked_persist(
        docs.repartition(parts, "doc_id").select(
            F.col("doc_id"), dedup.word_shingles("text", 3).alias("grams")
        )
    )
    sigs = dedup.minhash_sigs_arrow(
        grams.select(
            F.col("doc_id"), dedup.base_hashes("grams").alias("hashes")
        ),
        "doc_id",
        "hashes",
        128,
    )
    # symmetric candidates (id_a < id_b), then verify BOTH directions —
    # containment is asymmetric, so each unordered candidate yields up to
    # two ordered rows
    cand = dedup.lsh_candidate_pairs(sigs, "doc_id", 128, rows_per_band=4)
    both = cand.unionByName(
        cand.select(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
        )
    )
    ga = grams.select(F.col("doc_id").alias("id_a"), F.col("grams").alias("ga"))
    gb = grams.select(F.col("doc_id").alias("id_b"), F.col("grams").alias("gb"))
    j = both.join(ga, "id_a").join(gb, "id_b")
    cont = F.size(F.array_intersect("ga", "gb")) / F.size("ga").cast("double")
    return (
        j.select("id_a", "id_b", cont.alias("containment"))
        .where(F.col("containment") >= 0.8)
        .select("id_a", "id_b", cround(F.col("containment"), 4).alias("containment"))
    )


@query(
    "ext_dedup_substring",
    """
WITH wins AS (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
                ELSE list_transform(generate_series(1, len(toks) - 7),
                     i -> array_to_string(toks[i:i+7], ' ')) END)) AS win
  FROM (SELECT doc_id, string_split_regex(text, ' +') AS toks
        FROM documents)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(COUNT(*) AS BIGINT) AS shared_windows
FROM wins a JOIN wins b ON a.win = b.win AND a.doc_id < b.doc_id
GROUP BY 1, 2
""",
    doc=(
        "EXACT-substring dedup (Lee et al. 2022): document pairs sharing "
        "at least one exact 8-token window — catches verbatim repeated "
        "spans (license boilerplate, templated pages) that document-"
        "level Jaccard misses when the surrounding text differs.  Fourth "
        "dedup modality next to MinHash-Jaccard / SimHash / embedding-"
        "cosine.  Map-only window extraction (stride 1), ONE shuffle "
        "keyed by the window string; max_df drops boilerplate hot keys "
        "before the pair join at scale "
        "(operators/dedup.py:substring_duplicate_pairs)."
    ),
)
def ext_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.substring_duplicate_pairs(docs, "text", "doc_id", w=8)


@query(
    "ext_dedup_span_removal",
    """
WITH toks AS (
  SELECT doc_id, string_split_regex(text, ' +') AS t FROM documents
), wins AS (
  SELECT doc_id, i - 1 AS pos,
         CASE WHEN len(t) < 8 THEN array_to_string(t, ' ')
              ELSE array_to_string(t[i:i+7], ' ') END AS win
  FROM toks, unnest(generate_series(1,
       CASE WHEN len(t) < 8 THEN 1 ELSE len(t) - 7 END)) AS g(i)
), owners AS (
  SELECT win, MIN(doc_id) AS owner FROM wins GROUP BY win
), dup_spans AS (
  SELECT DISTINCT w.doc_id, p.tokpos
  FROM wins w JOIN owners o USING (win),
       unnest(generate_series(w.pos, w.pos + 7)) AS p(tokpos)
  WHERE w.doc_id > o.owner
), tok_rows AS (
  SELECT doc_id, i - 1 AS tokpos, t[i] AS tok
  FROM toks, unnest(generate_series(1, len(t))) AS g(i)
), kept AS (
  SELECT tr.doc_id, tr.tokpos, tr.tok FROM tok_rows tr
  ANTI JOIN dup_spans d ON tr.doc_id = d.doc_id AND tr.tokpos = d.tokpos
), rebuilt AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY tokpos) AS clean_text,
         COUNT(*) AS kept FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       COALESCE(r.clean_text, '') AS clean_text,
       CAST(len(t.t) - COALESCE(r.kept, 0) AS BIGINT) AS n_tokens_removed
FROM toks t LEFT JOIN rebuilt r USING (doc_id)
""",
    doc=(
        "Repeated-span REMOVAL (the Lee et al. 2022 transform, not just "
        "detection): each token covered by an exact 8-token window whose "
        "text appears in a smaller-id document is stripped — the corpus "
        "keeps exactly the first occurrence of every duplicated span.  "
        "Deterministic (owner = min doc id), so the full rewrite is "
        "value-exact incl. the reconstructed text.  Map-only extraction, "
        "keyed aggregations only — no pair join at all, so boilerplate "
        "hot windows cannot blow up a bucket "
        "(operators/dedup.py:remove_duplicate_spans)."
    ),
)
def ext_dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.remove_duplicate_spans(docs, "text", "doc_id", w=8)


@query(
    "ext_embed_covariance",
    f"""
WITH dims AS (
  SELECT vec_id, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS xi
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)
), sums AS (
  SELECT a.i AS i, b.i AS j, SUM(a.xi * b.xi) AS sp, COUNT(*) AS n
  FROM dims a JOIN dims b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY a.i, b.i
), means AS (SELECT i, SUM(xi) AS ms, COUNT(*) AS n FROM dims GROUP BY i)
SELECT s.i, s.j,
       {R("s.sp / s.n - (ma.ms / ma.n) * (mb.ms / mb.n)", 4)} AS cov
FROM sums s JOIN means ma ON s.i = ma.i JOIN means mb ON s.j = mb.i
""",
    doc=(
        "Distributed PCA sufficient statistics: the upper-triangle "
        "covariance of the embedding table, computed as one numpy-matmul "
        "partial (n, sum x, X^T X) per Arrow batch reduced by a keyed "
        "elementwise aggregation over d^2+d+1 positions — points never "
        "shuffle, only the d x d matrix reaches the eigen step "
        "(operators/pca.py).  Driver-side eigh is O(d^3), corpus-size "
        "independent; projection/whitening is a map-only broadcast "
        "matmul, property-tested against numpy reference PCA.  Rounded "
        "4dp (the agg_stats precedent for cross-engine sum order)."
    ),
)
def ext_embed_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.operators import pca

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("v")
    )
    d = emb.select(F.size("v")).first()[0]
    cov = pca.covariance_df(emb, "v", d)
    return cov.select("i", "j", cround("cov", 4).alias("cov"))


@query(
    "ext_embed_pca_project",
    f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, len(embedding) AS d
  FROM embeddings
), dims AS (
  SELECT vec_id, d, i, v[i] AS xi
  FROM e, UNNEST(generate_series(1, len(v))) AS t(i)
), m AS (SELECT i, avg(xi) AS mi FROM dims GROUP BY i)
SELECT dims.vec_id, CAST(dims.d AS INT) AS k,
       {R("SUM((dims.xi - m.mi) * (dims.xi - m.mi))", 4)} AS proj_sqnorm
FROM dims JOIN m USING (i)
GROUP BY dims.vec_id, dims.d
""",
    doc=(
        "Full-rank PCA projection (k = d) with a Parseval value oracle: "
        "the component matrix is orthonormal, so every projected "
        "vector's squared norm must equal its CENTERED squared norm — a "
        "quantity plain SQL can compute at any scale factor, unlike the "
        "eigenvectors themselves (no eigh in SQL; a literal-W oracle "
        "would pin one SF's data).  This drives the whole distributed "
        "pipeline end-to-end — sufficient-statistics reduce, driver "
        "eigh, broadcast-matmul projection (operators/pca.py) — and "
        "any error in the mean, in orthonormality, or in the batch "
        "matmul breaks the equality.  Component ORDER and eigenvalue "
        "correctness are pinned by the numpy-reference property test "
        "(tests/test_extensions.py:test_pca_matches_numpy_reference).  "
        "Scale shape: one d^2+d+1-row stats reduce + a map-only "
        "projection; points never shuffle."
    ),
)
def ext_embed_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.operators import pca

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("v")
    )
    d = emb.select(F.size("v")).first()[0]
    proj = pca.pca_project(emb, "v", "vec_id", k=d)
    sqnorm = F.aggregate(
        "proj", F.lit(0.0), lambda acc, x: acc + x * x
    )
    return proj.select(
        "vec_id",
        F.lit(d).cast("int").alias("k"),
        cround(sqnorm, 4).alias("proj_sqnorm"),
    )


def _whiten_dim_raw(mean, W, j: int, base: int) -> str:
    """The UNROUNDED whitened coordinate ``sum_i W[j][i] * (v[i] -
    mean[i])`` as a portable left-to-right ``+`` chain over array column
    ``v`` — see :func:`_whiten_dim_expr` for the literal/portability
    contract.  Split out (r12) so the Spark side can evaluate the
    ~512-term chain ONCE per (row, dim) and apply the R rounding macro
    to the materialized sum: ``R(expr)`` textually embeds ``expr`` three
    times (abs, floor input, sign test), which tripled both the
    expression-tree size Catalyst plans and the per-row evaluation work
    when the chain is inlined."""
    return " + ".join(
        # float() first: plain-python repr round-trips the exact bits in
        # both engines (numpy>=2 scalar repr would emit 'np.float64(..)')
        f"CAST('{float(W[j][i])!r}' AS DOUBLE)"
        f" * (v[{i + base}] - CAST('{float(mean[i])!r}' AS DOUBLE))"
        for i in range(len(mean))
    )


def _whiten_dim_expr(mean, W, j: int, base: int) -> str:
    """One whitened coordinate as portable SQL over array column ``v``:
    ``R(sum_i W[j][i] * (v[i] - mean[i]), 6)``.  The sum is an explicit
    left-to-right ``+`` chain and every literal is a string→DOUBLE cast
    (repr round-trips the exact float64 bits in both engines; DuckDB
    would otherwise type bare decimals as DECIMAL), so Spark and DuckDB
    evaluate bit-identical doubles.  ``base``: Spark arrays index from 0,
    DuckDB lists from 1."""
    return R(_whiten_dim_raw(mean, W, j, base), 6)


def _whitened_embeddings(spark, sf_dir: str):
    """The tracked-persisted whitened frame ``(vec_id, embedding)`` both
    whitened entries (and the bench ``__scaledk`` variant) cluster over.

    r12 shape: the persisted frame holds the RAW projection sums (each
    ~512-term literal chain evaluated once per row), and the 6dp R
    rounding — a handful of arithmetic ops per value, exactly the macro
    DuckDB runs on the identical raw double — is a cheap projection ON
    TOP of the cache.  The previous shape inlined each chain into the R
    macro (3 textual copies -> ~12k-term expressions): 3x the
    materialization work and an expression tree Catalyst re-traversed on
    every downstream plan.  Values are bit-identical: the raw sum is the
    same left-to-right chain, and floor/abs/sign on a materialized
    double equal the inline evaluation."""
    from arrow_ballista_spark.operators.caching import tracked_persist
    from arrow_ballista_spark.operators.pca import whitening_literals

    mean, W = whitening_literals(sf_dir, k=_WHITEN_K)
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("v")
    )
    raw = tracked_persist(
        emb.select(
            "vec_id",
            F.array(
                *[
                    F.expr(_whiten_dim_raw(mean, W, j, base=0))
                    for j in range(_WHITEN_K)
                ]
            ).alias("_raw"),
        )
    )
    return raw.select(
        "vec_id",
        F.array(
            *[F.expr(R(f"_raw[{j}]", 6)) for j in range(_WHITEN_K)]
        ).alias("embedding"),
    )


_WHITEN_K = 8
_WHITEN_TAU = 0.5
#: the SF the external driver compares at (TESTDATA.md) — the generated
#: whitened oracle embeds THIS dataset's literals, so local tests for the
#: whitened entry must also run at this SF (tests/test_extensions.py).
_ORACLE_SF_DIR = os.environ.get(
    "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
)


def _whitened_oracle(
    sf_dir: str = _ORACLE_SF_DIR, k_clusters: int | None = None
) -> str | None:
    """Generated literal-W oracle (the LSH-plane / IVF-centroid pattern):
    the deterministic driver-side whitening parameters for ``sf_dir``
    (default: the DRIVER's comparison SF) are embedded as literals, the
    whitened vectors built in SQL (rounded at 6dp — identical arrays both
    engines), and the Lloyd chain + within-cluster cosine reuse the
    ext_dedup_semantic machinery.  Returns None ONLY when the fixture
    file is genuinely absent (import must never fail on a data-less
    host); a present-but-unreadable fixture raises loudly via a warning —
    a silent rows-only downgrade would hide a corrupt oracle input.
    Tests regenerate this per scale factor (tests/test_extensions.py), so
    the sweep runs the entry at every SF, not just the pinned one."""
    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    if not os.path.exists(emb_path):
        return None
    try:
        from arrow_ballista_spark.operators.pca import whitening_literals

        mean, W = whitening_literals(sf_dir, k=_WHITEN_K)
    except Exception as e:
        import warnings

        warnings.warn(
            "ext_dedup_semantic_whitened oracle generation FAILED on a "
            f"present fixture ({emb_path}): {e!r} — registering rows-only; "
            "the correctness check for this entry is degraded.",
            stacklevel=2,
        )
        return None
    dims = ",\n         ".join(
        _whiten_dim_expr(mean, W, j, base=1) for j in range(_WHITEN_K)
    )
    chain = (
        _KMEANS_CHAIN if k_clusters is None else _kmeans_chain(k_clusters)
    )
    return (
        f"""
WITH raw AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), e AS (
  SELECT vec_id, [{dims}] AS v FROM raw
), """
        + chain
        + f"""
SELECT aa.vec_id AS id_a, bb.vec_id AS id_b,
       CAST(aa.cid AS BIGINT) AS cluster,
       {R(_sql_cosine("ea.v", "eb.v"), 6)} AS cosine
FROM a1 aa
JOIN a1 bb ON aa.cid = bb.cid AND aa.vec_id < bb.vec_id
JOIN e ea ON ea.vec_id = aa.vec_id
JOIN e eb ON eb.vec_id = bb.vec_id
WHERE {_sql_cosine("ea.v", "eb.v")} >= {_WHITEN_TAU}
"""
    )


@query(
    "ext_dedup_semantic_whitened",
    _whitened_oracle(),
    doc=(
        "SemDeDup over WHITENED embeddings — the composition the SemDeDup "
        "paper's ablations motivate: project onto the top-8 principal "
        "components scaled to unit variance, then k-means-cluster the "
        "whitened vectors and keep within-cluster pairs with whitened "
        "cosine >= 0.5.  Whitening equalizes per-direction variance so "
        "clustering isn't dominated by one high-variance axis.  "
        "Value-exact oracle via the literal-W pattern: the whitening "
        "parameters come from a deterministic bounded driver-side pass "
        "(operators/pca.py:whitening_literals — the 4096 smallest-id "
        "vectors, the IVF-centroid bounded-driver precedent; eigh is not "
        "SQL-expressible, and the distributed stats reduce is not "
        "replayable into an oracle), and the SAME float64 literals feed "
        "the Spark plan and the generated SQL.  Whitened coordinates are "
        "rounded at 6dp on both sides, then the ext_dedup_semantic Lloyd "
        "chain + within-cluster cosine run unchanged.  The distributed "
        "whitening path (pca_project(whiten=True)) stays covered by "
        "ext_embed_pca_project's Parseval oracle and the numpy property "
        "tests; agreement between the two W sources is ~1e-12.  The "
        "oracle pins the driver's comparison SF (sf0.01); the Spark side "
        "derives its literals from whatever sf_dir it runs at.  Scale "
        "shape: bounded driver eigh + map-only whitening (512-term "
        "codegen expressions, no shuffle), then the SemDeDup per-cluster "
        "Gram — quadratic work confined per cluster, one shuffle on "
        "cluster id."
    ),
)
def ext_dedup_semantic_whitened(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.operators.kmeans import semantic_dedup_pairs

    # raw projection sums persisted once, 6dp rounding projected on top
    # (see _whitened_embeddings — r12: chain evaluated 1x, not 3x)
    white = _whitened_embeddings(spark, sf_dir)
    out = semantic_dedup_pairs(white, k=_WHITEN_K, iters=2, tau=_WHITEN_TAU)
    return out.select(
        "id_a",
        "id_b",
        F.col("cluster").cast("long").alias("cluster"),
        cround(F.col("cos_raw"), 6).alias("cosine"),
    )


def _adaptive_k_for(sf_dir: str) -> int:
    """The k that ``semantic_dedup_pairs(k=None)`` derives at ``sf_dir``:
    max(8, isqrt(n)) over the embeddings fixture's row count.  Read from
    parquet metadata driver-side at oracle-generation time — the same
    bounded-fixture-read the literal-W pattern already performs."""
    import pyarrow.parquet as pq

    from arrow_ballista_spark.operators.kmeans import adaptive_cluster_count

    n = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"), columns=[]
    ).num_rows
    return adaptive_cluster_count(n)


def _whitened_adaptive_oracle(sf_dir: str = _ORACLE_SF_DIR) -> str | None:
    """Value-exact oracle for the ADAPTIVE-k whitened entry: identical
    literal-W whitening, but the Lloyd chain is unrolled at
    k = max(8, isqrt(n)) — the exact value the library's ``k=None``
    default computes from its one bounded count() job.  n comes from the
    fixture's parquet metadata, so both engines cluster with the same k.
    Same import-must-never-fail contract as ``_whitened_oracle``: absent
    fixture -> None silently; present-but-unreadable -> warn + None
    (rows-only degrade) rather than killing ``load_all()``."""
    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    if not os.path.exists(emb_path):
        return None
    try:
        k = _adaptive_k_for(sf_dir)
    except Exception as e:
        import warnings

        warnings.warn(
            "ext_dedup_semantic_whitened_adaptive oracle generation "
            f"FAILED reading a present fixture ({emb_path}): {e!r} — "
            "registering rows-only; the correctness check for this "
            "entry is degraded.",
            stacklevel=2,
        )
        return None
    return _whitened_oracle(sf_dir, k_clusters=k)


@query(
    "ext_dedup_semantic_whitened_adaptive",
    _whitened_adaptive_oracle(),
    doc=(
        "The SCALE-SAFE SemDeDup configuration as a first-class tracked "
        "entry: whitened embeddings (same literal-W projection as "
        "ext_dedup_semantic_whitened) deduplicated with the library "
        "DEFAULT k=None — semantic_dedup_pairs sizes k adaptively as "
        "max(8, isqrt(n)) via one bounded count() job, keeping total "
        "pair work O(n^1.5).  The fixed-k=8 sibling entry remains the "
        "pinned-k witness, but ITS config is the O(n^2/k) degenerate "
        "that measured 22.1x for 10x data at the 100x step; this entry "
        "witnesses the configuration a 100 TB run would actually use "
        "(2.6x at the same step — SCALING.md r9).  Value-exact oracle: "
        "the Lloyd chain is unrolled at the SAME k the default derives "
        "(k = isqrt(fixture rows), from parquet metadata driver-side), "
        "so the adaptive policy itself — not a hand-pinned k — is what "
        "the driver hashes.  Scale shape: bounded driver eigh + map-only "
        "whitening, one count() job, broadcast-Lloyd assignment, one "
        "shuffle on cluster id; expected cluster size ~ sqrt(n)."
    ),
)
def ext_dedup_semantic_whitened_adaptive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from arrow_ballista_spark.operators.kmeans import semantic_dedup_pairs

    # raw projection sums persisted once, 6dp rounding projected on top
    # (see _whitened_embeddings — r12: chain evaluated 1x, not 3x)
    white = _whitened_embeddings(spark, sf_dir)
    # k=None: the library's adaptive default — THE config under test
    out = semantic_dedup_pairs(white, k=None, iters=2, tau=_WHITEN_TAU)
    return out.select(
        "id_a",
        "id_b",
        F.col("cluster").cast("long").alias("cluster"),
        cround(F.col("cos_raw"), 6).alias("cosine"),
    )


@query(
    "ext_quality_c4_clean",
    """
WITH base AS (
  SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM documents
), k AS (
  SELECT doc_id, text, lines,
         list_filter(lines, ln ->
           regexp_matches(ln, '[.!?"]\\s*$')
           AND len(list_filter(string_split_regex(trim(ln), ' +'),
                               w -> w <> '')) >= 3
           AND NOT contains(lower(ln), 'javascript')) AS kept
  FROM base
)
SELECT doc_id,
       list_aggregate(kept, 'string_agg', chr(10)) AS clean_text,
       CAST(len(kept) AS INT) AS kept_lines,
       CAST(len(lines) AS INT) AS total_lines,
       CAST(contains(lower(text), 'lorem ipsum') AS INT) AS has_lorem_ipsum,
       CAST(contains(text, '{') AS INT) AS has_curly_brace
FROM k
""",
    doc=(
        "C4 line-level cleaning (Raffel et al. 2020 §2.2, the public "
        "Colossal-Clean-Crawled-Corpus heuristics): keep lines ending in "
        "terminal punctuation with >= 3 words and no 'javascript', "
        "re-join the survivors, and flag lorem-ipsum / curly-brace docs "
        "for doc-level drops (operators/text.py:c4_clean).  Map-only "
        "array expressions, no shuffle; value-oracled incl. the "
        "reconstructed clean_text."
    ),
)
def ext_quality_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = text.c4_clean(docs, "text", "doc_id")
    return out.select(
        "doc_id",
        # array_join of an empty array is '' while DuckDB string_agg over
        # an empty list is NULL — normalize the empty case to NULL
        F.when(F.col("kept_lines") > 0, F.col("clean_text")).alias(
            "clean_text"
        ),
        F.col("kept_lines").cast("int").alias("kept_lines"),
        F.col("total_lines").cast("int").alias("total_lines"),
        "has_lorem_ipsum",
        "has_curly_brace",
    )


@query(
    "ext_quality_gopher_rules",
    f"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, ' +'), w -> w <> '') AS words,
         string_split(text, chr(10)) AS lines
  FROM documents
), m AS (
  SELECT doc_id,
    len(words) AS n_words,
    CAST(list_sum(list_transform(words, w -> len(w))) AS DOUBLE)
      / nullif(len(words), 0) AS mean_word_len,
    CAST(len(text) - len(replace(text, '#', ''))
         + (len(text) - len(replace(text, '...', ''))) / 3 AS DOUBLE)
      / nullif(len(words), 0) AS hash_ellipsis_ratio,
    CAST(len(list_filter(lines,
         ln -> regexp_matches(ln, '^\\s*[*•-]\\s'))) AS DOUBLE)
      / nullif(len(lines), 0) AS bullet_line_frac,
    CAST(len(list_filter(lines,
         ln -> regexp_matches(ln, '\\.\\.\\.\\s*$'))) AS DOUBLE)
      / nullif(len(lines), 0) AS ellipsis_line_frac,
    CAST(len(list_filter(words,
         w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
      / nullif(len(words), 0) AS alpha_word_frac,
    len(list_intersect(
        list_distinct(list_transform(words, w -> lower(w))),
        ['the','be','to','of','and','that','have','with'])) AS stopword_hits
  FROM base
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       {R("mean_word_len", 4)} AS mean_word_len,
       {R("hash_ellipsis_ratio", 4)} AS hash_ellipsis_ratio,
       {R("bullet_line_frac", 4)} AS bullet_line_frac,
       {R("ellipsis_line_frac", 4)} AS ellipsis_line_frac,
       {R("alpha_word_frac", 4)} AS alpha_word_frac,
       CAST(stopword_hits AS INT) AS stopword_hits,
       CASE WHEN n_words BETWEEN 50 AND 100000
             AND mean_word_len BETWEEN 3 AND 10
             AND coalesce(hash_ellipsis_ratio, 1.0) <= 0.1
             AND coalesce(bullet_line_frac, 1.0) <= 0.9
             AND coalesce(ellipsis_line_frac, 1.0) <= 0.3
             AND coalesce(alpha_word_frac, 0.0) >= 0.8
             AND stopword_hits >= 2
            THEN 1 ELSE 0 END AS keep
FROM m
""",
    doc=(
        "Gopher document-quality rules (Rae et al. 2021 appendix A1.1 — "
        "the public MassiveWeb filter set, reused by RefinedWeb/FineWeb): "
        "word-count band, mean word length, #/ellipsis density, bullet "
        "and ellipsis line fractions, alphabetic-word fraction, and the "
        "2-of-8 stopword probe, composed into one keep flag "
        "(operators/text.py:gopher_quality).  Pure JVM column "
        "expressions over token/line arrays — map-only, scan-speed; "
        "every metric value-oracled in DuckDB with the R() portable "
        "rounding."
    ),
)
def ext_quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    m = text.gopher_quality(docs, "text", "doc_id")
    return m.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        cround("mean_word_len", 4).alias("mean_word_len"),
        cround("hash_ellipsis_ratio", 4).alias("hash_ellipsis_ratio"),
        cround("bullet_line_frac", 4).alias("bullet_line_frac"),
        cround("ellipsis_line_frac", 4).alias("ellipsis_line_frac"),
        cround("alpha_word_frac", 4).alias("alpha_word_frac"),
        F.col("stopword_hits").cast("int").alias("stopword_hits"),
        F.col("keep").cast("int").alias("keep"),
    )


@query(
    "ext_quality_lm_perplexity",
    f"""
WITH toks AS (
  SELECT doc_id, lang = 'en' AS train, string_split_regex(text, ' +') AS t
  FROM documents WHERE len(string_split_regex(text, ' +')) >= 2
), bg AS (
  SELECT doc_id, train, t[i] AS w1, t[i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
), c2 AS (
  SELECT w1, w2, COUNT(*) AS c2 FROM bg WHERE train GROUP BY w1, w2
), c1 AS (
  SELECT w1, COUNT(*) AS c1 FROM bg WHERE train GROUP BY w1
), vocab AS (
  SELECT COUNT(DISTINCT w) AS v FROM (
    SELECT unnest(string_split_regex(text, ' +')) AS w
    FROM documents WHERE lang = 'en')
)
SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_transitions,
       {R("-AVG(ln(CAST(COALESCE(c2.c2, 0) + 1 AS DOUBLE)"
          " / CAST(COALESCE(c1.c1, 0) + vocab.v AS DOUBLE)))", 4)}
         AS cross_entropy
FROM bg b
LEFT JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
LEFT JOIN c1 ON b.w1 = c1.w1
CROSS JOIN vocab
GROUP BY b.doc_id
""",
    doc=(
        "CCNet-style LM quality filter (Wenzek et al., LREC 2020): "
        "per-token cross-entropy of every document under an add-one-"
        "smoothed bigram LM trained on the reference slice (lang='en') — "
        "low score = reads like the reference, the standard perplexity-"
        "bucket criterion for web-crawl curation.  LM training is two "
        "keyed aggs over the slice; scoring joins the count tables "
        "(broadcast while they fit, AQE skew-split otherwise); smoothed "
        "probability is a quotient of exact doubles so both engines take "
        "ln of the identical value (operators/text.py:lm_cross_entropy)."
    ),
)
def ext_quality_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ce = text.lm_cross_entropy(
        docs, "text", "doc_id", is_train=F.col("lang") == "en"
    )
    return ce.select(
        "doc_id", "n_transitions", cround("cross_entropy", 4).alias("cross_entropy")
    )


@query(
    "ext_sample_dsir",
    f"""
WITH toks AS (
  SELECT doc_id, lang = 'en' AS tgt, string_split_regex(text, ' +') AS t
  FROM documents
), grams AS (
  SELECT doc_id, tgt,
         {_sql_hex15("g")} % 256 AS bucket
  FROM (
    SELECT doc_id, tgt,
           unnest(CASE WHEN len(t) < 2 THEN [array_to_string(t, ' ')]
                  ELSE list_transform(generate_series(1, len(t) - 1),
                       i -> t[i] || ' ' || t[i + 1]) END) AS g
    FROM toks)
), counts AS (
  SELECT bucket,
         SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
         SUM(CASE WHEN tgt THEN 0 ELSE 1 END) AS cr
  FROM grams GROUP BY bucket
), totals AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM counts),
lr AS (
  SELECT bucket,
         ln((CAST(ct + 1 AS DOUBLE) * CAST(tr + 256 AS DOUBLE))
            / (CAST(cr + 1 AS DOUBLE) * CAST(tt + 256 AS DOUBLE))) AS lr
  FROM counts, totals
)
SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
       {R("SUM(lr)", 4)} AS weight
FROM grams g JOIN lr USING (bucket)
GROUP BY g.doc_id
""",
    doc=(
        "DSIR importance weights (Xie et al., NeurIPS 2023): score every "
        "document by the add-one-smoothed log-likelihood ratio of its "
        "hashed word-bigram occurrences under the TARGET slice "
        "(lang='en') vs the rest — the classifier-free way to up-sample "
        "reference-like text at pretraining scale.  One keyed agg onto "
        "256 bucket rows, bucket table broadcast back, one per-doc "
        "groupBy; no self-join, nothing driver-side "
        "(operators/corpus.py:dsir_weights).  The smoothed ratio is a "
        "quotient of exact-double products, so both engines take ln of "
        "the identical value."
    ),
)
def ext_sample_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.operators import corpus

    docs = load_table(spark, sf_dir, "documents")
    w = corpus.dsir_weights(
        docs, "text", "doc_id", is_target=F.col("lang") == "en", n_buckets=256
    )
    return w.select("doc_id", "n_grams", cround("weight", 4).alias("weight"))


@query(
    "ext_dedup_editdist",
    """
WITH p AS (SELECT doc_id, text[:40] AS pre FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.pre, b.pre) AS BIGINT) AS dist
FROM p a JOIN p b
  ON a.doc_id < b.doc_id AND abs(len(a.pre) - len(b.pre)) <= 2
WHERE levenshtein(a.pre, b.pre) <= 2
""",
    doc=(
        "Edit-distance dedup (fifth modality: fuzzy short-field matching "
        "where token Jaccard is too coarse): document pairs whose 40-char "
        "prefixes are within Levenshtein 2.  EXACT result via lossless "
        "ED-Join prefix filtering (Xiao et al., VLDB 2008): probe with "
        "each string's d*q+1 globally RAREST q-grams only — hot "
        "boilerplate grams are never join keys, so buckets stay bounded "
        "with no lossy cap — then exact levenshtein verify on candidates "
        "(operators/dedup.py:editdist_duplicate_pairs).  Oracle is the "
        "all-pairs filter (the length-band predicate is implied by "
        "dist<=2, so semantics are identical); ASCII fixture keeps "
        "Spark codepoint- vs DuckDB byte-levenshtein agreeing."
    ),
)
def ext_dedup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # q is engine-internal (the oracle is the all-pairs definition, so
    # any q gives identical results) and auto-tuned per run from a
    # bounded corpus sample: the smallest gram length whose probe grams
    # are rare enough to keep candidate buckets bounded (the r4 manual
    # 74s -> 9.7s q=4 -> q=12 retune at 10x data, now derived so a
    # repetitive character vocabulary can't recreate the cliff —
    # operators/dedup.py:_auto_gram_length)
    return dedup.editdist_duplicate_pairs(
        docs, "text", "doc_id", max_dist=2, q="auto", prefix_len=40
    )


@query(
    "ext_zorder_key",
    layout.zorder_oracle_sql("lineitem", ["l_orderkey", "l_partkey"]),
    doc=(
        "Z-order (Morton) clustering key over (l_orderkey, l_partkey): "
        "min-max scale each column to 16 bits with pure int64 arithmetic "
        "(one global min/max agg = a 1-row broadcast), then bit-interleave "
        "— the layout key behind OPTIMIZE ZORDER-style multi-dimensional "
        "file skipping.  The interleave expression is generated from ONE "
        "Python helper for both engines, so the key is value-exact "
        "(operators/layout.py; zorder_write adds the range-partitioned "
        "sorted rewrite whose per-file min/max tiles bound every indexed "
        "dimension)."
    ),
)
def ext_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return layout.zorder_key(
        li.select("l_orderkey", "l_partkey"), ["l_orderkey", "l_partkey"]
    )


# --------------------------------------------------------------------------
# Round-5 additions: Bloom-filter dedup, temperature mixture, CCNet buckets
# --------------------------------------------------------------------------

_BLOOM_M = 1 << 16
_BLOOM_K = 4


@query(
    "ext_dedup_bloom",
    f"""
WITH h AS (
  SELECT doc_id, doc_id % 2 = 0 AS idx,
         {_sql_hex15("text")} % {_BLOOM_M} AS h1,
         ({_sql_hex15("'bff:' || text")} % {_BLOOM_M - 1}) + 1 AS h2
  FROM documents
), p AS (
  SELECT doc_id, idx,
         list_sort(list_distinct(list_transform(range(0, {_BLOOM_K}),
            i -> (h1 + i * h2) % {_BLOOM_M}))) AS pos
  FROM h
), bits AS (
  SELECT DISTINCT unnest(pos) AS bit FROM p WHERE idx
), probe AS (
  SELECT doc_id, unnest(pos) AS bit FROM p WHERE NOT idx
)
SELECT probe.doc_id,
       CAST(COUNT(*) AS INT) AS n_probes,
       CAST(SUM(CASE WHEN bits.bit IS NOT NULL THEN 1 ELSE 0 END) AS INT)
         AS n_hit,
       CAST(COUNT(*) = SUM(CASE WHEN bits.bit IS NOT NULL THEN 1 ELSE 0 END)
            AS INT) AS flagged
FROM probe LEFT JOIN bits ON probe.bit = bits.bit
GROUP BY probe.doc_id
""",
    doc=(
        "Bloom-filter batch-vs-corpus dedup (Dolma's 'BFF' deduper, "
        "Soldaini et al., ACL 2024): the corpus half (even doc_id) is "
        "reduced to a 2^16-bit / 4-hash Bloom filter and the batch half "
        "is probed against it — membership in O(1) bits per doc, filter "
        "size a CHOICE independent of corpus size (the property that "
        "lets a 100 TB index fit in memory where a MinHash band index "
        "cannot).  Positions use md5-derived double hashing, so both "
        "engines compute identical bits and even false positives are "
        "value-reproducible (operators/dedup.py:bloom_filter_dedup).  "
        "Scale shape: filter = map + distinct to <= m rows (broadcast "
        "while small, shuffled join beyond); probe = position-keyed "
        "join + per-doc agg; nothing collects."
    ),
)
def ext_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.bloom_filter_dedup(
        docs,
        "text",
        "doc_id",
        (F.col("doc_id") % 2) == 0,
        m=_BLOOM_M,
        k=_BLOOM_K,
    )


@query(
    "ext_sample_temperature",
    f"""
WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
t AS (SELECT CAST(SUM(n_docs) AS DOUBLE) AS n_total FROM c),
q AS (SELECT lang, n_docs, CAST(n_docs AS DOUBLE) / n_total AS p,
             exp(0.3 * ln(CAST(n_docs AS DOUBLE) / n_total)) AS q_raw
      FROM c, t),
z AS (SELECT SUM(q_raw) AS z FROM q)
SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
       {R("p", 6)} AS p,
       {R("q_raw / z", 6)} AS q,
       {R("q_raw / z * 1000", 4)} AS expected_docs,
       {R("least(q_raw / z * 1000 / n_docs, 1.0)", 6)} AS sample_rate
FROM q, z
""",
    doc=(
        "Temperature-scaled mixture weights for multilingual corpus "
        "sampling (mT5, Xue et al. 2021 §3.1; XLM-R, Conneau et al. "
        "2020): sample language i with q_i proportional to p_i^0.3 — "
        "proportional sampling starves low-resource languages, uniform "
        "overfits them; alpha=0.3 is mT5's shipped temperature.  "
        "p^alpha is written exp(alpha*ln p) in BOTH engines so the "
        "doubles are bit-identical (operators/corpus.py:"
        "temperature_mixture).  Scale shape: one map-side-combined "
        "groupBy to k language rows + two 1-row broadcast totals — the "
        "corpus is scanned once, never shuffled; output is k rows."
    ),
)
def ext_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.operators.corpus import temperature_mixture

    docs = load_table(spark, sf_dir, "documents")
    out = temperature_mixture(docs, "lang", alpha=0.3, budget=1000)
    return out.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        cround("p", 6).alias("p"),
        cround("q", 6).alias("q"),
        cround("expected_docs", 4).alias("expected_docs"),
        cround("sample_rate", 6).alias("sample_rate"),
    )


@query(
    "ext_quality_ccnet_buckets",
    f"""
WITH toks AS (
  SELECT doc_id, lang, doc_id % 2 = 0 AS train,
         string_split_regex(text, ' +') AS t
  FROM documents WHERE len(string_split_regex(text, ' +')) >= 2
), bg AS (
  SELECT doc_id, lang, train, t[i] AS w1, t[i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
), c2 AS (
  SELECT lang, w1, w2, COUNT(*) AS c2 FROM bg WHERE train GROUP BY lang, w1, w2
), c1 AS (
  SELECT lang, w1, COUNT(*) AS c1 FROM bg WHERE train GROUP BY lang, w1
), vocab AS (
  SELECT lang, COUNT(DISTINCT w) AS v FROM (
    SELECT lang, unnest(string_split_regex(text, ' +')) AS w
    FROM documents WHERE doc_id % 2 = 0) GROUP BY lang
), ce AS (
  SELECT b.doc_id, b.lang, CAST(COUNT(*) AS BIGINT) AS n_transitions,
         {R("-AVG(ln(CAST(COALESCE(c2.c2, 0) + 1 AS DOUBLE)"
           " / CAST(COALESCE(c1.c1, 0) + vocab.v AS DOUBLE)))", 4)}
           AS cross_entropy
  FROM bg b
  LEFT JOIN c2 ON b.lang = c2.lang AND b.w1 = c2.w1 AND b.w2 = c2.w2
  LEFT JOIN c1 ON b.lang = c1.lang AND b.w1 = c1.w1
  LEFT JOIN vocab ON b.lang = vocab.lang
  GROUP BY b.doc_id, b.lang
), ranked AS (
  SELECT lang, cross_entropy,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cross_entropy)
           AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM ce
), cuts AS (
  SELECT lang,
         MAX(CASE WHEN rn = (n + 2) // 3 THEN cross_entropy END) AS c33,
         MAX(CASE WHEN rn = (n * 2 + 2) // 3 THEN cross_entropy END)
           AS c66
  FROM ranked GROUP BY lang
)
SELECT ce.doc_id, ce.lang, ce.n_transitions, ce.cross_entropy,
       CASE WHEN ce.cross_entropy <= cuts.c33 THEN 1
            WHEN ce.cross_entropy <= cuts.c66 THEN 2 ELSE 3 END AS bucket,
       CASE WHEN ce.cross_entropy <= cuts.c33 THEN 'head'
            WHEN ce.cross_entropy <= cuts.c66 THEN 'middle'
            ELSE 'tail' END AS bucket_label
FROM ce JOIN cuts ON ce.lang = cuts.lang
""",
    doc=(
        "CCNet's head/middle/tail split (Wenzek et al., LREC 2020 §4.3) "
        "— the step CCNet actually ships: train one bigram LM per "
        "language on that language's reference slice (even doc_id), "
        "score every doc, and cut each language at its perplexity "
        "terciles; 'head' is the high-quality third used for "
        "pretraining.  Cutoffs are computed over 4dp-rounded scores and "
        "taken as exact ORDER STATISTICS (value at integer rank "
        "ceil(n/3), row_number + integer division on both engines) — "
        "the r11 interpolated-quantile contract was falsified by the "
        "r12 50k-doc sweep, where the 'de' tercile interpolated to "
        "within one ulp of grid value 3.7433 and the engines landed on "
        "opposite sides, flipping 30 buckets — "
        "operators/text.py:ccnet_perplexity_buckets."
        "  Scale shape: per-language LM counts ride the lm_cross_entropy "
        "plan; cutoffs are a per-language percentile agg to k x 2 "
        "doubles broadcast back (swap exact percentile for mergeable "
        "approx_percentile at true corpus scale); labeling map-only."
    ),
)
def ext_quality_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = text.ccnet_perplexity_buckets(
        docs,
        "text",
        "doc_id",
        "lang",
        (F.col("doc_id") % 2) == 0,
        digits=4,
    )
    return out.select(
        "doc_id",
        "lang",
        "n_transitions",
        F.col("cross_entropy"),
        "bucket",
        "bucket_label",
    )


_WIN_K, _WIN_W = 3, 4

#: the one winnowing-fingerprint SQL fragment — both winnowing oracles
#: (`ext_text_winnowing`, `ext_dedup_winnowing`) compose it, so the hash
#: and window arithmetic cannot drift between them (the _sql_hex15 /
#: generated-literal pattern).  Yields CTEs toks/g/fpd; fpd = (doc_id, fp)
#: distinct per document, mirroring
#: operators/text.py:winnowing_fingerprints.
_WINNOW_FPD_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(text, ' +') AS t
  FROM documents WHERE len(string_split_regex(text, ' +')) >= {_WIN_K}
), g AS (
  SELECT doc_id, list_transform(range(1, len(t) - {_WIN_K} + 2),
     p -> {_sql_hex15(f"array_to_string(t[p:p+{_WIN_K - 1}], ' ')")}) AS g
  FROM toks
), fpd AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
         range(1, greatest(1, len(g) - {_WIN_W} + 1) + 1),
         q -> list_min(g[q:q+{_WIN_W - 1}])))) AS fp
  FROM g
)"""


@query(
    "ext_text_winnowing",
    _WINNOW_FPD_SQL + """
SELECT doc_id, fp FROM fpd
""",
    doc=(
        "Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD "
        "2003 — the MOSS scheme): hash every 3-token shingle, slide a "
        "4-hash window, keep each window's minimum.  Position-local "
        "selection gives the guarantee global MinHash cannot: any shared "
        "run of >= w+k-1 = 6 tokens between two documents shares a "
        "fingerprint, with O(n/w) fingerprints per doc instead of every "
        "gram (operators/text.py:winnowing_fingerprints).  Scale shape: "
        "ENTIRELY map-side — tokenize/hash/window-min/per-doc-distinct "
        "are one array projection, zero shuffles; candidate generation "
        "downstream joins on fp like the LSH band join."
    ),
)
def ext_text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.winnowing_fingerprints(
        docs, "text", "doc_id", k=_WIN_K, w=_WIN_W
    )


_BUDGET_TOKENS = 12000


@query(
    "ext_select_budget",
    f"""
WITH toks AS (
  SELECT doc_id, lang = 'en' AS train, string_split_regex(text, ' +') AS t
  FROM documents WHERE len(string_split_regex(text, ' +')) >= 2
), bg AS (
  SELECT doc_id, train, t[i] AS w1, t[i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
), c2 AS (
  SELECT w1, w2, COUNT(*) AS c2 FROM bg WHERE train GROUP BY w1, w2
), c1 AS (
  SELECT w1, COUNT(*) AS c1 FROM bg WHERE train GROUP BY w1
), vocab AS (
  SELECT COUNT(DISTINCT w) AS v FROM (
    SELECT unnest(string_split_regex(text, ' +')) AS w
    FROM documents WHERE lang = 'en')
), ce AS (
  SELECT b.doc_id, CAST(COUNT(*) + 1 AS BIGINT) AS n_tokens,
         {R("-AVG(ln(CAST(COALESCE(c2.c2, 0) + 1 AS DOUBLE)"
            " / CAST(COALESCE(c1.c1, 0) + vocab.v AS DOUBLE)))", 4)} AS score
  FROM bg b
  LEFT JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
  LEFT JOIN c1 ON b.w1 = c1.w1
  CROSS JOIN vocab
  GROUP BY b.doc_id
), cum AS (
  SELECT doc_id, score, n_tokens,
         SUM(n_tokens) OVER (ORDER BY score, doc_id ROWS UNBOUNDED PRECEDING)
           AS cum_n_tokens
  FROM ce
)
SELECT doc_id, score, n_tokens, CAST(cum_n_tokens AS BIGINT) AS cum_n_tokens
FROM cum WHERE cum_n_tokens <= {_BUDGET_TOKENS}
""",
    doc=(
        "Token-budget corpus selection: score every document with the "
        "CCNet bigram-LM cross-entropy (reference slice lang='en'), "
        "order best-first, and keep documents until a 12k-token budget "
        "is exhausted — the selection step a fixed-compute pretraining "
        "run performs after quality scoring.  The oracle states the "
        "semantics as ONE global window cumsum; the engine refuses that "
        "single-reducer plan and runs the distributed prefix-sum instead "
        "(operators/corpus.py:budget_select): fixed score grid -> "
        "per-bucket totals (map-side combine, #buckets rows) -> "
        "broadcast exclusive offsets -> budget-exceeded buckets pruned "
        "BEFORE any window -> exact per-bucket windows in parallel.  "
        "Integer token weights keep every cumulative sum exact in both "
        "engines; 4dp-rounded scores order identically."
    ),
)
def ext_select_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.operators.corpus import budget_select

    docs = load_table(spark, sf_dir, "documents")
    ce = text.lm_cross_entropy(
        docs, "text", "doc_id", is_train=F.col("lang") == "en"
    )
    scored = ce.select(
        "doc_id",
        cround("cross_entropy", 4).alias("score"),
        (F.col("n_transitions") + 1).cast("long").alias("n_tokens"),
    )
    return budget_select(
        scored, "doc_id", "score", "n_tokens",
        budget=_BUDGET_TOKENS, bucket_width=0.25,
    )


@query(
    "ext_dedup_winnowing",
    _WINNOW_FPD_SQL + f""", kept AS (
  SELECT doc_id, fp FROM fpd
  WHERE fp NOT IN (SELECT fp FROM fpd GROUP BY fp HAVING COUNT(*) > 64)
), cnt AS (
  SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(COUNT(*) AS INT) AS shared_fps
  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING COUNT(*) >= 2
)
SELECT p.id_a, p.id_b, p.shared_fps,
       CAST(ca.n AS INT) AS n_a, CAST(cb.n AS INT) AS n_b,
       {R("CAST(p.shared_fps AS DOUBLE) / (ca.n + cb.n - p.shared_fps)", 4)}
         AS jaccard
FROM pairs p
JOIN cnt ca ON p.id_a = ca.doc_id
JOIN cnt cb ON p.id_b = cb.doc_id
""",
    doc=(
        "Winnowing near-dup pairs — the MOSS pipeline (Schleimer et al., "
        "SIGMOD 2003 §4) as a distributed join, the PARTIAL-overlap "
        "complement to MinHash-LSH: documents sharing >= 2 window-min "
        "fingerprints pair up, scored by fingerprint-set Jaccard; any "
        "shared run of w+k-1 = 6 tokens is guaranteed a shared "
        "fingerprint, so an embedded copied paragraph pairs with its "
        "source even when the rest of the page differs "
        "(operators/dedup.py:winnowing_dedup_pairs).  Scale shape: "
        "map-only fingerprinting, fp-keyed self-join with the df > 64 "
        "boilerplate cap applied BEFORE the join (hot header grams can "
        "never drive it quadratic), then keyed count/Jaccard joins — no "
        "all-pairs product."
    ),
)
def ext_dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.winnowing_dedup_pairs(
        docs, "text", "doc_id", k=_WIN_K, w=_WIN_W, min_shared=2, max_df=64
    )


_CMS_W, _CMS_D = 1024, 4
_CMS_PROBES = ["table", "key", "spark", "the", "zzq_absent_term"]

#: the one CMS oracle fragment — both sketch entries compose it so the
#: cell hashing / probe list cannot drift between their oracles (the
#: _WINNOW_FPD_SQL pattern).  Yields CTEs tok/cells/sketch/probes/pc,
#: mirroring operators/sketch.py:_cells — Kirsch–Mitzenmacher double
#: hashing, (h1 + r*h2) mod width from two md5-derived hashes.
_CMS_SQL_CTES = f"""
WITH tok AS (
  SELECT unnest(string_split_regex(text, ' +')) AS w FROM documents
), hv AS (
  SELECT {_sql_hex15("'cms:' || w")} % {_CMS_W} AS h1,
         ({_sql_hex15("'cmsb:' || w")} % {_CMS_W - 1}) + 1 AS h2
  FROM tok
), cells AS (
  SELECT r.r, (h1 + r.r * h2) % {_CMS_W} AS col
  FROM hv CROSS JOIN range(0, {_CMS_D}) r(r)
), sketch AS (
  SELECT r, col, COUNT(*) AS cnt FROM cells GROUP BY r, col
), probes AS (
  SELECT * FROM (VALUES {", ".join(f"('{t}')" for t in _CMS_PROBES)}) p(term)
), phv AS (
  SELECT term, {_sql_hex15("'cms:' || term")} % {_CMS_W} AS h1,
         ({_sql_hex15("'cmsb:' || term")} % {_CMS_W - 1}) + 1 AS h2
  FROM probes
), pc AS (
  SELECT term, r.r, (h1 + r.r * h2) % {_CMS_W} AS col
  FROM phv CROSS JOIN range(0, {_CMS_D}) r(r)
)"""


@query(
    "ext_sketch_count_min",
    _CMS_SQL_CTES + """, est AS (
  SELECT term, MIN(COALESCE(s.cnt, 0)) AS est
  FROM pc LEFT JOIN sketch s ON pc.r = s.r AND pc.col = s.col
  GROUP BY term
), exact AS (
  SELECT p.term, COUNT(tok.w) AS exact_cnt
  FROM probes p LEFT JOIN tok ON tok.w = p.term GROUP BY p.term
)
SELECT e.term, CAST(e.est AS BIGINT) AS est,
       CAST(x.exact_cnt AS BIGINT) AS exact_cnt,
       CAST(e.est - x.exact_cnt AS BIGINT) AS overcount
FROM est e JOIN exact x ON e.term = x.term
""",
    doc=(
        "Count-min sketch term frequencies (Cormode & Muthukrishnan "
        "2005): the bounded-memory complement to the exact ngram_topk "
        "path — depth x width counters whose memory is a CHOICE "
        "independent of vocabulary size (a 100 TB crawl's term universe "
        "is itself TBs; the sketch is KBs), with one-sided error "
        "(estimates only OVERCOUNT, by <= 2N/width w.h.p.).  Sketch = "
        "ONE map-side-combined groupBy onto <= depth*width cells; "
        "sketches merge by summing cells (streaming/partial-agg "
        "citizen); probing broadcasts the sketch.  md5-derived cells "
        "make the 'approximate' answer value-exact across engines; the "
        "entry emits est vs exact per probe so the overcount guarantee "
        "is itself oracled (operators/sketch.py)."
    ),
)
def ext_sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.operators import sketch as sk
    from arrow_ballista_spark.operators.caching import tracked_persist

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.expr("split(text, ' +')")).alias("w")
    )
    # tracked persist (r12): the bounded sketch feeds BOTH the estimate
    # join and count_min_estimate's parameter-drift guard (a collect) —
    # without it the full corpus tokenize+explode+groupBy ran once per
    # consumer (the r12 profile showed the token stream computed 3x:
    # twice via the sketch, once for the exact-count side)
    cms = tracked_persist(
        sk.count_min_build(tok, "w", width=_CMS_W, depth=_CMS_D)
    )
    probes = local_frame(spark, [(t,) for t in _CMS_PROBES], "term string")
    est = sk.count_min_estimate(
        cms, probes, "term", width=_CMS_W, depth=_CMS_D
    )
    # exact counts: filter the heavy token stream against the broadcast
    # probe list FIRST (map-only), then restore zero-count probes with a
    # 5-row left join — never shuffle the corpus onto 5 skewed term keys
    hits = (
        tok.join(F.broadcast(probes), tok["w"] == probes["term"], "inner")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("_hits"))
    )
    # both result frames are <= len(_CMS_PROBES) rows; hint broadcast so
    # Catalyst (statless local relations) never sort-merges 5-row tables
    exact = probes.join(F.broadcast(hits), "term", "left").select(
        "term", F.coalesce("_hits", F.lit(0)).alias("exact_cnt")
    )
    return est.join(F.broadcast(exact), "term").select(
        "term",
        F.col("est").cast("long").alias("est"),
        F.col("exact_cnt").cast("long").alias("exact_cnt"),
        (F.col("est") - F.col("exact_cnt")).cast("long").alias("overcount"),
    )


@query(
    "ext_stream_sketch_counts",
    _CMS_SQL_CTES + """
SELECT term, CAST(MIN(COALESCE(s.cnt, 0)) AS BIGINT) AS est
FROM pc LEFT JOIN sketch s ON pc.r = s.r AND pc.col = s.col
GROUP BY term
""",
    doc=(
        "Streaming count-min sketch: the frequency sketch maintained over "
        "the continuous corpus-ingestion source via a per-batch register "
        "merge (foreachBatch) — the 'state' is the sketch itself, <= "
        "depth*width entries NO MATTER HOW MUCH DATA ARRIVES (contrast a "
        "streaming exact term count, whose state grows with the "
        "vocabulary and eventually evicts).  Each micro-batch reduces to "
        "its distinct (term, count) pairs under batch semantics, hashes "
        "each distinct term ONCE, and merges <= depth*width weighted "
        "cells into the register — vs the r10 complete-mode stateful-agg "
        "shape that hashed every term OCCURRENCE (2 md5s each) and "
        "measured ~2 orders below its streaming siblings "
        "(streaming/pipeline.py:stream_count_min).  Counts are exact "
        "sums either way, so the oracle stays the batch CMS SQL — "
        "streaming and batch must agree on bounded input."
    ),
)
def ext_stream_sketch_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.operators import sketch as sk

    docs = streaming.documents_stream(spark, sf_dir)
    tok = docs.select(F.explode(F.expr("split(text, ' +')")).alias("w"))
    cms = streaming.stream_count_min(tok, "w", width=_CMS_W, depth=_CMS_D)
    probes = local_frame(spark, [(t,) for t in _CMS_PROBES], "term string")
    return sk.count_min_estimate(
        cms, probes, "term", width=_CMS_W, depth=_CMS_D
    ).select("term", F.col("est").cast("long").alias("est"))
