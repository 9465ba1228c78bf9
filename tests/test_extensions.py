"""Extension-operator queries (dedup / similarity / text / multimodal) vs
DuckDB oracle, plus semantic unit checks the oracle can't express
(LSH==brute-force recall, stub behavior, frame-shape invariants)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from arrow_ballista_spark.catalog import load_table
from arrow_ballista_spark.operators import dedup, multimodal, similarity
from arrow_ballista_spark.queries import load_all
from tests import jvm_forms
from tests.conftest import SF_DIR, assert_same_results

REG = load_all()
EXT_NAMES = sorted(n for n in REG if n.startswith("ext_"))

# Oracles whose generated literals pin an SF at registration time
# (sf0.01, see queries/extensions.py:_ORACLE_SF_DIR) — the sweep
# REGENERATES them for this module's SF so they run everywhere; the
# dedicated test below additionally replays the driver's exact pinned
# comparison.
SF_REGENERATED_ORACLES = {
    "ext_dedup_semantic_whitened": lambda sf_dir: __import__(
        "arrow_ballista_spark.queries.extensions", fromlist=["x"]
    )._whitened_oracle(sf_dir),
    "ext_dedup_semantic_whitened_adaptive": lambda sf_dir: __import__(
        "arrow_ballista_spark.queries.extensions", fromlist=["x"]
    )._whitened_adaptive_oracle(sf_dir),
    "ext_sim_topk_pq_trained": lambda sf_dir: __import__(
        "arrow_ballista_spark.queries.advanced", fromlist=["x"]
    )._pq_trained_oracle(sf_dir),
    "ext_sim_topk_ivfpq_residual": lambda sf_dir: __import__(
        "arrow_ballista_spark.queries.advanced", fromlist=["x"]
    )._ivfpq_residual_oracle(sf_dir),
}


# oracle parametrizations in the slow tail (measured via --durations);
# they run only with SPARK_GRAFT_SLOW_TESTS=1 (see tests/conftest.py)
SLOW_ORACLES = {
    "ext_dedup_canonical",
    "ext_dedup_canonical_central",
    "ext_dedup_minhash_lsh",
    "ext_dedup_ppjoin",
    "ext_dedup_semantic_whitened",
    "ext_dedup_simhash",
    "ext_dedup_word_bigram_jaccard",
    "ext_graph_pagerank",
    "ext_graph_triangles",
    "ext_multimodal_adpcm_stats",
    "ext_pipeline_corpus_build",
    "ext_sim_lsh_near_dup",
    "ext_sim_topk_lsh",
}


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=pytest.mark.slow) if n in SLOW_ORACLES else n
        for n in EXT_NAMES
    ],
)
def test_extension_vs_duckdb(spark, oracle, name):
    qd = REG[name]
    if name in SF_REGENERATED_ORACLES:
        sql = SF_REGENERATED_ORACLES[name](SF_DIR)
        assert sql is not None
        assert_same_results(qd.spark(spark, SF_DIR), oracle, sql)
        return
    df = qd.spark(spark, SF_DIR)
    if qd.oracle is None:
        rows = df.collect()
        assert len(rows) >= 0
        assert len(df.columns) >= 2  # stable schema
    else:
        assert_same_results(df, oracle, qd.oracle)


def test_whitened_semantic_vs_duckdb_at_driver_sf(spark):
    """ext_dedup_semantic_whitened's literal-W oracle embeds the
    whitening parameters of the driver's comparison SF (sf0.01) — the
    exact comparison the external driver performs."""
    from tests.conftest import SF_DIR_T2, make_oracle

    qd = REG["ext_dedup_semantic_whitened"]
    assert qd.oracle is not None
    df = qd.spark(spark, SF_DIR_T2)
    assert_same_results(df, make_oracle(SF_DIR_T2), qd.oracle)


def test_whitened_adaptive_vs_duckdb_at_driver_sf(spark):
    """The adaptive-k whitened entry's registered oracle embeds both the
    driver SF's whitening literals AND its adaptive k (= isqrt of the
    fixture row count) — replay the driver's exact pinned comparison, and
    pin that the embedded k really is what semantic_dedup_pairs(k=None)
    derives there."""
    from arrow_ballista_spark.operators.kmeans import adaptive_cluster_count
    from arrow_ballista_spark.queries.extensions import (
        _ORACLE_SF_DIR,
        _adaptive_k_for,
    )
    from tests.conftest import SF_DIR_T2, make_oracle

    qd = REG["ext_dedup_semantic_whitened_adaptive"]
    assert qd.oracle is not None
    import re

    k = _adaptive_k_for(_ORACLE_SF_DIR)
    n = spark.read.parquet(f"{_ORACLE_SF_DIR}/embeddings.parquet").count()
    assert k == adaptive_cluster_count(n)
    if k <= 8:  # a smaller-but-valid fixture can't exercise adaptive k
        pytest.skip(
            f"driver fixture too small for the adaptive regime (k={k})"
        )
    # word boundary: a bare substring check for "LIMIT 12" would also
    # match "LIMIT 120" (ADVICE r10)
    assert re.search(rf"LIMIT {k}\b", qd.oracle)
    df = qd.spark(spark, SF_DIR_T2)
    assert_same_results(df, make_oracle(SF_DIR_T2), qd.oracle)


@pytest.mark.slow
def test_lsh_topk_matches_bruteforce_on_candidates(spark):
    """Multi-probe LSH re-rank must return exact cosines; every returned
    (query, corpus) pair's cosine equals the brute-force value."""
    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    bf = similarity.brute_force_topk(q, c, k=10_000).select(
        "query_id", "corpus_id", F.col("cosine").alias("bf_cos")
    )
    lsh = similarity.hyperplane_lsh_topk(q, c, k=5, n_planes=8, dim=64)
    joined = lsh.join(bf, ["query_id", "corpus_id"], "left")
    bad = joined.filter(
        F.col("bf_cos").isNull()
        | (F.abs(F.col("cosine") - F.col("bf_cos")) > 1e-12)
    ).count()
    assert bad == 0


def test_simhash_finds_all_true_near_dups(spark):
    """SimHash within a Hamming budget of 7 (8 banded chunks) must (a)
    recall every strong near-duplicate pair (word-trigram jaccard >= 0.95 —
    these short docs flip ~1 bit per edited token) and (b) stay far below
    the n^2 blowup.  (SimHash votes over token *bags*, so extra same-
    distribution pairs beyond the trigram near-dups are expected.)"""
    docs = load_table(spark, SF_DIR, "documents")
    pairs = dedup.simhash_near_dup_pairs(docs, "text", "doc_id", max_hamming=7)
    n_pairs = pairs.count()
    n_docs = docs.count()
    assert 0 < n_pairs < n_docs  # far below the n^2 blowup
    exact = dedup.minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.95)
    missed = exact.join(pairs, ["id_a", "id_b"], "left_anti").count()
    assert missed == 0, "simhash missed strong near-duplicate pairs"


def test_decode_image_gates_dct_codecs():
    # JPEG decodes natively since r7; WebP/other codecs stay gated
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"RIFF\x00\x00\x00\x00WEBPVP8 ")
    # a malformed JPEG is a ValueError (decode attempted), not a gate
    with pytest.raises(ValueError):
        multimodal.decode_image(b"\xff\xd8\xff\xe0jpeg...")


def test_frame_sampling_shape(spark):
    docs = multimodal.attach_blob(load_table(spark, SF_DIR, "documents"))
    frames = multimodal.sample_frames(docs, frame_size=256)
    stats = frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum("frame_len").alias("total_len"),
        F.max("frame_len").alias("max_len"),
    )
    src = docs.select("doc_id", F.octet_length("text").alias("n_bytes"))
    bad = (
        stats.join(src, "doc_id")
        .filter(
            (F.col("total_len") != F.col("n_bytes"))
            | (F.col("max_len") > 256)
            | (F.col("n_frames") != F.ceil(F.col("n_bytes") / F.lit(256.0)))
        )
        .count()
    )
    assert bad == 0


def test_asof_join_no_purchase_rows_null(spark):
    """Left-outer semantics: clicks before any purchase keep sentinel."""
    from arrow_ballista_spark.queries import load_all

    out = load_all()["ext_asof_join"].spark(spark, SF_DIR)
    assert out.filter(F.col("value_asof") == -1.0).count() >= 0
    # as-of invariant: matched ts_asof never exceeds the click ts
    bad = out.filter(
        (F.col("value_asof") != -1.0) & (F.col("ts_asof") > F.col("ts"))
    ).count()
    assert bad == 0


@pytest.mark.slow
def test_lsh_cosine_near_dup_recall(spark):
    """At the operator's operating point (cosine >= 0.9 near-dups) the
    multi-table LSH must recall ~all planted duplicate pairs and return
    no false positives (exact-cosine verify).  Testdata embeddings have
    no high-cosine pairs, so plant noisy copies."""
    import random

    rng = random.Random(7)
    base = [
        [rng.gauss(0, 1) for _ in range(64)] for _ in range(200)
    ]
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        if i < 50:  # 50 planted near-dups: tiny perturbation
            rows.append(
                (1000 + i, [float(x + rng.gauss(0, 0.05)) for x in v])
            )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = similarity.cosine_near_dup_pairs(emb, "vec_id", "embedding", 0.9)
    approx = similarity.lsh_cosine_near_dup_pairs(
        emb, "vec_id", "embedding", 0.9
    )
    e = {(r.id_a, r.id_b) for r in exact.collect()}
    a = {(r.id_a, r.id_b) for r in approx.collect()}
    assert a <= e  # no false positives (exact verify)
    assert len(e) >= 50  # the planted pairs are present
    assert len(a) / len(e) >= 0.9  # multi-table recall at the design point


def test_ivf_topk_recall_on_planted_near_dups(spark):
    """IVF with nprobe probing must put a planted near-duplicate of each
    query at rank 1 (the perturbed copy lands in the same/nearby cell)."""
    import random

    from arrow_ballista_spark.operators import ivf

    rng = random.Random(11)
    base = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(100)]
    corpus_rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    corpus_rows += [
        (1000 + i, [float(x + rng.gauss(0, 0.03)) for x in base[i]])
        for i in range(20)
    ]
    corpus = spark.createDataFrame(
        corpus_rows, "corpus_id long, embedding array<float>"
    )
    queries = spark.createDataFrame(
        [(i, v) for i, v in corpus_rows[:20]],
        "query_id long, embedding array<float>",
    )
    out = ivf.ivf_topk(queries, corpus, k=1, n_cells=8, nprobe=3)
    got = {r.query_id: r.corpus_id for r in out.collect()}
    hits = sum(1 for q, c in got.items() if c == 1000 + q)
    assert hits >= 18  # >=90% of planted near-dups found at rank 1


def test_lsh_topk_recall_on_planted_near_dups(spark):
    """Multi-table LSH top-k must put the planted near-duplicate at rank 1
    for ~all queries (candidate recall at high cosine ~1 by design)."""
    import random

    rng = random.Random(23)
    base = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(150)]
    corpus_rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    corpus = spark.createDataFrame(
        corpus_rows, "corpus_id long, embedding array<float>"
    )
    queries = spark.createDataFrame(
        [
            (i, [float(x + rng.gauss(0, 0.03)) for x in base[i]])
            for i in range(25)
        ],
        "query_id long, embedding array<float>",
    )
    out = similarity.hyperplane_lsh_topk(
        queries, corpus, k=1, exclude_self=False
    )
    got = {r.query_id: r.corpus_id for r in out.collect()}
    hits = sum(1 for q, c in got.items() if c == q)
    assert hits >= 23  # >=92% rank-1 recall


def test_connected_components_chain_and_clique(spark):
    """Label propagation must close a diameter-4 chain (multiple rounds)
    and keep disjoint components separate."""
    pairs = spark.createDataFrame(
        # chain 1-2-3-4-5 (diameter 4), triangle 10-11-12, pair 20-21
        [(2, 1), (2, 3), (4, 3), (4, 5), (10, 11), (11, 12), (10, 12),
         (21, 20)],
        "id_a bigint, id_b bigint",
    )
    got = {
        (r.id, r.cluster_id)
        for r in dedup.connected_components(pairs).collect()
    }
    want = {(i, 1) for i in (1, 2, 3, 4, 5)} | {
        (i, 10) for i in (10, 11, 12)
    } | {(20, 20), (21, 20)}
    assert got == want


def test_incremental_dedup_recrawled_id_not_self_dup(spark):
    """A re-crawled doc keeping its id in both the new batch and the
    stored index must not match itself, and its NEW text supersedes the
    stale index text in verification."""
    from arrow_ballista_spark.operators.dedup import incremental_dedup

    new = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "totally different words here now")],
        "doc_id long, text string",
    )
    index = spark.createDataFrame(
        [(1, "stale old text for the same id"),
         (9, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["is_dup"], r["dup_of"])
           for r in incremental_dedup(new, index, "text", "doc_id",
                                      threshold=0.5).collect()}
    # doc 1 duplicates index doc 9 (same NEW text), never itself
    assert out[1] == (1, 9)
    assert out[2] == (0, None)


def test_release_caches_frees_operator_internal_persists(spark):
    """tracked_persist must hold STRONG references: the operator's local
    variable is usually the only other ref, so a weak registry would drop
    the handle at operator return and release_caches() would free
    nothing (the executor-storage leak the module exists to prevent)."""
    import gc

    from arrow_ballista_spark.catalog import load_table
    from arrow_ballista_spark.operators import dedup
    from arrow_ballista_spark.operators.caching import release_caches

    release_caches()  # start clean
    docs = load_table(spark, SF_DIR, "documents")
    pairs = dedup.minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.5)
    pairs.count()
    del pairs
    gc.collect()
    assert release_caches() >= 1


def test_lsh_candidates_cover_exact_jaccard_pairs(spark):
    """LSH recall pin for the graph queries (ext_graph_pagerank /
    ext_dedup_canonical_central): their DuckDB oracles compute EXACT
    all-pairs 3-gram Jaccard while the Spark side edges come from r=4/
    b=32 banding — a borderline pair (J ~ 0.5, band miss prob ~13%)
    dropped from one band would flip many PageRank values at once.  This
    pins that on the shipped fixtures every exact pair >= 0.5 IS found by
    the banded pipeline (i.e. fixture pairs sit comfortably above the
    threshold), so the oracle parity is structural at test SF, not luck."""
    from pyspark.sql import functions as F

    from arrow_ballista_spark.operators import dedup

    docs = load_table(spark, SF_DIR, "documents")
    lsh = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_dedup_pairs(
            docs, "text", "doc_id", threshold=0.5
        ).select("id_a", "id_b").collect()
    }
    grams = docs.select(
        F.col("doc_id"), dedup.word_shingles("text", 3).alias("g")
    )
    a = grams.selectExpr("doc_id AS id_a", "g AS ga")
    b = grams.selectExpr("doc_id AS id_b", "g AS gb")
    # exact all-pairs is the quadratic ORACLE path — test-SF only
    exact_df = (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "j",
            F.size(F.array_intersect("ga", "gb"))
            / F.size(F.array_union("ga", "gb")),
        )
        .where(F.col("j") >= 0.5)
    )
    exact = {(r.id_a, r.id_b) for r in exact_df.select("id_a", "id_b").collect()}
    assert exact, "fixture lost its planted near-dup pairs"
    missed = exact - lsh
    assert not missed, f"LSH missed exact pairs (borderline fixtures): {missed}"
    # and no false positives survive the exact-Jaccard verify stage
    assert lsh <= exact


def test_substring_dedup_max_df_caps_boilerplate(spark):
    """substring_duplicate_pairs: pairs require a shared exact w-token
    window; max_df drops windows occurring in more than max_df docs
    BEFORE the pair join — the boilerplate hot-key guard that keeps the
    window-keyed self-join bucket-bounded at corpus scale."""
    from arrow_ballista_spark.operators import dedup

    boiler = "all rights reserved by the license"
    rows = [(i, f"{boiler} doc body number {i}") for i in range(5)]
    rows += [(10, "a very unique shared span here x"),
             (11, "a very unique shared span here y"),
             (12, "nothing in common with anything else at all")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    full = dedup.substring_duplicate_pairs(docs, "text", "doc_id", w=3)
    got = {(r.id_a, r.id_b): r.shared_windows for r in full.collect()}
    # the 5 boilerplate docs pair all-ways; 10-11 share their span
    assert (10, 11) in got
    assert sum(1 for (a, b) in got if a < 5 and b < 5) == 10
    assert not any(12 in p for p in got)
    # shared_windows counts DISTINCT shared windows: "a very unique",
    # "very unique shared", "unique shared span", "shared span here"
    assert got[(10, 11)] == 4

    capped = dedup.substring_duplicate_pairs(
        docs, "text", "doc_id", w=3, max_df=2
    )
    got_capped = {(r.id_a, r.id_b) for r in capped.select("id_a", "id_b").collect()}
    assert (10, 11) in got_capped
    assert not any(a < 5 and b < 5 for (a, b) in got_capped)


def test_zorder_layout_bounds_every_dimension(spark, tmp_path):
    """zorder_write vs a single-column sort: with a linear (sort-by-x)
    layout each file spans the FULL y range, so a y-only predicate
    matches every file's min/max stats; the Z-order layout tiles both
    dimensions, so the same predicate prunes most files.  This is the
    file-skipping property the Morton key exists for — asserted on the
    actual parquet footer stats of the written files."""
    import pyarrow.parquet as papq

    from arrow_ballista_spark.operators import layout

    n, n_files = 4096, 16
    df = spark.range(n).selectExpr(
        "id AS x", "pmod(xxhash64(id), 4096) AS y"
    )

    lin_dir, z_dir = str(tmp_path / "linear"), str(tmp_path / "zorder")
    (
        df.repartitionByRange(n_files, "x")
        .sortWithinPartitions("x")
        .write.parquet(lin_dir)
    )
    layout.zorder_write(df, ["x", "y"], z_dir, n_files=n_files, bits=16)

    def file_ranges(d):
        out = []
        ds = papq.ParquetDataset(d)
        for frag in ds.fragments:
            md = frag.metadata
            mins = {"x": None, "y": None}
            maxs = {"x": None, "y": None}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    name = col.path_in_schema
                    if name in mins and col.statistics is not None:
                        s = col.statistics
                        mins[name] = s.min if mins[name] is None else min(mins[name], s.min)
                        maxs[name] = s.max if maxs[name] is None else max(maxs[name], s.max)
            out.append((mins, maxs))
        return out

    lo, hi = 1000, 1255  # a 1/16-wide y-only predicate band
    def matched(ranges):
        return sum(
            1 for mn, mx in ranges if mn["y"] <= hi and mx["y"] >= lo
        )

    lin = file_ranges(lin_dir)
    zo = file_ranges(z_dir)
    assert len(lin) == len(zo) == n_files
    lin_hit, z_hit = matched(lin), matched(zo)
    # linear layout: y is uniform per x-stripe -> every file overlaps
    assert lin_hit == n_files
    # zorder: y is tiled -> most files pruned by footer stats alone
    assert z_hit <= n_files // 2, (lin_hit, z_hit)
    # and each zorder file bounds y strictly tighter than the full range
    full = 4095
    widths = [mx["y"] - mn["y"] for mn, mx in zo]
    assert sorted(widths)[len(widths) // 2] < full // 2


def test_editdist_prefix_filter_is_lossless(spark):
    """editdist_duplicate_pairs must equal the brute-force all-pairs
    levenshtein filter — the ED-Join rare-gram probe is a lossless
    blocking, not an approximation.  Fixture plants d=0/1/2 pairs, a
    d=3 near-miss, and heavy shared boilerplate grams that the rare-gram
    ordering must route around."""
    from pyspark.sql import functions as F

    from arrow_ballista_spark.operators import dedup

    rows = [
        (1, "the quick brown fox jumps over the dog"),
        (2, "the quick brown fox jumps over the dog"),   # d=0 vs 1
        (3, "the quick brown fox jumps over the dogs"),  # d=1 vs 1/2
        (4, "the quick brown fax jumps over a dogs"),    # d=3 vs 3
        (5, "completely different text with no match"),
        (6, "the the the the boilerplate gram storm"),
        (7, "xx"),                                        # shorter than q
        (8, "xy"),                                        # d=1 vs 7
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.dist
        for r in dedup.editdist_duplicate_pairs(
            docs, "text", "doc_id", max_dist=2, q=4, prefix_len=40
        ).collect()
    }

    # brute force over all pairs with Spark's own levenshtein
    p = docs.select("doc_id", F.substring("text", 1, 40).alias("pre"))
    a = p.select(F.col("doc_id").alias("ia"), F.col("pre").alias("pa"))
    b = p.select(F.col("doc_id").alias("ib"), F.col("pre").alias("pb"))
    brute = {
        (r.ia, r.ib): r.d
        for r in a.crossJoin(b)
        .where(F.col("ia") < F.col("ib"))
        .withColumn("d", F.levenshtein("pa", "pb").cast("long"))
        .where(F.col("d") <= 2)
        .collect()
    }
    assert got == brute
    assert got[(1, 2)] == 0 and got[(1, 3)] == 1 and got[(7, 8)] == 1
    assert (1, 4) not in got  # d=3 excluded


def test_dsir_weights_rank_target_like_text_higher(spark):
    """DSIR: documents whose bigrams match the target slice's vocabulary
    must outscore documents drawn from the off-target vocabulary, and an
    unlabeled doc written in target vocabulary must outscore one written
    in raw vocabulary — the importance-resampling contract."""
    from pyspark.sql import functions as F

    from arrow_ballista_spark.operators import corpus

    tgt_vocab = "alpha beta gamma delta epsilon zeta eta theta"
    raw_vocab = "one two three four five six seven eight"
    rows = [(i, tgt_vocab, "en") for i in range(10)]
    rows += [(100 + i, raw_vocab, "de") for i in range(10)]
    rows += [(200, tgt_vocab, "xx"), (201, raw_vocab, "xx")]  # unlabeled
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    w = {
        r.doc_id: r.weight
        for r in corpus.dsir_weights(
            docs, "text", "doc_id", is_target=F.col("lang") == "en"
        ).collect()
    }
    assert w[200] > w[201]
    assert min(w[i] for i in range(10)) > max(w[100 + i] for i in range(10))


def test_lm_cross_entropy_prefers_reference_like_text(spark):
    """lm_cross_entropy: a document written in the reference slice's
    vocabulary must score LOWER cross-entropy than one written in
    out-of-vocabulary words — the perplexity-filter contract.  Also
    pins the smoothing floor: a fully-OOV doc scores ln(V) per
    transition (c2 = c1 = 0 -> P = 1/V)."""
    import math

    from pyspark.sql import functions as F

    from arrow_ballista_spark.operators import text as t

    ref = "the cat sat on the mat and the dog sat on the rug"
    rows = [(i, ref, "en") for i in range(5)]
    rows += [(100, "the cat sat on the rug", "xx"),     # in-vocab
             (101, "zq wv xj kp zq wv xj kp", "xx")]    # fully OOV
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        r.doc_id: (r.n_transitions, r.cross_entropy)
        for r in t.lm_cross_entropy(
            docs, "text", "doc_id", is_train=F.col("lang") == "en"
        ).collect()
    }
    assert got[100][1] < got[101][1]
    v = len(set(ref.split()))
    assert abs(got[101][1] - math.log(v)) < 1e-9


def test_pca_matches_numpy_reference(spark):
    """pca_project must agree with numpy's reference PCA (eigh of the
    driver-computed covariance) up to the documented sign normalization,
    and projected variances must equal the descending eigenvalues —
    whitened projections must have ~unit variance."""
    import numpy as np

    from arrow_ballista_spark.operators import pca

    rng = np.random.RandomState(7)
    # anisotropic cloud so the component order is unambiguous
    X = rng.randn(300, 6) * np.array([5.0, 3.0, 2.0, 1.0, 0.5, 0.1])
    X = X @ np.linalg.qr(rng.randn(6, 6))[0]  # rotate
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(X)],
        "vec_id long, v array<double>",
    )

    n, mean, cov = pca.covariance_stats(df, "v")
    assert n == 300
    ref_cov = np.cov(X.T, bias=True)
    assert np.allclose(cov, ref_cov, atol=1e-9)
    assert np.allclose(mean, X.mean(axis=0), atol=1e-12)

    k = 3
    proj = pca.pca_project(df, "v", "vec_id", k)
    P = np.array(
        [r.proj for r in proj.orderBy("vec_id").collect()], dtype=float
    )
    vals, vecs = np.linalg.eigh(ref_cov)
    order = np.argsort(vals)[::-1][:k]
    Wref = vecs[:, order].T
    for i in range(k):  # same sign normalization as pca_components
        j = int(np.abs(Wref[i]).argmax())
        if Wref[i, j] < 0:
            Wref[i] = -Wref[i]
    Pref = (X - X.mean(axis=0)) @ Wref.T
    assert np.allclose(P, Pref, atol=1e-8)
    assert np.allclose(P.var(axis=0), np.sort(vals)[::-1][:k], rtol=1e-6)

    white = pca.pca_project(df, "v", "vec_id", k, whiten=True)
    Pw = np.array(
        [r.proj for r in white.orderBy("vec_id").collect()], dtype=float
    )
    assert np.allclose(Pw.var(axis=0), 1.0, rtol=1e-6)


def _cround_np(x, digits=6):
    """numpy twin of queries.cround — portable half-away-from-zero."""
    import numpy as np

    s = 10.0 ** digits
    return np.floor(np.abs(x) * s + 0.5) / s * np.sign(x)


def test_semantic_whitened_matches_numpy(spark):
    """Independent numpy recomputation of the whole whitened-SemDeDup
    composition — sample covariance (np.cov, a different accumulation
    than the helper's X.T@X pass) → eigh → top-8 sign-normalized whitened
    projection → 6dp coordinate rounding → deterministic Lloyd
    (smallest-id init, 6dp centroid rounding, smallest-cid ties) →
    within-cluster cosine pairs at tau=0.5 — must agree pair-for-pair
    with the registry entry.  Complements the literal-W DuckDB oracle
    (which shares the helper): THIS check would catch a wrong helper."""
    import numpy as np

    from arrow_ballista_spark.queries import load_all

    out = (
        load_all()["ext_dedup_semantic_whitened"]
        .spark(spark, SF_DIR)
        .collect()
    )
    got = {(r.id_a, r.id_b): (r.cluster, r.cosine) for r in out}

    rows = sorted(
        load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>"))
        .collect()
    )
    ids = np.array([r[0] for r in rows])
    X = np.array([r[1] for r in rows], dtype=np.float64)
    from arrow_ballista_spark.operators.pca import WHITEN_SAMPLE_CAP

    S = X[:WHITEN_SAMPLE_CAP]  # ids sorted: the smallest-id sample
    mean = S.mean(axis=0)
    cov = np.cov(S.T, bias=True)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:8]
    W = vecs[:, order].T.copy()
    for i in range(8):
        j = int(np.abs(W[i]).argmax())
        if W[i, j] < 0:
            W[i] = -W[i]
    W = W / np.sqrt(np.maximum(vals[order], 1e-12))[:, None]
    P = _cround_np((X - mean) @ W.T)

    cents = P[:8].copy()  # ids are sorted: smallest-id init
    for it in range(2):
        d = ((P[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)  # first min == smallest-cid tie-break
        if it < 1:
            cents = np.array(
                [
                    np.round(P[assign == c].mean(axis=0), 6)
                    for c in range(8)
                ]
            )
    norms = np.linalg.norm(P, axis=1)
    expect = {}
    for c in range(8):
        members = np.where(assign == c)[0]
        for ai in range(len(members)):
            for bi in range(ai + 1, len(members)):
                a, b = members[ai], members[bi]
                cos = float(
                    P[a] @ P[b] / max(norms[a] * norms[b], 1e-300)
                )
                if cos >= 0.5:
                    ia, ib = int(ids[a]), int(ids[b])
                    if ia > ib:
                        ia, ib = ib, ia
                    expect[(ia, ib)] = (c, cos)

    assert set(got) == set(expect)
    for pair, (cl, cos) in got.items():
        assert expect[pair][0] == cl
        assert abs(expect[pair][1] - cos) < 1e-5


def test_pca_project_survives_empty_partitions(spark):
    """mapInPandas receives an empty batch for every empty partition; the
    projection body must skip it rather than raise on a (0,)-shaped
    ndarray (2 rows over 16 partitions → 14 empty batches)."""
    from arrow_ballista_spark.operators import pca

    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [4.0, 5.0, 6.0])] * 3,
        "vec_id long, v array<double>",
    ).repartition(16)
    rows = pca.pca_project(df, "v", "vec_id", k=2).collect()
    assert len(rows) == 6 and all(len(r.proj) == 2 for r in rows)


def test_gopher_quality_edge_cases(spark):
    """Each Gopher rule must fire on its planted violation and the clean
    long doc must pass — plus the empty-text row must survive (keep=0,
    no division error under ANSI mode)."""
    from arrow_ballista_spark.operators.text import gopher_quality

    good = ("the data pipeline processes documents with care and that "
            "makes results have quality " * 5) + "extra words appended here"
    rows = [
        (1, good),                                  # passes all rules
        (2, "short text"),                          # word count < 50
        (3, "#" * 30 + " " + ("the of and that have with be to " * 8)),  # hash ratio
        (4, "\n".join(f"- bullet {i} the of and" for i in range(20))),   # bullets
        (5, ""),                                    # empty
        (6, ("123 456 789 " * 30) + "the of"),      # alpha frac + stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in gopher_quality(df, "text", "doc_id").collect()}
    assert got[1].keep == 1, got[1]
    assert got[2].keep == 0 and got[2].n_words < 50
    assert got[3].keep == 0 and got[3].hash_ellipsis_ratio > 0.1
    assert got[4].keep == 0 and got[4].bullet_line_frac > 0.9
    assert got[5].keep == 0 and got[5].n_words == 0
    assert got[6].keep == 0 and got[6].alpha_word_frac < 0.8


def test_c4_clean_line_rules(spark):
    """Planted lines: terminal-punctuation keep, short-line drop,
    javascript drop, lorem-ipsum/brace flags, empty-survivor doc."""
    from arrow_ballista_spark.operators.text import c4_clean

    doc1 = ("This sentence survives the filter.\n"
            "too short.\n"
            "No terminal punctuation here\n"
            "Enable javascript to view this page.\n"
            'He said "stop right there."\n')
    rows = [
        (1, doc1),
        (2, "lorem ipsum dolor sit amet.\nvar x = {a: 1}"),
        (3, "no lines qualify here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in c4_clean(df, "text", "doc_id").collect()}
    assert got[1].kept_lines == 2
    assert got[1].clean_text.splitlines() == [
        "This sentence survives the filter.",
        'He said "stop right there."',
    ]
    assert got[2].has_lorem_ipsum == 1 and got[2].has_curly_brace == 1
    assert got[3].kept_lines == 0


def _make_ppm(w, h, seed):
    import numpy as np

    rng = np.random.RandomState(seed)
    px = rng.randint(0, 256, (h, w, 3), dtype="uint8")
    return b"P6\n%d %d\n255\n" % (w, h) + px.tobytes(), px


def _make_bmp(px):
    """Minimal uncompressed 24-bit BMP from an (h, w, 3) RGB array."""
    import struct

    h, w = px.shape[:2]
    stride = (w * 3 + 3) & ~3
    body = b""
    for row in px[::-1]:  # bottom-up, BGR, padded
        body += row[:, ::-1].tobytes() + b"\x00" * (stride - w * 3)
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(body), 0, 0, 54
    ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0)
    return header + body


def _make_wav(samples16, rate=8000, n_ch=1):
    import struct

    data = samples16.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, n_ch, rate, rate * n_ch * 2, n_ch * 2, 16)
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def test_raw_image_decoders_roundtrip():
    """PPM and BMP decode must reproduce the source pixel array exactly,
    and resize_nearest must match direct numpy indexing."""
    import numpy as np

    blob, px = _make_ppm(13, 7, seed=3)
    out = multimodal.decode_image(blob)
    assert np.array_equal(out, px)
    bmp = _make_bmp(px)
    assert np.array_equal(multimodal.decode_image(bmp), px)
    small = multimodal.resize_nearest(px, 4, 4)
    ys = (np.arange(4) * 7 // 4).clip(0, 6)
    xs = (np.arange(4) * 13 // 4).clip(0, 12)
    assert np.array_equal(small, px[ys[:, None], xs[None, :]])
    # non-JPEG/PNG/PPM/BMP magic stays gated
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"RIFF....WEBPVP8 ")


def test_png_decoder_roundtrip_all_filters():
    """encode_png → decode_png must be the identity for every spec row
    filter (None/Sub/Up/Average/Paeth) and mixed cycles, on several
    shapes; gray/palette/RGBA decode to the expected RGB; 16-bit and
    Adam7 stay gated."""
    import struct
    import zlib

    import numpy as np

    rng = np.random.RandomState(7)
    for shape in [(8, 8, 3), (13, 5, 3), (1, 1, 3), (32, 17, 3)]:
        px = rng.randint(0, 256, size=shape).astype(np.uint8)
        for filters in [(0,), (1,), (2,), (3,), (4,), (0, 1, 2, 3, 4)]:
            blob = multimodal.encode_png(px, filters=filters)
            out = multimodal.decode_image(blob)
            assert np.array_equal(out, px), (shape, filters)

    def chunk(t, d):
        return (
            struct.pack(">I", len(d)) + t + d
            + struct.pack(">I", zlib.crc32(t + d))
        )

    sig = b"\x89PNG\r\n\x1a\n"
    # gray replicates to RGB
    g = np.array([[0, 128], [255, 7]], np.uint8)
    raw = b"".join(b"\x00" + g[y].tobytes() for y in range(2))
    png = (
        sig + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )
    out = multimodal.decode_png(png)
    assert all(np.array_equal(out[:, :, c], g) for c in range(3))
    # palette resolves through PLTE
    plte = np.array([[10, 20, 30], [200, 100, 50]], np.uint8)
    png = (
        sig + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", plte.tobytes())
        + chunk(b"IDAT", zlib.compress(b"\x00" + bytes([1, 0])))
        + chunk(b"IEND", b"")
    )
    out = multimodal.decode_png(png)
    assert np.array_equal(out[0, 0], [200, 100, 50])
    assert np.array_equal(out[0, 1], [10, 20, 30])
    # RGBA drops alpha
    png = (
        sig + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 8, 6, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" + bytes([1, 2, 3, 255, 4, 5, 6, 0])))
        + chunk(b"IEND", b"")
    )
    out = multimodal.decode_png(png)
    assert np.array_equal(out[0], [[1, 2, 3], [4, 5, 6]])
    # 16-bit depth decodes natively since r8 (high-byte downscale);
    # a known-answer row: two RGB pixels, big-endian 16-bit samples
    row16 = bytes(
        [0]
        + [v for px in ((0x12, 0x34, 0x56), (0xAB, 0xCD, 0xEF))
           for c in px for v in (c, 0x99)]
    )
    png = (
        sig + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 16, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(row16)) + chunk(b"IEND", b"")
    )
    out16 = multimodal.decode_png(png)
    assert np.array_equal(out16[0], [[0x12, 0x34, 0x56], [0xAB, 0xCD, 0xEF]])
    # truncated 16-bit payload degrades with ValueError
    png = (
        sig + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 16, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 7)) + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        multimodal.decode_png(png)
    # Adam7 decodes natively since r8; a TRUNCATED interlaced stream
    # (this 7-byte payload is shorter than the passes need) degrades
    # with ValueError rather than misdecoding
    png = (
        sig + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 8, 2, 0, 0, 1))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 7)) + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        multimodal.decode_png(png)


def test_wav_float_24bit_and_extensible():
    """r9 WAV widening: IEEE-float (tag 3, 32/64-bit), packed 24-bit
    PCM (sign-extended 3-byte little-endian), and the
    WAVE_FORMAT_EXTENSIBLE (0xFFFE) wrapper whose SubFormat GUID
    carries the real tag — each must decode to the exact synthesized
    samples; a truncated EXTENSIBLE fmt chunk raises ValueError."""
    import struct

    import numpy as np

    from arrow_ballista_spark.operators.multimodal import decode_wav

    def wav(tag, n_ch, rate, bits, payload, extensible=False):
        if extensible:
            ext = (
                struct.pack("<HHI", 22, bits, 0)
                + struct.pack("<H", tag) + b"\x00" * 14
            )
            fmt = struct.pack(
                "<HHIIHH", 0xFFFE, n_ch, rate,
                rate * n_ch * bits // 8, n_ch * bits // 8, bits,
            ) + ext
        else:
            fmt = struct.pack(
                "<HHIIHH", tag, n_ch, rate,
                rate * n_ch * bits // 8, n_ch * bits // 8, bits,
            )
        out = b"fmt " + struct.pack("<I", len(fmt)) + fmt
        out += b"\x00" if len(fmt) % 2 else b""
        out += b"data" + struct.pack("<I", len(payload)) + payload
        out += b"\x00" if len(payload) % 2 else b""
        return b"RIFF" + struct.pack("<I", 4 + len(out)) + b"WAVE" + out

    x = np.linspace(-1, 1, 40, dtype=np.float32)
    s, r = decode_wav(wav(3, 2, 8000, 32, x.tobytes()))
    assert s.shape == (20, 2) and r == 8000
    assert np.allclose(s.reshape(-1), x)
    s, _ = decode_wav(wav(3, 1, 16000, 64, x.astype(np.float64).tobytes()))
    assert s.shape == (40, 1) and np.allclose(s[:, 0], x)
    vals = np.array(
        [0, 1, -1, 8388607, -8388608, 123456, -654321], np.int32
    )
    raw = b"".join(
        int(v & 0xFFFFFF).to_bytes(3, "little") for v in vals
    )
    s, _ = decode_wav(wav(1, 1, 44100, 24, raw))
    assert np.allclose(s[:, 0], vals / float(1 << 23))
    s2, _ = decode_wav(wav(1, 1, 44100, 24, raw, extensible=True))
    assert np.array_equal(s, s2)
    s3, _ = decode_wav(wav(3, 2, 8000, 32, x.tobytes(), extensible=True))
    assert s3.shape == (20, 2)
    # truncated EXTENSIBLE fmt (no SubFormat) raises, not misdecodes
    short = struct.pack("<HHIIHH", 0xFFFE, 1, 8000, 8000, 1, 8)
    blob = (
        b"RIFF" + struct.pack("<I", 30) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(short)) + short
        + b"data" + struct.pack("<I", 2) + b"\x00\x00"
    )
    import pytest

    with pytest.raises(ValueError, match="EXTENSIBLE"):
        decode_wav(blob)


def test_wav_decoder_and_audio_stats(spark):
    """WAV PCM decode must invert the synthesis (16-bit scaling, frame/
    channel shape), and the distributed audio_stats stage must agree
    with the driver-side numpy computation per blob."""
    import numpy as np

    rng = np.random.RandomState(5)
    rows = []
    expect = {}
    for did in range(3):
        n = 800 + did * 400
        s16 = (rng.randn(n) * 8000).clip(-32768, 32767).astype("int16")
        blob = _make_wav(s16, rate=8000)
        rows.append((did, bytearray(blob)))
        f = s16.astype("float64") / 32768.0
        expect[did] = (n, float(np.sqrt((f**2).mean())), float(np.abs(f).max()))
    rows.append((99, bytearray(b"not audio at all")))
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {r.doc_id: r for r in multimodal.audio_stats(df).collect()}
    for did, (n, rms, peak) in expect.items():
        r = got[did]
        assert (r.sample_rate, r.n_frames, r.n_channels) == (8000, n, 1)
        assert abs(r.duration_s - n / 8000) < 1e-12
        assert abs(r.rms - rms) < 1e-12 and abs(r.peak - peak) < 1e-12
    assert got[99].sample_rate is None  # corrupt blob degrades, not aborts


def test_image_stats_distributed(spark):
    """image_stats over a mixed PPM/BMP/corrupt column: dimensions and
    channel means must match numpy; identical pixels under different
    containers (PPM vs BMP) must produce the SAME thumbnail fingerprint
    (the cross-format dedup property)."""
    import numpy as np

    blob_a, px = _make_ppm(16, 9, seed=11)
    rows = [
        (0, bytearray(blob_a)),
        (1, bytearray(_make_bmp(px))),   # same pixels, different container
        (2, bytearray(b"corrupt bytes")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary").repartition(3)
    got = {r.doc_id: r for r in multimodal.image_stats(df).collect()}
    assert (got[0].width, got[0].height, got[0].channels) == (16, 9, 3)
    assert abs(got[0].mean_r - float(px[:, :, 0].mean())) < 1e-9
    assert got[0].thumb_md5 == got[1].thumb_md5  # cross-format dedup
    assert got[2].width is None


def test_bloom_dedup_no_false_negatives(spark):
    """An exact-text copy of an index doc MUST be flagged (Bloom filters
    have false positives, never false negatives), and a batch doc whose
    text is unique should (at this filter load) probe clean."""
    rows = [(i, f"unique document body number {i} with distinct words") for i in range(20)]
    # doc 100 duplicates index doc 2's text exactly; doc 101 is novel
    rows.append((100, rows[2][1]))
    rows.append((101, "completely novel text that appears nowhere else at all"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.bloom_filter_dedup(
        df, "text", "doc_id", F.col("doc_id") < 100, m=1 << 16, k=4
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert set(by_id) == {100, 101}
    assert by_id[100]["flagged"] == 1 and by_id[100]["n_hit"] == by_id[100]["n_probes"]
    # 20 docs x <=4 bits in a 65536-bit filter: FP odds ~ (80/65536)^4
    assert by_id[101]["flagged"] == 0
    assert all(r["n_probes"] <= 4 for r in out)


def test_bloom_dedup_null_text_excluded(spark):
    """NULL-text rows are excluded up front (documented contract): Spark
    would otherwise keep a NULL probe row where DuckDB's list_distinct
    strips NULLs — an engine divergence. A null doc can't be a duplicate;
    callers pass such rows through unscored."""
    df = spark.createDataFrame(
        [(1, "indexed body text here"), (2, None), (3, "novel probe text")],
        "doc_id long, text string",
    )
    out = dedup.bloom_filter_dedup(
        df, "text", "doc_id", F.col("doc_id") == 1, m=1 << 16, k=4
    ).collect()
    assert {r["doc_id"] for r in out} == {3}


def test_temperature_mixture_limits(spark):
    """alpha=1 reproduces proportional sampling; alpha=0.3 up-weights the
    rare group relative to its share; weights always sum to 1."""
    from arrow_ballista_spark.operators.corpus import temperature_mixture

    rows = [(i, "big") for i in range(90)] + [(90 + i, "small") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, grp string")

    prop = {r["grp"]: r for r in temperature_mixture(df, "grp", alpha=1.0).collect()}
    assert abs(prop["big"]["q"] - 0.9) < 1e-12
    assert abs(prop["small"]["q"] - 0.1) < 1e-12

    temp = {r["grp"]: r for r in temperature_mixture(df, "grp", alpha=0.3).collect()}
    assert temp["small"]["q"] > temp["small"]["p"]  # rare group up-weighted
    assert temp["big"]["q"] < temp["big"]["p"]
    assert abs(sum(r["q"] for r in temp.values()) - 1.0) < 1e-12


def test_ccnet_buckets_match_python_terciles(spark):
    """Every bucket label equals the Python re-derivation: the exact
    order-statistic cutoff (value at integer rank ceil(n/3), r12 —
    interpolated quantiles were falsified at 50k docs where the engines
    interpolated to opposite sides of a grid value) over the 4dp-rounded
    scores, <=-cutoff labeling — exact even on tie-heavy score
    distributions, where a balance heuristic would spuriously fail."""
    from arrow_ballista_spark.operators import text as text_ops

    docs = load_table(spark, SF_DIR, "documents")
    out = text_ops.ccnet_perplexity_buckets(
        docs, "text", "doc_id", "lang", (F.col("doc_id") % 2) == 0
    ).collect()
    assert len(out) > 0
    from collections import defaultdict

    by_lang = defaultdict(list)
    for r in out:
        by_lang[r["lang"]].append(r)
    label_of = {1: "head", 2: "middle", 3: "tail"}
    for lang, rows in by_lang.items():
        scores = sorted(r["cross_entropy"] for r in rows)
        n = len(scores)
        c33 = scores[(n + 2) // 3 - 1]
        c66 = scores[(n * 2 + 2) // 3 - 1]
        for r in rows:
            want = 1 if r["cross_entropy"] <= c33 else (
                2 if r["cross_entropy"] <= c66 else 3
            )
            assert r["bucket"] == want, (lang, r["doc_id"], c33, c66)
            assert r["bucket_label"] == label_of[want]
        # monotone in score by construction of the labeling
        rows.sort(key=lambda r: (r["cross_entropy"], r["doc_id"]))
        buckets = [r["bucket"] for r in rows]
        assert buckets == sorted(buckets)


def test_winnowing_guarantee_and_short_docs(spark):
    """Schleimer et al.'s guarantee: two documents sharing a token run of
    length >= w + k - 1 (= 6 at k=3, w=4) share at least one fingerprint.
    Short docs: < k tokens emit nothing; >= k but fewer than w grams emit
    the min of the grams they have."""
    from arrow_ballista_spark.operators.text import winnowing_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"  # exactly 6 tokens
    rows = [
        (1, f"one two three {shared} four five six"),
        (2, f"nine eight {shared} seven"),
        (3, "totally different words here nothing matches at all ever"),
        (4, "ab cd"),             # < k tokens: no fingerprints
        (5, "ab cd ef"),          # 1 gram < w: min of available grams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = winnowing_fingerprints(df, "text", "doc_id", k=3, w=4).collect()
    fps = {}
    for r in out:
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[1] & fps[2], "shared 6-token run must share a fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])
    assert 4 not in fps
    assert len(fps[5]) == 1
    # per-doc distinct: no (doc_id, fp) pair repeats
    assert len(out) == sum(len(v) for v in fps.values())


def test_budget_select_matches_naive_global_window(spark):
    """The bucketed distributed prefix-sum equals the single-window
    definition for any bucket width, including degenerate ones."""
    from pyspark.sql import Window

    from arrow_ballista_spark.operators.corpus import budget_select

    rows = [
        (i, float((i * 37) % 100) / 10.0, (i * 13) % 7 + 1) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id long, score double, w long")
    naive_w = (
        Window.orderBy(F.col("score"), F.col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for budget in (0, 150, 10**9):
        naive = {
            r["id"]: r["cum"]
            for r in df.withColumn("cum", F.sum("w").over(naive_w))
            .where(F.col("cum") <= budget)
            .collect()
        }
        for width in (0.25, 3.0, 1000.0):  # many buckets / few / single
            got = {
                r["id"]: r["cum_w"]
                for r in budget_select(
                    df, "id", "score", "w", budget=budget, bucket_width=width
                ).collect()
            }
            assert got == naive, (budget, width)


def test_winnowing_dedup_partial_overlap_and_cap(spark):
    """A copied paragraph (>= w+k-1 tokens) pairs its two documents even
    when the rest differs (the partial-overlap property LSH whole-doc
    sketches miss); the max_df cap drops boilerplate fingerprints before
    the join."""
    from arrow_ballista_spark.operators.dedup import winnowing_dedup_pairs

    para = "the quick brown fox jumps over the lazy dog tonight again"
    rows = [
        (1, f"intro words here {para} closing remarks follow now"),
        (2, f"completely other opening {para} different tail text here"),
        (3, "unrelated document about parquet shuffles and broadcast joins"),
    ]
    # boilerplate footer shared by EVERY doc — must not create pairs when
    # capped away
    footer = "copyright footer all rights reserved contact us legal terms"
    rows = [(i, t + " " + footer) for i, t in rows]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    out = winnowing_dedup_pairs(
        df, "text", "doc_id", k=3, w=4, min_shared=2, max_df=2
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs), pairs
    r = [x for x in out if (x["id_a"], x["id_b"]) == (1, 2)][0]
    assert 0.0 < r["jaccard"] <= 1.0
    assert r["shared_fps"] <= min(r["n_a"], r["n_b"])


def test_count_min_never_undercounts(spark):
    """CMS one-sided error: with a deliberately tiny sketch (width 16 ->
    guaranteed collisions over a 60-term vocab), every estimate is >= the
    true count, and a heavy hitter's estimate stays within the additive
    2N/width bound."""
    from arrow_ballista_spark.operators import sketch as sk

    rows = [(f"term_{i % 60}",) for i in range(600)] + [("heavy",)] * 200
    df = spark.createDataFrame(rows, "w string")
    cms = sk.count_min_build(df, "w", width=16, depth=4)
    assert cms.count() <= 16 * 4
    vocab = df.distinct()
    est = {
        r["w"]: r["est"]
        for r in sk.count_min_estimate(cms, vocab, "w", width=16, depth=4)
        .collect()
    }
    exact = {r["w"]: r["n"] for r in df.groupBy("w").count()
             .withColumnRenamed("count", "n").collect()}
    n_total = 800
    assert all(est[w] >= exact[w] for w in exact), "undercount!"
    assert any(est[w] > exact[w] for w in exact), (
        "width 16 over 61 terms must collide somewhere"
    )
    assert est["heavy"] - exact["heavy"] <= 2 * n_total / 16


def test_count_min_merges_by_cell_sum(spark):
    """Two shard sketches merged by summing cells equal the sketch of the
    concatenated stream — the property that makes CMS a partial-agg /
    streaming citizen."""
    from pyspark.sql import functions as F2

    from arrow_ballista_spark.operators import sketch as sk

    a = spark.createDataFrame([(f"t{i % 7}",) for i in range(50)], "w string")
    b = spark.createDataFrame([(f"t{i % 11}",) for i in range(80)], "w string")
    merged = (
        sk.count_min_build(a, "w", width=32, depth=3)
        .unionAll(sk.count_min_build(b, "w", width=32, depth=3))
        .groupBy("row", "col")
        .agg(F2.sum("cnt").alias("cnt"))
    )
    whole = sk.count_min_build(a.unionAll(b), "w", width=32, depth=3)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_count_min_estimate_rejects_param_mismatch(spark):
    """Probing with different width/depth than the build silently inverts
    the never-undercount guarantee — the detectable mismatches must fail
    fast instead."""
    from arrow_ballista_spark.operators import sketch as sk

    df = spark.createDataFrame([(f"t{i}",) for i in range(50)], "w string")
    cms = sk.count_min_build(df, "w", width=256, depth=4)
    probes = spark.createDataFrame([("t1",)], "w string")
    with pytest.raises(ValueError, match="depth"):
        sk.count_min_estimate(cms, probes, "w", width=256, depth=3)
    with pytest.raises(ValueError, match="width"):
        sk.count_min_estimate(cms, probes, "w", width=16, depth=4)


def test_ppjoin_equals_bruteforce_on_planted_pairs(spark):
    """The prefix filter is LOSSLESS: ppjoin_pairs must equal the
    all-pairs Jaccard definition exactly — planted near-dups at several
    similarity levels, identical docs, disjoint docs, and an empty doc."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, base),
        (1, base),                                   # identical -> J=1
        (2, base + " extra words here"),             # high J
        (3, "alpha beta gamma unrelated tail of words goes here now"),
        (4, "completely different vocabulary in this document text"),
        (5, ""),                                     # empty -> excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for token in ("word", "bigram"):
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup.ppjoin_pairs(
                df, "text", "doc_id", threshold=0.3, token=token
            ).collect()
        }
        # brute force over the same token universe
        toks = {}
        for did, text in rows:
            ws = [w for w in text.split(" ") if w]
            toks[did] = (
                set(ws)
                if token == "word"
                else {f"{a} {b}" for a, b in zip(ws, ws[1:])}
            )
        expect = {}
        for a in range(len(rows)):
            for b in range(a + 1, len(rows)):
                ta, tb = toks[a], toks[b]
                if not ta or not tb:
                    continue
                j = len(ta & tb) / len(ta | tb)
                if j >= 0.3:
                    expect[(a, b)] = j
        assert set(got) == set(expect), token
        for pair, j in expect.items():
            assert abs(got[pair] - j) < 1e-12, (token, pair)


def test_jaccard_verify_aqe_off_falls_back_to_wide_repartition(spark):
    """ADVICE r10: the verify stage's REBALANCE hint only adaptively
    sizes the exchange when AQE is on; with AQE off on a caller-supplied
    session it must fall back to an explicit wide repartition (4x the
    session shuffle partitions), not silently degenerate to the static
    default that the r10 100x ladder measured as the scale-killer.
    Same candidate pairs either way — only the exchange differs."""
    rows = [(0, "a b c d"), (1, "a b c e"), (2, "x y z w")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def run():
        return sorted(
            (r.id_a, r.id_b)
            for r in dedup.ppjoin_pairs(
                df, "text", "doc_id", threshold=0.5
            ).collect()
        )

    expect = run()
    assert expect == [(0, 1)]
    grams = df.select(
        "doc_id", F.expr("array_distinct(split(text, ' +'))").alias("grams")
    )
    cands = spark.createDataFrame([(0, 1), (0, 2)], "id_a long, id_b long")
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        j = dedup.jaccard_verify(cands, grams, "doc_id", 0.5)
        plan = j._jdf.queryExecution().toString()
        want = 4 * int(
            spark.conf.get("spark.sql.shuffle.partitions", "200")
        )
        assert f"RoundRobinPartitioning({want}" in plan, plan[:2000]
        got = sorted((r.id_a, r.id_b) for r in j.collect())
        assert got == [(0, 1)]
        assert run() == expect
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_static_verify_partitions_tolerates_non_numeric_conf():
    """ADVICE r11: managed Spark platforms set
    spark.sql.shuffle.partitions to non-numeric values ('auto'); the
    AQE-off fallback must not raise ValueError on them — it lands in
    the measured 128-512 band instead."""
    from types import SimpleNamespace

    def fake(value):
        return SimpleNamespace(
            conf=SimpleNamespace(get=lambda *_a, **_k: value)
        )

    assert dedup._static_verify_partitions(fake("auto")) == 800
    assert dedup._static_verify_partitions(fake(None)) == 800
    assert dedup._static_verify_partitions(fake("64")) == 256


def test_pq_encode_matches_numpy(spark):
    """pq_encode must agree with a direct numpy recomputation: md5-ordered
    codebook sample, per-subspace argmin (smallest-code ties), summed
    reconstruction error; codes are m integers in [0, k)."""
    import hashlib as _hl

    import numpy as np

    from arrow_ballista_spark.operators.pq import pq_encode

    rng = np.random.RandomState(3)
    X = rng.randn(60, 16)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    m, k, sub = 4, 8, 4
    got = {
        r.vec_id: (list(r.codes), r.recon_err)
        for r in pq_encode(df, "embedding", "vec_id", m=m, k=k).collect()
    }
    order = sorted(range(60), key=lambda i: (_hl.md5(str(i).encode()).hexdigest(), i))
    books = [
        np.array([X[order[c]][s * sub : (s + 1) * sub] for c in range(k)])
        for s in range(m)
    ]
    for i in range(60):
        codes, err = [], 0.0
        for s in range(m):
            d = ((books[s] - X[i][s * sub : (s + 1) * sub]) ** 2).sum(axis=1)
            c = int(d.argmin())  # first min == smallest-code tie-break
            codes.append(c)
            err += float(d[c])
        assert got[i][0] == codes, i
        assert abs(got[i][1] - err) < 1e-9, i


def test_pq_code_rows_is_encode_without_the_final_agg(spark):
    """pq_code_rows (the ADC-search row shape, r12) regrouped per id must
    equal pq_encode's codes arrays and recon_err exactly — the refactor
    contract: the search paths consume the encode dataflow stopped
    before its final per-id aggregation, never a different one."""
    import numpy as np

    from arrow_ballista_spark.operators.pq import pq_code_rows, pq_encode

    rng = np.random.RandomState(7)
    X = rng.randn(40, 16)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    m, k = 4, 8
    rows = pq_code_rows(df, "embedding", "vec_id", m=m, k=k).collect()
    assert {(r.vec_id, r.s) for r in rows} == {
        (i, s) for i in range(40) for s in range(m)
    }
    regrouped: dict[int, tuple[list[int], float]] = {}
    for i in range(40):
        mine = sorted((r.s, r.code, r.dist) for r in rows if r.vec_id == i)
        regrouped[i] = ([c for _, c, _ in mine], sum(d for _, _, d in mine))
    enc = {
        r.vec_id: (list(r.codes), r.recon_err)
        for r in pq_encode(df, "embedding", "vec_id", m=m, k=k).collect()
    }
    for i in range(40):
        assert enc[i][0] == regrouped[i][0], i
        assert abs(enc[i][1] - regrouped[i][1]) < 1e-9, i


def test_pq_assign_arrow_cell_and_residual_match_jvm(spark):
    """The r12 vectorized assignment kernel (_pq_assign_arrow) must be
    BIT-identical to the JVM operators it fused: cell = the SQL
    assign_cells fold (tests/jvm_forms.py: coordinate-order dot/norm
    folds, argmax first-max ties), residual =
    zip_with(v, centroid, a - b), codes/dists = the per-subspace
    left-to-right squared-L2 fold with smallest-code ties.  Exact float
    equality on every field — the oracle-equality argument rests on it."""
    import numpy as np

    from pyspark.sql import functions as F

    from arrow_ballista_spark.operators import ivf
    from arrow_ballista_spark.operators.pq import (
        _pq_assign_arrow,
        pq_codebooks,
    )

    rng = np.random.RandomState(11)
    X = rng.randn(50, 16)
    X[7] = X[3]  # duplicate vectors: exercise exact-tie code paths
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    cents = ivf.choose_centroids(df, "vec_id", "embedding", 4)
    books = pq_codebooks(df, "vec_id", "embedding", m=4, k=8)
    kern = {
        r.vec_id: (r.cell, list(r._codes), list(r._dists))
        for r in _pq_assign_arrow(
            df, "vec_id", "embedding", books, cents=cents, residual=True
        ).collect()
    }
    jvm_cell = {
        r.vec_id: r.cell
        for r in jvm_forms.assign_cells(
            df.select("vec_id", F.col("embedding").alias("_v")), "_v", cents
        ).collect()
    }
    centlit = F.lit([[float(x) for x in c] for c in cents])
    jvm_res = {
        r.vec_id: list(r.rv)
        for r in jvm_forms.assign_cells(
            df.select("vec_id", F.col("embedding").alias("_v")), "_v", cents
        )
        .select(
            "vec_id",
            F.zip_with(
                F.col("_v"), centlit[F.col("cell")], lambda a, b: a - b
            ).alias("rv"),
        )
        .collect()
    }
    sub = len(books[0][0])
    for i in range(50):
        cell, codes, dists = kern[i]
        assert cell == jvm_cell[i], i
        rv = jvm_res[i]
        for s in range(4):
            # exact left-to-right fold over the JVM residual values
            best = None
            for c, cw in enumerate(books[s]):
                acc = 0.0
                for j in range(sub):
                    dlt = rv[s * sub + j] - cw[j]
                    acc = acc + dlt * dlt
                if best is None or acc < best[0]:
                    best = (acc, c)
            assert codes[s] == best[1], (i, s)
            assert dists[s] == best[0], (i, s)  # exact float equality


def _vector_frame(spark, X, vtype="array<double>"):
    return spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        f"vec_id long, embedding {vtype}",
    )


def test_ivf_kernels_match_jvm_exact(spark):
    """assign_cells and probe_cells (the one _cosine_sims kernel) must
    pick exactly the cells the SQL folds pick (tests/jvm_forms.py):
    first-max assignment (sim DESC, cell ASC), sim DESC / cell DESC
    probing, a NULL cell for a zero-norm row and the highest cells for a
    zero-norm query.  A duplicated centroid makes every row tie exactly
    between two cells; float32 input widens exactly."""
    import numpy as np

    from arrow_ballista_spark.operators import ivf

    rng = np.random.RandomState(17)
    X = rng.randn(60, 8).astype(np.float32)
    X[9] = X[4]
    X[11] = 0.0
    df = _vector_frame(spark, X, "array<float>")
    cents = [[float(v) for v in X[i]] for i in (0, 1, 1, 2, 3)]

    def cells(frame):
        return sorted(
            (r.vec_id, r.cell)
            for r in frame.select("vec_id", "cell").collect()
        )

    got = cells(ivf.assign_cells(df, "embedding", cents))
    assert got == cells(jvm_forms.assign_cells(df, "embedding", cents))
    assert dict(got)[11] is None and dict(got)[1] == 1
    probed = {}
    for nprobe in (1, 3, 9):
        probed[nprobe] = cells(ivf.probe_cells(df, "embedding", cents, nprobe))
        want = cells(jvm_forms.probe_cells(df, "embedding", cents, nprobe))
        assert probed[nprobe] == want, nprobe
    assert [c for i, c in probed[3] if i == 11] == [2, 3, 4]
    assert len(probed[9]) == 5 * len(X)


def test_pq_query_tables_match_jvm_exact(spark):
    """The query-side ADC tables (_pq_query_tables, the _sub_dists
    kernel) must equal the SQL nested-transform fold (tests/jvm_forms.py)
    bit for bit — plain, and for residual IVF-PQ per probed cell after
    subtracting that cell's centroid (zip_with(q, c, q - c))."""
    import numpy as np

    from arrow_ballista_spark.operators import ivf, pq

    rng = np.random.RandomState(19)
    X = rng.randn(30, 8)
    X[5] = X[2]
    df = _vector_frame(spark, X)
    books = pq.pq_codebooks(df, "vec_id", "embedding", m=4, k=8)
    cents = ivf.choose_centroids(df, "vec_id", "embedding", 3)
    q = df.select("vec_id", F.col("embedding").alias("_qv"))

    def tables(frame):
        return sorted(
            (r.vec_id, r.cell if "cell" in frame.columns else None,
             [list(t) for t in r._qt])
            for r in frame.collect()
        )

    got = tables(pq._pq_query_tables(q, "_qv", books))
    want = tables(
        q.select("vec_id", jvm_forms.pq_dist_tables(F.col("_qv"), books)
                 .alias("_qt"))
    )
    assert got == want  # exact float equality
    probed = ivf.probe_cells(q, "_qv", cents, 2)
    centlit = F.lit(cents)
    got = tables(pq._pq_query_tables(probed, "_qv", books, cents=cents))
    want = tables(
        probed.withColumn(
            "_rv",
            F.zip_with(F.col("_qv"), centlit[F.col("cell")],
                       lambda a, b: a - b),
        ).select(
            "vec_id", "cell",
            jvm_forms.pq_dist_tables(F.col("_rv"), books).alias("_qt"),
        )
    )
    assert got == want


def test_bruteforce_kernel_matches_jvm_exact(spark):
    """brute_force_topk's kernel must return exactly the JVM crossJoin
    fold's rows (tests/jvm_forms.py): same ids, ranks and bit-identical
    cosines.  Query 0's k-th cosine is planted as an exact tie shared by
    eleven corpus ids on both sides of the original k-th id (more than
    the old per-batch margin of 8), spread over three partitions and
    small Arrow batches; a zero-norm corpus row and a zero-norm query
    have no cosine."""
    import numpy as np

    from arrow_ballista_spark.operators.similarity import brute_force_topk

    k = 5
    rng = np.random.RandomState(23)
    X = rng.randn(120, 16)
    X[7] = 0.0  # zero-norm corpus row
    X[2] = 0.0  # zero-norm query
    q0 = X[0]
    cos = X @ q0 / np.maximum(np.linalg.norm(X, axis=1), 1e-300)
    cos[[0, 7]] = -np.inf
    order = np.argsort(-cos)
    kth = int(order[k - 1])
    tail = sorted(int(i) for i in order[-30:] if i not in (0, 1, 2, 3, 7))
    planted = tail[:5] + tail[-5:] + [kth]
    assert min(planted) < kth < max(planted)
    for i in planted:
        X[i] = X[kth]
    df = _vector_frame(spark, X, "array<float>").repartition(3)
    queries = df.where("vec_id < 4").withColumnRenamed("vec_id", "query_id")
    corpus = df.withColumnRenamed("vec_id", "corpus_id")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "16")
    got = {}
    try:
        for exclude_self in (True, False):
            got[exclude_self], want = (
                sorted(
                    tuple(r)
                    for r in fn(queries, corpus, k=k,
                                exclude_self=exclude_self).collect()
                )
                for fn in (brute_force_topk, jvm_forms.brute_force_topk)
            )
            assert got[exclude_self] == want, exclude_self  # exact floats
    finally:
        spark.conf.set(key, old)
    q0 = sorted((r for r in got[True] if r[0] == 0), key=lambda r: r[3])
    # the k-th place goes to the smallest of the eleven tied ids
    assert len(q0) == k and q0[-1][1] == min(planted)
    assert not [r for r in got[False] if r[0] == 2 or r[1] == 7]


def test_zero_norm_query_characterization(spark):
    """A zero-norm query has no cosine.  Pinned behaviour (unchanged
    from the SQL-fold operators): brute force returns no rows for it;
    IVF probes the nprobe HIGHEST cell ids (every similarity is NULL,
    ties break cell DESC), so ivf_topk returns the k smallest ids in
    those cells with NULL cosines and ivf_pq_topk ranks those cells'
    members by ADC distance.  Zero-norm corpus rows are never indexed."""
    import numpy as np

    from arrow_ballista_spark.operators import ivf, pq, similarity

    rng = np.random.RandomState(5)
    X = np.vstack([rng.randn(40, 8), np.zeros((1, 8))])  # id 40 is zero
    emb = _vector_frame(spark, X)
    q = emb.where(F.col("vec_id").isin(0, 40)).withColumnRenamed(
        "vec_id", "query_id"
    )
    c = emb.withColumnRenamed("vec_id", "corpus_id")

    def rows(df, qid):
        return sorted(
            (r[1], r[3], r[2]) for r in df.collect() if r[0] == qid
        )

    bf = similarity.brute_force_topk(q, c, k=5)
    assert rows(bf, 40) == []
    assert [r[0] for r in sorted(rows(bf, 0), key=lambda r: r[1])] == [
        10, 38, 37, 8, 39
    ]
    cents = ivf.choose_centroids(c, "corpus_id", "embedding", 4)
    top_cells = {
        r.corpus_id
        for r in ivf.assign_cells(
            c.where("corpus_id < 40"), "embedding", cents
        ).collect()
        if r.cell in (2, 3)
    }
    got = rows(ivf.ivf_topk(q, c, k=5, n_cells=4, nprobe=2), 40)
    assert got == [
        (i, n, None) for n, i in enumerate(sorted(top_cells)[:5], 1)
    ]
    assert [r[0] for r in got] == [3, 4, 5, 7, 10]
    got = rows(
        pq.ivf_pq_topk(q, c, k=5, n_cells=4, nprobe=2, m=2, n_codes=4), 40
    )
    assert [(i, n) for i, n, _ in got] == [
        (3, 1), (5, 2), (10, 3), (21, 4), (28, 5)
    ]
    assert {d for _, _, d in got} == {2.874351}
    assert {i for i, _, _ in got} <= top_cells


def test_shuffle_partitions_helper_parses_auto(spark):
    """Managed platforms report spark.sql.shuffle.partitions as "auto"
    (this Spark rejects setting it, so a stand-in session carries it):
    the one helper falls back to defaultParallelism."""
    from types import SimpleNamespace

    from arrow_ballista_spark.session import shuffle_partitions

    assert shuffle_partitions(spark) == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    managed = SimpleNamespace(
        conf=SimpleNamespace(get=lambda key, *default: "auto"),
        sparkContext=spark.sparkContext,
    )
    assert shuffle_partitions(managed) == (
        spark.sparkContext.defaultParallelism
    )


def _sqdist(vec: str, cent: str):
    """JVM reference: squared L2 as the left-to-right ``aggregate`` fold
    (the DuckDB oracle's summation order)."""
    return F.expr(
        f"aggregate(sequence(1, size({vec})), cast(0.0 as double), "
        f"(acc, i) -> acc + ({vec}[i-1] - {cent}[i-1]) * "
        f"({vec}[i-1] - {cent}[i-1]))"
    )


def _pairs_exact(e, tau: float, id_col: str):
    """JVM reference: per-cluster self-join + ``cosine_with_norms`` over
    an ``(id, cluster, vec, nrm)`` frame."""
    from arrow_ballista_spark.operators.similarity import cosine_with_norms

    a = e.select(
        F.col(id_col).alias("id_a"),
        F.col("cluster"),
        F.col("vec").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = e.select(
        F.col(id_col).alias("id_b"),
        F.col("cluster").alias("cluster_b"),
        F.col("vec").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    return (
        a.join(b, (a.cluster == b.cluster_b) & (a.id_a < b.id_b))
        .withColumn(
            "cos_raw",
            cosine_with_norms(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            ),
        )
        .filter(F.col("cos_raw") >= tau)
        .select("id_a", "id_b", "cluster", "cos_raw")
    )


def test_kmeans_arrow_kernels_match_jvm_exact(spark):
    """The exact (ordered-numpy) k-means kernels must be BIT-identical
    to the JVM forms: _assign_arrow == the broadcast crossJoin fold +
    min_by(cid, struct(dist, cid)), and _pairs == the cluster self-join
    + cosine_with_norms filter.  Exact float equality on cos_raw — the
    oracle-equality argument rests on it.  Duplicate vectors exercise
    exact-tie paths."""
    import numpy as np

    from arrow_ballista_spark.operators.kmeans import (
        _assign_arrow,
        _collect_centroids,
        _pairs,
    )
    from arrow_ballista_spark.operators.similarity import norm

    rng = np.random.RandomState(13)
    X = rng.randn(60, 16)
    X[9] = X[4]   # duplicates: exact distance ties
    X[11] = 0.0   # zero-norm row: NULL-cosine lane
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    e = df.select("vec_id", F.col("embedding").alias("v"))
    cent_rows = _collect_centroids(e, 5, "vec_id")
    kern = _assign_arrow(e, cent_rows, "vec_id", False)
    # JVM reference: broadcast crossJoin fold + min_by
    cents = spark.createDataFrame(
        [(cid, c) for cid, c in cent_rows], "cid long, cent array<double>"
    )
    ref = (
        e.crossJoin(F.broadcast(cents))
        .withColumn("dist", _sqdist("v", "cent"))
        .groupBy("vec_id")
        .agg(F.expr("min_by(cid, struct(dist, cid))").alias("cluster"))
    )
    got = {r.vec_id: r.cluster for r in kern.collect()}
    want = {r.vec_id: r.cluster for r in ref.collect()}
    assert got == want
    # pairs kernel vs the JVM self-join, exact cos_raw equality
    assigned = kern  # (vec_id, v, cluster)
    jvm_e = assigned.select(
        "vec_id",
        "cluster",
        F.col("v").alias("vec"),
        norm(F.col("v")).alias("nrm"),
    )
    ref_pairs = sorted(
        (r.id_a, r.id_b, r.cluster, r.cos_raw)
        for r in _pairs_exact(jvm_e, 0.1, "vec_id").collect()
    )
    kern_pairs = sorted(
        (r.id_a, r.id_b, r.cluster, r.cos_raw)
        for r in _pairs(assigned, 0.1, "vec_id", False).collect()
    )
    assert kern_pairs == ref_pairs  # exact float equality
    assert len(kern_pairs) > 0


def _bad_vector_frames(spark):
    """(name, frame) inputs outside the dense-vector contract: the bad
    row sits past the k-means seed ids, so it reaches the kernels."""
    good = [(i, [float(i), 1.0, -0.5, 2.0]) for i in range(12)]
    schema = "vec_id long, embedding array<double>"
    null = good[:7] + [(7, None)] + good[8:]
    ragged = good[:7] + [(7, [1.0, 2.0])] + good[8:]
    return {
        "null": (spark.createDataFrame(null, schema), "NULL vector"),
        "ragged": (spark.createDataFrame(ragged, schema), "length 2"),
    }


@pytest.mark.parametrize("case", ["null", "ragged"])
@pytest.mark.parametrize(
    "kernel",
    [
        "kmeans_assign",
        "lsh_buckets_arrow",
        "_pq_assign_arrow",
        "assign_cells",
        "probe_cells",
        "_pq_query_tables",
        "brute_force_topk",
    ],
)
def test_vector_kernels_reject_null_and_ragged_rows(spark, kernel, case):
    """Every Arrow vector kernel reads its batches through the one
    similarity._vector_reader contract: a NULL or wrong-length vector
    raises a ValueError naming the operator, the expected dim and the
    row's fault — never a bare numpy reshape error."""
    from arrow_ballista_spark.operators import ivf, kmeans, pq, similarity

    df, fault = _bad_vector_frames(spark)[case]
    books = [[[0.0, 0.0], [1.0, 1.0]]] * 2
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    run = {
        "kmeans_assign": lambda: kmeans.kmeans_assign(df, k=2, iters=2),
        "lsh_buckets_arrow": lambda: similarity.lsh_buckets_arrow(
            df, "vec_id", "embedding", [[[1.0, 0.0, 0.0, 0.0]]]
        ),
        "_pq_assign_arrow": lambda: pq._pq_assign_arrow(
            df, "vec_id", "embedding", books
        ),
        "assign_cells": lambda: ivf.assign_cells(df, "embedding", cents),
        "probe_cells": lambda: ivf.probe_cells(df, "embedding", cents, 1),
        "_pq_query_tables": lambda: pq._pq_query_tables(
            df, "embedding", books
        ),
        # the bad row is in the corpus, read by the kernel on a worker
        "brute_force_topk": lambda: similarity.brute_force_topk(
            df.where("vec_id < 3").withColumnRenamed("vec_id", "query_id"),
            df.withColumnRenamed("vec_id", "corpus_id"),
        ),
    }[kernel]
    with pytest.raises(Exception) as err:
        run().collect()
    msg = str(err.value)
    assert "ValueError" in msg and kernel in msg, msg[-2000:]
    assert "expected dim 4" in msg and fault in msg, msg[-2000:]


@pytest.mark.parametrize("vectorized", [False, True], ids=["exact", "blas"])
def test_kmeans_empty_corpus_returns_empty_frames(spark, vectorized):
    """A zero-row corpus has no seed: both k-means consumers return zero
    rows with their usual schemas, on both kernels."""
    from arrow_ballista_spark.operators.kmeans import (
        kmeans_assign,
        semantic_dedup_pairs,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    a = kmeans_assign(empty, k=3, iters=2, vectorized=vectorized)
    p = semantic_dedup_pairs(empty, k=3, iters=2, vectorized=vectorized)
    assert a.schema.simpleString() == "struct<vec_id:bigint,cluster:bigint>"
    assert p.schema.simpleString() == (
        "struct<id_a:bigint,id_b:bigint,cluster:bigint,cos_raw:double>"
    )
    assert a.collect() == [] and p.collect() == []


def test_minhash_sigs_arrow_matches_column_form(spark):
    """The signature kernel (minhash_sigs_arrow) must be BIT-identical
    to the SQL column form (tests/jvm_forms.py) on every lane: normal
    docs, an empty-gram doc (NULL signature), and a NULL-grams doc — and
    the engine's array banding (band_hash_array_from_sig) must produce
    the same band keys as the column banding on all of them.  Integer
    arithmetic end to end, so equality is exact."""
    from pyspark.sql import functions as F

    from arrow_ballista_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy cat"),
            (2, "completely different words here friend"),
            (3, ""),   # empty text -> degenerate gram lane
            (4, None),  # NULL text -> NULL grams
            (5, "the quick brown fox jumps over the lazy dog"),
        ],
        "doc_id long, text string",
    )
    grams = docs.select(
        F.col("doc_id"), dedup.word_shingles("text", 3).alias("grams")
    )
    hashes = grams.select(
        F.col("doc_id"), dedup.base_hashes("grams").alias("hashes")
    )
    num_perm, rpb = 32, 4
    col_form = hashes.select(
        F.col("doc_id"), *jvm_forms.minhash_signature("hashes", num_perm)
    )
    want = {
        r.doc_id: [r[f"mh_{i}"] for i in range(num_perm)]
        for r in col_form.collect()
    }
    kern = dedup.minhash_sigs_arrow(hashes, "doc_id", "hashes", num_perm)
    got = {
        r.doc_id: (list(r.mh) if r.mh is not None else [None] * num_perm)
        for r in kern.collect()
    }
    assert got == want
    # banding parity: same band keys from both layouts
    want_bands = {
        r.doc_id: list(r.b)
        for r in col_form.select(
            "doc_id", jvm_forms.band_hash_array(num_perm, rpb).alias("b")
        ).collect()
    }
    got_bands = {
        r.doc_id: list(r.b)
        for r in kern.select(
            "doc_id",
            dedup.band_hash_array_from_sig("mh", num_perm, rpb).alias("b"),
        ).collect()
    }
    assert got_bands == want_bands


def test_image_stats_degrades_on_corrupt_blobs(spark):
    """Corrupt/truncated blobs of every native format must yield NULL
    rows, never abort the batch: truncated PNG headers raise
    struct.error and corrupt deflate streams zlib.error — both must be
    absorbed like the decoders' own ValueErrors."""
    import struct
    import zlib

    import numpy as np

    def chunk(t, d):
        return (
            struct.pack(">I", len(d)) + t + d
            + struct.pack(">I", zlib.crc32(t + d))
        )

    sig = b"\x89PNG\r\n\x1a\n"
    good = multimodal.encode_png(
        np.zeros((2, 2, 3), np.uint8), filters=(1,)
    )
    rows = [
        (0, bytearray(good)),                       # decodes
        (1, bytearray(sig + b"\x00\x00\x00")),      # truncated header
        (2, bytearray(                              # corrupt deflate
            sig
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", b"\x99garbage-not-deflate")
            + chunk(b"IEND", b"")
        )),
        (3, bytearray(b"BM\x01\x02")),              # truncated BMP
        (4, bytearray(sig + chunk(                  # palette idx OOB
            b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0))
            + chunk(b"PLTE", bytes([1, 2, 3]))
            + chunk(b"IDAT", zlib.compress(b"\x00\x07"))
            + chunk(b"IEND", b""))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {r.doc_id: r.width for r in multimodal.image_stats(df).collect()}
    assert got[0] == 2
    assert all(got[i] is None for i in (1, 2, 3, 4))


def test_ivfpq_and_rerank_semantics(spark):
    """IVF-PQ end-to-end on planted near-dups: the composed index must
    put the planted copy at rank 1 for most queries, and the two-stage
    refine (ADC shortlist -> exact rerank) with a full-corpus shortlist
    must EQUAL the exact L2 top-k — the rerank is exact by construction."""
    import random

    import numpy as np

    from arrow_ballista_spark.operators.pq import (
        adc_rerank_exact,
        ivf_pq_topk,
        pq_adc_topk,
        train_codebooks,
    )

    rng = random.Random(31)
    base = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(120)]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    rows += [
        (1000 + i, [float(x + rng.gauss(0, 0.02)) for x in base[i]])
        for i in range(20)
    ]
    corpus = spark.createDataFrame(
        rows, "corpus_id long, embedding array<double>"
    )
    queries = spark.createDataFrame(
        [(i, v) for i, v in rows[:20]],
        "query_id long, embedding array<double>",
    )
    books = train_codebooks(corpus, "corpus_id", "embedding", 8, 16)
    out = ivf_pq_topk(
        queries, corpus, k=1, n_cells=8, nprobe=3, m=8, n_codes=16,
        books=books,
    )
    got = {r.query_id: r.corpus_id for r in out.collect()}
    hits = sum(1 for qid, cid in got.items() if cid == 1000 + qid)
    assert hits >= 16  # >=80%: coarse prune + 8-byte codes + planted dups

    # full-corpus shortlist -> rerank == exact brute force
    short = pq_adc_topk(
        queries, corpus, k=len(rows), m=8, n_codes=16, books=books
    )
    two_stage = adc_rerank_exact(short, queries, corpus, k=3)
    X = {i: np.array(v) for i, v in rows}
    for r in two_stage.filter(F.col("rnk") == 1).collect():
        q = X[r.query_id]
        dists = {
            i: float(((q - v) ** 2).sum())
            for i, v in X.items()
            if i != r.query_id
        }
        best = min(dists, key=lambda i: (round(dists[i], 6), i))
        assert r.corpus_id == best, r.query_id


def _jpeg_chunk(marker: int, payload: bytes) -> bytes:
    import struct

    return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload


def _handcrafted_jpeg(scan_byte: int, dc_vals: bytes, ac_spec) -> bytes:
    """A from-scratch 8x8 grayscale baseline JPEG built WITHOUT the
    encoder: all-ones quant table, minimal Huffman tables, one scan
    byte — an independent known-answer vector for the decoder."""
    import struct

    ac_bits, ac_vals = ac_spec
    return (
        b"\xff\xd8"
        + _jpeg_chunk(0xDB, b"\x00" + bytes([1] * 64))
        + _jpeg_chunk(
            0xC4, b"\x00" + bytes([1] + [0] * 15) + dc_vals
        )
        + _jpeg_chunk(0xC4, b"\x10" + bytes(ac_bits) + ac_vals)
        + _jpeg_chunk(0xC0, struct.pack(">BHHB", 8, 8, 8, 1) + b"\x01\x11\x00")
        + _jpeg_chunk(0xDA, b"\x01\x01\x00\x00\x3f\x00")
        + bytes([scan_byte])
        + b"\xff\xd9"
    )


def test_jpeg_decoder_known_answers():
    """Decoder known-answer vectors, independent of the encoder.

    (a) DC-only: category-4 DC value 10 with unit quantization ->
    every pixel round(10/8 + 128) = 129 (pins EXTEND, dequant, the
    IDCT DC gain of 8, and the +128 level shift).
    (b) single AC coefficient: zigzag index 1 is F[0,1]; the decoded
    image must match the T.81 IDCT formula computed from first
    principles (pins the zigzag order and the cosine basis)."""
    import numpy as np

    from arrow_ballista_spark.operators.jpeg import decode_jpeg

    # (a) bits: DC code "0" -> symbol 4, magnitude 1010 (=10), AC EOB "0"
    #    -> 0 1010 0 + pad 11 = 0x53
    blob = _handcrafted_jpeg(
        0x53, bytes([4]), ([1] + [0] * 15, bytes([0x00]))
    )
    out = decode_jpeg(blob)
    assert out.shape == (8, 8, 3)
    assert (out == 129).all()

    # (b) DC "0" (cat 0), AC sym "0"->0x04 (run 0, size 4), mag 1100
    #     (=12), EOB "10" -> 0 0 1100 10 = 0x32; expect
    #     f[y][x] = a(0)/2 * a(1)/2 * 2 * cos((2x+1)pi/16) * 12 + 128
    blob = _handcrafted_jpeg(
        0x32, bytes([0]), ([1, 1] + [0] * 14, bytes([0x04, 0x00]))
    )
    out = decode_jpeg(blob)
    x = np.arange(8)
    basis = 0.5 * np.sqrt(0.5) * 0.5 * np.cos((2 * x + 1) * np.pi / 16)
    expect = np.clip(np.round(12 * basis[None, :] * 1.0 + 128), 0, 255)
    for y in range(8):
        assert np.array_equal(out[y, :, 0].astype(float), expect[0]), y


def test_jpeg_gating_and_degradation(spark):
    """Arithmetic-coded JPEG (SOF9) stays gated with a clear error;
    truncated, garbage, and scanless-progressive streams degrade to
    NULL rows inside image_stats instead of failing the batch; real
    progressive (SOF2) streams decode natively."""
    import struct

    import numpy as np
    import pandas as pd

    from arrow_ballista_spark.operators.jpeg import decode_jpeg, encode_jpeg

    img = np.full((16, 16), 90, np.uint8)
    good = encode_jpeg(img, quality=95)
    assert (multimodal.decode_image(good)[:, :, 0] == 90).all()
    prog_good = encode_jpeg(img, quality=95, progressive=True)
    assert (multimodal.decode_image(prog_good)[:, :, 0] == 90).all()

    # arithmetic sequential (SOF9) decodes natively since r9; the
    # still-gated mode is arithmetic PROGRESSIVE (SOF10)
    from arrow_ballista_spark.operators.jpeg import encode_jpeg_arith

    arith_good = encode_jpeg_arith(img, quality=95)
    assert (multimodal.decode_image(arith_good)[:, :, 0] == 90).all()
    arithmetic = (
        b"\xff\xd8"
        + _jpeg_chunk(0xCA, struct.pack(">BHHB", 8, 8, 8, 1) + b"\x01\x11\x00")
        + b"\xff\xd9"
    )
    with pytest.raises(NotImplementedError):
        decode_jpeg(arithmetic)
    scanless_prog = (  # SOF2 frame with no SOS: corrupt, must ValueError
        b"\xff\xd8"
        + _jpeg_chunk(0xC2, struct.pack(">BHHB", 8, 8, 8, 1) + b"\x01\x11\x00")
        + b"\xff\xd9"
    )
    with pytest.raises(ValueError):
        decode_jpeg(scanless_prog)

    rows = [
        (0, bytearray(good)),
        (1, bytearray(good[: len(good) // 2])),  # truncated mid-scan
        (2, bytearray(b"\xff\xd8\x00garbage")),  # bad marker alignment
        (3, bytearray(arithmetic)),  # gated mode (SOF10)
        (4, bytearray(prog_good)),  # progressive decodes natively
        (5, bytearray(scanless_prog)),  # corrupt progressive degrades
        (6, bytearray(arith_good)),  # arithmetic decodes natively
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "blob"]),
        "doc_id long, blob binary",
    )
    got = {
        r["doc_id"]: r["width"]
        for r in multimodal.image_stats(df).collect()
    }
    assert got[0] == 16 and got[4] == 16 and got[6] == 16
    assert got[2] is None and got[3] is None and got[5] is None
    # truncated streams either pad-decode (T.81 1-bit padding) or
    # degrade to NULL; they must never abort the batch
    assert 1 in got


def test_gif_degradation_and_frame_count(spark):
    """Corrupt/truncated GIFs degrade to NULL rows inside image_stats;
    multi-frame GIFs report their frame count and decode_gif returns
    the FIRST frame."""
    import numpy as np
    import pandas as pd

    from arrow_ballista_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
        gif_frame_count,
    )

    img = np.full((8, 8, 3), 77, np.uint8)
    good = encode_gif(img)
    assert gif_frame_count(good) == 1
    # two-frame animation: splice the second blob's image block in
    img2 = np.full((8, 8, 3), 33, np.uint8)
    second = encode_gif(img2)
    two = good[:-1] + second[13 + 2 * 3 :]  # drop trailer; skip hdr+GCT
    assert gif_frame_count(two) == 2
    assert (decode_gif(two)[:, :, 0] == 77).all()  # first frame wins

    rows = [
        (0, bytearray(good)),
        (1, bytearray(good[: len(good) // 2])),  # truncated LZW
        (2, bytearray(b"GIF89a\x00")),  # truncated header
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "blob"]),
        "doc_id long, blob binary",
    )
    got = {
        r["doc_id"]: r["width"]
        for r in multimodal.image_stats(df).collect()
    }
    assert got[0] == 8 and got[1] is None and got[2] is None


def test_tiff_gating_and_degradation(spark):
    """Compressed TIFF stays gated (NotImplementedError), truncated
    strips degrade (ValueError) — both inside image_stats' NULL-row
    contract; good TIFFs of either byte order decode natively."""
    import numpy as np
    import pandas as pd

    from arrow_ballista_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff,
    )

    img = np.full((6, 8), 55, np.uint8)
    good = encode_tiff(img, big_endian=True, rows_per_strip=2)
    assert (multimodal.decode_image(good)[:, :, 0] == 55).all()
    # flip the compression tag (259) to 6 (old-style JPEG) -> gated
    import struct

    jpg6 = bytearray(encode_tiff(img))
    n = struct.unpack_from("<H", jpg6, 8)[0]
    for k in range(n):
        off = 10 + 12 * k
        if struct.unpack_from("<H", jpg6, off)[0] == 259:
            struct.pack_into("<I", jpg6, off + 8, 6)
    with pytest.raises(NotImplementedError):
        decode_tiff(bytes(jpg6))
    # tag 5 on raw (non-LZW) strip bytes is CORRUPT -> ValueError degrade
    lzw5 = bytearray(encode_tiff(img))
    for k in range(n):
        off = 10 + 12 * k
        if struct.unpack_from("<H", lzw5, off)[0] == 259:
            struct.pack_into("<I", lzw5, off + 8, 5)
    with pytest.raises(ValueError):
        decode_tiff(bytes(lzw5))
    rows = [
        (0, bytearray(good)),
        (1, bytearray(good[: len(good) - 20])),  # truncated strips
        (2, bytearray(jpg6)),  # gated compression
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "blob"]),
        "doc_id long, blob binary",
    )
    got = {
        r["doc_id"]: r["width"]
        for r in multimodal.image_stats(df).collect()
    }
    assert got[0] == 8 and got[1] is None and got[2] is None


def test_r8_review_regressions(spark):
    """Pins the round-8 second-review fixes: trailing disposal-3 GIFs
    decode (disposal happens after display), a header-only final ADPCM
    block still carries its sample, gif_frame_stats degrades to exactly
    ONE NULL row on mid-animation failure, and a corrupt TIFF tag count
    ValueErrors instead of MemoryError."""
    import struct

    import numpy as np
    import pandas as pd

    from arrow_ballista_spark.operators.multimodal import (
        _lzw_encode,
        decode_gif,
        decode_tiff,
        decode_wav,
        encode_adpcm_wav,
        encode_gif_animation,
        encode_tiff,
        gif_frame_stats,
    )

    # 1) single-frame GIF with disposal 3: renders fine (nothing follows)
    img = np.full((4, 4, 3), 90, np.uint8)
    blob = encode_gif_animation([img], disposals=[3])
    assert (decode_gif(blob)[:, :, 0] == 90).all()
    # ... and since r9, a SECOND frame after disposal 3 composites over
    # the RESTORED canvas (the full GIF89a disposal model)
    from arrow_ballista_spark.operators.multimodal import (
        decode_gif_frames,
    )

    f2 = img.copy()
    f2[1:3, 1:3] = 200
    f3 = img.copy()
    f3[0, 0] = 7  # delta computed vs frame-1 canvas, not frame-2
    three = encode_gif_animation(
        [img, f2, f3], disposals=[0, 3, 0], delta=True
    )
    got = list(decode_gif_frames(three))
    assert len(got) == 3
    for g, want in zip(got, (img, f2, f3)):
        assert (g == want).all()

    # 2) len(samples) % block_samples == 1 -> header-only final block
    sig = [100, 200, 300, 400, 500, 600, 20000]
    dec, _ = decode_wav(encode_adpcm_wav(sig, block_samples=3))
    assert dec.shape == (7, 1)
    assert int(dec[-1, 0] * 32768) == 20000  # block-3 header, exact
    # even block_samples would pad a garbage nibble into EVERY block
    with pytest.raises(ValueError, match="odd"):
        encode_adpcm_wav(sig, block_samples=2)

    # 3) mid-animation failure -> exactly one NULL row for that doc:
    # corrupt frame 2's descriptor so it exceeds the logical screen
    # (frame 1 decodes fine, frame 2 raises ValueError mid-generator)
    bad = bytearray(encode_gif_animation([img, img]))
    p = bad.index(b"\x21\xf9", bad.index(b"\x21\xf9") + 2)
    p = bad.index(b"\x2c", p)
    struct.pack_into("<H", bad, p + 7, 4 + 1)  # fh > screen height
    rows = [(0, bytearray(encode_gif_animation([img, img]))),
            (1, bad)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "blob"]),
        "doc_id long, blob binary",
    )
    got = gif_frame_stats(df).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    assert sorted(by_doc[0]) == [0, 1]
    assert by_doc[1] == [None]

    # 4) corrupt TIFF tag count -> bounded ValueError, not MemoryError
    t = bytearray(encode_tiff(np.full((2, 2), 7, np.uint8)))
    n = struct.unpack_from("<H", t, 8)[0]
    for k in range(n):
        off = 10 + 12 * k
        if struct.unpack_from("<H", t, off)[0] == 279:  # strip_counts
            struct.pack_into("<I", t, off + 4, 0xFFFFFFF0)  # count field
    with pytest.raises(ValueError):
        decode_tiff(bytes(t))
    _ = _lzw_encode  # referenced to keep the import audit happy


def test_ima_adpcm_decode_and_encoder_roundtrip():
    """IMA ADPCM decode must match an independent scalar reference on a
    random nibble stream (bit-exact stateful chain, nonzero header
    state); encode -> decode must track a smooth signal closely, the
    fact chunk must trim pad-nibble samples to the true count, and
    multi-block streams must restart from each block header."""
    import struct

    import numpy as np

    from arrow_ballista_spark.operators.multimodal import (
        _IMA_INDEX,
        _IMA_STEPS,
        decode_wav,
        encode_adpcm_wav,
    )

    rng = np.random.RandomState(7)
    codes = bytes(rng.randint(0, 256, 48, dtype=np.uint8).tolist())
    data = struct.pack("<hBB", 123, 5, 0) + codes
    fmt = struct.pack("<HHIIHH", 0x11, 1, 8000, 4000, 52, 4)
    wav = (
        b"RIFF" + struct.pack("<I", 0) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    s, rate = decode_wav(wav)
    pred, idx = 123, 5
    ref = [pred]
    for byte in codes:
        for n in (byte & 15, byte >> 4):
            step = _IMA_STEPS[idx]
            diff = step >> 3
            if n & 1:
                diff += step >> 2
            if n & 2:
                diff += step >> 1
            if n & 4:
                diff += step
            pred = pred - diff if n & 8 else pred + diff
            pred = max(-32768, min(32767, pred))
            idx = max(0, min(88, idx + _IMA_INDEX[n]))
            ref.append(pred)
    assert rate == 8000
    assert np.array_equal((s[:, 0] * 32768).astype(int), np.array(ref))

    t = np.arange(300)
    sig = (8000 * np.sin(t / 10.0)).astype(np.int16)
    dec, _ = decode_wav(encode_adpcm_wav(sig, block_samples=101))
    assert dec.shape == (300, 1)  # fact chunk trims the pad nibbles
    # after the cold-start ramp the tracker stays within a few steps
    err = np.abs(dec[50:, 0] * 32768 - sig[50:])
    assert err.max() < 2000


def test_gif_local_table_and_background_compositing():
    """A frame smaller than the logical screen with a LOCAL color table
    must composite onto a background resolved through the GLOBAL table
    — even when the background index exceeds the local table's size
    (the r8 review repro: this used to IndexError)."""
    import struct

    import numpy as np

    from arrow_ballista_spark.operators.multimodal import (
        _lzw_encode,
        decode_gif,
    )

    gct = bytes([0, 0, 0, 10, 20, 30, 40, 50, 60, 200, 100, 50])  # 4 RGB
    lct = bytes([255, 0, 0, 0, 255, 0])  # 2 entries: red, green
    lzw = _lzw_encode(np.array([1]), 2)  # one pixel -> local index 1
    blob = (
        b"GIF89a"
        + struct.pack("<HHBBB", 2, 2, 0x80 | 1, 3, 0)  # 4-entry GCT, bg=3
        + gct
        + b"\x2c" + struct.pack("<HHHHB", 1, 1, 1, 1, 0x80 | 0)  # local CT
        + lct
        + bytes([2, len(lzw)]) + lzw + b"\x00\x3b"
    )
    out = decode_gif(blob)
    assert np.array_equal(out[1, 1], [0, 255, 0])  # frame: local green
    assert np.array_equal(out[0, 0], [200, 100, 50])  # bg: GLOBAL idx 3


def test_g711_expansion_tables_and_wav_decode():
    """The G.711 LUTs must match the canonical anchors (µ-law: both
    zero codes 0xFF/0x7F -> 0, code 0x00 -> -32124; A-law: 0xD5 -> +8,
    0x55 -> -8, 0x2A -> -32256 and 0xAA -> +32256 extremes) and be
    odd-symmetric under the sign-bit flip; a format-tag-7 WAV decodes
    through them."""
    import struct

    import numpy as np

    from arrow_ballista_spark.operators.multimodal import (
        _g711_alaw_table,
        _g711_ulaw_table,
        decode_wav,
    )

    ut, at = _g711_ulaw_table(), _g711_alaw_table()
    assert ut[0xFF] == 0 and ut[0x7F] == 0
    assert ut[0x00] == -32124 and ut[0x80] == 32124
    assert at[0xD5] == 8 and at[0x55] == -8
    assert at[0xAA] == 32256 and at[0x2A] == -32256
    # sign-bit flip negates the magnitude in both laws
    for tbl in (ut, at):
        codes = np.arange(128)
        assert (tbl[codes] == -tbl[codes ^ 0x80]).all() or (
            tbl[codes ^ 0x80] == -tbl[codes]
        ).all()
    fmt = struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8)
    data = bytes(range(0, 96))
    wav = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    samples, rate = decode_wav(wav)
    assert rate == 8000 and samples.shape == (96, 1)
    assert np.allclose(samples[:, 0], ut[np.arange(96)] / 32768.0)
    # a tag-7 stream declaring non-8-bit samples is corrupt: must take
    # the ValueError degrade path, not split samples into bogus codes
    bad_fmt = struct.pack("<HHIIHH", 7, 1, 8000, 16000, 2, 16)
    bad = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(bad_fmt) + 8 + len(data))
        + b"WAVE" + b"fmt " + struct.pack("<I", len(bad_fmt)) + bad_fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    with pytest.raises(ValueError, match="8-bit"):
        decode_wav(bad)


def test_jpeg_rejects_bad_sampling_factors(spark):
    """SOF sampling factors outside 1-2 must raise ValueError (inside
    image_stats' degrade tuple): h/v = 0 would divide the MCU grid by
    zero; 3-4 are legal JPEG but outside the documented 4:2:0 scope and
    would silently misdecode via integer repeat factors."""
    import struct

    import pandas as pd
    import pytest

    from arrow_ballista_spark.operators.jpeg import decode_jpeg

    def sof_with(hv_bytes):
        comps = b"".join(
            bytes([i + 1]) + bytes([hv]) + b"\x00"
            for i, hv in enumerate(hv_bytes)
        )
        return (
            b"\xff\xd8"
            + _jpeg_chunk(
                0xC0,
                struct.pack(">BHHB", 8, 16, 16, len(hv_bytes)) + comps,
            )
            + b"\xff\xd9"
        )

    zero = sof_with([0x10, 0x11, 0x11])  # v=0 on component 1
    four = sof_with([0x41, 0x11, 0x11])  # h=4: legal JPEG, out of scope
    for blob in (zero, four):
        with pytest.raises(ValueError):
            decode_jpeg(blob)

    df = spark.createDataFrame(
        pd.DataFrame(
            [(0, bytearray(zero)), (1, bytearray(four))],
            columns=["doc_id", "blob"],
        ),
        "doc_id long, blob binary",
    )
    got = {r["doc_id"]: r["width"] for r in multimodal.image_stats(df).collect()}
    assert got[0] is None and got[1] is None  # degraded, batch intact


def test_bpe_train_matches_python_reference(spark):
    """bpe_train_merges must reproduce a pure-Python BPE (Sennrich 2016)
    exactly — merges, order, counts — including the fully-merged-word
    edge (a word collapsing to one symbol stops contributing pairs)."""
    import re
    from collections import Counter

    from arrow_ballista_spark.operators.text import bpe_train_merges

    corpus = [
        "the cat sat on the mat",
        "the hat of the cat",
        "mats and hats",
        "THE the The",
        "a a a aa",
        "zz zz zz zz zz zz",  # tiny word that fully merges early
        # consecutive same-pair occurrences inside one word: the merge
        # replace must hit BOTH 'an's of banana (greedy left-to-right) —
        # the single-delimiter representation regression
        "banana banana bandana anagrams",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    got = [
        (r["rank"], r["left_tok"], r["right_tok"], r["pair_count"])
        for r in bpe_train_merges(docs, k=10).collect()
    ]

    wc = Counter()
    for t in corpus:
        for w in re.split(" +", t):
            w = w.lower()
            if re.fullmatch("[a-z0-9]+", w):
                wc[w] += 1
    reps = {w: list(w) + ["</w>"] for w in wc}
    want = []
    for rank in range(10):
        cnt = Counter()
        for w, n in wc.items():
            s = reps[w]
            for i in range(len(s) - 1):
                cnt[(s[i], s[i + 1])] += n
        if not cnt:
            break
        (l, r), c = sorted(
            cnt.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[0]
        want.append((rank, l, r, c))
        for w in wc:
            s = reps[w]
            ns, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    ns.append(l + r)
                    i += 2
                else:
                    ns.append(s[i])
                    i += 1
            reps[w] = ns
    assert got == want


@pytest.mark.slow
def test_bpe_driver_loop_matches_distributed_fallback(spark):
    """The r8 driver-side merge loop (incremental pair maintenance +
    lazy heap) must produce byte-identical merges to the distributed
    per-merge fallback (forced via driver_vocab_cap=0), including the
    final vocabulary representation the apply half joins against."""
    from arrow_ballista_spark.operators.text import _bpe_train

    corpus = [
        "the cat sat on the mat",
        "the hat of the cat",
        "banana banana bandana anagrams",
        "zz zz zz zz aa aa a",
        "repeat repeat repeated repeating",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    m_drv, rep_drv = _bpe_train(docs, "text", 15)
    m_dist, rep_dist = _bpe_train(docs, "text", 15, driver_vocab_cap=0)
    assert m_drv == m_dist
    d = {r["w"]: (r["r"], r["n"]) for r in rep_drv.collect()}
    f = {r["w"]: (r["r"], r["n"]) for r in rep_dist.collect()}
    assert d == f


def test_bpe_tokenize_compression_sane(spark):
    """bpe_token_counts invariants: n_tokens <= n_chars + n_words... no —
    tokens can never exceed characters (every merge shrinks), and can
    never go below n_words (a word is at least one token); compression
    must actually happen on a repetitive corpus."""
    from arrow_ballista_spark.operators.text import bpe_token_counts

    corpus = ["the their then there the them"] * 4 + ["xyz qqq"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    rows = bpe_token_counts(docs, k=6).collect()
    assert len(rows) == len(corpus)
    for r in rows:
        assert r["n_words"] <= r["n_tokens"] <= r["n_chars"]
    rep = [r for r in rows if r["doc_id"] == 0][0]
    # the repeated 'the'-family words must compress well below chars
    assert rep["n_tokens"] < rep["n_chars"] * 0.7


def test_residual_ivfpq_zero_residual_and_contract(spark):
    """Residual IVF-PQ sanity: a corpus lying EXACTLY on the trained
    coarse centroids has all-zero residuals, so residual-book encoding
    reconstructs perfectly (recon_err == 0) while global books on the
    raw vectors cannot (distinct centroids, 4 codewords); the search
    output honors the (rounded dist, id) ranking contract."""
    import numpy as np
    from pyspark.sql import functions as F

    from arrow_ballista_spark.operators import ivf
    from arrow_ballista_spark.operators.pq import (
        ivf_pq_residual_topk,
        pq_encode,
        train_coarse_centroids,
        train_residual_codebooks,
    )

    rng = np.random.RandomState(3)
    cents = rng.randn(4, 16)
    X = cents[np.arange(64) % 4]  # every vector IS a centroid
    emb = spark.createDataFrame(
        [(int(i), [float(v) for v in X[i]]) for i in range(64)],
        "vec_id long, embedding array<double>",
    )
    c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    tc = train_coarse_centroids(c, "corpus_id", "embedding", n_cells=4,
                                iters=20)
    rbooks = train_residual_codebooks(c, "corpus_id", "embedding", tc,
                                      m=4, k=4)
    centdf = spark.createDataFrame(
        [(i, [float(x) for x in cc]) for i, cc in enumerate(tc)],
        "cell int, ce array<double>",
    )
    idx = ivf.assign_cells(
        c.select("corpus_id", F.col("embedding").alias("cv")), "cv", tc
    ).select("corpus_id", "cell")
    rcorp = (
        c.join(idx, "corpus_id")
        .join(F.broadcast(centdf), "cell")
        .select(
            "corpus_id",
            F.expr(
                "zip_with(cast(embedding as array<double>), ce,"
                " (a, b) -> a - b)"
            ).alias("rv"),
        )
    )
    err = (
        pq_encode(rcorp, "rv", "corpus_id", m=4, k=4, books=rbooks)
        .agg(F.max("recon_err"))
        .collect()[0][0]
    )
    assert err < 1e-18, err
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_pq_residual_topk(
        q, c, k=5, n_cells=4, nprobe=4, m=4, n_codes=4,
        books=rbooks, cents=tc,
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        rows = sorted(rows, key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rows] == list(range(1, len(rows) + 1))
        keys = [(r["approx_dist"], r["corpus_id"]) for r in rows]
        assert keys == sorted(keys)  # rounded-dist then id ordering
        assert all(r["corpus_id"] != qid for r in rows)


def test_residual_literals_bit_identical_to_spark_trainers(spark):
    """train_residual_literals (pyarrow row-group stream) must produce
    bit-identical centroids AND residual codebooks to the Spark-side
    trainers on the same file — the claim that lets the same literals
    drive both the Spark plan and the generated DuckDB oracle."""
    from arrow_ballista_spark.operators.pq import (
        _sample_matrix,
        train_coarse_centroids,
        train_residual_codebooks,
        train_residual_literals,
    )

    cents_l, books_l = train_residual_literals(SF_DIR, n_cells=16, m=16, k=32)
    emb = load_table(spark, SF_DIR, "embeddings")
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    X = _sample_matrix(corpus, "corpus_id", "embedding", 4096, nonzero=True)
    cents_s = train_coarse_centroids(corpus, "corpus_id", "embedding", 16, X=X)
    books_s = train_residual_codebooks(
        corpus, "corpus_id", "embedding", cents_s, m=16, k=32, X=X
    )
    assert cents_l == cents_s
    assert books_l == books_s


def test_train_coarse_centroids_rejects_undersized_sample(spark):
    """Asking for more cells than the nonzero training sample holds must
    raise, not silently hand back a truncated index space."""
    import pytest

    from arrow_ballista_spark.operators.pq import train_coarse_centroids

    c = spark.createDataFrame(
        [(i, [float(i + 1), 0.0]) for i in range(3)],
        "corpus_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="n_cells"):
        train_coarse_centroids(c, "corpus_id", "embedding", n_cells=8)


@pytest.mark.slow
def test_codec_oracles_nonascii_documents(spark, tmp_path):
    """VERDICT r8 item 2: the codec entries' ascii(substring(...)) byte
    indexing silently assumed ASCII corpora.  Both halves now map every
    non-ASCII code point to ONE '?' byte (_ascii_bytes vs the
    regexp_replace inside each oracle's rpad), and the features/frames
    oracles went octet-level — so a corpus with multi-byte UTF-8 must
    hash-match too.  Property: inject é/ÿ/中/🎉 (2-, 2-, 3-, 4-byte
    UTF-8) plus control chars into sf0.001 documents and replay the
    driver comparison on every codec-family entry."""
    import duckdb
    import pandas as pd

    from tests.conftest import make_oracle

    src = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    txt = src["text"].astype(str).tolist()
    marks = ["é", "中文", "🎉", "ÿßø", "\tmixé\n", "naïve—café"]
    for i in range(len(txt)):
        if i % 3 == 0:  # leave some rows pure-ASCII
            m = marks[i % len(marks)]
            txt[i] = m + txt[i][: max(0, 40 - len(m))] + m
    src["text"] = txt
    nd = tmp_path / "nonascii"
    nd.mkdir()
    src.to_parquet(nd / "documents.parquet", index=False)
    con = make_oracle(str(nd))

    entries = [
        "ext_multimodal_features",
        "ext_multimodal_frames",
        "ext_multimodal_image_stats",
        "ext_multimodal_png_stats",
        "ext_multimodal_jpeg_stats",
        "ext_multimodal_audio_stats",
        "ext_multimodal_mulaw_stats",
        "ext_multimodal_gif_stats",
        "ext_multimodal_tiff_stats",
        "ext_multimodal_adpcm_stats",
        "ext_multimodal_gif_frames",
    ]
    for name in entries:
        qd = REG[name]
        assert qd.oracle is not None, name
        assert_same_results(qd.spark(spark, str(nd)), con, qd.oracle)


def test_tiff_jpeg_short_strip_array_degrades():
    """ADVICE r9: a corrupt IFD whose strip_offsets/strip_counts arrays
    are SHORTER than ceil(h/rps) must not silently return an image with
    fewer rows than the declared height — completeness is now checked
    after strip concatenation (the lossless path's 'truncated TIFF
    strip data' equivalent for JPEG strips)."""
    import struct

    import numpy as np

    from arrow_ballista_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff,
    )

    img = np.arange(16 * 8, dtype=np.uint8).reshape(16, 8)
    blob = bytearray(encode_tiff(img, jpeg=95, rows_per_strip=8))
    ifd = struct.unpack_from("<I", blob, 4)[0]
    n = struct.unpack_from("<H", blob, ifd)[0]
    for k in range(n):
        off = ifd + 2 + 12 * k
        tag, _typ, cnt = struct.unpack_from("<HHI", blob, off)
        if tag in (273, 279):  # StripOffsets / StripByteCounts
            assert cnt == 2
            arr_off = struct.unpack_from("<I", blob, off + 8)[0]
            first = struct.unpack_from("<I", blob, arr_off)[0]
            struct.pack_into("<I", blob, off + 4, 1)  # claim ONE strip
            struct.pack_into("<I", blob, off + 8, first)  # now inline
    with pytest.raises(ValueError, match="strips cover 8 rows"):
        decode_tiff(bytes(blob))


def test_wav_float_nonfinite_rejected_and_hot_clamped():
    """ADVICE r9: the IEEE-float WAV path returns samples under a
    documented [-1, 1] contract — corrupt NaN/Inf payloads must take the
    ValueError degrade lane (not poison audio_stats RMS/peak), and
    legal-but-hot samples clamp to full scale."""
    import struct

    import numpy as np

    from arrow_ballista_spark.operators.multimodal import decode_wav

    def fwav(payload):
        fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
        out = b"fmt " + struct.pack("<I", len(fmt)) + fmt
        out += b"data" + struct.pack("<I", len(payload)) + payload
        return b"RIFF" + struct.pack("<I", 4 + len(out)) + b"WAVE" + out

    bad = np.array([0.5, np.nan, -0.25], np.float32)
    with pytest.raises(ValueError, match="non-finite"):
        decode_wav(fwav(bad.tobytes()))
    bad[1] = np.inf
    with pytest.raises(ValueError, match="non-finite"):
        decode_wav(fwav(bad.tobytes()))
    hot = np.array([0.5, 1.75, -3.0], np.float32)
    s, rate = decode_wav(fwav(hot.tobytes()))
    assert rate == 8000
    assert np.allclose(s[:, 0], [0.5, 1.0, -1.0])
    # ADVICE r10: finite-but-absurd amplitudes (flipped exponent bits)
    # are corruption, not headroom — same degrade lane as NaN/Inf
    absurd = np.array([0.5, 1e30, -0.25], np.float32)
    with pytest.raises(ValueError, match="implausible"):
        decode_wav(fwav(absurd.tobytes()))
    # boundary: +36 dBFS (64x) is still treated as hot tail, not corrupt
    edge = np.array([0.5, 64.0, -0.25], np.float32)
    s2, _ = decode_wav(fwav(edge.tobytes()))
    assert np.allclose(s2[:, 0], [0.5, 1.0, -0.25])
