"""Deduplication operators for large-scale training-data pipelines.

Everything here is built from JVM-side ``pyspark.sql.functions`` or
vectorized Arrow kernels (no row-at-a-time Python UDFs in the hot path),
so it scales linearly:

- :func:`exact_dedup` — hash-groupBy keep-first; one shuffle on the dedup
  key (map-side partial aggregation combines within partitions first).
- :func:`char_shingles` / :func:`minhash_sigs_arrow` — map-only (zero
  shuffle): k-gram extraction is a per-row array transform and the
  128-permutation MinHash signature one vectorized Arrow pass.
- :func:`lsh_candidate_pairs` — the only shuffle is a self-join keyed on
  (band_index, band_signature); at 100 TB this is the classic
  shingle→minhash→band→bucket-join layout where bucket sizes, not the
  corpus square, bound the join.
- :func:`jaccard_verify` — exact char-k-gram Jaccard on candidates only.
- :func:`simhash` — 64-bit SimHash + banded Hamming candidate join.

100 TB notes: signatures are ~1 KB/doc regardless of doc size; band join
keys are 16 bytes; skewed buckets (boilerplate shingles) are handled by
AQE skew-join splitting (enabled in session defaults).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from arrow_ballista_spark.operators.caching import (
    checkpointer,
    tracked_local_checkpoint,
    tracked_persist,
)
from arrow_ballista_spark.session import shuffle_partitions
from arrow_ballista_spark.types import local_frame

# MinHash modulus: 2^31 - 1 (Mersenne prime).  Base hashes and permutation
# coefficients stay < 2^31 so a*h+b < 2^62 never overflows signed 64-bit.
MERSENNE31 = 2_147_483_647


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep one row (min id) per distinct key — hash-groupBy dedup."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


def char_shingles(text_col: str, k: int = 3) -> Column:
    """Distinct character k-grams of a text column (map-only, JVM-side)."""
    return F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1)),"
            f" i -> substring({text_col}, i, {k}))"
        )
    )


def word_shingles(text_col: str, n: int = 3) -> Column:
    """Distinct word n-grams (the standard MinHash document-dedup shingle:
    char grams saturate on small vocabularies and stop discriminating —
    word shingles keep Jaccard bimodal, so LSH banding actually prunes).
    Documents with < n tokens contribute their token set.

    Built with the let-binding idiom — ``transform(array(split(...)),
    t -> ...)`` binds the token array ONCE per row; referencing
    ``split(...)`` inside the gram lambda re-evaluates the split per
    element (measured 7x slower on the dedup map stage, the hottest
    expression in the engine)."""
    parts = ", ' ', ".join(f"t[i{(j - 1):+d}]" for j in range(n))
    return F.array_distinct(
        F.expr(
            f"transform(array(split({text_col}, ' +')), t -> "
            f"CASE WHEN size(t) < {n} THEN t ELSE "
            f"transform(sequence(1, size(t) - {n - 1}),"
            f" i -> concat({parts})) END)[0]"
        )
    )


def token_windows(text_col: str, w: int = 8) -> Column:
    """All distinct ``w``-token windows (stride 1) of a text column, as
    space-joined strings — the fingerprint unit of exact-substring dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better": training corpora are full of EXACT repeated spans — license
    boilerplate, templated pages — that near-dup Jaccard at the document
    level misses because the surrounding text differs).  Documents with
    fewer than ``w`` tokens contribute their whole text as one window.
    Same let-binding idiom and ``' +'`` tokenizer as
    :func:`word_shingles` so engines and oracles agree."""
    return F.array_distinct(
        F.expr(
            f"transform(array(split({text_col}, ' +')), t -> "
            f"CASE WHEN size(t) < {w} THEN array(concat_ws(' ', t)) ELSE "
            f"transform(sequence(1, size(t) - {w - 1}),"
            f" i -> concat_ws(' ', slice(t, i, {w}))) END)[0]"
        )
    )


def substring_duplicate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    w: int = 8,
    max_df: int | None = None,
) -> DataFrame:
    """Document pairs sharing at least one EXACT ``w``-token window:
    ``(id_a, id_b, shared_windows)`` with ``id_a < id_b`` — the
    exact-substring dedup modality (fourth next to MinHash-Jaccard,
    SimHash, and embedding-cosine; see :func:`token_windows`).

    Scale shape: window extraction is map-only (O(tokens) rows per doc,
    stride 1); the single shuffle is the self-join keyed by the window
    string, so bucket sizes — not the corpus square — bound the join,
    same layout as the LSH band join.  ``max_df`` drops windows occurring
    in more than that many documents BEFORE the pair join: boilerplate
    windows (license headers, nav chrome) are exactly the hot keys that
    would otherwise quadratically blow up their buckets, and pairs they
    generate are rarely wanted (two docs sharing ONLY boilerplate are not
    duplicates).  AQE skew-join splitting covers the residual skew.  At
    100 TB, key by ``xxhash64(window)`` instead of the raw string to
    shrink shuffle bytes ~6x (collisions only add a candidate pair at
    ~1e-19/pair); the raw-string key here keeps the operator value-exact
    against the DuckDB oracle."""
    wins = df.select(
        F.col(id_col), F.explode(token_windows(text_col, w)).alias("win")
    )
    if max_df is not None:
        keep = (
            wins.groupBy("win")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("win")
        )
        wins = wins.join(keep, "win", "left_semi")
    # both pair sides read the exploded windows — persist so the
    # extraction map stage runs once (released via release_caches())
    wins = tracked_persist(wins)
    a = wins.select(F.col(id_col).alias("id_a"), "win")
    b = wins.select(F.col(id_col).alias("id_b"), F.col("win").alias("win_b"))
    return (
        a.join(b, (a.win == b.win_b) & (a.id_a < b.id_b))
        .groupBy("id_a", "id_b")
        # windows are distinct per doc, so count(*) == shared windows
        .agg(F.count(F.lit(1)).alias("shared_windows"))
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    w: int = 8,
) -> DataFrame:
    """Repeated-span REMOVAL (the transform in Lee et al. 2022, not just
    detection): a token in document ``d`` is dropped when it is covered
    by a ``w``-token window whose exact text also appears in a document
    with a SMALLER id — the corpus keeps exactly the first occurrence of
    every duplicated span and strips the rest.  Returns
    ``(id_col, clean_text, n_tokens_removed)``.

    Deterministic by construction (owner = min doc id per window), so the
    whole transform is value-exact against a SQL oracle.  A short doc
    that is a verbatim copy of an earlier one loses ALL its tokens
    (clean_text = '') — that is the intended outcome for exact dups.

    Scale shape: window extraction and token explode are map-only and
    linear in corpus tokens; the shuffles are (1) the per-window
    min-owner aggregation, (2) the window→owner join, (3) the per-doc
    rebuild aggregation — all keyed, none quadratic.  Boilerplate hot
    windows skew only the owner AGGREGATION (map-side combined), not a
    pair join, so this is safe where :func:`substring_duplicate_pairs`
    needs ``max_df``."""
    toks = df.select(
        F.col(id_col), F.expr(f"split({text_col}, ' +')").alias("t")
    )
    # (doc, window-start pos, window text) — stride 1, pos 0-based;
    # docs shorter than w tokens form one whole-text window at pos 0
    wins = toks.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"CASE WHEN size(t) < {w} THEN array(concat_ws(' ', t)) "
                f"ELSE transform(sequence(1, size(t) - {w - 1}),"
                f" i -> concat_ws(' ', slice(t, i, {w}))) END"
            )
        ).alias("pos", "win"),
    )
    owners = wins.groupBy("win").agg(F.min(id_col).alias("_owner"))
    dup_spans = (
        wins.join(owners, "win")
        .where(F.col(id_col) > F.col("_owner"))
        .select(
            F.col(id_col),
            # the span covers tokens [pos, pos + w) (or the whole short
            # doc, whose single window always has pos 0 and size(t) toks)
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(w - 1))
            ).alias("tokpos"),
        )
        .distinct()
    )
    tok_rows = toks.select(
        F.col(id_col), F.posexplode("t").alias("tokpos", "tok")
    )
    kept = tok_rows.join(dup_spans, [id_col, "tokpos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.expr(
            "concat_ws(' ', transform(array_sort("
            "collect_list(struct(tokpos, tok))), s -> s.tok))"
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("_kept"),
    )
    n_tok = toks.select(F.col(id_col), F.size("t").alias("_total"))
    return (
        n_tok.join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            (F.col("_total") - F.coalesce("_kept", F.lit(0)))
            .cast("long")
            .alias("n_tokens_removed"),
        )
    )


def _auto_gram_length(
    pre: DataFrame,
    max_dist: int,
    prefix_len: int,
    sample_rows: int = 600,
) -> int:
    """Pick the ED-Join gram length from a bounded corpus sample.

    The prefix-filter guarantee is lossless for ANY ``q`` (results are
    identical), but candidate-join cost is not, in BOTH directions: on
    text with a repetitive CHARACTER vocabulary, short grams stop being
    rare and the probe join goes quadratic (74s vs 9.7s at 10x data for
    q=4 vs q=12, SCALING.md round 4); and at the other end, q near
    ``prefix_len/(d+1)`` pushes ``min_long`` up to the prefix length so
    nearly every string routes to the length-band SHORT path, which
    self-joins whole length bands (q=13 measured 12.4s vs q=12's 2.1s
    at sf0.1 — a threshold-on-rarity rule cannot see this cliff).  So
    the choice is a direct cost model over the sample: for each
    candidate q, estimate
    - long-path candidates: sum over long docs of the sample document
      frequencies of their d*q+1 rarest gram types (the actual join
      keys), and
    - short-path candidates: for each doc below ``(d+1)*q + d``, the
      number of sample docs within +-d of its length (the band
      self-join size),
    and take the q minimizing their sum.  Both terms are sample pair
    counts, so they compose without weighting.

    Driver cost is bounded and corpus-size independent: one
    ``limit(sample_rows)`` collect (<= sample_rows * prefix_len chars)
    plus pure-Python counting over a ~6-value grid; at cluster scale
    the limit reads a handful of input splits.  Sample composition only
    tunes performance, never results."""
    from collections import Counter

    texts = [
        (r[0] or "")[:prefix_len]
        for r in pre.limit(sample_rows).collect()
    ]
    len_hist = Counter(len(t) for t in texts)
    q_max = max(2, prefix_len // (max_dist + 1))
    if q_max <= 4:
        grid = list(range(2, q_max + 1))
    else:
        grid = sorted({q for q in (4, 6, 8, 10, 12) if q < q_max} | {q_max})
    best_q, best_cost = grid[-1], None
    for q in grid:
        min_long = (max_dist + 1) * q
        k = max_dist * q + 1
        dfc: Counter = Counter()
        doc_grams = []
        for t in texts:
            if len(t) < min_long:
                continue
            gs = {t[i : i + q] for i in range(len(t) - q + 1)}
            doc_grams.append(gs)
            dfc.update(gs)
        est_long = 0
        for gs in doc_grams:
            rare = sorted(gs, key=lambda g: (dfc[g], g))[:k]
            est_long += sum(dfc[g] - 1 for g in rare)
        est_short = sum(
            cnt
            * sum(
                len_hist.get(ln + d, 0)
                for d in range(-max_dist, max_dist + 1)
            )
            for ln, cnt in len_hist.items()
            if ln < min_long + max_dist
        )
        cost = est_long + est_short
        if best_cost is None or cost < best_cost:
            best_q, best_cost = q, cost
    return best_q


def editdist_duplicate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_dist: int = 2,
    q: int | str = 4,
    prefix_len: int = 40,
) -> DataFrame:
    """Fuzzy short-string dedup: pairs whose first ``prefix_len`` chars
    are within Levenshtein ``max_dist`` — ``(id_a, id_b, dist)``.  The
    modality for near-identical short fields (titles, product names,
    normalized URLs) where token-set Jaccard is too coarse.

    EXACT result via lossless ED-Join prefix filtering (Xiao, Wang &
    Lin, VLDB 2008): two strings within edit distance ``d`` each miss at
    most ``d*q`` of the other's ``q``-grams, so taking every string's
    ``d*q + 1`` GLOBALLY RAREST grams (ordered by corpus document
    frequency) guarantees at least one of them occurs in any qualifying
    partner — joining only those probe grams against full gram sets can
    never drop a true pair, and exact ``levenshtein`` verification on
    the candidates removes every false one.

    Scale shape: gram extraction is map-only; the document-frequency
    count and the per-doc rarest-gram ranking are keyed shuffles (the
    ranking window partitions by doc id — never skewed); the candidate
    join probes with RARE grams only, so boilerplate hot grams ("the ",
    "tion") are never join keys and bucket sizes stay bounded without
    any lossy ``max_df`` cap; the location filter (|pos shift| <= d)
    prunes misaligned matches before the pair ever forms.  Verification
    is threshold-banded levenshtein — O(prefix_len * d) per candidate,
    candidates only.

    The gram-prefix guarantee needs ``len >= (d+1)*q`` (shorter strings
    may share NO gram with a valid partner — "xx" vs "xy" at q=4), so
    strings below that bound take a second lossless path: a length-band
    equi-join (|len diff| <= d is necessary for dist <= d).  A short
    string's partner is at most ``d`` longer, so the two paths together
    cover every qualifying pair; overlap dedupes on the full row.

    Oracle caveat: Spark's ``levenshtein`` counts Unicode codepoints,
    DuckDB's counts BYTES — identical on ASCII (the fixtures), divergent
    on multi-byte text; pin oracles to ASCII columns."""
    pre = df.select(
        F.col(id_col), F.substring(F.col(text_col), 1, prefix_len).alias("_pre")
    )
    pre = tracked_persist(pre)
    if q == "auto":
        # per-run retune from a bounded sample — see _auto_gram_length
        q = _auto_gram_length(
            pre.select(F.col("_pre")), max_dist, prefix_len
        )
    k = max_dist * q + 1
    min_long = (max_dist + 1) * q  # shortest length the gram proof covers

    def verify(cand: DataFrame) -> DataFrame:
        # threshold-banded levenshtein: O(len*d) per pair instead of
        # O(len^2); returns -1 above the threshold
        return (
            cand.distinct()
            .withColumn(
                "dist",
                F.levenshtein("_pre_a", "_pre_b", max_dist).cast("long"),
            )
            .where(F.col("dist") >= 0)
            .select("id_a", "id_b", "dist")
        )

    # --- long path: ED-Join rare-gram prefix filtering ---
    # gram OCCURRENCES with positions: d edits shift any surviving
    # occurrence by at most d, so a matching gram pair with
    # |pos_a - pos_b| > d can never witness a true pair — the ED-Join
    # location filter, which collapses the candidate set on repetitive
    # text where the same gram recurs at many positions
    longs = pre.where(F.length("_pre") >= min_long)
    grams = longs.select(
        F.col(id_col),
        F.col("_pre"),
        F.posexplode(
            F.expr(
                f"transform(sequence(1, length(_pre) - {q - 1}),"
                f" i -> substring(_pre, i, {q}))"
            )
        ).alias("_pos", "_gram"),
    )
    grams = tracked_persist(grams)
    gdf = grams.groupBy("_gram").agg(F.count(F.lit(1)).alias("_df"))
    from pyspark.sql import Window

    # the k rarest DISTINCT gram types per doc (dense_rank), ALL of their
    # occurrences: a qualifying pair leaves >= 1 of these occurrences
    # unedited (k types => > d*q occurrences cannot all be destroyed)
    w = Window.partitionBy(id_col).orderBy("_df", "_gram")
    probe = (
        grams.join(gdf, "_gram")
        .withColumn("_rk", F.dense_rank().over(w))
        .where(F.col("_rk") <= k)
        .select(
            F.col(id_col).alias("id_a"), F.col("_pre").alias("_pre_a"),
            "_gram", F.col("_pos").alias("_pos_a"),
        )
    )
    index = grams.select(
        F.col(id_col).alias("id_b"), F.col("_pre").alias("_pre_b"),
        F.col("_gram").alias("_gram_b"), F.col("_pos").alias("_pos_b"),
    )
    # prefix(min-id) ∩ grams(max-id) is guaranteed non-empty for a true
    # long-long pair, so probing with id_a < id_b alone stays lossless
    long_pairs = verify(
        probe.join(
            index,
            (probe._gram == index._gram_b)
            & (probe.id_a < index.id_b)
            & (F.abs(probe._pos_a - index._pos_b) <= max_dist),
        ).select("id_a", "id_b", "_pre_a", "_pre_b")
    )

    # --- short path: length-band join among strings a short one can
    # reach (len < min_long + d) ---
    reach = pre.where(F.length("_pre") < min_long + max_dist)
    bands = reach.select(
        F.col(id_col).alias("id_a"),
        F.col("_pre").alias("_pre_a"),
        F.explode(
            F.sequence(
                F.length("_pre") - max_dist, F.length("_pre") + max_dist
            )
        ).alias("_len_key"),
    )
    other = reach.select(
        F.col(id_col).alias("id_b"), F.col("_pre").alias("_pre_b"),
        F.length("_pre").alias("_len_b"),
    )
    short_pairs = verify(
        bands.join(
            other, (bands._len_key == other._len_b) & (bands.id_a < other.id_b)
        ).select("id_a", "id_b", "_pre_a", "_pre_b")
    )
    # paths overlap for both-sides-in-[min_long, min_long+d) pairs
    return long_pairs.union(short_pairs).distinct()


def _perm_coeffs(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE31), rng.randrange(0, MERSENNE31))
        for _ in range(num_perm)
    ]


def base_hashes(grams_col: str) -> Column:
    """h(g) = xxhash64(g) mod p for each distinct gram — computed ONCE and
    materialized; the permutation columns must reference this, not re-hash
    (128 re-evaluations of the base transform dominated the pipeline)."""
    return F.expr(
        f"transform({grams_col}, g -> pmod(xxhash64(g), {MERSENNE31}L))"
    )


def minhash_sigs_arrow(
    hashes: DataFrame,
    id_col: str,
    hashes_col: str = "hashes",
    num_perm: int = 128,
    seed: int = 42,
) -> DataFrame:
    """MinHash signatures as ONE vectorized Arrow pass (the one
    signature layout): returns ``(id_col, mh array<long> length
    num_perm)`` with ``mh[i] = min((a_i*h + b_i) mod p)`` over the
    base-hash array — permutation ``i`` of the classic MinHash.

    Why a kernel: the SQL form ``array_min(transform(hashes, h ->
    pmod(a*h + b, p)))`` per permutation evaluates num_perm interpreted
    folds per row (~100M interpreted ops at sf0.1 across the LSH family
    — the dominant map cost of every minhash pipeline); here each batch
    runs num_perm vectorized multiply-mod passes plus a segmented
    ``np.minimum.reduceat``.  Measured 1.42 s -> 0.58 s for the
    signature stage at sf0.1; the SQL form is kept in ``tests/`` as the
    bit-exact reference.

    Bit-exactness is INTEGER arithmetic: a, b, h < 2^31 so a*h + b
    < 2^63 (no int64 overflow), ``%`` on non-negative int64 ==
    ``pmod``, and min over int64 is order-free.  Docs with NULL or
    empty gram arrays yield a NULL ``mh`` — the NULL the SQL form's
    ``array_min`` over an empty transform produces."""
    from pyspark.sql import types as T

    coeffs = _perm_coeffs(num_perm, seed)
    a_py = [a for a, _ in coeffs]
    b_py = [b for _, b in coeffs]

    def sig(batches):
        import numpy as np
        import pyarrow as pa

        A = np.asarray(a_py, dtype=np.int64)
        B = np.asarray(b_py, dtype=np.int64)
        for batch in batches:
            ids = batch.column(0)
            ha = batch.column(1)
            n = len(ha)
            o = ha.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            # slice by [o[0]:o[-1]], not [:o[-1]]: a SLICED ListArray's
            # offsets start above 0 (legal Arrow; not produced by Spark
            # today) and the relative segment starts below assume flat
            # begins at this array's first element
            flat = ha.values.to_numpy(zero_copy_only=False).astype(
                np.int64, copy=False
            )[o[0] : o[-1]]
            lengths = np.diff(o)
            valid = (lengths > 0) & ~ha.is_null().to_numpy(
                zero_copy_only=False
            )
            # compact to valid rows' values before segmenting (ADVICE
            # r12): a NULL slot with a non-zero offset extent (legal
            # Arrow, not produced by Spark today) would otherwise bleed
            # its values into the preceding valid row's reduceat segment
            if not valid.all():
                flat = flat[np.repeat(valid, lengths)]
            lens_v = lengths[valid]
            starts = np.zeros(lens_v.size, dtype=np.int64)
            if lens_v.size > 1:
                np.cumsum(lens_v[:-1], out=starts[1:])
            out = np.zeros((n, num_perm), dtype=np.int64)
            if starts.size:
                for i in range(num_perm):
                    t = (A[i] * flat + B[i]) % MERSENNE31
                    out[valid, i] = np.minimum.reduceat(t, starts)
            offs = pa.array(
                np.arange(0, (n + 1) * num_perm, num_perm, dtype=np.int32)
            )
            vals = pa.ListArray.from_arrays(
                offs, pa.array(out.reshape(-1)), mask=pa.array(~valid)
            )
            yield pa.RecordBatch.from_arrays([ids, vals], [id_col, "mh"])

    schema = T.StructType(
        [
            hashes.schema[id_col],
            T.StructField("mh", T.ArrayType(T.LongType())),
        ]
    )
    return hashes.select(F.col(id_col), F.col(hashes_col)).mapInArrow(
        sig, schema
    )


def band_hash_array_from_sig(
    sig_col: str, num_perm: int, rows_per_band: int
) -> Column:
    """THE banding key array over the array signature column ``sig_col``
    (:func:`minhash_sigs_arrow`'s ``mh``): per band, one 64-bit xxhash
    over that band's rows-per-band signature values plus the band index
    as an INT salt — ``array(xxhash64(v0, .., v3, 0), xxhash64(v4, ..,
    1), ..)``.  A stored LSH index and a fresh batch only collide if
    both were banded by this exact expression (seed, band salt, value
    order), so every consumer (:func:`lsh_candidate_pairs`,
    :func:`incremental_dedup`) must call this rather than re-derive it;
    ``tests/test_driver_tables.py`` pins the keys bit for bit.  A scalar
    hash per band beats an array-typed key: cheaper to shuffle and
    hash-join; hash collisions only add candidates, which the
    exact-Jaccard verify removes.  A NULL signature (a doc without
    grams) bands to fixed all-NULL-input keys.

    The array is ONE SQL string parsed once (``F.expr``): the equivalent
    Column tree of per-value/hash/literal calls made ~1,950 of the ~2,500
    py4j calls of a 128-permutation :func:`minhash_dedup_pairs` plan
    build (now ~560; 400-550 -> 180-250 ms on a 4-core host)."""
    return F.expr(
        "array("
        + ", ".join(
            "xxhash64("
            + ", ".join(
                f"`{sig_col}`[{band * rows_per_band + r}]"
                for r in range(rows_per_band)
            )
            + f", {band})"
            for band in range(num_perm // rows_per_band)
        )
        + ")"
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str,
    num_perm: int = 128,
    rows_per_band: int = 2,
    sig_col: str = "mh",
) -> DataFrame:
    """Self-join on LSH bands → distinct candidate pairs (id_a < id_b).

    With r rows/band and b bands, a pair of Jaccard s collides with
    probability 1-(1-s^r)^b; r=2, b=64 gives ~1-4e-13 recall at s=0.6.
    ``sig_col`` names the array signature column
    (:func:`minhash_sigs_arrow`).
    """
    bands = band_hash_array_from_sig(sig_col, num_perm, rows_per_band)
    # r13 NO-GO note (measured, then reverted): a single-exchange
    # bucket form (groupBy(band_sig) + collect_list + double explode)
    # is value-identical and saved one exchange of the exploded band
    # table locally (minhash_lsh 1.50->1.45 s min, medians far more
    # stable), BUT the first explode copies the whole per-bucket id
    # array into every emitted row — an UNCAPPED LSH bucket (a large
    # duplicate cluster shares every band) would pay O(bucket^2) array-
    # payload duplication on top of the inherent O(bucket^2) pair rows.
    # The self-join emits 16-byte pair rows instead; winnowing_dedup_
    # pairs keeps the bucket form because its max_df cap bounds buckets.
    # tracked persist: the self-join consumes this twice, and without
    # persistence each side re-runs the whole shingle+signature pipeline
    # (release via operators.caching.release_caches() after the action)
    exploded = tracked_persist(
        sigs.select(F.col(id_col), F.explode(bands).alias("band_sig"))
    )
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def jaccard_verify(
    candidates: DataFrame, grams: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact set-Jaccard on candidate pairs only (joins the gram arrays
    back; the candidate set — not n² — bounds the work).

    The joined pairs REBALANCE before the intersect/union expressions
    evaluate, for two reasons measured on the PPJoin entry:

    - candidate rows are two longs, so AQE's size-based coalesce of the
      JOIN's shuffle (sized from its INPUTS) packs a millions-of-pairs
      candidate set into 1-2 post-shuffle partitions and runs the
      O(|grams|^2-ish) array comparisons on two cores (observed: the
      PPJoin 10x verify straggling at (1+1)/2 tasks — r6);
    - a FIXED numeric repartition has the opposite failure at scale:
      each verify row carries TWO full gram arrays, so 32 partitions
      that are fine at 1.8M candidates melt at 18M — the r10 100x
      ladder measured the verify stage at 286s pinned to 32 partitions
      vs 57s at 128/512 (GC-bound on ~0.5M array-pairs per task,
      12.5x wall for 10x candidates).

    The REBALANCE hint sizes the exchange from the shuffled rows
    THEMSELVES (which here include the arrays — AQE splits oversized
    partitions and coalesces tiny ones toward the advisory size), so
    the per-task working set stays flat as candidates grow with no
    planning-time count job.  Interleaved A/B at the 100x fixture:
    rebalance 58.6s vs pinned-32 98.4s warm (363.7 vs 385.9 cold) for
    the full entry, and identical wall at sf0.1; a count-derived
    explicit partition number measured strictly worse than both
    (159.3s — the extra materialization action costs more than it
    saves).

    REBALANCE is an AQE feature: on a caller-supplied session with
    ``spark.sql.adaptive.enabled=false`` the hint degenerates to a plain
    round-robin shuffle at the static partition count — exactly the r10
    scale-killer this stage exists to avoid — so with AQE off we fall
    back to an explicit wide repartition instead (the repo's own session
    always enables AQE; this guards external callers — ADVICE r10)."""
    ga = grams.select(
        F.col(id_col).alias("id_a"), F.col("grams").alias("grams_a")
    )
    gb = grams.select(
        F.col(id_col).alias("id_b"), F.col("grams").alias("grams_b")
    )
    j = candidates.join(ga, "id_a").join(gb, "id_b")
    spark = candidates.sparkSession
    if (
        str(spark.conf.get("spark.sql.adaptive.enabled", "true")).lower()
        == "true"
    ):
        j = j.hint("rebalance")
    else:
        # no adaptive sizing available: spread the array-carrying rows
        # wide enough that per-task working sets stay bounded (4x the
        # session default approximates the 128-512 band the r10 100x
        # A/B measured as flat)
        j = j.repartition(_static_verify_partitions(spark))
    jac = F.size(F.array_intersect("grams_a", "grams_b")) / F.size(
        F.array_union("grams_a", "grams_b")
    )
    return j.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def _static_verify_partitions(spark) -> int:
    """Explicit partition count for the AQE-off verify fallback: 4x the
    session shuffle partitions.  Managed platforms set the conf to
    non-numeric values ('auto') — precisely the external-session
    scenario the fallback guards — so parse defensively (ADVICE r11)
    and land in the 128-512 band the r10 100x A/B measured as flat."""
    try:
        return 4 * int(
            str(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        )
    except (TypeError, ValueError):
        return 800


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    num_perm: int = 128,
    rows_per_band: int = 4,
    n: int = 3,
    shingle: str = "word",
) -> DataFrame:
    """Full pipeline: shingle → minhash → LSH bands → exact-Jaccard verify.

    Returns (id_a, id_b, jaccard) for pairs with Jaccard >= threshold.
    Precision is exact (every candidate is verified), but the output is
    a SUBSET of brute-force exact Jaccard: a pair of Jaccard s becomes a
    candidate with probability 1-(1-s^r)^b, which at the defaults (r=4,
    b=32) is 0.873 at s=0.5, 0.988 at s=0.6 and 0.9998 at s=0.7 — so
    near the default 0.5 threshold about one true pair in eight is
    missed.  Raise ``num_perm`` / lower ``rows_per_band`` to move the
    S-curve when pairs near the threshold matter.

    Defaults are the production document-dedup shape: word 3-gram shingles
    (char grams saturate on narrow vocabularies and collapse LSH pruning)
    and r=4/b=32 banding — at s=0.9 the miss probability is (1-0.9^4)^32
    ~ 1e-15, while near-orthogonal pairs collide at ~1e-4 per band, so the
    candidate join stays ~linear in corpus size.
    """
    mk = word_shingles if shingle == "word" else char_shingles
    # spread the (CPU-heavy, map-only) shingle+signature stage across the
    # cluster: a small source file arrives as 1-2 partitions and would
    # otherwise pin 128 permutations x all docs on one core.  One cheap
    # shuffle of the raw rows buys full parallelism.
    parts = shuffle_partitions(df.sparkSession)
    # tracked persist: consumed by the signature stage and twice by the
    # verify join
    grams = tracked_persist(
        df.repartition(parts, id_col)
        .select(F.col(id_col), mk(text_col, n).alias("grams"))
    )
    sigs = minhash_sigs_arrow(
        grams.select(F.col(id_col), base_hashes("grams").alias("hashes")),
        id_col,
        "hashes",
        num_perm,
    )
    candidates = lsh_candidate_pairs(sigs, id_col, num_perm, rows_per_band)
    return jaccard_verify(candidates, grams, id_col, threshold)


# SimHash width: 60 bits = 15 hex chars of md5 — chosen (over the full 64)
# so the per-token hash has a bit-exact DuckDB twin (md5 is identical on
# ASCII in both engines; 15 hex chars fit a signed 64-bit int in both),
# making the whole simhash pipeline oracle-able instead of rows-only.
SIMHASH_BITS = 60


def token_hashes(text_col: str) -> Column:
    """60-bit md5-derived hash per lowercase whitespace token —
    materialize ONCE; the bit votes below must reference this array, not
    re-split + re-hash the document per bit (the same re-evaluation
    pathology base_hashes avoids for minhash)."""
    return F.expr(
        f"transform(split(lower({text_col}), ' +'),"
        f" t -> cast(conv(substring(md5(cast(t AS BINARY)), 1, 15), 16, 10)"
        f" AS BIGINT))"
    )


def simhash_from_hashes(hashes_col: str, n_bits: int = SIMHASH_BITS) -> Column:
    """SimHash from a token-hash array column (JVM-side bit votes).

    bit_j(simhash) = sign of sum over tokens of (2*bit_j(h) - 1).
    """
    bit_cols = []
    for j in range(n_bits):
        vote = F.expr(
            f"aggregate({hashes_col}, 0L,"
            f" (acc, h) -> acc + (shiftright(h, {j}) & 1) * 2 - 1)"
        )
        bit_cols.append(
            F.when(
                vote > 0, F.shiftleft(F.lit(1).cast("bigint"), j)
            ).otherwise(F.lit(0).cast("bigint"))
        )
    out = bit_cols[0]
    for c in bit_cols[1:]:
        out = out.bitwiseOR(c)
    return out


def simhash_near_dup_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dup pairs: band the 60 bits into (max_hamming+1)
    chunks — by pigeonhole, any pair within the Hamming budget shares at
    least one exact chunk — join per chunk, verify with bit_count(xor).

    Chunk count trades recall budget against bucket selectivity: more
    chunks admit larger Hamming distances but make each bucket coarser
    (60/n bits).  Short documents need a larger budget (~7) than the
    classic long-document setting (3); size it to the corpus.
    """
    n_bits = SIMHASH_BITS
    n_chunks = max_hamming + 1
    widths = [n_bits // n_chunks] * n_chunks
    widths[-1] += n_bits - sum(widths)  # remainder bits land in the last chunk
    offsets = [sum(widths[:i]) for i in range(n_chunks)]
    h = df.select(
        F.col(id_col), token_hashes(text_col).alias("th")
    ).select(F.col(id_col), simhash_from_hashes("th").alias("sh"))

    def _mask(w: int) -> Column:
        # (1<<64)-1 overflows LongType; all-64-bits == -1 in two's complement
        return F.lit(-1 if w >= 64 else (1 << w) - 1).cast("bigint")

    chunks = F.array(
        *[
            F.shiftright(F.col("sh"), off).bitwiseAND(_mask(w))
            for off, w in zip(offsets, widths)
        ]
    )
    # tracked persist: self-joined twice, and the bit-vote aggregates
    # behind the simhash are the expensive part
    e = tracked_persist(
        h.select(
            F.col(id_col), F.col("sh"), F.posexplode(chunks).alias("ci", "cv")
        )
    )
    a, b = e.alias("a"), e.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select("id_a", "id_b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


#: Driver union-find pair cap (r13): below this many near-dup pairs the
#: CC labeling fetches the pair list once as Arrow and runs exact
#: min-label union-find on the driver — the BPE-driver-loop precedent
#: (operators/text.py:_BPE_DRIVER_VOCAB_CAP).  Sizing is by PYTHON
#: driver memory, not raw longs: the pair columns as Python ints cost
#: ~10x the 16-byte payload (plus the union-find dicts and the label
#: tuples and their two Arrow columns, types.local_frame), so 500k
#: pairs is ~100-200 MB peak — safe even on a default 1g external
#: driver.  The distributed
#: pointer-jumping loop costs ~1 Spark job per round plus the
#: edge/label materializations (~10 jobs at sf0.1, each with
#: ~50-100 ms local fixed cost) — pure overhead when the pair graph
#: fits in driver memory.  Above the cap the loop below is unchanged,
#: so 100 TB behavior is identical; labels are value-identical on both
#: sides (min reachable id, exactly).
_CC_DRIVER_PAIRS_CAP = 500_000


def _cc_driver(spark, table, id_type, stats):
    """Exact min-label union-find over a fetched two-column pair table —
    the bounded small-graph path of :func:`connected_components` (labels
    == smallest id reachable, the same values the distributed loop
    computes)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(table.column(0).to_pylist(), table.column(1).to_pylist()):
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict = {}
    for x in parent:
        r = find(x)
        m = comp_min.get(r)
        if m is None or x < m:
            comp_min[r] = x
    if stats is not None:
        stats["n_nodes"] = len(parent)
        stats["rounds"] = 0  # driver path: no distributed rounds ran
        stats["driver_union_find"] = True
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", id_type),
            T.StructField("cluster_id", id_type),
        ]
    )
    return local_frame(
        spark, [(x, comp_min[find(x)]) for x in parent], schema
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 25,
    stats: dict | None = None,
    checkpoint_dir: str | None = None,
    driver_pairs_cap: int = _CC_DRIVER_PAIRS_CAP,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph: returns
    ``(id, cluster_id)`` where ``cluster_id`` is the smallest id reachable
    from ``id`` — the canonical-representative labeling a dedup pipeline
    needs to go from *pairs* to *keep one doc per duplicate cluster*.

    Min-label propagation WITH pointer jumping: every node starts labeled
    with its own id; each round (1) takes the min of its label and its
    neighbors' labels (one shuffle join keyed by node id — the round
    structure GraphX/GraphFrames Pregel uses for CC at scale), then
    (2) pointer-jumps — relabels to ``label(label)`` via a label→id
    self-join.  Propagation alone needs diameter rounds (a 1M-node chain
    = 1M shuffles); the jump doubles the label's reach each round, so
    rounds scale with **log2(diameter)** — the same shortcutting used by
    the large-star/small-star MapReduce CC algorithm (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14).

    The ROUND-1 jump is skipped: it is not an identity (on a chain 0-1-2
    it does shortcut), but LSH near-dup graphs — the dominant workload —
    are clique-y, and round-1 propagation already hands most nodes their
    cluster minimum, so the round-1 jump join buys nothing there while
    costing a full shuffle (measured: jump-every-round regressed the
    sf0.1 bench graph 3.37s → 4.24s; skipping round 1 recovered it).
    On deep path graphs the skip costs exactly one extra round (48-chain:
    6 → 7), preserving the ~log2 bound the property test pins.

    Each round ends in a TRACKED ``localCheckpoint`` (lineage truncation
    keeps the plan flat across rounds — per-round persist+lineage was
    measured far slower here: cache-plan matching across deepening
    lineages is fragile and a single miss re-runs the whole upstream
    pipeline once per round); the checkpoint RDDs are registered with
    ``operators.caching`` so ``release_caches()`` frees them instead of
    leaking per invocation.  The convergence probe is a scalar sum of
    labels, strictly decreasing until fixpoint, collected as an OBSERVED
    METRIC during the checkpoint's own materialization (``observe`` +
    ``Observation``) rather than a separate aggregation job — each round
    runs one Spark job, not two.

    ``checkpoint_dir``: localCheckpoint blocks die with their executor —
    at cluster scale a single lost executor would kill a multi-hour CC
    job mid-iteration.  Passing a reliable directory (HDFS/S3A path)
    switches every round boundary to ``df.checkpoint()`` so recovery
    re-reads the last round from durable storage instead of restarting
    the job (reference analogue: ballista's executor-loss stage rollback,
    ballista/scheduler/src/planner.rs:259-283 — Spark's rollback equally
    needs surviving lineage or a durable checkpoint).  See DEPLOY.md.

    ``stats`` (optional dict) receives ``{"rounds": N}`` so tests can pin
    the logarithmic round bound on path graphs.
    """
    from pyspark.sql import Observation

    # the union consumes `pairs` twice — persist so an expensive upstream
    # (the LSH pipeline) materializes once, not per branch
    pairs = tracked_persist(pairs.select(a_col, b_col))
    key_type = pairs.schema[a_col].dataType
    if (
        driver_pairs_cap
        and checkpoint_dir is None
        and pairs.schema[b_col].dataType == key_type
    ):
        # r13 small-graph fast path (see _CC_DRIVER_PAIRS_CAP): ONE
        # bounded Arrow fetch both decides and carries the pairs (a
        # limit-count probe plus a Row collect runs two more Spark
        # jobs).  Over the cap the fetched cap+1 rows are dropped
        # (~8 MB of Arrow at the 500k cap) and the loop below runs.
        # ``stats["rounds"]`` reports 0 on this path — the log-round
        # pins force the distributed loop with driver_pairs_cap=0.
        # A caller passing checkpoint_dir wants durable round recovery
        # (a cluster-scale run) — never shortcut that to the driver.
        # Mismatched key types (int id_a, long id_b) also stay on the
        # loop, whose union lets Spark widen them: the driver frame has
        # ONE id type for both output columns.
        head = pairs.limit(driver_pairs_cap + 1).toArrow()
        if head.num_rows <= driver_pairs_cap:
            return _cc_driver(pairs.sparkSession, head, key_type, stats)
        del head
    edges = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).unionByName(
        pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    )
    # r13 no-go (VERDICT r12 item 6, measured): pre-partitioning the
    # persisted edge list on dst (`.repartition("dst")`) to let each
    # round's neighbor-min join reuse the exchange was A/B'd at sf0.1
    # AND the 10x fixture — clusters 2.15->2.32 s / 3.83->4.22 s,
    # canonical flat — the labels side broadcasts at these sizes, so
    # the extra setup exchange buys nothing and costs its own shuffle.
    edges = tracked_persist(edges.distinct())
    checkpoint = checkpointer(checkpoint_dir)
    # Convergence probe fused into the checkpoint action (r12): the label
    # sum is collected as an observed metric DURING the eager checkpoint's
    # materialization instead of a separate agg job after it — one Spark
    # job per round instead of two (both localCheckpoint and reliable
    # df.checkpoint run under Dataset.withAction, so CollectMetrics fires).
    # Same expression, same values, strictly-decreasing-until-fixpoint
    # criterion unchanged.
    obs = Observation()
    labels = checkpoint(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .observe(
            obs,
            F.sum("label").alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    first = obs.get
    prev_sum = first["s"]
    if stats is not None:
        # node count rides the same observation for free — callers that
        # need |components| (canonical_dedup's broadcast guard) can skip
        # their own count job over the CC output
        stats["n_nodes"] = first["n"]
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nb_label"))
        )
        propagated = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                F.col("id"),
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("nb_label"), F.col("label")),
                ).alias("label"),
            )
        )
        # pointer jump: label <- label(label).  Every label is itself a node
        # id (labels cover all nodes), so the lookup side is `propagated`
        # re-keyed by id; left+coalesce keeps already-minimal labels.
        # Skipped in round 1 — see the docstring's measured tradeoff
        # (clique-y LSH graphs pay a wasted shuffle; deep chains pay one
        # extra round, inside the pinned log bound).
        obs = Observation()
        if rounds == 1:
            labels = checkpoint(
                propagated.observe(obs, F.sum("label").alias("s"))
            )
        else:
            lk = propagated.select(
                F.col("id").alias("_lid"), F.col("label").alias("_llabel")
            )
            labels = checkpoint(
                propagated.join(lk, propagated.label == lk._lid, "left")
                .select(
                    F.col("id"),
                    F.coalesce(F.col("_llabel"), F.col("label"))
                    .alias("label"),
                )
                .observe(obs, F.sum("label").alias("s"))
            )
        cur_sum = obs.get["s"]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        # silent non-convergence would split real clusters (canonical
        # dedup then keeps several copies of one duplicate group); with
        # pointer jumping max_iter=25 covers diameter ~2^25, so hitting
        # this means something is genuinely wrong
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    if stats is not None:
        stats["rounds"] = rounds
    return labels.select("id", F.col("label").alias("cluster_id"))


def incremental_dedup(
    new_docs: DataFrame,
    index_docs: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    num_perm: int = 128,
    rows_per_band: int = 4,
    n: int = 3,
) -> DataFrame:
    """Dedup a NEW batch against an existing corpus index AND itself —
    the production incremental pattern: re-crawls arrive continuously and
    re-clustering the whole corpus per batch is O(corpus) wasted work.

    Returns one row per new doc: ``(id_col, is_dup, dup_of)`` where
    ``is_dup = 1`` when the doc near-duplicates (Jaccard >= threshold) an
    index doc or an earlier-id doc in the same batch, and ``dup_of`` is
    the smallest such id (NULL when unique).

    Scale shape: in production the index side's band signatures are
    PRECOMPUTED and stored with the corpus (append-only LSH index); here
    they are derived inline from ``index_docs`` to keep the operator
    self-contained.  The batch side is small, so its exploded band
    signatures broadcast against the index's — the corpus never
    self-joins, and per batch the work is O(batch x collision rate), not
    O(corpus^2).  Batch-internal dedup is the usual banded self-join over
    only the batch.
    """
    parts = shuffle_partitions(new_docs.sparkSession)

    def prep(df: DataFrame) -> tuple[DataFrame, DataFrame]:
        grams = tracked_persist(
            df.repartition(parts, id_col)
            .select(F.col(id_col), word_shingles(text_col, n).alias("grams"))
        )
        sigs = minhash_sigs_arrow(
            grams.select(F.col(id_col), base_hashes("grams").alias("hashes")),
            id_col,
            "hashes",
            num_perm,
        )
        return grams, sigs

    new_grams, new_sigs = prep(new_docs)
    idx_grams, idx_sigs = prep(index_docs)

    bands = band_hash_array_from_sig("mh", num_perm, rows_per_band)
    new_x = tracked_persist(
        new_sigs.select(F.col(id_col), F.explode(bands).alias("band_sig"))
    )
    idx_x = idx_sigs.select(F.col(id_col), F.explode(bands).alias("band_sig"))

    # new x index: broadcast the (small) batch side against the corpus.
    # The id inequality handles a RE-CRAWLED doc keeping its id in both
    # inputs: it must not self-match (its signatures trivially collide).
    # Each candidate distinct() below shuffles its (id_a, id_b) pairs:
    # Spark cannot know the signature kernel keeps the id partitioning
    # of `grams`, so the distinct's clustering is not already satisfied.
    cand_idx = (
        idx_x.join(F.broadcast(new_x.withColumnRenamed(id_col, "_nid")),
                   "band_sig")
        .where(F.col("_nid") != F.col(id_col))
        .select(F.col("_nid").alias("id_a"), F.col(id_col).alias("id_b"))
        .distinct()
    )
    # new x new: banded self-join over the batch only (earlier id wins)
    a, b = new_x.alias("a"), new_x.alias("b")
    cand_new = (
        a.join(
            b,
            (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col(f"a.{id_col}") > F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    # an id present in BOTH inputs (re-crawl) keeps its NEW text: dedupe
    # the gram table new-side-first, or the verify joins fan out 2x per
    # overlapping id and compare against stale index text
    all_grams = new_grams.unionByName(
        idx_grams.join(
            new_grams.select(id_col), id_col, "left_anti"
        )
    )
    matches = jaccard_verify(
        cand_idx.unionByName(cand_new), all_grams, id_col, threshold
    ).groupBy("id_a").agg(F.min("id_b").alias("dup_of"))
    return (
        new_docs.select(F.col(id_col))
        .join(matches.withColumnRenamed("id_a", id_col), id_col, "left")
        .select(
            id_col,
            F.col("dup_of").isNotNull().cast("int").alias("is_dup"),
            "dup_of",
        )
    )


# --------------------------------------------------------------------------
# Bloom-filter membership dedup (Dolma-style "BFF")
# --------------------------------------------------------------------------

def bloom_positions(text_col: str, m: int, k: int) -> Column:
    """The ``k`` Bloom-filter bit positions of a text value in an
    ``m``-bit filter, as a distinct-sorted int array (map-only, JVM-side).

    Kirsch–Mitzenmacher double hashing: ``pos_i = (h1 + i*h2) mod m``
    from two independent md5-derived 60-bit hashes (the engine-portable
    hash family used by every fingerprint operator here — DuckDB oracles
    emit the identical arithmetic, so positions are integer-exact across
    engines).  ``h2`` is folded into ``[1, m-1]`` so the stride is never
    zero.  Positions are deduplicated and sorted so downstream counts
    are well-defined when the k probes collide.
    """
    h1 = (
        F.conv(F.substring(F.md5(F.col(text_col).cast("binary")), 1, 15), 16, 10)
        .cast("long") % m
    )
    h2 = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("bff:"), F.col(text_col)).cast("binary")),
                1, 15,
            ),
            16, 10,
        ).cast("long") % (m - 1)
    ) + 1
    return F.array_sort(
        F.array_distinct(F.array(*[(h1 + i * h2) % m for i in range(k)]))
    )


def bloom_filter_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    is_index: Column,
    m: int = 1 << 16,
    k: int = 4,
) -> DataFrame:
    """Bloom-filter batch-vs-corpus dedup — the memory-bounded membership
    test Dolma's deduper ships as "BFF" (Bloom Filter Filter; Soldaini et
    al., ACL 2024 §2.2): the corpus side is reduced to an m-bit filter,
    so probing a new batch costs O(batch), not O(corpus), and the filter
    size is a *choice* (m), independent of corpus size — the property
    that lets a 100 TB index fit in executor memory where the MinHash
    band index (operators/dedup.py:incremental_dedup) would not.

    The filter is represented relationally as the distinct set of SET bit
    positions (<= m rows, usually far fewer) rather than a driver-side
    bitmap: building it is one map + distinct over the index slice, and
    probing is a position-keyed join — broadcast while ``m`` is small
    (a 2^16..2^22-bit filter is KBs..MBs), an ordinary shuffled join for
    the multi-GB filters a web-scale corpus wants.  Nothing ever
    collects to the driver.

    Returns one row per BATCH doc (``is_index`` false):
    ``(id_col, n_probes, n_hit, flagged)`` — ``flagged = 1`` iff every
    probe position is set, i.e. the doc is an exact-text duplicate of
    some index doc *or* a deterministic false positive (the documented
    Bloom trade-off; FP rate ~ (set_bits/m)^k, tunable via m).  Both
    engines compute identical positions, so false positives are
    value-reproducible, not noise.
    """
    # NULL text is excluded up front: md5(NULL) is NULL in both engines,
    # but Spark keeps a NULL probe row while DuckDB's list_distinct strips
    # NULLs — an engine divergence. A null document can't be a duplicate;
    # callers pass such rows through unscored.
    pos = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        is_index.alias("_idx"),
        bloom_positions(text_col, m, k).alias("_pos"),
    )
    bits = (
        pos.where(F.col("_idx"))
        .select(F.explode("_pos").alias("bit"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    if m <= (1 << 22):
        bits = F.broadcast(bits)
    probes = (
        pos.where(~F.col("_idx"))
        .select(F.col(id_col), F.explode("_pos").alias("bit"))
    )
    return (
        probes.join(bits, "bit", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_probes"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("int").alias("n_hit"),
        )
        .withColumn(
            "flagged",
            (F.col("n_hit") == F.col("n_probes")).cast("int"),
        )
    )


#: Largest ``max_df`` for which :func:`winnowing_dedup_pairs` takes the
#: ``collect_list`` bucket form: every bucket row copies its whole id
#: list into each exploded row, O(max_df^2) payload per fingerprint, so
#: the form is safe only for caps of "a few hundred" documents.  Above
#: it the 16-byte-row self-join runs.
_WINNOW_BUCKET_MAX_DF = 256


def winnowing_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via winnowing fingerprints — the
    MOSS pipeline (Schleimer et al., SIGMOD 2003 §4) as a distributed
    join: fingerprint every document
    (:func:`~arrow_ballista_spark.operators.text.winnowing_fingerprints`),
    join documents sharing a fingerprint, and score each pair by its
    fingerprint-set Jaccard.  Complements the MinHash-LSH modality: LSH
    estimates WHOLE-document similarity, winnowing detects PARTIAL
    overlap — any shared run of ``w + k - 1`` tokens is guaranteed to
    produce a shared fingerprint, so a page that embeds a copied
    paragraph pairs with its source even when the rest differs.

    ``max_df`` is the boilerplate guard (same role as
    :func:`substring_dedup`'s cap): a fingerprint appearing in more than
    ``max_df`` documents is dropped BEFORE the self-join, so a hot
    header/footer gram can never drive the join quadratic; at 100 TB set
    it to a small constant (a true near-dup pair still shares its rarer
    fingerprints).

    Returns ``(id_a, id_b, shared_fps, n_a, n_b, jaccard)`` for pairs
    with ``shared_fps >= min_shared``, ``id_a < id_b``; ``jaccard`` is
    over the (possibly capped) fingerprint sets, 4dp-rounded.

    Scale shape: fingerprinting is map-only (zero shuffles); the
    candidate join is keyed on fp with bounded per-key fan-out (df^2
    per fingerprint, capped by ``max_df``); counts and Jaccard are two
    keyed aggs + two keyed joins.  No all-pairs product anywhere.
    """
    from arrow_ballista_spark.operators.text import winnowing_fingerprints

    # spread the (CPU-heavy, map-only) fingerprint kernel across the
    # cluster before it runs — a small source file arrives as 1-2 scan
    # partitions and would otherwise pin every md5 on one core (the
    # minhash_dedup_pairs precedent; values unchanged)
    parts = shuffle_partitions(df.sparkSession)
    # persist BEFORE the df-cap count so the md5-per-gram fingerprinting
    # pass runs once, not once for `hot` and again for the capped stream
    fps = tracked_persist(
        winnowing_fingerprints(
            df.repartition(parts, id_col), text_col, id_col, k=k, w=w
        )
    )
    if max_df is not None:
        hot = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > max_df)
            .select("fp")
        )
        fps = fps.join(F.broadcast(hot), "fp", "left_anti")
    cnt = fps.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))
    # r13 (§2.4): with a small max_df cap in force, ONE exchange groups
    # fps into per-fingerprint id lists (bounded by the cap) and a
    # map-side double explode emits the shared-fp pair rows — the fp
    # self-join shuffled the fps table twice for the same multiset;
    # per-pair counts are identical (ids are distinct per fp:
    # fingerprints are per-doc distinct).  Without a cap, or with one
    # above _WINNOW_BUCKET_MAX_DF, the bucket form is the measured PPJoin
    # pathology (the first explode copies the whole per-key array into
    # every emitted row — O(df^2) payload on a hot boilerplate
    # fingerprint), so those keep the 16-byte-row self-join.
    if max_df is not None and max_df <= _WINNOW_BUCKET_MAX_DF:
        pairs = (
            fps.groupBy("fp")
            .agg(F.collect_list(F.col(id_col)).alias("_ids"))
            .where(F.size("_ids") >= 2)
            .select(F.explode("_ids").alias("id_a"), "_ids")
            .select("id_a", F.explode("_ids").alias("id_b"))
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).cast("int").alias("shared_fps"))
            .where(F.col("shared_fps") >= min_shared)
        )
    else:
        a = fps.select(F.col(id_col).alias("id_a"), "fp")
        b = fps.select(F.col(id_col).alias("id_b"), "fp")
        pairs = (
            a.join(b, "fp")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).cast("int").alias("shared_fps"))
            .where(F.col("shared_fps") >= min_shared)
        )
    s = F.col("shared_fps").cast("double")
    return (
        pairs.join(cnt.withColumnRenamed(id_col, "id_a"), "id_a")
        .withColumnRenamed("_n", "_na")
        .join(cnt.withColumnRenamed(id_col, "id_b"), "id_b")
        .withColumnRenamed("_n", "_nb")
        .select(
            "id_a",
            "id_b",
            "shared_fps",
            F.col("_na").cast("int").alias("n_a"),
            F.col("_nb").cast("int").alias("n_b"),
            (
                F.floor(
                    s / (F.col("_na") + F.col("_nb") - s) * 10000.0 + 0.5
                )
                / 10000.0
            ).alias("jaccard"),
        )
    )


def ppjoin_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    token: str = "word",
) -> DataFrame:
    """PPJoin-style EXACT set-similarity join (Xiao et al. 2008, "Efficient
    Similarity Joins for Near Duplicate Detection" — public method):
    all pairs of documents whose word-SET Jaccard >= ``threshold``,
    found without the n^2 pair blow-up via the prefix filter.

    Tokens sort globally by (document frequency ASC, token ASC) — rare
    tokens first; a document of size s only indexes its first
    ``s - ceil(t*s) + 1`` tokens under that order (the PREFIX).  Two sets
    with J >= t must share at least one prefix token (the standard
    pigeonhole bound), so the prefix-token equi-join is a LOSSLESS
    candidate generator; candidates then verify with exact Jaccard.
    Unlike MinHash-LSH the result has recall exactly 1 — the brute-force
    definition — which also makes the DuckDB oracle the plain all-pairs
    SQL (same relationship as ED-Join's rare-gram filter,
    :func:`editdist_duplicate_pairs`).

    Scale shape: one token-keyed shuffle for document frequencies, a
    per-doc window (partitioned by doc, never global) for prefix
    selection, one equi-join keyed on the prefix token — rare tokens
    carry few docs each, so the join stays near-linear; the length
    filter ``t*|x| <= |y| <= |x|/t`` prunes further before the exact
    verify touches the full token arrays.  No global rank, no broadcast
    of the vocabulary.

    ``token``: the set universe — ``"word"`` (distinct single words; the
    general case) or ``"bigram"`` (distinct word bigrams; far more
    selective on narrow vocabularies, where nearly every doc pair shares
    most single words and no prefix can prune).  Measured on Zipf
    fixtures (tools/measure_ppjoin_zipf.py, SCALING.md r7): word mode
    stays sublinear at V=120 vocab (1.8x wall for 10x docs) but
    super-linears at V=30 (9.3x — where the TRUE match set itself goes
    quadratic); bigram mode stays flat in both.  Default to ``bigram``
    for narrow/templated vocabularies (logs, boilerplate, code).
    """
    from pyspark.sql import Window

    # spread the (CPU-heavy, map-only) tokenize stage: a single source
    # file arrives as 1-2 partitions and would pin the whole corpus's
    # array building on one core (the minhash_dedup_pairs precedent)
    parts = shuffle_partitions(df.sparkSession)
    # materialize the word array ONCE behind a persist: inlining the
    # split+filter into every element_at of the bigram transform is
    # O(words^2) re-tokenization per document
    ws = tracked_persist(
        df.repartition(parts, id_col).select(
            F.col(id_col),
            F.expr(f"filter(split({text_col}, ' +'), w -> w != '')").alias(
                "ws"
            ),
        )
    )
    if token == "word":
        expr = "array_distinct(ws)"
    elif token == "bigram":
        expr = (
            "array_distinct(CASE WHEN size(ws) < 2"
            " THEN cast(array() as array<string>)"
            " ELSE transform(sequence(1, size(ws) - 1),"
            " i -> element_at(ws, i) || ' ' || element_at(ws, i + 1)) END)"
        )
    else:
        raise ValueError(f"unknown token mode {token!r}")
    toks = tracked_persist(
        ws.select(F.col(id_col), F.expr(expr).alias("grams")).filter(
            F.size("grams") > 0
        )
    )
    tok = toks.select(F.col(id_col), F.explode("grams").alias("tok"))
    dfreq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("_df"))
    sz = toks.select(F.col(id_col), F.size("grams").alias("_sz"))
    w = Window.partitionBy(id_col).orderBy("_df", "tok")
    prefix = tracked_persist(
        tok.join(dfreq, "tok")
        .withColumn("_rn", F.row_number().over(w))
        .join(sz, id_col)
        .filter(
            F.col("_rn")
            <= F.col("_sz") - F.ceil(F.lit(threshold) * F.col("_sz")) + 1
        )
        .select(id_col, "tok", "_sz", "_rn")
    )
    a = prefix.select(
        F.col(id_col).alias("id_a"), "tok",
        F.col("_sz").alias("_sza"), F.col("_rn").alias("_rna"),
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"), "tok",
        F.col("_sz").alias("_szb"), F.col("_rn").alias("_rnb"),
    )
    # positional filter (the "PP" of PPJoin): J >= t needs overlap
    # alpha >= t/(1+t)*(|x|+|y|); all shared tokens sort >= the joined
    # one, so alpha <= 1 + min(remaining suffix lengths).  Lossless for
    # the pair: the FIRST shared token under the global order lies in
    # both prefixes and satisfies the bound whenever J >= t (the 1e-9
    # slack keeps float rounding of t/(1+t) from over-tightening ceil).
    # r13 NO-GO note: rewriting this self-join as the
    # lsh_candidate_pairs bucket form (groupBy(tok) + collect_list +
    # double explode) was value-IDENTICAL but measured 5x SLOWER at
    # sf0.1 (1.6 -> 7.8 s): the first explode copies the whole
    # per-token struct array into every emitted row, so hot shared
    # bigrams pay O(bucket^2) payload duplication the join never
    # materializes.  The bucket form is only right when buckets are
    # small/capped (LSH bands, winnowing's max_df) — reverted here.
    alpha_min = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("_sza") + F.col("_szb"))
        - F.lit(1e-9)
    )
    cand = (
        a.join(b, "tok")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.col("_szb") >= F.lit(threshold) * F.col("_sza"))
        .filter(F.col("_sza") >= F.lit(threshold) * F.col("_szb"))
        .filter(
            F.lit(1)
            + F.least(
                F.col("_sza") - F.col("_rna"),
                F.col("_szb") - F.col("_rnb"),
            )
            >= alpha_min
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return jaccard_verify(cand, toks, id_col, threshold)
