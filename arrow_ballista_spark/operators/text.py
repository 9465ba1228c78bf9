"""Text-analysis operators for training-data pipelines.

All JVM-side column expressions (split/filter/aggregate over token arrays)
— no Python in the hot path, so these run at scan speed over 100 TB of
documents.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from arrow_ballista_spark.operators.caching import tracked_persist
from arrow_ballista_spark.types import local_frame

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic.  (Deterministic + cheap; a real pipeline would swap in a
# fastText-style model via mapInPandas — see operators/multimodal.py for
# the batched-UDF plumbing pattern.)
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "is", "in"],
    "es": ["el", "la", "de", "los", "y", "es", "en"],
    "fr": ["le", "la", "les", "et", "des", "est", "dans"],
}

# BPE-ish token pattern: runs of letters, runs of digits, or single
# punctuation — approximates subword pre-tokenization.
BPE_TOKEN_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def tokens(text_col: str) -> Column:
    """Whitespace tokens."""
    return F.split(F.col(text_col), " +")


def token_count(text_col: str) -> Column:
    return F.size(tokens(text_col))


def bpe_ish_token_count(text_col: str) -> Column:
    """Regex token count approximating BPE pre-tokenization."""
    return F.regexp_count(F.col(text_col), F.lit(BPE_TOKEN_PATTERN))


def avg_word_length(text_col: str) -> Column:
    t = tokens(text_col)
    total = F.aggregate(
        t, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    return total / F.size(t)


def punct_count(text_col: str) -> Column:
    return F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), "[.,!?;:]", "")
    )


def stopword_count(text_col: str, lang: str = "en") -> Column:
    """Case-insensitive stopword hits (consistent with fingerprint() and
    the simhash tokenizer, which also lowercase)."""
    return F.size(
        F.filter(
            F.split(F.lower(F.col(text_col)), " +"),
            lambda w: w.isin(*STOPWORDS[lang]),
        )
    )


def quality_score(text_col: str) -> Column:
    """Composite quality heuristic in [0, 1]: length band + stopword
    presence + low punctuation density (gopher-style filters)."""
    n_tok = token_count(text_col)
    sw_ratio = stopword_count(text_col) / n_tok
    # nullif guard: ANSI mode errors on int/0 (null ratio -> WHEN false -> 0.0)
    punct_ratio = punct_count(text_col) / F.nullif(
        F.length(F.col(text_col)), F.lit(0)
    )
    return (
        F.when((n_tok >= 10) & (n_tok <= 100000), F.lit(0.4)).otherwise(0.0)
        + F.when(sw_ratio > 0.01, F.lit(0.3)).otherwise(0.0)
        + F.when(punct_ratio < 0.1, F.lit(0.3)).otherwise(0.0)
    )


def lower_tokens(text_col: str) -> Column:
    """Lowercase whitespace tokens — materialize this ONCE (a projection
    column) before fan-out consumers like langid: every per-language
    score referencing it would otherwise re-lower + re-split the text."""
    return F.split(F.lower(F.col(text_col)), " +")


def langid_scores(tokens_col: Column | str) -> dict[str, Column]:
    """Stopword-hit counts per language over a lowered-token array
    column (see :func:`lower_tokens`)."""
    t = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    return {
        lang: F.size(F.filter(t, lambda w: w.isin(*STOPWORDS[lang])))
        for lang in STOPWORDS
    }


def langid_predict(tokens_col: Column | str) -> Column:
    """argmax language by stopword hits over a lowered-token array,
    deterministic tiebreak by language-code order; 'und' when nothing
    matches."""
    scores = langid_scores(tokens_col)
    langs = sorted(STOPWORDS)
    best = F.greatest(*[scores[lg] for lg in langs])
    out = F.lit("und")
    for lg in reversed(langs):  # earlier langs win ties (checked first)
        out = F.when((scores[lg] == best) & (best > 0), F.lit(lg)).otherwise(
            out
        )
    return out


def fingerprint(text_col: str) -> Column:
    """Classic collection fingerprint: md5 of sorted distinct lowercase
    tokens — robust to word order and duplication."""
    norm = F.array_join(
        F.array_sort(F.array_distinct(F.split(F.lower(F.col(text_col)), " +"))),
        " ",
    )
    return F.md5(norm.cast("binary"))


# Rabin-Karp parameters: base 257 (> any byte), modulus 2^31-1 (Mersenne
# prime).  All intermediates stay under 2^47, far inside signed 64-bit, and
# the arithmetic is integer-exact — so the hash has a bit-identical DuckDB
# twin (the oracle recomputes each window directly; incremental rolling
# update == direct recompute modulo p).
ROLL_BASE = 257
ROLL_MOD = 2_147_483_647


def rolling_hash(text_col: str, window: int = 8) -> Column:
    """Deterministic document rolling-hash sketch: min polynomial
    (Rabin-Karp) hash over character windows — a content-defined
    fingerprint usable for shift-robust dedup.

    O(n) per document: one sequential fold carries (current window hash,
    running min); each step subtracts the outgoing char's ``c·B^(w-1)``
    term, multiplies by B, adds the incoming char.  Texts shorter than the
    window hash their full contents."""
    t, w, p, b = text_col, window, ROLL_MOD, ROLL_BASE
    pw = pow(b, w - 1, p)  # B^(w-1) mod p, Python-precomputed
    h0 = (
        f"aggregate(sequence(1, least(greatest(length({t}), 1), {w})), 0L,"
        f" (acc, i) -> pmod(acc * {b}L + ascii(substring({t}, i, 1)), {p}L))"
    )
    step = (
        f"pmod((acc.h - ascii(substring({t}, i - {w}, 1)) * {pw}L) * {b}L"
        f" + ascii(substring({t}, i, 1)), {p}L)"
    )
    # let-binding idiom (interpreted HOFs do no CSE): splice `step` / `h0`
    # into the expression ONCE and bind via a 1-element transform —
    # referencing the update twice doubles the per-char cost of the fold
    roll = (
        f"aggregate(sequence({w + 1}, length({t})),"
        f" transform(array({h0}), s -> named_struct('h', s, 'm', s))[0],"
        f" (acc, i) -> transform(array({step}),"
        f"   s -> named_struct('h', s, 'm', least(acc.m, s)))[0],"
        f" acc -> acc.m)"
    )
    # the CASE guard matters: sequence(start, stop) with start > stop
    # generates a DESCENDING sequence in Spark, so the roll branch is only
    # valid when length > window
    return F.expr(
        f"CASE WHEN length({t}) <= {w} THEN {h0} ELSE {roll} END"
    )


def bm25_scores(
    docs,
    terms: tuple[str, ...],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
):
    """Okapi BM25 relevance of every document against a fixed term set —
    the classic quality/relevance ranking a corpus-construction pipeline
    runs to select topical documents.

    Scale shape: term filter rides the explode (only query-term
    occurrences survive the map stage); tf is a two-phase count; the
    corpus stats (N, avgdl) are a 1-row aggregate and the per-term
    document frequencies a ``len(terms)``-row aggregate — both broadcast,
    so the scoring join never shuffles the corpus a second time.
    Returns ``(id_col, bm25)`` for docs matching ≥1 term.
    """
    from pyspark.sql import functions as F

    words = docs.select(
        F.col(id_col), F.split(F.trim(F.col(text_col)), " +").alias("ws")
    ).select(F.col(id_col), F.size("ws").alias("dl"), F.col("ws"))
    hits = words.select(
        id_col, "dl", F.explode("ws").alias("w")
    ).where(F.col("w").isin(*terms))
    tf = hits.groupBy(id_col, "dl", "w").agg(F.count("*").alias("tf"))
    dfreq = (
        hits.select(id_col, "w").distinct()
        .groupBy("w").agg(F.count("*").alias("df"))
    )
    corpus = words.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    j = tf.join(F.broadcast(dfreq), "w").crossJoin(F.broadcast(corpus))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    term_score = idf * F.col("tf") * F.lit(k1 + 1.0) / denom
    return j.groupBy(id_col).agg(F.sum(term_score).alias("bm25"))


def lm_cross_entropy(
    df: DataFrame,
    text_col: str,
    id_col: str,
    is_train: Column,
    group_col: str | None = None,
) -> DataFrame:
    """CCNet-style language-model quality filter (Wenzek et al., LREC
    2020): score every document by its per-token cross-entropy under an
    add-one-smoothed bigram LM trained on a reference slice of the
    corpus — low cross-entropy ≈ "reads like the reference", the
    standard perplexity-bucket criterion for web-crawl curation (CCNet
    uses a 5-gram KenLM; the bigram form keeps the operator exact and
    engine-portable).

    ``P(w2|w1) = (c2(w1,w2) + 1) / (c1(w1) + V)`` with ``V`` the
    reference vocabulary size; a document's score is
    ``-mean(ln P)`` over its bigram transitions.  Documents with fewer
    than 2 tokens have no transitions and are excluded.  Returns
    ``(id_col, n_transitions, cross_entropy)``.

    Scale shape: the LM "training" is two keyed aggregations over the
    reference slice (bigram and unigram counts, map-side combined); the
    scoring side joins those count tables on their natural keys —
    Catalyst broadcasts them while they fit (vocab tables are MBs-GBs
    against a 100 TB corpus) and AQE splits the hot-word skew otherwise.
    The smoothed probability is a quotient of exact-double integer
    counts, so both engines take ``ln`` of the identical value.

    With ``group_col`` (CCNet's actual layout: one LM per language), the
    count tables and vocabulary are additionally keyed by the group, and
    every document is scored under ITS group's LM — same plan shape, the
    group key just rides every aggregation/join key.
    """
    grp = [group_col] if group_col else []
    toks = df.select(
        F.col(id_col),
        *[F.col(g) for g in grp],
        is_train.alias("_train"),
        F.expr(f"split({text_col}, ' +')").alias("_t"),
    ).where(F.size("_t") >= 2)
    bigrams = toks.select(
        F.col(id_col),
        *[F.col(g) for g in grp],
        "_train",
        F.explode(
            F.expr(
                "transform(sequence(1, size(_t) - 1),"
                " i -> struct(_t[i - 1] AS w1, _t[i] AS w2))"
            )
        ).alias("_bg"),
    ).select(F.col(id_col), *grp, "_train", "_bg.w1", "_bg.w2")
    bigrams = tracked_persist(bigrams)
    train_bg = bigrams.where("_train")
    c2 = train_bg.groupBy(*grp, "w1", "w2").agg(
        F.count(F.lit(1)).alias("_c2")
    )
    # unigram counts of the CONDITIONING position (w1 occurrences), plus
    # the vocabulary size over all train tokens
    c1 = train_bg.groupBy(*grp, "w1").agg(F.count(F.lit(1)).alias("_c1"))
    vocab_src = df.where(is_train).select(
        *[F.col(g) for g in grp],
        F.explode(F.expr(f"split({text_col}, ' +')")).alias("_w"),
    )
    if grp:
        vocab = vocab_src.groupBy(*grp).agg(
            F.countDistinct("_w").alias("_v")
        )
        joined = (
            bigrams.join(c2, [*grp, "w1", "w2"], "left")
            .join(c1, [*grp, "w1"], "left")
            .join(F.broadcast(vocab), grp, "left")
        )
    else:
        vocab = vocab_src.agg(F.countDistinct("_w").alias("_v"))
        joined = (
            bigrams.join(c2, ["w1", "w2"], "left")
            .join(c1, "w1", "left")
            .crossJoin(F.broadcast(vocab))
        )
    scored = (
        joined
        .select(
            F.col(id_col),
            *[F.col(g) for g in grp],
            F.log(
                (F.coalesce("_c2", F.lit(0)) + 1).cast("double")
                / (F.coalesce("_c1", F.lit(0)) + F.col("_v")).cast("double")
            ).alias("_lp"),
        )
    )
    # the group key rides the final agg too, so grouped callers get it
    # back without re-joining the corpus (a doc has exactly one group)
    return scored.groupBy(id_col, *grp).agg(
        F.count(F.lit(1)).alias("n_transitions"),
        (-F.avg("_lp")).alias("cross_entropy"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 200,
    stride: int = 150,
) -> DataFrame:
    """Split documents into overlapping fixed-size character chunks —
    the standard preprocessing step before embedding/RAG indexing (each
    chunk becomes one embedding row; ``chunk_size - stride`` characters
    of overlap preserve cross-boundary context).

    Map-only explode: ``n_chunks = 1 + ceil(max(0, len - chunk_size) /
    stride)`` so every character is covered and the tail chunk may run
    short; empty docs yield one empty chunk.  No shuffle — at 100 TB
    this rides the scan and multiplies rows by ~len/stride.  Offsets are
    1-based (`substring` semantics, identical in DuckDB), making the op
    value-exact cross-engine."""
    n_extra = F.floor(
        (F.greatest(F.length(F.col(text_col)) - F.lit(chunk_size), F.lit(0))
         + F.lit(stride - 1)) / F.lit(stride)
    ).cast("int")
    return (
        df.select(
            F.col(id_col),
            F.col(text_col),
            F.explode(F.sequence(F.lit(0), n_extra)).alias("chunk_idx"),
        )
        .select(
            id_col,
            F.col("chunk_idx"),
            (F.col("chunk_idx") * stride + 1).alias("chunk_start"),
            F.substring(
                F.col(text_col), F.col("chunk_idx") * stride + 1, chunk_size
            ).alias("chunk_text"),
        )
    )


# The Gopher rules' stopword probe (Rae et al. 2021 §A1.1: "must contain
# at least 2 of the, be, to, of, and, that, have, with").
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Gopher document-quality rules (Rae et al. 2021, "Scaling Language
    Models: ... Gopher", appendix A1.1 — the public rule set MassiveWeb
    used; also the backbone of RefinedWeb/FineWeb filtering): per-doc
    metrics plus one ``keep`` flag:

    - ``n_words`` in [50, 100_000]
    - ``mean_word_len`` in [3, 10]
    - ``hash_ellipsis_ratio`` (# + "..." occurrences per word) <= 0.1
    - ``bullet_line_frac`` (lines starting with a bullet) <= 0.9
    - ``ellipsis_line_frac`` (lines ending in "...") <= 0.3
    - ``alpha_word_frac`` (words containing a letter) >= 0.8
    - ``stopword_hits`` (distinct Gopher stopwords present) >= 2

    Pure JVM column expressions (split/size/regexp over token and line
    arrays) — map-only, scan-speed at 100 TB, and every metric is
    SQL-expressible so the whole rule set value-oracles in DuckDB.
    Thresholds are the paper's; they are parameters of the PLAN (change
    them per corpus), not of the operator."""
    t = F.col(text_col)
    words = F.split(t, " +")
    n_words = F.size(F.filter(words, lambda w: w != ""))
    mean_wl = F.aggregate(
        F.filter(words, lambda w: w != ""),
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.length(w),
    ) / F.nullif(n_words, F.lit(0))
    n_hash = F.size(F.split(t, "#", -1)) - 1
    n_ellipsis = F.size(F.split(t, r"\.\.\.", -1)) - 1
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    bullet_lines = F.size(
        F.filter(lines, lambda ln: ln.rlike(r"^\s*([*•-])\s"))
    )
    ellipsis_lines = F.size(
        F.filter(lines, lambda ln: ln.rlike(r"\.\.\.\s*$"))
    )
    alpha_words = F.size(
        F.filter(words, lambda w: w.rlike("[A-Za-z]"))
    )
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(
                F.transform(words, lambda w: F.lower(w))
            ),
            F.array([F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    m = df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        ((n_hash + n_ellipsis) / F.nullif(n_words, F.lit(0))).alias(
            "hash_ellipsis_ratio"
        ),
        (bullet_lines / F.nullif(n_lines, F.lit(0))).alias(
            "bullet_line_frac"
        ),
        (ellipsis_lines / F.nullif(n_lines, F.lit(0))).alias(
            "ellipsis_line_frac"
        ),
        (alpha_words / F.nullif(n_words, F.lit(0))).alias(
            "alpha_word_frac"
        ),
        stop_hits.alias("stopword_hits"),
    )
    keep = (
        F.col("n_words").between(50, 100_000)
        & F.col("mean_word_len").between(3, 10)
        & (F.coalesce(F.col("hash_ellipsis_ratio"), F.lit(1.0)) <= 0.1)
        & (F.coalesce(F.col("bullet_line_frac"), F.lit(1.0)) <= 0.9)
        & (F.coalesce(F.col("ellipsis_line_frac"), F.lit(1.0)) <= 0.3)
        & (F.coalesce(F.col("alpha_word_frac"), F.lit(0.0)) >= 0.8)
        & (F.col("stopword_hits") >= 2)
    )
    return m.withColumn("keep", keep.cast("int"))


def c4_clean(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020, §2.2 — the
    public heuristics behind the Colossal Clean Crawled Corpus):

    - keep only lines that end in terminal punctuation (. ! ? ")
      and contain at least 3 whitespace words;
    - drop lines containing the token "javascript" (case-insensitive);
    - doc-level flags: ``has_lorem_ipsum`` and ``has_curly_brace``
      (C4 drops such docs outright);
    - ``clean_text`` is the surviving lines re-joined with newlines,
      ``kept_lines`` / ``total_lines`` the audit counts.

    Everything is JVM array expressions over ``split(text, '\\n')`` —
    map-only, no shuffle, scan-speed at 100 TB; the line predicate and
    the re-join are SQL-expressible so the operator value-oracles in
    DuckDB.  Deduplication of repeated three-sentence spans (C4's other
    rule) is the GLOBAL pass — see remove_duplicate_spans."""
    t = F.col(text_col)
    lines = F.split(t, "\n")
    keep_line = (
        lambda ln: ln.rlike(r'[.!?"]\s*$')
        & (F.size(F.split(F.trim(ln), " +")) >= 3)
        & ~F.lower(ln).contains("javascript")
    )
    kept = F.filter(lines, keep_line)
    return df.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("clean_text"),
        F.size(kept).alias("kept_lines"),
        F.size(lines).alias("total_lines"),
        F.lower(t).contains("lorem ipsum").cast("int").alias(
            "has_lorem_ipsum"
        ),
        t.contains("{").cast("int").alias("has_curly_brace"),
    )


def ccnet_perplexity_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    lang_col: str,
    is_train: Column,
    digits: int = 4,
) -> DataFrame:
    """CCNet's head/middle/tail corpus split (Wenzek et al., LREC 2020
    §4.3): within each language, rank documents by LM perplexity and cut
    at the terciles — "head" (lowest perplexity third) is what CCNet
    ships as high-quality pretraining data.  Composes
    :func:`lm_cross_entropy` in its per-group form (one bigram LM per
    language, trained on that language's ``is_train`` slice — CCNet's
    actual per-language KenLM layout) with per-language tercile cutoffs.

    Determinism contract: cross-entropy is first rounded with the
    portable half-away-from-zero floor formula (``digits`` places, the
    same macro the oracle layer uses) so BOTH engines compute cutoffs
    over identical doubles; the cutoff itself is then an exact ORDER
    STATISTIC — the value at integer rank ceil(n/3) (resp. ceil(2n/3))
    within each language, selected by row_number with pure integer rank
    arithmetic — NOT an interpolated quantile.  The r11 contract relied
    on interpolation falling strictly between grid values; the r12 SF1
    sweep falsified that at 50k docs, where lang 'de''s interpolated
    tercile landed within one ulp of the grid value 3.7433 and Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` interpolated to
    opposite sides of it, flipping 30 documents' buckets.  An order
    statistic IS a grid value, identical in both engines at every n —
    no floating-point interpolation exists to disagree about.

    Returns ``(id_col, lang_col, n_transitions, cross_entropy, bucket,
    bucket_label)`` with bucket 1/2/3 = head/middle/tail.

    Scale shape: scoring is the lm_cross_entropy shape (two keyed aggs +
    broadcast count tables); cutoffs are one per-language EXACT
    percentile aggregation (k languages × 2 doubles, broadcast back;
    exact percentile gathers each language's scores on one reducer — at
    true 100 TB swap ``percentile`` for the mergeable t-digest
    ``approx_percentile``, same plan shape, documented trade); labeling
    is map-only.
    """
    # the one portable-rounding macro, shared with the oracle layer
    # (import is cycle-free: queries/__init__ loads query modules lazily)
    from arrow_ballista_spark.queries import cround

    # lm_cross_entropy's grouped form returns the group key, so lang
    # rides the scoring plan — no re-join of the corpus to recover it.
    # tracked persist (r12): the scored frame feeds BOTH the tercile
    # cutoff aggregation and the final bucket labeling join — without it
    # the whole bigram-LM scoring pipeline (two keyed aggs + broadcast
    # count tables) executes twice per invocation.
    from arrow_ballista_spark.operators.caching import tracked_persist

    scored = tracked_persist(
        lm_cross_entropy(
            df, text_col, id_col, is_train, group_col=lang_col
        ).select(
            F.col(id_col),
            F.col(lang_col),
            "n_transitions",
            cround(F.col("cross_entropy"), digits).alias("cross_entropy"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(lang_col)
    ranked = scored.select(
        F.col(lang_col),
        "cross_entropy",
        F.row_number()
        .over(w.orderBy("cross_entropy"))
        .alias("_rn"),
        F.count(F.lit(1)).over(w).alias("_n"),
    )
    # ceil(n/3) = (n + 2) DIV 3 — integer arithmetic end to end
    cuts = ranked.groupBy(lang_col).agg(
        F.max(
            F.when(
                F.col("_rn") == F.expr("(_n + 2) DIV 3"),
                F.col("cross_entropy"),
            )
        ).alias("_c33"),
        F.max(
            F.when(
                F.col("_rn") == F.expr("(_n * 2 + 2) DIV 3"),
                F.col("cross_entropy"),
            )
        ).alias("_c66"),
    )
    return scored.join(F.broadcast(cuts), lang_col).select(
        F.col(id_col),
        F.col(lang_col),
        "n_transitions",
        "cross_entropy",
        F.when(F.col("cross_entropy") <= F.col("_c33"), F.lit(1))
        .when(F.col("cross_entropy") <= F.col("_c66"), F.lit(2))
        .otherwise(F.lit(3))
        .alias("bucket"),
        F.when(F.col("cross_entropy") <= F.col("_c33"), F.lit("head"))
        .when(F.col("cross_entropy") <= F.col("_c66"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket_label"),
    )


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003) — the local fingerprinting scheme behind MOSS: hash
    every ``k``-token shingle, slide a window of ``w`` consecutive
    hashes, and keep each window's MINIMUM hash.  The selection is
    position-local, so it carries the winnowing guarantee the global
    MinHash sketch (operators/dedup.py) cannot give: any shared token
    run of length >= ``w + k - 1`` between two documents yields at least
    one shared fingerprint — partial overlap detection with O(n/w)
    fingerprints per document instead of all n grams
    (operators/dedup.py:substring_dedup keeps every window).

    Hashes are the engine-portable md5-derived 60-bit integers (the
    oracle emits the identical arithmetic), and ties between equal
    hashes need no positional tie-break because fingerprints are emitted
    as a per-document DISTINCT set.  Documents shorter than ``k`` tokens
    emit nothing; documents with fewer than ``w`` grams emit the min of
    the grams they have (the standard short-document fallback, so every
    tokenizable document is fingerprintable).

    Returns exploded ``(id_col, fp)`` rows, distinct per document.

    Scale shape: ENTIRELY map-side — tokenize, hash, window-min, and
    per-doc distinct run in ONE vectorized Arrow pass (r13; previously
    one array projection whose ``transform``/``slice``/``array_min``
    chain is CodegenFallback — interpreted per gram); no shuffle, no
    state, embarrassingly parallel over a 100 TB corpus.  Downstream
    candidate generation joins on ``fp`` exactly like the LSH band join.

    Bit-exactness contract of the kernel (the r12 ``_pq_assign_arrow``
    recipe — INTEGER/byte arithmetic only, no float lane):

    - tokenize: ``re.split(' +', text)`` == Spark ``split(text, ' +')``
      (Java ``Pattern.split(_, -1)``) — both keep leading/trailing empty
      tokens for this pattern; NULL text drops exactly like the
      ``size(_t) >= k`` filter does (``size(NULL) = -1``);
    - gram hash: ``md5(utf8)`` first 15 hex chars as int — computed as
      ``int.from_bytes(digest[:8]) >> 4``, identical to
      ``conv(substring(md5(...), 1, 15), 16, 10)`` (60 bits, positive);
    - window-min over int64 is order-free; per-doc distinct is a set.

    Pinned by test against the retired expression form
    (``tests/test_r13_kernels.py``) on adversarial token shapes.
    """
    from pyspark.sql import types as T

    def fps(batches):
        import hashlib
        import re

        import numpy as np
        import pyarrow as pa
        from numpy.lib.stride_tricks import sliding_window_view

        split = re.compile(" +").split
        md5 = hashlib.md5
        from_bytes = int.from_bytes
        for batch in batches:
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            out_ids: list = []
            out_fps: list = []
            for idv, txt in zip(ids, texts):
                if txt is None:
                    continue
                t = split(txt)
                n = len(t)
                if n < k:
                    continue
                grams = np.fromiter(
                    (
                        from_bytes(
                            md5(" ".join(t[p : p + k]).encode()).digest()[:8],
                            "big",
                        )
                        >> 4
                        for p in range(n - k + 1)
                    ),
                    dtype=np.int64,
                    count=n - k + 1,
                )
                if grams.size <= w:
                    # fewer than w grams: ONE window over what exists
                    # (sequence(1, greatest(1, size - w + 1)) == [1])
                    u = grams.min(keepdims=True)
                else:
                    u = np.unique(sliding_window_view(grams, w).min(axis=1))
                out_ids.extend([idv] * u.size)
                out_fps.append(u)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_ids, type=batch.schema.field(0).type),
                    pa.array(
                        np.concatenate(out_fps)
                        if out_fps
                        else np.empty(0, dtype=np.int64)
                    ),
                ],
                [id_col, "fp"],
            )

    schema = T.StructType(
        [df.schema[id_col], T.StructField("fp", T.LongType())]
    )
    return df.select(F.col(id_col), F.col(text_col)).mapInArrow(fps, schema)


def bpe_train_merges(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 8,
    driver_vocab_cap: int = None,
) -> DataFrame:
    """Train the first ``k`` BPE merge rules on a corpus (Sennrich et al.
    2016, "Neural Machine Translation of Rare Words with Subword Units" —
    the public byte-pair-encoding algorithm every modern LLM tokenizer
    family builds on): per iteration, count adjacent symbol pairs over
    the word-frequency table, merge the most frequent pair everywhere,
    repeat.  Returns ``(rank, left_tok, right_tok, pair_count)`` — one
    row per learned merge, in training order.

    Spec (deterministic, engine-portable — the DuckDB oracle unrolls the
    same chain):

    - pre-tokenize: whitespace-split words, lowercased, restricted to
      ``^[a-z0-9]+$`` (keeps the symbol universe free of the separator
      and marker characters);
    - a word's symbol sequence starts as its characters + a ``</w>``
      end-of-word marker, represented as a ``|``-separated string
      (``|h|i|</w>|``) so a merge is ONE literal string replace —
      ``replace(r, '|l|r|', '|lr|')`` — whose non-overlapping
      left-to-right scan IS BPE's greedy application order in both
      engines;
    - argmax ties break (count DESC, left ASC, right ASC) — binary
      collation in both engines.

    Scale shape: the corpus shuffles ONCE into the word-frequency table
    (vocabulary-sized, ~100k rows at any corpus size — Heaps' law).
    That table is collected once (bounded by ``driver_vocab_cap``) and
    the k-merge loop runs DRIVER-SIDE with incremental pair-count
    maintenance — zero per-merge Spark jobs, so a real tokenizer's
    k≈32,000 merges train in seconds (vs ~2k sequential Spark jobs in
    the pre-r8 per-merge loop, which survives as the over-cap
    fallback).  At 100 TB the word-count pass dominates and is the
    same two-phase agg as ext_text_stats; training never re-touches
    the corpus.
    """
    spark = docs.sparkSession
    kwargs = {} if driver_vocab_cap is None else {
        "driver_vocab_cap": driver_vocab_cap
    }
    merges, _ = _bpe_train(docs, text_col, k, **kwargs)
    return local_frame(
        spark,
        merges,
        "rank int, left_tok string, right_tok string, pair_count bigint",
    )


def bpe_normalized_words(docs: DataFrame, text_col: str) -> DataFrame:
    """The BPE pre-tokenization word stream, one row per occurrence:
    whitespace-split, lowercased, restricted to ``^[a-z0-9]+$``."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " +")).alias("w0"))
        .select(F.lower("w0").alias("w"))
        .filter(F.col("w").rlike("^[a-z0-9]+$"))
    )


#: Driver-side merge-loop vocabulary cap.  Heaps' law keeps the DISTINCT
#: normalized-word table in the low hundreds of thousands at any corpus
#: size (the 100 TB word-count shuffle produces the same ~10^5-row table
#: as sf0.1 does), so collecting it once is bounded driver memory (~tens
#: of MB) — the price of making k no longer a per-merge Spark-job count.
_BPE_DRIVER_VOCAB_CAP = 200_000


def _bpe_train_driver(vocab, k: int):
    """Driver-side BPE merge loop over the collected word-frequency
    table: the exact Sennrich trainer with incremental pair-count
    maintenance (pair -> candidate-word index + lazy max-heap), so k
    merges cost O(affected-word updates + P log P) instead of k full
    recounts — k=32,000 real-tokenizer training becomes seconds, not
    64k sequential Spark jobs.

    Semantics are BYTE-IDENTICAL to the distributed loop (and the
    DuckDB oracle chain): greedy left-to-right non-overlapping merge
    application per word; argmax ties break (count DESC, left ASC,
    right ASC) — Python tuple comparison on ASCII tokens IS binary
    collation.  Returns ``(merges, rep_rows)`` with rep_rows =
    ``[(w, piped_repr, n)]`` in the ``|a||b||</w>|`` wrapped-symbol
    format the apply half splits."""
    import heapq

    words = [[list(w) + ["</w>"], int(n), w] for w, n in vocab]
    pair_counts: dict = {}
    index: dict = {}
    for wid, (syms, n, _) in enumerate(words):
        for a, b in zip(syms, syms[1:]):
            pair_counts[(a, b)] = pair_counts.get((a, b), 0) + n
            index.setdefault((a, b), set()).add(wid)
    heap = [(-c, l, r, c) for (l, r), c in pair_counts.items()]
    heapq.heapify(heap)
    merges = []
    for rank in range(k):
        best = None
        while heap:  # lazy invalidation: skip entries whose snapshot
            negc, l, r, snap = heapq.heappop(heap)  # count went stale
            if pair_counts.get((l, r)) == snap:
                best = (l, r, snap)
                break
        if best is None:
            break
        l, r, cnt = best
        merges.append((rank, l, r, cnt))
        new_sym = l + r
        deltas: dict = {}
        for wid in index.pop((l, r), ()):  # candidates (may be stale)
            syms, n, _ = words[wid]
            out, i, changed = [], 0, False
            L = len(syms)
            while i < L:  # greedy left-to-right non-overlapping — the
                # same scan order as replace('|l||r|', '|lr|')
                if i + 1 < L and syms[i] == l and syms[i + 1] == r:
                    out.append(new_sym)
                    i += 2
                    changed = True
                else:
                    out.append(syms[i])
                    i += 1
            if not changed:
                continue
            for a, b in zip(syms, syms[1:]):
                deltas[(a, b)] = deltas.get((a, b), 0) - n
            for a, b in zip(out, out[1:]):
                deltas[(a, b)] = deltas.get((a, b), 0) + n
                index.setdefault((a, b), set()).add(wid)
            words[wid][0] = out
        for p, d in deltas.items():
            if d == 0:
                continue
            c = pair_counts.get(p, 0) + d
            if c <= 0:
                pair_counts.pop(p, None)
            else:
                pair_counts[p] = c
                heapq.heappush(heap, (-c, p[0], p[1], c))
    rep_rows = [
        (w, "".join(f"|{s}|" for s in syms), n) for syms, n, w in words
    ]
    return merges, rep_rows


def _bpe_train(
    docs: DataFrame,
    text_col: str,
    k: int,
    driver_vocab_cap: int = _BPE_DRIVER_VOCAB_CAP,
):
    """Shared training loop: returns ``(merges, rep)`` where merges is
    the list of (rank, left, right, count) and ``rep`` the FINAL
    vocabulary representation ``(w, r, n)`` — each word's |-separated
    symbol string after all k merges (the tokenizer the apply half
    joins against).

    Scale shape: the corpus shuffles ONCE into the Heaps-bounded
    word-frequency table.  When that table fits ``driver_vocab_cap``
    (it does for any real corpus — see :data:`_BPE_DRIVER_VOCAB_CAP`),
    it is collected once and the k-merge loop runs driver-side with
    incremental pair maintenance (:func:`_bpe_train_driver`) — zero
    per-merge Spark jobs, so k=32k real-tokenizer training is feasible.
    Above the cap the exact distributed loop below is the fallback:
    one vocab-sized pair-count agg + map-only literal replace + a 1-row
    collect per merge (bounded but k-sequential — honest at small k)."""
    spark = docs.sparkSession
    words = tracked_persist(
        bpe_normalized_words(docs, text_col)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    words.count()  # materialize: read by the cap probe AND the loop
    head = words.limit(driver_vocab_cap + 1).collect()
    if len(head) <= driver_vocab_cap:
        words.unpersist()
        merges, rep_rows = _bpe_train_driver(
            [(r["w"], r["n"]) for r in head], k
        )
        rep = local_frame(spark, rep_rows, "w string, r string, n bigint")
        return merges, rep
    return _bpe_train_distributed(words, k)


def _bpe_train_distributed(words: DataFrame, k: int):
    """Over-cap fallback: the original distributed merge loop (one
    vocab-sized agg + 1-row collect per merge) over the persisted
    word-frequency table."""
    rep = tracked_persist(
        words.select(
            "w",
            # each symbol wrapped in its own pipes ("|a||b|...|</w>|"):
            # adjacent merge sites then share NO characters, so the
            # non-overlapping left-to-right replace hits every
            # occurrence exactly as greedy BPE does ("banana" with
            # merge (a,n) -> b an an a, not b an a n a — the
            # single-pipe representation dropped every second
            # consecutive occurrence because the shared delimiter was
            # consumed by the previous match)
            F.concat(
                F.regexp_replace("w", "(.)", r"|$1|"), F.lit("|</w>|")
            ).alias("r"),
            "n",
        )
    )
    rep.count()  # materialize before the iteration chain
    merges = []
    for rank in range(k):
        pairs = rep.select(
            "n",
            F.expr(
                "filter(split(r, '\\\\|'), x -> x != '')"
            ).alias("s"),
        ).select(
            "n",
            F.explode(
                # guard single-symbol words: Spark sequence(1, 0) counts
                # DOWN ([1, 0]) instead of yielding empty
                F.expr(
                    "CASE WHEN size(s) < 2"
                    " THEN cast(array() as array<struct<l string, rr string>>)"
                    " ELSE transform(sequence(1, size(s) - 1),"
                    " i -> struct(element_at(s, i) AS l,"
                    " element_at(s, i + 1) AS rr)) END"
                )
            ).alias("p"),
        )
        best = (
            pairs.groupBy("p.l", "p.rr")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("rr"))
            .limit(1)
            .collect()  # exactly one row per iteration — bounded
        )
        if not best:
            break
        b = best[0]
        merges.append((rank, b["l"], b["rr"], int(b["cnt"])))
        pat = f"|{b['l']}||{b['rr']}|"
        new = f"|{b['l']}{b['rr']}|"
        nxt = tracked_persist(
            rep.select(
                "w",
                F.expr(
                    "replace(r, {}, {})".format(
                        _sql_str(pat), _sql_str(new)
                    )
                ).alias("r"),
                "n",
            )
        )
        nxt.count()
        rep.unpersist()  # superseded — don't pin k+1 vocab tables
        rep = nxt
    return merges, rep


def bpe_token_counts(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """APPLY half of the BPE tokenizer: train ``k`` merges on the corpus
    (:func:`_bpe_train`), then tokenize every document against the
    final vocabulary — ``(id_col, n_words, n_chars, n_tokens)`` with
    ``n_tokens`` the post-merge subword count (excluding the ``</w>``
    markers) and ``n_chars`` the pre-merge symbol count, so
    ``n_chars / n_tokens`` is the compression the learned merges buy.

    Scale shape: tokenization is a WORD-keyed broadcast-or-shuffle join
    of the document word stream against the vocabulary-sized ``rep``
    table (each word's subword count precomputed once per DISTINCT
    word, never per occurrence) + one keyed agg per document — the
    trained tokenizer never re-walks characters at apply time."""
    _, rep = _bpe_train(docs, text_col, k)
    counts = rep.select(
        "w",
        # the </w> marker only discounts when it SURVIVES as its own
        # symbol — a merge can absorb it ("the</w>" is one real token;
        # size-1 would undercount it to zero)
        F.expr(
            "size(filter(split(r, '\\\\|'), x -> x != ''))"
            " - CASE WHEN element_at("
            "filter(split(r, '\\\\|'), x -> x != ''), -1) = '</w>'"
            " THEN 1 ELSE 0 END"
        ).alias("toks"),
    )
    occ = (
        docs.select(
            F.col(id_col),
            F.explode(F.split(F.col(text_col), " +")).alias("w0"),
        )
        .select(id_col, F.lower("w0").alias("w"))
        .filter(F.col("w").rlike("^[a-z0-9]+$"))
    )
    return (
        occ.join(counts, "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("w")).alias("n_chars"),
            F.sum("toks").alias("n_tokens"),
        )
    )


def _sql_str(s: str) -> str:
    """Single-quoted SQL string literal (tokens are [a-z0-9<>/] by
    construction, but escape defensively)."""
    return "'" + s.replace("'", "''") + "'"
