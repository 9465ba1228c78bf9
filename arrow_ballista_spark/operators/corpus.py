"""Corpus-construction operators a training-data pipeline needs between
"raw documents" and "training shards": deterministic sampling, exact
stratified sampling, token-budget shard packing, benchmark decontamination,
and keep-one-per-cluster canonical dedup.

All operators are pure JVM column expressions (no Python UDFs) and are
designed for the 100 TB regime:

- sampling is hash-deterministic (md5 of the id) → map-only, resumable,
  and reproducible across reruns/retries — never ``rand()``;
- stratified top-k uses a two-level window (salted then final) so one hot
  stratum cannot serialize into a single task;
- shard packing computes a GLOBAL prefix sum with the classic two-pass
  distributed scan (per-bucket partial sums broadcast back as offsets)
  instead of a single-task ``Window.orderBy`` over the whole corpus;
- decontamination broadcasts the benchmark n-gram set (eval benchmarks are
  tiny vs the corpus) so the corpus side stays map-only.

No reference parity: arrow-ballista has none of these (SURVEY.md §2 —
extensions beyond the reference surface).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from arrow_ballista_spark.operators.caching import tracked_persist
from arrow_ballista_spark.types import local_frame


def hash_bucket(col: Column, digits: int = 4) -> Column:
    """Deterministic uniform sampling key: the first ``digits`` hex chars of
    md5 of the value's string form.  Identical in DuckDB
    (``substr(md5(CAST(x AS VARCHAR)), 1, digits)``), so sampling decisions
    are oracle-exact.  Map-only; survives retries and re-runs unchanged
    (unlike ``rand()``/``TABLESAMPLE`` which resample per attempt)."""
    return F.substring(F.md5(col.cast("string").cast("binary")), 1, digits)


def hash_sample(df: DataFrame, id_col: str, keep_below: str) -> DataFrame:
    """Bernoulli sample keeping rows whose :func:`hash_bucket` sorts below
    the hex threshold (e.g. ``"4000"`` with 4 digits ≈ 25%).  Fraction
    resolution is 16^-digits.  No shuffle — the filter rides the scan."""
    return df.where(hash_bucket(F.col(id_col)) < F.lit(keep_below))


def train_val_test_split(
    df: DataFrame,
    id_col: str,
    train_below: str = "c000",
    val_below: str = "e000",
    split_col: str = "split",
) -> DataFrame:
    """Deterministic three-way corpus split by md5-of-id hex ranges
    (default 75% train / 12.5% val / 12.5% test).

    The assignment is a pure function of the row id: map-only (no shuffle,
    no ``rand()``), stable across reruns, task retries, and cluster sizes —
    so a 100 TB split is reproducible and any document's membership can be
    audited after the fact.  Contrast ``df.randomSplit``, which resamples
    per attempt and depends on partitioning.  Split-fraction resolution is
    16^-digits of the hex prefix (4 digits → 1/65536)."""
    b = hash_bucket(F.col(id_col))
    return df.withColumn(
        split_col,
        F.when(b < F.lit(train_below), F.lit("train"))
        .when(b < F.lit(val_below), F.lit("val"))
        .otherwise(F.lit("test")),
    )


def stratified_sample_topk(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    k: int,
    salt_buckets: int = 64,
) -> DataFrame:
    """EXACT per-stratum k-row sample: the k rows with the smallest
    (md5(id), id) rank inside each stratum — a deterministic uniform draw.

    Skew-safe two-level top-k: a ``Window.partitionBy(stratum)`` alone puts
    an entire stratum in ONE task (a 30%-one-language corpus straggles and
    AQE cannot split a window).  Level 1 ranks within (stratum, salt) —
    ``salt_buckets`` parallel tasks per stratum — and keeps k per salted
    group; level 2 ranks the ≤ k·salt_buckets survivors per stratum.  Both
    levels pick by the same total order, so the result equals the naive
    single-window top-k (any global top-k row is also top-k within its own
    salt bucket), at ~1/salt_buckets the per-task width.
    """
    rank_key = [hash_bucket(F.col(id_col), 8).alias("_hk"), F.col(id_col)]
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets)))
    w1 = Window.partitionBy(strata_col, "_salt").orderBy(*rank_key)
    lvl1 = (
        salted.withColumn("_rn1", F.row_number().over(w1))
        .where(F.col("_rn1") <= k)
        .drop("_rn1", "_salt")
    )
    w2 = Window.partitionBy(strata_col).orderBy(*rank_key)
    return (
        lvl1.withColumn("_rn", F.row_number().over(w2))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def pack_shards(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    budget: int,
    n_buckets: int = 32,
) -> DataFrame:
    """Assign each row a ``shard_id`` so that consecutive rows (ordered by
    ``id_col``) accumulate ~``budget`` total ``weight_col`` per shard:
    ``shard_id = floor(exclusive_prefix_sum(weight) / budget)`` — the
    deterministic sequential packing a tokenized-training-shard writer uses.

    A naive ``Window.orderBy(id)`` prefix sum is a SINGLE task over the
    whole corpus.  This is the standard two-pass distributed scan instead:

    1. range-bucket rows by id into ``n_buckets`` (explicit ``floor((id -
       min_id) / span)`` — deterministic, unlike sampled
       ``repartitionByRange`` boundaries);
    2. per-bucket total weights → driver (``n_buckets`` rows, not data);
       exclusive running totals become per-bucket offsets, shipped back
       as a tiny broadcast-joined DataFrame (NOT a chained CASE WHEN —
       expression depth linear in n_buckets blows the codegen/constant-
       pool limit around 10^3-10^4 buckets);
    3. within-bucket ``Window.partitionBy(bucket).orderBy(id)`` prefix sum
       + the bucket's offset = the exact global prefix sum, at
       ``n_buckets``-way parallelism.

    At 100 TB, step 2 moves ``n_buckets`` longs through the driver; every
    heavy stage is a partitioned window.  Returns the input plus
    ``cum_before`` (exclusive global prefix sum) and ``shard_id``.
    """
    lo, hi = df.agg(
        F.min(id_col).alias("lo"), F.max(id_col).alias("hi")
    ).first()  # 1-row agg: bucket bounds, not data
    if lo is None:
        # empty input (e.g. an empty stratum at some SF): empty output
        # with the declared columns, not a TypeError on int(None)
        return (
            df.withColumn("cum_before", F.lit(0).cast("long"))
            .withColumn("shard_id", F.lit(0).cast("long"))
            .limit(0)
        )
    span = max((int(hi) - int(lo)) // n_buckets + 1, 1)
    bucketed = df.withColumn(
        "_bkt", ((F.col(id_col) - F.lit(int(lo))) / F.lit(span)).cast("long")
    )
    per_bucket = {
        int(r["_bkt"]): int(r["w"])
        for r in bucketed.groupBy("_bkt").agg(F.sum(weight_col).alias("w")).collect()
    }
    offsets: dict[int, int] = {}
    running = 0
    for b in sorted(per_bucket):
        offsets[b] = running
        running += per_bucket[b]
    # offsets ride back as a broadcast-joined n_buckets-row frame: a
    # chained F.when would nest one CaseWhen per bucket and overflow the
    # codegen / class constant pool at 10^3-10^4 buckets
    offset_df = local_frame(
        df.sparkSession,
        [(int(b), int(off)) for b, off in offsets.items()],
        "_bkt long, _bkt_offset long",
    )
    bucketed = bucketed.join(F.broadcast(offset_df), "_bkt", "left")
    w = Window.partitionBy("_bkt").orderBy(id_col)
    cum_incl = F.sum(weight_col).over(w)
    cum_before = (
        cum_incl - F.col(weight_col) + F.coalesce("_bkt_offset", F.lit(0))
    ).alias("cum_before")
    return (
        bucketed.select("*", cum_before)
        .withColumn("shard_id", F.floor(F.col("cum_before") / F.lit(budget)))
        .drop("_bkt", "_bkt_offset")
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    seq_len: int,
    n_buckets: int = 32,
) -> DataFrame:
    """Pack documents into FIXED-LENGTH training sequences (the LLM
    pretraining layout): documents concatenate in ``id_col`` order and
    the token stream is cut every ``seq_len`` tokens, so a document can
    span sequence boundaries.  Returns one row per (document, sequence)
    overlap with the document's ``[tok_start, tok_end)`` slot inside the
    sequence — exactly what a sequence writer needs to emit attention-
    boundary metadata.

    Built on :func:`pack_shards`' two-pass distributed prefix sum (no
    single-task window at any scale); the explode multiplies rows only by
    ~weight/seq_len.  Zero-weight docs are dropped (they occupy no slot).
    Integer-exact end to end — oracle-identical across engines."""
    p = pack_shards(df, id_col, weight_col, budget=seq_len, n_buckets=n_buckets)
    first = F.floor(F.col("cum_before") / F.lit(seq_len))
    last = F.floor(
        (F.col("cum_before") + F.col(weight_col) - 1) / F.lit(seq_len)
    )
    return (
        p.where(F.col(weight_col) > 0)
        .select(
            id_col,
            weight_col,
            "cum_before",
            F.explode(F.sequence(first, last)).alias("seq_id"),
        )
        .select(
            id_col,
            "seq_id",
            F.greatest(
                F.lit(0),
                F.col("cum_before") - F.col("seq_id") * seq_len,
            ).cast("long").alias("tok_start"),
            F.least(
                F.lit(seq_len).cast("long"),
                F.col("cum_before") + F.col(weight_col)
                - F.col("seq_id") * seq_len,
            ).cast("long").alias("tok_end"),
        )
    )


def word_ngrams(text_col: str, n: int) -> Column:
    """Distinct word n-grams of the ``text_col`` column (split on runs of
    spaces); documents shorter than n words contribute their whole token
    list.  Mirrors DuckDB ``list_transform(generate_series(...), ...)`` so
    n-gram sets are oracle-identical.  Delegates to
    :func:`dedup.word_shingles` (same semantics, let-binding idiom — the
    token array is bound once per row, not re-split per gram)."""
    from arrow_ballista_spark.operators.dedup import word_shingles

    return word_shingles(text_col, n)


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: for every corpus document, count its
    distinct word n-grams that also occur anywhere in the ``benchmark``
    document set (the standard eval-contamination test).

    The benchmark n-gram vocabulary is collected DISTINCT and broadcast —
    eval sets are MBs against a 100 TB corpus — so the corpus side is a
    map-side (broadcast-hash) semi join: explode grams → broadcast join →
    re-aggregate by doc.  One shuffle (the final groupBy), no corpus
    self-join.  Returns ``(id_col, n_grams, n_contaminated)`` for corpus
    docs with ≥1 hit.
    """
    # Materialize the gram array ONCE per doc and carry its size through the
    # explode — the higher-order transform is interpreted (not codegen), so a
    # second evaluation for the per-doc gram count would double the hottest
    # map stage and force a second corpus scan + join.
    exploded = docs.select(
        F.col(id_col), word_ngrams(text_col, n).alias("_grams")
    ).select(
        F.col(id_col),
        F.size("_grams").alias("n_grams"),
        F.explode("_grams").alias("gram"),
    )
    bench_grams = benchmark.select(
        F.explode(word_ngrams(text_col, n)).alias("gram")
    ).distinct()
    return (
        exploded.join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(
            F.max("n_grams").alias("n_grams"),
            F.count("*").alias("n_contaminated"),
        )
        .select(id_col, "n_grams", "n_contaminated")
    )


def dsir_weights(
    df: DataFrame,
    text_col: str,
    id_col: str,
    is_target: Column,
    n_buckets: int = 256,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al., NeurIPS
    2023): score every document by how much its hashed word-bigram
    distribution resembles a TARGET slice of the corpus versus the rest
    — the standard way to up-sample "looks like high-quality reference
    text" at pretraining scale without a trained classifier.

    Features are bigram OCCURRENCES (not distinct) hashed into
    ``n_buckets`` via the portable md5-derived hash, exactly the paper's
    hashed n-gram model.  Per-bucket add-one-smoothed log-likelihood
    ratio ``ln(p_target[b] / p_raw[b])``; a document's weight is the sum
    over its gram occurrences.  Returns ``(id_col, n_grams, weight)``
    for every document (target docs score too — resampling decides).

    Scale shape: gram explode is map-only; the bucket count is ONE keyed
    aggregation onto ``n_buckets`` rows (map-side combined, never
    skewed-by-content since the hash spreads hot grams); the per-doc
    scoring joins that tiny bucket table BROADCAST, then one groupBy
    doc.  No corpus self-join, nothing driver-side.  Cross-engine
    exactness: the smoothed ratio is a quotient of exact integer
    products (alpha=1), so both engines take ``ln`` of the identical
    double; the per-doc sum is rounded by the caller's ``cround``.
    """
    toks = df.select(
        F.col(id_col),
        is_target.alias("_tgt"),
        F.expr(f"split({text_col}, ' +')").alias("_t"),
    )
    grams = toks.select(
        F.col(id_col),
        "_tgt",
        F.explode(
            F.expr(
                "CASE WHEN size(_t) < 2 THEN array(concat_ws(' ', _t)) "
                "ELSE transform(sequence(1, size(_t) - 1),"
                " i -> concat(_t[i - 1], ' ', _t[i])) END"
            )
        ).alias("_gram"),
    ).select(
        F.col(id_col),
        "_tgt",
        F.expr(
            f"pmod(cast(conv(substring(md5(cast(_gram AS BINARY)), 1, 15),"
            f" 16, 10) AS BIGINT), {n_buckets})"
        ).alias("_bucket"),
    )
    grams = tracked_persist(grams)
    counts = grams.groupBy("_bucket").agg(
        F.sum(F.when(F.col("_tgt"), 1).otherwise(0)).alias("_ct"),
        F.sum(F.when(F.col("_tgt"), 0).otherwise(1)).alias("_cr"),
    )
    totals = counts.agg(
        F.sum("_ct").alias("_tt"), F.sum("_cr").alias("_tr")
    )
    lr = counts.crossJoin(F.broadcast(totals)).select(
        "_bucket",
        # factors cast to double BEFORE multiplying: counts are exact
        # below 2^53 and the IEEE product/quotient round identically in
        # both engines, while an int64 product would overflow at corpus
        # scale (gram totals ~1e10 squared)
        F.log(
            ((F.col("_ct") + 1).cast("double")
             * (F.col("_tr") + n_buckets).cast("double"))
            / ((F.col("_cr") + 1).cast("double")
               * (F.col("_tt") + n_buckets).cast("double"))
        ).alias("_lr"),
    )
    return (
        grams.join(F.broadcast(lr), "_bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("_lr").alias("weight"),
        )
    )


def canonical_dedup(
    docs: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
    prefer_col: str = "n_chars",
    broadcast_threshold_rows: int | None = None,
    n_components: int | None = None,
) -> DataFrame:
    """Keep-one-per-cluster dedup: given ``components`` ``(id, cluster_id)``
    from :func:`dedup.connected_components`, retain per cluster the doc with
    the largest ``prefer_col`` (ties → smallest id); docs in no cluster are
    their own canonical.  Returns the kept docs plus ``cluster_size``.

    The membership join broadcasts the components side ONLY when it is
    small: components cover every near-dup member, and at 100 TB with a
    realistic 10-30% dup rate that is billions of rows — an unconditional
    broadcast OOMs the driver.  The guard counts components (cheap: CC
    output is already localCheckpointed) against
    ``broadcast_threshold_rows`` (default from spark conf
    ``spark.ballista.canonicalDedup.broadcastRows``, 10M); above it the
    join shuffles on ``id_col`` and AQE may still promote genuinely-small
    cases at runtime.  ``n_components`` lets a caller that already knows
    the CC output's row count (``connected_components`` reports it as
    ``stats["n_nodes"]`` — observed during its own checkpoint action)
    skip the guard's count job.  The per-cluster pick is a window over
    clusters — bounded by the largest duplicate clique, not the corpus.
    """
    comp = components.select(
        F.col("id").alias(id_col), F.col("cluster_id")
    )
    if broadcast_threshold_rows is None:
        broadcast_threshold_rows = int(
            docs.sparkSession.conf.get(
                "spark.ballista.canonicalDedup.broadcastRows", "10000000"
            )
        )
    # one job over the (checkpointed) CC output — unless the caller
    # already has the count from the CC loop's fused observation
    n_comp = n_components if n_components is not None else comp.count()
    if n_comp <= broadcast_threshold_rows:
        comp = F.broadcast(comp)
    labeled = docs.join(comp, id_col, "left").withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(prefer_col).desc(), F.col(id_col)
    )
    wc = Window.partitionBy("cluster_id")
    return (
        labeled.withColumn("_rn", F.row_number().over(w))
        .withColumn("cluster_size", F.count("*").over(wc))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def bucketed_interval_join(
    left: DataFrame,
    left_val: str,
    right: DataFrame,
    lo_col: str,
    hi_col: str,
    width: float,
) -> DataFrame:
    """Range (interval) join — ``left.val ∈ [right.lo, right.hi)`` — as an
    EQUI join Catalyst can hash-partition, instead of the
    BroadcastNestedLoopJoin a raw theta join plans.

    Decompose the value domain into ``width``-sized buckets: each left row
    lands in one bucket (map-only); each right interval explodes into the
    buckets it covers (``(hi-lo)/width + 1`` rows — pick ``width`` near the
    median interval length so the blow-up is ~2×).  Join on the bucket
    equi-key with the exact range predicate as a residual.  Both sides
    shuffle by bucket → SortMergeJoin/ShuffledHashJoin, parallel in the
    number of buckets, no O(|L|·|R|) nested loop.  For a tiny right side
    plain ``F.broadcast`` + theta join is already optimal; this is the
    big×big path.
    """
    lbkt = F.floor(F.col(left_val) / F.lit(width))
    rbkt = F.explode(
        F.sequence(
            F.floor(F.col(lo_col) / F.lit(width)).cast("long"),
            F.floor(F.col(hi_col) / F.lit(width)).cast("long"),
        )
    )
    l = left.withColumn("_bkt", lbkt.cast("long"))
    r = right.withColumn("_bkt", rbkt)
    return (
        l.join(r, "_bkt")
        .where((F.col(left_val) >= F.col(lo_col)) & (F.col(left_val) < F.col(hi_col)))
        .drop("_bkt")
    )


def temperature_mixture(
    df: DataFrame,
    group_col: str,
    alpha: float = 0.3,
    budget: int = 1000,
) -> DataFrame:
    """Temperature-scaled mixture weights for multi-source/multilingual
    sampling (mT5, Xue et al., NAACL 2021 §3.1; XLM-R, Conneau et al.,
    ACL 2020 §3.1): sampling proportionally to corpus share starves
    low-resource groups, uniform sampling overfits them — so sample
    group ``i`` with probability ``q_i ∝ p_i^alpha`` where ``p_i`` is
    its corpus share and ``alpha`` (0.3 here, mT5's final choice) is the
    temperature.

    Returns one row per group:
    ``(group_col, n_docs, p, q, expected_docs, sample_rate)`` where
    ``expected_docs = q * budget`` and ``sample_rate`` is the per-doc
    keep probability (capped at 1.0) that realizes the mixture — feed it
    to :func:`hash_sample` for a deterministic materialization.

    ``p^alpha`` is written as ``exp(alpha * ln(p))`` in BOTH engines so
    the oracle sees bit-identical doubles (the ln/exp portability
    contract every LM-scoring operator here relies on).

    Scale shape: one map-side-combined groupBy to k group rows, then two
    1-row/k-row broadcast totals — the corpus is scanned once and never
    shuffled; output size is k (languages/domains), not n.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    total = counts.agg(F.sum("n_docs").alias("_n_total"))
    q_raw = counts.crossJoin(F.broadcast(total)).select(
        F.col(group_col),
        F.col("n_docs"),
        (F.col("n_docs").cast("double") / F.col("_n_total")).alias("p"),
        F.exp(
            F.lit(float(alpha))
            * F.log(F.col("n_docs").cast("double") / F.col("_n_total"))
        ).alias("_q_raw"),
    )
    z = q_raw.agg(F.sum("_q_raw").alias("_z"))
    return q_raw.crossJoin(F.broadcast(z)).select(
        F.col(group_col),
        F.col("n_docs"),
        F.col("p"),
        (F.col("_q_raw") / F.col("_z")).alias("q"),
        (F.col("_q_raw") / F.col("_z") * F.lit(float(budget))).alias(
            "expected_docs"
        ),
        F.least(
            F.col("_q_raw") / F.col("_z") * F.lit(float(budget))
            / F.col("n_docs"),
            F.lit(1.0),
        ).alias("sample_rate"),
    )


def budget_select(
    df: DataFrame,
    id_col: str,
    score_col: str,
    weight_col: str,
    budget: int,
    bucket_width: float = 0.25,
) -> DataFrame:
    """Token-budget corpus selection: keep the maximal prefix of rows
    ordered by ``(score asc, id asc)`` whose cumulative weight stays
    within ``budget`` — "take the best-scoring documents until the token
    budget is hit", the selection step every fixed-compute pretraining
    run performs after quality scoring (CCNet takes its 'head' this way;
    DSIR resamples to a target token count).

    The naive plan is a single global window (``SUM OVER (ORDER BY
    score)``), which gathers the entire corpus on ONE reducer — the
    canonical scale mistake.  This implementation is the distributed
    prefix-sum instead:

    1. bucket every row by a fixed score grid (``floor(score /
       bucket_width)`` — monotone in score, so buckets partition the
       global order; data-independent, so no sampling pass);
    2. one map-side-combined groupBy reduces the corpus to per-bucket
       weight totals (#buckets = score_range / bucket_width rows — tens
       to thousands, never O(n));
    3. an exclusive prefix sum over that tiny table (single-partition
       window over #buckets rows, documented and bounded) yields each
       bucket's starting offset, broadcast back;
    4. buckets whose offset already exceeds the budget are pruned BEFORE
       any within-bucket work — with a selective budget, most of the
       corpus never reaches a window;
    5. surviving buckets run an exact within-bucket cumulative sum
       (window partitioned BY BUCKET — parallel across buckets, each
       ~n/#buckets rows wide) shifted by the broadcast offset.

    Weights must be positive integers (token counts): positivity makes
    the bucket prune sound, integrality keeps every cumulative sum exact
    in both engines.  Returns the kept rows as ``(id, score, weight,
    cum_<weight_col>)``.
    """
    b = F.floor(F.col(score_col) / F.lit(float(bucket_width))).cast("long")
    w = df.select(
        F.col(id_col),
        F.col(score_col),
        F.col(weight_col).cast("long").alias("_w"),
        b.alias("_bkt"),
    )
    btot = w.groupBy("_bkt").agg(F.sum("_w").alias("_bw"))
    wb = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = btot.select(
        "_bkt", F.coalesce(F.sum("_bw").over(wb), F.lit(0)).alias("_off")
    )
    win = (
        Window.partitionBy("_bkt")
        .orderBy(F.col(score_col).asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        w.join(F.broadcast(offsets), "_bkt")
        .where(F.col("_off") <= F.lit(int(budget)))
        .withColumn("_cum", F.col("_off") + F.sum("_w").over(win))
        .where(F.col("_cum") <= F.lit(int(budget)))
        .select(
            F.col(id_col),
            F.col(score_col),
            F.col("_w").alias(weight_col),
            F.col("_cum").alias(f"cum_{weight_col}"),
        )
    )
