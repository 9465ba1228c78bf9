"""Measure ANN recall@k vs the brute-force oracle at 1x and 10x data —
the quality half of the 100 TB design claim (VERDICT r5 item 4): a
sublinear wall-time curve means nothing if the probe settings stop
finding the true neighbors as the corpus grows.

For each fixture (sf0.01 = 1x, /tmp/scale10x = 10x — build with
tools/make_scale_fixture.py) this sweeps the probe budget:

- LSH (hyperplane_lsh_topk): n_tables in {8, 16, 32} at the registry's
  n_planes=8 — L independent tables + Hamming-1 multiprobe.
- IVF (ivf_topk): nprobe in {2, 4, 8} at the registry's n_cells=16, and
  the sqrt-n scaling rule (n_cells ~ sqrt(n), nprobe = n_cells/4).

recall@k = mean over queries of |ANN top-k ∩ exact top-k| / k.
Output: one markdown table (paste into SCALING.md) + a JSON line.

Usage: python tools/measure_ann_recall.py [k] [n_queries]
"""

from __future__ import annotations

import json
import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

K = int(sys.argv[1]) if len(sys.argv) > 1 else 10
NQ = int(sys.argv[2]) if len(sys.argv) > 2 else 50

FIXTURES = [
    ("1x (sf0.01)", "/root/testdata/sf0.01"),
    ("10x", "/tmp/scale10x"),
]


def topk_sets(df, query_id="query_id", corpus_id="corpus_id"):
    out = {}
    for r in df.collect():
        out.setdefault(r[query_id], set()).add(r[corpus_id])
    return out


def recall(ann: dict, exact: dict) -> float:
    num, den = 0, 0
    for q, truth in exact.items():
        num += len(ann.get(q, set()) & truth)
        den += len(truth)
    return num / den if den else float("nan")


def main():
    from pyspark.sql import functions as F

    from arrow_ballista_spark.catalog import load_table
    from arrow_ballista_spark.operators import similarity
    from arrow_ballista_spark.operators.caching import release_caches
    from arrow_ballista_spark.operators.ivf import ivf_topk
    from arrow_ballista_spark.session import get_session

    spark = get_session(app_name="ann-recall", shuffle_partitions=32)
    rows = []

    def clustered_emb():
        """Synthetic Gaussian-mixture embeddings (20k x 64d, 100 tight
        clusters) — the REAL-corpus regime IVF is designed for: text/
        image embedding spaces are strongly clustered, unlike the
        isotropic testdata vectors (the worst case for cell pruning)."""
        import numpy as np

        rng = np.random.RandomState(11)
        centers = rng.randn(100, 64)
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        idx = rng.randint(0, 100, 20000)
        X = centers[idx] + 0.25 * rng.randn(20000, 64) / (64 ** 0.5)
        return spark.createDataFrame(
            [(int(i), [float(v) for v in X[i]]) for i in range(len(X))],
            "vec_id long, embedding array<double>",
        ).repartition(32)

    only = os.environ.get("ANN_RECALL_FIXTURES")  # substring filter
    for label, sf_dir in [*FIXTURES, ("clustered-20k (GMM)", "synthetic")]:
        if only and only not in label:
            continue
        if sf_dir == "synthetic":
            emb = clustered_emb()
        elif not os.path.exists(os.path.join(sf_dir, "embeddings.parquet")):
            print(f"skip {label}: {sf_dir} missing", file=sys.stderr)
            continue
        else:
            emb = load_table(spark, sf_dir, "embeddings")
        n = emb.count()
        queries = emb.filter(F.col("vec_id") < NQ).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        corpus = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
        exact = topk_sets(similarity.brute_force_topk(queries, corpus, k=K))
        for n_tables in (8, 16, 32):
            ann = topk_sets(
                similarity.hyperplane_lsh_topk(
                    queries, corpus, k=K, n_planes=8, n_tables=n_tables
                )
            )
            release_caches()
            rows.append(
                {
                    "fixture": label, "n": n, "method": "lsh",
                    "setting": f"planes=8 tables={n_tables}",
                    "recall": round(recall(ann, exact), 3),
                }
            )
            print(rows[-1], flush=True)
        from arrow_ballista_spark.operators.pq import (
            adc_rerank_exact,
            pq_adc_topk,
            train_codebooks,
        )

        ann = topk_sets(
            pq_adc_topk(queries, corpus, k=K, m=8, n_codes=16)
        )
        release_caches()
        rows.append(
            {
                "fixture": label, "n": n, "method": "pq_adc",
                "setting": "m=8 codes=16",
                "recall": round(recall(ann, exact), 3),
            }
        )
        print(rows[-1], flush=True)
        # the ext_sim_topk_pq_trained REGISTRY composition, measured at
        # its exact registry settings (VERDICT r6 item 1 witness):
        # Lloyd-trained m=16x32 codebooks -> ADC top-100 -> exact rerank.
        # Truth for THIS row is exact squared-L2 (the metric the entry
        # ranks by), computed distributed: a full query x corpus
        # shortlist fed through the same exact-distance rerank.
        all_pairs = (
            queries.select("query_id")
            .crossJoin(corpus.select("corpus_id"))
            .filter(F.col("query_id") != F.col("corpus_id"))
        )
        exact_l2 = topk_sets(
            adc_rerank_exact(all_pairs, queries, corpus, k=K)
        )
        release_caches()
        books = train_codebooks(corpus, "corpus_id", "embedding", m=16, k=32)
        sl = pq_adc_topk(
            queries, corpus, k=100, m=16, n_codes=32, books=books
        )
        ann = topk_sets(adc_rerank_exact(sl, queries, corpus, k=K))
        release_caches()
        rows.append(
            {
                "fixture": label, "n": n, "method": "pq_trained_rerank",
                "setting": "m=16 codes=32 R=100 (registry)",
                "recall": round(recall(ann, exact_l2), 3),
            }
        )
        print(rows[-1], flush=True)
        # the DEFAULT library composition (pq_rerank_topk, R=None →
        # adaptive_shortlist_size) — the VERDICT r7 item 3 done-bar:
        # ≥0.95 at 10x and clustered-20k with DEFAULT settings
        from arrow_ballista_spark.operators.pq import (
            adaptive_shortlist_size,
            pq_rerank_topk,
        )

        ann = topk_sets(
            pq_rerank_topk(queries, corpus, k=K, books=books)
        )
        release_caches()
        rows.append(
            {
                "fixture": label, "n": n, "method": "pq_rerank_default",
                "setting": f"m=16 codes=32 R=auto({adaptive_shortlist_size(n, K)})",
                "recall": round(recall(ann, exact_l2), 3),
            }
        )
        print(rows[-1], flush=True)
        # residual IVF-PQ FULL composition at library defaults (VERDICT
        # r8 item 6): trained coarse centroids -> residual ADC shortlist
        # (adaptive R) -> exact rerank top-k, vs exact-L2 truth — the
        # clustered fixture is the regime the composition sells.
        from arrow_ballista_spark.operators.pq import (
            adc_rerank_exact as _rr,
            ivf_pq_residual_topk,
        )

        r_auto = adaptive_shortlist_size(n, K)
        sl = ivf_pq_residual_topk(queries, corpus, k=r_auto)
        ann = topk_sets(_rr(sl, queries, corpus, k=K))
        release_caches()
        rows.append(
            {
                "fixture": label, "n": n,
                "method": "ivfpq_residual_rerank",
                "setting": f"defaults cells=16 nprobe=4 m=16x32"
                           f" R=auto({r_auto})",
                "recall": round(recall(ann, exact_l2), 3),
            }
        )
        print(rows[-1], flush=True)
        sqrt_cells = max(16, int(math.sqrt(n)))
        for n_cells, nprobe in (
            (16, 2), (16, 4), (16, 8),
            (sqrt_cells, max(1, sqrt_cells // 4)),
        ):
            ann = topk_sets(
                ivf_topk(
                    queries, corpus, k=K, n_cells=n_cells, nprobe=nprobe
                )
            )
            release_caches()
            rows.append(
                {
                    "fixture": label, "n": n, "method": "ivf",
                    "setting": f"cells={n_cells} nprobe={nprobe}",
                    "recall": round(recall(ann, exact), 3),
                }
            )
            print(rows[-1], flush=True)

    print("\n| fixture | n | method | setting | recall@%d |" % K)
    print("| --- | --- | --- | --- | --- |")
    for r in rows:
        print(
            f"| {r['fixture']} | {r['n']} | {r['method']} |"
            f" {r['setting']} | {r['recall']} |"
        )
    print(json.dumps({"k": K, "n_queries": NQ, "rows": rows}))


if __name__ == "__main__":
    main()
