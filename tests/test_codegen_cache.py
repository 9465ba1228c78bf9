"""The engine session keeps its whole-stage-codegen classes across warm
operations: ``session.CODEGEN_CACHE_MAX_ENTRIES`` sizes Spark's
``CodeGenerator`` cache above the working set, so a repeated operation
compiles nothing.  At Spark's stock 100 entries the five ``llm_pipeline``
entries (about 130 classes per sweep) evicted each other and every warm
sweep compiled ~110 classes again.  Compile counts do not depend on the
host's speed, so this pins the warm path where timings cannot."""

from __future__ import annotations

import time

from arrow_ballista_spark.monitoring import codegen_compilations
from arrow_ballista_spark.session import CODEGEN_CACHE_MAX_ENTRIES
from tests.conftest import SF_DIR

# the operations of perfbench's llm_pipeline workload
LLM_PIPELINE = (
    "ext_dedup_clusters",
    "ext_dedup_editdist",
    "ext_multimodal_jpeg_stats",
    "ext_shard_pack",
    "ext_merge_upsert",
)


def test_session_sets_codegen_cache_cap(spark):
    got = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    assert int(got) == CODEGEN_CACHE_MAX_ENTRIES


def test_third_llm_pipeline_pass_compiles_nothing(spark):
    """Collect the five entries in passes; from the third on, a pass must
    be served entirely from the codegen cache.  Up to two more passes
    are allowed to get there: AQE can number a query's codegen stages
    differently from run to run, and the number is part of the class
    source, so a rare run still compiles a few renumbered classes (seen
    once: 4 in ext_dedup_editdist's third pass).  At Spark's stock cap
    every warm pass compiles ~100."""
    from arrow_ballista_spark.operators.caching import release_caches
    from arrow_ballista_spark.queries import load_all

    reg = load_all()
    compiled = []
    while len(compiled) < 5 and (len(compiled) < 3 or any(compiled[-1].values())):
        per_entry = {}
        for name in LLM_PIPELINE:
            before = codegen_compilations(spark)
            reg[name].spark(spark, SF_DIR).collect()
            release_caches()
            per_entry[name] = codegen_compilations(spark) - before
        compiled.append(per_entry)
    assert compiled[-1] == dict.fromkeys(LLM_PIPELINE, 0), compiled
    # the counter counts: a literal no earlier query used compiles a class
    before = codegen_compilations(spark)
    spark.range(2).selectExpr(f"id + {time.time_ns()} AS v").collect()
    assert codegen_compilations(spark) > before
