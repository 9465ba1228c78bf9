"""Driver-built tables and LSH band keys stay in the JVM.

Every table the engine computes on the driver goes through
``types.local_frame`` and plans as an in-JVM ``LocalRelation``, never a
``LogicalRDD`` over pickled rows (which forks a Python worker for every
consumer).  The LSH band keys are one parsed SQL expression; their
values are pinned bit for bit so stored LSH indexes stay compatible."""

from __future__ import annotations

import ast
import pathlib

import pytest

from arrow_ballista_spark.queries import load_all
from arrow_ballista_spark.types import local_frame
from tests import jvm_forms
from tests.conftest import SF_DIR

REG = load_all()
PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "arrow_ballista_spark"


def _assert_local_relation(df):
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" in plan, plan
    assert "LogicalRDD" not in plan, plan


# --- band keys -------------------------------------------------------------

# band keys of four signature inputs (num_perm=16, 4 rows per band), as
# computed when the keys were still built as a tree of Column calls: a
# change here re-keys every stored LSH index (dedup.incremental_dedup)
_GOLDEN_BAND_KEYS = {
    0: [3072911109003452011, 368834272821643299,
        6149403297652806293, 6978628859899156936],
    1: [-7665462299818023239, 8462856127823058481,
        -4168643400980810993, -3709495843038427623],
    # empty base-hash array and NULL array: both sign to NULL, and NULL
    # signature values band to the same keys in both layouts
    2: [3614696996920510707, -6698625589789238999,
        8420071140774656230, 6258084186791473711],
    3: [3614696996920510707, -6698625589789238999,
        8420071140774656230, 6258084186791473711],
}


def test_band_keys_golden_pin(spark):
    from arrow_ballista_spark.operators import dedup

    num_perm, rpb = 16, 4
    hashes = spark.createDataFrame(
        [
            (0, [1, 2, 3]),
            (1, [5, 1000003, 2147483000, 77]),
            (2, []),
            (3, None),
        ],
        "doc_id long, hashes array<long>",
    )
    col_form = hashes.select(
        "doc_id", *jvm_forms.minhash_signature("hashes", num_perm)
    ).select("doc_id", jvm_forms.band_hash_array(num_perm, rpb).alias("b"))
    arr_form = dedup.minhash_sigs_arrow(
        hashes, "doc_id", "hashes", num_perm
    ).select(
        "doc_id", dedup.band_hash_array_from_sig("mh", num_perm, rpb).alias("b")
    )
    for frame in (col_form, arr_form):
        assert {r.doc_id: list(r.b) for r in frame.collect()} == (
            _GOLDEN_BAND_KEYS
        )


# --- the helper -------------------------------------------------------------


def test_local_frame_keeps_nulls_and_empty(spark):
    rows = [
        (1, "a", [1.5, None], None),
        (None, None, None, 2**40),
        (3, "", [], -1),
    ]
    schema = "k int, s string, v array<double>, n bigint"
    df = local_frame(spark, rows, schema)
    _assert_local_relation(df)
    assert [tuple(r) for r in df.collect()] == rows
    empty = local_frame(spark, [], schema)
    _assert_local_relation(empty)
    assert empty.collect() == []
    assert empty.schema == df.schema


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([(2**40,)], "x int"),  # overflows the column type
        ([("seven",)], "x bigint"),  # wrong Python type
        ([(1,)], "k long, x string"),  # row shorter than the schema
    ],
)
def test_local_frame_rejects_unfit_value(spark, rows, schema):
    with pytest.raises(ValueError, match=r"driver table column 'x'"):
        local_frame(spark, rows, schema)


# --- the guard ---------------------------------------------------------------


def test_no_python_row_create_dataframe_in_engine():
    """``createDataFrame(<list | comprehension | generator>)`` plans a
    LogicalRDD; engine code must build driver tables via local_frame."""
    row_args = (ast.List, ast.ListComp, ast.GeneratorExp)
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and node.args
                and isinstance(node.args[0], row_args)
            ):
                offenders.append(f"{path.relative_to(PACKAGE)}:{node.lineno}")
    assert offenders == []


def _cc_driver_labels(spark):
    from arrow_ballista_spark.operators.dedup import connected_components

    pairs = spark.range(0, 20).selectExpr("id AS id_a", "id + 1 AS id_b")
    stats: dict = {}
    out = connected_components(pairs, stats=stats)
    assert stats["driver_union_find"] is True
    return out


def _pack_offsets(spark):
    from arrow_ballista_spark.operators.corpus import pack_shards

    df = spark.range(0, 300).selectExpr("id AS doc_id", "(id % 7) + 1 AS n_tok")
    return pack_shards(df, "doc_id", "n_tok", budget=100, n_buckets=10)


def _bpe_docs(spark):
    return spark.range(0, 40).selectExpr(
        "id AS doc_id", "concat('low lower ', id % 3, ' newest widest') AS text"
    )


def _bpe_merges(spark):
    from arrow_ballista_spark.operators.text import bpe_train_merges

    return bpe_train_merges(_bpe_docs(spark), "text", 3)


def _bpe_rep(spark):
    from arrow_ballista_spark.operators.text import _bpe_train

    return _bpe_train(_bpe_docs(spark), "text", 3)[1]


def _registry(name):
    return lambda spark: REG[name].spark(spark, SF_DIR)


_SITES = {
    "cc_driver_labels": _cc_driver_labels,
    "pack_shards_offsets": _pack_offsets,
    "bpe_merges": _bpe_merges,
    "bpe_rep_rows": _bpe_rep,
    "count_min_probes": _registry("ext_sketch_count_min"),
    "values_inline": _registry("values_inline"),
    "stream_probes_and_register": _registry("ext_stream_sketch_counts"),
}


@pytest.mark.parametrize("site", sorted(_SITES))
def test_driver_frames_plan_as_local_relation(spark, site):
    _assert_local_relation(_SITES[site](spark))


def test_checksum_sink_frame_plans_as_local_relation(
    spark, tmp_path, monkeypatch
):
    from arrow_ballista_spark.streaming import pipeline as st

    monkeypatch.setenv("SPARK_GRAFT_STREAM_CHECKSUM_SINK", "1")
    monkeypatch.setattr(st, "CHECKSUM_SINK_OPT_IN", True)
    monkeypatch.setattr(st, "CHECKSUM_SINK_RESULTS", [])
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, f"u{i % 3}") for i in range(30)], "id long, user string"
    ).repartition(2).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(
        src
    )
    out = st.run_available_now(stream.groupBy("user").count(), "complete")
    assert out.count() == 0
    _assert_local_relation(out)
