"""Shared fixtures: one SparkSession per test session, a DuckDB oracle
connection with the driver's tables pre-registered as views, and the
compare helper mirroring the driver's protocol (FIXTURES.md §4: sort,
round floats, compare values order-insensitively)."""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pytest

from arrow_ballista_spark.catalog import ALL_TABLES
from arrow_ballista_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_T2 = os.environ.get("SPARK_GRAFT_T2_SF_DIR", "/root/testdata/sf0.01")

# --- driver budget (VERDICT r12 item 1) -----------------------------------
# The long tail (measured via --durations: the BPE trainer walk, the
# heavyweight oracle parametrizations, multi-minute property sweeps)
# carries @pytest.mark.slow at its definition site and is SKIPPED by
# default, so `pytest tests/ -q` stays short (~11 min on a 4-core host).
# SPARK_GRAFT_SLOW_TESTS=1 runs everything.


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: long-running; skipped by default so the default pytest run "
        "finishes inside its budget — opt in with SPARK_GRAFT_SLOW_TESTS=1",
    )


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_SLOW_TESTS") == "1":
        return
    skip = pytest.mark.skip(
        reason="slow tail (driver budget); opt in: SPARK_GRAFT_SLOW_TESTS=1"
    )
    for item in items:
        if item.get_closest_marker("slow") is not None:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_session(app_name="arrow-ballista-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(autouse=True, scope="module")
def _release_operator_caches():
    """Free operator-internal persist()s between test modules (see
    operators/caching.py — the lazy handles can't be freed in-operator)."""
    yield
    from arrow_ballista_spark.operators.caching import release_caches

    release_caches()


def make_oracle(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in ALL_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


@pytest.fixture(scope="session")
def oracle():
    return make_oracle(SF_DIR)


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def assert_same_results(spark_df, oracle_con, sql: str, check_dtypes: bool = False):
    """Order-insensitive value comparison, mirroring the driver's hash gate."""
    sdf = spark_df.toPandas()
    odf = oracle_con.execute(sql).df()
    assert sorted(sdf.columns) == sorted(odf.columns), (
        f"column mismatch: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
    )
    assert len(sdf) == len(odf), f"row count: spark={len(sdf)} oracle={len(odf)}"
    sn, on = _normalize(sdf), _normalize(odf)
    for c in sn.columns:
        sv, ov = sn[c], on[c]
        if pd.api.types.is_float_dtype(sv) and pd.api.types.is_float_dtype(ov):
            ok = np.isclose(
                sv.astype(float), ov.astype(float), rtol=1e-9, atol=1e-6, equal_nan=True
            ).all()
        else:
            ok = (sv.astype(str) == ov.astype(str)).all()
        assert ok, f"value mismatch in column {c}:\nspark:\n{sv.head(10)}\noracle:\n{ov.head(10)}"
    return len(sdf)
