"""Every oracle-declared registry query must match DuckDB exactly at
sf0.001 (fast inner loop; the driver checks sf0.01 — same data generator,
so parity here predicts parity there).

Set SPARK_GRAFT_PARITY_SF=/root/testdata/sf0.01 to run at driver scale.
"""

from __future__ import annotations

import os

import pytest

from tagmarshal_data_lakehouse_spark.queries import registry

from .oracle_harness import run_query_pair

from .conftest import TESTDATA

SF_DIR = os.environ.get("SPARK_GRAFT_PARITY_SF", f"{TESTDATA}/sf0.001")

_REGISTRY = registry()
_ORACLE_QUERIES = [name for name, q in _REGISTRY.items() if q.oracle is not None]
_ROWS_ONLY = [name for name, q in _REGISTRY.items() if q.oracle is None]


@pytest.mark.parametrize("name", _ORACLE_QUERIES)
def test_oracle_parity(spark, name):
    # An empty result would be a 0=0 match proving nothing: every entry
    # must return rows here except the few SPARSE_QUERIES, which are
    # pinned non-vacuous at a larger SF below.
    problems = run_query_pair(
        spark, _REGISTRY[name], SF_DIR, require_rows=name not in SPARSE_QUERIES
    )
    assert not problems, f"{name} diverges from oracle: {problems}"


@pytest.mark.parametrize("name", _ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    df = _REGISTRY[name].build(spark, SF_DIR)
    n = df.count()
    assert n >= 0
    assert df.schema.fieldNames()  # stable schema


# Queries whose result is EMPTY at the default parity SF (measured by a
# full sweep): test_oracle_parity exempts them from require_rows, so
# each is pinned instead at the smallest SF where it produces rows.
# A query that later becomes non-empty at sf0.001 stays here harmlessly;
# one that becomes empty at its listed SF fails loudly.
SPARSE_QUERIES = {
    "telemetry_hole_duration": f"{TESTDATA}/sf0.01",  # 1 row
    "tpch_q7": f"{TESTDATA}/sf0.01",  # 4 rows
    "tpch_q11": f"{TESTDATA}/sf0.01",  # 58 rows
    "tpch_q20": f"{TESTDATA}/sf0.01",  # 4 rows
    "tpch_q21": f"{TESTDATA}/sf0.01",  # 3 rows
    "join_anti": f"{TESTDATA}/sf0.1",  # 1 row
    "doc_cross_source_dups": f"{TESTDATA}/sf0.1",  # 7 rows
}


@pytest.mark.parametrize("name", sorted(SPARSE_QUERIES))
def test_sparse_query_parity_is_nonvacuous(spark, name):
    sf_dir = SPARSE_QUERIES[name]
    problems = run_query_pair(spark, _REGISTRY[name], sf_dir, require_rows=True)
    assert not problems, f"{name} at {sf_dir}: {problems}"


def test_load_views_does_not_mutate_caller_conf(spark):
    """load_views must scope NTZ inference to its own reads (parquet
    reader option), never flip the caller session's
    inferTimestampNTZ conf — a session-level set here would silently
    change the inferred type of the caller's own later unadjusted-UTC
    parquet reads."""
    from pyspark.sql.types import TimestampNTZType

    from tagmarshal_data_lakehouse_spark.queries import load_views

    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    original = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        # subset of tables -> a fresh idempotency marker, so the loader
        # actually runs instead of returning early
        load_views(spark, SF_DIR, tables=("events", "orders"))
        assert spark.conf.get(key) == "false", "load_views flipped the session conf"
        # and the view still reads NTZ despite the conf being off
        assert isinstance(
            spark.table("events").schema["ts"].dataType, TimestampNTZType
        )
    finally:
        spark.conf.set(key, original)
        load_views(spark, SF_DIR)  # restore full view set for other tests
