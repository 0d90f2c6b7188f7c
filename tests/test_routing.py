"""The cost router's plan choices, pinned on both sides of every
measured threshold.  `spark.range(n)` gives Catalyst an exact row
count (zero jobs); a createDataFrame frame has unknown statistics, and
so does a mapInPandas over it; a parquet file is estimated from its
size on disk, and a mapInPandas over it carries that estimate."""

from __future__ import annotations

import pytest

from tagmarshal_data_lakehouse_spark import routing


def _unknown(spark):
    return spark.createDataFrame([(1,)], "x long")


def _mapped(df):
    return df.mapInPandas(lambda batches: batches, df.schema)


def _small_parquet(spark, tmp_path):
    path = tmp_path / "small_parquet"
    if not path.exists():
        frame = spark.range(2_000).selectExpr("id", "array(cast(id AS float)) AS embedding")
        frame.write.parquet(str(path))
    return spark.read.parquet(str(path))


_CASES = [
    # the row estimate itself: Range carries an exact rowCount
    ("rows_known", lambda s, p: routing.estimated_rows(s.range(8_192)) == 8_192, True),
    ("rows_unknown", lambda s, p: routing.estimated_rows(_unknown(s)) is None, True),
    ("rows_map_in_pandas", lambda s, p: routing.estimated_rows(_mapped(_unknown(s))) is None, True),
    # a small file is known, not unknown, and stays below the crossover
    ("rows_small_parquet", lambda s, p: routing.estimated_rows(_small_parquet(s, p)) > 0, True),
    (
        "rows_map_in_pandas_over_parquet",
        lambda s, p: routing.estimated_rows(_mapped(_small_parquet(s, p)))
        == routing.estimated_rows(_small_parquet(s, p)),
        True,
    ),
    (
        "assign_small_parquet",
        lambda s, p: routing.gemm_for_assignment(_small_parquet(s, p), 640),
        False,
    ),
    # assignment: below 256 steps/row the expression wins at any size
    ("assign_fold_255", lambda s, p: routing.gemm_for_assignment(s.range(10**9), 255), False),
    # 256 steps/row: 7812 rows = 1,999,872 total steps < 2M; 7813 rows >= 2M
    ("assign_total_below", lambda s, p: routing.gemm_for_assignment(s.range(7_812), 256), False),
    ("assign_total_at", lambda s, p: routing.gemm_for_assignment(s.range(7_813), 256), True),
    ("assign_unknown", lambda s, p: routing.gemm_for_assignment(_unknown(s), 10**6), False),
    # near-dup pair scoring: GEMM from 50 candidate pairs per vector
    ("pairs_49_9", lambda s, p: routing.gemm_for_pair_scoring(49.9), False),
    ("pairs_50", lambda s, p: routing.gemm_for_pair_scoring(50.0), True),
]


@pytest.mark.parametrize(
    "decide, want", [pytest.param(d, w, id=i) for i, d, w in _CASES]
)
def test_router_decisions(spark, tmp_path, decide, want):
    assert decide(spark, tmp_path) is want
