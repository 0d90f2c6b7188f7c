"""The cost router's plan choices, pinned on both sides of every
measured threshold.  `spark.range(n)` gives Catalyst an exact row
count (zero jobs); a createDataFrame frame has unknown statistics."""

from __future__ import annotations

import pytest

from tagmarshal_data_lakehouse_spark import routing


def _unknown(spark):
    return spark.createDataFrame([(1,)], "x long")


_CASES = [
    # the row estimate itself: Range carries an exact rowCount
    ("rows_known", lambda s: routing.estimated_rows(s.range(8_192)) == 8_192, True),
    ("rows_unknown", lambda s: routing.estimated_rows(_unknown(s)) is None, True),
    # assignment: below 256 steps/row the expression wins at any size
    ("assign_fold_255", lambda s: routing.gemm_for_assignment(s.range(10**9), 255), False),
    # 256 steps/row: 7812 rows = 1,999,872 total steps < 2M; 7813 rows >= 2M
    ("assign_total_below", lambda s: routing.gemm_for_assignment(s.range(7_812), 256), False),
    ("assign_total_at", lambda s: routing.gemm_for_assignment(s.range(7_813), 256), True),
    ("assign_unknown", lambda s: routing.gemm_for_assignment(_unknown(s), 10**6), False),
    # hyperplane buckets: GEMM from 8192 estimated rows
    ("buckets_8191", lambda s: routing.gemm_for_buckets(s.range(8_191)), False),
    ("buckets_8192", lambda s: routing.gemm_for_buckets(s.range(8_192)), True),
    ("buckets_unknown", lambda s: routing.gemm_for_buckets(_unknown(s)), False),
    # near-dup pair scoring: GEMM from 50 candidate pairs per vector
    ("pairs_49_9", lambda s: routing.gemm_for_pair_scoring(49.9), False),
    ("pairs_50", lambda s: routing.gemm_for_pair_scoring(50.0), True),
]


@pytest.mark.parametrize(
    "decide, want", [pytest.param(d, w, id=i) for i, d, w in _CASES]
)
def test_router_decisions(spark, decide, want):
    assert decide(spark) is want
