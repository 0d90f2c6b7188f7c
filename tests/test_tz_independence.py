"""Timezone independence of every timestamp-emitting oracle query.

The correctness driver builds its own plain SparkSession, so nothing
guarantees `spark.sql.session.timeZone=UTC` at query time. `events.ts`
is parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) and is deliberately
kept TIMESTAMP_NTZ end-to-end (queries/__init__.py load_views), with
queries restricted to NTZ-safe expressions — so results must be
bit-identical to the DuckDB oracle under ANY session timezone.

This suite re-runs the timestamp-shaped oracle pairs with the session
timezone forced far from UTC, which catches every way an LTZ leak can
re-enter: an unqualified CAST(x AS TIMESTAMP), a DATE_TRUNC over DATE
(session-tz midnight), a NULL literal typed LTZ inside a UNION with an
NTZ branch (coerces the whole column), unix_micros/from_unixtime, …
"""

from __future__ import annotations

import pytest

from tagmarshal_data_lakehouse_spark.queries import registry

from .oracle_harness import run_query_pair

# Every oracle-checked query whose OUTPUT or internal logic touches a
# timestamp/date derived from events.ts or a DATE_TRUNC — the surfaces
# where session-timezone dependence can corrupt values.
TS_QUERIES = [
    "agg_minmax_duration",
    "events_tumbling_window",
    "events_sessionize",
    "events_funnel",
    "events_dedup_exact",
    "events_asof_join",
    "events_time_rollup",
    "events_anomaly_zscore",
    "events_retention_cohorts",
    "scalar_datetime",
    "window_dedup",  # emits raw ts — LTZ coercion anywhere upstream shifts it
    # gold bridge chain (r6): duration_sec diffs two NTZ stamps —
    # TIMESTAMPDIFF over DATE_TRUNC('SECOND') endpoints since the r9
    # NTZ-contract sweep (formerly UNIX_TIMESTAMP subtraction, which
    # made session tz enter and cancel; a DST transition inside a round
    # would have broken the cancellation); round_date/year/weekday and
    # the seasonality bucketing must stay NTZ-pure.
    "gold_fact_rounds",
    "gold_rounds_by_month",
    "gold_rounds_by_weekday",
    # r7 bridge additions: raw NTZ stamps (device log, round/hole
    # start+end), a second UNIX_TIMESTAMP-subtraction duration at hole
    # grain, and dim_course's round-range MIN/MAX stamps.
    "gold_device_health_errors",
    "gold_pace_summary_by_round",
    "gold_hole_performance",
    "gold_dim_course",
    # r8 promotions (the former TS_STAGED block, registered this round):
    # raw NTZ stamps (dim/device/global rollups, the fix-grain
    # projection's timestamps + round windows) and global_time_patterns'
    # HOUR-of-stamp bucketing.
    "gold_dim_round",
    "gold_dim_device",
    "gold_global_overview",
    # r12: the rollup-combine variant emits the same raw NTZ
    # first/last_fix_ts stamps (and its nearest-rank median must not
    # shift under session tz either)
    "gold_global_overview_rollup",
    # r13: the dim_device rollup-combine emits raw NTZ first/last_seen
    # stamps merged through MIN/MAX across course-grain partials
    "gold_dim_device_rollup",
    "gold_global_course_summary",
    "gold_global_time_patterns",
    "gold_fact_telemetry_fix",
    # r8 batch-2 bridge entries: round_progression emits raw NTZ
    # fix_timestamps; hole_duration diffs two NTZ stamps at (round,
    # hole) grain — TIMESTAMPDIFF over DATE_TRUNC'd endpoints since the
    # r09 NTZ-contract fix, so session tz never enters at all.
    "telemetry_round_progression",
    "telemetry_hole_duration",
    # overview_stats emits CAST(event_date AS TIMESTAMP) bounds;
    # events_per_course emits the same date-as-timestamp first/last
    # bounds per course.
    "telemetry_overview_stats",
    "telemetry_events_per_course",
    # course_summary and infrastructure_stats emit date-as-timestamp
    # activity bounds; expl_dataset_variance emits MIN/MAX fix_timestamp
    # per course.
    "telemetry_course_summary",
    "telemetry_infrastructure_stats",
    "telemetry_expl_dataset_variance",
    # ex_events_by_date and missing_ts_sample emit CAST(fix_timestamp AS
    # DATE)-as-timestamp columns; the seasonality/top-3/bottom-3 demos
    # bucket by DATE_TRUNC('month', round_start_ts) via the month model.
    "telemetry_ex_events_by_date",
    "telemetry_missing_ts_sample",
    "telemetry_demo_seasonality_months",
    "telemetry_demo_top3_months",
    "telemetry_demo_bottom3_months",
    # round_sample emits raw per-event NTZ fix_timestamp rows;
    # course_summary_with_profile emits date-as-timestamp activity
    # bounds; round_duration_details emits a date-as-timestamp
    # round_date (CAST(MIN(event_date) AS TIMESTAMP)).
    "telemetry_round_sample",
    "telemetry_course_summary_with_profile",
    "telemetry_round_duration_details",
    # The hopping window emits NTZ window_start stamps derived by field
    # arithmetic — the exact surface this gate exists for.
    "events_hopping_window",
]

# Three adversarial zones, each catching a different leak class:
# - America/New_York: large negative offset + DST, 02:00 transitions —
#   any blanket LTZ render shifts values by hours.
# - America/Asuncion: DST spring-forward at MIDNIGHT, and in Oct 1993-95
#   the gap lands exactly on a month-first inside the TPC-H date range —
#   the one zone where a DATE_TRUNC-via-LTZ detour is NOT the identity
#   (midnight doesn't exist, truncation lands on 01:00).
# - Asia/Kathmandu: +05:45 non-whole-hour offset — hour-bucket routing
#   through LTZ misaligns buckets by 45 minutes.
NON_UTC_ZONES = ["America/New_York", "America/Asuncion", "Asia/Kathmandu"]


@pytest.fixture(scope="module", params=NON_UTC_ZONES)
def tz_shifted_spark(request, spark):
    original = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", request.param)
    try:
        yield spark
    finally:
        spark.conf.set("spark.sql.session.timeZone", original)


@pytest.mark.parametrize("name", TS_QUERIES)
def test_tz_independent(tz_shifted_spark, sf_smoke, name):
    q = registry()[name]
    assert q.oracle is not None, f"{name} must stay oracle-checked"
    tz = tz_shifted_spark.conf.get("spark.sql.session.timeZone")
    problems = run_query_pair(tz_shifted_spark, q, sf_smoke)
    assert not problems, f"{name} under {tz}: {problems[:3]}"


