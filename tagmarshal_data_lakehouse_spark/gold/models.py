"""The 20 gold/silver-normalized models, Trino dbt -> Spark SQL.

Dialect conversions applied throughout (SURVEY §7.4 traps 1-2):
- DATE_DIFF('second', a, b)      -> unix epoch subtraction
- day_of_week (Trino, 1=Mon)     -> ((dayofweek(ts)+5)%7)+1
- FORMAT_DATETIME(ts, fmt)       -> date_format(ts, fmt)
- APPROX_PERCENTILE(x, p)        -> percentile_approx(x, p)
- ARRAY_AGG / ARRAY_SORT / ARRAY_DISTINCT / CARDINALITY
                                 -> collect_list / sort_array / array_distinct / size
- AT TIME ZONE 'UTC'             -> no-op (session timezone is UTC)
- CAST(x AS VARCHAR)             -> CAST(x AS STRING)
- AVG(double metric)             -> exact_avg(...): decimal SUM / COUNT, so the
                                    value does not depend on how the fact is
                                    partitioned (full build == incremental)

Source citations are per model.  Models read these temp views:
`fact_telemetry_event`, `dim_facility_topology`, and each other by name.
The two corpus-global models (global_overview, dim_device) are their
`combine` over the per-course partials of gold/rollups.py, inlined as
CTEs; global_overview's median is the exact nearest-rank value.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..queries.telemetry import exact_avg
from .rollups import refresh_rollups, with_partials

ISO_DOW = "(((DAYOFWEEK({ts}) + 5) % 7) + 1)"


@dataclass(frozen=True)
class Model:
    name: str
    sql: str
    deps: tuple[str, ...] = ()
    doc: str = ""
    # Corpus-global models only: the SELECT over the rollup partials
    # (gold/rollups.py) that `sql` wraps with the partials as CTEs.
    combine: str = ""


def _global_model(name: str, doc: str, combine: str) -> Model:
    return Model(
        name=name,
        deps=("fact_telemetry_event",),
        doc=doc,
        sql=with_partials(combine),
        combine=combine,
    )


# ---------------------------------------------------------------------------
# gold.fact_rounds — reference pipeline/gold/models/gold/fact_rounds.sql
# ---------------------------------------------------------------------------
FACT_ROUNDS = Model(
    name="fact_rounds",
    deps=("fact_telemetry_event",),
    doc="Canonical round-grain fact (reference fact_rounds.sql:1-119).",
    sql=f"""
WITH base AS (
    SELECT * FROM fact_telemetry_event WHERE is_location_padding = FALSE
),
round_rollup AS (
    SELECT
        course_id, round_id,
        MIN(fix_timestamp) AS round_start_ts,
        MAX(fix_timestamp) AS round_end_ts,
        TIMESTAMPDIFF(SECOND, DATE_TRUNC('SECOND', MIN(fix_timestamp)),
                      DATE_TRUNC('SECOND', MAX(fix_timestamp))) AS duration_sec,
        COUNT(*) AS fix_count,
        SUM(CASE WHEN is_timestamp_missing THEN 1 ELSE 0 END) AS ts_missing_fix_count,
        COUNT(DISTINCT hole_number) AS holes_played,
        COUNT(DISTINCT nine_number) AS nines_played,
        MIN(section_number) AS min_section_number,
        MAX(section_number) AS max_section_number,
        MIN(CASE WHEN hole_section = 1 THEN section_number END) AS first_tee_section_number,
        MAX(start_hole) AS start_hole,
        MAX(start_section) AS start_section,
        MAX(end_section) AS end_section,
        BOOL_OR(COALESCE(is_nine_hole, FALSE)) AS is_nine_hole,
        BOOL_OR(COALESCE(is_complete, FALSE)) AS is_complete,
        {exact_avg("pace")} AS avg_pace_sec,
        MAX(pace) AS max_pace_sec,
        {exact_avg("pace_gap")} AS avg_pace_gap_sec,
        {exact_avg("positional_gap")} AS avg_positional_gap,
        SUM(CASE WHEN is_projected THEN 1 ELSE 0 END) AS projected_fix_count,
        SUM(CASE WHEN is_problem THEN 1 ELSE 0 END) AS problem_fix_count,
        MIN(battery_percentage) AS min_battery_pct,
        {exact_avg("battery_percentage")} AS avg_battery_pct,
        SUM(CASE WHEN battery_percentage < 20 THEN 1 ELSE 0 END) AS low_battery_fix_count,
        SUM(CASE WHEN battery_percentage < 10 THEN 1 ELSE 0 END) AS critical_battery_fix_count,
        SUM(CASE WHEN is_cache THEN 1 ELSE 0 END) AS cached_fix_count
    FROM base
    GROUP BY course_id, round_id
)
SELECT
    r.*,
    ROUND(CAST(duration_sec AS DOUBLE) / 60.0, 1) AS round_duration_minutes,
    CAST(projected_fix_count AS DOUBLE) / NULLIF(fix_count, 0) AS projected_rate,
    CAST(problem_fix_count AS DOUBLE) / NULLIF(fix_count, 0) AS problem_rate,
    CAST(cached_fix_count AS DOUBLE) / NULLIF(fix_count, 0) AS cached_rate,
    CAST(ts_missing_fix_count AS DOUBLE) / NULLIF(fix_count, 0) AS ts_missing_rate,
    CASE
        WHEN nines_played >= 3 OR max_section_number > 54 THEN '27'
        WHEN nines_played = 2 OR max_section_number > 27 THEN '18'
        WHEN nines_played = 1 THEN '9'
        ELSE 'unknown'
    END AS round_length,
    CAST(round_start_ts AS DATE) AS round_date,
    YEAR(round_start_ts) AS round_year,
    MONTH(round_start_ts) AS round_month,
    DAY(round_start_ts) AS round_day,
    {ISO_DOW.format(ts="round_start_ts")} AS round_weekday
FROM round_rollup r
""",
)

PACE_SUMMARY_BY_ROUND = Model(
    name="pace_summary_by_round",
    deps=("fact_rounds",),
    doc="Thin pace projection of fact_rounds (reference pace_summary_by_round.sql).",
    sql="""
SELECT course_id, round_id, round_start_ts, round_end_ts, fix_count,
       avg_pace_sec AS avg_pace,
       avg_pace_gap_sec AS avg_pace_gap,
       avg_positional_gap AS avg_positional_gap
FROM fact_rounds
""",
)

SIGNAL_QUALITY_ROUNDS = Model(
    name="signal_quality_rounds",
    deps=("fact_rounds",),
    doc="Signal-quality projection (reference signal_quality_rounds.sql).",
    sql="""
SELECT course_id, round_id, fix_count, projected_fix_count, problem_fix_count,
       projected_rate, problem_rate
FROM fact_rounds
""",
)

COURSE_ROUNDS_BY_MONTH = Model(
    name="course_rounds_by_month",
    deps=("fact_rounds",),
    doc="Monthly seasonality incl. explicit unknown-timestamp bucket "
    "(reference course_rounds_by_month.sql).",
    sql="""
WITH rounds_with_month_keys AS (
    SELECT course_id, round_id,
           CASE WHEN round_start_ts IS NULL THEN DATE '1900-01-01'
                ELSE CAST(DATE_TRUNC('month', round_start_ts) AS DATE) END AS month_start,
           CASE WHEN round_start_ts IS NULL THEN 0
                ELSE MONTH(round_start_ts) END AS month_number,
           CASE WHEN round_start_ts IS NULL THEN 'Unknown (missing timestamp)'
                ELSE DATE_FORMAT(round_start_ts, 'MMMM') END AS month_name
    FROM fact_rounds
),
monthly_rounds AS (
    SELECT course_id, month_start, month_number, month_name,
           COUNT(DISTINCT round_id) AS rounds
    FROM rounds_with_month_keys
    GROUP BY course_id, month_start, month_number, month_name
),
total_rounds_per_course AS (
    SELECT course_id, SUM(rounds) AS total_rounds
    FROM monthly_rounds GROUP BY course_id
)
SELECT mr.course_id, mr.month_start, mr.month_number, mr.month_name, mr.rounds,
       ROUND(CAST(mr.rounds AS DOUBLE) / tr.total_rounds * 100, 2) AS pct_total
FROM monthly_rounds mr
JOIN total_rounds_per_course tr ON mr.course_id = tr.course_id
""",
)

COURSE_ROUNDS_BY_WEEKDAY = Model(
    name="course_rounds_by_weekday",
    deps=("fact_rounds",),
    doc="Weekday seasonality; ISO 1=Mon like Trino day_of_week "
    "(reference course_rounds_by_weekday.sql).",
    sql=f"""
SELECT course_id,
       CASE WHEN round_start_ts IS NULL THEN 0
            ELSE {ISO_DOW.format(ts="round_start_ts")} END AS weekday_number,
       CASE WHEN round_start_ts IS NULL THEN 'Unknown (missing timestamp)'
            ELSE DATE_FORMAT(round_start_ts, 'EEEE') END AS weekday_name,
       COUNT(*) AS rounds
FROM fact_rounds
GROUP BY course_id,
       CASE WHEN round_start_ts IS NULL THEN 0
            ELSE {ISO_DOW.format(ts="round_start_ts")} END,
       CASE WHEN round_start_ts IS NULL THEN 'Unknown (missing timestamp)'
            ELSE DATE_FORMAT(round_start_ts, 'EEEE') END
""",
)

COURSE_START_HOLE_DISTRIBUTION = Model(
    name="course_start_hole_distribution",
    deps=("fact_rounds",),
    doc="Shotgun-start analysis (reference course_start_hole_distribution.sql).",
    sql="""
WITH rounds AS (
    SELECT course_id, round_id, start_hole, start_section, min_section_number,
           first_tee_section_number, is_complete
    FROM fact_rounds WHERE start_hole IS NOT NULL
),
start_stats AS (
    SELECT course_id, start_hole,
           COUNT(*) AS rounds_with_this_start,
           SUM(CASE WHEN is_complete THEN 1 ELSE 0 END) AS complete_rounds_with_this_start,
           MIN(min_section_number) AS min_min_section_number,
           MAX(min_section_number) AS max_min_section_number,
           MIN(start_section) AS min_start_section,
           MAX(start_section) AS max_start_section,
           MIN(first_tee_section_number) AS min_first_tee_section_number,
           MAX(first_tee_section_number) AS max_first_tee_section_number
    FROM rounds GROUP BY course_id, start_hole
),
course_totals AS (
    SELECT course_id,
           SUM(rounds_with_this_start) AS total_rounds,
           SUM(complete_rounds_with_this_start) AS total_complete_rounds,
           COUNT(DISTINCT start_hole) AS distinct_start_holes
    FROM start_stats GROUP BY course_id
)
SELECT s.course_id, s.start_hole, s.rounds_with_this_start,
       s.complete_rounds_with_this_start, t.total_rounds, t.total_complete_rounds,
       t.distinct_start_holes,
       ROUND(100.0 * s.rounds_with_this_start / NULLIF(t.total_rounds, 0), 2) AS pct_rounds_with_this_start,
       ROUND(100.0 * s.complete_rounds_with_this_start / NULLIF(t.total_complete_rounds, 0), 2) AS pct_complete_rounds_with_this_start,
       s.min_min_section_number, s.max_min_section_number,
       s.min_start_section, s.max_start_section,
       s.min_first_tee_section_number, s.max_first_tee_section_number
FROM start_stats s
JOIN course_totals t ON s.course_id = t.course_id
""",
)

_PCT = "ROUND(100.0 * {num} / NULLIF(total_events, 0), 2)"
_CPCT = "COALESCE(100.0 * {num} / NULLIF(total_events, 0), 0)"

DATA_QUALITY_OVERVIEW = Model(
    name="data_quality_overview",
    deps=("fact_telemetry_event",),
    doc="Per-course null audit + tier scores (reference data_quality_overview.sql).",
    sql=f"""
WITH base AS (
    SELECT * FROM fact_telemetry_event WHERE is_location_padding = FALSE
),
course_stats AS (
    SELECT course_id,
        COUNT(*) AS total_events,
        COUNT(DISTINCT round_id) AS total_rounds,
        SUM(CASE WHEN pace IS NULL THEN 1 ELSE 0 END) AS null_pace,
        SUM(CASE WHEN pace_gap IS NULL THEN 1 ELSE 0 END) AS null_pace_gap,
        SUM(CASE WHEN positional_gap IS NULL THEN 1 ELSE 0 END) AS null_positional_gap,
        SUM(CASE WHEN goal_time IS NULL THEN 1 ELSE 0 END) AS null_goal_time,
        SUM(CASE WHEN latitude IS NULL OR longitude IS NULL THEN 1 ELSE 0 END) AS null_coordinates,
        SUM(CASE WHEN fix_timestamp IS NULL THEN 1 ELSE 0 END) AS null_fix_timestamp,
        SUM(CASE WHEN hole_number IS NULL THEN 1 ELSE 0 END) AS null_hole_number,
        SUM(CASE WHEN section_number IS NULL THEN 1 ELSE 0 END) AS null_section_number,
        SUM(CASE WHEN hole_section IS NULL THEN 1 ELSE 0 END) AS null_hole_section,
        SUM(CASE WHEN nine_number IS NULL THEN 1 ELSE 0 END) AS null_nine_number,
        SUM(CASE WHEN current_nine IS NULL THEN 1 ELSE 0 END) AS null_current_nine,
        SUM(CASE WHEN battery_percentage IS NULL THEN 1 ELSE 0 END) AS null_battery,
        SUM(CASE WHEN is_cache IS NULL THEN 1 ELSE 0 END) AS null_is_cache,
        SUM(CASE WHEN is_projected IS NULL THEN 1 ELSE 0 END) AS null_is_projected,
        SUM(CASE WHEN is_problem IS NULL THEN 1 ELSE 0 END) AS null_is_problem,
        SUM(CASE WHEN is_timestamp_missing = TRUE THEN 1 ELSE 0 END) AS timestamp_missing_flag,
        SUM(CASE WHEN start_hole IS NULL THEN 1 ELSE 0 END) AS null_start_hole,
        SUM(CASE WHEN start_section IS NULL THEN 1 ELSE 0 END) AS null_start_section,
        SUM(CASE WHEN end_section IS NULL THEN 1 ELSE 0 END) AS null_end_section,
        SUM(CASE WHEN is_nine_hole IS NULL THEN 1 ELSE 0 END) AS null_is_nine_hole,
        SUM(CASE WHEN is_complete IS NULL THEN 1 ELSE 0 END) AS null_is_complete,
        SUM(CASE WHEN battery_percentage < 20 THEN 1 ELSE 0 END) AS low_battery_events,
        SUM(CASE WHEN is_problem = TRUE THEN 1 ELSE 0 END) AS problem_events
    FROM base GROUP BY course_id
),
final AS (
SELECT course_id, total_events, total_rounds,
    {_PCT.format(num="null_pace")} AS pct_missing_pace,
    {_PCT.format(num="null_pace_gap")} AS pct_missing_pace_gap,
    {_PCT.format(num="null_positional_gap")} AS pct_missing_positional_gap,
    {_PCT.format(num="null_goal_time")} AS pct_missing_goal_time,
    {_PCT.format(num="null_coordinates")} AS pct_missing_coordinates,
    {_PCT.format(num="null_fix_timestamp")} AS pct_missing_fix_timestamp,
    {_PCT.format(num="null_hole_number")} AS pct_missing_hole_number,
    {_PCT.format(num="null_section_number")} AS pct_missing_section_number,
    {_PCT.format(num="null_hole_section")} AS pct_missing_hole_section,
    {_PCT.format(num="null_nine_number")} AS pct_missing_nine_number,
    {_PCT.format(num="null_current_nine")} AS pct_missing_current_nine,
    {_PCT.format(num="null_battery")} AS pct_missing_battery,
    {_PCT.format(num="null_is_cache")} AS pct_missing_is_cache,
    {_PCT.format(num="null_is_projected")} AS pct_missing_is_projected,
    {_PCT.format(num="null_is_problem")} AS pct_missing_is_problem,
    {_PCT.format(num="timestamp_missing_flag")} AS pct_timestamp_missing_flag,
    {_PCT.format(num="null_start_hole")} AS pct_missing_start_hole,
    {_PCT.format(num="null_start_section")} AS pct_missing_start_section,
    {_PCT.format(num="null_end_section")} AS pct_missing_end_section,
    {_PCT.format(num="null_is_nine_hole")} AS pct_missing_is_nine_hole,
    {_PCT.format(num="null_is_complete")} AS pct_missing_is_complete,
    ROUND(100 - (({_CPCT.format(num="null_pace")} + {_CPCT.format(num="null_pace_gap")} +
         {_CPCT.format(num="null_positional_gap")} + {_CPCT.format(num="null_goal_time")}) / 4), 1) AS score_tier_1_pace,
    ROUND(100 - (({_CPCT.format(num="null_coordinates")} + {_CPCT.format(num="null_fix_timestamp")} +
         {_CPCT.format(num="null_hole_number")} + {_CPCT.format(num="null_section_number")}) / 4), 1) AS score_tier_2_location,
    ROUND(100 - (({_CPCT.format(num="null_battery")} + {_CPCT.format(num="null_is_cache")} +
         {_CPCT.format(num="timestamp_missing_flag")}) / 3), 1) AS score_tier_3_device,
    ROUND(100 - (({_CPCT.format(num="null_start_hole")} + {_CPCT.format(num="null_is_nine_hole")} +
         {_CPCT.format(num="null_is_complete")}) / 3), 1) AS score_tier_4_config,
    ROUND((
      (100 - (({_CPCT.format(num="null_pace")} + {_CPCT.format(num="null_pace_gap")} + {_CPCT.format(num="null_positional_gap")} + {_CPCT.format(num="null_goal_time")}) / 4)) +
      (100 - (({_CPCT.format(num="null_coordinates")} + {_CPCT.format(num="null_fix_timestamp")} + {_CPCT.format(num="null_hole_number")} + {_CPCT.format(num="null_section_number")}) / 4)) +
      (100 - (({_CPCT.format(num="null_battery")} + {_CPCT.format(num="null_is_cache")} + {_CPCT.format(num="timestamp_missing_flag")}) / 3)) +
      (100 - (({_CPCT.format(num="null_start_hole")} + {_CPCT.format(num="null_is_nine_hole")} + {_CPCT.format(num="null_is_complete")}) / 3))
    ) / 4, 1) AS data_quality_score,
    low_battery_events, problem_events
FROM course_stats
)
SELECT final.*, data_quality_score AS overall_quality_score FROM final
""",
)

CRITICAL_COLUMN_GAPS = Model(
    name="critical_column_gaps",
    deps=("fact_telemetry_event",),
    doc="Tiered null-gap analysis + 40/30/20/10 usability score + "
    "actionable statuses (reference critical_column_gaps.sql).",
    sql="""
WITH column_analysis AS (
    SELECT course_id,
        COUNT(*) AS total_events,
        COUNT(DISTINCT round_id) AS total_rounds,
        SUM(CASE WHEN pace IS NULL THEN 1 ELSE 0 END) AS t1_null_pace,
        SUM(CASE WHEN pace_gap IS NULL THEN 1 ELSE 0 END) AS t1_null_pace_gap,
        SUM(CASE WHEN positional_gap IS NULL THEN 1 ELSE 0 END) AS t1_null_positional_gap,
        SUM(CASE WHEN hole_number IS NULL THEN 1 ELSE 0 END) AS t2_null_hole,
        SUM(CASE WHEN section_number IS NULL THEN 1 ELSE 0 END) AS t2_null_section,
        SUM(CASE WHEN latitude IS NULL THEN 1 ELSE 0 END) AS t2_null_lat,
        SUM(CASE WHEN fix_timestamp IS NULL THEN 1 ELSE 0 END) AS t2_null_timestamp,
        SUM(CASE WHEN battery_percentage IS NULL THEN 1 ELSE 0 END) AS t3_null_battery,
        SUM(CASE WHEN is_projected IS NULL THEN 1 ELSE 0 END) AS t3_null_projected,
        SUM(CASE WHEN start_hole IS NULL THEN 1 ELSE 0 END) AS t4_null_start_hole,
        SUM(CASE WHEN goal_time IS NULL THEN 1 ELSE 0 END) AS t4_null_goal_time
    FROM fact_telemetry_event
    WHERE is_location_padding = FALSE
    GROUP BY course_id
),
percentages AS (
    SELECT *,
        100.0 * t1_null_pace / total_events AS pct_null_pace_raw,
        100.0 * t1_null_pace_gap / total_events AS pct_null_pace_gap_raw,
        100.0 * t1_null_positional_gap / total_events AS pct_null_positional_gap_raw,
        GREATEST(100.0 * t1_null_pace / total_events,
                 100.0 * t1_null_pace_gap / total_events) AS pct_null_pace_worst,
        100.0 * t2_null_hole / total_events AS pct_null_hole_raw,
        100.0 * t2_null_section / total_events AS pct_null_section_raw,
        100.0 * t2_null_lat / total_events AS pct_null_latitude_raw,
        100.0 * t2_null_timestamp / total_events AS pct_null_timestamp_raw,
        100.0 * t3_null_battery / total_events AS pct_null_battery_raw,
        100.0 * (t3_null_battery + t3_null_projected) / (2 * total_events) AS pct_null_device_health,
        100.0 * t4_null_start_hole / total_events AS pct_null_start_hole_raw,
        100.0 * t4_null_goal_time / total_events AS pct_null_goal_time_raw,
        100.0 * (t4_null_goal_time + t4_null_start_hole) / (2 * total_events) AS pct_null_round_config
    FROM column_analysis
)
SELECT course_id, total_events, total_rounds,
    ROUND(pct_null_pace_raw, 2) AS pct_null_pace,
    ROUND(pct_null_pace_gap_raw, 2) AS pct_null_pace_gap,
    ROUND(pct_null_positional_gap_raw, 2) AS pct_null_positional_gap,
    CASE WHEN pct_null_pace_worst > 50 THEN 'CRITICAL: Pace analysis NOT possible'
         WHEN pct_null_pace_worst > 20 THEN 'WARNING: Pace analysis degraded'
         WHEN pct_null_pace_worst > 5 THEN 'MINOR: Some pace gaps'
         ELSE 'GOOD: Pace data complete' END AS pace_data_status,
    ROUND(pct_null_hole_raw, 2) AS pct_null_hole,
    ROUND(pct_null_section_raw, 2) AS pct_null_section,
    ROUND(pct_null_latitude_raw, 2) AS pct_null_latitude,
    ROUND(pct_null_timestamp_raw, 2) AS pct_null_timestamp,
    CASE WHEN pct_null_hole_raw > 30 THEN 'CRITICAL: Hole tracking broken'
         WHEN pct_null_hole_raw > 10 THEN 'WARNING: Location gaps detected'
         ELSE 'GOOD: Location data complete' END AS location_data_status,
    ROUND(pct_null_battery_raw, 2) AS pct_null_battery,
    CASE WHEN pct_null_device_health > 50 THEN 'WARNING: Cannot monitor device health'
         WHEN pct_null_device_health > 20 THEN 'MINOR: Some battery data missing'
         ELSE 'GOOD: Device health trackable' END AS device_health_status,
    ROUND(pct_null_start_hole_raw, 2) AS pct_null_start_hole,
    ROUND(pct_null_goal_time_raw, 2) AS pct_null_goal_time,
    CASE WHEN pct_null_round_config > 80 THEN 'WARNING: Goal times not set'
         WHEN pct_null_round_config > 50 THEN 'MINOR: Start hole unknown'
         ELSE 'GOOD: Round config available' END AS round_config_status,
    ROUND(100 - (0.40 * pct_null_pace_worst
               + 0.30 * (pct_null_hole_raw + pct_null_timestamp_raw) / 2
               + 0.20 * pct_null_device_health
               + 0.10 * pct_null_round_config), 1) AS usability_score,
    CASE WHEN pct_null_pace_worst > 20 THEN 'Check pace calculation algorithm - many events missing pace values'
         WHEN pct_null_hole_raw > 20 THEN 'Review location assignment logic - many events without hole numbers'
         WHEN pct_null_device_health > 50 THEN 'Enable battery reporting on devices'
         WHEN pct_null_round_config > 80 THEN 'Configure goal times for this course in the system'
         ELSE 'Data quality acceptable - monitor for changes' END AS top_recommendation
FROM percentages
""",
)

TELEMETRY_COMPLETENESS_SUMMARY = Model(
    name="telemetry_completeness_summary",
    deps=("fact_telemetry_event",),
    doc="Padding/timestamp coverage per course (reference "
    "telemetry_completeness_summary.sql).",
    sql="""
WITH per_course AS (
    SELECT course_id,
        COUNT(*) AS total_rows,
        SUM(CASE WHEN is_location_padding THEN 1 ELSE 0 END) AS padding_rows,
        SUM(CASE WHEN NOT is_location_padding THEN 1 ELSE 0 END) AS non_padding_rows,
        SUM(CASE WHEN is_timestamp_missing THEN 1 ELSE 0 END) AS ts_missing_rows,
        SUM(CASE WHEN is_timestamp_missing AND NOT is_location_padding THEN 1 ELSE 0 END) AS ts_missing_non_padding_rows
    FROM fact_telemetry_event
    GROUP BY course_id
)
SELECT course_id, total_rows, padding_rows, non_padding_rows,
       ts_missing_rows, ts_missing_non_padding_rows,
       ROUND(100.0 * padding_rows / NULLIF(total_rows, 0), 2) AS pct_padding_total,
       ROUND(100.0 * ts_missing_rows / NULLIF(total_rows, 0), 2) AS pct_ts_missing_total,
       ROUND(100.0 * ts_missing_non_padding_rows / NULLIF(non_padding_rows, 0), 2) AS pct_ts_missing_non_padding
FROM per_course
""",
)

FACT_ROUND_HOLE_PERFORMANCE = Model(
    name="fact_round_hole_performance",
    deps=("fact_telemetry_event", "dim_facility_topology"),
    doc="Per (round, hole, nine) performance with unit names — loop "
    "courses keep nine 1 vs 2 separate (reference "
    "fact_round_hole_performance.sql).",
    sql=f"""
WITH hole_stats AS (
    SELECT course_id, round_id, hole_number, nine_number,
           MIN(fix_timestamp) AS hole_start_time,
           MAX(fix_timestamp) AS hole_end_time,
           TIMESTAMPDIFF(SECOND, DATE_TRUNC('SECOND', MIN(fix_timestamp)),
                      DATE_TRUNC('SECOND', MAX(fix_timestamp))) AS duration_sec,
           {exact_avg("pace")} AS avg_pace_sec,
           MAX(pace) AS max_pace_sec,
           {exact_avg("pace_gap")} AS avg_pace_gap_sec,
           BOOL_OR(is_complete) AS round_was_completed
    FROM fact_telemetry_event
    WHERE is_location_padding = FALSE AND hole_number IS NOT NULL
    GROUP BY course_id, round_id, hole_number, nine_number
)
SELECT h.course_id, h.round_id, h.hole_number, h.nine_number,
       t.unit_name AS course_unit,
       h.hole_start_time, h.hole_end_time, h.duration_sec,
       h.avg_pace_sec, h.max_pace_sec, h.avg_pace_gap_sec, h.round_was_completed
FROM hole_stats h
LEFT JOIN dim_facility_topology t
    ON h.course_id = t.facility_id AND h.nine_number = t.nine_number
""",
)

COURSE_CONFIGURATION_ANALYSIS = Model(
    name="course_configuration_analysis",
    deps=("fact_rounds",),
    doc="Course-type + complexity scoring from round configs (reference "
    "course_configuration_analysis.sql).",
    sql="""
WITH round_configs AS (
    SELECT course_id, round_id, start_hole, is_nine_hole, is_complete,
           min_section_number AS min_section, max_section_number AS max_section,
           holes_played AS unique_holes_played, nines_played,
           fix_count AS location_count
    FROM fact_rounds
),
course_summary AS (
    SELECT course_id,
        COUNT(DISTINCT round_id) AS total_rounds,
        MAX(max_section) AS max_section_seen,
        MAX(unique_holes_played) AS max_holes_in_round,
        MAX(nines_played) AS max_nines_in_round,
        CASE WHEN MAX(max_section) > 54 THEN '27-hole'
             WHEN MAX(max_section) > 27 THEN '18-hole'
             ELSE '9-hole' END AS likely_course_type,
        SUM(CASE WHEN is_nine_hole = TRUE THEN 1 ELSE 0 END) AS nine_hole_rounds,
        SUM(CASE WHEN is_nine_hole = FALSE OR is_nine_hole IS NULL THEN 1 ELSE 0 END) AS full_rounds,
        SUM(CASE WHEN is_complete = TRUE THEN 1 ELSE 0 END) AS complete_rounds,
        SUM(CASE WHEN is_complete = FALSE THEN 1 ELSE 0 END) AS incomplete_rounds,
        COUNT(DISTINCT start_hole) AS unique_start_holes,
        SUM(CASE WHEN start_hole = 1 THEN 1 ELSE 0 END) AS rounds_starting_hole_1,
        SUM(CASE WHEN start_hole != 1 AND start_hole IS NOT NULL THEN 1 ELSE 0 END) AS shotgun_start_rounds,
        SUM(CASE WHEN nines_played = 1 THEN 1 ELSE 0 END) AS single_nine_rounds,
        SUM(CASE WHEN nines_played = 2 THEN 1 ELSE 0 END) AS two_nine_rounds,
        SUM(CASE WHEN nines_played >= 3 THEN 1 ELSE 0 END) AS three_nine_rounds,
        ROUND(AVG(location_count), 0) AS avg_locations_per_round,
        MIN(location_count) AS min_locations_per_round,
        MAX(location_count) AS max_locations_per_round
    FROM round_configs GROUP BY course_id
)
SELECT course_id, total_rounds, likely_course_type, max_section_seen, max_holes_in_round,
    ROUND(100.0 * complete_rounds / NULLIF(total_rounds, 0), 1) AS pct_complete,
    ROUND(100.0 * incomplete_rounds / NULLIF(total_rounds, 0), 1) AS pct_incomplete,
    ROUND(100.0 * nine_hole_rounds / NULLIF(total_rounds, 0), 1) AS pct_nine_hole,
    ROUND(100.0 * full_rounds / NULLIF(total_rounds, 0), 1) AS pct_full_rounds,
    unique_start_holes,
    ROUND(100.0 * shotgun_start_rounds / NULLIF(total_rounds, 0), 1) AS pct_shotgun_starts,
    CASE WHEN likely_course_type = '27-hole'
         THEN ROUND(100.0 * single_nine_rounds / NULLIF(total_rounds, 0), 1) END AS pct_single_nine,
    CASE WHEN likely_course_type = '27-hole'
         THEN ROUND(100.0 * two_nine_rounds / NULLIF(total_rounds, 0), 1) END AS pct_two_nines,
    CASE WHEN likely_course_type = '27-hole'
         THEN ROUND(100.0 * three_nine_rounds / NULLIF(total_rounds, 0), 1) END AS pct_all_three_nines,
    avg_locations_per_round, min_locations_per_round, max_locations_per_round,
    ROUND(unique_start_holes * 10 +
          CASE likely_course_type WHEN '27-hole' THEN 30 WHEN '18-hole' THEN 20 ELSE 10 END +
          CASE WHEN 100.0 * nine_hole_rounds / NULLIF(total_rounds, 0) > 20 THEN 10 ELSE 0 END +
          CASE WHEN 100.0 * incomplete_rounds / NULLIF(total_rounds, 0) > 10 THEN 5 ELSE 0 END,
          0) AS course_complexity_score
FROM course_summary
""",
)

DEVICE_HEALTH_ERRORS = Model(
    name="device_health_errors",
    deps=("fact_telemetry_event",),
    doc="Low/critical battery event log (reference device_health_errors.sql).",
    sql="""
SELECT course_id, round_id, fix_timestamp, battery_percentage,
       CASE WHEN battery_percentage IS NULL THEN NULL
            WHEN battery_percentage < 10 THEN 'battery_critical'
            WHEN battery_percentage < 20 THEN 'battery_low'
            ELSE NULL END AS health_flag
FROM fact_telemetry_event
WHERE is_location_padding = FALSE
  AND battery_percentage IS NOT NULL
  AND battery_percentage < 20
""",
)

DIM_COURSE = Model(
    name="dim_course",
    deps=(
        "fact_telemetry_event",
        "fact_rounds",
        "course_configuration_analysis",
        "data_quality_overview",
        "telemetry_completeness_summary",
        "dim_facility_topology",
    ),
    doc="Course dimension stitched from 5 summaries + topology "
    "(reference dim_course.sql).",
    sql="""
WITH base_courses AS (
    SELECT DISTINCT course_id FROM fact_telemetry_event WHERE course_id IS NOT NULL
),
round_range AS (
    SELECT course_id,
           COUNT(*) AS rounds_observed,
           SUM(CASE WHEN is_complete THEN 1 ELSE 0 END) AS complete_rounds_observed,
           MIN(round_start_ts) AS first_round_start_ts,
           MAX(round_start_ts) AS last_round_start_ts,
           SORT_ARRAY(ARRAY_DISTINCT(COLLECT_LIST(round_length))) AS playable_round_lengths
    FROM fact_rounds GROUP BY course_id
),
units AS (
    SELECT facility_id AS course_id,
           SORT_ARRAY(ARRAY_DISTINCT(COLLECT_LIST(unit_name))) AS unit_names
    FROM dim_facility_topology
    WHERE unit_name IS NOT NULL
    GROUP BY facility_id
)
SELECT bc.course_id,
    c.likely_course_type, c.max_section_seen, c.max_holes_in_round,
    c.unique_start_holes, c.pct_shotgun_starts, c.pct_nine_hole, c.pct_full_rounds,
    c.course_complexity_score,
    r.rounds_observed, r.complete_rounds_observed,
    r.first_round_start_ts, r.last_round_start_ts, r.playable_round_lengths,
    dq.data_quality_score, dq.overall_quality_score,
    dq.pct_missing_pace, dq.pct_missing_pace_gap, dq.pct_missing_hole_number,
    dq.pct_missing_section_number, dq.pct_missing_fix_timestamp, dq.pct_missing_start_hole,
    tc.total_rows, tc.padding_rows, tc.non_padding_rows,
    tc.pct_padding_total, tc.pct_ts_missing_total, tc.pct_ts_missing_non_padding,
    u.unit_names,
    CASE WHEN u.unit_names IS NULL THEN 0 ELSE SIZE(u.unit_names) END AS unit_count
FROM base_courses bc
LEFT JOIN course_configuration_analysis c ON bc.course_id = c.course_id
LEFT JOIN data_quality_overview dq ON bc.course_id = dq.course_id
LEFT JOIN telemetry_completeness_summary tc ON bc.course_id = tc.course_id
LEFT JOIN round_range r ON bc.course_id = r.course_id
LEFT JOIN units u ON bc.course_id = u.course_id
""",
)

GOLD_COVERAGE_AUDIT = Model(
    name="gold_coverage_audit",
    deps=(
        "fact_telemetry_event",
        "fact_rounds",
        "fact_round_hole_performance",
        "course_rounds_by_month",
        "course_rounds_by_weekday",
        "dim_course",
    ),
    doc="Audit-by-construction: silver counts reconciled against every "
    "gold model per course (reference gold_coverage_audit.sql; the "
    "cheapest correctness tripwire — SURVEY §5.4).",
    sql="""
WITH courses AS (
    SELECT DISTINCT course_id FROM fact_telemetry_event WHERE course_id IS NOT NULL
),
silver_event_counts AS (
    SELECT course_id,
        COUNT(*) AS silver_total_rows,
        SUM(CASE WHEN is_location_padding THEN 1 ELSE 0 END) AS silver_padding_rows,
        SUM(CASE WHEN NOT is_location_padding THEN 1 ELSE 0 END) AS silver_non_padding_rows,
        SUM(CASE WHEN is_timestamp_missing THEN 1 ELSE 0 END) AS silver_ts_missing_rows,
        SUM(CASE WHEN is_timestamp_missing AND NOT is_location_padding THEN 1 ELSE 0 END) AS silver_ts_missing_non_padding_rows,
        COUNT(DISTINCT round_id) AS silver_distinct_rounds_all,
        COUNT(DISTINCT CASE WHEN NOT is_location_padding THEN round_id END) AS silver_distinct_rounds_non_padding
    FROM fact_telemetry_event
    WHERE course_id IS NOT NULL
    GROUP BY course_id
),
gold_fact_rounds AS (
    SELECT course_id, COUNT(*) AS gold_fact_rounds_rows,
           COUNT(DISTINCT round_id) AS gold_fact_rounds_distinct_rounds,
           SUM(fix_count) AS gold_fact_rounds_sum_fix_count
    FROM fact_rounds GROUP BY course_id
),
gold_hole_perf AS (
    SELECT course_id, COUNT(*) AS gold_hole_perf_rows,
           COUNT(DISTINCT round_id) AS gold_hole_perf_distinct_rounds,
           COUNT(DISTINCT CAST(round_id AS STRING) || ':' || CAST(hole_number AS STRING) || ':' || CAST(nine_number AS STRING))
               AS gold_hole_perf_distinct_round_hole_nine
    FROM fact_round_hole_performance GROUP BY course_id
),
gold_seasonality_month AS (
    SELECT course_id, SUM(rounds) AS gold_rounds_by_month_sum_rounds,
           SUM(CASE WHEN month_number = 0 THEN rounds ELSE 0 END) AS gold_rounds_by_month_unknown_ts_rounds
    FROM course_rounds_by_month GROUP BY course_id
),
gold_seasonality_weekday AS (
    SELECT course_id, SUM(rounds) AS gold_rounds_by_weekday_sum_rounds,
           SUM(CASE WHEN weekday_number = 0 THEN rounds ELSE 0 END) AS gold_rounds_by_weekday_unknown_ts_rounds
    FROM course_rounds_by_weekday GROUP BY course_id
),
gold_dim_course AS (
    SELECT course_id, 1 AS gold_dim_course_present, unit_count FROM dim_course
)
SELECT c.course_id,
    s.silver_total_rows, s.silver_padding_rows, s.silver_non_padding_rows,
    s.silver_ts_missing_rows, s.silver_ts_missing_non_padding_rows,
    s.silver_distinct_rounds_all, s.silver_distinct_rounds_non_padding,
    fr.gold_fact_rounds_rows, fr.gold_fact_rounds_distinct_rounds, fr.gold_fact_rounds_sum_fix_count,
    hp.gold_hole_perf_rows, hp.gold_hole_perf_distinct_rounds, hp.gold_hole_perf_distinct_round_hole_nine,
    sm.gold_rounds_by_month_sum_rounds, sm.gold_rounds_by_month_unknown_ts_rounds,
    sw.gold_rounds_by_weekday_sum_rounds, sw.gold_rounds_by_weekday_unknown_ts_rounds,
    dc.gold_dim_course_present, dc.unit_count
FROM courses c
LEFT JOIN silver_event_counts s ON c.course_id = s.course_id
LEFT JOIN gold_fact_rounds fr ON c.course_id = fr.course_id
LEFT JOIN gold_hole_perf hp ON c.course_id = hp.course_id
LEFT JOIN gold_seasonality_month sm ON c.course_id = sm.course_id
LEFT JOIN gold_seasonality_weekday sw ON c.course_id = sw.course_id
LEFT JOIN gold_dim_course dc ON c.course_id = dc.course_id
""",
)

# --------------------------------------------------------------------------
# silver_normalized models
# --------------------------------------------------------------------------

DIM_ROUND = Model(
    name="dim_round",
    deps=("fact_telemetry_event",),
    doc="Round dimension with MAX()-as-any-value rollups — deliberately "
    "MAX, not first(), which is nondeterministic in Spark (reference "
    "dim_round.sql; SURVEY §7.4 trap 9).",
    sql="""
WITH base AS (
    SELECT * FROM fact_telemetry_event
    WHERE course_id IS NOT NULL AND round_id IS NOT NULL
),
round_rollup AS (
    SELECT course_id, round_id,
        COUNT(*) AS total_rows,
        SUM(CASE WHEN is_location_padding THEN 1 ELSE 0 END) AS padding_rows,
        SUM(CASE WHEN NOT is_location_padding THEN 1 ELSE 0 END) AS non_padding_rows,
        SUM(CASE WHEN is_timestamp_missing THEN 1 ELSE 0 END) AS ts_missing_rows,
        SUM(CASE WHEN is_timestamp_missing AND NOT is_location_padding THEN 1 ELSE 0 END) AS ts_missing_non_padding_rows,
        MIN(fix_timestamp) AS first_fix_ts,
        MAX(fix_timestamp) AS last_fix_ts,
        COUNT(DISTINCT hole_number) AS holes_observed,
        COUNT(DISTINCT nine_number) AS nines_observed,
        MIN(section_number) AS min_section_number,
        MAX(section_number) AS max_section_number,
        MAX(round_start_time) AS round_start_time,
        MAX(round_end_time) AS round_end_time,
        MAX(start_hole) AS start_hole,
        MAX(start_section) AS start_section,
        MAX(end_section) AS end_section,
        BOOL_OR(COALESCE(is_nine_hole, FALSE)) AS is_nine_hole,
        BOOL_OR(COALESCE(is_complete, FALSE)) AS is_complete,
        BOOL_OR(COALESCE(is_incomplete, FALSE)) AS is_incomplete,
        BOOL_OR(COALESCE(is_secondary, FALSE)) AS is_secondary,
        BOOL_OR(COALESCE(is_auto_assigned, FALSE)) AS is_auto_assigned,
        MAX(current_nine) AS current_nine,
        MAX(goal_time) AS goal_time,
        MAX(goal_name) AS goal_name,
        MAX(goal_time_fraction) AS goal_time_fraction,
        MAX(device) AS device_id,
        MAX(first_fix) AS first_fix,
        MAX(last_fix) AS last_fix
    FROM base GROUP BY course_id, round_id
)
SELECT * FROM round_rollup
""",
)

DIM_DEVICE = _global_model(
    name="dim_device",
    doc="Device dimension (reference dim_device.sql).",
    combine="""
SELECT device_id,
       SUM(total_rows) AS total_rows,
       COUNT(DISTINCT course_id) AS courses_seen,
       MIN(first_seen_ts) AS first_seen_ts,
       MAX(last_seen_ts) AS last_seen_ts,
       SUM(ts_missing_rows) AS ts_missing_rows,
       MIN(min_battery_pct) AS min_battery_pct,
       MAX(max_battery_pct) AS max_battery_pct,
       CAST(SUM(battery_sum) AS DOUBLE) / SUM(battery_cnt) AS avg_battery_pct
FROM rollup_device
GROUP BY device_id
""",
)

FACT_TELEMETRY_FIX = Model(
    name="fact_telemetry_fix",
    deps=("fact_telemetry_event",),
    doc="Normalized fix-grain VIEW aliasing silver (reference "
    "fact_telemetry_fix.sql — a view, not a table).",
    sql="""
SELECT round_id, course_id, ingest_date, fix_timestamp, is_timestamp_missing,
       is_location_padding, location_index, hole_number, section_number,
       hole_section, nine_number, current_nine, latitude, longitude,
       geometry_wkt, pace, pace_gap, positional_gap, battery_percentage,
       is_cache, is_projected, is_problem, device AS device_id,
       round_start_time, round_end_time, start_hole, start_section, end_section,
       is_nine_hole, goal_time, goal_name, goal_time_fraction,
       is_complete, is_incomplete, is_secondary, is_auto_assigned,
       event_date, event_year, event_month, event_day, event_weekday
FROM fact_telemetry_event
""",
)

GLOBAL_OVERVIEW = _global_model(
    name="global_overview",
    doc="One-row global metrics (reference global_overview.sql; the "
    "APPROX_PERCENTILE median is the exact nearest-rank median).",
    combine="""
SELECT total_rows, padding_rows, non_padding_rows, courses,
    distinct_rounds_all, distinct_rounds_non_padding, distinct_devices,
    ts_missing_rows, ts_missing_non_padding_rows, problem_rows,
    ROUND(100.0 * problem_rows / NULLIF(non_padding_rows, 0), 2) AS pct_problem_rows_non_padding,
    complete_rounds,
    ROUND(100.0 * complete_rounds / NULLIF(distinct_rounds_non_padding, 0), 2) AS pct_complete_rounds,
    nine_hole_rounds,
    ROUND(100.0 * nine_hole_rounds / NULLIF(distinct_rounds_non_padding, 0), 2) AS pct_nine_hole_rounds,
    secondary_rounds,
    ROUND(100.0 * secondary_rounds / NULLIF(distinct_rounds_non_padding, 0), 2) AS pct_secondary_rounds,
    auto_assigned_rounds,
    ROUND(100.0 * auto_assigned_rounds / NULLIF(distinct_rounds_non_padding, 0), 2) AS pct_auto_assigned_rounds,
    ROUND(100.0 * padding_rows / NULLIF(total_rows, 0), 2) AS pct_padding_rows,
    ROUND(100.0 * ts_missing_rows / NULLIF(total_rows, 0), 2) AS pct_ts_missing_rows,
    ROUND(100.0 * ts_missing_non_padding_rows / NULLIF(non_padding_rows, 0), 2) AS pct_ts_missing_non_padding_rows,
    first_fix_ts, last_fix_ts, avg_pace_gap_sec, median_pace_gap_sec
FROM (
    SELECT
        COALESCE(SUM(total_rows), 0) AS total_rows,
        SUM(padding_rows) AS padding_rows,
        SUM(non_padding_rows) AS non_padding_rows,
        COUNT(*) AS courses,
        SUM(ts_missing_rows) AS ts_missing_rows,
        SUM(ts_missing_non_padding_rows) AS ts_missing_non_padding_rows,
        SUM(problem_rows) AS problem_rows,
        MIN(first_fix_ts) AS first_fix_ts,
        MAX(last_fix_ts) AS last_fix_ts,
        CAST(SUM(pace_gap_np_sum) AS DOUBLE) / SUM(pace_gap_np_cnt) AS avg_pace_gap_sec
    FROM rollup_overview_course
) c
CROSS JOIN (
    SELECT
        COUNT(DISTINCT round_id) AS distinct_rounds_all,
        COUNT(DISTINCT CASE WHEN any_non_padding THEN round_id END) AS distinct_rounds_non_padding,
        COUNT(DISTINCT CASE WHEN complete_np THEN round_id END) AS complete_rounds,
        COUNT(DISTINCT CASE WHEN nine_hole_np THEN round_id END) AS nine_hole_rounds,
        COUNT(DISTINCT CASE WHEN secondary_np THEN round_id END) AS secondary_rounds,
        COUNT(DISTINCT CASE WHEN auto_assigned_np THEN round_id END) AS auto_assigned_rounds
    FROM rollup_overview_round
) r
CROSS JOIN (
    SELECT COUNT(DISTINCT device_id) AS distinct_devices
    FROM rollup_device WHERE course_id IS NOT NULL
) d
CROSS JOIN (
    -- exact nearest-rank median: the smallest pace gap whose
    -- cumulative count reaches CEIL(N / 2)
    SELECT MIN(pace_gap) AS median_pace_gap_sec
    FROM (
        SELECT pace_gap,
               SUM(n) OVER (ORDER BY pace_gap) AS cum,
               SUM(n) OVER () AS total
        FROM (SELECT pace_gap, SUM(n) AS n FROM rollup_overview_pace GROUP BY pace_gap) hist
    ) ranked
    WHERE cum >= CEIL(0.5 * total)
) p
""",
)

GLOBAL_COURSE_SUMMARY = Model(
    name="global_course_summary",
    deps=("fact_telemetry_event",),
    doc="Per-course operational summary (reference global_course_summary.sql).",
    sql=f"""
WITH base AS (
    SELECT course_id, round_id, device AS device_id, fix_timestamp,
           is_timestamp_missing, is_location_padding, is_problem, is_complete,
           is_nine_hole, is_secondary, is_auto_assigned, pace_gap
    FROM fact_telemetry_event WHERE course_id IS NOT NULL
),
per_course AS (
    SELECT course_id,
        COUNT(*) AS total_rows,
        SUM(CASE WHEN is_location_padding THEN 1 ELSE 0 END) AS padding_rows,
        SUM(CASE WHEN NOT is_location_padding THEN 1 ELSE 0 END) AS non_padding_rows,
        COUNT(DISTINCT round_id) AS distinct_rounds_all,
        COUNT(DISTINCT CASE WHEN NOT is_location_padding THEN round_id END) AS distinct_rounds_non_padding,
        COUNT(DISTINCT device_id) AS distinct_devices,
        SUM(CASE WHEN is_timestamp_missing THEN 1 ELSE 0 END) AS ts_missing_rows,
        SUM(CASE WHEN is_timestamp_missing AND NOT is_location_padding THEN 1 ELSE 0 END) AS ts_missing_non_padding_rows,
        SUM(CASE WHEN NOT is_location_padding AND is_problem THEN 1 ELSE 0 END) AS problem_rows,
        COUNT(DISTINCT CASE WHEN NOT is_location_padding AND COALESCE(is_complete, FALSE) THEN round_id END) AS complete_rounds,
        COUNT(DISTINCT CASE WHEN NOT is_location_padding AND COALESCE(is_nine_hole, FALSE) THEN round_id END) AS nine_hole_rounds,
        COUNT(DISTINCT CASE WHEN NOT is_location_padding AND COALESCE(is_secondary, FALSE) THEN round_id END) AS secondary_rounds,
        COUNT(DISTINCT CASE WHEN NOT is_location_padding AND COALESCE(is_auto_assigned, FALSE) THEN round_id END) AS auto_assigned_rounds,
        {exact_avg("pace_gap", "NOT is_location_padding")} AS avg_pace_gap_sec,
        PERCENTILE_APPROX(pace_gap, 0.5) FILTER (WHERE NOT is_location_padding) AS median_pace_gap_sec
    FROM base GROUP BY course_id
)
SELECT course_id, total_rows, padding_rows, non_padding_rows,
    distinct_rounds_all, distinct_rounds_non_padding, distinct_devices,
    ts_missing_rows, ts_missing_non_padding_rows, problem_rows,
    ROUND(100.0 * problem_rows / NULLIF(non_padding_rows, 0), 2) AS pct_problem_rows_non_padding,
    complete_rounds,
    ROUND(100.0 * complete_rounds / NULLIF(distinct_rounds_non_padding, 0), 2) AS pct_complete_rounds,
    nine_hole_rounds,
    ROUND(100.0 * nine_hole_rounds / NULLIF(distinct_rounds_non_padding, 0), 2) AS pct_nine_hole_rounds,
    secondary_rounds,
    ROUND(100.0 * secondary_rounds / NULLIF(distinct_rounds_non_padding, 0), 2) AS pct_secondary_rounds,
    auto_assigned_rounds,
    ROUND(100.0 * auto_assigned_rounds / NULLIF(distinct_rounds_non_padding, 0), 2) AS pct_auto_assigned_rounds,
    ROUND(100.0 * padding_rows / NULLIF(total_rows, 0), 2) AS pct_padding_rows,
    ROUND(100.0 * ts_missing_rows / NULLIF(total_rows, 0), 2) AS pct_ts_missing_rows,
    ROUND(100.0 * ts_missing_non_padding_rows / NULLIF(non_padding_rows, 0), 2) AS pct_ts_missing_non_padding_rows,
    avg_pace_gap_sec, median_pace_gap_sec
FROM per_course
""",
)

GLOBAL_TIME_PATTERNS = Model(
    name="global_time_patterns",
    deps=("fact_telemetry_event",),
    doc="Time-of-day / day-type patterns; Trino day_of_week IN (6,7) "
    "weekend -> ISO expr (reference global_time_patterns.sql).",
    sql=f"""
WITH fixes AS (
    SELECT course_id, round_id, fix_timestamp, is_timestamp_missing, is_problem, pace_gap
    FROM fact_telemetry_event
    WHERE course_id IS NOT NULL AND NOT is_location_padding
),
bucketed AS (
    SELECT course_id, round_id, fix_timestamp, is_timestamp_missing, is_problem, pace_gap,
        CASE WHEN fix_timestamp IS NULL THEN 'unknown'
             WHEN HOUR(fix_timestamp) BETWEEN 5 AND 11 THEN 'morning'
             WHEN HOUR(fix_timestamp) BETWEEN 12 AND 17 THEN 'afternoon'
             WHEN HOUR(fix_timestamp) BETWEEN 18 AND 23 THEN 'evening'
             ELSE 'night' END AS time_bucket,
        CASE WHEN fix_timestamp IS NULL THEN 'unknown'
             WHEN {ISO_DOW.format(ts="fix_timestamp")} IN (6, 7) THEN 'weekend'
             ELSE 'weekday' END AS day_type,
        CASE WHEN fix_timestamp IS NULL THEN NULL ELSE HOUR(fix_timestamp) END AS hour_of_day
    FROM fixes
)
SELECT course_id, day_type, time_bucket, hour_of_day,
       COUNT(*) AS rows,
       COUNT(DISTINCT round_id) AS rounds,
       SUM(CASE WHEN is_problem THEN 1 ELSE 0 END) AS problem_rows,
       ROUND(100.0 * SUM(CASE WHEN is_problem THEN 1 ELSE 0 END) / NULLIF(COUNT(*), 0), 2) AS pct_problem_rows,
       {exact_avg("pace_gap")} AS avg_pace_gap_sec,
       PERCENTILE_APPROX(pace_gap, 0.5) AS median_pace_gap_sec
FROM bucketed
GROUP BY course_id, day_type, time_bucket, hour_of_day
""",
)

MODELS: list[Model] = [
    FACT_ROUNDS,
    PACE_SUMMARY_BY_ROUND,
    SIGNAL_QUALITY_ROUNDS,
    COURSE_ROUNDS_BY_MONTH,
    COURSE_ROUNDS_BY_WEEKDAY,
    COURSE_START_HOLE_DISTRIBUTION,
    DATA_QUALITY_OVERVIEW,
    CRITICAL_COLUMN_GAPS,
    TELEMETRY_COMPLETENESS_SUMMARY,
    FACT_ROUND_HOLE_PERFORMANCE,
    COURSE_CONFIGURATION_ANALYSIS,
    DEVICE_HEALTH_ERRORS,
    DIM_ROUND,
    DIM_DEVICE,
    FACT_TELEMETRY_FIX,
    GLOBAL_OVERVIEW,
    GLOBAL_COURSE_SUMMARY,
    GLOBAL_TIME_PATTERNS,
    DIM_COURSE,
    GOLD_COVERAGE_AUDIT,
]


class GoldBuilder:
    """Materializes the model DAG over a silver fact frame.

    Build order is a topological sort of the declared deps; each built
    model is registered as a temp view so later models read it without
    re-scanning telemetry (the reference's explicit dbt `ref()` strategy).
    `cache_fact_rounds=True` additionally caches the most-reused model
    during a build session (SURVEY §4 'manual common-subexpression').
    """

    def __init__(self, spark: SparkSession, cache_fact_rounds: bool = True):
        self.spark = spark
        self.cache_fact_rounds = cache_fact_rounds
        self.built: dict[str, DataFrame] = {}

    def build(
        self,
        fact_telemetry_event: DataFrame,
        dim_facility_topology: DataFrame | None = None,
    ) -> dict[str, DataFrame]:
        fact_telemetry_event.createOrReplaceTempView("fact_telemetry_event")
        if dim_facility_topology is None:
            # empty topology: models LEFT JOIN it, so an empty frame is safe
            from ..schemas import DIM_FACILITY_TOPOLOGY

            dim_facility_topology = self.spark.createDataFrame([], DIM_FACILITY_TOPOLOGY)
        dim_facility_topology.createOrReplaceTempView("dim_facility_topology")

        for model in MODELS:  # MODELS is already topologically ordered
            # A SQL view keeps the model's text, so each reference is
            # analyzed afresh with CTE ids of its own.  A view of the
            # analyzed DataFrame would carry its CTE definitions, ids
            # included, into every model that reads it (fact_rounds
            # reaches gold_coverage_audit by several paths), and Spark's
            # InlineCTE keys definitions by id alone: whether the
            # optimizer then failed with "Invalid call to exprId on
            # unresolved object" depended on how many CTE ids the JVM
            # had handed out before the build.
            self.spark.sql(f"CREATE OR REPLACE TEMP VIEW {model.name} AS {model.sql}")
            df = self.spark.table(model.name)
            if model.name == "fact_rounds" and self.cache_fact_rounds:
                df = df.cache()
            self.built[model.name] = df
        return self.built


def build_all(
    spark: SparkSession,
    fact_telemetry_event: DataFrame,
    dim_facility_topology: DataFrame | None = None,
) -> dict[str, DataFrame]:
    return GoldBuilder(spark).build(fact_telemetry_event, dim_facility_topology)


def incremental_update(
    spark: SparkSession,
    lake,
    course_ids: list[str] | None,
    dim_facility_topology: DataFrame | None = None,
    fact_table: str = "silver.fact_telemetry_event",
    timings: dict[str, float] | None = None,
) -> dict[str, int]:
    """Write the gold models for `course_ids`, or for every course when
    `course_ids` is None (the full build).

    The reference's dbt run rebuilds every model from the full fact on
    every invocation; at 100 TB that is a full-corpus re-aggregation to
    absorb one course-day of new data.  This path uses the gold
    partitioning (`course_id`, BASELINE gold table property):

    - models carrying a `course_id` column are rebuilt ONLY from the
      named courses (the `isin` filter prunes the fact's physical
      course_id partitions, so the scan is O(new data)) and land via
      `replace_partitions`; the full build overwrites them, dropping
      courses gone from silver;
    - the corpus-global models (those with a `combine`) run their
      combine over the rollup partials (gold/rollups.py), which this
      call lands from the same slice.  The full build, and the first
      refresh, re-seed every rollup table with one fact scan.

    Each written table equals its model text run over the whole fact:
    a global model's text is its combine over the same partials.
    Returns {model_name: rows_written}.  `timings`, if given, receives
    per-phase wall seconds ("partitioned", "rollup_refresh",
    "global_combine").
    """
    import time

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    fact_full = lake.read(fact_table)
    if course_ids is None:
        fact = fact_full
    else:
        fact = fact_full.filter(F.col("course_id").isin(course_ids))

    def write_by_course(table, df):
        if course_ids is None:
            lake.overwrite(table, df, partition_by=["course_id"])
        else:
            lake.replace_partitions(table, df, ["course_id"])

    # Row counts ride the write action itself via an Observation (the
    # run_silver pattern) — a post-write df.count() would recompute the
    # whole model chain a second time, doubling the refresh cost (the
    # r11 silver/gold probe measured exactly that before this change).
    def _write_observed(df, write) -> int:
        obs = Observation()
        write(df.observe(obs, F.count(F.lit(1)).alias("n")))
        try:
            return int(obs.get["n"])
        except Exception as exc:
            # Defensive branch for a metrics row that never materialized.
            # On Spark 4.1.2 an empty dynamic overwrite still returns
            # {'n': 0} (verified empirically), so this path is expected
            # to be dead there — but the observed-metrics contract for
            # an AQE-propagated empty relation is version-dependent, so
            # keep the fallback for other runtimes: CONFIRM the frame
            # really is empty (a limit-1 probe, cheap) before decoding
            # absent metrics as zero, and surface what was swallowed —
            # a transient JVM error after a successful multi-row write
            # must propagate, not silently record 0 rows.
            if df.isEmpty():
                import logging

                logging.getLogger(__name__).warning(
                    "observed write metrics unavailable for an empty "
                    "result; recording 0 rows (cause: %s: %s)",
                    type(exc).__name__,
                    exc,
                )
                return 0
            raise

    written: dict[str, int] = {}
    t0 = time.perf_counter()
    built = GoldBuilder(spark).build(fact, dim_facility_topology)
    for model in MODELS:
        if not model.combine:
            written[model.name] = _write_observed(
                built[model.name], lambda d, t=f"gold.{model.name}": write_by_course(t, d)
            )
    if timings is not None:
        timings["partitioned"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    refresh_rollups(spark, lake, fact_full, course_ids)
    if timings is not None:
        timings["rollup_refresh"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    for model in MODELS:
        if model.combine:
            written[model.name] = _write_observed(
                spark.sql(model.combine), lambda d, t=f"gold.{model.name}": lake.overwrite(t, d)
            )
    if timings is not None:
        timings["global_combine"] = round(time.perf_counter() - t0, 3)
    return written
