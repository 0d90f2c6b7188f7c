"""Telemetry query library: every dashboard, exploration and example
query the reference ships, dialect-translated Trino -> Spark SQL.

Sources (reference file:line cited per query):
- dashboard/utils/queries.py (38 constants + 13 parameterized functions)
- pipeline/queries/exploration/*.sql (13 files)
- pipeline/queries/examples/*.sql (4 files; demo_all_insights.sql split
  into its constituent insight queries)

Dialect conversions applied (SURVEY §7.4 trap 2):
- iceberg.silver.X / iceberg.gold.X  -> temp view X
- date_diff('day', a, b)             -> datediff(b, a)
- date_diff('minute', a, b)          -> floor((unix_timestamp(b) - unix_timestamp(a)) / 60)
- APPROX_PERCENTILE                  -> percentile_approx
- ARRAY_AGG(DISTINCT x ORDER BY x)   -> sort_array(collect_set(x))
- CAST(x AS VARCHAR)                 -> CAST(x AS STRING)
- day_of_week 1=Mon                  -> event_weekday already ISO in silver

Queries that read gold models (course_configuration, critical_gaps,
data_quality_overview, check_loop_fatigue, demo seasonality) expect the
gold views registered via gold.build_all first; `register_views` wires
everything up.

The reference's stale-column drift (SURVEY §7.4 trap 7) is resolved
here: exploration/data_quality_overview.sql:10-11 selected
pct_missing_hole / pct_low_battery which the gold model never emitted —
we select the model's real columns pct_missing_hole_number /
low_battery_events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "TELEMETRY_QUERIES",
    "PARAMETERIZED",
    "register_views",
    "run_telemetry_query",
]


def _esc(value: str) -> str:
    """Single-quote escaping, as the reference does before interpolation
    (dashboard/utils/queries.py:491,626,751)."""
    return value.replace("'", "''")


def exact_avg(col: str, where: str | None = None) -> str:
    """Decimal-exact AVG(col): SUM over DECIMAL(28,10) divided by
    COUNT(col), as double (see _exact_avg_std for why).  `where` puts
    the same FILTER clause on both aggregates."""
    f = f" FILTER (WHERE {where})" if where else ""
    return f"(CAST(SUM(CAST({col} AS DECIMAL(28,10))){f} AS DOUBLE) / COUNT({col}){f})"


def _exact_avg_std(sql: str) -> str:
    """Rewrite AVG(col)/STDDEV(col) over simple column references to
    decimal-exact forms (the engine-wide determinism contract of
    queries/__init__.py, applied to this library at registration time).

    Plain double AVG/STDDEV are partition-order dependent; telemetry
    metrics carry few decimals (pace rounds to 3), so their averages
    land on ROUND half-boundaries constantly and a one-ulp accumulation
    difference flips the rounded output. The decimal-sum forms make the
    aggregate a single exact value, after which every engine's IEEE
    division/sqrt produces the identical double:

    - AVG(x)    -> SUM(DECIMAL(28,10) x) / COUNT(x), as double
      (scale 10 is exact for every telemetry metric's precision);
    - STDDEV(x) -> sample stddev via exact decimal moments at scale 6
      (squares stay inside DECIMAL(38,12)); NULL when COUNT <= 1,
      matching the built-in.

    Only identifier arguments are rewritten (`AVG(hp.pace)` yes,
    `AVG(CASE ...)` no) — every half-boundary-prone site in this
    library is of the identifier form.

    Derived-column caveat: the "scale 10/6 is exact" premise holds for
    RAW metric columns (pace rounds to 3 decimals at ingest). Identifier
    args can also name DERIVED doubles (e.g. AVG(course_avg_pace) over a
    CTE), where the DECIMAL cast quantizes the input. That quantization
    is still applied to the SAME rewritten text on BOTH engines, so a
    cross-engine mismatch would additionally require Spark and DuckDB to
    break a double->DECIMAL tie differently at digit 10/6 — not observed
    anywhere in the two-engine suite (tests/test_telemetry_oracle.py
    sweeps every query in this library). If a future derived metric ever
    lands on such a tie, restrict this rewrite to a raw-column allowlist
    rather than widening the decimals.
    """
    import re

    def avg_repl(m: "re.Match[str]") -> str:
        return exact_avg(m.group(1))

    def std_repl(m: "re.Match[str]") -> str:
        c = m.group(1)
        n = f"CAST(COUNT({c}) AS DOUBLE)"
        sx = f"CAST(SUM(CAST({c} AS DECIMAL(18,6))) AS DOUBLE)"
        sxx = (
            f"CAST(SUM(CAST(CAST({c} AS DECIMAL(18,6)) * CAST({c} AS DECIMAL(18,6))"
            f" AS DECIMAL(38,12))) AS DOUBLE)"
        )
        return (
            f"(CASE WHEN COUNT({c}) > 1 THEN "
            f"SQRT(GREATEST(({sxx} - {sx} * {sx} / {n}) / ({n} - 1.0e0), 0.0e0)) END)"
        )

    sql = re.sub(r"\bSTDDEV\(([A-Za-z_][\w.]*)\)", std_repl, sql)
    sql = re.sub(r"\bAVG\(([A-Za-z_][\w.]*)\)", avg_repl, sql)
    return sql


# ===========================================================================
# Dashboard constants (dashboard/utils/queries.py)
# ===========================================================================

OVERVIEW_STATS = """
SELECT
    COUNT(DISTINCT course_id) AS total_courses,
    COUNT(DISTINCT round_id) AS total_rounds,
    COUNT(*) AS total_events,
    SUM(CASE WHEN is_location_padding = FALSE THEN 1 ELSE 0 END) AS real_events,
    MIN(event_date) AS earliest_date,
    MAX(event_date) AS latest_date
FROM fact_telemetry_event
"""

COURSE_SUMMARY = """
SELECT
    course_id,
    COUNT(DISTINCT round_id) AS round_count,
    COUNT(*) AS event_count,
    SUM(CASE WHEN is_location_padding = FALSE THEN 1 ELSE 0 END) AS real_events,
    MIN(event_date) AS first_date,
    MAX(event_date) AS last_date,
    DATEDIFF(MAX(event_date), MIN(event_date)) + 1 AS total_days,
    COUNT(DISTINCT CASE WHEN is_location_padding = FALSE THEN event_date END) AS playing_days,
    MAX(section_number) AS max_section,
    MAX(hole_number) AS max_hole,
    CASE
        WHEN MAX(hole_number) >= 10 THEN '18-hole'
        WHEN MAX(section_number) > 54 THEN '27-hole'
        WHEN MAX(section_number) > 27 THEN '18-hole (loop)'
        ELSE '9-hole'
    END AS inferred_type
FROM fact_telemetry_event
GROUP BY course_id
ORDER BY course_id
"""

_QM_PCT = (
    "ROUND(100.0 * SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) / NULLIF(COUNT(*), 0), 1)"
)
_QM_RAW = "(100.0 * SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) / NULLIF(COUNT(*), 0))"

_QUALITY_WEIGHTS = [
    (0.15, "pace IS NOT NULL"),
    (0.05, "pace_gap IS NOT NULL"),
    (0.05, "positional_gap IS NOT NULL"),
    (0.10, "latitude IS NOT NULL AND longitude IS NOT NULL"),
    (0.05, "fix_timestamp IS NOT NULL"),
    (0.08, "hole_number IS NOT NULL"),
    (0.08, "section_number IS NOT NULL"),
    (0.05, "location_index IS NOT NULL"),
    (0.02, "current_hole IS NOT NULL"),
    (0.02, "current_hole_section IS NOT NULL"),
    (0.05, "round_start_time IS NOT NULL"),
    (0.05, "round_end_time IS NOT NULL"),
    (0.04, "start_hole IS NOT NULL"),
    (0.03, "start_section IS NOT NULL"),
    (0.03, "is_complete IS NOT NULL"),
    (0.10, "device IS NOT NULL"),
    (0.05, "battery_percentage IS NOT NULL"),
]
_QUALITY_SCORE = "ROUND(" + " +\n            ".join(
    f"{w} * {_QM_RAW.format(cond=c)}" for w, c in _QUALITY_WEIGHTS
) + ", 1)"

DATA_QUALITY_SCORE = f"""
WITH quality_metrics AS (
    SELECT
        course_id,
        COUNT(*) AS total_events,
        {_QM_PCT.format(cond="pace IS NOT NULL")} AS pace_pct,
        {_QM_PCT.format(cond="pace_gap IS NOT NULL")} AS pace_gap_pct,
        {_QM_PCT.format(cond="positional_gap IS NOT NULL")} AS positional_gap_pct,
        {_QM_PCT.format(cond="latitude IS NOT NULL AND longitude IS NOT NULL")} AS gps_complete_pct,
        {_QM_PCT.format(cond="fix_timestamp IS NOT NULL")} AS fix_timestamp_pct,
        {_QM_PCT.format(cond="hole_number IS NOT NULL")} AS hole_pct,
        {_QM_PCT.format(cond="section_number IS NOT NULL")} AS section_pct,
        {_QM_PCT.format(cond="location_index IS NOT NULL")} AS location_index_pct,
        {_QM_PCT.format(cond="current_hole IS NOT NULL")} AS current_hole_pct,
        {_QM_PCT.format(cond="current_hole_section IS NOT NULL")} AS current_hole_section_pct,
        {_QM_PCT.format(cond="round_start_time IS NOT NULL")} AS round_start_time_pct,
        {_QM_PCT.format(cond="round_end_time IS NOT NULL")} AS round_end_time_pct,
        {_QM_PCT.format(cond="start_hole IS NOT NULL")} AS start_hole_pct,
        {_QM_PCT.format(cond="start_section IS NOT NULL")} AS start_section_pct,
        {_QM_PCT.format(cond="is_complete IS NOT NULL")} AS is_complete_pct,
        {_QM_PCT.format(cond="goal_name IS NOT NULL")} AS goal_name_pct,
        {_QM_PCT.format(cond="is_projected IS NOT NULL")} AS is_projected_pct,
        {_QM_PCT.format(cond="is_problem IS NOT NULL")} AS is_problem_pct,
        {_QM_PCT.format(cond="device IS NOT NULL")} AS device_pct,
        {_QM_PCT.format(cond="battery_percentage IS NOT NULL")} AS battery_pct,
        {_QUALITY_SCORE} AS quality_score
    FROM fact_telemetry_event
    WHERE is_location_padding = FALSE
    GROUP BY course_id
)
SELECT
    course_id, total_events,
    pace_pct, pace_gap_pct, positional_gap_pct, gps_complete_pct, fix_timestamp_pct,
    hole_pct, section_pct, location_index_pct, current_hole_pct, current_hole_section_pct,
    round_start_time_pct, round_end_time_pct, start_hole_pct, start_section_pct,
    is_complete_pct, goal_name_pct, is_projected_pct, is_problem_pct,
    device_pct, battery_pct,
    quality_score,
    CASE
        WHEN quality_score >= 90 THEN 'Excellent'
        WHEN quality_score >= 75 THEN 'Good'
        WHEN quality_score >= 60 THEN 'Fair'
        WHEN quality_score >= 40 THEN 'Poor'
        ELSE 'Critical'
    END AS quality_category
FROM quality_metrics
ORDER BY quality_score DESC
"""

_CC = "ROUND(100.0 * SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) / COUNT(*), 1)"

COLUMN_COMPLETENESS = f"""
SELECT
    course_id,
    COUNT(*) AS total_events,
    {_CC.format(cond="pace IS NOT NULL")} AS pace_pct,
    {_CC.format(cond="pace_gap IS NOT NULL")} AS pace_gap_pct,
    {_CC.format(cond="hole_number IS NOT NULL")} AS hole_pct,
    {_CC.format(cond="section_number IS NOT NULL")} AS section_pct,
    {_CC.format(cond="latitude IS NOT NULL AND longitude IS NOT NULL")} AS gps_pct,
    {_CC.format(cond="fix_timestamp IS NOT NULL")} AS fix_timestamp_pct,
    {_CC.format(cond="start_hole IS NOT NULL")} AS start_hole_pct,
    {_CC.format(cond="start_section IS NOT NULL")} AS start_section_pct,
    {_CC.format(cond="is_complete IS NOT NULL")} AS is_complete_pct,
    {_CC.format(cond="battery_percentage IS NOT NULL")} AS battery_pct,
    {_CC.format(cond="device IS NOT NULL")} AS device_pct
FROM fact_telemetry_event
WHERE is_location_padding = FALSE
GROUP BY course_id
ORDER BY course_id
"""

COLUMN_COMPLETENESS_EXTENDED = f"""
SELECT
    course_id,
    COUNT(*) AS total_events,
    {_CC.format(cond="pace IS NOT NULL")} AS pace_pct,
    {_CC.format(cond="pace_gap IS NOT NULL")} AS pace_gap_pct,
    {_CC.format(cond="positional_gap IS NOT NULL")} AS positional_gap_pct,
    {_CC.format(cond="latitude IS NOT NULL")} AS latitude_pct,
    {_CC.format(cond="longitude IS NOT NULL")} AS longitude_pct,
    {_CC.format(cond="fix_timestamp IS NOT NULL")} AS fix_timestamp_pct,
    {_CC.format(cond="hole_number IS NOT NULL")} AS hole_pct,
    {_CC.format(cond="section_number IS NOT NULL")} AS section_pct,
    {_CC.format(cond="location_index IS NOT NULL")} AS location_index_pct,
    {_CC.format(cond="current_hole IS NOT NULL")} AS current_hole_pct,
    {_CC.format(cond="current_hole_section IS NOT NULL")} AS current_hole_section_pct,
    {_CC.format(cond="round_start_time IS NOT NULL")} AS round_start_time_pct,
    {_CC.format(cond="round_end_time IS NOT NULL")} AS round_end_time_pct,
    {_CC.format(cond="start_hole IS NOT NULL")} AS start_hole_pct,
    {_CC.format(cond="start_section IS NOT NULL")} AS start_section_pct,
    {_CC.format(cond="is_complete IS NOT NULL")} AS is_complete_pct,
    {_CC.format(cond="goal_name IS NOT NULL")} AS goal_name_pct,
    {_CC.format(cond="is_projected IS NOT NULL")} AS is_projected_pct,
    {_CC.format(cond="is_problem IS NOT NULL")} AS is_problem_pct,
    {_CC.format(cond="goal_time IS NOT NULL")} AS goal_time_pct,
    {_CC.format(cond="end_section IS NOT NULL")} AS end_section_pct,
    {_CC.format(cond="device IS NOT NULL")} AS device_pct,
    {_CC.format(cond="battery_percentage IS NOT NULL")} AS battery_pct
FROM fact_telemetry_event
WHERE is_location_padding = FALSE
GROUP BY course_id
ORDER BY course_id
"""

PADDING_ANALYSIS = """
SELECT
    course_id,
    COUNT(*) AS total_events,
    SUM(CASE WHEN is_location_padding = TRUE THEN 1 ELSE 0 END) AS padding_events,
    SUM(CASE WHEN is_location_padding = FALSE THEN 1 ELSE 0 END) AS real_events,
    ROUND(100.0 * SUM(CASE WHEN is_location_padding = TRUE THEN 1 ELSE 0 END) / COUNT(*), 1) AS padding_pct
FROM fact_telemetry_event
GROUP BY course_id
ORDER BY padding_pct DESC
"""

TOPOLOGY = """
SELECT
    facility_id AS course_id,
    unit_name,
    nine_number,
    section_start,
    section_end,
    section_end - section_start + 1 AS sections_in_nine
FROM dim_facility_topology
ORDER BY facility_id, nine_number
"""

COURSE_PROFILE = """
SELECT
    course_id,
    course_type,
    COALESCE(is_loop_course, FALSE) AS is_loop_course,
    volume_profile,
    peak_season_start_month,
    peak_season_end_month,
    notes
FROM dim_course_profile
ORDER BY course_id
"""

LOOP_COURSES = """
SELECT course_id, course_type, notes
FROM dim_course_profile
WHERE is_loop_course = TRUE
   OR course_type LIKE '%loop%'
ORDER BY course_id
"""

COURSE_SUMMARY_WITH_PROFILE = """
SELECT
    cs.course_id,
    cs.round_count,
    cs.event_count,
    cs.real_events,
    cs.first_date,
    cs.last_date,
    cs.total_days,
    cs.playing_days,
    cs.inferred_type,
    COALESCE(cp.course_type, cs.inferred_type) AS course_type,
    COALESCE(cp.is_loop_course, FALSE) AS is_loop_course,
    cp.volume_profile,
    cp.notes
FROM (
    SELECT
        course_id,
        COUNT(DISTINCT round_id) AS round_count,
        COUNT(*) AS event_count,
        SUM(CASE WHEN is_location_padding = FALSE THEN 1 ELSE 0 END) AS real_events,
        MIN(event_date) AS first_date,
        MAX(event_date) AS last_date,
        DATEDIFF(MAX(event_date), MIN(event_date)) + 1 AS total_days,
        COUNT(DISTINCT CASE WHEN is_location_padding = FALSE THEN event_date END) AS playing_days,
        CASE
            WHEN MAX(hole_number) >= 10 THEN '18-hole'
            WHEN MAX(section_number) > 54 THEN '27-hole'
            WHEN MAX(section_number) > 27 THEN '18-hole (loop)'
            ELSE '9-hole'
        END AS inferred_type
    FROM fact_telemetry_event
    GROUP BY course_id
) cs
LEFT JOIN dim_course_profile cp ON cs.course_id = cp.course_id
ORDER BY cs.course_id
"""

SECTIONS_PER_HOLE = """
SELECT
    course_id,
    hole_number,
    MIN(section_number) AS section_start,
    MAX(section_number) AS section_end,
    COUNT(DISTINCT section_number) AS sections_count,
    CASE
        WHEN MIN(section_number) IS NOT NULL AND MAX(section_number) IS NOT NULL
        THEN MAX(section_number) - MIN(section_number) + 1
        ELSE NULL
    END AS section_range
FROM fact_telemetry_event
WHERE is_location_padding = FALSE
  AND hole_number IS NOT NULL
  AND section_number IS NOT NULL
GROUP BY course_id, hole_number
ORDER BY course_id, hole_number
"""

SECTIONS_PER_HOLE_DIM = """
SELECT
    course_id,
    hole_number,
    section_start,
    section_end,
    sections_count,
    section_end - section_start + 1 AS section_range
FROM dim_sections_per_hole
ORDER BY course_id, hole_number
"""

ROUND_TYPES = """
SELECT
    course_id,
    COUNT(DISTINCT round_id) AS total_rounds,
    SUM(CASE WHEN is_nine_hole = 1 THEN 1 ELSE 0 END) AS nine_hole_rounds,
    SUM(CASE WHEN is_nine_hole = 0 THEN 1 ELSE 0 END) AS full_rounds,
    SUM(CASE WHEN is_complete = 1 THEN 1 ELSE 0 END) AS complete_rounds,
    SUM(CASE WHEN start_hole != 1 THEN 1 ELSE 0 END) AS shotgun_starts
FROM (
    SELECT
        course_id,
        round_id,
        MAX(CAST(is_nine_hole AS INTEGER)) AS is_nine_hole,
        MAX(CAST(is_complete AS INTEGER)) AS is_complete,
        MIN(start_hole) AS start_hole
    FROM fact_telemetry_event
    GROUP BY course_id, round_id
)
GROUP BY course_id
ORDER BY course_id
"""

ROUND_DURATION = """
SELECT
    course_id,
    COUNT(DISTINCT round_id) AS rounds_with_duration,
    ROUND(AVG(round_duration_minutes), 0) AS avg_duration_min,
    ROUND(MIN(round_duration_minutes), 0) AS min_duration_min,
    ROUND(MAX(round_duration_minutes), 0) AS max_duration_min
FROM fact_telemetry_event
WHERE round_duration_minutes IS NOT NULL
  AND round_duration_minutes > 0
  AND round_duration_minutes < 600
GROUP BY course_id
ORDER BY course_id
"""

ROUND_LIST = """
SELECT DISTINCT
    course_id,
    round_id,
    MIN(event_date) AS round_date,
    COUNT(*) AS event_count
FROM fact_telemetry_event
WHERE is_location_padding = FALSE
GROUP BY course_id, round_id
ORDER BY course_id, round_date DESC
LIMIT 100
"""

DEVICE_STATS = """
SELECT
    course_id,
    COUNT(DISTINCT device) AS unique_devices,
    ROUND(AVG(battery_percentage), 1) AS avg_battery,
    ROUND(MIN(battery_percentage), 1) AS min_battery,
    COUNT(*) AS total_events,
    SUM(CASE WHEN battery_percentage < 20 THEN 1 ELSE 0 END) AS low_battery_events,
    ROUND(100.0 * SUM(CASE WHEN battery_percentage < 20 THEN 1 ELSE 0 END) / COUNT(*), 1) AS low_battery_pct,
    SUM(CASE WHEN is_cache = TRUE THEN 1 ELSE 0 END) AS cached_events,
    ROUND(100.0 * SUM(CASE WHEN is_cache = TRUE THEN 1 ELSE 0 END) / COUNT(*), 1) AS cached_pct,
    SUM(CASE WHEN is_problem = TRUE THEN 1 ELSE 0 END) AS problem_events,
    ROUND(100.0 * SUM(CASE WHEN is_problem = TRUE THEN 1 ELSE 0 END) / COUNT(*), 1) AS problem_pct,
    SUM(CASE WHEN is_projected = TRUE THEN 1 ELSE 0 END) AS projected_events,
    ROUND(100.0 * SUM(CASE WHEN is_projected = TRUE THEN 1 ELSE 0 END) / COUNT(*), 1) AS projected_pct
FROM fact_telemetry_event
WHERE is_location_padding = FALSE
GROUP BY course_id
ORDER BY course_id
"""

COURSE_CENTROIDS = """
SELECT
    course_id,
    ROUND(AVG(latitude), 6) AS latitude,
    ROUND(AVG(longitude), 6) AS longitude,
    COUNT(*) AS event_count,
    SUM(CASE WHEN is_projected = TRUE THEN 1 ELSE 0 END) AS projected_events
FROM fact_telemetry_event
WHERE is_location_padding = FALSE
  AND latitude IS NOT NULL
  AND longitude IS NOT NULL
GROUP BY course_id
ORDER BY course_id
"""

ROUNDS_BY_MONTH = """
SELECT
    course_id,
    event_year,
    event_month,
    COUNT(DISTINCT round_id) AS round_count
FROM fact_telemetry_event
WHERE event_year IS NOT NULL
GROUP BY course_id, event_year, event_month
ORDER BY course_id, event_year, event_month
"""

ROUNDS_BY_WEEKDAY = """
SELECT
    course_id,
    event_weekday,
    COUNT(DISTINCT round_id) AS round_count
FROM fact_telemetry_event
WHERE event_weekday IS NOT NULL
GROUP BY course_id, event_weekday
ORDER BY course_id, event_weekday
"""

_HOLES_BUCKET = """CASE
        WHEN {col} < 9 THEN '<9'
        WHEN {col} = 9 THEN '9'
        WHEN {col} = 18 THEN '18'
        WHEN {col} = 27 THEN '27'
        WHEN {col} > 27 THEN '>27'
        ELSE 'other (10-26)'
    END"""

ROUND_LENGTH_DISTRIBUTION = f"""
WITH round_holes AS (
    SELECT
        course_id,
        round_id,
        COUNT(DISTINCT hole_number) AS holes_visited
    FROM fact_telemetry_event
    WHERE is_location_padding = FALSE
      AND hole_number IS NOT NULL
    GROUP BY course_id, round_id
)
SELECT
    course_id,
    {_HOLES_BUCKET.format(col="holes_visited")} AS round_length_bucket,
    COUNT(*) AS round_count
FROM round_holes
GROUP BY course_id, 2
ORDER BY course_id,
    CASE
        WHEN round_length_bucket = '<9' THEN 1
        WHEN round_length_bucket = '9' THEN 2
        WHEN round_length_bucket = '18' THEN 3
        WHEN round_length_bucket = '27' THEN 4
        WHEN round_length_bucket = '>27' THEN 5
        ELSE 6
    END
"""

ROUND_NINE_COMBINATIONS = f"""
WITH round_nines AS (
    SELECT
        course_id,
        round_id,
        SORT_ARRAY(COLLECT_SET(nine_number)) AS nines_array,
        COUNT(DISTINCT nine_number) AS nines_count,
        COUNT(DISTINCT hole_number) AS holes_played
    FROM fact_telemetry_event
    WHERE is_location_padding = FALSE
      AND nine_number IS NOT NULL
    GROUP BY course_id, round_id
)
SELECT
    course_id,
    ARRAY_JOIN(nines_array, '+') AS nines_played,
    nines_count,
    {_HOLES_BUCKET.format(col="holes_played")} AS holes_played_bucket,
    COUNT(*) AS round_count
FROM round_nines
GROUP BY course_id, nines_array, nines_count, 4
ORDER BY course_id, nines_count, nines_played
"""

_ROUND_STATS_CTE = """
    SELECT
        course_id,
        round_id,
        MIN(fix_timestamp) AS first_fix,
        MAX(fix_timestamp) AS last_fix,
        MIN(round_start_time) AS round_start,
        MAX(round_end_time) AS round_end,
        MAX(round_duration_minutes) AS duration_minutes,
        MIN(start_hole) AS start_hole,
        MIN(hole_number) AS min_hole,
        MAX(hole_number) AS max_hole,
        MIN(section_number) AS min_section,
        MAX(section_number) AS max_section,
        COUNT(DISTINCT hole_number) AS holes_visited,
        COUNT(DISTINCT section_number) AS sections_visited,
        MAX(CAST(is_complete AS INTEGER)) AS is_complete,
        MAX(CAST(is_nine_hole AS INTEGER)) AS is_nine_hole,
        COUNT(*) AS event_count,
        SUM(CASE WHEN is_location_padding = FALSE THEN 1 ELSE 0 END) AS real_events,
        SUM(CASE WHEN pace IS NOT NULL THEN 1 ELSE 0 END) AS events_with_pace
    FROM fact_telemetry_event
    {where}
    GROUP BY course_id, round_id
"""

_ROUND_VALIDATION_SELECT = """
SELECT
    course_id,
    round_id,
    duration_minutes,
    start_hole,
    min_hole,
    max_hole,
    holes_visited,
    sections_visited,
    event_count,
    real_events,
    is_complete,
    is_nine_hole,
    CASE
        WHEN duration_minutes IS NULL THEN FALSE
        WHEN is_nine_hole = 1 AND duration_minutes BETWEEN 45 AND 200 THEN TRUE
        WHEN is_nine_hole = 0 AND duration_minutes BETWEEN 90 AND 400 THEN TRUE
        ELSE FALSE
    END AS duration_valid,
    CASE
        WHEN start_hole IS NULL THEN FALSE
        WHEN min_hole IS NULL THEN FALSE
        WHEN start_hole > 1 AND min_hole = start_hole THEN TRUE
        WHEN start_hole = 1 AND min_hole = 1 THEN TRUE
        ELSE FALSE
    END AS sequence_valid,
    CASE
        WHEN real_events < 10 THEN FALSE
        WHEN is_nine_hole = 1 AND real_events >= 9 THEN TRUE
        WHEN is_nine_hole = 0 AND real_events >= 18 THEN TRUE
        ELSE FALSE
    END AS events_valid,
    CASE
        WHEN events_with_pace = 0 THEN FALSE
        WHEN CAST(events_with_pace AS DOUBLE) / NULLIF(real_events, 0) >= 0.5 THEN TRUE
        ELSE FALSE
    END AS pace_valid
FROM round_stats
"""

ROUND_VALIDATION = (
    "WITH round_stats AS (" + _ROUND_STATS_CTE.format(where="") + ")"
    + _ROUND_VALIDATION_SELECT
    + "ORDER BY course_id, round_id"
)

ROUND_VALIDATION_SUMMARY = """
WITH validations AS (
    SELECT
        course_id,
        round_id,
        round_duration_minutes,
        is_nine_hole,
        is_complete,
        real_events,
        events_with_pace,
        CASE
            WHEN round_duration_minutes IS NULL THEN 0
            WHEN is_nine_hole AND round_duration_minutes BETWEEN 45 AND 200 THEN 1
            WHEN NOT is_nine_hole AND round_duration_minutes BETWEEN 90 AND 400 THEN 1
            ELSE 0
        END AS duration_valid,
        CASE
            WHEN real_events < 10 THEN 0
            WHEN is_nine_hole AND real_events >= 9 THEN 1
            WHEN NOT is_nine_hole AND real_events >= 18 THEN 1
            ELSE 0
        END AS events_valid,
        CASE
            WHEN events_with_pace = 0 THEN 0
            WHEN CAST(events_with_pace AS DOUBLE) / NULLIF(real_events, 0) >= 0.5 THEN 1
            ELSE 0
        END AS pace_valid
    FROM (
        SELECT
            course_id,
            round_id,
            MAX(round_duration_minutes) AS round_duration_minutes,
            MAX(CAST(is_nine_hole AS INTEGER)) = 1 AS is_nine_hole,
            MAX(CAST(is_complete AS INTEGER)) = 1 AS is_complete,
            SUM(CASE WHEN is_location_padding = FALSE THEN 1 ELSE 0 END) AS real_events,
            SUM(CASE WHEN pace IS NOT NULL THEN 1 ELSE 0 END) AS events_with_pace
        FROM fact_telemetry_event
        GROUP BY course_id, round_id
    )
)
SELECT
    course_id,
    COUNT(*) AS total_rounds,
    SUM(duration_valid) AS rounds_duration_valid,
    SUM(events_valid) AS rounds_events_valid,
    SUM(pace_valid) AS rounds_pace_valid,
    ROUND(100.0 * SUM(duration_valid) / COUNT(*), 1) AS pct_duration_valid,
    ROUND(100.0 * SUM(events_valid) / COUNT(*), 1) AS pct_events_valid,
    ROUND(100.0 * SUM(pace_valid) / COUNT(*), 1) AS pct_pace_valid
FROM validations
GROUP BY course_id
ORDER BY course_id
"""

_ROUND_DURATION_DETAILS_BODY = """
WITH round_stats AS (
    SELECT
        course_id,
        round_id,
        MAX(round_duration_minutes) AS duration_minutes,
        MAX(CAST(is_nine_hole AS INTEGER)) = 1 AS is_nine_hole,
        COUNT(DISTINCT hole_number) AS holes_visited,
        MIN(event_date) AS round_date
    FROM fact_telemetry_event
    WHERE is_location_padding = FALSE
      {extra_where}
    GROUP BY course_id, round_id
)
SELECT
    course_id,
    round_id,
    round_date,
    duration_minutes,
    is_nine_hole,
    holes_visited,
    CASE WHEN is_nine_hole THEN '9-hole' ELSE '18-hole' END AS round_type
FROM round_stats
WHERE duration_minutes IS NOT NULL
  AND duration_minutes > 0
  AND duration_minutes < 600
ORDER BY {order}
"""

ROUND_DURATION_DETAILS = _ROUND_DURATION_DETAILS_BODY.format(
    extra_where="", order="course_id, round_date DESC"
)

GLOBAL_OVERVIEW = """
SELECT
    COUNT(DISTINCT course_id) AS total_courses,
    COUNT(DISTINCT round_id) AS total_rounds,
    COUNT(*) AS total_events,
    SUM(CASE WHEN is_location_padding = FALSE THEN 1 ELSE 0 END) AS real_events,
    COUNT(DISTINCT device) AS unique_devices,
    MIN(event_date) AS earliest_date,
    MAX(event_date) AS latest_date,
    COUNT(DISTINCT event_date) AS total_playing_days,
    ROUND(AVG(pace), 1) AS global_avg_pace,
    ROUND(AVG(battery_percentage), 1) AS global_avg_battery
FROM fact_telemetry_event
WHERE is_location_padding = FALSE
"""

GLOBAL_PACE_COMPARISON = """
SELECT
    course_id,
    COUNT(DISTINCT round_id) AS round_count,
    ROUND(AVG(pace), 1) AS avg_pace,
    ROUND(PERCENTILE_APPROX(pace, 0.5), 1) AS median_pace,
    ROUND(MIN(pace), 1) AS min_pace,
    ROUND(MAX(pace), 1) AS max_pace,
    ROUND(STDDEV(pace), 1) AS pace_stddev,
    ROUND(AVG(pace_gap), 1) AS avg_pace_gap
FROM fact_telemetry_event
WHERE is_location_padding = FALSE
  AND pace IS NOT NULL
  AND pace > 0
  AND pace < 600
GROUP BY course_id
ORDER BY avg_pace
"""

GLOBAL_ROUND_DURATION_COMPARISON = """
WITH round_durations AS (
    SELECT
        course_id,
        round_id,
        MAX(round_duration_minutes) AS duration_minutes,
        MAX(CAST(is_nine_hole AS INTEGER)) = 1 AS is_nine_hole
    FROM fact_telemetry_event
    WHERE is_location_padding = FALSE
      AND round_duration_minutes IS NOT NULL
      AND round_duration_minutes > 30
      AND round_duration_minutes < 480
    GROUP BY course_id, round_id
)
SELECT
    course_id,
    COUNT(*) AS round_count,
    ROUND(AVG(duration_minutes), 0) AS avg_duration_min,
    ROUND(PERCENTILE_APPROX(duration_minutes, 0.5), 0) AS median_duration_min,
    ROUND(MIN(duration_minutes), 0) AS min_duration_min,
    ROUND(MAX(duration_minutes), 0) AS max_duration_min,
    ROUND(STDDEV(duration_minutes), 0) AS duration_stddev,
    SUM(CASE WHEN is_nine_hole THEN 1 ELSE 0 END) AS nine_hole_rounds,
    SUM(CASE WHEN NOT is_nine_hole THEN 1 ELSE 0 END) AS full_rounds
FROM round_durations
GROUP BY course_id
ORDER BY avg_duration_min
"""

GLOBAL_WEEKDAY_HEATMAP = """
SELECT
    course_id,
    event_weekday,
    COUNT(DISTINCT round_id) AS round_count
FROM fact_telemetry_event
WHERE is_location_padding = FALSE
  AND event_weekday IS NOT NULL
GROUP BY course_id, event_weekday
ORDER BY course_id, event_weekday
"""

GLOBAL_HOURLY_DISTRIBUTION = """
SELECT
    course_id,
    HOUR(round_start_time) AS start_hour,
    COUNT(DISTINCT round_id) AS round_count
FROM fact_telemetry_event
WHERE is_location_padding = FALSE
  AND round_start_time IS NOT NULL
GROUP BY course_id, HOUR(round_start_time)
ORDER BY course_id, start_hour
"""

GLOBAL_DATA_QUALITY_RANKING = """
WITH quality_metrics AS (
    SELECT
        course_id,
        COUNT(*) AS total_events,
        ROUND(100.0 * SUM(CASE WHEN pace IS NOT NULL THEN 1 ELSE 0 END) / NULLIF(COUNT(*), 0), 1) AS pace_completeness,
        ROUND(100.0 * SUM(CASE WHEN latitude IS NOT NULL AND longitude IS NOT NULL THEN 1 ELSE 0 END) / NULLIF(COUNT(*), 0), 1) AS gps_completeness,
        ROUND(100.0 * SUM(CASE WHEN hole_number IS NOT NULL THEN 1 ELSE 0 END) / NULLIF(COUNT(*), 0), 1) AS hole_completeness,
        ROUND(100.0 * SUM(CASE WHEN fix_timestamp IS NOT NULL THEN 1 ELSE 0 END) / NULLIF(COUNT(*), 0), 1) AS timestamp_completeness
    FROM fact_telemetry_event
    WHERE is_location_padding = FALSE
    GROUP BY course_id
)
SELECT
    course_id,
    total_events,
    pace_completeness,
    gps_completeness,
    hole_completeness,
    timestamp_completeness,
    ROUND((pace_completeness + gps_completeness + hole_completeness + timestamp_completeness) / 4, 1) AS avg_quality_score,
    RANK() OVER (ORDER BY (pace_completeness + gps_completeness + hole_completeness + timestamp_completeness) / 4 DESC) AS quality_rank
FROM quality_metrics
ORDER BY quality_rank
"""

GLOBAL_DEVICE_FLEET = """
SELECT
    course_id,
    COUNT(DISTINCT device) AS unique_devices,
    COUNT(DISTINCT round_id) AS rounds_tracked,
    ROUND(CAST(COUNT(DISTINCT round_id) AS DOUBLE) / NULLIF(COUNT(DISTINCT device), 0), 1) AS rounds_per_device,
    ROUND(AVG(battery_percentage), 1) AS avg_battery,
    ROUND(MIN(battery_percentage), 1) AS min_battery,
    SUM(CASE WHEN battery_percentage < 20 THEN 1 ELSE 0 END) AS low_battery_events,
    SUM(CASE WHEN is_problem = TRUE THEN 1 ELSE 0 END) AS problem_events
FROM fact_telemetry_event
WHERE is_location_padding = FALSE
GROUP BY course_id
ORDER BY unique_devices DESC
"""

GLOBAL_MONTHLY_TREND = """
SELECT
    event_year,
    event_month,
    course_id,
    COUNT(DISTINCT round_id) AS round_count
FROM fact_telemetry_event
WHERE is_location_padding = FALSE
  AND event_year IS NOT NULL
  AND event_month IS NOT NULL
GROUP BY event_year, event_month, course_id
ORDER BY event_year, event_month, course_id
"""

GLOBAL_COMPLETION_RATES = """
WITH round_stats AS (
    SELECT
        course_id,
        round_id,
        MAX(CAST(is_complete AS INTEGER)) AS is_complete,
        COUNT(DISTINCT hole_number) AS holes_visited,
        MAX(CAST(is_nine_hole AS INTEGER)) AS is_nine_hole
    FROM fact_telemetry_event
    WHERE is_location_padding = FALSE
    GROUP BY course_id, round_id
)
SELECT
    course_id,
    COUNT(*) AS total_rounds,
    SUM(is_complete) AS complete_rounds,
    ROUND(100.0 * SUM(is_complete) / NULLIF(COUNT(*), 0), 1) AS completion_rate,
    ROUND(AVG(holes_visited), 1) AS avg_holes_visited,
    SUM(is_nine_hole) AS nine_hole_rounds,
    SUM(CASE WHEN is_nine_hole = 0 THEN 1 ELSE 0 END) AS eighteen_hole_rounds
FROM round_stats
GROUP BY course_id
ORDER BY completion_rate DESC
"""

_PACE_BY_HOLE_BODY = """
WITH hole_pace AS (
    SELECT
        course_id,
        hole_number,
        pace,
        round_id
    FROM fact_telemetry_event
    WHERE is_location_padding = FALSE
      AND pace IS NOT NULL
      AND pace > 0
      AND pace < 60
      AND hole_number IS NOT NULL
      {extra_where}
),
course_avg AS (
    SELECT
        course_id,
        ROUND(AVG(pace), 1) AS course_avg_pace
    FROM hole_pace
    GROUP BY course_id
)
SELECT
    hp.course_id,
    hp.hole_number,
    COUNT(DISTINCT hp.round_id) AS sample_rounds,
    COUNT(*) AS sample_events,
    ROUND(AVG(hp.pace), 1) AS avg_pace,
    ROUND(PERCENTILE_APPROX(hp.pace, 0.5), 1) AS median_pace,
    ROUND(MIN(hp.pace), 1) AS min_pace,
    ROUND(MAX(hp.pace), 1) AS max_pace,
    ROUND(STDDEV(hp.pace), 1) AS pace_stddev,
    ca.course_avg_pace,
    ROUND(AVG(hp.pace) - ca.course_avg_pace, 1) AS pace_vs_avg,
    CASE
        WHEN AVG(hp.pace) > ca.course_avg_pace * 1.15 THEN 'bottleneck'
        WHEN AVG(hp.pace) < ca.course_avg_pace * 0.85 THEN 'fast'
        ELSE 'normal'
    END AS hole_category
FROM hole_pace hp
JOIN course_avg ca ON hp.course_id = ca.course_id
GROUP BY hp.course_id, hp.hole_number, ca.course_avg_pace
ORDER BY {order}
"""

PACE_BY_HOLE = _PACE_BY_HOLE_BODY.format(extra_where="", order="hp.course_id, hp.hole_number")

PACE_BY_SECTION = """
SELECT
    course_id,
    hole_number,
    section_number,
    COUNT(DISTINCT round_id) AS sample_rounds,
    ROUND(AVG(pace), 1) AS avg_pace,
    ROUND(PERCENTILE_APPROX(pace, 0.5), 1) AS median_pace
FROM fact_telemetry_event
WHERE is_location_padding = FALSE
  AND pace IS NOT NULL
  AND pace > 0
  AND pace < 60
  AND hole_number IS NOT NULL
  AND section_number IS NOT NULL
GROUP BY course_id, hole_number, section_number
ORDER BY course_id, hole_number, section_number
"""

BOTTLENECK_SUMMARY = """
WITH hole_pace AS (
    SELECT
        course_id,
        hole_number,
        pace
    FROM fact_telemetry_event
    WHERE is_location_padding = FALSE
      AND pace IS NOT NULL
      AND pace > 0
      AND pace < 60
      AND hole_number IS NOT NULL
),
course_avg AS (
    SELECT
        course_id,
        AVG(pace) AS course_avg_pace
    FROM hole_pace
    GROUP BY course_id
),
hole_stats AS (
    SELECT
        hp.course_id,
        hp.hole_number,
        AVG(hp.pace) AS avg_pace,
        ca.course_avg_pace
    FROM hole_pace hp
    JOIN course_avg ca ON hp.course_id = ca.course_id
    GROUP BY hp.course_id, hp.hole_number, ca.course_avg_pace
)
SELECT
    course_id,
    COUNT(*) AS total_holes,
    SUM(CASE WHEN avg_pace > course_avg_pace * 1.15 THEN 1 ELSE 0 END) AS bottleneck_holes,
    SUM(CASE WHEN avg_pace < course_avg_pace * 0.85 THEN 1 ELSE 0 END) AS fast_holes,
    ROUND(AVG(course_avg_pace), 1) AS course_avg_pace,
    ROUND(MAX(avg_pace), 1) AS slowest_hole_pace,
    ROUND(MIN(avg_pace), 1) AS fastest_hole_pace
FROM hole_stats
GROUP BY course_id
ORDER BY bottleneck_holes DESC
"""

INFRASTRUCTURE_STATS = """
SELECT
    COUNT(DISTINCT course_id) AS total_courses,
    COUNT(DISTINCT round_id) AS total_rounds,
    COUNT(*) AS total_events,
    SUM(CASE WHEN is_location_padding = FALSE THEN 1 ELSE 0 END) AS real_events,
    MIN(event_date) AS earliest_date,
    MAX(event_date) AS latest_date,
    COUNT(DISTINCT event_date) AS total_days,
    COUNT(DISTINCT ingest_date) AS ingest_batches
FROM fact_telemetry_event
"""

EVENTS_PER_COURSE = """
SELECT
    course_id,
    COUNT(DISTINCT round_id) AS rounds,
    COUNT(*) AS total_events,
    SUM(CASE WHEN is_location_padding = FALSE THEN 1 ELSE 0 END) AS real_events,
    MIN(event_date) AS first_date,
    MAX(event_date) AS last_date,
    COUNT(DISTINCT event_date) AS playing_days,
    ROUND(COUNT(*) * 1.0 / NULLIF(COUNT(DISTINCT round_id), 0), 0) AS avg_events_per_round
FROM fact_telemetry_event
GROUP BY course_id
ORDER BY total_events DESC
"""

EVENTS_BY_MONTH = """
SELECT
    event_year,
    event_month,
    COUNT(DISTINCT course_id) AS courses_active,
    COUNT(DISTINCT round_id) AS rounds,
    COUNT(*) AS events
FROM fact_telemetry_event
WHERE event_year IS NOT NULL AND event_month IS NOT NULL
GROUP BY event_year, event_month
ORDER BY event_year, event_month
"""

# ===========================================================================
# Exploration queries (pipeline/queries/exploration/*.sql)
# ===========================================================================

EXPL_BATTERY_ANALYSIS = """
SELECT
    course_id,
    COUNT(*) AS total_events,
    SUM(CASE WHEN battery_percentage < 20 THEN 1 ELSE 0 END) AS low_battery,
    ROUND(100.0 * SUM(CASE WHEN battery_percentage < 20 THEN 1 ELSE 0 END) / COUNT(*), 1) AS pct_low_battery
FROM fact_telemetry_event
WHERE battery_percentage IS NOT NULL
GROUP BY course_id
ORDER BY pct_low_battery DESC
"""

EXPL_COLUMN_COMPLETENESS = """
SELECT
    course_id,
    COUNT(*) AS total,
    ROUND(100.0 * SUM(CASE WHEN pace IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*), 1) AS pace_pct,
    ROUND(100.0 * SUM(CASE WHEN pace_gap IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*), 1) AS pace_gap_pct,
    ROUND(100.0 * SUM(CASE WHEN hole_number IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*), 1) AS hole_pct,
    ROUND(100.0 * SUM(CASE WHEN battery_percentage IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*), 1) AS battery_pct,
    ROUND(100.0 * SUM(CASE WHEN latitude IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*), 1) AS gps_pct
FROM fact_telemetry_event
GROUP BY course_id
ORDER BY course_id
"""

EXPL_COURSE_CONFIGURATION = """
SELECT
    course_id,
    total_rounds,
    likely_course_type,
    max_section_seen,
    max_holes_in_round,
    ROUND(pct_nine_hole, 1) AS pct_nine_hole,
    unique_start_holes,
    ROUND(pct_shotgun_starts, 1) AS pct_shotgun_starts,
    course_complexity_score
FROM course_configuration_analysis
ORDER BY course_complexity_score DESC
"""

EXPL_CRITICAL_GAPS = """
SELECT
    course_id,
    total_events,
    total_rounds,
    ROUND(usability_score, 1) AS usability_score,
    pace_data_status,
    location_data_status,
    device_health_status,
    round_config_status,
    top_recommendation
FROM critical_column_gaps
ORDER BY usability_score DESC
"""

EXPL_DATA_COMPLETENESS_SUMMARY = """
SELECT
    course_id,
    COUNT(*) AS total_records,
    COUNT(DISTINCT round_id) AS unique_rounds,
    ROUND(100.0 * SUM(CASE WHEN fix_timestamp IS NOT NULL AND is_timestamp_missing = false THEN 1 ELSE 0 END) / COUNT(*), 1) AS timestamp_complete_pct,
    ROUND(100.0 * SUM(CASE WHEN pace IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*), 1) AS pace_complete_pct,
    ROUND(100.0 * SUM(CASE WHEN pace_gap IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*), 1) AS pace_gap_complete_pct,
    ROUND(100.0 * SUM(CASE WHEN positional_gap IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*), 1) AS pos_gap_complete_pct,
    ROUND(100.0 * SUM(CASE WHEN hole_number IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*), 1) AS hole_complete_pct,
    ROUND(100.0 * SUM(CASE WHEN latitude IS NOT NULL AND longitude IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*), 1) AS gps_complete_pct,
    ROUND(100.0 * SUM(CASE WHEN battery_percentage IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*), 1) AS battery_complete_pct,
    ROUND(100.0 * SUM(CASE WHEN start_hole IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*), 1) AS start_hole_complete_pct,
    ROUND(
        (
            100.0 * SUM(CASE WHEN fix_timestamp IS NOT NULL AND is_timestamp_missing = false THEN 1 ELSE 0 END) / COUNT(*) +
            100.0 * SUM(CASE WHEN pace IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*) +
            100.0 * SUM(CASE WHEN hole_number IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*) +
            100.0 * SUM(CASE WHEN latitude IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*)
        ) / 4, 1
    ) AS overall_completeness_score
FROM fact_telemetry_event
GROUP BY course_id
ORDER BY overall_completeness_score DESC
"""

# NOTE: the reference selected pct_missing_hole / pct_low_battery, columns
# the gold model never emits (SURVEY §7.4 trap 7) — fixed to the model's
# real columns.
EXPL_DATA_QUALITY_OVERVIEW = """
SELECT
    course_id,
    total_events,
    total_rounds,
    ROUND(data_quality_score, 1) AS data_quality_score,
    ROUND(pct_missing_pace, 1) AS pct_missing_pace,
    ROUND(pct_missing_hole_number, 1) AS pct_missing_hole,
    low_battery_events
FROM data_quality_overview
ORDER BY data_quality_score DESC
"""

EXPL_DATASET_VARIANCE = """
SELECT
    course_id,
    COUNT(*) AS total_events,
    COUNT(DISTINCT round_id) AS total_rounds,
    ROUND(CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT round_id), 1) AS avg_events_per_round,
    MIN(fix_timestamp) AS earliest_data,
    MAX(fix_timestamp) AS latest_data,
    COUNT(DISTINCT DATE(fix_timestamp)) AS unique_days,
    MAX(location_index) AS max_location_index,
    COUNT(DISTINCT hole_number) AS unique_holes_seen,
    COUNT(DISTINCT start_hole) AS unique_start_holes
FROM fact_telemetry_event
GROUP BY course_id
ORDER BY total_events DESC
"""

EXPL_EXECUTIVE_SUMMARY = """
SELECT
    COUNT(DISTINCT course_id) AS total_courses,
    COUNT(DISTINCT round_id) AS total_rounds,
    COUNT(*) AS total_events
FROM fact_telemetry_event
"""

EXPL_PACE_GAP_COVERAGE = """
SELECT
    course_id,
    COUNT(*) AS total_events,
    SUM(CASE WHEN pace_gap IS NULL THEN 1 ELSE 0 END) AS missing_pace_gap,
    ROUND(100.0 * SUM(CASE WHEN pace_gap IS NULL THEN 1 ELSE 0 END) / COUNT(*), 2) AS pct_missing
FROM fact_telemetry_event
GROUP BY course_id
ORDER BY pct_missing DESC
"""

EXPL_NULL_ANALYSIS = """
SELECT
    course_id,
    COUNT(*) AS total_rows,
    SUM(CASE WHEN is_timestamp_missing = true THEN 1 ELSE 0 END) AS null_timestamp,
    ROUND(100.0 * SUM(CASE WHEN is_timestamp_missing = true THEN 1 ELSE 0 END) / COUNT(*), 2) AS pct_null_timestamp,
    SUM(CASE WHEN pace IS NULL THEN 1 ELSE 0 END) AS null_pace,
    ROUND(100.0 * SUM(CASE WHEN pace IS NULL THEN 1 ELSE 0 END) / COUNT(*), 2) AS pct_null_pace,
    SUM(CASE WHEN pace_gap IS NULL THEN 1 ELSE 0 END) AS null_pace_gap,
    ROUND(100.0 * SUM(CASE WHEN pace_gap IS NULL THEN 1 ELSE 0 END) / COUNT(*), 2) AS pct_null_pace_gap,
    SUM(CASE WHEN positional_gap IS NULL THEN 1 ELSE 0 END) AS null_positional_gap,
    ROUND(100.0 * SUM(CASE WHEN positional_gap IS NULL THEN 1 ELSE 0 END) / COUNT(*), 2) AS pct_null_positional_gap,
    SUM(CASE WHEN hole_number IS NULL THEN 1 ELSE 0 END) AS null_hole,
    ROUND(100.0 * SUM(CASE WHEN hole_number IS NULL THEN 1 ELSE 0 END) / COUNT(*), 2) AS pct_null_hole,
    SUM(CASE WHEN section_number IS NULL THEN 1 ELSE 0 END) AS null_section,
    ROUND(100.0 * SUM(CASE WHEN section_number IS NULL THEN 1 ELSE 0 END) / COUNT(*), 2) AS pct_null_section,
    SUM(CASE WHEN latitude IS NULL OR longitude IS NULL THEN 1 ELSE 0 END) AS null_gps,
    ROUND(100.0 * SUM(CASE WHEN latitude IS NULL OR longitude IS NULL THEN 1 ELSE 0 END) / COUNT(*), 2) AS pct_null_gps,
    SUM(CASE WHEN battery_percentage IS NULL THEN 1 ELSE 0 END) AS null_battery,
    ROUND(100.0 * SUM(CASE WHEN battery_percentage IS NULL THEN 1 ELSE 0 END) / COUNT(*), 2) AS pct_null_battery,
    SUM(CASE WHEN start_hole IS NULL THEN 1 ELSE 0 END) AS null_start_hole,
    ROUND(100.0 * SUM(CASE WHEN start_hole IS NULL THEN 1 ELSE 0 END) / COUNT(*), 2) AS pct_null_start_hole,
    SUM(CASE WHEN goal_time IS NULL THEN 1 ELSE 0 END) AS null_goal_time,
    ROUND(100.0 * SUM(CASE WHEN goal_time IS NULL THEN 1 ELSE 0 END) / COUNT(*), 2) AS pct_null_goal_time
FROM fact_telemetry_event
GROUP BY course_id
ORDER BY pct_null_timestamp DESC, course_id
"""

EXPL_NULL_PATTERN_BY_HOLE = """
SELECT
    course_id,
    hole_number,
    COUNT(*) AS total_records,
    SUM(CASE WHEN pace IS NULL THEN 1 ELSE 0 END) AS null_pace,
    SUM(CASE WHEN pace_gap IS NULL THEN 1 ELSE 0 END) AS null_pace_gap,
    SUM(CASE WHEN positional_gap IS NULL THEN 1 ELSE 0 END) AS null_pos_gap,
    SUM(CASE WHEN battery_percentage IS NULL THEN 1 ELSE 0 END) AS null_battery,
    SUM(CASE WHEN is_timestamp_missing = true THEN 1 ELSE 0 END) AS null_timestamp,
    ROUND(100.0 * SUM(CASE WHEN pace IS NULL THEN 1 ELSE 0 END) / COUNT(*), 1) AS pct_null_pace,
    ROUND(100.0 * SUM(CASE WHEN pace_gap IS NULL THEN 1 ELSE 0 END) / COUNT(*), 1) AS pct_null_pace_gap,
    ROUND(
        100.0 * (
            SUM(CASE WHEN pace IS NULL THEN 1 ELSE 0 END) +
            SUM(CASE WHEN pace_gap IS NULL THEN 1 ELSE 0 END) +
            SUM(CASE WHEN positional_gap IS NULL THEN 1 ELSE 0 END)
        ) / (COUNT(*) * 3), 1
    ) AS avg_null_rate
FROM fact_telemetry_event
WHERE hole_number IS NOT NULL
GROUP BY course_id, hole_number
ORDER BY course_id, hole_number
"""

EXPL_BOTTLENECK_ANALYSIS = """
SELECT
    course_id,
    hole_number,
    section_number,
    hole_section,
    ROUND(AVG(latitude), 5) AS lat,
    ROUND(AVG(longitude), 5) AS lon,
    ROUND(AVG(pace_gap), 0) AS avg_pace_gap_seconds,
    ROUND(STDDEV(pace_gap), 0) AS pace_gap_stddev,
    ROUND(AVG(positional_gap), 0) AS avg_positional_gap,
    ROUND(AVG(pace), 0) AS avg_pace_seconds,
    COUNT(DISTINCT round_id) AS rounds_measured,
    COUNT(*) AS total_fixes
FROM fact_telemetry_event
WHERE latitude IS NOT NULL
  AND longitude IS NOT NULL
  AND pace_gap IS NOT NULL
  AND hole_number IS NOT NULL
GROUP BY course_id, hole_number, section_number, hole_section
HAVING COUNT(*) > 50
ORDER BY course_id, section_number
"""

_NP_FILTER = "COUNT(*) FILTER (WHERE {cond})"

EXPL_NP_MISSING_TS_OVERVIEW = f"""
SELECT
    COUNT(*) AS total_rows,
    {_NP_FILTER.format(cond="is_timestamp_missing = true")} AS missing_timestamp_count,
    {_NP_FILTER.format(cond="is_timestamp_missing = false")} AS valid_timestamp_count,
    ROUND(100.0 * {_NP_FILTER.format(cond="is_timestamp_missing = true")} / COUNT(*), 2) AS missing_percentage
FROM fact_telemetry_event
"""

EXPL_NP_MISSING_TS_BY_COURSE = f"""
SELECT
    course_id,
    COUNT(*) AS total_rows,
    {_NP_FILTER.format(cond="is_timestamp_missing = true")} AS missing_count,
    {_NP_FILTER.format(cond="is_timestamp_missing = false")} AS valid_count,
    ROUND(100.0 * {_NP_FILTER.format(cond="is_timestamp_missing = true")} / COUNT(*), 2) AS missing_percentage
FROM fact_telemetry_event
GROUP BY course_id
ORDER BY missing_percentage DESC, missing_count DESC
"""

EXPL_NP_MISSING_TS_BY_INGEST = f"""
SELECT
    ingest_date,
    COUNT(*) AS total_rows,
    {_NP_FILTER.format(cond="is_timestamp_missing = true")} AS missing_count,
    ROUND(100.0 * {_NP_FILTER.format(cond="is_timestamp_missing = true")} / COUNT(*), 2) AS missing_percentage
FROM fact_telemetry_event
GROUP BY ingest_date
ORDER BY ingest_date DESC
"""

EXPL_NP_MISSING_TS_BY_ROUND = f"""
SELECT
    course_id,
    round_id,
    COUNT(*) AS total_fixes,
    {_NP_FILTER.format(cond="is_timestamp_missing = true")} AS missing_timestamp_count,
    {_NP_FILTER.format(cond="is_timestamp_missing = false")} AS valid_timestamp_count,
    ROUND(100.0 * {_NP_FILTER.format(cond="is_timestamp_missing = true")} / COUNT(*), 2) AS missing_percentage
FROM fact_telemetry_event
WHERE is_timestamp_missing = true
GROUP BY course_id, round_id
ORDER BY missing_timestamp_count DESC
LIMIT 20
"""

EXPL_NP_MISSING_TS_BY_LOCATION_INDEX = f"""
SELECT
    location_index,
    COUNT(*) AS total_rows,
    {_NP_FILTER.format(cond="is_timestamp_missing = true")} AS missing_count,
    ROUND(100.0 * {_NP_FILTER.format(cond="is_timestamp_missing = true")} / COUNT(*), 2) AS missing_percentage
FROM fact_telemetry_event
GROUP BY location_index
HAVING {_NP_FILTER.format(cond="is_timestamp_missing = true")} > 0
ORDER BY location_index
"""

EXPL_NP_NULL_CORRELATION = f"""
SELECT
    is_timestamp_missing,
    COUNT(*) AS row_count,
    {_NP_FILTER.format(cond="longitude IS NULL")} AS null_longitude_count,
    {_NP_FILTER.format(cond="latitude IS NULL")} AS null_latitude_count,
    {_NP_FILTER.format(cond="pace IS NULL")} AS null_pace_count,
    {_NP_FILTER.format(cond="battery_percentage IS NULL")} AS null_battery_count,
    {_NP_FILTER.format(cond="hole_number IS NULL")} AS null_hole_count
FROM fact_telemetry_event
GROUP BY is_timestamp_missing
ORDER BY is_timestamp_missing
"""

EXPL_NP_MISSING_TS_SAMPLE = """
SELECT
    course_id, round_id, location_index, hole_number, section_number,
    longitude, latitude, pace, is_cache, is_timestamp_missing,
    fix_timestamp, event_date
FROM fact_telemetry_event
WHERE is_timestamp_missing = true
ORDER BY course_id, round_id, location_index
LIMIT 50
"""

EXPL_NP_QUALITY_REPORT = f"""
SELECT
    course_id,
    COUNT(*) AS total_rows,
    {_NP_FILTER.format(cond="is_timestamp_missing = true")} AS missing_timestamps,
    {_NP_FILTER.format(cond="longitude IS NULL OR latitude IS NULL")} AS missing_coordinates,
    {_NP_FILTER.format(cond="pace IS NULL")} AS missing_pace,
    {_NP_FILTER.format(cond="battery_percentage IS NULL")} AS missing_battery,
    {_NP_FILTER.format(cond="hole_number IS NULL")} AS missing_hole,
    {_NP_FILTER.format(cond="section_number IS NULL")} AS missing_section,
    {_NP_FILTER.format(cond="is_timestamp_missing = true AND (longitude IS NULL OR latitude IS NULL)")} AS missing_timestamp_and_coords
FROM fact_telemetry_event
GROUP BY course_id
ORDER BY missing_timestamps DESC
"""

EXPL_NP_MISSING_TS_TREND = f"""
SELECT
    TRUNC(CAST(ingest_date AS DATE), 'MM') AS ingest_month,
    COUNT(*) AS total_rows,
    {_NP_FILTER.format(cond="is_timestamp_missing = true")} AS missing_count,
    ROUND(100.0 * {_NP_FILTER.format(cond="is_timestamp_missing = true")} / COUNT(*), 2) AS missing_percentage
FROM fact_telemetry_event
GROUP BY TRUNC(CAST(ingest_date AS DATE), 'MM')
ORDER BY ingest_month DESC
"""

# ===========================================================================
# Example queries (pipeline/queries/examples/*.sql)
# ===========================================================================

EX_ROUNDS_BY_COURSE = """
SELECT course_id, COUNT(DISTINCT round_id) AS rounds
FROM fact_telemetry_event
GROUP BY course_id
ORDER BY rounds DESC
"""

EX_EVENTS_BY_COURSE = """
SELECT course_id, COUNT(*) AS total_events
FROM fact_telemetry_event
GROUP BY course_id
ORDER BY total_events DESC
"""

EX_SLOW_ROUNDS = """
SELECT
    round_id,
    course_id,
    AVG(pace) AS avg_pace,
    COUNT(*) AS event_count
FROM fact_telemetry_event
WHERE pace IS NOT NULL
GROUP BY round_id, course_id
HAVING AVG(pace) > 500
ORDER BY avg_pace DESC
LIMIT 10
"""

EX_EVENTS_BY_HOUR = """
SELECT
    HOUR(fix_timestamp) AS hour_of_day,
    COUNT(*) AS fixes,
    COUNT(DISTINCT round_id) AS rounds
FROM fact_telemetry_event
WHERE fix_timestamp IS NOT NULL
GROUP BY HOUR(fix_timestamp)
ORDER BY hour_of_day
"""

EX_EVENTS_BY_DATE = """
SELECT
    DATE(fix_timestamp) AS event_date,
    course_id,
    COUNT(*) AS events,
    COUNT(DISTINCT round_id) AS rounds
FROM fact_telemetry_event
WHERE fix_timestamp IS NOT NULL
GROUP BY DATE(fix_timestamp), course_id
ORDER BY event_date DESC, course_id
"""

EX_DUPLICATE_FIX_CHECK = """
SELECT
    round_id,
    fix_timestamp,
    COUNT(*) AS duplicate_count
FROM fact_telemetry_event
GROUP BY round_id, fix_timestamp
HAVING COUNT(*) > 1
ORDER BY duplicate_count DESC
"""

EX_MISSING_CRITICAL_FIELDS = """
SELECT
    course_id,
    COUNT(*) AS total_events,
    SUM(CASE WHEN pace IS NULL THEN 1 ELSE 0 END) AS missing_pace,
    SUM(CASE WHEN hole_number IS NULL THEN 1 ELSE 0 END) AS missing_hole,
    SUM(CASE WHEN latitude IS NULL THEN 1 ELSE 0 END) AS missing_gps
FROM fact_telemetry_event
GROUP BY course_id
ORDER BY course_id
"""

DEMO_DATA_VOLUME = """
SELECT
    course_id,
    COUNT(DISTINCT round_id) AS rounds,
    COUNT(*) AS fixes
FROM fact_telemetry_event
GROUP BY course_id
ORDER BY fixes DESC
"""

DEMO_TOPOLOGY_ROWS = """
SELECT
    facility_id,
    COUNT(*) AS topology_rows
FROM dim_facility_topology
GROUP BY facility_id
ORDER BY facility_id
"""

DEMO_SEASONALITY_MONTHS = """
SELECT
    course_id,
    month_start,
    month_name,
    rounds,
    pct_total
FROM course_rounds_by_month
ORDER BY course_id, month_start
"""

_DEMO_RANKED_MONTHS = """
WITH ranked AS (
    SELECT
        course_id,
        month_start,
        month_name,
        rounds,
        pct_total,
        row_number() OVER (PARTITION BY course_id ORDER BY pct_total {direction}, month_start) AS rn
    FROM course_rounds_by_month
)
SELECT
    course_id,
    month_name,
    month_start,
    rounds,
    pct_total
FROM ranked
WHERE rn <= 3
ORDER BY course_id, rn
"""

DEMO_TOP3_MONTHS = _DEMO_RANKED_MONTHS.format(direction="DESC")
DEMO_BOTTOM3_MONTHS = _DEMO_RANKED_MONTHS.format(direction="ASC")

DEMO_SEASONALITY_WEEKDAYS = """
SELECT
    course_id,
    weekday_number,
    weekday_name,
    rounds
FROM course_rounds_by_weekday
ORDER BY course_id, weekday_number
"""

DEMO_RAREST_SECTIONS = """
SELECT
    course_id,
    section_number,
    COUNT(*) AS fixes
FROM fact_telemetry_event
WHERE section_number IS NOT NULL
GROUP BY course_id, section_number
ORDER BY fixes ASC
LIMIT 50
"""

TELEMETRY_QUERIES: dict[str, str] = {
    # dashboard constants
    "overview_stats": OVERVIEW_STATS,
    "course_summary": COURSE_SUMMARY,
    "data_quality_score": DATA_QUALITY_SCORE,
    "column_completeness": COLUMN_COMPLETENESS,
    "column_completeness_extended": COLUMN_COMPLETENESS_EXTENDED,
    "padding_analysis": PADDING_ANALYSIS,
    "topology": TOPOLOGY,
    "course_profile": COURSE_PROFILE,
    "loop_courses": LOOP_COURSES,
    "course_summary_with_profile": COURSE_SUMMARY_WITH_PROFILE,
    "sections_per_hole": SECTIONS_PER_HOLE,
    "sections_per_hole_dim": SECTIONS_PER_HOLE_DIM,
    "round_types": ROUND_TYPES,
    "round_duration": ROUND_DURATION,
    "round_list": ROUND_LIST,
    "device_stats": DEVICE_STATS,
    "course_centroids": COURSE_CENTROIDS,
    "rounds_by_month": ROUNDS_BY_MONTH,
    "rounds_by_weekday": ROUNDS_BY_WEEKDAY,
    "round_length_distribution": ROUND_LENGTH_DISTRIBUTION,
    "round_nine_combinations": ROUND_NINE_COMBINATIONS,
    "round_validation": ROUND_VALIDATION,
    "round_validation_summary": ROUND_VALIDATION_SUMMARY,
    "round_duration_details": ROUND_DURATION_DETAILS,
    "global_overview": GLOBAL_OVERVIEW,
    "global_pace_comparison": GLOBAL_PACE_COMPARISON,
    "global_round_duration_comparison": GLOBAL_ROUND_DURATION_COMPARISON,
    "global_weekday_heatmap": GLOBAL_WEEKDAY_HEATMAP,
    "global_hourly_distribution": GLOBAL_HOURLY_DISTRIBUTION,
    "global_data_quality_ranking": GLOBAL_DATA_QUALITY_RANKING,
    "global_device_fleet": GLOBAL_DEVICE_FLEET,
    "global_monthly_trend": GLOBAL_MONTHLY_TREND,
    "global_completion_rates": GLOBAL_COMPLETION_RATES,
    "pace_by_hole": PACE_BY_HOLE,
    "pace_by_section": PACE_BY_SECTION,
    "bottleneck_summary": BOTTLENECK_SUMMARY,
    "infrastructure_stats": INFRASTRUCTURE_STATS,
    "events_per_course": EVENTS_PER_COURSE,
    "events_by_month": EVENTS_BY_MONTH,
    # exploration
    "expl_battery_analysis": EXPL_BATTERY_ANALYSIS,
    "expl_column_completeness": EXPL_COLUMN_COMPLETENESS,
    "expl_course_configuration": EXPL_COURSE_CONFIGURATION,
    "expl_critical_gaps": EXPL_CRITICAL_GAPS,
    "expl_data_completeness_summary": EXPL_DATA_COMPLETENESS_SUMMARY,
    "expl_data_quality_overview": EXPL_DATA_QUALITY_OVERVIEW,
    "expl_dataset_variance": EXPL_DATASET_VARIANCE,
    "expl_executive_summary": EXPL_EXECUTIVE_SUMMARY,
    "expl_pace_gap_coverage": EXPL_PACE_GAP_COVERAGE,
    "expl_null_analysis": EXPL_NULL_ANALYSIS,
    "expl_null_pattern_by_hole": EXPL_NULL_PATTERN_BY_HOLE,
    "expl_bottleneck_analysis": EXPL_BOTTLENECK_ANALYSIS,
    "expl_np_missing_ts_overview": EXPL_NP_MISSING_TS_OVERVIEW,
    "expl_np_missing_ts_by_course": EXPL_NP_MISSING_TS_BY_COURSE,
    "expl_np_missing_ts_by_ingest": EXPL_NP_MISSING_TS_BY_INGEST,
    "expl_np_missing_ts_by_round": EXPL_NP_MISSING_TS_BY_ROUND,
    "expl_np_missing_ts_by_location_index": EXPL_NP_MISSING_TS_BY_LOCATION_INDEX,
    "expl_np_null_correlation": EXPL_NP_NULL_CORRELATION,
    "expl_np_missing_ts_sample": EXPL_NP_MISSING_TS_SAMPLE,
    "expl_np_quality_report": EXPL_NP_QUALITY_REPORT,
    "expl_np_missing_ts_trend": EXPL_NP_MISSING_TS_TREND,
    # examples
    "ex_rounds_by_course": EX_ROUNDS_BY_COURSE,
    "ex_events_by_course": EX_EVENTS_BY_COURSE,
    "ex_slow_rounds": EX_SLOW_ROUNDS,
    "ex_events_by_hour": EX_EVENTS_BY_HOUR,
    "ex_events_by_date": EX_EVENTS_BY_DATE,
    "ex_duplicate_fix_check": EX_DUPLICATE_FIX_CHECK,
    "ex_missing_critical_fields": EX_MISSING_CRITICAL_FIELDS,
    "demo_data_volume": DEMO_DATA_VOLUME,
    "demo_topology_rows": DEMO_TOPOLOGY_ROWS,
    "demo_seasonality_months": DEMO_SEASONALITY_MONTHS,
    "demo_top3_months": DEMO_TOP3_MONTHS,
    "demo_bottom3_months": DEMO_BOTTOM3_MONTHS,
    "demo_seasonality_weekdays": DEMO_SEASONALITY_WEEKDAYS,
    "demo_rarest_sections": DEMO_RAREST_SECTIONS,
}

# decimal-exact AVG/STDDEV across the whole library (see _exact_avg_std)
TELEMETRY_QUERIES = {k: _exact_avg_std(v) for k, v in TELEMETRY_QUERIES.items()}

# Queries that read gold model views (need gold.build_all first).
GOLD_BACKED = {
    "expl_course_configuration",
    "expl_critical_gaps",
    "expl_data_quality_overview",
    "demo_seasonality_months",
    "demo_top3_months",
    "demo_bottom3_months",
    "demo_seasonality_weekdays",
}


# ===========================================================================
# Parameterized queries (dashboard/utils/queries.py get_* functions and
# the per-course demo queries of demo_all_insights.sql)
# ===========================================================================


def get_round_sample(course_id: str, round_id: str | None = None) -> str:
    """dashboard/utils/queries.py:400-422."""
    if round_id:
        where = f"WHERE course_id = '{_esc(course_id)}' AND round_id = '{_esc(round_id)}'"
    else:
        where = f"WHERE course_id = '{_esc(course_id)}'"
    return f"""
SELECT
    round_id, location_index, hole_number, section_number, nine_number,
    pace, fix_timestamp, is_location_padding
FROM fact_telemetry_event
{where}
ORDER BY round_id, hole_number NULLS LAST, section_number NULLS LAST, location_index
LIMIT 100
"""


def get_course_topology_map_points(course_id: str) -> str:
    """dashboard/utils/queries.py:485-517 — (nine, hole, section) centroids."""
    return f"""
SELECT
    course_id, nine_number, hole_number, section_number,
    ROUND(AVG(latitude), 6) AS latitude,
    ROUND(AVG(longitude), 6) AS longitude,
    COUNT(*) AS event_count,
    SUM(CASE WHEN is_projected = TRUE THEN 1 ELSE 0 END) AS projected_events,
    ROUND(100.0 * SUM(CASE WHEN is_projected = TRUE THEN 1 ELSE 0 END) / COUNT(*), 1) AS projected_pct
FROM fact_telemetry_event
WHERE is_location_padding = FALSE
  AND course_id = '{_esc(course_id)}'
  AND latitude IS NOT NULL AND longitude IS NOT NULL
  AND nine_number IS NOT NULL AND hole_number IS NOT NULL AND section_number IS NOT NULL
GROUP BY course_id, nine_number, hole_number, section_number
ORDER BY nine_number, hole_number, section_number
"""


def get_round_nine_combinations_for_course(course_id: str) -> str:
    """dashboard/utils/queries.py:624-661."""
    return f"""
WITH round_nines AS (
    SELECT
        course_id, round_id,
        SORT_ARRAY(COLLECT_SET(nine_number)) AS nines_array,
        COUNT(DISTINCT nine_number) AS nines_count,
        COUNT(DISTINCT hole_number) AS holes_played
    FROM fact_telemetry_event
    WHERE is_location_padding = FALSE
      AND nine_number IS NOT NULL
      AND course_id = '{_esc(course_id)}'
    GROUP BY course_id, round_id
)
SELECT
    course_id,
    ARRAY_JOIN(nines_array, '+') AS nines_played,
    nines_count,
    {_HOLES_BUCKET.format(col="holes_played")} AS holes_played_bucket,
    COUNT(*) AS round_count
FROM round_nines
GROUP BY course_id, nines_array, nines_count, 4
ORDER BY nines_count, nines_played
"""


def get_round_validation_for_course(course_id: str) -> str:
    """dashboard/utils/queries.py:744-817."""
    where = f"WHERE course_id = '{_esc(course_id)}'"
    return (
        "WITH round_stats AS ("
        + _ROUND_STATS_CTE.format(where=where)
        + ")"
        + _ROUND_VALIDATION_SELECT
        + "ORDER BY round_id"
    )


def get_round_duration_for_course(course_id: str) -> str:
    """dashboard/utils/queries.py:912-947."""
    return _ROUND_DURATION_DETAILS_BODY.format(
        extra_where=f"AND course_id = '{_esc(course_id)}'",
        order="round_date DESC",
    )


def get_hole_duration_for_course(course_id: str) -> str:
    """dashboard/utils/queries.py:950-994 (date_diff('minute') ->
    floored second-boundary-crossing minute difference).

    NTZ contract (queries/__init__.py load_views): fix_timestamp is
    TIMESTAMP_NTZ, so the duration must avoid UNIX_TIMESTAMP (session-tz
    dependent on NTZ inputs; the "offsets cancel within a round"
    argument fails across a DST transition). TIMESTAMPDIFF over
    DATE_TRUNC('SECOND')-aligned endpoints counts second-boundary
    crossings — value-identical to the previous UNIX_TIMESTAMP
    subtraction (floor(b)-floor(a)) and to DuckDB date_diff('second'),
    but tz-independent by construction. Plain TIMESTAMPDIFF(SECOND,...)
    would instead truncate ELAPSED seconds, which diverges on
    sub-second timestamps.

    Spark-vs-TRINO nuance (ADVICE r9): the reference's Trino
    date_diff('minute', a, b) truncates ELAPSED time, while this
    spelling counts second-boundary crossings — on sub-second inputs
    (00:00:30.8 -> 00:01:30.2) Trino reports 0 minutes, this reports 1.
    The bridge's fix_timestamps are whole-second, so the engines agree
    on every checked row; the divergence class is documented in
    OPERATORS.md §"Timestamp semantics"."""
    return f"""
WITH hole_times AS (
    SELECT
        course_id, round_id, hole_number,
        MIN(fix_timestamp) AS hole_start,
        MAX(fix_timestamp) AS hole_end
    FROM fact_telemetry_event
    WHERE is_location_padding = FALSE
      AND course_id = '{_esc(course_id)}'
      AND hole_number IS NOT NULL
      AND fix_timestamp IS NOT NULL
    GROUP BY course_id, round_id, hole_number
),
hole_durations AS (
    SELECT
        course_id, round_id, hole_number,
        FLOOR(TIMESTAMPDIFF(SECOND, DATE_TRUNC('SECOND', hole_start), DATE_TRUNC('SECOND', hole_end)) / 60) AS hole_duration_minutes
    FROM hole_times
    WHERE hole_start IS NOT NULL AND hole_end IS NOT NULL
)
SELECT
    hole_number,
    COUNT(*) AS sample_count,
    ROUND(AVG(hole_duration_minutes), 1) AS avg_duration_min,
    ROUND(PERCENTILE_APPROX(hole_duration_minutes, 0.5), 1) AS median_duration_min,
    MIN(hole_duration_minutes) AS min_duration_min,
    MAX(hole_duration_minutes) AS max_duration_min,
    ROUND(STDDEV(hole_duration_minutes), 1) AS stddev_duration
FROM hole_durations
WHERE hole_duration_minutes > 0 AND hole_duration_minutes < 60
GROUP BY hole_number
ORDER BY hole_number
"""


_TRANSITION_CASE = """CASE
        WHEN LAG({col}) OVER (ORDER BY location_index) IS NULL THEN 'start'
        WHEN {col} = LAG({col}) OVER (ORDER BY location_index) THEN 'same_{label}'
        WHEN {col} = LAG({col}) OVER (ORDER BY location_index) + 1 THEN 'next_{label}'
        WHEN {col} < LAG({col}) OVER (ORDER BY location_index) THEN 'backwards'
        ELSE 'skip'
    END"""


def get_round_progression(course_id: str, round_id: str) -> str:
    """dashboard/utils/queries.py:997-1033 — LAG sequence analysis (W3)."""
    return f"""
SELECT
    location_index, nine_number, hole_number, section_number,
    fix_timestamp, pace, is_location_padding,
    ROW_NUMBER() OVER (ORDER BY location_index) AS event_sequence,
    LAG(hole_number) OVER (ORDER BY location_index) AS prev_hole,
    LAG(section_number) OVER (ORDER BY location_index) AS prev_section,
    {_TRANSITION_CASE.format(col="hole_number", label="hole")} AS hole_transition,
    {_TRANSITION_CASE.format(col="section_number", label="section")} AS section_transition
FROM fact_telemetry_event
WHERE course_id = '{_esc(course_id)}'
  AND round_id = '{_esc(round_id)}'
  AND is_location_padding = FALSE
ORDER BY location_index
"""


def get_round_map_points(course_id: str, round_id: str) -> str:
    """dashboard/utils/queries.py:1035-1058."""
    return f"""
SELECT
    location_index, latitude, longitude, nine_number, hole_number,
    section_number, fix_timestamp, pace,
    ROW_NUMBER() OVER (ORDER BY location_index) AS event_sequence
FROM fact_telemetry_event
WHERE course_id = '{_esc(course_id)}'
  AND round_id = '{_esc(round_id)}'
  AND is_location_padding = FALSE
  AND latitude IS NOT NULL AND longitude IS NOT NULL
ORDER BY location_index
"""


def get_round_progression_summary(course_id: str) -> str:
    """dashboard/utils/queries.py:1060-1122 — per-round transition
    anomaly scoring."""
    return f"""
WITH round_transitions AS (
    SELECT
        course_id, round_id, location_index, hole_number, section_number,
        LAG(hole_number) OVER (PARTITION BY round_id ORDER BY location_index) AS prev_hole,
        LAG(section_number) OVER (PARTITION BY round_id ORDER BY location_index) AS prev_section
    FROM fact_telemetry_event
    WHERE course_id = '{_esc(course_id)}'
      AND is_location_padding = FALSE
      AND hole_number IS NOT NULL
      AND section_number IS NOT NULL
),
transition_analysis AS (
    SELECT
        round_id,
        COUNT(*) AS total_events,
        SUM(CASE WHEN prev_hole IS NULL THEN 0
                 WHEN hole_number = prev_hole THEN 0
                 WHEN hole_number = prev_hole + 1 THEN 0
                 WHEN hole_number < prev_hole THEN 1
                 ELSE 1 END) AS hole_anomalies,
        SUM(CASE WHEN prev_section IS NULL THEN 0
                 WHEN section_number = prev_section THEN 0
                 WHEN section_number = prev_section + 1 THEN 0
                 WHEN section_number < prev_section THEN 1
                 ELSE 1 END) AS section_anomalies,
        MIN(hole_number) AS start_hole,
        MAX(hole_number) AS end_hole,
        COUNT(DISTINCT hole_number) AS holes_visited
    FROM round_transitions
    GROUP BY round_id
)
SELECT
    round_id, total_events, start_hole, end_hole, holes_visited,
    hole_anomalies, section_anomalies,
    ROUND(100.0 * hole_anomalies / NULLIF(total_events, 0), 1) AS hole_anomaly_pct,
    ROUND(100.0 * section_anomalies / NULLIF(total_events, 0), 1) AS section_anomaly_pct,
    CASE
        WHEN hole_anomalies = 0 AND section_anomalies = 0 THEN 'clean'
        WHEN hole_anomalies <= 2 AND section_anomalies <= 5 THEN 'minor_issues'
        ELSE 'needs_review'
    END AS progression_quality
FROM transition_analysis
ORDER BY hole_anomalies DESC, section_anomalies DESC
"""


def get_pace_by_hole_for_course(course_id: str) -> str:
    """dashboard/utils/queries.py:1363-1409."""
    return _PACE_BY_HOLE_BODY.format(
        extra_where=f"AND course_id = '{_esc(course_id)}'",
        order="hp.hole_number",
    )


def get_pace_by_section_for_course(course_id: str) -> str:
    """dashboard/utils/queries.py:1434-1457."""
    return f"""
SELECT
    course_id, hole_number, section_number,
    COUNT(DISTINCT round_id) AS sample_rounds,
    ROUND(AVG(pace), 1) AS avg_pace,
    ROUND(PERCENTILE_APPROX(pace, 0.5), 1) AS median_pace
FROM fact_telemetry_event
WHERE is_location_padding = FALSE
  AND pace IS NOT NULL AND pace > 0 AND pace < 60
  AND hole_number IS NOT NULL AND section_number IS NOT NULL
  AND course_id = '{_esc(course_id)}'
GROUP BY course_id, hole_number, section_number
ORDER BY hole_number, section_number
"""


def get_nine_loop_pace_comparison(course_id: str) -> str:
    """dashboard/utils/queries.py:1460-1500 — loop-fatigue view."""
    return f"""
SELECT
    hole_number, nine_number,
    CASE
        WHEN nine_number = 1 THEN 'first_nine'
        WHEN nine_number = 2 THEN 'second_nine'
        ELSE 'nine_' || CAST(nine_number AS STRING)
    END AS pass_number,
    COUNT(DISTINCT round_id) AS sample_rounds,
    COUNT(*) AS sample_events,
    ROUND(AVG(pace), 1) AS avg_pace,
    ROUND(PERCENTILE_APPROX(pace, 0.5), 1) AS median_pace,
    ROUND(MIN(pace), 1) AS min_pace,
    ROUND(MAX(pace), 1) AS max_pace,
    ROUND(STDDEV(pace), 1) AS pace_stddev
FROM fact_telemetry_event
WHERE is_location_padding = FALSE
  AND course_id = '{_esc(course_id)}'
  AND is_nine_hole = FALSE
  AND pace IS NOT NULL AND pace > 0 AND pace < 60
  AND hole_number IS NOT NULL AND nine_number IS NOT NULL
GROUP BY hole_number, nine_number
ORDER BY hole_number, nine_number
"""


def get_pace_comparison_for_hole(course_id: str, hole_number: int) -> str:
    """dashboard/utils/queries.py:1503-1529."""
    return f"""
SELECT
    round_id, nine_number,
    CASE
        WHEN nine_number = 1 THEN 'first_nine'
        WHEN nine_number = 2 THEN 'second_nine'
        ELSE 'nine_' || CAST(nine_number AS STRING)
    END AS pass_number,
    pace, fix_timestamp
FROM fact_telemetry_event
WHERE is_location_padding = FALSE
  AND course_id = '{_esc(course_id)}'
  AND is_nine_hole = FALSE
  AND pace IS NOT NULL AND pace > 0 AND pace < 60
  AND hole_number = {int(hole_number)}
  AND nine_number IS NOT NULL
ORDER BY round_id, fix_timestamp
"""


def get_avg_pace_by_hole(course_id: str) -> str:
    """examples/common_queries.sql:29-37."""
    return f"""
SELECT
    hole_number,
    AVG(pace) AS avg_pace,
    COUNT(*) AS fixes
FROM fact_telemetry_event
WHERE course_id = '{_esc(course_id)}'
  AND hole_number IS NOT NULL
GROUP BY hole_number
ORDER BY hole_number
"""


def get_start_hole_distribution(course_id: str) -> str:
    """examples/indiancreek_shotgun_start_distribution.sql /
    demo_all_insights.sql §3."""
    return f"""
SELECT
    start_hole,
    COUNT(DISTINCT round_id) AS rounds
FROM fact_telemetry_event
WHERE course_id = '{_esc(course_id)}'
  AND start_hole IS NOT NULL
GROUP BY start_hole
ORDER BY rounds DESC, start_hole
"""


def get_check_loop_fatigue(course_id: str, hole_number: int) -> str:
    """examples/check_loop_fatigue.sql — gold-backed fatigue factor."""
    return f"""
SELECT
    nine_number,
    AVG(avg_pace_sec) AS avg_pace_seconds,
    COUNT(*) AS rounds_sample_size
FROM fact_round_hole_performance
WHERE course_id = '{_esc(course_id)}'
  AND hole_number = {int(hole_number)}
GROUP BY nine_number
ORDER BY nine_number
"""


def get_demo_unit_summary(course_id: str) -> str:
    """demo_all_insights.sql §1b — unit volume + pace by nine_number."""
    return f"""
SELECT
    nine_number,
    COUNT(DISTINCT round_id) AS rounds,
    COUNT(*) AS fixes,
    AVG(pace) AS avg_pace_sec,
    AVG(pace_gap) AS avg_pace_gap_sec
FROM fact_telemetry_event
WHERE course_id = '{_esc(course_id)}'
  AND nine_number IS NOT NULL
GROUP BY nine_number
ORDER BY nine_number
"""


def get_demo_loop_fatigue(course_id: str, hole_number: int, scope: str = "all") -> str:
    """demo_all_insights.sql §2a.1-2a.3 — event-level pace by loop.

    scope: 'all' (every round), 'eligible' (rounds that played both
    nines — the semi-join idiom J6), 'complete' (eligible AND marked
    complete).
    """
    c, h = _esc(course_id), int(hole_number)
    if scope == "all":
        return f"""
SELECT
    nine_number,
    AVG(pace) AS avg_pace_sec,
    COUNT(*) AS fixes
FROM fact_telemetry_event
WHERE course_id = '{c}'
  AND hole_number = {h}
GROUP BY nine_number
ORDER BY nine_number
"""
    extra = "AND e.is_complete = true" if scope == "complete" else ""
    return f"""
WITH eligible_rounds AS (
    SELECT round_id
    FROM fact_telemetry_event
    WHERE course_id = '{c}'
      AND nine_number IN (1, 2)
      AND hole_number IS NOT NULL
      AND fix_timestamp IS NOT NULL
    GROUP BY round_id
    HAVING COUNT(DISTINCT nine_number) = 2
)
SELECT
    e.nine_number,
    AVG(e.pace) AS avg_pace_sec,
    COUNT(*) AS fixes
FROM fact_telemetry_event e
JOIN eligible_rounds r ON e.round_id = r.round_id
WHERE e.course_id = '{c}'
  AND e.hole_number = {h}
  {extra}
GROUP BY e.nine_number
ORDER BY e.nine_number
"""


def get_demo_boundary_support(course_id: str) -> str:
    """demo_all_insights.sql §4b — fixes at topology boundaries (J8)."""
    c = _esc(course_id)
    return f"""
WITH topo AS (
    SELECT facility_id, nine_number, section_start, section_end
    FROM dim_facility_topology
    WHERE facility_id = '{c}'
),
counts AS (
    SELECT course_id, section_number, COUNT(*) AS fixes
    FROM fact_telemetry_event
    WHERE course_id = '{c}'
      AND section_number IS NOT NULL
    GROUP BY course_id, section_number
)
SELECT
    t.facility_id AS course_id,
    t.nine_number,
    t.section_start,
    COALESCE(c1.fixes, 0) AS fixes_at_section_start,
    t.section_end,
    COALESCE(c2.fixes, 0) AS fixes_at_section_end
FROM topo t
LEFT JOIN counts c1
    ON c1.course_id = t.facility_id AND c1.section_number = t.section_start
LEFT JOIN counts c2
    ON c2.course_id = t.facility_id AND c2.section_number = t.section_end
ORDER BY t.nine_number
"""


def get_demo_hole_max_outlier(course_id: str) -> str:
    """demo_all_insights.sql §4c — fixes at each hole's MAX section (J7)."""
    c = _esc(course_id)
    return f"""
WITH hole_section_counts AS (
    SELECT course_id, hole_number, section_number, COUNT(*) AS fixes
    FROM fact_telemetry_event
    WHERE course_id = '{c}'
      AND hole_number IS NOT NULL
      AND section_number IS NOT NULL
    GROUP BY 1, 2, 3
),
max_per_hole AS (
    SELECT course_id, hole_number, MAX(section_number) AS max_section
    FROM hole_section_counts
    GROUP BY 1, 2
)
SELECT
    m.course_id,
    m.hole_number,
    m.max_section,
    c.fixes AS fixes_at_max_section
FROM max_per_hole m
JOIN hole_section_counts c
    ON m.course_id = c.course_id
   AND m.hole_number = c.hole_number
   AND m.max_section = c.section_number
ORDER BY fixes_at_max_section ASC, m.hole_number
"""


PARAMETERIZED = {
    "get_round_sample": get_round_sample,
    "get_course_topology_map_points": get_course_topology_map_points,
    "get_round_nine_combinations_for_course": get_round_nine_combinations_for_course,
    "get_round_validation_for_course": get_round_validation_for_course,
    "get_round_duration_for_course": get_round_duration_for_course,
    "get_hole_duration_for_course": get_hole_duration_for_course,
    "get_round_progression": get_round_progression,
    "get_round_map_points": get_round_map_points,
    "get_round_progression_summary": get_round_progression_summary,
    "get_pace_by_hole_for_course": get_pace_by_hole_for_course,
    "get_pace_by_section_for_course": get_pace_by_section_for_course,
    "get_nine_loop_pace_comparison": get_nine_loop_pace_comparison,
    "get_pace_comparison_for_hole": get_pace_comparison_for_hole,
    "get_avg_pace_by_hole": get_avg_pace_by_hole,
    "get_start_hole_distribution": get_start_hole_distribution,
    "get_check_loop_fatigue": get_check_loop_fatigue,
    "get_demo_unit_summary": get_demo_unit_summary,
    "get_demo_loop_fatigue": get_demo_loop_fatigue,
    "get_demo_boundary_support": get_demo_boundary_support,
    "get_demo_hole_max_outlier": get_demo_hole_max_outlier,
}


def _wrap_exact(fn):
    def render(**params) -> str:
        return _exact_avg_std(fn(**params))

    render.__name__ = fn.__name__
    render.__doc__ = fn.__doc__
    return render


# decimal-exact AVG/STDDEV for the parameterized surface too
PARAMETERIZED = {k: _wrap_exact(f) for k, f in PARAMETERIZED.items()}


# ===========================================================================
# Runner
# ===========================================================================


def register_views(
    spark: SparkSession,
    fact_telemetry_event: DataFrame,
    dim_facility_topology: DataFrame | None = None,
    dim_course_profile: DataFrame | None = None,
    dim_sections_per_hole: DataFrame | None = None,
    build_gold: bool = False,
) -> None:
    """Register the silver/dim views the library reads; optionally build
    the gold model DAG so gold-backed queries work too."""
    from .. import schemas

    fact_telemetry_event.createOrReplaceTempView("fact_telemetry_event")

    def _reg(df: DataFrame | None, schema, name: str) -> DataFrame:
        if df is None:
            df = spark.createDataFrame([], schema)
        df.createOrReplaceTempView(name)
        return df

    topo = _reg(dim_facility_topology, schemas.DIM_FACILITY_TOPOLOGY, "dim_facility_topology")
    _reg(dim_course_profile, schemas.DIM_COURSE_PROFILE, "dim_course_profile")
    _reg(dim_sections_per_hole, schemas.DIM_SECTIONS_PER_HOLE, "dim_sections_per_hole")

    if build_gold:
        from ..gold import build_all

        build_all(spark, fact_telemetry_event, topo)


def run_telemetry_query(spark: SparkSession, name: str, **params) -> DataFrame:
    """Run a named query (fixed or parameterized) against the registered
    views."""
    if name in TELEMETRY_QUERIES:
        return spark.sql(TELEMETRY_QUERIES[name])
    if name in PARAMETERIZED:
        return spark.sql(PARAMETERIZED[name](**params))
    raise KeyError(f"unknown telemetry query {name!r}")
