"""Driver rows for the telemetry library (reference-parity surface).

The telemetry query library (queries/telemetry.py — every dashboard /
exploration / example SQL the reference ships) runs over golf-telemetry
tables that do not exist in the driver's TPC-H-shaped sf_dir, so until
round 4 its only hard check was the pytest two-engine suite
(tests/test_telemetry_oracle.py).  This module gives a few flagship
library queries DRIVER rows too, by bridging the driver's `events`
table into a deterministic `fact_telemetry_event` view and running the
REAL library texts (same strings `run_telemetry_query` serves) on top.

The bridge mapping is integer-arithmetic only, spelled once per engine
(Spark temp view / DuckDB CTE), and engineered so every derived value is
cross-engine exact:

- all ids/holes/sections come from `%` on BIGINTs (identical remainder
  semantics both engines);
- `pace` is an INTEGER-VALUED double (FLOOR(value*100) % 50 + 1), so
  DECIMAL-exact AVG rewrites (telemetry._exact_avg_std) produce
  bit-identical doubles — no half-boundary ROUND risk;
- `FLOOR` (not CAST) converts the double: Spark's double->bigint CAST
  truncates while DuckDB's rounds, so CAST would diverge; FLOOR agrees.
- pace / battery / hole_number / longitude / latitude / fix_timestamp
  carry deterministic NULL stripes (event_id mod a distinct prime
  each), so the library's NULL-preserving semantics — the reference
  pipeline's defining rule — are exercised for real: FILTER clauses,
  IS NOT NULL predicates, and AVG's null-skipping all see non-trivial
  inputs, and both engines derive the identical stripe.  The
  `is_timestamp_missing` flag is CONSISTENT with its column: flagged
  rows really have fix_timestamp NULL (round_id / event_date still
  derive from the raw event time, the reference's keep-and-flag rule —
  no data loss).

Queries are either fact-only library texts or (since round 6) gold
MODELS run over the bridged fact: `_gold_on_bridge` materializes a
model's dependency chain (gold/models.py, the REAL Spark texts) as
localCheckpoint'ed temp views over the bridge — the reference's dbt
shape, where every model is a stored table — and the oracle inlines
the same chain as DuckDB CTEs. A deterministic topology view
(`_SPARK_TOPOLOGY`, one unit per (course, nine), identical SQL text on
both engines) unlocks the chains that join `dim_facility_topology`,
up to the six-model `gold_coverage_audit` reconciliation. Everything
here is free of approximate aggregates (the driver hashes every output
column, and percentile sketches are engine-specific).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import Query, load_views

_COURSE = "course_1"
_HOLE = 5

# Spark spelling of the bridge mapping (dialect: STRING, TIMESTAMPDIFF).
# Rounds are (user, day, hour) grain so round durations land inside the
# library's 0-600-minute validity window; duration is derived through
# EXACT microsecond arithmetic (the testdata is µs-precision, so the µs
# difference is the same integer on both engines — minute- or
# second-grain datediffs would diverge: Spark truncates, DuckDB counts
# boundary crossings).
_SPARK_BRIDGE = """
    WITH base AS (
        SELECT
            'r' || CAST(user_id AS STRING) || '_'
                || CAST(CAST(ts AS DATE) AS STRING) || '_'
                || CAST(HOUR(ts) AS STRING)                             AS round_id,
            'course_' || CAST(user_id % 3 AS STRING)                    AS course_id,
            IF(event_id % 23 = 0, NULL, ts)                             AS fix_timestamp,
            CAST(ts AS DATE)                                            AS event_date,
            CAST(CAST(ts AS DATE) AS STRING)                            AS ingest_date,
            FALSE                                                       AS is_location_padding,
            FALSE                                                       AS is_nine_hole,
            'd' || CAST(user_id % 7 AS STRING)                          AS device,
            CAST(user_id % 18 + 1 AS INT)                               AS start_hole,
            CASE WHEN event_id % 37 = 0 THEN CAST(NULL AS INT)
                 ELSE CAST(event_id % 18 + 1 AS INT) END                AS hole_number,
            CAST(event_id % 54 + 1 AS INT)                              AS section_number,
            CAST(CASE WHEN event_id % 18 < 9 THEN 1 ELSE 2 END AS INT)  AS nine_number,
            CASE WHEN event_id % 29 = 0 THEN CAST(NULL AS DOUBLE)
                 ELSE CAST(CAST(FLOOR(value * 100) AS BIGINT) % 50 + 1 AS DOUBLE)
            END                                                         AS pace,
            CASE WHEN event_id % 31 = 0 THEN CAST(NULL AS DOUBLE)
                 ELSE CAST(CAST(FLOOR(value * 10) AS BIGINT) % 101 AS DOUBLE)
            END                                                         AS battery_percentage,
            CAST(event_id AS INT)                                       AS location_index,
            event_id % 23 = 0                                           AS is_timestamp_missing,
            CASE WHEN event_id % 11 = 0 THEN CAST(NULL AS DOUBLE)
                 ELSE CAST(CAST(FLOOR(value * 1000) AS BIGINT) % 3600 AS DOUBLE)
            END                                                         AS longitude,
            CASE WHEN event_id % 13 = 0 THEN CAST(NULL AS DOUBLE)
                 ELSE CAST(CAST(FLOOR(value * 1000) AS BIGINT) % 1800 AS DOUBLE)
            END                                                         AS latitude,
            CASE WHEN event_id % 47 = 0 THEN CAST(NULL AS DOUBLE)
                 ELSE CAST(CAST(FLOOR(value * 600) AS BIGINT) % 90 + 10 AS DOUBLE)
            END                                                         AS goal_time,
            CASE WHEN event_id % 41 = 0 THEN CAST(NULL AS DOUBLE)
                 ELSE CAST(CAST(FLOOR(value * 500) AS BIGINT) % 120 AS DOUBLE)
            END                                                         AS pace_gap,
            CASE WHEN event_id % 43 = 0 THEN CAST(NULL AS DOUBLE)
                 ELSE CAST(CAST(FLOOR(value * 700) AS BIGINT) % 300 AS DOUBLE)
            END                                                         AS positional_gap,
            CAST(event_id % 3 + 1 AS INT)                               AS hole_section,
            CASE WHEN event_id % 53 = 0 THEN CAST(NULL AS INT)
                 ELSE CAST(event_id % 2 + 1 AS INT) END                 AS current_nine,
            CAST(user_id % 54 + 1 AS INT)                               AS start_section,
            CAST(event_id % 54 + 1 AS INT)                              AS end_section,
            event_id % 5 = 0                                            AS is_complete,
            event_id % 17 = 0                                           AS is_projected,
            event_id % 19 = 0                                           AS is_problem,
            event_id % 21 = 0                                           AS is_cache
        FROM events
    )
    SELECT base.*,
           CAST(FLOOR(TIMESTAMPDIFF(MICROSECOND,
                    MIN(fix_timestamp) OVER (PARTITION BY round_id),
                    MAX(fix_timestamp) OVER (PARTITION BY round_id))
                / 60000000) AS BIGINT)                                  AS round_duration_minutes
    FROM base
"""

# DuckDB spelling (VARCHAR instead of STRING; date_diff instead of
# TIMESTAMPDIFF; HOUR/FLOOR/CAST/%/|| agree).
_DUCK_BRIDGE = _SPARK_BRIDGE.replace("AS STRING)", "AS VARCHAR)").replace(
    "TIMESTAMPDIFF(MICROSECOND,", "date_diff('microsecond',"
)


def _bridged(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    fact_sql: str | None = None,
    **params,
) -> DataFrame:
    """Register the bridge view, then run the real library text (a
    parameterized render or a fixed TELEMETRY_QUERIES constant).
    ``fact_sql`` overrides the fact view text for library queries that
    read the extended columns (_SPARK_BRIDGE_EXT); the default stays
    the byte-stable base bridge every green oracle inlines."""
    from . import telemetry

    load_views(spark, sf_dir)
    spark.sql(fact_sql or _SPARK_BRIDGE).createOrReplaceTempView(
        "fact_telemetry_event"
    )
    if name in telemetry.PARAMETERIZED:
        return spark.sql(telemetry.PARAMETERIZED[name](**params))
    return spark.sql(telemetry.TELEMETRY_QUERIES[name])


def _cast_cols(df: DataFrame, dtype: str, *cols: str) -> DataFrame:
    """Registry-shape shim: re-type output columns so both engines ship
    the same pandas transport type. The library text itself is never
    changed — only the registry entry re-types its result."""
    from pyspark.sql import functions as F

    for c in cols:
        df = df.withColumn(c, F.col(c).cast(dtype))
    return df


def _dates_as_ntz(df: DataFrame, *cols: str) -> DataFrame:
    """DATE columns -> TIMESTAMP_NTZ (same convention as the events
    queries): Spark's toPandas ships dates as python objects while
    DuckDB's ships datetime64 — the harness would compare them unequal."""
    return _cast_cols(df, "timestamp_ntz", *cols)


q_telemetry_start_hole_distribution = Query(
    name="telemetry_start_hole_distribution",
    build=lambda spark, sf_dir: _bridged(
        spark, sf_dir, "get_start_hole_distribution", course_id=_COURSE
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            start_hole,
            COUNT(DISTINCT round_id) AS rounds
        FROM fact_telemetry_event
        WHERE course_id = '{_COURSE}'
          AND start_hole IS NOT NULL
        GROUP BY start_hole
        ORDER BY rounds DESC, start_hole
    """,
    doc="Reference parity, shotgun-start distribution "
    "(examples/indiancreek_shotgun_start_distribution.sql; the same text "
    "run_telemetry_query('get_start_hole_distribution') serves) over the "
    "events->telemetry bridge — exact COUNT DISTINCT per start hole.",
)

q_telemetry_avg_pace_by_hole = Query(
    name="telemetry_avg_pace_by_hole",
    build=lambda spark, sf_dir: _bridged(
        spark, sf_dir, "get_avg_pace_by_hole", course_id=_COURSE
    ),
    # Mirrors the _exact_avg_std-rewritten text the Spark side actually
    # runs: decimal-exact sum, double division — bit-identical on both
    # engines for the integer-valued bridge pace.
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            hole_number,
            (CAST(SUM(CAST(pace AS DECIMAL(28,10))) AS DOUBLE) / COUNT(pace)) AS avg_pace,
            COUNT(*) AS fixes
        FROM fact_telemetry_event
        WHERE course_id = '{_COURSE}'
          AND hole_number IS NOT NULL
        GROUP BY hole_number
        ORDER BY hole_number
    """,
    doc="Reference parity, average pace per hole "
    "(examples/common_queries.sql:29-37) over the events->telemetry "
    "bridge; AVG runs in the library's decimal-exact form.",
)

q_telemetry_pace_comparison_hole = Query(
    name="telemetry_pace_comparison_hole",
    build=lambda spark, sf_dir: _bridged(
        spark,
        sf_dir,
        "get_pace_comparison_for_hole",
        course_id=_COURSE,
        hole_number=_HOLE,
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            round_id, nine_number,
            CASE
                WHEN nine_number = 1 THEN 'first_nine'
                WHEN nine_number = 2 THEN 'second_nine'
                ELSE 'nine_' || CAST(nine_number AS VARCHAR)
            END AS pass_number,
            pace, fix_timestamp
        FROM fact_telemetry_event
        WHERE is_location_padding = FALSE
          AND course_id = '{_COURSE}'
          AND is_nine_hole = FALSE
          AND pace IS NOT NULL AND pace > 0 AND pace < 60
          AND hole_number = {_HOLE}
          AND nine_number IS NOT NULL
        ORDER BY round_id, fix_timestamp
    """,
    doc="Reference parity, per-round loop-fatigue detail for one hole "
    "(dashboard/utils/queries.py:1503-1529) over the events->telemetry "
    "bridge — row-level projection, no aggregation.",
)

q_telemetry_round_duration = Query(
    name="telemetry_round_duration",
    build=lambda spark, sf_dir: _dates_as_ntz(
        _bridged(spark, sf_dir, "get_round_duration_for_course", course_id=_COURSE),
        "round_date",
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),
        round_stats AS (
            SELECT
                course_id,
                round_id,
                MAX(round_duration_minutes) AS duration_minutes,
                MAX(CAST(is_nine_hole AS INTEGER)) = 1 AS is_nine_hole,
                COUNT(DISTINCT hole_number) AS holes_visited,
                MIN(event_date) AS round_date
            FROM fact_telemetry_event
            WHERE is_location_padding = FALSE
              AND course_id = '{_COURSE}'
            GROUP BY course_id, round_id
        )
        SELECT
            course_id,
            round_id,
            CAST(round_date AS TIMESTAMP) AS round_date,
            duration_minutes,
            is_nine_hole,
            holes_visited,
            CASE WHEN is_nine_hole THEN '9-hole' ELSE '18-hole' END AS round_type
        FROM round_stats
        WHERE duration_minutes IS NOT NULL
          AND duration_minutes > 0
          AND duration_minutes < 600
        ORDER BY round_date DESC
    """,
    doc="Reference parity, per-round duration details "
    "(dashboard/utils/queries.py:912-947; the text "
    "run_telemetry_query('get_round_duration_for_course') serves) over "
    "the events->telemetry bridge at (user, day, hour) round grain — "
    "integer-exact µs-derived durations, no doubles anywhere.",
)

q_telemetry_global_overview = Query(
    name="telemetry_global_overview",
    build=lambda spark, sf_dir: _dates_as_ntz(
        _bridged(spark, sf_dir, "global_overview"), "earliest_date", "latest_date"
    ),
    # The library text's ROUND(AVG(x),1) runs in its _exact_avg_std
    # decimal-exact form on Spark; the oracle mirrors that form and
    # inlines the Spark-semantics ROUND (round the shortest-decimal
    # representation: VARCHAR -> DECIMAL(38,20) -> round) because the
    # driver's DuckDB session has no macros.
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            COUNT(DISTINCT course_id) AS total_courses,
            COUNT(DISTINCT round_id) AS total_rounds,
            COUNT(*) AS total_events,
            CAST(SUM(CASE WHEN is_location_padding = FALSE THEN 1 ELSE 0 END)
                 AS BIGINT) AS real_events,
            COUNT(DISTINCT device) AS unique_devices,
            CAST(MIN(event_date) AS TIMESTAMP) AS earliest_date,
            CAST(MAX(event_date) AS TIMESTAMP) AS latest_date,
            COUNT(DISTINCT event_date) AS total_playing_days,
            CAST(round(CAST(CAST(
                (CAST(SUM(CAST(pace AS DECIMAL(28,10))) AS DOUBLE) / COUNT(pace))
                AS VARCHAR) AS DECIMAL(38,20)), 1) AS DOUBLE) AS global_avg_pace,
            CAST(round(CAST(CAST(
                (CAST(SUM(CAST(battery_percentage AS DECIMAL(28,10))) AS DOUBLE)
                 / COUNT(battery_percentage))
                AS VARCHAR) AS DECIMAL(38,20)), 1) AS DOUBLE) AS global_avg_battery
        FROM fact_telemetry_event
        WHERE is_location_padding = FALSE
    """,
    doc="Reference parity, the dashboard's global overview strip "
    "(dashboard/utils/queries.py global stats: courses/rounds/events/"
    "devices/dates + decimal-exact global averages) over the "
    "events->telemetry bridge.",
)

q_telemetry_events_by_hour = Query(
    name="telemetry_events_by_hour",
    build=lambda spark, sf_dir: _bridged(spark, sf_dir, "ex_events_by_hour"),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            HOUR(fix_timestamp) AS hour_of_day,
            COUNT(*) AS fixes,
            COUNT(DISTINCT round_id) AS rounds
        FROM fact_telemetry_event
        WHERE fix_timestamp IS NOT NULL
        GROUP BY HOUR(fix_timestamp)
        ORDER BY hour_of_day
    """,
    doc="Reference parity, hourly fix/round distribution "
    "(examples/common_queries.sql; the text "
    "run_telemetry_query('ex_events_by_hour') serves) over the "
    "events->telemetry bridge — exact counts per hour.",
)

q_telemetry_null_correlation = Query(
    name="telemetry_null_correlation",
    build=lambda spark, sf_dir: _bridged(spark, sf_dir, "expl_np_null_correlation"),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            is_timestamp_missing,
            COUNT(*) AS row_count,
            COUNT(*) FILTER (WHERE longitude IS NULL) AS null_longitude_count,
            COUNT(*) FILTER (WHERE latitude IS NULL) AS null_latitude_count,
            COUNT(*) FILTER (WHERE pace IS NULL) AS null_pace_count,
            COUNT(*) FILTER (WHERE battery_percentage IS NULL) AS null_battery_count,
            COUNT(*) FILTER (WHERE hole_number IS NULL) AS null_hole_count
        FROM fact_telemetry_event
        GROUP BY is_timestamp_missing
        ORDER BY is_timestamp_missing
    """,
    doc="Reference parity, NULL-correlation audit "
    "(exploration/null_patterns.sql; the text "
    "run_telemetry_query('expl_np_null_correlation') serves) over the "
    "bridge's deterministic NULL stripes — the NULL-preserving "
    "semantics check (no 'helpful' filtering anywhere on the path).",
)


def _missing_pct_as_double(df: DataFrame) -> DataFrame:
    """The library text's ROUND(100.0 * x / y, 2) is DECIMAL-typed on
    Spark (decimal literal arithmetic) while DuckDB's lands as its own
    decimal; both are EXACT 2-dp values of the same rational, so a
    double cast on both sides is the identical IEEE value — only the
    transport type changes."""
    return _cast_cols(df, "double", "missing_percentage")


q_telemetry_missing_ts_overview = Query(
    name="telemetry_missing_ts_overview",
    build=lambda spark, sf_dir: _missing_pct_as_double(
        _bridged(spark, sf_dir, "expl_np_missing_ts_overview")
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            COUNT(*) AS total_rows,
            COUNT(*) FILTER (WHERE is_timestamp_missing = true) AS missing_timestamp_count,
            COUNT(*) FILTER (WHERE is_timestamp_missing = false) AS valid_timestamp_count,
            CAST(ROUND(100.0 * COUNT(*) FILTER (WHERE is_timestamp_missing = true)
                       / COUNT(*), 2) AS DOUBLE) AS missing_percentage
        FROM fact_telemetry_event
    """,
    doc="Reference parity, missing-timestamp overview "
    "(exploration/null_patterns.sql; the text "
    "run_telemetry_query('expl_np_missing_ts_overview') serves) — "
    "FILTER-clause counts + an exact-decimal percentage, shipped as "
    "double on both engines.",
)

q_telemetry_missing_ts_by_ingest = Query(
    name="telemetry_missing_ts_by_ingest",
    build=lambda spark, sf_dir: _missing_pct_as_double(
        _bridged(spark, sf_dir, "expl_np_missing_ts_by_ingest")
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            ingest_date,
            COUNT(*) AS total_rows,
            COUNT(*) FILTER (WHERE is_timestamp_missing = true) AS missing_count,
            CAST(ROUND(100.0 * COUNT(*) FILTER (WHERE is_timestamp_missing = true)
                       / COUNT(*), 2) AS DOUBLE) AS missing_percentage
        FROM fact_telemetry_event
        GROUP BY ingest_date
        ORDER BY ingest_date DESC
    """,
    doc="Reference parity, missing-timestamp counts per ingest partition "
    "(exploration/null_patterns.sql; the text "
    "run_telemetry_query('expl_np_missing_ts_by_ingest') serves).",
)

q_telemetry_missing_ts_by_location = Query(
    name="telemetry_missing_ts_by_location",
    build=lambda spark, sf_dir: _missing_pct_as_double(
        _bridged(spark, sf_dir, "expl_np_missing_ts_by_location_index")
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            location_index,
            COUNT(*) AS total_rows,
            COUNT(*) FILTER (WHERE is_timestamp_missing = true) AS missing_count,
            CAST(ROUND(100.0 * COUNT(*) FILTER (WHERE is_timestamp_missing = true)
                       / COUNT(*), 2) AS DOUBLE) AS missing_percentage
        FROM fact_telemetry_event
        GROUP BY location_index
        HAVING COUNT(*) FILTER (WHERE is_timestamp_missing = true) > 0
        ORDER BY location_index
    """,
    doc="Reference parity, missing-timestamp hot spots by location index "
    "(exploration/null_patterns.sql; HAVING over a FILTER aggregate).",
)

q_telemetry_missing_ts_trend = Query(
    name="telemetry_missing_ts_trend",
    build=lambda spark, sf_dir: _dates_as_ntz(
        _missing_pct_as_double(_bridged(spark, sf_dir, "expl_np_missing_ts_trend")),
        "ingest_month",
    ),
    # The library text's TRUNC(date, 'MM') is Spark dialect; the driver's
    # macro-less DuckDB spells it date_trunc('month', ...) — same month
    # boundary, tz-free (the registry's TRUNC-not-DATE_TRUNC rationale).
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            CAST(date_trunc('month', CAST(ingest_date AS DATE)) AS TIMESTAMP)
                AS ingest_month,
            COUNT(*) AS total_rows,
            COUNT(*) FILTER (WHERE is_timestamp_missing = true) AS missing_count,
            CAST(ROUND(100.0 * COUNT(*) FILTER (WHERE is_timestamp_missing = true)
                       / COUNT(*), 2) AS DOUBLE) AS missing_percentage
        FROM fact_telemetry_event
        GROUP BY date_trunc('month', CAST(ingest_date AS DATE))
        ORDER BY ingest_month DESC
    """,
    doc="Reference parity, monthly missing-timestamp trend "
    "(exploration/null_patterns.sql; month-truncated ingest partitions).",
)

def _gold_on_bridge(
    spark: SparkSession, sf_dir: str, model: str, fact_sql: str | None = None
) -> DataFrame:
    """Materialize a gold model's dependency chain over the bridged
    fact view and return the model frame — the REAL gold texts
    (gold/models.py, Trino->Spark ports), not restatements.

    `fact_sql` overrides the fact view's SQL (default `_SPARK_BRIDGE`):
    the silver_normalized models consume columns the base bridge does
    not carry (goal_name, is_secondary, geometry_wkt, event date
    parts, ...), which `_SPARK_BRIDGE_EXT` adds as a wrapper — a NEW
    text, so the green entries' shared `_SPARK_BRIDGE`/`_DUCK_BRIDGE`
    strings stay byte-identical and their ledger rows untouched."""
    from ..gold import models as gold_models

    load_views(spark, sf_dir)
    # Materialize the bridge frame (localCheckpoint) instead of
    # registering the live windowed SQL as the fact view: gold models
    # self-join the fact many times (courses x fact_rounds x
    # hole-performance ...), and duplicating a window-bearing view
    # through those joins trips Spark 4.1's DeduplicateRelations
    # ([INTERNAL_ERROR] exprId on unresolved object). Materializing is
    # also the reference's real shape — dbt gold models read a
    # MATERIALIZED silver table, not a live view (at 100 TB the bridge
    # equivalent is the stored fact_telemetry_event table itself).
    spark.sql(fact_sql or _SPARK_BRIDGE).localCheckpoint(eager=True).createOrReplaceTempView(
        "fact_telemetry_event"
    )
    by_name = {m.name: m for m in gold_models.MODELS}
    built: dict[str, DataFrame] = {}

    def build(name: str) -> DataFrame:
        # Memoized AND materialized: diamond dependencies (fact_rounds
        # feeds several models in the dim_course/coverage-audit chain)
        # register their temp view exactly once, and every intermediate
        # model is localCheckpoint'ed before downstream models read it.
        # Composing the deep chain as live views instead flakes in
        # Spark 4.1's DeduplicateRelations ([INTERNAL_ERROR] exprId on
        # unresolved object, sensitive to the session's exprId history)
        # — and materializing is the reference's real dbt shape anyway:
        # each model is a stored table, not a view stack. Frames here
        # are course-grain or round-grain (thousands of rows at driver
        # scale), so the checkpoints are trivially small.
        if name in built:
            return built[name]
        m = by_name[name]
        for d in m.deps:
            if d in by_name:
                if d not in built:
                    build(d)
            elif d == "dim_facility_topology":
                # Deterministic topology over the bridge: one unit per
                # (course, nine) — the exact SQL the DuckDB oracle
                # inlines, so the whole 1:1-join contract is shared.
                if d not in built:
                    built[d] = spark.sql(_SPARK_TOPOLOGY).localCheckpoint(eager=True)
                    built[d].createOrReplaceTempView(d)
            elif d != "fact_telemetry_event":
                raise ValueError(f"gold bridge: unbridgeable dep {d!r} of {name!r}")
        df = spark.sql(m.sql)
        if name != model:
            df = df.localCheckpoint(eager=True)
            df.createOrReplaceTempView(name)
        built[name] = df
        return built[name]

    return build(model)


_SPARK_TOPOLOGY = """
    SELECT DISTINCT course_id AS facility_id, nine_number,
           'unit_' || CAST(nine_number AS STRING) AS unit_name
    FROM fact_telemetry_event WHERE nine_number IS NOT NULL
"""
_DUCK_TOPOLOGY = _SPARK_TOPOLOGY.replace("AS STRING)", "AS VARCHAR)")


def _decimals_as_double(df: DataFrame) -> DataFrame:
    """Transport shim for gold texts with decimal-literal percentage
    arithmetic (ROUND(100.0 * x / y, 2)): exact on both engines, but
    Spark ships DECIMAL while DuckDB's scale rules differ — a double
    cast on both sides carries the identical IEEE value."""
    from pyspark.sql import types as T

    cols = [f.name for f in df.schema.fields if isinstance(f.dataType, T.DecimalType)]
    return _cast_cols(df, "double", *cols)


# The fact_rounds projection shared by the Spark build and the oracle:
# every column whose value is cross-engine exact by construction —
# integer counts/sections, BOOL_ORs, dates and date parts, duration from
# second-truncated epochs, averages over INTEGER-VALUED doubles (double
# sums of integers are exact below 2^53, so AVG = the identical IEEE
# division on both engines), and integer-ratio rates. Excluded:
# round_duration_minutes alone — ROUND(dur/60.0, 1) lands on exact
# .x5 halves whenever duration_sec ≡ 3 (mod 6), where Spark's
# shortest-decimal HALF_UP and DuckDB's binary-product rounding can
# disagree; its signal is fully carried by duration_sec.
_FACT_ROUNDS_COLS = (
    "course_id", "round_id", "round_date", "round_year", "round_month",
    "round_day", "round_weekday", "round_length", "fix_count",
    "ts_missing_fix_count", "holes_played", "nines_played",
    "min_section_number", "max_section_number", "first_tee_section_number",
    "start_hole", "start_section", "end_section", "is_nine_hole",
    "is_complete", "duration_sec", "avg_pace_sec", "max_pace_sec",
    "avg_pace_gap_sec", "avg_positional_gap", "projected_fix_count",
    "problem_fix_count", "cached_fix_count", "min_battery_pct",
    "avg_battery_pct", "low_battery_fix_count",
    "critical_battery_fix_count", "projected_rate", "problem_rate",
    "cached_rate", "ts_missing_rate",
)

# DuckDB spelling of the fact_rounds rollup over the bridge (the oracle
# re-derivation of gold/models.py FACT_ROUNDS; reference
# pipeline/gold/models/gold/fact_rounds.sql). Dialect deltas:
# TIMESTAMPDIFF-over-truncated-endpoints -> date_diff('second')
# (boundary-counting on both engines; the Spark text has been NTZ-pure
# since the r9 contract sweep), Spark's ISO day-of-week
# arithmetic -> isodow(), int-typed date parts, HUGEINT sums pinned
# back to BIGINT.
_DUCK_FACT_ROUNDS = """
    base AS (
        SELECT * FROM fact_telemetry_event WHERE is_location_padding = FALSE
    ),
    round_rollup AS (
        SELECT
            course_id, round_id,
            MIN(fix_timestamp) AS round_start_ts,
            date_diff('second', MIN(fix_timestamp), MAX(fix_timestamp)) AS duration_sec,
            COUNT(*) AS fix_count,
            CAST(SUM(CASE WHEN is_timestamp_missing THEN 1 ELSE 0 END) AS BIGINT) AS ts_missing_fix_count,
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
            AVG(pace) AS avg_pace_sec,
            MAX(pace) AS max_pace_sec,
            AVG(pace_gap) AS avg_pace_gap_sec,
            AVG(positional_gap) AS avg_positional_gap,
            CAST(SUM(CASE WHEN is_projected THEN 1 ELSE 0 END) AS BIGINT) AS projected_fix_count,
            CAST(SUM(CASE WHEN is_problem THEN 1 ELSE 0 END) AS BIGINT) AS problem_fix_count,
            MIN(battery_percentage) AS min_battery_pct,
            AVG(battery_percentage) AS avg_battery_pct,
            CAST(SUM(CASE WHEN battery_percentage < 20 THEN 1 ELSE 0 END) AS BIGINT) AS low_battery_fix_count,
            CAST(SUM(CASE WHEN battery_percentage < 10 THEN 1 ELSE 0 END) AS BIGINT) AS critical_battery_fix_count,
            CAST(SUM(CASE WHEN is_cache THEN 1 ELSE 0 END) AS BIGINT) AS cached_fix_count
        FROM base GROUP BY course_id, round_id
    ),
    fact_rounds AS (
        SELECT r.*,
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
            CAST(YEAR(round_start_ts) AS INT) AS round_year,
            CAST(MONTH(round_start_ts) AS INT) AS round_month,
            CAST(DAY(round_start_ts) AS INT) AS round_day,
            CAST(ISODOW(round_start_ts) AS INT) AS round_weekday
        FROM round_rollup r
    )
"""


q_gold_fact_rounds = Query(
    name="gold_fact_rounds",
    build=lambda spark, sf_dir: _dates_as_ntz(
        _gold_on_bridge(spark, sf_dir, "fact_rounds"),
        "round_date",
    )
    .select(*_FACT_ROUNDS_COLS)
    .orderBy("course_id", "round_id"),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),
        {_DUCK_FACT_ROUNDS}
        SELECT course_id, round_id,
               CAST(round_date AS TIMESTAMP) AS round_date,
               round_year, round_month, round_day, round_weekday,
               round_length, fix_count, ts_missing_fix_count, holes_played,
               nines_played, min_section_number, max_section_number,
               first_tee_section_number, start_hole, start_section,
               end_section, is_nine_hole, is_complete, duration_sec,
               avg_pace_sec, max_pace_sec, avg_pace_gap_sec,
               avg_positional_gap, projected_fix_count, problem_fix_count,
               cached_fix_count, min_battery_pct, avg_battery_pct,
               low_battery_fix_count, critical_battery_fix_count,
               projected_rate, problem_rate, cached_rate, ts_missing_rate
        FROM fact_rounds
        ORDER BY course_id, round_id
    """,
    doc="The canonical round-grain gold fact (gold/models.py FACT_ROUNDS "
    "— the real Trino->Spark text of reference "
    "pipeline/gold/models/gold/fact_rounds.sql) over the events->"
    "telemetry bridge; every cross-engine-exact column driver-hashed "
    "(round_duration_minutes excluded: its half-decimal ROUND is "
    "engine-ambiguous by construction — see _FACT_ROUNDS_COLS).",
)

q_gold_rounds_by_month = Query(
    name="gold_rounds_by_month",
    # pct_total is EXCLUDED from the hashed projection: the model text
    # computes ROUND(rounds/total*100, 2) on a DOUBLE, which is the
    # Spark shortest-decimal-HALF_UP vs DuckDB binary-product rounding
    # divergence class this module otherwise bans (see the
    # round_duration_minutes note at _FACT_ROUNDS_COLS) — a ratio like
    # 107/4000*100 = 2.675 rounds differently per engine, so the hash
    # would flake data-dependently at other scale factors. Its signal is
    # fully carried by `rounds` (the per-course total is their sum).
    build=lambda spark, sf_dir: _dates_as_ntz(
        _gold_on_bridge(spark, sf_dir, "course_rounds_by_month"),
        "month_start",
    )
    .drop("pct_total")
    .orderBy("course_id", "month_start"),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),
        {_DUCK_FACT_ROUNDS},
        rounds_with_month_keys AS (
            SELECT course_id, round_id,
                CASE WHEN round_start_ts IS NULL THEN DATE '1900-01-01'
                     ELSE CAST(DATE_TRUNC('month', round_start_ts) AS DATE) END AS month_start,
                CASE WHEN round_start_ts IS NULL THEN 0
                     ELSE CAST(MONTH(round_start_ts) AS INT) END AS month_number,
                CASE WHEN round_start_ts IS NULL THEN 'Unknown (missing timestamp)'
                     ELSE STRFTIME(round_start_ts, '%B') END AS month_name
            FROM fact_rounds
        )
        SELECT course_id, CAST(month_start AS TIMESTAMP) AS month_start,
               month_number, month_name,
               COUNT(DISTINCT round_id) AS rounds
        FROM rounds_with_month_keys
        GROUP BY course_id, month_start, month_number, month_name
        ORDER BY course_id, month_start
    """,
    doc="Monthly seasonality gold model (gold/models.py "
    "COURSE_ROUNDS_BY_MONTH, reference course_rounds_by_month.sql) over "
    "the bridged fact — a two-level gold DAG (fact_rounds -> by_month) "
    "driver-verified end-to-end; pct_total excluded (double-ROUND "
    "half-boundary ambiguity, see the build note).",
)

q_gold_data_quality_overview = Query(
    name="gold_data_quality_overview",
    build=lambda spark, sf_dir: _decimals_as_double(
        _gold_on_bridge(spark, sf_dir, "data_quality_overview")
    ).orderBy("course_id"),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),
        base AS (
            SELECT * FROM fact_telemetry_event WHERE is_location_padding = FALSE
        ),
        course_stats AS (
            SELECT course_id,
                COUNT(*) AS total_events,
                COUNT(DISTINCT round_id) AS total_rounds,
                CAST(SUM(CASE WHEN pace IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_pace,
                CAST(SUM(CASE WHEN pace_gap IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_pace_gap,
                CAST(SUM(CASE WHEN positional_gap IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_positional_gap,
                CAST(SUM(CASE WHEN goal_time IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_goal_time,
                CAST(SUM(CASE WHEN latitude IS NULL OR longitude IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_coordinates,
                CAST(SUM(CASE WHEN fix_timestamp IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_fix_timestamp,
                CAST(SUM(CASE WHEN hole_number IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_hole_number,
                CAST(SUM(CASE WHEN section_number IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_section_number,
                CAST(SUM(CASE WHEN hole_section IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_hole_section,
                CAST(SUM(CASE WHEN nine_number IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_nine_number,
                CAST(SUM(CASE WHEN current_nine IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_current_nine,
                CAST(SUM(CASE WHEN battery_percentage IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_battery,
                CAST(SUM(CASE WHEN is_cache IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_is_cache,
                CAST(SUM(CASE WHEN is_projected IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_is_projected,
                CAST(SUM(CASE WHEN is_problem IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_is_problem,
                CAST(SUM(CASE WHEN is_timestamp_missing = TRUE THEN 1 ELSE 0 END) AS BIGINT) AS timestamp_missing_flag,
                CAST(SUM(CASE WHEN start_hole IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_start_hole,
                CAST(SUM(CASE WHEN start_section IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_start_section,
                CAST(SUM(CASE WHEN end_section IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_end_section,
                CAST(SUM(CASE WHEN is_nine_hole IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_is_nine_hole,
                CAST(SUM(CASE WHEN is_complete IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_is_complete,
                CAST(SUM(CASE WHEN battery_percentage < 20 THEN 1 ELSE 0 END) AS BIGINT) AS low_battery_events,
                CAST(SUM(CASE WHEN is_problem = TRUE THEN 1 ELSE 0 END) AS BIGINT) AS problem_events
            FROM base GROUP BY course_id
        ),
        final AS (
        SELECT course_id, total_events, total_rounds,
            CAST(ROUND(100.0 * null_pace / NULLIF(total_events, 0), 2) AS DOUBLE) AS pct_missing_pace,
            CAST(ROUND(100.0 * null_pace_gap / NULLIF(total_events, 0), 2) AS DOUBLE) AS pct_missing_pace_gap,
            CAST(ROUND(100.0 * null_positional_gap / NULLIF(total_events, 0), 2) AS DOUBLE) AS pct_missing_positional_gap,
            CAST(ROUND(100.0 * null_goal_time / NULLIF(total_events, 0), 2) AS DOUBLE) AS pct_missing_goal_time,
            CAST(ROUND(100.0 * null_coordinates / NULLIF(total_events, 0), 2) AS DOUBLE) AS pct_missing_coordinates,
            CAST(ROUND(100.0 * null_fix_timestamp / NULLIF(total_events, 0), 2) AS DOUBLE) AS pct_missing_fix_timestamp,
            CAST(ROUND(100.0 * null_hole_number / NULLIF(total_events, 0), 2) AS DOUBLE) AS pct_missing_hole_number,
            CAST(ROUND(100.0 * null_section_number / NULLIF(total_events, 0), 2) AS DOUBLE) AS pct_missing_section_number,
            CAST(ROUND(100.0 * null_hole_section / NULLIF(total_events, 0), 2) AS DOUBLE) AS pct_missing_hole_section,
            CAST(ROUND(100.0 * null_nine_number / NULLIF(total_events, 0), 2) AS DOUBLE) AS pct_missing_nine_number,
            CAST(ROUND(100.0 * null_current_nine / NULLIF(total_events, 0), 2) AS DOUBLE) AS pct_missing_current_nine,
            CAST(ROUND(100.0 * null_battery / NULLIF(total_events, 0), 2) AS DOUBLE) AS pct_missing_battery,
            CAST(ROUND(100.0 * null_is_cache / NULLIF(total_events, 0), 2) AS DOUBLE) AS pct_missing_is_cache,
            CAST(ROUND(100.0 * null_is_projected / NULLIF(total_events, 0), 2) AS DOUBLE) AS pct_missing_is_projected,
            CAST(ROUND(100.0 * null_is_problem / NULLIF(total_events, 0), 2) AS DOUBLE) AS pct_missing_is_problem,
            CAST(ROUND(100.0 * timestamp_missing_flag / NULLIF(total_events, 0), 2) AS DOUBLE) AS pct_timestamp_missing_flag,
            CAST(ROUND(100.0 * null_start_hole / NULLIF(total_events, 0), 2) AS DOUBLE) AS pct_missing_start_hole,
            CAST(ROUND(100.0 * null_start_section / NULLIF(total_events, 0), 2) AS DOUBLE) AS pct_missing_start_section,
            CAST(ROUND(100.0 * null_end_section / NULLIF(total_events, 0), 2) AS DOUBLE) AS pct_missing_end_section,
            CAST(ROUND(100.0 * null_is_nine_hole / NULLIF(total_events, 0), 2) AS DOUBLE) AS pct_missing_is_nine_hole,
            CAST(ROUND(100.0 * null_is_complete / NULLIF(total_events, 0), 2) AS DOUBLE) AS pct_missing_is_complete,
            CAST(ROUND(100 - ((COALESCE(100.0 * null_pace / NULLIF(total_events, 0), 0) + COALESCE(100.0 * null_pace_gap / NULLIF(total_events, 0), 0) +
                 COALESCE(100.0 * null_positional_gap / NULLIF(total_events, 0), 0) + COALESCE(100.0 * null_goal_time / NULLIF(total_events, 0), 0)) / 4), 1) AS DOUBLE) AS score_tier_1_pace,
            CAST(ROUND(100 - ((COALESCE(100.0 * null_coordinates / NULLIF(total_events, 0), 0) + COALESCE(100.0 * null_fix_timestamp / NULLIF(total_events, 0), 0) +
                 COALESCE(100.0 * null_hole_number / NULLIF(total_events, 0), 0) + COALESCE(100.0 * null_section_number / NULLIF(total_events, 0), 0)) / 4), 1) AS DOUBLE) AS score_tier_2_location,
            CAST(ROUND(100 - ((COALESCE(100.0 * null_battery / NULLIF(total_events, 0), 0) + COALESCE(100.0 * null_is_cache / NULLIF(total_events, 0), 0) +
                 COALESCE(100.0 * timestamp_missing_flag / NULLIF(total_events, 0), 0)) / 3), 1) AS DOUBLE) AS score_tier_3_device,
            CAST(ROUND(100 - ((COALESCE(100.0 * null_start_hole / NULLIF(total_events, 0), 0) + COALESCE(100.0 * null_is_nine_hole / NULLIF(total_events, 0), 0) +
                 COALESCE(100.0 * null_is_complete / NULLIF(total_events, 0), 0)) / 3), 1) AS DOUBLE) AS score_tier_4_config,
            CAST(ROUND((
              (100 - ((COALESCE(100.0 * null_pace / NULLIF(total_events, 0), 0) + COALESCE(100.0 * null_pace_gap / NULLIF(total_events, 0), 0) + COALESCE(100.0 * null_positional_gap / NULLIF(total_events, 0), 0) + COALESCE(100.0 * null_goal_time / NULLIF(total_events, 0), 0)) / 4)) +
              (100 - ((COALESCE(100.0 * null_coordinates / NULLIF(total_events, 0), 0) + COALESCE(100.0 * null_fix_timestamp / NULLIF(total_events, 0), 0) + COALESCE(100.0 * null_hole_number / NULLIF(total_events, 0), 0) + COALESCE(100.0 * null_section_number / NULLIF(total_events, 0), 0)) / 4)) +
              (100 - ((COALESCE(100.0 * null_battery / NULLIF(total_events, 0), 0) + COALESCE(100.0 * null_is_cache / NULLIF(total_events, 0), 0) + COALESCE(100.0 * timestamp_missing_flag / NULLIF(total_events, 0), 0)) / 3)) +
              (100 - ((COALESCE(100.0 * null_start_hole / NULLIF(total_events, 0), 0) + COALESCE(100.0 * null_is_nine_hole / NULLIF(total_events, 0), 0) + COALESCE(100.0 * null_is_complete / NULLIF(total_events, 0), 0)) / 3))
            ) / 4, 1) AS DOUBLE) AS data_quality_score,
            low_battery_events, problem_events
        FROM course_stats
        )
        SELECT final.*, data_quality_score AS overall_quality_score
        FROM final ORDER BY course_id
    """,
    doc="Per-course null audit + tier scores gold model (gold/models.py "
    "DATA_QUALITY_OVERVIEW, reference data_quality_overview.sql) over "
    "the bridged fact — the bridge's deterministic NULL stripes give "
    "every tier a non-trivial score; decimal percentage columns ship as "
    "double on both engines (_decimals_as_double).",
)

q_gold_completeness_summary = Query(
    name="gold_completeness_summary",
    build=lambda spark, sf_dir: _decimals_as_double(
        _gold_on_bridge(spark, sf_dir, "telemetry_completeness_summary")
    ).orderBy("course_id"),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),
        per_course AS (
            SELECT course_id,
                COUNT(*) AS total_rows,
                CAST(SUM(CASE WHEN is_location_padding THEN 1 ELSE 0 END) AS BIGINT) AS padding_rows,
                CAST(SUM(CASE WHEN NOT is_location_padding THEN 1 ELSE 0 END) AS BIGINT) AS non_padding_rows,
                CAST(SUM(CASE WHEN is_timestamp_missing THEN 1 ELSE 0 END) AS BIGINT) AS ts_missing_rows,
                CAST(SUM(CASE WHEN is_timestamp_missing AND NOT is_location_padding THEN 1 ELSE 0 END) AS BIGINT) AS ts_missing_non_padding_rows
            FROM fact_telemetry_event
            GROUP BY course_id
        )
        SELECT course_id, total_rows, padding_rows, non_padding_rows,
               ts_missing_rows, ts_missing_non_padding_rows,
               CAST(ROUND(100.0 * padding_rows / NULLIF(total_rows, 0), 2) AS DOUBLE) AS pct_padding_total,
               CAST(ROUND(100.0 * ts_missing_rows / NULLIF(total_rows, 0), 2) AS DOUBLE) AS pct_ts_missing_total,
               CAST(ROUND(100.0 * ts_missing_non_padding_rows / NULLIF(non_padding_rows, 0), 2) AS DOUBLE) AS pct_ts_missing_non_padding
        FROM per_course ORDER BY course_id
    """,
    doc="Padding/timestamp coverage gold model (gold/models.py "
    "TELEMETRY_COMPLETENESS_SUMMARY, reference "
    "telemetry_completeness_summary.sql) over the bridged fact.",
)


q_gold_rounds_by_weekday = Query(
    name="gold_rounds_by_weekday",
    build=lambda spark, sf_dir: _gold_on_bridge(
        spark, sf_dir, "course_rounds_by_weekday"
    ).orderBy("course_id", "weekday_number"),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),
        {_DUCK_FACT_ROUNDS}
        SELECT course_id,
               CASE WHEN round_start_ts IS NULL THEN 0
                    ELSE CAST(ISODOW(round_start_ts) AS INT) END AS weekday_number,
               CASE WHEN round_start_ts IS NULL THEN 'Unknown (missing timestamp)'
                    ELSE STRFTIME(round_start_ts, '%A') END AS weekday_name,
               COUNT(*) AS rounds
        FROM fact_rounds
        GROUP BY course_id,
               CASE WHEN round_start_ts IS NULL THEN 0
                    ELSE CAST(ISODOW(round_start_ts) AS INT) END,
               CASE WHEN round_start_ts IS NULL THEN 'Unknown (missing timestamp)'
                    ELSE STRFTIME(round_start_ts, '%A') END
        ORDER BY course_id, weekday_number
    """,
    doc="Weekday seasonality gold model (gold/models.py "
    "COURSE_ROUNDS_BY_WEEKDAY, reference course_rounds_by_weekday.sql; "
    "Trino day_of_week 1=Mon == DuckDB isodow) over the bridged "
    "fact_rounds chain, explicit unknown-timestamp bucket included.",
)

q_gold_start_hole_distribution = Query(
    name="gold_start_hole_distribution",
    build=lambda spark, sf_dir: _decimals_as_double(
        _gold_on_bridge(spark, sf_dir, "course_start_hole_distribution")
    ).orderBy("course_id", "start_hole"),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),
        {_DUCK_FACT_ROUNDS},
        rounds AS (
            SELECT course_id, round_id, start_hole, start_section,
                   min_section_number, first_tee_section_number, is_complete
            FROM fact_rounds WHERE start_hole IS NOT NULL
        ),
        start_stats AS (
            SELECT course_id, start_hole,
                   COUNT(*) AS rounds_with_this_start,
                   CAST(SUM(CASE WHEN is_complete THEN 1 ELSE 0 END) AS BIGINT) AS complete_rounds_with_this_start,
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
                   CAST(SUM(rounds_with_this_start) AS BIGINT) AS total_rounds,
                   CAST(SUM(complete_rounds_with_this_start) AS BIGINT) AS total_complete_rounds,
                   COUNT(DISTINCT start_hole) AS distinct_start_holes
            FROM start_stats GROUP BY course_id
        )
        SELECT s.course_id, s.start_hole, s.rounds_with_this_start,
               s.complete_rounds_with_this_start, t.total_rounds, t.total_complete_rounds,
               t.distinct_start_holes,
               CAST(ROUND(100.0 * s.rounds_with_this_start / NULLIF(t.total_rounds, 0), 2) AS DOUBLE) AS pct_rounds_with_this_start,
               CAST(ROUND(100.0 * s.complete_rounds_with_this_start / NULLIF(t.total_complete_rounds, 0), 2) AS DOUBLE) AS pct_complete_rounds_with_this_start,
               s.min_min_section_number, s.max_min_section_number,
               s.min_start_section, s.max_start_section,
               s.min_first_tee_section_number, s.max_first_tee_section_number
        FROM start_stats s
        JOIN course_totals t ON s.course_id = t.course_id
        ORDER BY s.course_id, s.start_hole
    """,
    doc="Shotgun-start analysis gold model (gold/models.py "
    "COURSE_START_HOLE_DISTRIBUTION, reference "
    "course_start_hole_distribution.sql) over the bridged fact_rounds "
    "chain; decimal percentage columns ship as double on both engines.",
)

q_gold_coverage_audit = Query(
    name="gold_coverage_audit",
    build=lambda spark, sf_dir: _gold_on_bridge(
        spark, sf_dir, "gold_coverage_audit"
    ).orderBy("course_id"),
    # The audit-by-construction model: silver counts reconciled against
    # fact_rounds, fact_round_hole_performance, both seasonality models
    # and dim_course — a SIX-model gold DAG (via dim_course's own deps)
    # materialized on the Spark side and re-derived below as DuckDB
    # CTEs. Every projected column is a count, a distinct-count, or the
    # dim-course presence/unit scalars, so the whole chain is
    # cross-engine exact; the hole-performance and dim_course branches
    # join the deterministic bridge topology 1:1 (one unit per
    # (course, nine)), which both engines build from the SAME SQL text.
    # Seasonality sums collapse algebraically (Σ per-bucket COUNT ==
    # total COUNT; the unknown-timestamp bucket == NULL-start rounds) —
    # the DuckDB text uses the collapsed form, the Spark side runs the
    # real model chain.
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),
        {_DUCK_FACT_ROUNDS},
        dim_facility_topology AS ({_DUCK_TOPOLOGY}),
        courses AS (
            SELECT DISTINCT course_id FROM fact_telemetry_event WHERE course_id IS NOT NULL
        ),
        silver_event_counts AS (
            SELECT course_id,
                COUNT(*) AS silver_total_rows,
                CAST(SUM(CASE WHEN is_location_padding THEN 1 ELSE 0 END) AS BIGINT) AS silver_padding_rows,
                CAST(SUM(CASE WHEN NOT is_location_padding THEN 1 ELSE 0 END) AS BIGINT) AS silver_non_padding_rows,
                CAST(SUM(CASE WHEN is_timestamp_missing THEN 1 ELSE 0 END) AS BIGINT) AS silver_ts_missing_rows,
                CAST(SUM(CASE WHEN is_timestamp_missing AND NOT is_location_padding THEN 1 ELSE 0 END) AS BIGINT) AS silver_ts_missing_non_padding_rows,
                COUNT(DISTINCT round_id) AS silver_distinct_rounds_all,
                COUNT(DISTINCT CASE WHEN NOT is_location_padding THEN round_id END) AS silver_distinct_rounds_non_padding
            FROM fact_telemetry_event
            WHERE course_id IS NOT NULL
            GROUP BY course_id
        ),
        gold_fact_rounds_agg AS (
            SELECT course_id, COUNT(*) AS gold_fact_rounds_rows,
                   COUNT(DISTINCT round_id) AS gold_fact_rounds_distinct_rounds,
                   CAST(SUM(fix_count) AS BIGINT) AS gold_fact_rounds_sum_fix_count
            FROM fact_rounds GROUP BY course_id
        ),
        hole_groups AS (
            SELECT course_id, round_id, hole_number, nine_number
            FROM fact_telemetry_event
            WHERE is_location_padding = FALSE AND hole_number IS NOT NULL
            GROUP BY course_id, round_id, hole_number, nine_number
        ),
        gold_hole_perf AS (
            SELECT course_id, COUNT(*) AS gold_hole_perf_rows,
                   COUNT(DISTINCT round_id) AS gold_hole_perf_distinct_rounds,
                   COUNT(DISTINCT CAST(round_id AS VARCHAR) || ':' || CAST(hole_number AS VARCHAR) || ':' || CAST(nine_number AS VARCHAR))
                       AS gold_hole_perf_distinct_round_hole_nine
            FROM hole_groups GROUP BY course_id
        ),
        gold_seasonality_month AS (
            SELECT course_id,
                   CAST(COUNT(*) AS BIGINT) AS gold_rounds_by_month_sum_rounds,
                   CAST(SUM(CASE WHEN round_start_ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS gold_rounds_by_month_unknown_ts_rounds
            FROM fact_rounds GROUP BY course_id
        ),
        gold_seasonality_weekday AS (
            SELECT course_id,
                   CAST(COUNT(*) AS BIGINT) AS gold_rounds_by_weekday_sum_rounds,
                   CAST(SUM(CASE WHEN round_start_ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS gold_rounds_by_weekday_unknown_ts_rounds
            FROM fact_rounds GROUP BY course_id
        ),
        gold_dim_course AS (
            -- Mirrors the Spark dim_course shape exactly: courses come
            -- from the fact (dim_course emits a row for EVERY base
            -- course, present=1 unconditionally), and unit_count is
            -- COALESCE'd to 0 when the topology has no units for the
            -- course (the model's CASE WHEN unit_names IS NULL THEN 0).
            -- Deriving courses from the topology instead would silently
            -- drop a NULL-nine course stripe if one is ever added.
            SELECT c.course_id, 1 AS gold_dim_course_present,
                   CAST(COALESCE(u.unit_count, 0) AS INT) AS unit_count
            FROM courses c
            LEFT JOIN (
                SELECT facility_id, COUNT(DISTINCT unit_name) AS unit_count
                FROM dim_facility_topology
                WHERE unit_name IS NOT NULL
                GROUP BY facility_id
            ) u ON c.course_id = u.facility_id
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
        LEFT JOIN gold_fact_rounds_agg fr ON c.course_id = fr.course_id
        LEFT JOIN gold_hole_perf hp ON c.course_id = hp.course_id
        LEFT JOIN gold_seasonality_month sm ON c.course_id = sm.course_id
        LEFT JOIN gold_seasonality_weekday sw ON c.course_id = sw.course_id
        LEFT JOIN gold_dim_course dc ON c.course_id = dc.course_id
        ORDER BY c.course_id
    """,
    doc="Audit-by-construction reconciliation (gold/models.py "
    "GOLD_COVERAGE_AUDIT, reference gold_coverage_audit.sql — the "
    "reference's cheapest correctness tripwire, SURVEY §5.4) over the "
    "bridged fact: the deepest driver-verified chain (fact_rounds, "
    "hole-performance, both seasonality models, dim_course and its "
    "three summary deps, plus the deterministic bridge topology).",
)


def _arrays_as_joined(df: DataFrame, *cols: str) -> DataFrame:
    """Transport shim for array<string> outputs: ship as a '+'-joined
    string on both engines (the agg_bool_array precedent) — the driver's
    value hash of raw array cells is engine-sensitive."""
    from pyspark.sql import functions as F

    for c in cols:
        df = df.withColumn(c, F.array_join(F.col(c), "+"))
    return df


q_gold_device_health_errors = Query(
    name="gold_device_health_errors",
    build=lambda spark, sf_dir: _gold_on_bridge(
        spark, sf_dir, "device_health_errors"
    ).orderBy("course_id", "round_id", "fix_timestamp", "battery_percentage"),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT course_id, round_id, fix_timestamp, battery_percentage,
               CASE WHEN battery_percentage IS NULL THEN NULL
                    WHEN battery_percentage < 10 THEN 'battery_critical'
                    WHEN battery_percentage < 20 THEN 'battery_low'
                    ELSE NULL END AS health_flag
        FROM fact_telemetry_event
        WHERE is_location_padding = FALSE
          AND battery_percentage IS NOT NULL
          AND battery_percentage < 20
        ORDER BY course_id, round_id, fix_timestamp, battery_percentage
    """,
    doc="Low/critical battery event log gold model (gold/models.py "
    "DEVICE_HEALTH_ERRORS, reference device_health_errors.sql) over the "
    "bridged fact — event-grain (not aggregated) driver row, including "
    "NULL fix_timestamp stripes under the keep-and-flag rule.",
)

q_gold_pace_summary_by_round = Query(
    name="gold_pace_summary_by_round",
    build=lambda spark, sf_dir: _gold_on_bridge(
        spark, sf_dir, "pace_summary_by_round"
    ).orderBy("course_id", "round_id"),
    # round_end_ts is not part of the shared fact_rounds oracle CTE;
    # re-derived here from the same padding-filtered base (identical
    # MAX(fix_timestamp) by construction) so the shared text under the
    # other gold oracles stays untouched.
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),
        {_DUCK_FACT_ROUNDS},
        ends AS (
            SELECT course_id, round_id, MAX(fix_timestamp) AS round_end_ts
            FROM fact_telemetry_event
            WHERE is_location_padding = FALSE
            GROUP BY course_id, round_id
        )
        SELECT f.course_id, f.round_id, f.round_start_ts, e.round_end_ts,
               f.fix_count,
               f.avg_pace_sec AS avg_pace,
               f.avg_pace_gap_sec AS avg_pace_gap,
               f.avg_positional_gap AS avg_positional_gap
        FROM fact_rounds f JOIN ends e USING (course_id, round_id)
        ORDER BY f.course_id, f.round_id
    """,
    doc="Thin pace projection gold model (gold/models.py "
    "PACE_SUMMARY_BY_ROUND, reference pace_summary_by_round.sql) over "
    "the bridged fact_rounds chain; averages are over integer-valued "
    "doubles (cross-engine exact, see _FACT_ROUNDS_COLS).",
)

q_gold_hole_performance = Query(
    name="gold_hole_performance",
    build=lambda spark, sf_dir: _gold_on_bridge(
        spark, sf_dir, "fact_round_hole_performance"
    ).orderBy("course_id", "round_id", "hole_number", "nine_number"),
    # The J2 topology join under the driver: hole grain x the
    # deterministic (course, nine) unit view — 1:1 by construction,
    # both engines build the topology from the SAME SQL text.
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),
        dim_facility_topology AS ({_DUCK_TOPOLOGY}),
        hole_stats AS (
            SELECT course_id, round_id, hole_number, nine_number,
                   MIN(fix_timestamp) AS hole_start_time,
                   MAX(fix_timestamp) AS hole_end_time,
                   date_diff('second', MIN(fix_timestamp), MAX(fix_timestamp)) AS duration_sec,
                   AVG(pace) AS avg_pace_sec,
                   MAX(pace) AS max_pace_sec,
                   AVG(pace_gap) AS avg_pace_gap_sec,
                   BOOL_OR(is_complete) AS round_was_completed
            FROM fact_telemetry_event
            WHERE is_location_padding = FALSE AND hole_number IS NOT NULL
            GROUP BY course_id, round_id, hole_number, nine_number
        )
        SELECT h.course_id, h.round_id, h.hole_number, h.nine_number,
               t.unit_name AS course_unit,
               h.hole_start_time, h.hole_end_time, h.duration_sec,
               h.avg_pace_sec, h.max_pace_sec, h.avg_pace_gap_sec,
               h.round_was_completed
        FROM hole_stats h
        LEFT JOIN dim_facility_topology t
            ON h.course_id = t.facility_id AND h.nine_number = t.nine_number
        ORDER BY h.course_id, h.round_id, h.hole_number, h.nine_number
    """,
    doc="Per (round, hole, nine) performance gold model (gold/models.py "
    "FACT_ROUND_HOLE_PERFORMANCE, reference "
    "fact_round_hole_performance.sql:52-55) over the bridged fact — "
    "the hole-grain topology join (SURVEY J2) driver-verified with "
    "unit names, second-truncated durations and exact pace averages.",
)

q_gold_dim_course = Query(
    name="gold_dim_course",
    build=lambda spark, sf_dir: _cast_cols(
        _arrays_as_joined(
            _decimals_as_double(_gold_on_bridge(spark, sf_dir, "dim_course")),
            "playable_round_lengths",
            "unit_names",
        ),
        "bigint",
        "course_complexity_score",
    ).orderBy("course_id"),
    # The five-way stitch (reference dim_course.sql:89-99): base courses
    # x configuration analysis x data-quality scores x completeness x
    # round range x topology units. Every intermediate CTE below is the
    # trimmed-to-projected-columns DuckDB re-derivation of the matching
    # gold model text, reusing the exact decimal-percentage expressions
    # already driver-green under gold_data_quality_overview /
    # gold_completeness_summary; arrays ship '+'-joined on both engines.
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),
        {_DUCK_FACT_ROUNDS},
        dim_facility_topology AS ({_DUCK_TOPOLOGY}),
        base_courses AS (
            SELECT DISTINCT course_id FROM fact_telemetry_event WHERE course_id IS NOT NULL
        ),
        config AS (
            SELECT course_id,
                COUNT(DISTINCT round_id) AS total_rounds,
                MAX(max_section_number) AS max_section_seen,
                MAX(holes_played) AS max_holes_in_round,
                CASE WHEN MAX(max_section_number) > 54 THEN '27-hole'
                     WHEN MAX(max_section_number) > 27 THEN '18-hole'
                     ELSE '9-hole' END AS likely_course_type,
                CAST(SUM(CASE WHEN is_nine_hole = TRUE THEN 1 ELSE 0 END) AS BIGINT) AS nine_hole_rounds,
                CAST(SUM(CASE WHEN is_nine_hole = FALSE OR is_nine_hole IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS full_rounds,
                CAST(SUM(CASE WHEN is_complete = TRUE THEN 1 ELSE 0 END) AS BIGINT) AS complete_rounds,
                CAST(SUM(CASE WHEN is_complete = FALSE THEN 1 ELSE 0 END) AS BIGINT) AS incomplete_rounds,
                COUNT(DISTINCT start_hole) AS unique_start_holes,
                CAST(SUM(CASE WHEN start_hole != 1 AND start_hole IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS shotgun_start_rounds
            FROM fact_rounds GROUP BY course_id
        ),
        config_final AS (
            SELECT course_id, likely_course_type, max_section_seen, max_holes_in_round,
                unique_start_holes,
                CAST(ROUND(100.0 * shotgun_start_rounds / NULLIF(total_rounds, 0), 1) AS DOUBLE) AS pct_shotgun_starts,
                CAST(ROUND(100.0 * nine_hole_rounds / NULLIF(total_rounds, 0), 1) AS DOUBLE) AS pct_nine_hole,
                CAST(ROUND(100.0 * full_rounds / NULLIF(total_rounds, 0), 1) AS DOUBLE) AS pct_full_rounds,
                CAST(unique_start_holes * 10 +
                     CASE likely_course_type WHEN '27-hole' THEN 30 WHEN '18-hole' THEN 20 ELSE 10 END +
                     CASE WHEN 100.0 * nine_hole_rounds / NULLIF(total_rounds, 0) > 20 THEN 10 ELSE 0 END +
                     CASE WHEN 100.0 * incomplete_rounds / NULLIF(total_rounds, 0) > 10 THEN 5 ELSE 0 END
                     AS BIGINT) AS course_complexity_score
            FROM config
        ),
        dq_base AS (
            SELECT * FROM fact_telemetry_event WHERE is_location_padding = FALSE
        ),
        dq_stats AS (
            SELECT course_id,
                COUNT(*) AS total_events,
                CAST(SUM(CASE WHEN pace IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_pace,
                CAST(SUM(CASE WHEN pace_gap IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_pace_gap,
                CAST(SUM(CASE WHEN positional_gap IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_positional_gap,
                CAST(SUM(CASE WHEN goal_time IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_goal_time,
                CAST(SUM(CASE WHEN latitude IS NULL OR longitude IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_coordinates,
                CAST(SUM(CASE WHEN fix_timestamp IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_fix_timestamp,
                CAST(SUM(CASE WHEN hole_number IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_hole_number,
                CAST(SUM(CASE WHEN section_number IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_section_number,
                CAST(SUM(CASE WHEN battery_percentage IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_battery,
                CAST(SUM(CASE WHEN is_cache IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_is_cache,
                CAST(SUM(CASE WHEN is_timestamp_missing = TRUE THEN 1 ELSE 0 END) AS BIGINT) AS timestamp_missing_flag,
                CAST(SUM(CASE WHEN start_hole IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_start_hole,
                CAST(SUM(CASE WHEN is_nine_hole IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_is_nine_hole,
                CAST(SUM(CASE WHEN is_complete IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_is_complete
            FROM dq_base GROUP BY course_id
        ),
        dq AS (
            SELECT course_id,
                CAST(ROUND(100.0 * null_pace / NULLIF(total_events, 0), 2) AS DOUBLE) AS pct_missing_pace,
                CAST(ROUND(100.0 * null_pace_gap / NULLIF(total_events, 0), 2) AS DOUBLE) AS pct_missing_pace_gap,
                CAST(ROUND(100.0 * null_hole_number / NULLIF(total_events, 0), 2) AS DOUBLE) AS pct_missing_hole_number,
                CAST(ROUND(100.0 * null_section_number / NULLIF(total_events, 0), 2) AS DOUBLE) AS pct_missing_section_number,
                CAST(ROUND(100.0 * null_fix_timestamp / NULLIF(total_events, 0), 2) AS DOUBLE) AS pct_missing_fix_timestamp,
                CAST(ROUND(100.0 * null_start_hole / NULLIF(total_events, 0), 2) AS DOUBLE) AS pct_missing_start_hole,
                CAST(ROUND((
                  (100 - ((COALESCE(100.0 * null_pace / NULLIF(total_events, 0), 0) + COALESCE(100.0 * null_pace_gap / NULLIF(total_events, 0), 0) + COALESCE(100.0 * null_positional_gap / NULLIF(total_events, 0), 0) + COALESCE(100.0 * null_goal_time / NULLIF(total_events, 0), 0)) / 4)) +
                  (100 - ((COALESCE(100.0 * null_coordinates / NULLIF(total_events, 0), 0) + COALESCE(100.0 * null_fix_timestamp / NULLIF(total_events, 0), 0) + COALESCE(100.0 * null_hole_number / NULLIF(total_events, 0), 0) + COALESCE(100.0 * null_section_number / NULLIF(total_events, 0), 0)) / 4)) +
                  (100 - ((COALESCE(100.0 * null_battery / NULLIF(total_events, 0), 0) + COALESCE(100.0 * null_is_cache / NULLIF(total_events, 0), 0) + COALESCE(100.0 * timestamp_missing_flag / NULLIF(total_events, 0), 0)) / 3)) +
                  (100 - ((COALESCE(100.0 * null_start_hole / NULLIF(total_events, 0), 0) + COALESCE(100.0 * null_is_nine_hole / NULLIF(total_events, 0), 0) + COALESCE(100.0 * null_is_complete / NULLIF(total_events, 0), 0)) / 3))
                ) / 4, 1) AS DOUBLE) AS data_quality_score
            FROM dq_stats
        ),
        tc AS (
            SELECT course_id,
                COUNT(*) AS total_rows,
                CAST(SUM(CASE WHEN is_location_padding THEN 1 ELSE 0 END) AS BIGINT) AS padding_rows,
                CAST(SUM(CASE WHEN NOT is_location_padding THEN 1 ELSE 0 END) AS BIGINT) AS non_padding_rows,
                CAST(ROUND(100.0 * SUM(CASE WHEN is_location_padding THEN 1 ELSE 0 END) / NULLIF(COUNT(*), 0), 2) AS DOUBLE) AS pct_padding_total,
                CAST(ROUND(100.0 * SUM(CASE WHEN is_timestamp_missing THEN 1 ELSE 0 END) / NULLIF(COUNT(*), 0), 2) AS DOUBLE) AS pct_ts_missing_total,
                CAST(ROUND(100.0 * SUM(CASE WHEN is_timestamp_missing AND NOT is_location_padding THEN 1 ELSE 0 END) / NULLIF(SUM(CASE WHEN NOT is_location_padding THEN 1 ELSE 0 END), 0), 2) AS DOUBLE) AS pct_ts_missing_non_padding
            FROM fact_telemetry_event GROUP BY course_id
        ),
        round_range AS (
            SELECT course_id,
                COUNT(*) AS rounds_observed,
                CAST(SUM(CASE WHEN is_complete THEN 1 ELSE 0 END) AS BIGINT) AS complete_rounds_observed,
                MIN(round_start_ts) AS first_round_start_ts,
                MAX(round_start_ts) AS last_round_start_ts,
                array_to_string(list_sort(list_distinct(list(round_length))), '+') AS playable_round_lengths
            FROM fact_rounds GROUP BY course_id
        ),
        units AS (
            SELECT facility_id AS course_id,
                   list_sort(list_distinct(list(unit_name))) AS unit_names
            FROM dim_facility_topology
            WHERE unit_name IS NOT NULL
            GROUP BY facility_id
        )
        SELECT bc.course_id,
            c.likely_course_type, c.max_section_seen, c.max_holes_in_round,
            c.unique_start_holes, c.pct_shotgun_starts, c.pct_nine_hole,
            c.pct_full_rounds, c.course_complexity_score,
            r.rounds_observed, r.complete_rounds_observed,
            r.first_round_start_ts, r.last_round_start_ts, r.playable_round_lengths,
            dq.data_quality_score, dq.data_quality_score AS overall_quality_score,
            dq.pct_missing_pace, dq.pct_missing_pace_gap, dq.pct_missing_hole_number,
            dq.pct_missing_section_number, dq.pct_missing_fix_timestamp, dq.pct_missing_start_hole,
            tc.total_rows, tc.padding_rows, tc.non_padding_rows,
            tc.pct_padding_total, tc.pct_ts_missing_total, tc.pct_ts_missing_non_padding,
            array_to_string(u.unit_names, '+') AS unit_names,
            CAST(COALESCE(len(u.unit_names), 0) AS INT) AS unit_count
        FROM base_courses bc
        LEFT JOIN config_final c ON bc.course_id = c.course_id
        LEFT JOIN dq ON bc.course_id = dq.course_id
        LEFT JOIN tc ON bc.course_id = tc.course_id
        LEFT JOIN round_range r ON bc.course_id = r.course_id
        LEFT JOIN units u ON bc.course_id = u.course_id
        ORDER BY bc.course_id
    """,
    doc="Course dimension gold model (gold/models.py DIM_COURSE, "
    "reference dim_course.sql:89-99 — the five-summary stitch) over the "
    "bridged fact: the widest driver-verified gold projection "
    "(configuration, quality tiers, completeness, round range, topology "
    "units), decimal percentages as double, arrays '+'-joined.",
)


# ---------------------------------------------------------------------------
# The highest-traffic dashboard-library queries.  Same bridge, same
# pattern: the REAL library text runs on Spark; the oracle re-spells it
# in DuckDB's dialect over _DUCK_BRIDGE.  Hash-risky columns (ROUND on
# arbitrary doubles, percentile sketches) are projected away in the
# REGISTRY SHIM only — the library text itself is never edited (the
# pct_total precedent from the round-6 ADVICE fix).
# ---------------------------------------------------------------------------


def _min_round(spark: SparkSession, sf_dir: str, course: str) -> str:
    """Deterministic round pick for the single-round dashboard detail
    queries: the MIN round_id of the course on the bridged fact — both
    engines derive the identical value, so the oracle embeds the same
    choice as a scalar subquery."""
    load_views(spark, sf_dir)
    spark.sql(_SPARK_BRIDGE).createOrReplaceTempView("fact_telemetry_event")
    return spark.sql(
        f"SELECT MIN(round_id) FROM fact_telemetry_event WHERE course_id = '{course}'"
    ).first()[0]


_MIN_ROUND_DUCK = (
    "(SELECT MIN(round_id) FROM fact_telemetry_event WHERE course_id = '{course}')"
)

q_telemetry_round_progression = Query(
    name="telemetry_round_progression",
    build=lambda spark, sf_dir: _bridged(
        spark,
        sf_dir,
        "get_round_progression",
        course_id=_COURSE,
        round_id=_min_round(spark, sf_dir, _COURSE),
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            location_index, nine_number, hole_number, section_number,
            fix_timestamp, pace, is_location_padding,
            ROW_NUMBER() OVER (ORDER BY location_index) AS event_sequence,
            LAG(hole_number) OVER (ORDER BY location_index) AS prev_hole,
            LAG(section_number) OVER (ORDER BY location_index) AS prev_section,
            CASE
                WHEN LAG(hole_number) OVER (ORDER BY location_index) IS NULL THEN 'start'
                WHEN hole_number = LAG(hole_number) OVER (ORDER BY location_index) THEN 'same_hole'
                WHEN hole_number = LAG(hole_number) OVER (ORDER BY location_index) + 1 THEN 'next_hole'
                WHEN hole_number < LAG(hole_number) OVER (ORDER BY location_index) THEN 'backwards'
                ELSE 'skip'
            END AS hole_transition,
            CASE
                WHEN LAG(section_number) OVER (ORDER BY location_index) IS NULL THEN 'start'
                WHEN section_number = LAG(section_number) OVER (ORDER BY location_index) THEN 'same_section'
                WHEN section_number = LAG(section_number) OVER (ORDER BY location_index) + 1 THEN 'next_section'
                WHEN section_number < LAG(section_number) OVER (ORDER BY location_index) THEN 'backwards'
                ELSE 'skip'
            END AS section_transition
        FROM fact_telemetry_event
        WHERE course_id = '{_COURSE}'
          AND round_id = {_MIN_ROUND_DUCK.format(course=_COURSE)}
          AND is_location_padding = FALSE
        ORDER BY location_index
    """,
    doc="Reference parity, per-round transition classification "
    "(dashboard/utils/queries.py:997-1033 — the LAG CASE sequence "
    "analysis, W3) over the events->telemetry bridge, on the course's "
    "deterministic MIN round (both engines derive the same pick). "
    "Every column exact: ints, NTZ stamps, CASE labels.",
)

q_telemetry_progression_summary = Query(
    name="telemetry_progression_summary",
    # Registry shim: the two ROUND(100.0*x/y, 1) percentage columns are
    # projected away from the HASHED output (half-decimal ambiguity on
    # arbitrary ratios — the excluded-ROUND rule); their signal is fully
    # carried by the hashed integer numerators/denominator.  The library
    # text runs unchanged.
    build=lambda spark, sf_dir: _bridged(
        spark, sf_dir, "get_round_progression_summary", course_id=_COURSE
    ).drop("hole_anomaly_pct", "section_anomaly_pct"),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),
        round_transitions AS (
            SELECT
                course_id, round_id, location_index, hole_number, section_number,
                LAG(hole_number) OVER (PARTITION BY round_id ORDER BY location_index) AS prev_hole,
                LAG(section_number) OVER (PARTITION BY round_id ORDER BY location_index) AS prev_section
            FROM fact_telemetry_event
            WHERE course_id = '{_COURSE}'
              AND is_location_padding = FALSE
              AND hole_number IS NOT NULL
              AND section_number IS NOT NULL
        ),
        transition_analysis AS (
            SELECT
                round_id,
                COUNT(*) AS total_events,
                CAST(SUM(CASE WHEN prev_hole IS NULL THEN 0
                         WHEN hole_number = prev_hole THEN 0
                         WHEN hole_number = prev_hole + 1 THEN 0
                         WHEN hole_number < prev_hole THEN 1
                         ELSE 1 END) AS BIGINT) AS hole_anomalies,
                CAST(SUM(CASE WHEN prev_section IS NULL THEN 0
                         WHEN section_number = prev_section THEN 0
                         WHEN section_number = prev_section + 1 THEN 0
                         WHEN section_number < prev_section THEN 1
                         ELSE 1 END) AS BIGINT) AS section_anomalies,
                MIN(hole_number) AS start_hole,
                MAX(hole_number) AS end_hole,
                COUNT(DISTINCT hole_number) AS holes_visited
            FROM round_transitions
            GROUP BY round_id
        )
        SELECT
            round_id, total_events, start_hole, end_hole, holes_visited,
            hole_anomalies, section_anomalies,
            CASE
                WHEN hole_anomalies = 0 AND section_anomalies = 0 THEN 'clean'
                WHEN hole_anomalies <= 2 AND section_anomalies <= 5 THEN 'minor_issues'
                ELSE 'needs_review'
            END AS progression_quality
        FROM transition_analysis
        ORDER BY hole_anomalies DESC, section_anomalies DESC
    """,
    doc="Reference parity, per-round transition anomaly scoring "
    "(dashboard/utils/queries.py:1060-1122) over the events->telemetry "
    "bridge: integer anomaly counts, hole range, visit counts, and the "
    "quality-tier CASE; the two ROUNDed percentage columns are shimmed "
    "out of the hashed projection (excluded-ROUND rule).",
)

q_telemetry_nine_combinations = Query(
    name="telemetry_nine_combinations",
    build=lambda spark, sf_dir: _bridged(
        spark, sf_dir, "get_round_nine_combinations_for_course", course_id=_COURSE
    ),
    # DuckDB spelling: COLLECT_SET -> list(DISTINCT), SORT_ARRAY ->
    # list_sort, ARRAY_JOIN -> array_to_string ('+'-joined arrays, the
    # agg_bool_array precedent).
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),
        round_nines AS (
            SELECT
                course_id, round_id,
                list_sort(list(DISTINCT nine_number)) AS nines_array,
                COUNT(DISTINCT nine_number) AS nines_count,
                COUNT(DISTINCT hole_number) AS holes_played
            FROM fact_telemetry_event
            WHERE is_location_padding = FALSE
              AND nine_number IS NOT NULL
              AND course_id = '{_COURSE}'
            GROUP BY course_id, round_id
        )
        SELECT
            course_id,
            array_to_string(nines_array, '+') AS nines_played,
            nines_count,
            CASE
                WHEN holes_played < 9 THEN '<9'
                WHEN holes_played = 9 THEN '9'
                WHEN holes_played = 18 THEN '18'
                WHEN holes_played = 27 THEN '27'
                WHEN holes_played > 27 THEN '>27'
                ELSE 'other (10-26)'
            END AS holes_played_bucket,
            COUNT(*) AS round_count
        FROM round_nines
        GROUP BY course_id, nines_array, nines_count, 4
        ORDER BY nines_count, nines_played
    """,
    doc="Reference parity, nine-combination histogram "
    "(dashboard/utils/queries.py:624-661) over the events->telemetry "
    "bridge: per-round sorted distinct-nine arrays '+'-joined to a "
    "grouping key, bucketed hole counts — exact string/int output.",
)

q_telemetry_hole_duration = Query(
    name="telemetry_hole_duration",
    # Registry shim: ROUND(avg)/ROUND(stddev) on integer-ratio doubles
    # and the PERCENTILE_APPROX median (engine-specific sketch) leave
    # the hashed projection; counts and integer minute bounds stay.
    build=lambda spark, sf_dir: _bridged(
        spark, sf_dir, "get_hole_duration_for_course", course_id=_COURSE
    ).drop("avg_duration_min", "median_duration_min", "stddev_duration"),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),
        hole_times AS (
            SELECT
                course_id, round_id, hole_number,
                MIN(fix_timestamp) AS hole_start,
                MAX(fix_timestamp) AS hole_end
            FROM fact_telemetry_event
            WHERE is_location_padding = FALSE
              AND course_id = '{_COURSE}'
              AND hole_number IS NOT NULL
              AND fix_timestamp IS NOT NULL
            GROUP BY course_id, round_id, hole_number
        ),
        hole_durations AS (
            SELECT
                course_id, round_id, hole_number,
                CAST(FLOOR(date_diff('second', hole_start, hole_end) / 60) AS BIGINT) AS hole_duration_minutes
            FROM hole_times
            WHERE hole_start IS NOT NULL AND hole_end IS NOT NULL
        )
        SELECT
            hole_number,
            COUNT(*) AS sample_count,
            MIN(hole_duration_minutes) AS min_duration_min,
            MAX(hole_duration_minutes) AS max_duration_min
        FROM hole_durations
        WHERE hole_duration_minutes > 0 AND hole_duration_minutes < 60
        GROUP BY hole_number
        ORDER BY hole_number
    """,
    doc="Reference parity, hole-duration distribution "
    "(dashboard/utils/queries.py:950-994) over the events->telemetry "
    "bridge: per-(round, hole) second-boundary-crossing diffs (Spark "
    "TIMESTAMPDIFF over DATE_TRUNC('SECOND') endpoints — NTZ-pure — "
    "== DuckDB date_diff('second')), integer minute floor. The oracle "
    "CASTs the floor to BIGINT because DuckDB FLOOR returns DOUBLE "
    "where Spark FLOOR returns BIGINT — the r08 transport-dtype red "
    "(values were equal; only int64-vs-float64 diverged). ROUNDed "
    "avg/stddev and the approx median are shimmed out of the hashed "
    "projection.",
)


QUERIES = [
    q_telemetry_start_hole_distribution,
    q_telemetry_avg_pace_by_hole,
    q_telemetry_pace_comparison_hole,
    q_telemetry_round_duration,
    q_telemetry_global_overview,
    q_telemetry_events_by_hour,
    q_telemetry_null_correlation,
    q_telemetry_missing_ts_overview,
    q_telemetry_missing_ts_by_ingest,
    q_telemetry_missing_ts_by_location,
    q_telemetry_missing_ts_trend,
    q_gold_fact_rounds,
    q_gold_rounds_by_month,
    q_gold_data_quality_overview,
    q_gold_completeness_summary,
    q_gold_coverage_audit,
    q_gold_rounds_by_weekday,
    q_gold_start_hole_distribution,
    q_gold_device_health_errors,
    q_gold_pace_summary_by_round,
    q_gold_hole_performance,
    q_gold_dim_course,
]


# ---------------------------------------------------------------------------
# Driver rows for the remaining gold/silver_normalized models
# (signal_quality_rounds, course_configuration_analysis,
# critical_column_gaps, dim_round, dim_device, fact_telemetry_fix,
# global_overview, global_course_summary, global_time_patterns — reference
# pipeline/gold/models/{gold,silver_normalized}/*.sql).
# ---------------------------------------------------------------------------

# The silver_normalized models consume columns the base bridge does not
# carry.  This wrapper adds them — deterministic integer/windowed
# derivations in the bridge's exactness dialect (distinct primes for the
# boolean stripes; FLOOR-integer WKT so no double->string formatting is
# ever compared; ISO weekday both engines).  A NEW text on purpose: the
# shared _SPARK_BRIDGE/_DUCK_BRIDGE strings (inlined by every green
# oracle) stay byte-identical.
_BRIDGE_EXT_TEMPLATE = """
    SELECT b.*,
           MIN(fix_timestamp) OVER (PARTITION BY round_id)   AS round_start_time,
           MAX(fix_timestamp) OVER (PARTITION BY round_id)   AS round_end_time,
           MIN(location_index) OVER (PARTITION BY round_id)  AS first_fix,
           MAX(location_index) OVER (PARTITION BY round_id)  AS last_fix,
           location_index % 59 = 0                           AS is_incomplete,
           location_index % 61 = 0                           AS is_secondary,
           location_index % 67 = 0                           AS is_auto_assigned,
           CASE WHEN location_index % 4 = 0 THEN CAST(NULL AS STRING)
                ELSE 'goal_' || CAST(location_index % 4 AS STRING) END AS goal_name,
           CAST(location_index % 12 AS DOUBLE) / 12.0        AS goal_time_fraction,
           CASE WHEN longitude IS NULL OR latitude IS NULL THEN CAST(NULL AS STRING)
                ELSE 'POINT (' || CAST(CAST(FLOOR(longitude) AS BIGINT) AS STRING)
                     || ' ' || CAST(CAST(FLOOR(latitude) AS BIGINT) AS STRING) || ')'
           END                                               AS geometry_wkt,
           {event_year}                                      AS event_year,
           {event_month}                                     AS event_month,
           {event_day}                                       AS event_day,
           {event_weekday}                                   AS event_weekday
    FROM ({inner}) b
"""

_SPARK_BRIDGE_EXT = _BRIDGE_EXT_TEMPLATE.format(
    inner=_SPARK_BRIDGE,
    event_year="YEAR(event_date)",
    event_month="MONTH(event_date)",
    event_day="DAY(event_date)",
    event_weekday="(((DAYOFWEEK(event_date) + 5) % 7) + 1)",
)
_DUCK_BRIDGE_EXT = _BRIDGE_EXT_TEMPLATE.format(
    inner=_DUCK_BRIDGE,
    event_year="CAST(YEAR(event_date) AS INT)",
    event_month="CAST(MONTH(event_date) AS INT)",
    event_day="CAST(DAY(event_date) AS INT)",
    event_weekday="CAST(ISODOW(event_date) AS INT)",
).replace("AS STRING)", "AS VARCHAR)")


q_gold_signal_quality_rounds = Query(
    name="gold_signal_quality_rounds",
    build=lambda spark, sf_dir: _gold_on_bridge(
        spark, sf_dir, "signal_quality_rounds"
    ).orderBy("course_id", "round_id"),
    # Thin fact_rounds projection; projected_rate/problem_rate are
    # UNROUNDED integer-ratio doubles (exact-by-construction, the
    # _FACT_ROUNDS_COLS rule) so the whole row hashes cross-engine.
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),
        {_DUCK_FACT_ROUNDS}
        SELECT course_id, round_id, fix_count, projected_fix_count,
               problem_fix_count, projected_rate, problem_rate
        FROM fact_rounds
        ORDER BY course_id, round_id
    """,
    doc="Signal-quality projection gold model (gold/models.py "
    "SIGNAL_QUALITY_ROUNDS, reference signal_quality_rounds.sql) over "
    "the bridged fact_rounds chain.",
)

q_gold_course_configuration = Query(
    name="gold_course_configuration",
    build=lambda spark, sf_dir: _cast_cols(
        _decimals_as_double(
            _gold_on_bridge(spark, sf_dir, "course_configuration_analysis")
        ),
        "bigint",
        "course_complexity_score",
    ).orderBy("course_id"),
    # Decimal-literal percentage arithmetic (exact on both engines, the
    # gold_data_quality_overview precedent); ROUND(AVG(int), 0) is safe
    # because every .5 half is dyadic-exactly representable, so HALF_UP
    # and binary rounding agree — unlike the excluded ROUND(double, N>0)
    # class.  course_complexity_score pinned to BIGINT on both sides.
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),
        {_DUCK_FACT_ROUNDS},
        round_configs AS (
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
        SELECT course_id, total_rounds, likely_course_type, max_section_seen,
            max_holes_in_round,
            CAST(ROUND(100.0 * complete_rounds / NULLIF(total_rounds, 0), 1) AS DOUBLE) AS pct_complete,
            CAST(ROUND(100.0 * incomplete_rounds / NULLIF(total_rounds, 0), 1) AS DOUBLE) AS pct_incomplete,
            CAST(ROUND(100.0 * nine_hole_rounds / NULLIF(total_rounds, 0), 1) AS DOUBLE) AS pct_nine_hole,
            CAST(ROUND(100.0 * full_rounds / NULLIF(total_rounds, 0), 1) AS DOUBLE) AS pct_full_rounds,
            unique_start_holes,
            CAST(ROUND(100.0 * shotgun_start_rounds / NULLIF(total_rounds, 0), 1) AS DOUBLE) AS pct_shotgun_starts,
            CAST(CASE WHEN likely_course_type = '27-hole'
                 THEN ROUND(100.0 * single_nine_rounds / NULLIF(total_rounds, 0), 1) END AS DOUBLE) AS pct_single_nine,
            CAST(CASE WHEN likely_course_type = '27-hole'
                 THEN ROUND(100.0 * two_nine_rounds / NULLIF(total_rounds, 0), 1) END AS DOUBLE) AS pct_two_nines,
            CAST(CASE WHEN likely_course_type = '27-hole'
                 THEN ROUND(100.0 * three_nine_rounds / NULLIF(total_rounds, 0), 1) END AS DOUBLE) AS pct_all_three_nines,
            avg_locations_per_round, min_locations_per_round, max_locations_per_round,
            CAST(ROUND(unique_start_holes * 10 +
                  CASE likely_course_type WHEN '27-hole' THEN 30 WHEN '18-hole' THEN 20 ELSE 10 END +
                  CASE WHEN 100.0 * nine_hole_rounds / NULLIF(total_rounds, 0) > 20 THEN 10 ELSE 0 END +
                  CASE WHEN 100.0 * incomplete_rounds / NULLIF(total_rounds, 0) > 10 THEN 5 ELSE 0 END,
                  0) AS BIGINT) AS course_complexity_score
        FROM course_summary
        ORDER BY course_id
    """,
    doc="Course-type + complexity scoring gold model (gold/models.py "
    "COURSE_CONFIGURATION_ANALYSIS, reference "
    "course_configuration_analysis.sql) over the bridged fact_rounds "
    "chain.",
)

q_gold_critical_column_gaps = Query(
    name="gold_critical_column_gaps",
    build=lambda spark, sf_dir: _decimals_as_double(
        _gold_on_bridge(spark, sf_dir, "critical_column_gaps")
    ).orderBy("course_id"),
    # Same decimal-percentage exactness class as the r06-green
    # gold_data_quality_overview oracle, including the nested weighted
    # usability score; the tier statuses are string CASEs over those
    # exact decimals.
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),
        column_analysis AS (
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
            CAST(ROUND(pct_null_pace_raw, 2) AS DOUBLE) AS pct_null_pace,
            CAST(ROUND(pct_null_pace_gap_raw, 2) AS DOUBLE) AS pct_null_pace_gap,
            CAST(ROUND(pct_null_positional_gap_raw, 2) AS DOUBLE) AS pct_null_positional_gap,
            CASE WHEN pct_null_pace_worst > 50 THEN 'CRITICAL: Pace analysis NOT possible'
                 WHEN pct_null_pace_worst > 20 THEN 'WARNING: Pace analysis degraded'
                 WHEN pct_null_pace_worst > 5 THEN 'MINOR: Some pace gaps'
                 ELSE 'GOOD: Pace data complete' END AS pace_data_status,
            CAST(ROUND(pct_null_hole_raw, 2) AS DOUBLE) AS pct_null_hole,
            CAST(ROUND(pct_null_section_raw, 2) AS DOUBLE) AS pct_null_section,
            CAST(ROUND(pct_null_latitude_raw, 2) AS DOUBLE) AS pct_null_latitude,
            CAST(ROUND(pct_null_timestamp_raw, 2) AS DOUBLE) AS pct_null_timestamp,
            CASE WHEN pct_null_hole_raw > 30 THEN 'CRITICAL: Hole tracking broken'
                 WHEN pct_null_hole_raw > 10 THEN 'WARNING: Location gaps detected'
                 ELSE 'GOOD: Location data complete' END AS location_data_status,
            CAST(ROUND(pct_null_battery_raw, 2) AS DOUBLE) AS pct_null_battery,
            CASE WHEN pct_null_device_health > 50 THEN 'WARNING: Cannot monitor device health'
                 WHEN pct_null_device_health > 20 THEN 'MINOR: Some battery data missing'
                 ELSE 'GOOD: Device health trackable' END AS device_health_status,
            CAST(ROUND(pct_null_start_hole_raw, 2) AS DOUBLE) AS pct_null_start_hole,
            CAST(ROUND(pct_null_goal_time_raw, 2) AS DOUBLE) AS pct_null_goal_time,
            CASE WHEN pct_null_round_config > 80 THEN 'WARNING: Goal times not set'
                 WHEN pct_null_round_config > 50 THEN 'MINOR: Start hole unknown'
                 ELSE 'GOOD: Round config available' END AS round_config_status,
            CAST(ROUND(100 - (0.40 * pct_null_pace_worst
                       + 0.30 * (pct_null_hole_raw + pct_null_timestamp_raw) / 2
                       + 0.20 * pct_null_device_health
                       + 0.10 * pct_null_round_config), 1) AS DOUBLE) AS usability_score,
            CASE WHEN pct_null_pace_worst > 20 THEN 'Check pace calculation algorithm - many events missing pace values'
                 WHEN pct_null_hole_raw > 20 THEN 'Review location assignment logic - many events without hole numbers'
                 WHEN pct_null_device_health > 50 THEN 'Enable battery reporting on devices'
                 WHEN pct_null_round_config > 80 THEN 'Configure goal times for this course in the system'
                 ELSE 'Data quality acceptable - monitor for changes' END AS top_recommendation
        FROM percentages
        ORDER BY course_id
    """,
    doc="Tiered null-gap analysis + 40/30/20/10 usability score gold "
    "model (gold/models.py CRITICAL_COLUMN_GAPS, reference "
    "critical_column_gaps.sql) over the bridged fact.",
)

q_gold_dim_round = Query(
    name="gold_dim_round",
    build=lambda spark, sf_dir: _gold_on_bridge(
        spark, sf_dir, "dim_round", fact_sql=_SPARK_BRIDGE_EXT
    ).orderBy("course_id", "round_id"),
    # The MAX()-as-any-value rollup convention (SURVEY §7.4 trap 9:
    # deliberately MAX, not Spark's nondeterministic first()) under the
    # driver — every aggregate is a count, MIN/MAX, or BOOL_OR, all
    # cross-engine exact.
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE_EXT}),
        base AS (
            SELECT * FROM fact_telemetry_event
            WHERE course_id IS NOT NULL AND round_id IS NOT NULL
        ),
        round_rollup AS (
            SELECT course_id, round_id,
                COUNT(*) AS total_rows,
                CAST(SUM(CASE WHEN is_location_padding THEN 1 ELSE 0 END) AS BIGINT) AS padding_rows,
                CAST(SUM(CASE WHEN NOT is_location_padding THEN 1 ELSE 0 END) AS BIGINT) AS non_padding_rows,
                CAST(SUM(CASE WHEN is_timestamp_missing THEN 1 ELSE 0 END) AS BIGINT) AS ts_missing_rows,
                CAST(SUM(CASE WHEN is_timestamp_missing AND NOT is_location_padding THEN 1 ELSE 0 END) AS BIGINT) AS ts_missing_non_padding_rows,
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
        ORDER BY course_id, round_id
    """,
    doc="Round dimension silver_normalized model (gold/models.py "
    "DIM_ROUND, reference "
    "pipeline/gold/models/silver_normalized/dim_round.sql) over the "
    "extended bridge (goal/assignment/window columns added by "
    "_SPARK_BRIDGE_EXT).",
)

q_gold_dim_device = Query(
    name="gold_dim_device",
    build=lambda spark, sf_dir: _gold_on_bridge(
        spark, sf_dir, "dim_device"
    ).orderBy("device_id"),
    # avg_battery_pct is AVG over an integer-valued double (exact sum
    # below 2^53 -> identical IEEE division on both engines).
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT device AS device_id,
               COUNT(*) AS total_rows,
               COUNT(DISTINCT course_id) AS courses_seen,
               MIN(fix_timestamp) AS first_seen_ts,
               MAX(fix_timestamp) AS last_seen_ts,
               CAST(SUM(CASE WHEN is_timestamp_missing THEN 1 ELSE 0 END) AS BIGINT) AS ts_missing_rows,
               MIN(battery_percentage) AS min_battery_pct,
               MAX(battery_percentage) AS max_battery_pct,
               AVG(battery_percentage) AS avg_battery_pct
        FROM fact_telemetry_event
        WHERE device IS NOT NULL
        GROUP BY device
        ORDER BY device
    """,
    doc="Device dimension silver_normalized model (gold/models.py "
    "DIM_DEVICE, reference "
    "pipeline/gold/models/silver_normalized/dim_device.sql) over the "
    "bridged fact.",
)

q_gold_global_overview = Query(
    name="gold_global_overview",
    build=lambda spark, sf_dir: _decimals_as_double(
        _gold_on_bridge(
            spark, sf_dir, "global_overview", fact_sql=_SPARK_BRIDGE_EXT
        ).drop("median_pace_gap_sec")
    ),
    # median_pace_gap_sec is checked by gold_global_overview_rollup,
    # whose oracle computes it; every other column is a count,
    # distinct-count, exact average or decimal percentage.
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE_EXT}),
        base AS (
            SELECT course_id, round_id, device AS device_id, fix_timestamp,
                   is_timestamp_missing, is_location_padding, is_problem, is_complete,
                   is_nine_hole, is_secondary, is_auto_assigned, pace_gap
            FROM fact_telemetry_event WHERE course_id IS NOT NULL
        ),
        agg AS (
            SELECT
                COUNT(*) AS total_rows,
                CAST(SUM(CASE WHEN is_location_padding THEN 1 ELSE 0 END) AS BIGINT) AS padding_rows,
                CAST(SUM(CASE WHEN NOT is_location_padding THEN 1 ELSE 0 END) AS BIGINT) AS non_padding_rows,
                COUNT(DISTINCT course_id) AS courses,
                COUNT(DISTINCT round_id) AS distinct_rounds_all,
                COUNT(DISTINCT CASE WHEN NOT is_location_padding THEN round_id END) AS distinct_rounds_non_padding,
                COUNT(DISTINCT device_id) AS distinct_devices,
                CAST(SUM(CASE WHEN is_timestamp_missing THEN 1 ELSE 0 END) AS BIGINT) AS ts_missing_rows,
                CAST(SUM(CASE WHEN is_timestamp_missing AND NOT is_location_padding THEN 1 ELSE 0 END) AS BIGINT) AS ts_missing_non_padding_rows,
                CAST(SUM(CASE WHEN NOT is_location_padding AND is_problem THEN 1 ELSE 0 END) AS BIGINT) AS problem_rows,
                COUNT(DISTINCT CASE WHEN NOT is_location_padding AND COALESCE(is_complete, FALSE) THEN round_id END) AS complete_rounds,
                COUNT(DISTINCT CASE WHEN NOT is_location_padding AND COALESCE(is_nine_hole, FALSE) THEN round_id END) AS nine_hole_rounds,
                COUNT(DISTINCT CASE WHEN NOT is_location_padding AND COALESCE(is_secondary, FALSE) THEN round_id END) AS secondary_rounds,
                COUNT(DISTINCT CASE WHEN NOT is_location_padding AND COALESCE(is_auto_assigned, FALSE) THEN round_id END) AS auto_assigned_rounds,
                MIN(fix_timestamp) AS first_fix_ts,
                MAX(fix_timestamp) AS last_fix_ts,
                AVG(pace_gap) FILTER (WHERE NOT is_location_padding) AS avg_pace_gap_sec
            FROM base
        )
        SELECT total_rows, padding_rows, non_padding_rows, courses,
            distinct_rounds_all, distinct_rounds_non_padding, distinct_devices,
            ts_missing_rows, ts_missing_non_padding_rows, problem_rows,
            CAST(ROUND(100.0 * problem_rows / NULLIF(non_padding_rows, 0), 2) AS DOUBLE) AS pct_problem_rows_non_padding,
            complete_rounds,
            CAST(ROUND(100.0 * complete_rounds / NULLIF(distinct_rounds_non_padding, 0), 2) AS DOUBLE) AS pct_complete_rounds,
            nine_hole_rounds,
            CAST(ROUND(100.0 * nine_hole_rounds / NULLIF(distinct_rounds_non_padding, 0), 2) AS DOUBLE) AS pct_nine_hole_rounds,
            secondary_rounds,
            CAST(ROUND(100.0 * secondary_rounds / NULLIF(distinct_rounds_non_padding, 0), 2) AS DOUBLE) AS pct_secondary_rounds,
            auto_assigned_rounds,
            CAST(ROUND(100.0 * auto_assigned_rounds / NULLIF(distinct_rounds_non_padding, 0), 2) AS DOUBLE) AS pct_auto_assigned_rounds,
            CAST(ROUND(100.0 * padding_rows / NULLIF(total_rows, 0), 2) AS DOUBLE) AS pct_padding_rows,
            CAST(ROUND(100.0 * ts_missing_rows / NULLIF(total_rows, 0), 2) AS DOUBLE) AS pct_ts_missing_rows,
            CAST(ROUND(100.0 * ts_missing_non_padding_rows / NULLIF(non_padding_rows, 0), 2) AS DOUBLE) AS pct_ts_missing_non_padding_rows,
            first_fix_ts, last_fix_ts, avg_pace_gap_sec
        FROM agg
    """,
    doc="One-row global metrics silver_normalized model (gold/models.py "
    "GLOBAL_OVERVIEW, reference "
    "pipeline/gold/models/silver_normalized/global_overview.sql) over "
    "the extended bridge; the median is checked by "
    "gold_global_overview_rollup.",
)

# DuckDB oracle for the global_overview model text (gold/models.py:
# its combine over the per-course partials of gold/rollups.py): the
# partials and the combine restated as one ANSI statement.  The model's
# median is the exact nearest-rank value (1-based rank CEIL(0.5*N) via
# a windowed cumulative over the value histogram), deterministic and
# engine-portable, so this entry checks median_pace_gap_sec, which the
# gold_global_overview entry drops.  The oracle's DECIMAL(30,12) sums
# and the model's DECIMAL(28,10) sums are both exact for the bridge's
# pace gaps, so both engines divide the same decimal total in IEEE
# double.
_GLOBAL_OVERVIEW_ROLLUP_BODY = """
base AS (
    SELECT course_id, round_id, device AS device_id, fix_timestamp,
           is_timestamp_missing, is_location_padding, is_problem, is_complete,
           is_nine_hole, is_secondary, is_auto_assigned, pace_gap
    FROM fact_telemetry_event WHERE course_id IS NOT NULL
),
rollup_course AS (
    SELECT course_id,
        COUNT(*) AS total_rows,
        CAST(SUM(CASE WHEN is_location_padding THEN 1 ELSE 0 END) AS BIGINT) AS padding_rows,
        CAST(SUM(CASE WHEN NOT is_location_padding THEN 1 ELSE 0 END) AS BIGINT) AS non_padding_rows,
        CAST(SUM(CASE WHEN is_timestamp_missing THEN 1 ELSE 0 END) AS BIGINT) AS ts_missing_rows,
        CAST(SUM(CASE WHEN is_timestamp_missing AND NOT is_location_padding THEN 1 ELSE 0 END) AS BIGINT) AS ts_missing_non_padding_rows,
        CAST(SUM(CASE WHEN NOT is_location_padding AND is_problem THEN 1 ELSE 0 END) AS BIGINT) AS problem_rows,
        MIN(fix_timestamp) AS first_fix_ts,
        MAX(fix_timestamp) AS last_fix_ts,
        SUM(CASE WHEN NOT is_location_padding THEN CAST(pace_gap AS DECIMAL(30,12)) END) AS pace_gap_np_sum,
        COUNT(CASE WHEN NOT is_location_padding THEN pace_gap END) AS pace_gap_np_cnt
    FROM base GROUP BY course_id
),
rollup_round AS (
    SELECT course_id, round_id,
        BOOL_OR(NOT is_location_padding) AS any_non_padding,
        BOOL_OR(NOT is_location_padding AND COALESCE(is_complete, FALSE)) AS complete_np,
        BOOL_OR(NOT is_location_padding AND COALESCE(is_nine_hole, FALSE)) AS nine_hole_np,
        BOOL_OR(NOT is_location_padding AND COALESCE(is_secondary, FALSE)) AS secondary_np,
        BOOL_OR(NOT is_location_padding AND COALESCE(is_auto_assigned, FALSE)) AS auto_assigned_np
    FROM base GROUP BY course_id, round_id
),
rollup_pace AS (
    SELECT course_id, pace_gap, COUNT(*) AS n
    FROM base WHERE NOT is_location_padding AND pace_gap IS NOT NULL
    GROUP BY course_id, pace_gap
),
rollup_device AS (
    SELECT course_id, device_id FROM base
    WHERE device_id IS NOT NULL GROUP BY course_id, device_id
),
c AS (
    SELECT
        CAST(SUM(total_rows) AS BIGINT) AS total_rows,
        CAST(SUM(padding_rows) AS BIGINT) AS padding_rows,
        CAST(SUM(non_padding_rows) AS BIGINT) AS non_padding_rows,
        COUNT(*) AS courses,
        CAST(SUM(ts_missing_rows) AS BIGINT) AS ts_missing_rows,
        CAST(SUM(ts_missing_non_padding_rows) AS BIGINT) AS ts_missing_non_padding_rows,
        CAST(SUM(problem_rows) AS BIGINT) AS problem_rows,
        MIN(first_fix_ts) AS first_fix_ts,
        MAX(last_fix_ts) AS last_fix_ts,
        CAST(CAST(SUM(pace_gap_np_sum) AS DOUBLE) / CAST(SUM(pace_gap_np_cnt) AS DOUBLE) AS DOUBLE) AS avg_pace_gap_sec
    FROM rollup_course
),
r AS (
    SELECT
        COUNT(DISTINCT round_id) AS distinct_rounds_all,
        COUNT(DISTINCT CASE WHEN any_non_padding THEN round_id END) AS distinct_rounds_non_padding,
        COUNT(DISTINCT CASE WHEN complete_np THEN round_id END) AS complete_rounds,
        COUNT(DISTINCT CASE WHEN nine_hole_np THEN round_id END) AS nine_hole_rounds,
        COUNT(DISTINCT CASE WHEN secondary_np THEN round_id END) AS secondary_rounds,
        COUNT(DISTINCT CASE WHEN auto_assigned_np THEN round_id END) AS auto_assigned_rounds
    FROM rollup_round
),
d AS (SELECT COUNT(DISTINCT device_id) AS distinct_devices FROM rollup_device),
hist AS (SELECT pace_gap, CAST(SUM(n) AS BIGINT) AS n FROM rollup_pace GROUP BY pace_gap),
ranked AS (
    SELECT pace_gap,
           CAST(SUM(n) OVER (ORDER BY pace_gap) AS BIGINT) AS cum,
           CAST(SUM(n) OVER () AS BIGINT) AS total
    FROM hist
),
p AS (
    SELECT MIN(pace_gap) AS median_pace_gap_sec
    FROM ranked WHERE CAST(cum AS DOUBLE) >= CEIL(0.5 * CAST(total AS DOUBLE))
),
agg AS (SELECT c.*, r.*, d.*, p.* FROM c CROSS JOIN r CROSS JOIN d CROSS JOIN p)
SELECT total_rows, padding_rows, non_padding_rows, courses,
    distinct_rounds_all, distinct_rounds_non_padding, distinct_devices,
    ts_missing_rows, ts_missing_non_padding_rows, problem_rows,
    CAST(ROUND(100.0 * problem_rows / NULLIF(non_padding_rows, 0), 2) AS DOUBLE) AS pct_problem_rows_non_padding,
    complete_rounds,
    CAST(ROUND(100.0 * complete_rounds / NULLIF(distinct_rounds_non_padding, 0), 2) AS DOUBLE) AS pct_complete_rounds,
    nine_hole_rounds,
    CAST(ROUND(100.0 * nine_hole_rounds / NULLIF(distinct_rounds_non_padding, 0), 2) AS DOUBLE) AS pct_nine_hole_rounds,
    secondary_rounds,
    CAST(ROUND(100.0 * secondary_rounds / NULLIF(distinct_rounds_non_padding, 0), 2) AS DOUBLE) AS pct_secondary_rounds,
    auto_assigned_rounds,
    CAST(ROUND(100.0 * auto_assigned_rounds / NULLIF(distinct_rounds_non_padding, 0), 2) AS DOUBLE) AS pct_auto_assigned_rounds,
    CAST(ROUND(100.0 * padding_rows / NULLIF(total_rows, 0), 2) AS DOUBLE) AS pct_padding_rows,
    CAST(ROUND(100.0 * ts_missing_rows / NULLIF(total_rows, 0), 2) AS DOUBLE) AS pct_ts_missing_rows,
    CAST(ROUND(100.0 * ts_missing_non_padding_rows / NULLIF(non_padding_rows, 0), 2) AS DOUBLE) AS pct_ts_missing_non_padding_rows,
    first_fix_ts, last_fix_ts, avg_pace_gap_sec, median_pace_gap_sec
FROM agg
"""


q_gold_global_overview_rollup = Query(
    name="gold_global_overview_rollup",
    build=lambda spark, sf_dir: _decimals_as_double(
        _gold_on_bridge(spark, sf_dir, "global_overview", fact_sql=_SPARK_BRIDGE_EXT)
    ),
    oracle=(
        lambda: f"WITH fact_telemetry_event AS ({_DUCK_BRIDGE_EXT}),"
        f"{_GLOBAL_OVERVIEW_ROLLUP_BODY}"
    )(),
    doc="The global_overview model text (per-course partials and their"
    " combine, gold/rollups.py) against the rollup statement on DuckDB."
    " Unlike gold_global_overview this entry checks median_pace_gap_sec:"
    " the model's exact nearest-rank median is engine-portable.",
)

# DuckDB oracle for the dim_device model text run the way
# gold_global_overview_rollup runs global_overview: (course, device)
# partials merged up to device grain.  COUNT(DISTINCT course_id) merges
# because the partial keeps course grain; the battery average is an
# exact decimal sum, so the merge order does not matter.
_DIM_DEVICE_ROLLUP_BODY = """
base AS (
    SELECT course_id, device AS device_id, fix_timestamp,
           is_timestamp_missing, battery_percentage
    FROM fact_telemetry_event WHERE device IS NOT NULL
),
rollup_device AS (
    SELECT course_id, device_id,
        COUNT(*) AS total_rows,
        MIN(fix_timestamp) AS first_seen_ts,
        MAX(fix_timestamp) AS last_seen_ts,
        CAST(SUM(CASE WHEN is_timestamp_missing THEN 1 ELSE 0 END) AS BIGINT) AS ts_missing_rows,
        MIN(battery_percentage) AS min_battery_pct,
        MAX(battery_percentage) AS max_battery_pct,
        SUM(CAST(battery_percentage AS DECIMAL(30,12))) AS battery_sum,
        COUNT(battery_percentage) AS battery_cnt
    FROM base GROUP BY course_id, device_id
)
SELECT device_id,
    CAST(SUM(total_rows) AS BIGINT) AS total_rows,
    COUNT(DISTINCT course_id) AS courses_seen,
    MIN(first_seen_ts) AS first_seen_ts,
    MAX(last_seen_ts) AS last_seen_ts,
    CAST(SUM(ts_missing_rows) AS BIGINT) AS ts_missing_rows,
    MIN(min_battery_pct) AS min_battery_pct,
    MAX(max_battery_pct) AS max_battery_pct,
    CAST(CAST(SUM(battery_sum) AS DOUBLE) / CAST(SUM(battery_cnt) AS DOUBLE) AS DOUBLE) AS avg_battery_pct
FROM rollup_device GROUP BY device_id ORDER BY device_id
"""


q_gold_dim_device_rollup = Query(
    name="gold_dim_device_rollup",
    build=lambda spark, sf_dir: _gold_on_bridge(spark, sf_dir, "dim_device"),
    oracle=(
        lambda: f"WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),"
        f"{_DIM_DEVICE_ROLLUP_BODY}"
    )(),
    doc="The dim_device model text (device partials and their combine,"
    " gold/rollups.py) against the rollup statement on DuckDB:"
    " COUNT(DISTINCT course_id) merged from the course-grain partial and"
    " the exact decimal battery sum.",
)

q_gold_global_course_summary = Query(
    name="gold_global_course_summary",
    build=lambda spark, sf_dir: _decimals_as_double(
        _gold_on_bridge(
            spark, sf_dir, "global_course_summary", fact_sql=_SPARK_BRIDGE_EXT
        ).drop("median_pace_gap_sec")
    ).orderBy("course_id"),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE_EXT}),
        base AS (
            SELECT course_id, round_id, device AS device_id, fix_timestamp,
                   is_timestamp_missing, is_location_padding, is_problem, is_complete,
                   is_nine_hole, is_secondary, is_auto_assigned, pace_gap
            FROM fact_telemetry_event WHERE course_id IS NOT NULL
        ),
        per_course AS (
            SELECT course_id,
                COUNT(*) AS total_rows,
                CAST(SUM(CASE WHEN is_location_padding THEN 1 ELSE 0 END) AS BIGINT) AS padding_rows,
                CAST(SUM(CASE WHEN NOT is_location_padding THEN 1 ELSE 0 END) AS BIGINT) AS non_padding_rows,
                COUNT(DISTINCT round_id) AS distinct_rounds_all,
                COUNT(DISTINCT CASE WHEN NOT is_location_padding THEN round_id END) AS distinct_rounds_non_padding,
                COUNT(DISTINCT device_id) AS distinct_devices,
                CAST(SUM(CASE WHEN is_timestamp_missing THEN 1 ELSE 0 END) AS BIGINT) AS ts_missing_rows,
                CAST(SUM(CASE WHEN is_timestamp_missing AND NOT is_location_padding THEN 1 ELSE 0 END) AS BIGINT) AS ts_missing_non_padding_rows,
                CAST(SUM(CASE WHEN NOT is_location_padding AND is_problem THEN 1 ELSE 0 END) AS BIGINT) AS problem_rows,
                COUNT(DISTINCT CASE WHEN NOT is_location_padding AND COALESCE(is_complete, FALSE) THEN round_id END) AS complete_rounds,
                COUNT(DISTINCT CASE WHEN NOT is_location_padding AND COALESCE(is_nine_hole, FALSE) THEN round_id END) AS nine_hole_rounds,
                COUNT(DISTINCT CASE WHEN NOT is_location_padding AND COALESCE(is_secondary, FALSE) THEN round_id END) AS secondary_rounds,
                COUNT(DISTINCT CASE WHEN NOT is_location_padding AND COALESCE(is_auto_assigned, FALSE) THEN round_id END) AS auto_assigned_rounds,
                AVG(pace_gap) FILTER (WHERE NOT is_location_padding) AS avg_pace_gap_sec
            FROM base GROUP BY course_id
        )
        SELECT course_id, total_rows, padding_rows, non_padding_rows,
            distinct_rounds_all, distinct_rounds_non_padding, distinct_devices,
            ts_missing_rows, ts_missing_non_padding_rows, problem_rows,
            CAST(ROUND(100.0 * problem_rows / NULLIF(non_padding_rows, 0), 2) AS DOUBLE) AS pct_problem_rows_non_padding,
            complete_rounds,
            CAST(ROUND(100.0 * complete_rounds / NULLIF(distinct_rounds_non_padding, 0), 2) AS DOUBLE) AS pct_complete_rounds,
            nine_hole_rounds,
            CAST(ROUND(100.0 * nine_hole_rounds / NULLIF(distinct_rounds_non_padding, 0), 2) AS DOUBLE) AS pct_nine_hole_rounds,
            secondary_rounds,
            CAST(ROUND(100.0 * secondary_rounds / NULLIF(distinct_rounds_non_padding, 0), 2) AS DOUBLE) AS pct_secondary_rounds,
            auto_assigned_rounds,
            CAST(ROUND(100.0 * auto_assigned_rounds / NULLIF(distinct_rounds_non_padding, 0), 2) AS DOUBLE) AS pct_auto_assigned_rounds,
            CAST(ROUND(100.0 * padding_rows / NULLIF(total_rows, 0), 2) AS DOUBLE) AS pct_padding_rows,
            CAST(ROUND(100.0 * ts_missing_rows / NULLIF(total_rows, 0), 2) AS DOUBLE) AS pct_ts_missing_rows,
            CAST(ROUND(100.0 * ts_missing_non_padding_rows / NULLIF(non_padding_rows, 0), 2) AS DOUBLE) AS pct_ts_missing_non_padding_rows,
            avg_pace_gap_sec
        FROM per_course
        ORDER BY course_id
    """,
    doc="Per-course operational summary silver_normalized model "
    "(gold/models.py GLOBAL_COURSE_SUMMARY, reference "
    "pipeline/gold/models/silver_normalized/global_course_summary.sql) "
    "over the extended bridge; percentile_approx median excluded.",
)

q_gold_global_time_patterns = Query(
    name="gold_global_time_patterns",
    build=lambda spark, sf_dir: _decimals_as_double(
        _gold_on_bridge(spark, sf_dir, "global_time_patterns").drop(
            "median_pace_gap_sec"
        )
    ).orderBy("course_id", "day_type", "time_bucket", "hour_of_day"),
    # HOUR()/ISO-weekday bucketing over the same naive parquet instants
    # on both engines (the telemetry_events_by_hour precedent, covered
    # by the tz-independence gate); percentile_approx median excluded.
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),
        fixes AS (
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
                     WHEN ISODOW(fix_timestamp) IN (6, 7) THEN 'weekend'
                     ELSE 'weekday' END AS day_type,
                CASE WHEN fix_timestamp IS NULL THEN NULL
                     ELSE CAST(HOUR(fix_timestamp) AS INT) END AS hour_of_day
            FROM fixes
        )
        SELECT course_id, day_type, time_bucket, hour_of_day,
               COUNT(*) AS "rows",
               COUNT(DISTINCT round_id) AS rounds,
               CAST(SUM(CASE WHEN is_problem THEN 1 ELSE 0 END) AS BIGINT) AS problem_rows,
               CAST(ROUND(100.0 * SUM(CASE WHEN is_problem THEN 1 ELSE 0 END) / NULLIF(COUNT(*), 0), 2) AS DOUBLE) AS pct_problem_rows,
               AVG(pace_gap) AS avg_pace_gap_sec
        FROM bucketed
        GROUP BY course_id, day_type, time_bucket, hour_of_day
        ORDER BY course_id, day_type, time_bucket, hour_of_day
    """,
    doc="Time-of-day / day-type patterns silver_normalized model "
    "(gold/models.py GLOBAL_TIME_PATTERNS, reference "
    "pipeline/gold/models/silver_normalized/global_time_patterns.sql) "
    "over the bridged fact.",
)

q_gold_fact_telemetry_fix = Query(
    name="gold_fact_telemetry_fix",
    build=lambda spark, sf_dir: _dates_as_ntz(
        _gold_on_bridge(
            spark, sf_dir, "fact_telemetry_fix", fact_sql=_SPARK_BRIDGE_EXT
        ),
        "event_date",
    ).orderBy("course_id", "round_id", "location_index"),
    # Fix-grain (one row per event, the view-materialization model S14
    # under the driver); geometry_wkt concatenates FLOOR'd integers so
    # no double->string formatting is compared.
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE_EXT})
        SELECT round_id, course_id, ingest_date, fix_timestamp, is_timestamp_missing,
               is_location_padding, location_index, hole_number, section_number,
               hole_section, nine_number, current_nine, latitude, longitude,
               geometry_wkt, pace, pace_gap, positional_gap, battery_percentage,
               is_cache, is_projected, is_problem, device AS device_id,
               round_start_time, round_end_time, start_hole, start_section, end_section,
               is_nine_hole, goal_time, goal_name, goal_time_fraction,
               is_complete, is_incomplete, is_secondary, is_auto_assigned,
               CAST(event_date AS TIMESTAMP) AS event_date,
               event_year, event_month, event_day, event_weekday
        FROM fact_telemetry_event
        ORDER BY course_id, round_id, location_index
    """,
    doc="Normalized fix-grain view silver_normalized model "
    "(gold/models.py FACT_TELEMETRY_FIX, reference "
    "pipeline/gold/models/silver_normalized/fact_telemetry_fix.sql) "
    "over the extended bridge — the S14 view materialization "
    "driver-hashed at event grain.",
)

QUERIES += [
    q_gold_signal_quality_rounds,
    q_gold_course_configuration,
    q_gold_critical_column_gaps,
    q_gold_dim_round,
    q_gold_dim_device,
    q_gold_global_overview,
    q_gold_global_course_summary,
    q_gold_global_time_patterns,
    q_gold_fact_telemetry_fix,
]

# Dashboard-library texts defined above, before the main list.
QUERIES += [
    q_telemetry_round_progression,
    q_telemetry_progression_summary,
    q_telemetry_nine_combinations,
    q_telemetry_hole_duration,
]


# ---------------------------------------------------------------------------
# Dashboard-library batch: section pace, bottlenecks, the global
# weekday/hourly/monthly distributions, completion and validation.
#
# Exactness per the standing rules: ROUND(double, N>0) percentage/average
# columns and engine-specific percentile sketches leave the hashed
# projection via registry shims (the excluded-ROUND rule — the library
# texts run unchanged); AVG sites run in the library's decimal-exact
# rewritten form, mirrored verbatim in each oracle; integer counts hash
# as-is.
# ---------------------------------------------------------------------------

q_telemetry_pace_by_section = Query(
    name="telemetry_pace_by_section",
    # Registry shim: ROUND(avg) and the PERCENTILE_APPROX median leave
    # the hashed projection; the per-(course, hole, section) distinct
    # round counts — the heatmap's sample-size layer — hash exactly.
    build=lambda spark, sf_dir: _bridged(spark, sf_dir, "pace_by_section").drop(
        "avg_pace", "median_pace"
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            course_id,
            hole_number,
            section_number,
            COUNT(DISTINCT round_id) AS sample_rounds
        FROM fact_telemetry_event
        WHERE is_location_padding = FALSE
          AND pace IS NOT NULL
          AND pace > 0
          AND pace < 60
          AND hole_number IS NOT NULL
          AND section_number IS NOT NULL
        GROUP BY course_id, hole_number, section_number
        ORDER BY course_id, hole_number, section_number
    """,
    doc="Reference parity, per-section pace heatmap "
    "(dashboard/utils/queries.py PACE_BY_SECTION) over the "
    "events->telemetry bridge; ROUNDed avg and the approx median are "
    "shimmed out of the hashed projection (excluded-ROUND rule).",
)

q_telemetry_bottleneck_summary = Query(
    name="telemetry_bottleneck_summary",
    # Registry shim: the three ROUND(double, 1) display columns leave
    # the hashed projection.  The bottleneck/fast classification itself
    # stays: both threshold comparisons run over decimal-exact AVGs
    # (the library's _exact_avg_std rewrite), so the 1.15x/0.85x
    # cutoffs see bit-identical doubles on both engines.
    build=lambda spark, sf_dir: _bridged(spark, sf_dir, "bottleneck_summary").drop(
        "course_avg_pace", "slowest_hole_pace", "fastest_hole_pace"
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),
        hole_pace AS (
            SELECT course_id, hole_number, pace
            FROM fact_telemetry_event
            WHERE is_location_padding = FALSE
              AND pace IS NOT NULL
              AND pace > 0
              AND pace < 60
              AND hole_number IS NOT NULL
        ),
        course_avg AS (
            SELECT course_id,
                   (CAST(SUM(CAST(pace AS DECIMAL(28,10))) AS DOUBLE) / COUNT(pace)) AS course_avg_pace
            FROM hole_pace
            GROUP BY course_id
        ),
        hole_stats AS (
            SELECT hp.course_id, hp.hole_number,
                   (CAST(SUM(CAST(hp.pace AS DECIMAL(28,10))) AS DOUBLE) / COUNT(hp.pace)) AS avg_pace,
                   ca.course_avg_pace
            FROM hole_pace hp
            JOIN course_avg ca ON hp.course_id = ca.course_id
            GROUP BY hp.course_id, hp.hole_number, ca.course_avg_pace
        )
        SELECT
            course_id,
            COUNT(*) AS total_holes,
            CAST(SUM(CASE WHEN avg_pace > course_avg_pace * 1.15 THEN 1 ELSE 0 END) AS BIGINT) AS bottleneck_holes,
            CAST(SUM(CASE WHEN avg_pace < course_avg_pace * 0.85 THEN 1 ELSE 0 END) AS BIGINT) AS fast_holes
        FROM hole_stats
        GROUP BY course_id
        ORDER BY bottleneck_holes DESC
    """,
    doc="Reference parity, course bottleneck classification "
    "(dashboard/utils/queries.py BOTTLENECK_SUMMARY, the J11 "
    "pace-vs-course-average idiom) over the events->telemetry bridge; "
    "threshold comparisons run on decimal-exact AVGs, the three ROUNDed "
    "display columns are shimmed out of the hashed projection.",
)

q_telemetry_global_weekday_heatmap = Query(
    name="telemetry_global_weekday_heatmap",
    build=lambda spark, sf_dir: _bridged(
        spark, sf_dir, "global_weekday_heatmap", fact_sql=_SPARK_BRIDGE_EXT
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE_EXT})
        SELECT
            course_id,
            event_weekday,
            COUNT(DISTINCT round_id) AS round_count
        FROM fact_telemetry_event
        WHERE is_location_padding = FALSE
          AND event_weekday IS NOT NULL
        GROUP BY course_id, event_weekday
        ORDER BY course_id, event_weekday
    """,
    doc="Reference parity, per-course ISO-weekday round heatmap "
    "(dashboard/utils/queries.py GLOBAL_WEEKDAY_HEATMAP) over the "
    "EXTENDED events->telemetry bridge (event_weekday: Spark "
    "DAYOFWEEK remapped to ISO == DuckDB ISODOW) — exact ints.",
)

q_telemetry_global_hourly_distribution = Query(
    name="telemetry_global_hourly_distribution",
    build=lambda spark, sf_dir: _bridged(
        spark, sf_dir, "global_hourly_distribution", fact_sql=_SPARK_BRIDGE_EXT
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE_EXT})
        SELECT
            course_id,
            HOUR(round_start_time) AS start_hour,
            COUNT(DISTINCT round_id) AS round_count
        FROM fact_telemetry_event
        WHERE is_location_padding = FALSE
          AND round_start_time IS NOT NULL
        GROUP BY course_id, HOUR(round_start_time)
        ORDER BY course_id, start_hour
    """,
    doc="Reference parity, round start-hour distribution "
    "(dashboard/utils/queries.py GLOBAL_HOURLY_DISTRIBUTION) over the "
    "extended bridge's round_start_time window column — exact counts "
    "per NTZ hour (the telemetry_events_by_hour precedent).",
)

q_telemetry_global_monthly_trend = Query(
    name="telemetry_global_monthly_trend",
    build=lambda spark, sf_dir: _bridged(
        spark, sf_dir, "global_monthly_trend", fact_sql=_SPARK_BRIDGE_EXT
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE_EXT})
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
    """,
    doc="Reference parity, monthly round trend "
    "(dashboard/utils/queries.py GLOBAL_MONTHLY_TREND) over the "
    "extended bridge's event_year/event_month date parts — exact ints.",
)

q_telemetry_global_completion_rates = Query(
    name="telemetry_global_completion_rates",
    # Registry shim: ROUND(pct) and ROUND(avg) leave the hashed
    # projection; completion and nine/eighteen-hole counts hash exactly.
    build=lambda spark, sf_dir: _bridged(
        spark, sf_dir, "global_completion_rates"
    ).drop("completion_rate", "avg_holes_visited"),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),
        round_stats AS (
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
            CAST(SUM(is_complete) AS BIGINT) AS complete_rounds,
            CAST(SUM(is_nine_hole) AS BIGINT) AS nine_hole_rounds,
            CAST(SUM(CASE WHEN is_nine_hole = 0 THEN 1 ELSE 0 END) AS BIGINT) AS eighteen_hole_rounds
        FROM round_stats
        GROUP BY course_id
        ORDER BY course_id
    """,
    doc="Reference parity, per-course completion rates "
    "(dashboard/utils/queries.py GLOBAL_COMPLETION_RATES) over the "
    "events->telemetry bridge; the two ROUNDed columns are shimmed "
    "out of the hashed projection, all counts exact.",
)

q_telemetry_round_validation_summary = Query(
    name="telemetry_round_validation_summary",
    # Registry shim: the three ROUND(pct) columns leave the hashed
    # projection; the three integer validity counters — the model's
    # actual classification — hash exactly (the 0.5 pace-coverage
    # threshold compares an exact integer-ratio double).
    build=lambda spark, sf_dir: _bridged(
        spark, sf_dir, "round_validation_summary"
    ).drop("pct_duration_valid", "pct_events_valid", "pct_pace_valid"),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),
        per_round AS (
            SELECT
                course_id,
                round_id,
                MAX(round_duration_minutes) AS round_duration_minutes,
                MAX(CAST(is_nine_hole AS INTEGER)) = 1 AS is_nine_hole,
                SUM(CASE WHEN is_location_padding = FALSE THEN 1 ELSE 0 END) AS real_events,
                SUM(CASE WHEN pace IS NOT NULL THEN 1 ELSE 0 END) AS events_with_pace
            FROM fact_telemetry_event
            GROUP BY course_id, round_id
        ),
        validations AS (
            SELECT
                course_id,
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
            FROM per_round
        )
        SELECT
            course_id,
            COUNT(*) AS total_rounds,
            CAST(SUM(duration_valid) AS BIGINT) AS rounds_duration_valid,
            CAST(SUM(events_valid) AS BIGINT) AS rounds_events_valid,
            CAST(SUM(pace_valid) AS BIGINT) AS rounds_pace_valid
        FROM validations
        GROUP BY course_id
        ORDER BY course_id
    """,
    doc="Reference parity, per-course round validation scoring "
    "(dashboard/utils/queries.py ROUND_VALIDATION_SUMMARY) over the "
    "events->telemetry bridge: duration-window, event-count, and "
    "pace-coverage validity counters, all integer-exact; the three "
    "ROUNDed percentage columns are shimmed out of the hashed "
    "projection.",
)


QUERIES += [
    q_telemetry_pace_by_section,
    q_telemetry_bottleneck_summary,
    q_telemetry_global_weekday_heatmap,
    q_telemetry_global_hourly_distribution,
    q_telemetry_global_monthly_trend,
    q_telemetry_global_completion_rates,
    q_telemetry_round_validation_summary,
]


# ---------------------------------------------------------------------------
# Dashboard-library batch: overview stats, pace/duration/device tables
# and the calendar distributions.
#
# Exactness: this batch RETAINS the library's ROUND(avg)/ROUND(pct) display
# columns in the hashed projection by mirroring Spark's ROUND semantics in
# the DuckDB oracle (`_duck_round` below — the telemetry_global_overview
# idiom: Spark's round(double, n) rounds BigDecimal.valueOf(d), i.e. the
# double's SHORTEST-DECIMAL representation, HALF_UP; DuckDB reproduces that
# with VARCHAR -> DECIMAL(38,20) -> round -> DOUBLE).  Only engine-specific
# percentile sketches (PERCENTILE_APPROX) leave the projection.  Decimal-
# typed Spark outputs (decimal-literal pct arithmetic) are cast to DOUBLE on
# both sides — the _missing_pct_as_double rule.
# ---------------------------------------------------------------------------


def _duck_round(expr: str, n: int) -> str:
    """Spark-semantics ROUND for a DuckDB oracle expression: round the
    double's shortest-decimal representation (what Spark's
    BigDecimal.valueOf(double) sees), HALF_UP, back to DOUBLE.  NULL
    propagates through every step on both engines."""
    return (
        "CAST(round(CAST(CAST((" + expr + ") AS VARCHAR) AS DECIMAL(38,20)), "
        f"{n}) AS DOUBLE)"
    )


def _dexact_avg(col: str) -> str:
    """The library's decimal-exact AVG rewrite (telemetry._exact_avg_std
    form), identical text both engines."""
    return f"(CAST(SUM(CAST({col} AS DECIMAL(28,10))) AS DOUBLE) / COUNT({col}))"


def _dexact_std(col: str) -> str:
    """The library's decimal-exact sample-STDDEV rewrite
    (telemetry._exact_avg_std std form) — exact decimal moment sums,
    one IEEE-pinned SQRT; must stay byte-equivalent to the rewrite the
    Spark-side texts run, so every oracle spells it through this ONE
    helper."""
    return (
        f"(CASE WHEN COUNT({col}) > 1 THEN SQRT(GREATEST((CAST(SUM(CAST("
        f"CAST({col} AS DECIMAL(18,6)) * CAST({col} AS DECIMAL(18,6)) "
        f"AS DECIMAL(38,12))) AS DOUBLE) - CAST(SUM(CAST({col} AS DECIMAL(18,6))) "
        f"AS DOUBLE) * CAST(SUM(CAST({col} AS DECIMAL(18,6))) AS DOUBLE) / "
        f"CAST(COUNT({col}) AS DOUBLE)) / (CAST(COUNT({col}) AS DOUBLE) - "
        "1.0e0), 0.0e0)) END)"
    )


def _pct(cond: str, n: int = 1, denom: str = "COUNT(*)") -> str:
    """The library's ROUND(100.0 * SUM(CASE)/denom, n) completeness
    idiom in its oracle form: DOUBLE-cast (the _missing_pct_as_double
    rule — Spark types the decimal-literal arithmetic DECIMAL)."""
    return (
        f"CAST(ROUND(100.0 * SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) / {denom}, {n})"
        " AS DOUBLE)"
    )


q_telemetry_overview_stats = Query(
    name="telemetry_overview_stats",
    build=lambda spark, sf_dir: _dates_as_ntz(
        _bridged(spark, sf_dir, "overview_stats"), "earliest_date", "latest_date"
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            COUNT(DISTINCT course_id) AS total_courses,
            COUNT(DISTINCT round_id) AS total_rounds,
            COUNT(*) AS total_events,
            CAST(SUM(CASE WHEN is_location_padding = FALSE THEN 1 ELSE 0 END)
                 AS BIGINT) AS real_events,
            CAST(MIN(event_date) AS TIMESTAMP) AS earliest_date,
            CAST(MAX(event_date) AS TIMESTAMP) AS latest_date
        FROM fact_telemetry_event
    """,
    doc="Reference parity, the dashboard overview tab's headline strip "
    "(dashboard/utils/queries.py OVERVIEW_STATS) over the "
    "events->telemetry bridge — exact counts and date bounds.",
)

_PBH_AVG = _dexact_avg("hp.pace")
_PBH_STDDEV = _dexact_std("hp.pace")

q_telemetry_pace_by_hole = Query(
    name="telemetry_pace_by_hole",
    # Registry shim: only the PERCENTILE_APPROX median (engine-specific
    # sketch) leaves the hashed projection; every ROUNDed double stays,
    # matched by the _duck_round idiom.  hole_category compares
    # decimal-exact hole AVGs against the ROUNDed course average —
    # both sides of the threshold are bit-identical cross-engine.
    build=lambda spark, sf_dir: _bridged(spark, sf_dir, "pace_by_hole").drop(
        "median_pace"
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),
        hole_pace AS (
            SELECT course_id, hole_number, pace, round_id
            FROM fact_telemetry_event
            WHERE is_location_padding = FALSE
              AND pace IS NOT NULL AND pace > 0 AND pace < 60
              AND hole_number IS NOT NULL
        ),
        course_avg AS (
            SELECT course_id,
                   {_duck_round(_dexact_avg("pace"), 1)} AS course_avg_pace
            FROM hole_pace
            GROUP BY course_id
        )
        SELECT
            hp.course_id,
            hp.hole_number,
            COUNT(DISTINCT hp.round_id) AS sample_rounds,
            COUNT(*) AS sample_events,
            {_duck_round(_PBH_AVG, 1)} AS avg_pace,
            {_duck_round("MIN(hp.pace)", 1)} AS min_pace,
            {_duck_round("MAX(hp.pace)", 1)} AS max_pace,
            {_duck_round(_PBH_STDDEV, 1)} AS pace_stddev,
            ca.course_avg_pace,
            {_duck_round(_PBH_AVG + " - ca.course_avg_pace", 1)} AS pace_vs_avg,
            CASE
                WHEN {_PBH_AVG} > ca.course_avg_pace * 1.15 THEN 'bottleneck'
                WHEN {_PBH_AVG} < ca.course_avg_pace * 0.85 THEN 'fast'
                ELSE 'normal'
            END AS hole_category
        FROM hole_pace hp
        JOIN course_avg ca ON hp.course_id = ca.course_id
        GROUP BY hp.course_id, hp.hole_number, ca.course_avg_pace
        ORDER BY hp.course_id, hp.hole_number
    """,
    doc="Reference parity, the per-hole pace table "
    "(dashboard/utils/queries.py PACE_BY_HOLE, the J11 "
    "pace-vs-course-average idiom) over the events->telemetry bridge; "
    "every ROUNDed column hashes via the Spark-semantics ROUND idiom, "
    "only the approx median is shimmed out.",
)

q_telemetry_round_duration_summary = Query(
    name="telemetry_round_duration_summary",
    build=lambda spark, sf_dir: _bridged(spark, sf_dir, "round_duration"),
    # round_duration_minutes is BIGINT (exact µs-derived), so Spark's
    # ROUND(MIN/MAX, 0) stays BIGINT — the oracle mirrors with an
    # explicit cast; the avg goes through the ROUND idiom at scale 0.
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            course_id,
            COUNT(DISTINCT round_id) AS rounds_with_duration,
            {_duck_round(_dexact_avg("round_duration_minutes"), 0)} AS avg_duration_min,
            CAST(ROUND(MIN(round_duration_minutes), 0) AS BIGINT) AS min_duration_min,
            CAST(ROUND(MAX(round_duration_minutes), 0) AS BIGINT) AS max_duration_min
        FROM fact_telemetry_event
        WHERE round_duration_minutes IS NOT NULL
          AND round_duration_minutes > 0
          AND round_duration_minutes < 600
        GROUP BY course_id
        ORDER BY course_id
    """,
    doc="Reference parity, per-course round-duration summary "
    "(dashboard/utils/queries.py ROUND_DURATION) over the "
    "events->telemetry bridge at (user, day, hour) round grain — "
    "integer-exact durations, decimal-exact average through the "
    "ROUND idiom.",
)

q_telemetry_device_stats = Query(
    name="telemetry_device_stats",
    # The four decimal-literal pct columns are DECIMAL-typed on Spark
    # (the _missing_pct_as_double rule): cast to DOUBLE on both sides.
    build=lambda spark, sf_dir: _cast_cols(
        _bridged(spark, sf_dir, "device_stats"),
        "double",
        "low_battery_pct",
        "cached_pct",
        "problem_pct",
        "projected_pct",
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            course_id,
            COUNT(DISTINCT device) AS unique_devices,
            {_duck_round(_dexact_avg("battery_percentage"), 1)} AS avg_battery,
            {_duck_round("MIN(battery_percentage)", 1)} AS min_battery,
            COUNT(*) AS total_events,
            CAST(SUM(CASE WHEN battery_percentage < 20 THEN 1 ELSE 0 END)
                 AS BIGINT) AS low_battery_events,
            {_pct("battery_percentage < 20")} AS low_battery_pct,
            CAST(SUM(CASE WHEN is_cache = TRUE THEN 1 ELSE 0 END)
                 AS BIGINT) AS cached_events,
            {_pct("is_cache = TRUE")} AS cached_pct,
            CAST(SUM(CASE WHEN is_problem = TRUE THEN 1 ELSE 0 END)
                 AS BIGINT) AS problem_events,
            {_pct("is_problem = TRUE")} AS problem_pct,
            CAST(SUM(CASE WHEN is_projected = TRUE THEN 1 ELSE 0 END)
                 AS BIGINT) AS projected_events,
            {_pct("is_projected = TRUE")} AS projected_pct
        FROM fact_telemetry_event
        WHERE is_location_padding = FALSE
        GROUP BY course_id
        ORDER BY course_id
    """,
    doc="Reference parity, per-course device fleet stats "
    "(dashboard/utils/queries.py DEVICE_STATS) over the bridge's "
    "deterministic battery/cache/problem/projected stripes; pct "
    "columns hash as DOUBLEs (decimal-literal arithmetic is exact "
    "at 1 dp on both engines), averages via the ROUND idiom.",
)

q_telemetry_round_types = Query(
    name="telemetry_round_types",
    build=lambda spark, sf_dir: _bridged(spark, sf_dir, "round_types"),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            course_id,
            COUNT(DISTINCT round_id) AS total_rounds,
            CAST(SUM(CASE WHEN is_nine_hole = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS nine_hole_rounds,
            CAST(SUM(CASE WHEN is_nine_hole = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS full_rounds,
            CAST(SUM(CASE WHEN is_complete = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS complete_rounds,
            CAST(SUM(CASE WHEN start_hole != 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS shotgun_starts
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
    """,
    doc="Reference parity, per-course round-type census "
    "(dashboard/utils/queries.py ROUND_TYPES: nine/eighteen-hole, "
    "complete, shotgun starts) over the events->telemetry bridge — "
    "all integer-exact.",
)

q_telemetry_sections_per_hole = Query(
    name="telemetry_sections_per_hole",
    build=lambda spark, sf_dir: _bridged(spark, sf_dir, "sections_per_hole"),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
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
    """,
    doc="Reference parity, the G4 sections-per-hole topology inference "
    "shape (dashboard/utils/queries.py SECTIONS_PER_HOLE) over the "
    "events->telemetry bridge — all integer-exact.",
)

q_telemetry_rounds_by_weekday = Query(
    name="telemetry_rounds_by_weekday",
    build=lambda spark, sf_dir: _bridged(
        spark, sf_dir, "rounds_by_weekday", fact_sql=_SPARK_BRIDGE_EXT
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE_EXT})
        SELECT
            course_id,
            event_weekday,
            COUNT(DISTINCT round_id) AS round_count
        FROM fact_telemetry_event
        WHERE event_weekday IS NOT NULL
        GROUP BY course_id, event_weekday
        ORDER BY course_id, event_weekday
    """,
    doc="Reference parity, the dashboard's rounds-by-weekday "
    "distribution (dashboard/utils/queries.py ROUNDS_BY_WEEKDAY — the "
    "library text, distinct from the gold_rounds_by_weekday MODEL row) "
    "over the extended bridge's ISO weekday — exact ints.",
)

q_telemetry_events_by_month = Query(
    name="telemetry_events_by_month",
    build=lambda spark, sf_dir: _bridged(
        spark, sf_dir, "events_by_month", fact_sql=_SPARK_BRIDGE_EXT
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE_EXT})
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
    """,
    doc="Reference parity, global monthly activity "
    "(dashboard/utils/queries.py EVENTS_BY_MONTH) over the extended "
    "bridge's date parts — exact ints.",
)

q_telemetry_round_length_distribution = Query(
    name="telemetry_round_length_distribution",
    build=lambda spark, sf_dir: _bridged(
        spark, sf_dir, "round_length_distribution"
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),
        round_holes AS (
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
            CASE
                WHEN holes_visited < 9 THEN '<9'
                WHEN holes_visited = 9 THEN '9'
                WHEN holes_visited = 18 THEN '18'
                WHEN holes_visited = 27 THEN '27'
                WHEN holes_visited > 27 THEN '>27'
                ELSE 'other (10-26)'
            END AS round_length_bucket,
            COUNT(*) AS round_count
        FROM round_holes
        GROUP BY course_id, 2
        ORDER BY course_id, round_length_bucket
    """,
    doc="Reference parity, round-length bucket distribution "
    "(dashboard/utils/queries.py ROUND_LENGTH_DISTRIBUTION; positional "
    "GROUP BY over the CASE bucket, both engines) over the "
    "events->telemetry bridge — exact counts; the driver compare "
    "re-sorts rows, so the display ORDER BY divergence is immaterial.",
)

q_telemetry_events_per_course = Query(
    name="telemetry_events_per_course",
    # avg_events_per_round is decimal-literal arithmetic on Spark
    # (ROUND(COUNT*1.0/NULLIF(...), 0) -> DECIMAL): cast DOUBLE both
    # sides, the _missing_pct_as_double rule.
    build=lambda spark, sf_dir: _cast_cols(
        _dates_as_ntz(
            _bridged(spark, sf_dir, "events_per_course"),
            "first_date",
            "last_date",
        ),
        "double",
        "avg_events_per_round",
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            course_id,
            COUNT(DISTINCT round_id) AS rounds,
            COUNT(*) AS total_events,
            CAST(SUM(CASE WHEN is_location_padding = FALSE THEN 1 ELSE 0 END)
                 AS BIGINT) AS real_events,
            CAST(MIN(event_date) AS TIMESTAMP) AS first_date,
            CAST(MAX(event_date) AS TIMESTAMP) AS last_date,
            COUNT(DISTINCT event_date) AS playing_days,
            CAST(ROUND(COUNT(*) * 1.0 / NULLIF(COUNT(DISTINCT round_id), 0), 0)
                 AS DOUBLE) AS avg_events_per_round
        FROM fact_telemetry_event
        GROUP BY course_id
        ORDER BY total_events DESC
    """,
    doc="Reference parity, per-course activity summary "
    "(dashboard/utils/queries.py EVENTS_PER_COURSE) over the "
    "events->telemetry bridge — exact counts and date bounds; the "
    "events-per-round average hashes as a DOUBLE (decimal-literal "
    "arithmetic, exact at 0 dp on both engines).",
)


QUERIES += [
    q_telemetry_overview_stats,
    q_telemetry_pace_by_hole,
    q_telemetry_round_duration_summary,
    q_telemetry_device_stats,
    q_telemetry_round_types,
    q_telemetry_sections_per_hole,
    q_telemetry_rounds_by_weekday,
    q_telemetry_events_by_month,
    q_telemetry_round_length_distribution,
    q_telemetry_events_per_course,
]


# ---------------------------------------------------------------------------
# Dashboard-library batch: the global
# comparison tab and the data-quality family.  Two new bridge VARIANTS
# unlock texts the base bridge could not exercise (both are NEW wrapper
# texts; the green base/EXT strings stay byte-identical):
#
# - _SPARK/_DUCK_BRIDGE_PAD replaces the base bridge's constant
#   is_location_padding=FALSE with a deterministic stripe
#   (location_index % 7 = 0, a fresh prime), so padding_analysis — a
#   query ABOUT padding — measures something real instead of a column
#   of zeros.  Spark spells the column swap `* EXCEPT`, DuckDB
#   `* EXCLUDE` (verified identical output column sets).
# - _SPARK/_DUCK_BRIDGE_EXT2 wraps the EXT bridge with the two
#   remaining reference-schema columns the quality family reads
#   (current_hole / current_hole_section, fresh primes 71/73 for their
#   NULL stripes).
#
# Exactness per the _duck_round rules: decimal-literal pct columns hash as
# DOUBLEs (cast both sides), ROUNDed averages go through _duck_round,
# engine-specific percentile sketches and two composite decimal-
# division chains (quality_score and the ranking's avg_quality_score,
# where Spark and DuckDB decimal-division scale rules genuinely
# diverge) leave the hashed projection via registry shims.
# ---------------------------------------------------------------------------

_BRIDGE_PAD_TEMPLATE = """
    SELECT b.* {exclude} (is_location_padding),
           location_index % 7 = 0 AS is_location_padding
    FROM ({inner}) b
"""
_SPARK_BRIDGE_PAD = _BRIDGE_PAD_TEMPLATE.format(exclude="EXCEPT", inner=_SPARK_BRIDGE)
_DUCK_BRIDGE_PAD = _BRIDGE_PAD_TEMPLATE.format(exclude="EXCLUDE", inner=_DUCK_BRIDGE)

_BRIDGE_EXT2_TEMPLATE = """
    SELECT b.*,
           CASE WHEN location_index % 71 = 0 THEN CAST(NULL AS INT)
                ELSE CAST(location_index % 18 + 1 AS INT) END AS current_hole,
           CASE WHEN location_index % 73 = 0 THEN CAST(NULL AS INT)
                ELSE CAST(location_index % 3 + 1 AS INT) END AS current_hole_section
    FROM ({inner}) b
"""
_SPARK_BRIDGE_EXT2 = _BRIDGE_EXT2_TEMPLATE.format(inner=_SPARK_BRIDGE_EXT)
_DUCK_BRIDGE_EXT2 = _BRIDGE_EXT2_TEMPLATE.format(inner=_DUCK_BRIDGE_EXT)


q_telemetry_course_summary = Query(
    name="telemetry_course_summary",
    build=lambda spark, sf_dir: _dates_as_ntz(
        _bridged(spark, sf_dir, "course_summary"), "first_date", "last_date"
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            course_id,
            COUNT(DISTINCT round_id) AS round_count,
            COUNT(*) AS event_count,
            CAST(SUM(CASE WHEN is_location_padding = FALSE THEN 1 ELSE 0 END)
                 AS BIGINT) AS real_events,
            CAST(MIN(event_date) AS TIMESTAMP) AS first_date,
            CAST(MAX(event_date) AS TIMESTAMP) AS last_date,
            CAST(DATE_DIFF('day', MIN(event_date), MAX(event_date)) AS INT) + 1
                AS total_days,
            COUNT(DISTINCT CASE WHEN is_location_padding = FALSE
                                THEN event_date END) AS playing_days,
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
    """,
    doc="Reference parity, per-course summary with G3 course-type "
    "inference (dashboard/utils/queries.py COURSE_SUMMARY) over the "
    "events->telemetry bridge — exact ints and date bounds (Spark "
    "DATEDIFF == DuckDB DATE_DIFF('day') on DATE inputs).",
)

q_telemetry_infrastructure_stats = Query(
    name="telemetry_infrastructure_stats",
    build=lambda spark, sf_dir: _dates_as_ntz(
        _bridged(spark, sf_dir, "infrastructure_stats"),
        "earliest_date",
        "latest_date",
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            COUNT(DISTINCT course_id) AS total_courses,
            COUNT(DISTINCT round_id) AS total_rounds,
            COUNT(*) AS total_events,
            CAST(SUM(CASE WHEN is_location_padding = FALSE THEN 1 ELSE 0 END)
                 AS BIGINT) AS real_events,
            CAST(MIN(event_date) AS TIMESTAMP) AS earliest_date,
            CAST(MAX(event_date) AS TIMESTAMP) AS latest_date,
            COUNT(DISTINCT event_date) AS total_days,
            COUNT(DISTINCT ingest_date) AS ingest_batches
        FROM fact_telemetry_event
    """,
    doc="Reference parity, the infrastructure overview strip "
    "(dashboard/utils/queries.py INFRASTRUCTURE_STATS) over the "
    "events->telemetry bridge — exact counts, date bounds, and "
    "ingest-batch census.",
)

_CC_PCTS = [
    ("pace_pct", "pace IS NOT NULL"),
    ("pace_gap_pct", "pace_gap IS NOT NULL"),
    ("hole_pct", "hole_number IS NOT NULL"),
    ("section_pct", "section_number IS NOT NULL"),
    ("gps_pct", "latitude IS NOT NULL AND longitude IS NOT NULL"),
    ("fix_timestamp_pct", "fix_timestamp IS NOT NULL"),
    ("start_hole_pct", "start_hole IS NOT NULL"),
    ("start_section_pct", "start_section IS NOT NULL"),
    ("is_complete_pct", "is_complete IS NOT NULL"),
    ("battery_pct", "battery_percentage IS NOT NULL"),
    ("device_pct", "device IS NOT NULL"),
]

q_telemetry_column_completeness = Query(
    name="telemetry_column_completeness",
    build=lambda spark, sf_dir: _cast_cols(
        _bridged(spark, sf_dir, "column_completeness"),
        "double",
        *[name for name, _ in _CC_PCTS],
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            course_id,
            COUNT(*) AS total_events,
            {", ".join(f"{_pct(cond)} AS {name}" for name, cond in _CC_PCTS)}
        FROM fact_telemetry_event
        WHERE is_location_padding = FALSE
        GROUP BY course_id
        ORDER BY course_id
    """,
    doc="Reference parity, per-course column completeness "
    "(dashboard/utils/queries.py COLUMN_COMPLETENESS) over the bridge's "
    "deterministic NULL stripes — all eleven pct columns hash as "
    "DOUBLEs (decimal-literal arithmetic, the _missing_pct rule).",
)

_DQS_PCTS = [
    ("pace_pct", "pace IS NOT NULL"),
    ("pace_gap_pct", "pace_gap IS NOT NULL"),
    ("positional_gap_pct", "positional_gap IS NOT NULL"),
    ("gps_complete_pct", "latitude IS NOT NULL AND longitude IS NOT NULL"),
    ("fix_timestamp_pct", "fix_timestamp IS NOT NULL"),
    ("hole_pct", "hole_number IS NOT NULL"),
    ("section_pct", "section_number IS NOT NULL"),
    ("location_index_pct", "location_index IS NOT NULL"),
    ("current_hole_pct", "current_hole IS NOT NULL"),
    ("current_hole_section_pct", "current_hole_section IS NOT NULL"),
    ("round_start_time_pct", "round_start_time IS NOT NULL"),
    ("round_end_time_pct", "round_end_time IS NOT NULL"),
    ("start_hole_pct", "start_hole IS NOT NULL"),
    ("start_section_pct", "start_section IS NOT NULL"),
    ("is_complete_pct", "is_complete IS NOT NULL"),
    ("goal_name_pct", "goal_name IS NOT NULL"),
    ("is_projected_pct", "is_projected IS NOT NULL"),
    ("is_problem_pct", "is_problem IS NOT NULL"),
    ("device_pct", "device IS NOT NULL"),
    ("battery_pct", "battery_percentage IS NOT NULL"),
]

q_telemetry_data_quality_score = Query(
    name="telemetry_data_quality_score",
    # Registry shim: the weighted composite quality_score and its CASE
    # category leave the hashed projection — Spark and DuckDB decimal-
    # DIVISION scale rules genuinely diverge on the 17-term weighted
    # chain, unlike the single-ratio pct columns (which hash as
    # DOUBLEs, all twenty of them).
    build=lambda spark, sf_dir: _cast_cols(
        _bridged(
            spark, sf_dir, "data_quality_score", fact_sql=_SPARK_BRIDGE_EXT2
        ).drop("quality_score", "quality_category"),
        "double",
        *[name for name, _ in _DQS_PCTS],
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE_EXT2})
        SELECT
            course_id,
            COUNT(*) AS total_events,
            {", ".join(f"{_pct(cond, 1, 'NULLIF(COUNT(*), 0)')} AS {name}" for name, cond in _DQS_PCTS)}
        FROM fact_telemetry_event
        WHERE is_location_padding = FALSE
        GROUP BY course_id
        ORDER BY course_id
    """,
    doc="Reference parity, the 20-column data-quality scorecard "
    "(dashboard/utils/queries.py DATA_QUALITY_SCORE) over the EXT2 "
    "bridge (adds current_hole/current_hole_section stripes); every "
    "single-ratio pct hashes, only the weighted composite and its "
    "category bucket are shimmed (cross-engine decimal-division "
    "scale divergence).",
)

q_telemetry_global_device_fleet = Query(
    name="telemetry_global_device_fleet",
    build=lambda spark, sf_dir: _bridged(spark, sf_dir, "global_device_fleet"),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            course_id,
            COUNT(DISTINCT device) AS unique_devices,
            COUNT(DISTINCT round_id) AS rounds_tracked,
            {_duck_round("CAST(COUNT(DISTINCT round_id) AS DOUBLE) / NULLIF(COUNT(DISTINCT device), 0)", 1)} AS rounds_per_device,
            {_duck_round(_dexact_avg("battery_percentage"), 1)} AS avg_battery,
            {_duck_round("MIN(battery_percentage)", 1)} AS min_battery,
            CAST(SUM(CASE WHEN battery_percentage < 20 THEN 1 ELSE 0 END)
                 AS BIGINT) AS low_battery_events,
            CAST(SUM(CASE WHEN is_problem = TRUE THEN 1 ELSE 0 END)
                 AS BIGINT) AS problem_events
        FROM fact_telemetry_event
        WHERE is_location_padding = FALSE
        GROUP BY course_id
        ORDER BY unique_devices DESC
    """,
    doc="Reference parity, the global device-fleet comparison "
    "(dashboard/utils/queries.py GLOBAL_DEVICE_FLEET) over the "
    "events->telemetry bridge — every column hashes (double-division "
    "and decimal-exact averages through the ROUND idiom).",
)

_GPC_AVG = _dexact_avg("pace")
_GPC_STDDEV = _dexact_std("pace")

q_telemetry_global_pace_comparison = Query(
    name="telemetry_global_pace_comparison",
    build=lambda spark, sf_dir: _bridged(
        spark, sf_dir, "global_pace_comparison"
    ).drop("median_pace"),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            course_id,
            COUNT(DISTINCT round_id) AS round_count,
            {_duck_round(_GPC_AVG, 1)} AS avg_pace,
            {_duck_round("MIN(pace)", 1)} AS min_pace,
            {_duck_round("MAX(pace)", 1)} AS max_pace,
            {_duck_round(_GPC_STDDEV, 1)} AS pace_stddev,
            {_duck_round(_dexact_avg("pace_gap"), 1)} AS avg_pace_gap
        FROM fact_telemetry_event
        WHERE is_location_padding = FALSE
          AND pace IS NOT NULL
          AND pace > 0
          AND pace < 600
        GROUP BY course_id
        ORDER BY avg_pace
    """,
    doc="Reference parity, cross-course pace comparison "
    "(dashboard/utils/queries.py GLOBAL_PACE_COMPARISON) over the "
    "events->telemetry bridge; only the approx median is shimmed, "
    "avg/min/max/stddev/pace-gap hash via the ROUND idiom.",
)

_GRD_AVG = _dexact_avg("duration_minutes")
_GRD_STDDEV = _dexact_std("duration_minutes")

q_telemetry_global_round_duration_comparison = Query(
    name="telemetry_global_round_duration_comparison",
    build=lambda spark, sf_dir: _bridged(
        spark, sf_dir, "global_round_duration_comparison"
    ).drop("median_duration_min"),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),
        round_durations AS (
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
            {_duck_round(_GRD_AVG, 0)} AS avg_duration_min,
            CAST(ROUND(MIN(duration_minutes), 0) AS BIGINT) AS min_duration_min,
            CAST(ROUND(MAX(duration_minutes), 0) AS BIGINT) AS max_duration_min,
            {_duck_round(_GRD_STDDEV, 0)} AS duration_stddev,
            CAST(SUM(CASE WHEN is_nine_hole THEN 1 ELSE 0 END)
                 AS BIGINT) AS nine_hole_rounds,
            CAST(SUM(CASE WHEN NOT is_nine_hole THEN 1 ELSE 0 END)
                 AS BIGINT) AS full_rounds
        FROM round_durations
        GROUP BY course_id
        ORDER BY avg_duration_min
    """,
    doc="Reference parity, cross-course round-duration comparison "
    "(dashboard/utils/queries.py GLOBAL_ROUND_DURATION_COMPARISON) over "
    "the bridge's integer-exact µs-derived durations; only the approx "
    "median is shimmed.",
)

q_telemetry_global_data_quality_ranking = Query(
    name="telemetry_global_data_quality_ranking",
    # Registry shim: avg_quality_score (composite decimal division) and
    # quality_rank (a RANK over that composite — a value divergence
    # would silently reorder it) leave the hashed projection; the four
    # single-ratio completeness columns hash as DOUBLEs.
    build=lambda spark, sf_dir: _cast_cols(
        _bridged(spark, sf_dir, "global_data_quality_ranking").drop(
            "avg_quality_score", "quality_rank"
        ),
        "double",
        "pace_completeness",
        "gps_completeness",
        "hole_completeness",
        "timestamp_completeness",
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            course_id,
            COUNT(*) AS total_events,
            {_pct("pace IS NOT NULL", 1, "NULLIF(COUNT(*), 0)")} AS pace_completeness,
            {_pct("latitude IS NOT NULL AND longitude IS NOT NULL", 1, "NULLIF(COUNT(*), 0)")} AS gps_completeness,
            {_pct("hole_number IS NOT NULL", 1, "NULLIF(COUNT(*), 0)")} AS hole_completeness,
            {_pct("fix_timestamp IS NOT NULL", 1, "NULLIF(COUNT(*), 0)")} AS timestamp_completeness
        FROM fact_telemetry_event
        WHERE is_location_padding = FALSE
        GROUP BY course_id
        ORDER BY course_id
    """,
    doc="Reference parity, the global data-quality ranking's "
    "completeness columns (dashboard/utils/queries.py "
    "GLOBAL_DATA_QUALITY_RANKING); the composite average and its RANK "
    "are shimmed (decimal-division divergence would silently reorder "
    "the rank), the four ratios hash as DOUBLEs.",
)

q_telemetry_padding_analysis = Query(
    name="telemetry_padding_analysis",
    # Runs on the PAD bridge variant: a real padding stripe
    # (location_index % 7) instead of the base bridge's constant FALSE,
    # so a query ABOUT padding measures something non-trivial.
    build=lambda spark, sf_dir: _cast_cols(
        _bridged(spark, sf_dir, "padding_analysis", fact_sql=_SPARK_BRIDGE_PAD),
        "double",
        "padding_pct",
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE_PAD})
        SELECT
            course_id,
            COUNT(*) AS total_events,
            CAST(SUM(CASE WHEN is_location_padding = TRUE THEN 1 ELSE 0 END)
                 AS BIGINT) AS padding_events,
            CAST(SUM(CASE WHEN is_location_padding = FALSE THEN 1 ELSE 0 END)
                 AS BIGINT) AS real_events,
            {_pct("is_location_padding = TRUE")} AS padding_pct
        FROM fact_telemetry_event
        GROUP BY course_id
        ORDER BY padding_pct DESC
    """,
    doc="Reference parity, the padding-rate audit "
    "(dashboard/utils/queries.py PADDING_ANALYSIS) over the PAD bridge "
    "variant's deterministic padding stripe — counts exact, the rate "
    "hashes as a DOUBLE.",
)


QUERIES += [
    q_telemetry_course_summary,
    q_telemetry_infrastructure_stats,
    q_telemetry_column_completeness,
    q_telemetry_data_quality_score,
    q_telemetry_global_device_fleet,
    q_telemetry_global_pace_comparison,
    q_telemetry_global_round_duration_comparison,
    q_telemetry_global_data_quality_ranking,
    q_telemetry_padding_analysis,
]


# ---------------------------------------------------------------------------
# Dashboard-library batch: the exploration
# notebook family (`expl_*`: exploration/*.sql in the reference, served by
# run_telemetry_query).  Three of them read GOLD MODEL tables rather than
# the fact: `_expl_on_model` materializes the model's real chain over the
# bridge (the `_gold_on_bridge` machinery), registers the model frame under
# its dbt name, and runs the REAL exploration text on top — the reference's
# own shape, where exploration SQL reads the stored model table.  Their
# oracles WRAP the registered gold entries' oracle texts as subqueries
# (single-sourced: a bridge/model edit flows into both), re-rounding
# display columns through `_duck_round` (re-ROUNDing an exact 2-dp DOUBLE
# at 1 dp is a half-boundary hazard — 3.45 rounds up on Spark's exact
# decimal but down through a raw double round; the shortest-decimal idiom
# recovers the exact value).  Composite multi-ratio scores summed from
# per-ratio divisions (overall_completeness_score) are shimmed, same class
# as telemetry_data_quality_score's quality_score.
# ---------------------------------------------------------------------------


def _expl_on_model(
    spark: SparkSession, sf_dir: str, model: str, name: str, **params
) -> DataFrame:
    """Run an exploration library text that reads a gold MODEL table:
    build the model's dependency chain over the bridge (real gold
    texts), register the model frame under its name, run the real
    exploration text on top (fixed or parameterized — the `_bridged`
    contract)."""
    from . import telemetry

    _gold_on_bridge(spark, sf_dir, model).localCheckpoint(
        eager=True
    ).createOrReplaceTempView(model)
    if name in telemetry.PARAMETERIZED:
        return spark.sql(telemetry.PARAMETERIZED[name](**params))
    return spark.sql(telemetry.TELEMETRY_QUERIES[name])


# The registered gold entries' oracle texts, wrapped as subqueries by the
# model-reading exploration oracles below (single-sourced chains).
_REG_CCA_ORACLE = q_gold_course_configuration.oracle
_REG_CCG_ORACLE = q_gold_critical_column_gaps.oracle


q_telemetry_expl_executive_summary = Query(
    name="telemetry_expl_executive_summary",
    build=lambda spark, sf_dir: _bridged(spark, sf_dir, "expl_executive_summary"),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            COUNT(DISTINCT course_id) AS total_courses,
            COUNT(DISTINCT round_id) AS total_rounds,
            COUNT(*) AS total_events
        FROM fact_telemetry_event
    """,
    doc="Reference parity, the exploration notebook's executive "
    "summary (exploration SQL; run_telemetry_query"
    "('expl_executive_summary')) — exact counts.",
)

q_telemetry_expl_battery_analysis = Query(
    name="telemetry_expl_battery_analysis",
    build=lambda spark, sf_dir: _cast_cols(
        _bridged(spark, sf_dir, "expl_battery_analysis"),
        "double",
        "pct_low_battery",
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            course_id,
            COUNT(*) AS total_events,
            CAST(SUM(CASE WHEN battery_percentage < 20 THEN 1 ELSE 0 END)
                 AS BIGINT) AS low_battery,
            {_pct("battery_percentage < 20")} AS pct_low_battery
        FROM fact_telemetry_event
        WHERE battery_percentage IS NOT NULL
        GROUP BY course_id
        ORDER BY pct_low_battery DESC
    """,
    doc="Reference parity, exploration battery audit "
    "(expl_battery_analysis) over the bridge's battery NULL stripe — "
    "counts exact, the rate hashes as a DOUBLE.",
)

_ECC_PCTS = [
    ("pace_pct", "pace IS NOT NULL"),
    ("pace_gap_pct", "pace_gap IS NOT NULL"),
    ("hole_pct", "hole_number IS NOT NULL"),
    ("battery_pct", "battery_percentage IS NOT NULL"),
    ("gps_pct", "latitude IS NOT NULL"),
]

q_telemetry_expl_column_completeness = Query(
    name="telemetry_expl_column_completeness",
    build=lambda spark, sf_dir: _cast_cols(
        _bridged(spark, sf_dir, "expl_column_completeness"),
        "double",
        *[name for name, _ in _ECC_PCTS],
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            course_id,
            COUNT(*) AS total,
            {", ".join(f"{_pct(cond)} AS {name}" for name, cond in _ECC_PCTS)}
        FROM fact_telemetry_event
        GROUP BY course_id
        ORDER BY course_id
    """,
    doc="Reference parity, the exploration notebook's quick "
    "completeness scan (expl_column_completeness) — five pct columns "
    "hash as DOUBLEs (distinct from the dashboard's 11-column "
    "column_completeness text).",
)

_DCS_PCTS = [
    (
        "timestamp_complete_pct",
        "fix_timestamp IS NOT NULL AND is_timestamp_missing = false",
    ),
    ("pace_complete_pct", "pace IS NOT NULL"),
    ("pace_gap_complete_pct", "pace_gap IS NOT NULL"),
    ("pos_gap_complete_pct", "positional_gap IS NOT NULL"),
    ("hole_complete_pct", "hole_number IS NOT NULL"),
    ("gps_complete_pct", "latitude IS NOT NULL AND longitude IS NOT NULL"),
    ("battery_complete_pct", "battery_percentage IS NOT NULL"),
    ("start_hole_complete_pct", "start_hole IS NOT NULL"),
]

q_telemetry_expl_data_completeness_summary = Query(
    name="telemetry_expl_data_completeness_summary",
    # Registry shim: overall_completeness_score sums four per-ratio
    # decimal divisions before its ROUND — the quality_score
    # composite class, where engine decimal-vs-double chains diverge.
    build=lambda spark, sf_dir: _cast_cols(
        _bridged(spark, sf_dir, "expl_data_completeness_summary").drop(
            "overall_completeness_score"
        ),
        "double",
        *[name for name, _ in _DCS_PCTS],
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            course_id,
            COUNT(*) AS total_records,
            COUNT(DISTINCT round_id) AS unique_rounds,
            {", ".join(f"{_pct(cond)} AS {name}" for name, cond in _DCS_PCTS)}
        FROM fact_telemetry_event
        GROUP BY course_id
        ORDER BY course_id
    """,
    doc="Reference parity, the exploration completeness summary "
    "(expl_data_completeness_summary); eight single-ratio pct columns "
    "hash, the composite score is shimmed (the quality_score class).",
)

q_telemetry_expl_dataset_variance = Query(
    name="telemetry_expl_dataset_variance",
    build=lambda spark, sf_dir: _dates_as_ntz(
        _cast_cols(
            _bridged(spark, sf_dir, "expl_dataset_variance"),
            "double",
            "avg_events_per_round",
        ),
        "earliest_data",
        "latest_data",
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            course_id,
            COUNT(*) AS total_events,
            COUNT(DISTINCT round_id) AS total_rounds,
            {_duck_round("CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT round_id)", 1)} AS avg_events_per_round,
            MIN(fix_timestamp) AS earliest_data,
            MAX(fix_timestamp) AS latest_data,
            COUNT(DISTINCT CAST(fix_timestamp AS DATE)) AS unique_days,
            MAX(location_index) AS max_location_index,
            COUNT(DISTINCT hole_number) AS unique_holes_seen,
            COUNT(DISTINCT start_hole) AS unique_start_holes
        FROM fact_telemetry_event
        GROUP BY course_id
        ORDER BY total_events DESC
    """,
    doc="Reference parity, per-course dataset variance profile "
    "(expl_dataset_variance) — exact counts, NTZ timestamp bounds "
    "(Spark DATE(ts) == DuckDB CAST(ts AS DATE) on NTZ), the "
    "events-per-round average through the ROUND idiom.",
)

_ENA_COLS = [
    ("null_timestamp", "is_timestamp_missing = true", 2),
    ("null_pace", "pace IS NULL", 2),
    ("null_pace_gap", "pace_gap IS NULL", 2),
    ("null_positional_gap", "positional_gap IS NULL", 2),
    ("null_hole", "hole_number IS NULL", 2),
    ("null_section", "section_number IS NULL", 2),
    ("null_gps", "latitude IS NULL OR longitude IS NULL", 2),
    ("null_battery", "battery_percentage IS NULL", 2),
    ("null_start_hole", "start_hole IS NULL", 2),
    ("null_goal_time", "goal_time IS NULL", 2),
]

q_telemetry_expl_null_analysis = Query(
    name="telemetry_expl_null_analysis",
    build=lambda spark, sf_dir: _cast_cols(
        _bridged(spark, sf_dir, "expl_null_analysis"),
        "double",
        *[f"pct_{name}" for name, _, _ in _ENA_COLS],
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            course_id,
            COUNT(*) AS total_rows,
            {", ".join(
                f"CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT) AS {name}, "
                f"{_pct(cond, n)} AS pct_{name}"
                for name, cond, n in _ENA_COLS
            )}
        FROM fact_telemetry_event
        GROUP BY course_id
        ORDER BY pct_null_timestamp DESC, course_id
    """,
    doc="Reference parity, the exploration null census "
    "(exploration/null_patterns.sql expl_null_analysis) over every "
    "deterministic NULL stripe — ten count/pct pairs, all hashed.",
)

q_telemetry_expl_null_pattern_by_hole = Query(
    name="telemetry_expl_null_pattern_by_hole",
    build=lambda spark, sf_dir: _cast_cols(
        _bridged(spark, sf_dir, "expl_null_pattern_by_hole"),
        "double",
        "pct_null_pace",
        "pct_null_pace_gap",
        "avg_null_rate",
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            course_id,
            hole_number,
            COUNT(*) AS total_records,
            CAST(SUM(CASE WHEN pace IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_pace,
            CAST(SUM(CASE WHEN pace_gap IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_pace_gap,
            CAST(SUM(CASE WHEN positional_gap IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_pos_gap,
            CAST(SUM(CASE WHEN battery_percentage IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_battery,
            CAST(SUM(CASE WHEN is_timestamp_missing = true THEN 1 ELSE 0 END) AS BIGINT) AS null_timestamp,
            {_pct("pace IS NULL")} AS pct_null_pace,
            {_pct("pace_gap IS NULL")} AS pct_null_pace_gap,
            CAST(ROUND(
                100.0 * (
                    SUM(CASE WHEN pace IS NULL THEN 1 ELSE 0 END) +
                    SUM(CASE WHEN pace_gap IS NULL THEN 1 ELSE 0 END) +
                    SUM(CASE WHEN positional_gap IS NULL THEN 1 ELSE 0 END)
                ) / (COUNT(*) * 3), 1
            ) AS DOUBLE) AS avg_null_rate
        FROM fact_telemetry_event
        WHERE hole_number IS NOT NULL
        GROUP BY course_id, hole_number
        ORDER BY course_id, hole_number
    """,
    doc="Reference parity, per-hole null clustering "
    "(expl_null_pattern_by_hole); avg_null_rate is a SINGLE decimal "
    "division of an integer sum (unlike the shimmed multi-division "
    "composites), so it hashes as a DOUBLE too.",
)

q_telemetry_expl_pace_gap_coverage = Query(
    name="telemetry_expl_pace_gap_coverage",
    build=lambda spark, sf_dir: _cast_cols(
        _bridged(spark, sf_dir, "expl_pace_gap_coverage"),
        "double",
        "pct_missing",
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            course_id,
            COUNT(*) AS total_events,
            CAST(SUM(CASE WHEN pace_gap IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS missing_pace_gap,
            {_pct("pace_gap IS NULL", 2)} AS pct_missing
        FROM fact_telemetry_event
        GROUP BY course_id
        ORDER BY pct_missing DESC
    """,
    doc="Reference parity, pace-gap coverage audit "
    "(expl_pace_gap_coverage) over the pace_gap NULL stripe.",
)

q_telemetry_expl_data_quality_overview = Query(
    name="telemetry_expl_data_quality_overview",
    build=lambda spark, sf_dir: _decimals_as_double(
        _expl_on_model(
            spark, sf_dir, "data_quality_overview", "expl_data_quality_overview"
        )
    ),
    oracle=f"""
        SELECT
            course_id,
            total_events,
            total_rounds,
            {_duck_round("data_quality_score", 1)} AS data_quality_score,
            {_duck_round("pct_missing_pace", 1)} AS pct_missing_pace,
            {_duck_round("pct_missing_hole_number", 1)} AS pct_missing_hole,
            low_battery_events
        FROM ({q_gold_data_quality_overview.oracle}) data_quality_overview
        ORDER BY data_quality_score DESC
    """,
    doc="Reference parity, the exploration overview read OVER the "
    "data_quality_overview gold model (the reference's "
    "exploration-reads-dbt-table shape); oracle wraps the registered "
    "gold oracle's chain, display re-ROUNDs through the "
    "shortest-decimal idiom.",
)

q_telemetry_expl_course_configuration = Query(
    name="telemetry_expl_course_configuration",
    build=lambda spark, sf_dir: _cast_cols(
        _decimals_as_double(
            _expl_on_model(
                spark,
                sf_dir,
                "course_configuration_analysis",
                "expl_course_configuration",
            )
        ),
        "bigint",
        "course_complexity_score",
    ),
    oracle=f"""
        SELECT
            course_id,
            total_rounds,
            likely_course_type,
            max_section_seen,
            max_holes_in_round,
            {_duck_round("pct_nine_hole", 1)} AS pct_nine_hole,
            unique_start_holes,
            {_duck_round("pct_shotgun_starts", 1)} AS pct_shotgun_starts,
            course_complexity_score
        FROM ({_REG_CCA_ORACLE}) course_configuration_analysis
        ORDER BY course_complexity_score DESC
    """,
    doc="Reference parity, the exploration course-configuration read "
    "over the course_configuration_analysis gold model; oracle wraps "
    "the registered gold oracle's chain.",
)

q_telemetry_expl_critical_gaps = Query(
    name="telemetry_expl_critical_gaps",
    build=lambda spark, sf_dir: _decimals_as_double(
        _expl_on_model(
            spark, sf_dir, "critical_column_gaps", "expl_critical_gaps"
        )
    ),
    oracle=f"""
        SELECT
            course_id,
            total_events,
            total_rounds,
            {_duck_round("usability_score", 1)} AS usability_score,
            pace_data_status,
            location_data_status,
            device_health_status,
            round_config_status,
            top_recommendation
        FROM ({_REG_CCG_ORACLE}) critical_column_gaps
        ORDER BY usability_score DESC
    """,
    doc="Reference parity, the exploration critical-gaps read over "
    "the critical_column_gaps gold model (usability score, four "
    "status verdicts, the recommendation text); oracle wraps the "
    "registered gold oracle's chain.",
)


QUERIES += [
    q_telemetry_expl_executive_summary,
    q_telemetry_expl_battery_analysis,
    q_telemetry_expl_column_completeness,
    q_telemetry_expl_data_completeness_summary,
    q_telemetry_expl_dataset_variance,
    q_telemetry_expl_null_analysis,
    q_telemetry_expl_null_pattern_by_hole,
    q_telemetry_expl_pace_gap_coverage,
    q_telemetry_expl_data_quality_overview,
    q_telemetry_expl_course_configuration,
    q_telemetry_expl_critical_gaps,
]


# ---------------------------------------------------------------------------
# Dashboard-library batch: the
# examples/common_queries.sql family (`ex_*`) and the remaining
# null-patterns texts.  Two library texts are deliberately NOT bridged
# (each would verify nothing real against this bridge):
#
# - ex_duplicate_fix_check: the bridge has no duplicate
#   (round_id, fix_timestamp) pairs at any test SF (measured: 0 groups
#   at sf0.001 and sf0.01), so its driver row would be a 0=0 row-count
#   match proving nothing; the dedup semantics it spot-checks are
#   pinned for real by the W1 window_dedup oracle and silver's
#   dedup-stage tests.
# - expl_np_missing_ts_by_round: ORDER BY missing_timestamp_count DESC
#   LIMIT 20 is not a total order, and on the bridge every per-round
#   missing count is 1 (measured) — the 20-row cut is entirely
#   tie-arbitrary, so Spark and DuckDB legitimately return different
#   row SETS.  The same grain is driver-verified through
#   telemetry_missing_ts_overview/by_course, which aggregate before
#   any cut.
# ---------------------------------------------------------------------------

q_telemetry_ex_events_by_course = Query(
    name="telemetry_ex_events_by_course",
    build=lambda spark, sf_dir: _bridged(spark, sf_dir, "ex_events_by_course"),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT course_id, COUNT(*) AS total_events
        FROM fact_telemetry_event
        GROUP BY course_id
        ORDER BY total_events DESC
    """,
    doc="Reference parity, examples/common_queries.sql events-by-course "
    "(run_telemetry_query('ex_events_by_course')) — exact counts.",
)

q_telemetry_ex_rounds_by_course = Query(
    name="telemetry_ex_rounds_by_course",
    build=lambda spark, sf_dir: _bridged(spark, sf_dir, "ex_rounds_by_course"),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT course_id, COUNT(DISTINCT round_id) AS rounds
        FROM fact_telemetry_event
        GROUP BY course_id
        ORDER BY rounds DESC
    """,
    doc="Reference parity, examples rounds-by-course "
    "(run_telemetry_query('ex_rounds_by_course')) — exact counts.",
)

q_telemetry_ex_events_by_date = Query(
    name="telemetry_ex_events_by_date",
    build=lambda spark, sf_dir: _dates_as_ntz(
        _bridged(spark, sf_dir, "ex_events_by_date"), "event_date"
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            CAST(CAST(fix_timestamp AS DATE) AS TIMESTAMP) AS event_date,
            course_id,
            COUNT(*) AS events,
            COUNT(DISTINCT round_id) AS rounds
        FROM fact_telemetry_event
        WHERE fix_timestamp IS NOT NULL
        GROUP BY CAST(fix_timestamp AS DATE), course_id
        ORDER BY event_date DESC, course_id
    """,
    doc="Reference parity, examples daily activity "
    "(run_telemetry_query('ex_events_by_date')); Spark DATE(ntz) == "
    "DuckDB CAST(ts AS DATE), shipped as NTZ timestamps.",
)

q_telemetry_ex_missing_critical_fields = Query(
    name="telemetry_ex_missing_critical_fields",
    build=lambda spark, sf_dir: _bridged(
        spark, sf_dir, "ex_missing_critical_fields"
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            course_id,
            COUNT(*) AS total_events,
            CAST(SUM(CASE WHEN pace IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS missing_pace,
            CAST(SUM(CASE WHEN hole_number IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS missing_hole,
            CAST(SUM(CASE WHEN latitude IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS missing_gps
        FROM fact_telemetry_event
        GROUP BY course_id
        ORDER BY course_id
    """,
    doc="Reference parity, examples critical-field audit "
    "(run_telemetry_query('ex_missing_critical_fields')) over the "
    "bridge's NULL stripes — exact counts.",
)

q_telemetry_missing_ts_by_course = Query(
    name="telemetry_missing_ts_by_course",
    build=lambda spark, sf_dir: _missing_pct_as_double(
        _bridged(spark, sf_dir, "expl_np_missing_ts_by_course")
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            course_id,
            COUNT(*) AS total_rows,
            COUNT(*) FILTER (WHERE is_timestamp_missing = true) AS missing_count,
            COUNT(*) FILTER (WHERE is_timestamp_missing = false) AS valid_count,
            CAST(ROUND(100.0 * COUNT(*) FILTER (WHERE is_timestamp_missing = true)
                       / COUNT(*), 2) AS DOUBLE) AS missing_percentage
        FROM fact_telemetry_event
        GROUP BY course_id
        ORDER BY missing_percentage DESC, missing_count DESC
    """,
    doc="Reference parity, missing-timestamp rate per course "
    "(exploration/null_patterns.sql expl_np_missing_ts_by_course) — "
    "the per-course face of the r06-green missing_ts_overview.",
)

q_telemetry_missing_ts_sample = Query(
    name="telemetry_missing_ts_sample",
    build=lambda spark, sf_dir: _dates_as_ntz(
        _bridged(spark, sf_dir, "expl_np_missing_ts_sample"), "event_date"
    ),
    # LIMIT 50 is safe here: ORDER BY (course_id, round_id,
    # location_index) is a TOTAL order (location_index is the unique
    # event id), so both engines cut the identical row set — unlike
    # the skipped by_round text above.
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            course_id, round_id, location_index, hole_number, section_number,
            longitude, latitude, pace, is_cache, is_timestamp_missing,
            fix_timestamp, CAST(event_date AS TIMESTAMP) AS event_date
        FROM fact_telemetry_event
        WHERE is_timestamp_missing = true
        ORDER BY course_id, round_id, location_index
        LIMIT 50
    """,
    doc="Reference parity, the missing-timestamp row sample "
    "(expl_np_missing_ts_sample): a raw-projection detail view whose "
    "LIMIT rides a total order, every column hashed (the "
    "keep-and-flag NULL-preservation contract made row-visible).",
)

q_telemetry_np_quality_report = Query(
    name="telemetry_np_quality_report",
    build=lambda spark, sf_dir: _bridged(spark, sf_dir, "expl_np_quality_report"),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            course_id,
            COUNT(*) AS total_rows,
            COUNT(*) FILTER (WHERE is_timestamp_missing = true) AS missing_timestamps,
            COUNT(*) FILTER (WHERE longitude IS NULL OR latitude IS NULL) AS missing_coordinates,
            COUNT(*) FILTER (WHERE pace IS NULL) AS missing_pace,
            COUNT(*) FILTER (WHERE battery_percentage IS NULL) AS missing_battery,
            COUNT(*) FILTER (WHERE hole_number IS NULL) AS missing_hole,
            COUNT(*) FILTER (WHERE section_number IS NULL) AS missing_section,
            COUNT(*) FILTER (WHERE is_timestamp_missing = true
                             AND (longitude IS NULL OR latitude IS NULL))
                AS missing_timestamp_and_coords
        FROM fact_telemetry_event
        GROUP BY course_id
        ORDER BY missing_timestamps DESC
    """,
    doc="Reference parity, the null-patterns quality report "
    "(expl_np_quality_report): FILTER-clause counts over every NULL "
    "stripe plus the timestamp-and-coords correlation — exact ints.",
)


QUERIES += [
    q_telemetry_ex_events_by_course,
    q_telemetry_ex_rounds_by_course,
    q_telemetry_ex_events_by_date,
    q_telemetry_ex_missing_critical_fields,
    q_telemetry_missing_ts_by_course,
    q_telemetry_missing_ts_sample,
    q_telemetry_np_quality_report,
]


# ---------------------------------------------------------------------------
# Dashboard-library batch: the demo
# notebook family (`demo_*`) and the dimension-reading texts.  Three
# deterministic DIM views (identical SQL text both engines) stand in for
# tables the bridge did not carry:
#
# - dim_facility_topology gains section ranges (`_TOPOLOGY_FULL`: nine n
#   covers sections (n-1)*27+1 .. n*27 — the reference's 27-sections-per-
#   nine convention) on top of the green `_SPARK_TOPOLOGY` unit census;
# - dim_sections_per_hole is the G4 inference shape materialized over the
#   bridge (MIN/MAX/COUNT DISTINCT section per hole);
# - dim_course_profile is a seeded VALUES table (the reference's profile
#   SEED csv), one row per bridge course, with a loop course so
#   `loop_courses` matches something.
#
# The seasonality demos read the course_rounds_by_month/weekday MODELS
# (via _expl_on_model); their oracles wrap the registered gold oracles and
# recompute pct_total through the shortest-decimal ROUND idiom — the model
# text's ROUND(CAST(x AS DOUBLE)/y*100, 2) is a double-ROUND, exactly what
# _duck_round mirrors, so the column the r6-era gold row had to SHIM is
# fully hashable here (and the top/bottom-3 row_number cuts ride
# bit-identical sort keys with a month_start tiebreak — a total order).
# Skipped, with reasons: demo_rarest_sections (ORDER BY fixes ASC LIMIT 50
# — tie-arbitrary cut, most section counts collide) and round_list
# (ORDER BY course_id, round_date DESC LIMIT 100 — many rounds share a
# date, same tie-arbitrary class).
# ---------------------------------------------------------------------------

_TOPOLOGY_FULL_TEMPLATE = """
    SELECT facility_id, nine_number, unit_name,
           (nine_number - 1) * 27 + 1 AS section_start,
           nine_number * 27 AS section_end
    FROM ({inner}) t
"""
_SPARK_TOPOLOGY_FULL = _TOPOLOGY_FULL_TEMPLATE.format(inner=_SPARK_TOPOLOGY)
_DUCK_TOPOLOGY_FULL = _TOPOLOGY_FULL_TEMPLATE.format(inner=_DUCK_TOPOLOGY)

# Identical text both engines (VALUES inline table, verified syntax parity).
_PROFILE_VIEW = """
    SELECT * FROM (VALUES
        ('course_0', '18-hole', FALSE, 'standard', 3, 8, 'seeded profile'),
        ('course_1', '18-hole (loop)', TRUE, 'high', 4, 9, 'seeded profile'),
        ('course_2', '27-hole', FALSE, 'low', 5, 10, 'seeded profile')
    ) AS t(course_id, course_type, is_loop_course, volume_profile,
           peak_season_start_month, peak_season_end_month, notes)
"""

# The G4 sections-per-hole dim materialized over the bridge (identical
# text both engines).
_SECTIONS_PER_HOLE_VIEW = """
    SELECT course_id, hole_number,
           MIN(section_number) AS section_start,
           MAX(section_number) AS section_end,
           COUNT(DISTINCT section_number) AS sections_count
    FROM fact_telemetry_event
    WHERE is_location_padding = FALSE
      AND hole_number IS NOT NULL AND section_number IS NOT NULL
    GROUP BY course_id, hole_number
"""


def _dim_bridged(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    fact_sql: str | None = None,
    **params,
) -> DataFrame:
    """Run a library text that reads the dimension tables: register the
    bridge fact (optionally an extended variant) plus the three
    deterministic dim views, then run the REAL library text (fixed or
    parameterized — the `_bridged` contract)."""
    from . import telemetry

    load_views(spark, sf_dir)
    spark.sql(fact_sql or _SPARK_BRIDGE).createOrReplaceTempView(
        "fact_telemetry_event"
    )
    spark.sql(_SPARK_TOPOLOGY_FULL).createOrReplaceTempView("dim_facility_topology")
    spark.sql(_SECTIONS_PER_HOLE_VIEW).createOrReplaceTempView("dim_sections_per_hole")
    spark.sql(_PROFILE_VIEW).createOrReplaceTempView("dim_course_profile")
    if name in telemetry.PARAMETERIZED:
        return spark.sql(telemetry.PARAMETERIZED[name](**params))
    return spark.sql(telemetry.TELEMETRY_QUERIES[name])


q_telemetry_demo_data_volume = Query(
    name="telemetry_demo_data_volume",
    build=lambda spark, sf_dir: _bridged(spark, sf_dir, "demo_data_volume"),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            course_id,
            COUNT(DISTINCT round_id) AS rounds,
            COUNT(*) AS fixes
        FROM fact_telemetry_event
        GROUP BY course_id
        ORDER BY fixes DESC
    """,
    doc="Reference parity, the demo notebook's data-volume strip "
    "(run_telemetry_query('demo_data_volume')) — exact counts.",
)

q_telemetry_demo_topology_rows = Query(
    name="telemetry_demo_topology_rows",
    build=lambda spark, sf_dir: _dim_bridged(spark, sf_dir, "demo_topology_rows"),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),
        dim_facility_topology AS ({_DUCK_TOPOLOGY_FULL})
        SELECT facility_id, COUNT(*) AS topology_rows
        FROM dim_facility_topology
        GROUP BY facility_id
        ORDER BY facility_id
    """,
    doc="Reference parity, demo topology census "
    "(demo_topology_rows) over the deterministic bridge topology.",
)

q_telemetry_topology = Query(
    name="telemetry_topology",
    build=lambda spark, sf_dir: _dim_bridged(spark, sf_dir, "topology"),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),
        dim_facility_topology AS ({_DUCK_TOPOLOGY_FULL})
        SELECT
            facility_id AS course_id,
            unit_name,
            nine_number,
            section_start,
            section_end,
            section_end - section_start + 1 AS sections_in_nine
        FROM dim_facility_topology
        ORDER BY facility_id, nine_number
    """,
    doc="Reference parity, the dashboard topology table "
    "(dashboard/utils/queries.py TOPOLOGY) over the full bridge "
    "topology (unit census + the 27-sections-per-nine ranges).",
)

q_telemetry_sections_per_hole_dim = Query(
    name="telemetry_sections_per_hole_dim",
    build=lambda spark, sf_dir: _dim_bridged(
        spark, sf_dir, "sections_per_hole_dim"
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),
        dim_sections_per_hole AS ({_SECTIONS_PER_HOLE_VIEW})
        SELECT
            course_id,
            hole_number,
            section_start,
            section_end,
            sections_count,
            section_end - section_start + 1 AS section_range
        FROM dim_sections_per_hole
        ORDER BY course_id, hole_number
    """,
    doc="Reference parity, the dim-table face of sections-per-hole "
    "(sections_per_hole_dim) over the materialized G4 inference view — "
    "all integer-exact.",
)

q_telemetry_course_profile = Query(
    name="telemetry_course_profile",
    build=lambda spark, sf_dir: _dim_bridged(spark, sf_dir, "course_profile"),
    oracle=f"""
        WITH dim_course_profile AS ({_PROFILE_VIEW})
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
    """,
    doc="Reference parity, the course-profile seed read "
    "(dashboard/utils/queries.py COURSE_PROFILE) over the seeded "
    "VALUES dim (identical inline table both engines).",
)

q_telemetry_loop_courses = Query(
    name="telemetry_loop_courses",
    build=lambda spark, sf_dir: _dim_bridged(spark, sf_dir, "loop_courses"),
    oracle=f"""
        WITH dim_course_profile AS ({_PROFILE_VIEW})
        SELECT course_id, course_type, notes
        FROM dim_course_profile
        WHERE is_loop_course = TRUE
           OR course_type LIKE '%loop%'
        ORDER BY course_id
    """,
    doc="Reference parity, the loop-course selector "
    "(dashboard/utils/queries.py LOOP_COURSES) over the seeded "
    "profile dim (the seed includes one loop course).",
)

# pct_total recomputed over the WRAPPED registered gold oracle: the model
# text's ROUND(CAST(rounds AS DOUBLE) / total * 100, 2) is a double-ROUND
# — exactly the semantics _duck_round mirrors — and SUM(rounds) OVER
# (PARTITION BY course_id) equals the model's total_rounds join.
_DEMO_PCT_TOTAL = (
    "CAST(rounds AS DOUBLE) / SUM(rounds) OVER (PARTITION BY course_id) * 100"
)

q_telemetry_demo_seasonality_months = Query(
    name="telemetry_demo_seasonality_months",
    build=lambda spark, sf_dir: _dates_as_ntz(
        _expl_on_model(
            spark, sf_dir, "course_rounds_by_month", "demo_seasonality_months"
        ),
        "month_start",
    ),
    oracle=f"""
        SELECT
            course_id,
            month_start,
            month_name,
            rounds,
            {_duck_round(_DEMO_PCT_TOTAL, 2)} AS pct_total
        FROM ({q_gold_rounds_by_month.oracle}) course_rounds_by_month
        ORDER BY course_id, month_start
    """,
    doc="Reference parity, the demo seasonality-by-month read over the "
    "course_rounds_by_month MODEL — pct_total, the column the r6 gold "
    "row had to shim, hashes here through the shortest-decimal ROUND "
    "idiom.",
)

q_telemetry_demo_seasonality_weekdays = Query(
    name="telemetry_demo_seasonality_weekdays",
    build=lambda spark, sf_dir: _expl_on_model(
        spark, sf_dir, "course_rounds_by_weekday", "demo_seasonality_weekdays"
    ),
    oracle=f"""
        SELECT course_id, weekday_number, weekday_name, rounds
        FROM ({q_gold_rounds_by_weekday.oracle}) course_rounds_by_weekday
        ORDER BY course_id, weekday_number
    """,
    doc="Reference parity, the demo seasonality-by-weekday read over "
    "the course_rounds_by_weekday MODEL (oracle wraps the registered "
    "gold chain).",
)


def _demo_rank_months(direction: str) -> str:
    """The demo top/bottom-3 ranked CTE over the wrapped month model:
    bit-identical pct sort keys (the idiom) + the month_start tiebreak
    make the row_number cut a total order on both engines."""
    return f"""
        WITH months AS (
            SELECT
                course_id,
                month_start,
                month_name,
                rounds,
                {_duck_round(_DEMO_PCT_TOTAL, 2)} AS pct_total
            FROM ({q_gold_rounds_by_month.oracle}) course_rounds_by_month
        ),
        ranked AS (
            SELECT *,
                ROW_NUMBER() OVER (
                    PARTITION BY course_id
                    ORDER BY pct_total {direction}, month_start
                ) AS rn
            FROM months
        )
        SELECT course_id, month_name, month_start, rounds, pct_total
        FROM ranked
        WHERE rn <= 3
        ORDER BY course_id, rn
    """


q_telemetry_demo_top3_months = Query(
    name="telemetry_demo_top3_months",
    build=lambda spark, sf_dir: _dates_as_ntz(
        _expl_on_model(spark, sf_dir, "course_rounds_by_month", "demo_top3_months"),
        "month_start",
    ),
    oracle=_demo_rank_months("DESC"),
    doc="Reference parity, the demo top-3 months read over the month "
    "model — the ranked cut rides bit-identical pct keys plus the "
    "month_start tiebreak (a total order).",
)

q_telemetry_demo_bottom3_months = Query(
    name="telemetry_demo_bottom3_months",
    build=lambda spark, sf_dir: _dates_as_ntz(
        _expl_on_model(
            spark, sf_dir, "course_rounds_by_month", "demo_bottom3_months"
        ),
        "month_start",
    ),
    oracle=_demo_rank_months("ASC"),
    doc="Reference parity, the demo bottom-3 months read over the "
    "month model (same total-order contract as top-3).",
)


QUERIES += [
    q_telemetry_demo_data_volume,
    q_telemetry_demo_topology_rows,
    q_telemetry_topology,
    q_telemetry_sections_per_hole_dim,
    q_telemetry_course_profile,
    q_telemetry_loop_courses,
    q_telemetry_demo_seasonality_months,
    q_telemetry_demo_seasonality_weekdays,
    q_telemetry_demo_top3_months,
    q_telemetry_demo_bottom3_months,
]


# ---------------------------------------------------------------------------
# Dashboard-library batch: the
# PARAMETERIZED per-course drill-down family (`get_*`, rendered through
# telemetry.PARAMETERIZED's _exact_avg_std rewrite exactly as
# run_telemetry_query serves them) plus the remaining fixed texts.
# Standing parameter: course_id='course_1' (the _COURSE the earlier
# parameterized green rows pin).  Deliberately NOT bridged, with reasons:
#
# - get_round_map_points: its round_id parameter is data-dependent (a
#   (user, day, hour) bridge key that differs by scale factor), and the
#   oracle is a static string — the same raw-detail projection is
#   driver-verified by telemetry_missing_ts_sample and
#   telemetry_round_progression instead.
# - ex_slow_rounds: HAVING avg_pace > 500 can never match the bridge's
#   integer 1..50 pace domain (a 0=0 match proving nothing).
# - expl_bottleneck_analysis: HAVING COUNT(*) > 50 matches zero groups
#   at sf0.001 (measured) — the same clause classes are driver-covered
#   by telemetry_pace_by_section (sample floors) and agg_having.
# (get_check_loop_fatigue, formerly on this list, WAS bridged once
# _expl_on_model accepted parameters — q_telemetry_check_loop_fatigue
# below.)
# The full 7-skip census lives in OPERATORS.md §"Bridge census" — keep
# the two in sync when a skip is added or bridged.
# ---------------------------------------------------------------------------

_PBHC_AVG = _dexact_avg("hp.pace")
def _round_validation_oracle(where: str) -> str:
    """The per-round validation oracle (round_stats CTE + the four
    verdict CASEs), shared by the per-course and all-courses entries —
    the two library texts differ only in the stats CTE's WHERE line,
    so the oracle is factored the same way telemetry.py factors the
    Spark texts."""
    return f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE_EXT}),
        round_stats AS (
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
                CAST(SUM(CASE WHEN is_location_padding = FALSE THEN 1 ELSE 0 END)
                     AS BIGINT) AS real_events,
                CAST(SUM(CASE WHEN pace IS NOT NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS events_with_pace
            FROM fact_telemetry_event
            {where}GROUP BY course_id, round_id
        )
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
        ORDER BY round_id
    """


q_telemetry_pace_by_hole_course = Query(
    name="telemetry_pace_by_hole_course",
    build=lambda spark, sf_dir: _bridged(
        spark, sf_dir, "get_pace_by_hole_for_course", course_id=_COURSE
    ).drop("median_pace"),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),
        hole_pace AS (
            SELECT course_id, hole_number, pace, round_id
            FROM fact_telemetry_event
            WHERE is_location_padding = FALSE
              AND pace IS NOT NULL AND pace > 0 AND pace < 60
              AND hole_number IS NOT NULL
              AND course_id = '{_COURSE}'
        ),
        course_avg AS (
            SELECT course_id,
                   {_duck_round(_dexact_avg("pace"), 1)} AS course_avg_pace
            FROM hole_pace
            GROUP BY course_id
        )
        SELECT
            hp.course_id,
            hp.hole_number,
            COUNT(DISTINCT hp.round_id) AS sample_rounds,
            COUNT(*) AS sample_events,
            {_duck_round(_PBHC_AVG, 1)} AS avg_pace,
            {_duck_round("MIN(hp.pace)", 1)} AS min_pace,
            {_duck_round("MAX(hp.pace)", 1)} AS max_pace,
            {_duck_round(_dexact_std("hp.pace"), 1)} AS pace_stddev,
            ca.course_avg_pace,
            {_duck_round(_PBHC_AVG + " - ca.course_avg_pace", 1)} AS pace_vs_avg,
            CASE
                WHEN {_PBHC_AVG} > ca.course_avg_pace * 1.15 THEN 'bottleneck'
                WHEN {_PBHC_AVG} < ca.course_avg_pace * 0.85 THEN 'fast'
                ELSE 'normal'
            END AS hole_category
        FROM hole_pace hp
        JOIN course_avg ca ON hp.course_id = ca.course_id
        GROUP BY hp.course_id, hp.hole_number, ca.course_avg_pace
        ORDER BY hp.course_id, hp.hole_number
    """,
    doc="Reference parity, the course-detail per-hole pace table "
    "(run_telemetry_query('get_pace_by_hole_for_course')) — the "
    "parameterized face of telemetry_pace_by_hole, same idiom shims "
    "(only the approx median leaves the projection).",
)

q_telemetry_pace_by_section_course = Query(
    name="telemetry_pace_by_section_course",
    build=lambda spark, sf_dir: _bridged(
        spark, sf_dir, "get_pace_by_section_for_course", course_id=_COURSE
    ).drop("median_pace"),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            course_id, hole_number, section_number,
            COUNT(DISTINCT round_id) AS sample_rounds,
            {_duck_round(_dexact_avg("pace"), 1)} AS avg_pace
        FROM fact_telemetry_event
        WHERE is_location_padding = FALSE
          AND pace IS NOT NULL AND pace > 0 AND pace < 60
          AND hole_number IS NOT NULL AND section_number IS NOT NULL
          AND course_id = '{_COURSE}'
        GROUP BY course_id, hole_number, section_number
        ORDER BY hole_number, section_number
    """,
    doc="Reference parity, the course-detail per-section pace heatmap "
    "(run_telemetry_query('get_pace_by_section_for_course')); avg via "
    "the ROUND idiom, only the approx median shimmed.",
)

q_telemetry_round_sample = Query(
    name="telemetry_round_sample",
    build=lambda spark, sf_dir: _bridged(
        spark, sf_dir, "get_round_sample", course_id=_COURSE
    ),
    # LIMIT 100 rides a TOTAL order: location_index is the globally
    # unique event id, so both engines cut the identical row set.
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            round_id, location_index, hole_number, section_number, nine_number,
            pace, fix_timestamp, is_location_padding
        FROM fact_telemetry_event
        WHERE course_id = '{_COURSE}'
        ORDER BY round_id, hole_number NULLS LAST, section_number NULLS LAST,
                 location_index
        LIMIT 100
    """,
    doc="Reference parity, the raw round-sample detail view "
    "(run_telemetry_query('get_round_sample')) — all columns hashed, "
    "the LIMIT rides a total order ending in the unique event id.",
)

q_telemetry_round_validation_course = Query(
    name="telemetry_round_validation_course",
    build=lambda spark, sf_dir: _bridged(
        spark,
        sf_dir,
        "get_round_validation_for_course",
        fact_sql=_SPARK_BRIDGE_EXT,
        course_id=_COURSE,
    ),
    oracle=_round_validation_oracle(
        f"WHERE course_id = '{_COURSE}'\n            "
    ),
    doc="Reference parity, per-round validation detail "
    "(run_telemetry_query('get_round_validation_for_course')) over the "
    "extended bridge — duration/sequence/events/pace validity verdicts, "
    "all integer- and boolean-exact (the text drops the stats CTE's "
    "timestamp columns from its own projection).",
)

q_telemetry_demo_hole_max_outlier = Query(
    name="telemetry_demo_hole_max_outlier",
    build=lambda spark, sf_dir: _bridged(
        spark, sf_dir, "get_demo_hole_max_outlier", course_id=_COURSE
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),
        hole_section_counts AS (
            SELECT course_id, hole_number, section_number, COUNT(*) AS fixes
            FROM fact_telemetry_event
            WHERE course_id = '{_COURSE}'
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
    """,
    doc="Reference parity, the demo's J7 outlier-vs-max idiom at hole "
    "grain (run_telemetry_query('get_demo_hole_max_outlier')) — exact "
    "ints, positional GROUP BY both engines.",
)

q_telemetry_demo_unit_summary = Query(
    name="telemetry_demo_unit_summary",
    build=lambda spark, sf_dir: _bridged(
        spark, sf_dir, "get_demo_unit_summary", course_id=_COURSE
    ),
    # UNROUNDED decimal-exact averages: bit-identical doubles on both
    # engines (the bridge's integer-valued pace/pace_gap domains), so
    # every column hashes with no shim at all.
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            nine_number,
            {_dexact_avg("pace")} AS avg_pace_sec,
            {_dexact_avg("pace_gap")} AS avg_pace_gap_sec,
            COUNT(DISTINCT round_id) AS rounds,
            COUNT(*) AS fixes
        FROM fact_telemetry_event
        WHERE course_id = '{_COURSE}'
          AND nine_number IS NOT NULL
        GROUP BY nine_number
        ORDER BY nine_number
    """,
    doc="Reference parity, the demo per-nine unit summary "
    "(run_telemetry_query('get_demo_unit_summary')) — unrounded "
    "decimal-exact averages hash directly.",
)

q_telemetry_demo_loop_fatigue = Query(
    name="telemetry_demo_loop_fatigue",
    build=lambda spark, sf_dir: _bridged(
        spark, sf_dir, "get_demo_loop_fatigue", course_id=_COURSE, hole_number=_HOLE
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            nine_number,
            {_dexact_avg("pace")} AS avg_pace_sec,
            COUNT(*) AS fixes
        FROM fact_telemetry_event
        WHERE course_id = '{_COURSE}'
          AND hole_number = {_HOLE}
        GROUP BY nine_number
        ORDER BY nine_number
    """,
    doc="Reference parity, the demo loop-fatigue probe (same hole, "
    "first vs second nine; run_telemetry_query"
    "('get_demo_loop_fatigue')) — unrounded exact averages.  Reduced "
    "coverage on THIS bridge: nine_number is a pure function of "
    "hole_number (event_id % 18 < 9), so hole 5 only ever produces "
    "the nine-1 group — the text and its aggregate verify, the "
    "two-nine comparison itself is exercised by the pytest "
    "two-engine suite on the real telemetry fixtures.",
)

q_telemetry_demo_boundary_support = Query(
    name="telemetry_demo_boundary_support",
    build=lambda spark, sf_dir: _dim_bridged(
        spark, sf_dir, "get_demo_boundary_support", course_id=_COURSE
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),
        dim_facility_topology AS ({_DUCK_TOPOLOGY_FULL}),
        topo AS (
            SELECT facility_id, nine_number, section_start, section_end
            FROM dim_facility_topology
            WHERE facility_id = '{_COURSE}'
        ),
        counts AS (
            SELECT course_id, section_number, COUNT(*) AS fixes
            FROM fact_telemetry_event
            WHERE course_id = '{_COURSE}'
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
    """,
    doc="Reference parity, the J8 boundary-support join "
    "(run_telemetry_query('get_demo_boundary_support')): topology "
    "section boundaries vs fix support at each edge, over the full "
    "bridge topology — its first DRIVER row (previously pytest-only).",
)

q_telemetry_nine_loop_pace_comparison = Query(
    name="telemetry_nine_loop_pace_comparison",
    build=lambda spark, sf_dir: _bridged(
        spark, sf_dir, "get_nine_loop_pace_comparison", course_id=_COURSE
    ).drop("median_pace"),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            hole_number, nine_number,
            CASE
                WHEN nine_number = 1 THEN 'first_nine'
                WHEN nine_number = 2 THEN 'second_nine'
                ELSE 'nine_' || CAST(nine_number AS VARCHAR)
            END AS pass_number,
            COUNT(DISTINCT round_id) AS sample_rounds,
            COUNT(*) AS sample_events,
            {_duck_round(_dexact_avg("pace"), 1)} AS avg_pace,
            {_duck_round("MIN(pace)", 1)} AS min_pace,
            {_duck_round("MAX(pace)", 1)} AS max_pace,
            {_duck_round(_dexact_std("pace"), 1)} AS pace_stddev
        FROM fact_telemetry_event
        WHERE is_location_padding = FALSE
          AND course_id = '{_COURSE}'
          AND is_nine_hole = FALSE
          AND pace IS NOT NULL AND pace > 0 AND pace < 60
          AND hole_number IS NOT NULL AND nine_number IS NOT NULL
        GROUP BY hole_number, nine_number
        ORDER BY hole_number, nine_number
    """,
    doc="Reference parity, the loop-course first-vs-second-nine pace "
    "comparison (run_telemetry_query('get_nine_loop_pace_comparison')) "
    "— only the approx median shimmed.",
)

q_telemetry_course_topology_map_points = Query(
    name="telemetry_course_topology_map_points",
    build=lambda spark, sf_dir: _cast_cols(
        _bridged(
            spark, sf_dir, "get_course_topology_map_points", course_id=_COURSE
        ),
        "double",
        "projected_pct",
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            course_id, nine_number, hole_number, section_number,
            {_duck_round(_dexact_avg("latitude"), 6)} AS latitude,
            {_duck_round(_dexact_avg("longitude"), 6)} AS longitude,
            COUNT(*) AS event_count,
            CAST(SUM(CASE WHEN is_projected = TRUE THEN 1 ELSE 0 END)
                 AS BIGINT) AS projected_events,
            {_pct("is_projected = TRUE")} AS projected_pct
        FROM fact_telemetry_event
        WHERE is_location_padding = FALSE
          AND course_id = '{_COURSE}'
          AND latitude IS NOT NULL AND longitude IS NOT NULL
          AND nine_number IS NOT NULL AND hole_number IS NOT NULL
          AND section_number IS NOT NULL
        GROUP BY course_id, nine_number, hole_number, section_number
        ORDER BY nine_number, hole_number, section_number
    """,
    doc="Reference parity, the course map's section centroids "
    "(run_telemetry_query('get_course_topology_map_points')) — "
    "centroid coordinates through the 6-dp ROUND idiom, counts exact.",
)

q_telemetry_course_centroids = Query(
    name="telemetry_course_centroids",
    build=lambda spark, sf_dir: _bridged(spark, sf_dir, "course_centroids"),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE})
        SELECT
            course_id,
            {_duck_round(_dexact_avg("latitude"), 6)} AS latitude,
            {_duck_round(_dexact_avg("longitude"), 6)} AS longitude,
            COUNT(*) AS event_count,
            CAST(SUM(CASE WHEN is_projected = TRUE THEN 1 ELSE 0 END)
                 AS BIGINT) AS projected_events
        FROM fact_telemetry_event
        WHERE is_location_padding = FALSE
          AND latitude IS NOT NULL
          AND longitude IS NOT NULL
        GROUP BY course_id
        ORDER BY course_id
    """,
    doc="Reference parity, per-course GPS centroids "
    "(dashboard/utils/queries.py COURSE_CENTROIDS) — 6-dp coordinate "
    "averages through the ROUND idiom.",
)

q_telemetry_course_summary_with_profile = Query(
    name="telemetry_course_summary_with_profile",
    build=lambda spark, sf_dir: _dates_as_ntz(
        _dim_bridged(spark, sf_dir, "course_summary_with_profile"),
        "first_date",
        "last_date",
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),
        dim_course_profile AS ({_PROFILE_VIEW})
        SELECT
            cs.course_id,
            cs.round_count,
            cs.event_count,
            cs.real_events,
            CAST(cs.first_date AS TIMESTAMP) AS first_date,
            CAST(cs.last_date AS TIMESTAMP) AS last_date,
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
                CAST(SUM(CASE WHEN is_location_padding = FALSE THEN 1 ELSE 0 END)
                     AS BIGINT) AS real_events,
                MIN(event_date) AS first_date,
                MAX(event_date) AS last_date,
                CAST(DATE_DIFF('day', MIN(event_date), MAX(event_date)) AS INT) + 1
                    AS total_days,
                COUNT(DISTINCT CASE WHEN is_location_padding = FALSE
                                    THEN event_date END) AS playing_days,
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
    """,
    doc="Reference parity, course summary stitched with the profile "
    "seed (dashboard/utils/queries.py COURSE_SUMMARY_WITH_PROFILE): "
    "the G3 inference beside the curated profile, COALESCE precedence "
    "included — exact ints, strings, and date bounds.",
)

_CCE_PCTS = [
    ("pace_pct", "pace IS NOT NULL"),
    ("pace_gap_pct", "pace_gap IS NOT NULL"),
    ("positional_gap_pct", "positional_gap IS NOT NULL"),
    ("latitude_pct", "latitude IS NOT NULL"),
    ("longitude_pct", "longitude IS NOT NULL"),
    ("fix_timestamp_pct", "fix_timestamp IS NOT NULL"),
    ("hole_pct", "hole_number IS NOT NULL"),
    ("section_pct", "section_number IS NOT NULL"),
    ("location_index_pct", "location_index IS NOT NULL"),
    ("current_hole_pct", "current_hole IS NOT NULL"),
    ("current_hole_section_pct", "current_hole_section IS NOT NULL"),
    ("round_start_time_pct", "round_start_time IS NOT NULL"),
    ("round_end_time_pct", "round_end_time IS NOT NULL"),
    ("start_hole_pct", "start_hole IS NOT NULL"),
    ("start_section_pct", "start_section IS NOT NULL"),
    ("is_complete_pct", "is_complete IS NOT NULL"),
    ("goal_name_pct", "goal_name IS NOT NULL"),
    ("is_projected_pct", "is_projected IS NOT NULL"),
    ("is_problem_pct", "is_problem IS NOT NULL"),
    ("goal_time_pct", "goal_time IS NOT NULL"),
    ("end_section_pct", "end_section IS NOT NULL"),
    ("device_pct", "device IS NOT NULL"),
    ("battery_pct", "battery_percentage IS NOT NULL"),
]

q_telemetry_column_completeness_extended = Query(
    name="telemetry_column_completeness_extended",
    build=lambda spark, sf_dir: _cast_cols(
        _bridged(
            spark,
            sf_dir,
            "column_completeness_extended",
            fact_sql=_SPARK_BRIDGE_EXT2,
        ),
        "double",
        *[name for name, _ in _CCE_PCTS],
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE_EXT2})
        SELECT
            course_id,
            COUNT(*) AS total_events,
            {", ".join(f"{_pct(cond)} AS {name}" for name, cond in _CCE_PCTS)}
        FROM fact_telemetry_event
        WHERE is_location_padding = FALSE
        GROUP BY course_id
        ORDER BY course_id
    """,
    doc="Reference parity, the 23-column extended completeness scan "
    "(dashboard/utils/queries.py COLUMN_COMPLETENESS_EXTENDED) over "
    "the EXT2 bridge — every single-ratio pct hashes as a DOUBLE.",
)


QUERIES += [
    q_telemetry_pace_by_hole_course,
    q_telemetry_pace_by_section_course,
    q_telemetry_round_sample,
    q_telemetry_round_validation_course,
    q_telemetry_demo_hole_max_outlier,
    q_telemetry_demo_unit_summary,
    q_telemetry_demo_loop_fatigue,
    q_telemetry_demo_boundary_support,
    q_telemetry_nine_loop_pace_comparison,
    q_telemetry_course_topology_map_points,
    q_telemetry_course_centroids,
    q_telemetry_course_summary_with_profile,
    q_telemetry_column_completeness_extended,
]


# ---------------------------------------------------------------------------
# The last dashboard-library batch — the four remaining fixed texts, the
# all-courses faces of already-green per-course drill-downs, plus the
# appendix entry below.  With this block every library text is either
# driver-bridged (87/94) or skipped with a measured reason recorded in
# the ex_*, demo_* and get_* batch comments (7/94: structurally-empty matches,
# tie-arbitrary LIMIT cuts, and one data-dependent parameter).
# ---------------------------------------------------------------------------

q_telemetry_round_duration_details = Query(
    name="telemetry_round_duration_details",
    build=lambda spark, sf_dir: _dates_as_ntz(
        _bridged(spark, sf_dir, "round_duration_details"), "round_date"
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),
        round_stats AS (
            SELECT
                course_id,
                round_id,
                MAX(round_duration_minutes) AS duration_minutes,
                MAX(CAST(is_nine_hole AS INTEGER)) = 1 AS is_nine_hole,
                COUNT(DISTINCT hole_number) AS holes_visited,
                MIN(event_date) AS round_date
            FROM fact_telemetry_event
            WHERE is_location_padding = FALSE
            GROUP BY course_id, round_id
        )
        SELECT
            course_id,
            round_id,
            CAST(round_date AS TIMESTAMP) AS round_date,
            duration_minutes,
            is_nine_hole,
            holes_visited,
            CASE WHEN is_nine_hole THEN '9-hole' ELSE '18-hole' END AS round_type
        FROM round_stats
        WHERE duration_minutes IS NOT NULL
          AND duration_minutes > 0
          AND duration_minutes < 600
        ORDER BY course_id, round_date DESC
    """,
    doc="Reference parity, per-round duration details across ALL "
    "courses (dashboard/utils/queries.py ROUND_DURATION_DETAILS — the "
    "all-courses face of the green get_round_duration_for_course row) "
    "— integer-exact µs-derived durations.",
)

q_telemetry_round_nine_combinations = Query(
    name="telemetry_round_nine_combinations",
    build=lambda spark, sf_dir: _bridged(spark, sf_dir, "round_nine_combinations"),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE}),
        round_nines AS (
            SELECT
                course_id, round_id,
                list_sort(list(DISTINCT nine_number)) AS nines_array,
                COUNT(DISTINCT nine_number) AS nines_count,
                COUNT(DISTINCT hole_number) AS holes_played
            FROM fact_telemetry_event
            WHERE is_location_padding = FALSE
              AND nine_number IS NOT NULL
            GROUP BY course_id, round_id
        )
        SELECT
            course_id,
            array_to_string(nines_array, '+') AS nines_played,
            nines_count,
            CASE
                WHEN holes_played < 9 THEN '<9'
                WHEN holes_played = 9 THEN '9'
                WHEN holes_played = 18 THEN '18'
                WHEN holes_played = 27 THEN '27'
                WHEN holes_played > 27 THEN '>27'
                ELSE 'other (10-26)'
            END AS holes_played_bucket,
            COUNT(*) AS round_count
        FROM round_nines
        GROUP BY course_id, nines_array, nines_count, 4
        ORDER BY course_id, nines_count, nines_played
    """,
    doc="Reference parity, nine-combination census across ALL courses "
    "(ROUND_NINE_COMBINATIONS — the all-courses face of the green "
    "telemetry_nine_combinations row): SORT_ARRAY(COLLECT_SET) == "
    "DuckDB list_sort(list(DISTINCT)), arrays '+'-joined for transport.",
)

q_telemetry_round_validation = Query(
    name="telemetry_round_validation",
    build=lambda spark, sf_dir: _bridged(
        spark, sf_dir, "round_validation", fact_sql=_SPARK_BRIDGE_EXT
    ),
    oracle=_round_validation_oracle(""),
    doc="Reference parity, per-round validation across ALL courses "
    "(ROUND_VALIDATION — the all-courses face of "
    "telemetry_round_validation_course) over the extended bridge — "
    "all verdicts integer/boolean-exact.",
)

q_telemetry_rounds_by_month = Query(
    name="telemetry_rounds_by_month",
    build=lambda spark, sf_dir: _bridged(
        spark, sf_dir, "rounds_by_month", fact_sql=_SPARK_BRIDGE_EXT
    ),
    oracle=f"""
        WITH fact_telemetry_event AS ({_DUCK_BRIDGE_EXT})
        SELECT
            course_id,
            event_year,
            event_month,
            COUNT(DISTINCT round_id) AS round_count
        FROM fact_telemetry_event
        WHERE event_year IS NOT NULL
        GROUP BY course_id, event_year, event_month
        ORDER BY course_id, event_year, event_month
    """,
    doc="Reference parity, the dashboard's rounds-by-month "
    "distribution (ROUNDS_BY_MONTH — the library text, distinct from "
    "the gold_rounds_by_month MODEL row) over the extended bridge's "
    "date parts — exact ints.",
)


QUERIES += [
    q_telemetry_round_duration_details,
    q_telemetry_round_nine_combinations,
    q_telemetry_round_validation,
    q_telemetry_rounds_by_month,
]


# The last skip from the get_* census, un-skipped — the
# param-aware _expl_on_model made the model-reading parameterized
# wrapper trivial after all.  Same nine-collapse caveat as
# telemetry_demo_loop_fatigue (hole 5 -> nine 1 only on this bridge);
# the avg-of-avgs decimal cast (CAST(avg_pace_sec AS DECIMAL(28,10))
# over a non-integer double) is the one new exactness surface.
q_telemetry_check_loop_fatigue = Query(
    name="telemetry_check_loop_fatigue",
    build=lambda spark, sf_dir: _expl_on_model(
        spark,
        sf_dir,
        "fact_round_hole_performance",
        "get_check_loop_fatigue",
        course_id=_COURSE,
        hole_number=_HOLE,
    ),
    oracle=f"""
        SELECT
            nine_number,
            (CAST(SUM(CAST(avg_pace_sec AS DECIMAL(28,10))) AS DOUBLE)
             / COUNT(avg_pace_sec)) AS avg_pace_seconds,
            COUNT(*) AS rounds_sample_size
        FROM ({q_gold_hole_performance.oracle}) fact_round_hole_performance
        WHERE course_id = '{_COURSE}'
          AND hole_number = {_HOLE}
        GROUP BY nine_number
        ORDER BY nine_number
    """,
    doc="Reference parity, the loop-fatigue check read over the "
    "fact_round_hole_performance MODEL "
    "(run_telemetry_query('get_check_loop_fatigue')); oracle wraps the "
    "registered gold oracle's chain — with this row every "
    "parameterized library text that can run on this bridge has a "
    "driver-grade row.",
)

# With this append every bridgeable reference library text (87/94) is
# registered; the 7 skips remain the measured census in OPERATORS.md.
QUERIES += [q_telemetry_check_loop_fatigue]


# Two engine-extension entries live in their home modules but register
# through this list, and the rollup-combine pipelines for
# global_overview and dim_device close it.
from .events_ops import q_events_hopping_window
from ..training.queries import q_doc_source_token_diversity

QUERIES += [
    q_events_hopping_window,
    q_doc_source_token_diversity,
    q_gold_global_overview_rollup,
    q_gold_dim_device_rollup,
]
