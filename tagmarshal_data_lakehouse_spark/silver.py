"""Silver transform: raw round documents -> fix-grain fact_telemetry_event.

The reference's transform program (pipeline/silver/etl.py:282-623)
re-expressed as composable pure functions over DataFrames:

    normalize_rounds -> explode_locations -> derive_timestamps ->
    enrich_dates -> derive_nine_number -> finalize_flags ->
    dedup_fixes -> land_fixes (flag, persist, replace_partitions,
    quarantine)

Defining rule: NO DATA LOSS (SURVEY §7.4 trap 3).  Padding rows are kept
and flagged, NULL timestamps are kept and flagged, invalid coordinates
are quarantined (written elsewhere), never dropped.

Scale posture: every step is a narrow projection except the dedup window
(one shuffle on round_id — bounded partitions, a round has ≤ ~53 fixes)
and the topology join (broadcast; the dim is ≤ 4 rows per course).  The
fact table is partitioned (course_id, ingest_date, event_date):
course_id/event_date give downstream queries partition pruning, and
ingest_date makes the idempotent rewrite safe — dynamic partition
overwrite then only ever replaces the slice being re-ingested, matching
the reference's DELETE WHERE (course_id, ingest_date) + append contract
(etl.py:639-677).  Without ingest_date in the physical spec, a later
ingest touching the same event_date (late fixes, cross-midnight rounds,
the per-course NULL-event_date partition) would silently delete the
earlier ingest's rows.

The landing is one pass: `land_fixes` flags invalid coordinates,
persists the flagged rows and lets the fact write evaluate the
transform once, counting valid and invalid rows on the way; the
quarantine write reads the cached rows.  Plan building is cheap too:
each step builds its columns with one `withColumns`/`select` and at most
one schema fetch (each is a JVM round trip, and a chain of ~30
`withColumn` calls re-analyses a growing plan at every link).  The
cache holds one course-day, or one streaming micro-batch, and its
storage level spills to disk.  A JSON course-day refresh starts at most
7 Spark jobs (see `run_silver`).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .schemas import (
    COORD_BOUNDS,
    FACT_TELEMETRY_EVENT,
    NINE_1_MAX_SECTION,
    NINE_2_MAX_SECTION,
    NINE_3_MAX_SECTION,
)
from .sources.bronze import bracket_col, discover_location_indices, safe_col
from .storage import Lakehouse

# location struct fields: (source field, target name, cast, round3)
_LOC_FIELDS = [
    ("hole", "hole_number", "int", False),
    ("sectionNumber", "section_number", "int", False),
    ("holeSection", "hole_section", "int", False),
    ("startTime", "start_offset_seconds", "double", False),
    ("isProjected", "is_projected", "boolean", False),
    ("isProblem", "is_problem", "boolean", False),
    ("isCache", "is_cache", "boolean", False),
    ("paceGap", "pace_gap", "double", True),
    ("positionalGap", "positional_gap", "double", True),
    ("pace", "pace", "double", True),
    ("batteryPercentage", "battery_percentage", "double", False),
]

_ROUND_FIELDS = [
    ("startHole", "start_hole", "int"),
    ("startSection", "start_section", "int"),
    ("endSection", "end_section", "int"),
    ("isNineHole", "is_nine_hole", "boolean"),
    ("currentNine", "current_nine", "int"),
    ("goalTime", "goal_time", "int"),
    ("complete", "is_complete", "boolean"),
    ("device", "device", None),
    ("firstFix", "first_fix", None),
    ("lastFix", "last_fix", None),
    ("goalName", "goal_name", None),
    ("goalTimeFraction", "goal_time_fraction", "double"),
    ("isIncomplete", "is_incomplete", "boolean"),
    ("isSecondary", "is_secondary", "boolean"),
    ("isAutoAssigned", "is_auto_assigned", "boolean"),
    ("lastSectionStart", "last_section_start", "double"),
    ("currentSection", "current_section", "int"),
    ("currentHole", "current_hole", "int"),
    ("currentHoleSection", "current_hole_section", "int"),
]


def normalize_rounds(
    df: DataFrame, course_id: str | Column, ingest_date: str | Column
) -> DataFrame:
    """Round-level normalization: ids, timestamps, config casts
    (reference etl.py:247-308).

    course_id/ingest_date are scalar job arguments in the batch path
    (reference etl.py:283) but may be Columns (e.g. derived from the
    source file path) so a multi-ingest micro-batch can run ONE
    transform over every (course, date) slice at once instead of
    serializing per pair.
    """
    schema = df.schema
    cid = course_id if isinstance(course_id, Column) else F.lit(course_id)
    idate = ingest_date if isinstance(ingest_date, Column) else F.lit(ingest_date)
    cols = {
        # round_id from _id (string) or _id.$oid (Mongo)
        "round_id": safe_col(schema, "_id").cast("string"),
        "course_id": cid,
        "ingest_date": idate,
        "round_start_time": F.to_timestamp(safe_col(schema, "startTime")),
        "round_end_time": F.to_timestamp(safe_col(schema, "endTime")),
    }
    for src, dst, cast in _ROUND_FIELDS:
        col = safe_col(schema, src)
        cols[dst] = col.cast(cast) if cast else col
    return df.withColumns(cols)


def _loc_struct_json() -> Column:
    """Location struct from an exploded JSON `loc` element
    (reference etl.py:311-349)."""
    fields = [F.col("location_index")]
    for src, dst, cast, round3 in _LOC_FIELDS:
        c = F.col(f"loc.{src}").cast(cast)
        if round3:
            c = F.round(c, 3)
        fields.append(c.alias(dst))
    fields.append(F.lit(None).cast("string").alias("fix_time_iso"))
    fields.append(F.col("loc.fixCoordinates").getItem(0).cast("double").alias("longitude"))
    fields.append(F.col("loc.fixCoordinates").getItem(1).cast("double").alias("latitude"))
    return F.struct(*fields)


def _loc_struct_csv(columns: set[str], i: int) -> Column:
    """Location struct for CSV slot i of a frame with `columns`; absent
    columns become NULL (reference etl.py:353-384)."""

    def get(suffix: str) -> Column:
        name = f"locations[{i}].{suffix}"
        return bracket_col(name) if name in columns else F.lit(None)

    fields = [F.lit(i).alias("location_index")]
    for src, dst, cast, round3 in _LOC_FIELDS:
        c = get(src).cast(cast)
        if round3:
            c = F.round(c, 3)
        fields.append(c.alias(dst))
    # CSV carries an ISO fix time in `locations[N].date` (etl.py:366-367)
    fields.append(get("date").cast("string").alias("fix_time_iso"))
    fields.append(get("fixCoordinates[0]").cast("double").alias("longitude"))
    fields.append(get("fixCoordinates[1]").cast("double").alias("latitude"))
    return F.struct(*fields)


def explode_locations(df: DataFrame, raw: DataFrame, fmt: str) -> DataFrame:
    """Long format: one row per (round, location slot).

    JSON: posexplode of the nested array.  CSV: build array<struct> over
    the discovered slots and explode — padding slots (all-NULL) are
    preserved (no-data-loss rule).
    """
    if fmt == "json":
        exploded = (
            df.select("*", F.posexplode("locations").alias("location_index", "loc"))
            .withColumn("location", _loc_struct_json())
            .drop("locations", "loc", "location_index")
        )
    else:
        columns = raw.columns
        idxs = discover_location_indices(columns)
        if not idxs:
            raise ValueError("no locations[i].startTime columns in CSV input")
        present = set(columns)
        structs = [_loc_struct_csv(present, i) for i in idxs]
        exploded = df.withColumn("location", F.explode(F.array(*structs)))
    return exploded


def derive_timestamps(df: DataFrame) -> DataFrame:
    """fix_timestamp = coalesce(ISO fix time, round_start + offset)
    (reference etl.py:390-396); keep NULLs (flagged later)."""
    fix_ts = F.coalesce(
        F.to_timestamp(F.col("location.fix_time_iso")),
        F.from_unixtime(
            F.col("round_start_time").cast("double") + F.col("location.start_offset_seconds")
        ).cast("timestamp"),
    )
    padding = (
        F.col("location.hole_number").isNull() & F.col("location.section_number").isNull()
    )
    return (
        df.select(
            "round_id",
            "course_id",
            "ingest_date",
            fix_ts.alias("fix_timestamp"),
            padding.alias("is_location_padding"),
            "round_start_time",
            "round_end_time",
            *[dst for _, dst, _ in _ROUND_FIELDS],
            F.col("location.location_index").alias("location_index"),
            F.col("location.hole_number").alias("hole_number"),
            F.col("location.section_number").alias("section_number"),
            F.col("location.hole_section").alias("hole_section"),
            F.col("location.longitude").alias("longitude"),
            F.col("location.latitude").alias("latitude"),
            F.col("location.is_cache").alias("is_cache"),
            F.col("location.is_projected").alias("is_projected"),
            F.col("location.is_problem").alias("is_problem"),
            F.col("location.pace_gap").alias("pace_gap"),
            F.col("location.positional_gap").alias("positional_gap"),
            F.col("location.pace").alias("pace"),
            F.col("location.battery_percentage").alias("battery_percentage"),
        )
        .withColumn("event_date", F.to_date("fix_timestamp"))
    )


def enrich_dates(df: DataFrame) -> DataFrame:
    """Round duration + date parts (reference etl.py:451-474).
    event_weekday keeps the Spark 1=Sunday convention in silver; gold
    converts to ISO explicitly (functions.iso_dayofweek)."""
    duration = F.when(
        F.col("round_start_time").isNotNull() & F.col("round_end_time").isNotNull(),
        F.round(
            (F.unix_timestamp("round_end_time") - F.unix_timestamp("round_start_time")) / 60.0,
            2,
        ),
    )
    return df.withColumns(
        {
            "round_duration_minutes": duration,
            "event_year": F.year("fix_timestamp"),
            "event_month": F.month("fix_timestamp"),
            "event_day": F.dayofmonth("fix_timestamp"),
            "event_weekday": F.dayofweek("fix_timestamp"),
        }
    )


def derive_nine_number(df: DataFrame, topology: DataFrame | None) -> DataFrame:
    """nine_number: topology range join with fallbacks
    (reference etl.py:479-551; SURVEY §1.5).

    Priority with topology: topo -> hole band -> section band.
    Without topology: current_nine -> hole band -> section band.
    The topology join is a broadcast left range join — the non-equi
    BETWEEN prevents a hash join, so Catalyst plans BNLJ over the
    broadcast dim; correct for a ≤4-rows-per-course dimension.
    """
    nine_from_hole = F.when(F.col("hole_number") >= 10, F.lit(2)).when(
        F.col("hole_number").isNotNull(), F.lit(1)
    )
    nine_from_section = (
        F.when(F.col("section_number") <= NINE_1_MAX_SECTION, F.lit(1))
        .when(F.col("section_number") <= NINE_2_MAX_SECTION, F.lit(2))
        .when(F.col("section_number") <= NINE_3_MAX_SECTION, F.lit(3))
        .otherwise(F.lit(1))
    )
    if topology is None:
        return df.withColumn(
            "nine_number",
            F.coalesce(F.col("current_nine"), nine_from_hole, nine_from_section),
        )
    topo = topology.select(
        F.col("facility_id"),
        F.col("section_start").cast("int"),
        F.col("section_end").cast("int"),
        F.col("nine_number").cast("int").alias("nine_number_topo"),
    )
    joined = df.join(
        F.broadcast(topo),
        (F.col("course_id") == F.col("facility_id"))
        & (F.col("section_number") >= F.col("section_start"))
        & (F.col("section_number") <= F.col("section_end")),
        "left",
    ).drop("facility_id", "section_start", "section_end")
    return joined.withColumn(
        "nine_number",
        F.coalesce(F.col("nine_number_topo"), nine_from_hole, nine_from_section),
    ).drop("nine_number_topo")


def finalize_flags(df: DataFrame) -> DataFrame:
    """geometry_wkt + is_timestamp_missing (reference etl.py:554-569).
    Invariant (tested downstream): is_timestamp_missing = (fix_timestamp
    IS NULL)."""
    wkt = F.when(
        F.col("longitude").isNotNull() & F.col("latitude").isNotNull(),
        F.concat(
            F.lit("POINT("),
            F.col("longitude").cast("string"),
            F.lit(" "),
            F.col("latitude").cast("string"),
            F.lit(")"),
        ),
    )
    return df.withColumns(
        {"geometry_wkt": wkt, "is_timestamp_missing": F.col("fix_timestamp").isNull()}
    )


def dedup_fixes(df: DataFrame) -> DataFrame:
    """Business-preference dedup (reference etl.py:572-586; SURVEY §7.4
    trap 4): per (round_id, fix_timestamp, location_index) keep the
    cached, non-projected, highest-battery record.  location_index in
    the partition key stops NULL-timestamp rows from collapsing.
    Ordered window, NOT dropDuplicates — the order IS the contract.

    course_id/ingest_date lead the partition key when present: constant
    within a single ingest (so identical there to the reference's key),
    they scope a multi-ingest batch (streaming micro-batch spanning
    several (course, date) slices) so a round re-exported under two
    ingest dates dedups within each slice, never across — matching the
    per-(course_id, ingest_date) idempotent-rewrite grain.  (Absent on
    bare fix-grain frames in unit tests — then the key is exactly the
    reference's.)"""
    scope = [c for c in ("course_id", "ingest_date") if c in df.columns]
    w = W.partitionBy(*scope, "round_id", "fix_timestamp", "location_index").orderBy(
        F.col("is_cache").desc_nulls_last(),
        F.col("is_projected").asc_nulls_last(),
        F.col("battery_percentage").desc_nulls_last(),
    )
    return (
        df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )


def _invalid_coordinates() -> Column:
    """Coordinate sanity predicate (reference etl.py:590-608): true for
    out-of-range values only.  NULL coordinates are VALID (padding and
    missing fixes are preserved), and the predicate itself is never
    NULL, so it splits every row to exactly one side."""
    b = COORD_BOUNDS
    return (
        F.col("longitude").isNotNull()
        & ((F.col("longitude") < b["lon_min"]) | (F.col("longitude") > b["lon_max"]))
    ) | (
        F.col("latitude").isNotNull()
        & ((F.col("latitude") < b["lat_min"]) | (F.col("latitude") > b["lat_max"]))
    )


def split_coordinates(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid, quarantined) by coordinate sanity bounds
    (`_invalid_coordinates`)."""
    flagged = df.withColumn("_invalid", _invalid_coordinates())
    return (
        flagged.filter(~F.col("_invalid")).drop("_invalid"),
        flagged.filter(F.col("_invalid")).drop("_invalid"),
    )


def transform_rounds(
    raw: DataFrame,
    fmt: str,
    course_id: str | Column,
    ingest_date: str | Column,
    topology: DataFrame | None,
) -> DataFrame:
    """Full bronze->silver transform, pre-write (pure; unit-testable)."""
    df = normalize_rounds(raw, course_id, ingest_date)
    df = explode_locations(df, raw, fmt)
    df = derive_timestamps(df)
    df = enrich_dates(df)
    df = derive_nine_number(df, topology)
    df = finalize_flags(df)
    return dedup_fixes(df)


FACT_PARTITIONS = ["course_id", "ingest_date", "event_date"]


@dataclass
class SilverResult:
    rows_valid: int
    rows_quarantined: int
    table: str


def land_fixes(
    lake: Lakehouse, transformed: DataFrame, table: str, quarantine_table: str
) -> tuple[int, int]:
    """Land transformed fixes in one pass; returns (valid, quarantined).

    The transform (parse, explode, dedup shuffle) runs once.  The rows
    are flagged with `_invalid_coordinates` and persisted; the fact
    write is the one action that evaluates them, filling the cache and
    an Observation that counts all rows and invalid rows on the way (the
    reference counts during its write too, etl.py:688-703).  The
    quarantine table is then overwritten from the cached rows, only
    when a row is invalid.  The fact write is the idempotent partition
    rewrite: ingest_date in the partition spec scopes it to the
    reference's (course_id, ingest_date) key (see module docstring).
    The cache is released on every way out, failed writes included.
    """
    obs = Observation()
    flagged = (
        transformed.withColumn("_invalid", _invalid_coordinates())
        .observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("_invalid")).alias("n_invalid"),
        )
        .persist()
    )
    try:
        lake.replace_partitions(
            table,
            lake.align_to_schema(flagged.filter(~F.col("_invalid")), FACT_TELEMETRY_EVENT),
            FACT_PARTITIONS,
        )
        counts = obs.get
        n_invalid = int(counts["n_invalid"])
        if n_invalid:
            lake.write_partitioned(
                quarantine_table,
                lake.align_to_schema(flagged.filter(F.col("_invalid")), FACT_TELEMETRY_EVENT),
                ["course_id", "ingest_date"],
                mode="overwrite",
            )
    finally:
        flagged.unpersist()
    return int(counts["n"]) - n_invalid, n_invalid


def run_silver(
    spark: SparkSession,
    lake: Lakehouse,
    input_path: str,
    course_id: str,
    ingest_date: str,
    run_id: str = "run",
    table: str = "silver.fact_telemetry_event",
) -> SilverResult:
    """End-to-end silver ingest of one course-day with idempotent
    partition rewrite and quarantine sink (reference etl.py:619-703
    compressed into `land_fixes`).

    One pass: the bronze files are listed without a Spark job, parsed
    once (one schema-inference job for JSON, one header job per CSV
    file), and the transform is evaluated once by `land_fixes`.  A JSON
    course-day starts at most 7 Spark jobs: schema inference (1); the
    dedup shuffle, the cache fill, the write shuffle and the write of
    the fact (4); the write shuffle and the write of the quarantine
    table, only when a row is invalid (2).  The counts come from that
    one pass, never from a re-read of the written tables."""
    from .sources.bronze import read_rounds

    raw, fmt = read_rounds(spark, input_path)
    topology = lake.read("silver.dim_facility_topology") if lake.exists("silver.dim_facility_topology") else None
    transformed = transform_rounds(raw, fmt, course_id, ingest_date, topology)
    n_valid, n_invalid = land_fixes(lake, transformed, table, f"quarantine.{run_id}")

    # Per-run observability document (reference etl.py:688-703 field
    # names), landed beside the tables so the run history is itself a
    # spark.read.json-able table.
    from .observability import write_run_summary

    write_run_summary(
        os.path.join(lake.root, "observability"),
        "silver",
        run_id,
        {
            "course_id": course_id,
            "ingest_date": ingest_date,
            "landing_uri": input_path,
            "valid_count": n_valid,
            "invalid_count": n_invalid,
            "table": table,
        },
    )
    return SilverResult(rows_valid=n_valid, rows_quarantined=n_invalid, table=table)
