"""Per-course partial aggregates behind the corpus-GLOBAL gold models.

Two gold models have no `course_id` column (reference
pipeline/gold/models/global_overview.sql and dim_device.sql), so a
by-course refresh cannot rewrite a slice of them.  Both are built from
mergeable partials instead, and each is written once:

- `PARTIALS`: four SQL texts over `fact_telemetry_event`, each grouped
  by `course_id` (plus a finer key where a plain per-course count would
  not merge);
- each global model's `combine` (gold/models.py): one SQL text over the
  partial names.

The full build runs `WITH <partials as CTEs> <combine>` over the fact
(`with_partials`).  `incremental_update` lands the same partial texts
as `gold._rollup_*` tables, registers them as views under the CTE
names, and runs the same combine, so a refresh reads O(new data) from
the fact and O(rollup) from the partials, never the whole corpus.

Partials (each rollup table is partitioned by `course_id`):

- `rollup_overview_course`: the row counts and tallies, first/last fix
  timestamps, and the pace-gap `SUM(CAST(x AS DECIMAL(28,10)))` with
  its `COUNT(x)`.  The combine divides `CAST(SUM(sum) AS DOUBLE) /
  SUM(count)`, which is `telemetry.exact_avg` over the whole fact: the
  decimal sums add exactly, whatever the grouping.
- `rollup_overview_round`: per-round flags behind the distinct round
  counts.  Round grain, because a round_id may appear under several
  courses and distinct counts do not add.
- `rollup_overview_pace`: a value histogram of non-padding pace gaps;
  the combine takes the exact nearest-rank median (the smallest value
  whose cumulative count reaches CEIL(N / 2)).
- `rollup_device`: (course, device) grain, for dim_device and for
  global_overview's distinct_devices.  It has no course predicate, like
  the reference dim_device; global_overview counts only the rows with a
  non-NULL course_id.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

PARTIALS = {
    "rollup_overview_course": """
SELECT course_id,
    COUNT(*) AS total_rows,
    SUM(CASE WHEN is_location_padding THEN 1 ELSE 0 END) AS padding_rows,
    SUM(CASE WHEN NOT is_location_padding THEN 1 ELSE 0 END) AS non_padding_rows,
    SUM(CASE WHEN is_timestamp_missing THEN 1 ELSE 0 END) AS ts_missing_rows,
    SUM(CASE WHEN is_timestamp_missing AND NOT is_location_padding THEN 1 ELSE 0 END) AS ts_missing_non_padding_rows,
    SUM(CASE WHEN NOT is_location_padding AND is_problem THEN 1 ELSE 0 END) AS problem_rows,
    MIN(fix_timestamp) AS first_fix_ts,
    MAX(fix_timestamp) AS last_fix_ts,
    SUM(CAST(pace_gap AS DECIMAL(28,10))) FILTER (WHERE NOT is_location_padding) AS pace_gap_np_sum,
    COUNT(pace_gap) FILTER (WHERE NOT is_location_padding) AS pace_gap_np_cnt
FROM fact_telemetry_event WHERE course_id IS NOT NULL
GROUP BY course_id
""",
    "rollup_overview_round": """
SELECT course_id, round_id,
    BOOL_OR(NOT is_location_padding) AS any_non_padding,
    BOOL_OR(NOT is_location_padding AND COALESCE(is_complete, FALSE)) AS complete_np,
    BOOL_OR(NOT is_location_padding AND COALESCE(is_nine_hole, FALSE)) AS nine_hole_np,
    BOOL_OR(NOT is_location_padding AND COALESCE(is_secondary, FALSE)) AS secondary_np,
    BOOL_OR(NOT is_location_padding AND COALESCE(is_auto_assigned, FALSE)) AS auto_assigned_np
FROM fact_telemetry_event WHERE course_id IS NOT NULL
GROUP BY course_id, round_id
""",
    "rollup_overview_pace": """
SELECT course_id, pace_gap, COUNT(*) AS n
FROM fact_telemetry_event
WHERE course_id IS NOT NULL AND NOT is_location_padding AND pace_gap IS NOT NULL
GROUP BY course_id, pace_gap
""",
    "rollup_device": """
SELECT course_id, device AS device_id,
    COUNT(*) AS total_rows,
    MIN(fix_timestamp) AS first_seen_ts,
    MAX(fix_timestamp) AS last_seen_ts,
    SUM(CASE WHEN is_timestamp_missing THEN 1 ELSE 0 END) AS ts_missing_rows,
    MIN(battery_percentage) AS min_battery_pct,
    MAX(battery_percentage) AS max_battery_pct,
    SUM(CAST(battery_percentage AS DECIMAL(28,10))) AS battery_sum,
    COUNT(battery_percentage) AS battery_cnt
FROM fact_telemetry_event WHERE device IS NOT NULL
GROUP BY course_id, device
""",
}

ROLLUP_TABLES = tuple(f"gold._{name}" for name in PARTIALS)

# The fact columns the partials read.  Persisting this projection makes
# a seed ONE corpus scan (the first partial fills the cache, the other
# three read it back), not one per rollup table.
_PARTIAL_COLUMNS = (
    "course_id", "round_id", "device", "fix_timestamp",
    "is_timestamp_missing", "is_location_padding", "is_problem",
    "is_complete", "is_nine_hole", "is_secondary", "is_auto_assigned",
    "pace_gap", "battery_percentage",
)


def with_partials(combine: str) -> str:
    """The full-build text of a global model: the partials its combine
    reads, inlined as CTEs over `fact_telemetry_event`."""
    ctes = ",\n".join(
        f"{name} AS ({sql})"
        for name, sql in PARTIALS.items()
        if re.search(rf"\b{name}\b", combine)
    )
    return f"WITH {ctes}\n{combine}"


def refresh_rollups(spark: SparkSession, lake, fact, course_ids) -> None:
    """Land the partials for `course_ids` (every course when None) and
    register the rollup tables as views under the partial names.

    A partition is always rebuilt from the current fact slice, never
    delta-merged, so replays and crashes cannot double-count.  A
    refreshed course whose partial for one table came out EMPTY gets
    that table's partition dropped: dynamic partition overwrite cannot
    rewrite a partition absent from the written frame, and a course can
    still have rows while its re-ingested rows are all padding (empty
    pace partial) or all device-NULL (empty device partial), so presence
    is judged per table.  With `course_ids=None`, or when any rollup
    table is missing, every table is re-seeded from the whole fact.

    The partials read the fact through the `fact_telemetry_event` view,
    which this call re-points at the persisted projection of the slice.
    """
    from pyspark import StorageLevel

    seeding = course_ids is None or any(not lake.exists(t) for t in ROLLUP_TABLES)
    src = fact if seeding else fact.filter(F.col("course_id").isin(course_ids))
    src = src.select(*_PARTIAL_COLUMNS).persist(StorageLevel.MEMORY_AND_DISK)
    src.createOrReplaceTempView("fact_telemetry_event")
    try:
        for name, sql in PARTIALS.items():
            table = f"gold._{name}"
            df = spark.sql(sql)
            if seeding:
                lake.overwrite(table, df, partition_by=["course_id"])
                continue
            # Persist the (tiny) partial so the presence collect reuses
            # the aggregation the write just computed.
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            try:
                lake.replace_partitions(table, df, ["course_id"])
                present = {r["course_id"] for r in df.select("course_id").distinct().collect()}
            finally:
                df.unpersist()
            vanished = [c for c in course_ids if c not in present]
            if vanished:
                lake.drop_partitions(table, "course_id", vanished)
    finally:
        src.unpersist()
    for name in PARTIALS:
        lake.read(f"gold._{name}").createOrReplaceTempView(name)
