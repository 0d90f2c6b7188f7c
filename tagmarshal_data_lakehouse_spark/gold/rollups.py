"""Incrementally-maintained partial-aggregate rollups for the
corpus-GLOBAL gold models.

`incremental_update` (gold/models.py) rebuilds course-partitioned
models from pruned partitions — measured flat across 16x corpus growth
(SCALE.md) — but two models have no `course_id` column and, before
this module, rebuilt from a column-pruned FULL fact scan on every
one-course-day refresh:

- ``global_overview``  (one corpus-wide row;   reference
  pipeline/gold/models/global_overview.sql)
- ``dim_device``       (device-grain dimension; reference
  pipeline/gold/models/dim_device.sql)

At 100 TB that full scan dominates the refresh.  Both models are
combinable aggregates, so we maintain per-course partial state and
derive the global rows by combining partials — O(new data) to refresh,
O(rollup) to combine, never O(corpus).

Rollup tables (all partitioned by ``course_id`` and refreshed with the
same idempotent ``replace_partitions`` the course models use — a
partition is always REBUILT from the current fact slice, never
delta-merged, so replays and crashes cannot double-count):

- ``gold._rollup_overview_course``  — course grain: the row-level sums
  (counts, padding/problem/ts-missing tallies, MIN/MAX fix timestamps,
  exact DECIMAL pace-gap sum + count for the global average).
- ``gold._rollup_overview_round``   — (course_id, round_id) grain: the
  per-round flags behind global_overview's COUNT(DISTINCT CASE ...)
  round counts.  Round grain (not per-course distinct counts) because
  a round_id may appear under several courses (the test fixtures do
  exactly that), and distinct counts do not merge; the rollup is
  O(rounds), orders of magnitude smaller than the fix-grain fact.
- ``gold._rollup_overview_pace``    — (course_id, pace_gap) grain
  value histogram of non-padding pace gaps: the mergeable state behind
  the global median (see below).
- ``gold._rollup_device``           — (course_id, device_id) grain:
  partials for dim_device AND global_overview's distinct_devices.
  Device grain because one device serves many courses, so per-course
  distinct-device counts do not merge either.

Median semantics (the one non-trivially-combinable aggregate): the
full build computes ``PERCENTILE_APPROX(pace_gap, 0.5)`` (Spark's
GK-sketch, default accuracy 10000, which returns an actual data
value).  The combined path computes the EXACT nearest-rank median from
the value histogram — the value at 1-based rank ``CEIL(0.5 * N)`` —
which is bit-identical to percentile_approx whenever the sketch is in
its exact (all-samples-retained) regime, i.e. row count <= accuracy
(verified empirically across n = 4..1000 and pinned in tests).  Past
that, percentile_approx is approximate within its rank-error bound
while the combined value stays exact — the incremental path is never
worse.  The histogram's cardinality is bounded by the number of
DISTINCT pace_gap values (device pace gaps are reported at fixed
resolution; fixture and testdata corpora measure in the hundreds);
its combine is a single small shuffle.

Float caveat: the full build's AVG() sums doubles in partition order;
the combined average divides an exact DECIMAL(38,12) sum.  Integer-
valued inputs (battery percentages) match exactly; fractional doubles
can differ in the last ~1e-12 relative — pinned with a tolerance in
tests/test_gold_incremental.py, exact for every other column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ROLLUP_TABLES = (
    "gold._rollup_overview_course",
    "gold._rollup_overview_round",
    "gold._rollup_overview_pace",
    "gold._rollup_device",
)


def rollup_partials(fact: DataFrame) -> dict[str, DataFrame]:
    """Per-course partial aggregates from a fact slice.

    The slice may be the full fact (seeding) or the refreshed courses
    only (steady state); either way each course's partition is built
    from scratch, so writing with replace_partitions keeps the rollup
    exactly consistent with the fact for every refreshed course.
    """
    np_ = ~F.col("is_location_padding")
    base = fact.filter(F.col("course_id").isNotNull())

    course = base.groupBy("course_id").agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.sum(F.when(F.col("is_location_padding"), 1).otherwise(0)).alias("padding_rows"),
        F.sum(F.when(np_, 1).otherwise(0)).alias("non_padding_rows"),
        F.sum(F.when(F.col("is_timestamp_missing"), 1).otherwise(0)).alias("ts_missing_rows"),
        F.sum(
            F.when(F.col("is_timestamp_missing") & np_, 1).otherwise(0)
        ).alias("ts_missing_non_padding_rows"),
        F.sum(F.when(np_ & F.col("is_problem"), 1).otherwise(0)).alias("problem_rows"),
        F.min("fix_timestamp").alias("first_fix_ts"),
        F.max("fix_timestamp").alias("last_fix_ts"),
        # exact decimal sum: merge-order independent (the dsum discipline)
        F.sum(F.when(np_, F.col("pace_gap")).cast("decimal(38,12)")).alias("pace_gap_np_sum"),
        F.count(F.when(np_, F.col("pace_gap"))).alias("pace_gap_np_cnt"),
    )

    rounds = base.groupBy("course_id", "round_id").agg(
        F.max(np_).alias("any_non_padding"),
        F.max(np_ & F.coalesce(F.col("is_complete"), F.lit(False))).alias("complete_np"),
        F.max(np_ & F.coalesce(F.col("is_nine_hole"), F.lit(False))).alias("nine_hole_np"),
        F.max(np_ & F.coalesce(F.col("is_secondary"), F.lit(False))).alias("secondary_np"),
        F.max(np_ & F.coalesce(F.col("is_auto_assigned"), F.lit(False))).alias(
            "auto_assigned_np"
        ),
    )

    pace = (
        base.filter(np_ & F.col("pace_gap").isNotNull())
        .groupBy("course_id", "pace_gap")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )

    # dim_device filters device IS NOT NULL but NOT course IS NOT NULL
    # (reference dim_device.sql has no course predicate); silver tags
    # course_id from a literal so NULL-course rows do not occur in
    # practice — a NULL-course group would land in the default
    # partition and simply never be refreshed by a by-course refresh.
    device = (
        fact.filter(F.col("device").isNotNull())
        .groupBy("course_id", F.col("device").alias("device_id"))
        .agg(
            F.count(F.lit(1)).alias("total_rows"),
            F.min("fix_timestamp").alias("first_seen_ts"),
            F.max("fix_timestamp").alias("last_seen_ts"),
            F.sum(F.when(F.col("is_timestamp_missing"), 1).otherwise(0)).alias(
                "ts_missing_rows"
            ),
            F.min("battery_percentage").alias("min_battery_pct"),
            F.max("battery_percentage").alias("max_battery_pct"),
            F.sum(F.col("battery_percentage").cast("decimal(38,12)")).alias("battery_sum"),
            F.count("battery_percentage").alias("battery_cnt"),
        )
    )

    return {
        "gold._rollup_overview_course": course,
        "gold._rollup_overview_round": rounds,
        "gold._rollup_overview_pace": pace,
        "gold._rollup_device": device,
    }


# Pruned projection shared by all four partial aggregates: persisting
# it makes the seed cost ONE corpus scan (the first aggregate fills the
# cache, the other three read it back), not one per rollup table.
_PARTIAL_COLUMNS = (
    "course_id", "round_id", "device", "fix_timestamp",
    "is_timestamp_missing", "is_location_padding", "is_problem",
    "is_complete", "is_nine_hole", "is_secondary", "is_auto_assigned",
    "pace_gap", "battery_percentage",
)


def refresh_rollups(spark: SparkSession, lake, fact_full, fact_inc, course_ids) -> None:
    """Bring the rollup tables up to date for a refresh.

    Steady state rebuilds only the refreshed courses' partitions from
    `fact_inc` (O(new data)); a refreshed course whose partial for a
    given rollup table came out EMPTY gets that table's partition
    DROPPED — dynamic partition overwrite cannot rewrite a partition
    absent from the written frame, so without the explicit drop the
    global models would keep counting retracted data forever.  Presence
    is judged PER TABLE from each partial's own distinct course set,
    not from overall row presence in the slice: a course can still have
    rows (so it is "present" overall) while its re-ingested rows are
    all padding (empty _rollup_overview_pace partial) or all
    device-NULL (empty _rollup_device partial) — a single global
    present-set would leave those tables' stale partitions behind and
    the global median / distinct_devices would keep counting retracted
    data.  If any rollup table is missing the whole set is seeded from
    `fact_full` — one full scan (the pruned projection is persisted
    across the four partial writes, spilling to disk rather than
    re-reading the corpus), paid once per deployment, after which no
    refresh ever rescans the corpus.
    """
    from pyspark import StorageLevel

    seeding = any(not lake.exists(t) for t in ROLLUP_TABLES)
    src = (fact_full if seeding else fact_inc).select(*_PARTIAL_COLUMNS)
    src = src.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        partials = rollup_partials(src)
        if seeding:
            for table, df in partials.items():
                lake.overwrite(table, df, partition_by=["course_id"])
        else:
            for table, df in partials.items():
                # Persist the (tiny) partial so the presence collect
                # reuses the aggregation the write just computed.
                df = df.persist(StorageLevel.MEMORY_AND_DISK)
                try:
                    lake.replace_partitions(table, df, ["course_id"])
                    present = {
                        r["course_id"]
                        for r in df.select("course_id").distinct().collect()
                    }
                finally:
                    df.unpersist()
                vanished = [c for c in course_ids if c not in present]
                if vanished:
                    lake.drop_partitions(table, "course_id", vanished)
    finally:
        src.unpersist()


def combine_global_overview(spark: SparkSession, lake) -> DataFrame:
    """Derive the one-row global_overview from the rollups — no fact
    scan.  The final SELECT is the model's own text (gold/models.py
    GLOBAL_OVERVIEW), so the derived-percentage expressions type and
    round identically; only the `agg` CTE is re-sourced from partials.
    """
    for table in ROLLUP_TABLES:
        lake.read(table).createOrReplaceTempView(table.replace("gold.", "rt_"))
    return spark.sql(
        """
WITH c AS (
    SELECT
        SUM(total_rows) AS total_rows,
        SUM(padding_rows) AS padding_rows,
        SUM(non_padding_rows) AS non_padding_rows,
        COUNT(*) AS courses,
        SUM(ts_missing_rows) AS ts_missing_rows,
        SUM(ts_missing_non_padding_rows) AS ts_missing_non_padding_rows,
        SUM(problem_rows) AS problem_rows,
        MIN(first_fix_ts) AS first_fix_ts,
        MAX(last_fix_ts) AS last_fix_ts,
        CAST(SUM(pace_gap_np_sum) / SUM(pace_gap_np_cnt) AS DOUBLE) AS avg_pace_gap_sec
    FROM rt__rollup_overview_course
),
r AS (
    SELECT
        COUNT(DISTINCT round_id) AS distinct_rounds_all,
        COUNT(DISTINCT CASE WHEN any_non_padding THEN round_id END) AS distinct_rounds_non_padding,
        COUNT(DISTINCT CASE WHEN complete_np THEN round_id END) AS complete_rounds,
        COUNT(DISTINCT CASE WHEN nine_hole_np THEN round_id END) AS nine_hole_rounds,
        COUNT(DISTINCT CASE WHEN secondary_np THEN round_id END) AS secondary_rounds,
        COUNT(DISTINCT CASE WHEN auto_assigned_np THEN round_id END) AS auto_assigned_rounds
    FROM rt__rollup_overview_round
),
d AS (
    SELECT COUNT(DISTINCT device_id) AS distinct_devices
    FROM rt__rollup_device WHERE course_id IS NOT NULL
),
hist AS (
    SELECT pace_gap, SUM(n) AS n FROM rt__rollup_overview_pace GROUP BY pace_gap
),
ranked AS (
    SELECT pace_gap,
           SUM(n) OVER (ORDER BY pace_gap) AS cum,
           SUM(n) OVER () AS total
    FROM hist
),
p AS (
    -- exact nearest-rank median: the value at 1-based rank
    -- CEIL(0.5 * N); bit-identical to PERCENTILE_APPROX(.., 0.5) in
    -- its exact regime (see module docstring)
    SELECT MIN(pace_gap) AS median_pace_gap_sec
    FROM ranked WHERE cum >= CEIL(0.5 * total)
),
agg AS (
    SELECT c.*, r.*, d.*, p.* FROM c CROSS JOIN r CROSS JOIN d CROSS JOIN p
)
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
FROM agg
"""
    )


def combine_dim_device(spark: SparkSession, lake) -> DataFrame:
    """Derive dim_device by merging the (course, device) partials up to
    device grain — COUNT(DISTINCT course_id) merges because the rollup
    keeps course grain, not a per-course count."""
    lake.read("gold._rollup_device").createOrReplaceTempView("rt__rollup_device")
    return spark.sql(
        """
SELECT device_id,
       SUM(total_rows) AS total_rows,
       COUNT(DISTINCT course_id) AS courses_seen,
       MIN(first_seen_ts) AS first_seen_ts,
       MAX(last_seen_ts) AS last_seen_ts,
       SUM(ts_missing_rows) AS ts_missing_rows,
       MIN(min_battery_pct) AS min_battery_pct,
       MAX(max_battery_pct) AS max_battery_pct,
       CAST(SUM(battery_sum) / SUM(battery_cnt) AS DOUBLE) AS avg_battery_pct
FROM rt__rollup_device
GROUP BY device_id
"""
    )


COMBINERS = {
    "global_overview": combine_global_overview,
    "dim_device": combine_dim_device,
}
