"""Silver transform tests on FIXTURES.md-shaped synthetic inputs:
ports the reference's unit/integration/dbt-test coverage (SURVEY §5)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tagmarshal_data_lakehouse_spark import silver
from tagmarshal_data_lakehouse_spark.sources import bronze
from tagmarshal_data_lakehouse_spark.storage import Lakehouse

from . import fixtures_gen


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("bronze")
    json_dir = d / "json_plain"
    json_dir.mkdir()
    fixtures_gen.write_plain_json(str(json_dir / "rounds.json"))
    mongo_dir = d / "json_mongo"
    mongo_dir.mkdir()
    fixtures_gen.write_mongo_json(str(mongo_dir / "rounds.json"))
    csv_dir = d / "csv_ragged"
    fixtures_gen.write_ragged_csvs(str(csv_dir))
    fixtures_gen.write_topology_seed(str(d / "topology.csv"))
    return str(d)


def test_format_autodetect(spark, fixture_dir):
    assert bronze.detect_format(spark, f"{fixture_dir}/json_plain") == "json"
    assert bronze.detect_format(spark, f"{fixture_dir}/csv_ragged") == "csv"


def test_csv_union_by_name_no_misalignment(spark, fixture_dir):
    """Ragged CSVs with different K and reversed column order must union
    by NAME (SURVEY §7.4 trap 5)."""
    df = bronze.read_rounds_csv(spark, f"{fixture_dir}/csv_ragged")
    assert df.count() == 2
    rows = {r["_id"]: r for r in df.collect()}
    # file A's hole value must land in A's hole column despite B's order
    assert rows["csvround01"]["locations[0].hole"] == "1"
    assert rows["csvround02"]["locations[0].hole"] == "1"
    # columns present only in A are NULL for B's row
    assert rows["csvround02"]["locations[5].hole"] is None


def test_json_transform_grain_and_flags(spark, fixture_dir):
    raw, fmt = bronze.read_rounds(spark, f"{fixture_dir}/json_plain")
    out = silver.transform_rounds(raw, fmt, "americanfalls", "2024-01-16", None)
    rows = out.collect()
    # grain: one row per (round, location slot): 27 + 9
    assert len(rows) == 36
    by_key = {(r["round_id"], r["location_index"]): r for r in rows}
    assert len(by_key) == 36  # no duplicate grain keys
    r0 = by_key[("round001", 0)]
    assert r0["hole_number"] == 1 and r0["section_number"] == 1
    assert r0["geometry_wkt"].startswith("POINT(-122.1 ")
    assert r0["is_timestamp_missing"] is False
    # invariant: is_timestamp_missing == (fix_timestamp IS NULL)
    bad = out.filter(
        F.col("is_timestamp_missing") != F.col("fix_timestamp").isNull()
    ).count()
    assert bad == 0


def test_mongo_variant_and_dedup_preference(spark, fixture_dir):
    raw, fmt = bronze.read_rounds(spark, f"{fixture_dir}/json_mongo")
    out = silver.transform_rounds(raw, fmt, "bradshawfarmgc", "2024-02-01", None)
    # $oid unwrapped
    ids = {r["round_id"] for r in out.select("round_id").distinct().collect()}
    assert ids == {"507f1f77bcf86cd799439011", "507f1f77bcf86cd799439012"}
    # round_start_time from $date
    r = out.filter(F.col("round_id") == "507f1f77bcf86cd799439011").first()
    assert r["round_start_time"] is not None


def test_dedup_keeps_cached_highest_battery(spark):
    """W1 tie-break contract (reference etl.py:572-586): cached >
    non-projected > higher battery."""
    rows = [
        # same (round, ts, idx): projected+cached low battery vs cached high battery vs uncached
        ("r1", "2024-01-01T10:00:00Z", 0, True, True, 50.0),
        ("r1", "2024-01-01T10:00:00Z", 0, True, False, 88.0),
        ("r1", "2024-01-01T10:00:00Z", 0, False, False, 99.0),
    ]
    df = spark.createDataFrame(
        rows, "round_id string, ts string, location_index int, is_cache boolean, is_projected boolean, battery_percentage double"
    ).withColumn("fix_timestamp", F.to_timestamp("ts"))
    out = silver.dedup_fixes(df).collect()
    assert len(out) == 1
    survivor = out[0]
    assert survivor["is_cache"] is True
    assert survivor["is_projected"] is False
    assert survivor["battery_percentage"] == 88.0


def test_padding_and_null_timestamps_preserved(spark, fixture_dir):
    raw, fmt = bronze.read_rounds(spark, f"{fixture_dir}/csv_ragged")
    out = silver.transform_rounds(raw, fmt, "indiancreek", "2024-03-01", None)
    # no data loss: union-by-name discovers 6 slots, so BOTH rounds get 6
    # (file B's slots 4-5 are all-NULL padding, as in the reference where
    # indices come from the unioned header set)
    assert out.count() == 12
    pad = out.filter("is_location_padding").count()
    assert pad == 4  # A slots 4-5 (explicit padding) + B slots 4-5 (missing)
    # file B: no dates and no round startTime -> NULL fix_timestamp, flagged
    null_ts = out.filter("is_timestamp_missing")
    assert null_ts.count() == 6  # all of B's 6 slots
    assert null_ts.filter(F.col("fix_timestamp").isNotNull()).count() == 0


def test_quarantine_split(spark, fixture_dir):
    raw, fmt = bronze.read_rounds(spark, f"{fixture_dir}/json_mongo")
    out = silver.transform_rounds(raw, fmt, "bradshawfarmgc", "2024-02-01", None)
    valid, invalid = silver.split_coordinates(out)
    assert invalid.count() == 1
    bad = invalid.first()
    assert bad["longitude"] == 200.0 and bad["latitude"] == 100.0
    # valid side respects bounds
    assert valid.filter(
        (F.col("longitude") > 180) | (F.col("latitude") > 90)
    ).count() == 0


def test_nine_number_topology_join(spark, fixture_dir):
    topo = bronze.read_seed_csv(
        spark,
        f"{fixture_dir}/topology.csv",
        __import__(
            "tagmarshal_data_lakehouse_spark.schemas", fromlist=["DIM_FACILITY_TOPOLOGY"]
        ).DIM_FACILITY_TOPOLOGY,
    )
    raw, fmt = bronze.read_rounds(spark, f"{fixture_dir}/json_plain")
    out = silver.transform_rounds(raw, fmt, "americanfalls", "2024-01-16", topo)
    # americanfalls loop seed maps sections 1-27 to BOTH nine 1 and 2;
    # the left range join keeps both matches -> fallback logic not used.
    nines = {r["nine_number"] for r in out.select("nine_number").distinct().collect()}
    assert nines <= {1, 2}


def test_nine_number_fallbacks(spark):
    df = spark.createDataFrame(
        [
            ("r1", 12, 30, None),  # hole>=10 -> nine 2
            ("r1", 3, 10, None),  # hole<10 -> nine 1
            ("r1", None, 60, None),  # section band -> nine 3
            ("r1", None, None, 2),  # current_nine when topo absent
        ],
        "round_id string, hole_number int, section_number int, current_nine int",
    ).withColumn("course_id", F.lit("c1"))
    out = {
        (r["hole_number"], r["section_number"]): r["nine_number"]
        for r in silver.derive_nine_number(df, None).collect()
    }
    assert out[(12, 30)] == 2
    assert out[(3, 10)] == 1
    assert out[(None, 60)] == 3
    assert out[(None, None)] == 2


def test_end_to_end_idempotent_rewrite(spark, fixture_dir, tmp_path):
    """run_silver twice for the same (course, ingest_date) must not
    duplicate rows (reference S7 DELETE+append -> replace_partitions)."""
    lake = Lakehouse(spark, str(tmp_path / "warehouse"))
    r1 = silver.run_silver(
        spark, lake, f"{fixture_dir}/json_plain", "americanfalls", "2024-01-16"
    )
    n_first = lake.read("silver.fact_telemetry_event").count()
    r2 = silver.run_silver(
        spark, lake, f"{fixture_dir}/json_plain", "americanfalls", "2024-01-16"
    )
    n_second = lake.read("silver.fact_telemetry_event").count()
    assert n_first == n_second == 36
    assert r1.rows_valid == r2.rows_valid == 36
    assert r1.rows_quarantined == 0
    # partition layout: course_id/ingest_date/event_date directories exist
    base = lake.path("silver.fact_telemetry_event")
    course_dirs = [p for p in os.listdir(base) if p.startswith("course_id=")]
    assert course_dirs
    inner = os.listdir(os.path.join(base, course_dirs[0]))
    assert any(p.startswith("ingest_date=") for p in inner)


def test_cross_ingest_date_rows_preserved(spark, fixture_dir, tmp_path):
    """The idempotent rewrite is scoped to (course_id, ingest_date): a
    LATER ingest_date writing rows into the same event_date partitions
    (late-arriving fixes, cross-midnight rounds, the NULL-event_date
    partition) must NOT delete the earlier ingest's rows (reference
    etl.py:639-677 deletes by course+ingest_date, never by event_date)."""
    lake = Lakehouse(spark, str(tmp_path / "warehouse"))
    silver.run_silver(
        spark, lake, f"{fixture_dir}/json_plain", "americanfalls", "2024-01-16"
    )
    n_first = lake.read("silver.fact_telemetry_event").count()
    # same payload re-ingested under a LATER ingest_date: same course, the
    # same event_date partitions — previously dynamic overwrite on
    # (course_id, event_date) silently deleted the first ingest's rows
    silver.run_silver(
        spark, lake, f"{fixture_dir}/json_plain", "americanfalls", "2024-01-17"
    )
    fact = lake.read("silver.fact_telemetry_event")
    assert fact.count() == 2 * n_first  # both ingests fully present
    per_ingest = {
        r["ingest_date"]: r["n"]
        for r in fact.groupBy("ingest_date").agg(F.count("*").alias("n")).collect()
    }
    assert per_ingest == {"2024-01-16": n_first, "2024-01-17": n_first}
    # replaying the later ingest stays idempotent and still preserves the
    # earlier one
    silver.run_silver(
        spark, lake, f"{fixture_dir}/json_plain", "americanfalls", "2024-01-17"
    )
    assert lake.read("silver.fact_telemetry_event").count() == 2 * n_first


def _persisted_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs())


@pytest.mark.parametrize(
    "fixture,course",
    [
        ("json_plain", "americanfalls"),
        ("json_mongo", "bradshawfarmgc"),
        ("csv_ragged", "indiancreek"),
    ],
)
def test_run_silver_one_pass_landing(spark, fixture_dir, tmp_path, fixture, course):
    """run_silver evaluates the transform once per course-day: at most 7
    Spark jobs (the three-pass landing took 12), the counts of
    split_coordinates on the same input, no quarantine table when no row
    is invalid, and no persisted RDD left behind."""
    sc = spark.sparkContext
    path = f"{fixture_dir}/{fixture}"
    raw, fmt = bronze.read_rounds(spark, path)
    valid, invalid = silver.split_coordinates(
        silver.transform_rounds(raw, fmt, course, "2024-01-16", None)
    )
    want = (valid.count(), invalid.count())
    before = _persisted_rdds(spark)

    lake = Lakehouse(spark, str(tmp_path / "warehouse"))
    group = f"one_pass_{fixture}"
    sc.setJobGroup(group, group)
    try:
        res = silver.run_silver(spark, lake, path, course, "2024-01-16", run_id="t")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)

    assert len(jobs) <= 7, sorted(jobs)
    assert (res.rows_valid, res.rows_quarantined) == want
    assert lake.read(res.table).count() == want[0]
    assert lake.exists("quarantine.t") == (want[1] > 0)
    assert _persisted_rdds(spark) == before


def test_run_silver_releases_cache_on_failed_write(
    spark, fixture_dir, tmp_path, monkeypatch
):
    """A write that fails after the transform was cached still leaves no
    persisted RDD behind."""
    lake = Lakehouse(spark, str(tmp_path / "warehouse"))

    def failing_write(table, df, partition_by, files_per_partition=1):
        df.count()  # fills the cache, as the real write does
        raise RuntimeError("write failed")

    monkeypatch.setattr(lake, "replace_partitions", failing_write)
    before = _persisted_rdds(spark)
    with pytest.raises(RuntimeError, match="write failed"):
        silver.run_silver(
            spark, lake, f"{fixture_dir}/json_mongo", "bradshawfarmgc", "2024-02-01"
        )
    assert _persisted_rdds(spark) == before
