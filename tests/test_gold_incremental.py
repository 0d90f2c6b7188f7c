"""Incremental gold refresh: partition-scoped rebuild must be
indistinguishable from a full rebuild."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from tagmarshal_data_lakehouse_spark import silver
from tagmarshal_data_lakehouse_spark.gold.models import (
    GLOBAL_OVERVIEW,
    GoldBuilder,
    incremental_update,
)
from tagmarshal_data_lakehouse_spark.sources import bronze
from tagmarshal_data_lakehouse_spark.storage import Lakehouse

from . import fixtures_gen


def _silver_fact(spark, tmp_path, courses):
    d = tmp_path / "bronze"
    d.mkdir()
    fixtures_gen.write_plain_json(str(d / "rounds.json"))
    raw, fmt = bronze.read_rounds(spark, str(d))
    parts = [
        silver.transform_rounds(raw, fmt, c, "2024-01-16", None) for c in courses
    ]
    fact = parts[0]
    for p in parts[1:]:
        fact = fact.unionByName(p, allowMissingColumns=True)
    return fact


@pytest.fixture(scope="module")
def lake_with_gold(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("inc_gold")
    lake = Lakehouse(spark, str(tmp / "warehouse"))
    fact = _silver_fact(spark, tmp, ["course_a", "course_b", "course_c"])
    lake.replace_partitions(
        "silver.fact_telemetry_event", fact, ["course_id", "ingest_date", "event_date"]
    )
    written = incremental_update(spark, lake, None)  # the full build
    return lake, sorted(written)


def _rows(df):
    return (
        df.columns,
        sorted(
            (tuple(r) for r in df.collect()),
            key=lambda t: tuple((v is None, str(v)) for v in t),
        ),
    )


def _snapshot(spark, lake, names):
    return {name: _rows(lake.read(f"gold.{name}")) for name in names}


def _assert_snapshots_match(a, b):
    assert set(a) == set(b)
    for name in a:
        assert a[name] == b[name], name


def test_incremental_noop_refresh_matches_full(spark, lake_with_gold):
    lake, names = lake_with_gold
    before = _snapshot(spark, lake, names)
    written = incremental_update(spark, lake, ["course_b"])
    assert set(written) == set(names)
    after = _snapshot(spark, lake, names)
    _assert_snapshots_match(after, before)  # same silver -> no-op refresh


def test_incremental_absorbs_new_partition(spark, lake_with_gold, tmp_path):
    lake, names = lake_with_gold
    # new ingest: course_b gets a second ingest_date with re-tagged rounds
    extra = _silver_fact(spark, tmp_path, ["course_b"]).withColumn(
        "ingest_date", F.lit("2024-01-17")
    ).withColumn("round_id", F.concat(F.col("round_id"), F.lit("_v2")))
    lake.replace_partitions(
        "silver.fact_telemetry_event", extra, ["course_id", "ingest_date", "event_date"]
    )

    incremental_update(spark, lake, ["course_b"])
    inc = _snapshot(spark, lake, names)

    # ground truth: full rebuild from the same silver state
    incremental_update(spark, lake, None)
    full = _snapshot(spark, lake, names)
    _assert_snapshots_match(inc, full)


# A fresh driver that hands out CTE ids 0-5 before the gold build: with
# the models registered as views of analyzed DataFrames, this exact
# state made every plan reading gold_coverage_audit fail in the
# optimizer (InlineCTE -> DeduplicateRelations: "Invalid call to exprId
# on unresolved object").  Earlier test files reached it by building
# events_asof_join twice, so the suite failed or passed by file order.
_PRIOR_CTE_IDS_SCRIPT = """
import pathlib, sys, tempfile
from tagmarshal_data_lakehouse_spark.gold.models import GoldBuilder
from tagmarshal_data_lakehouse_spark.session import get_spark
from tagmarshal_data_lakehouse_spark.storage import Lakehouse
from tests.test_gold_incremental import _silver_fact

spark = get_spark(app_name="gold-cte-ids", shuffle_partitions=2, driver_memory="1g")
for _ in range(6):
    spark.sql("WITH a AS (SELECT 1 AS x) SELECT x FROM a")
tmp = pathlib.Path(tempfile.mkdtemp(dir=sys.argv[1]))
lake = Lakehouse(spark, str(tmp / "warehouse"))
fact = _silver_fact(spark, tmp, ["course_a", "course_b", "course_c"])
lake.replace_partitions(
    "silver.fact_telemetry_event", fact, ["course_id", "ingest_date", "event_date"]
)
for name, df in GoldBuilder(spark).build(lake.read("silver.fact_telemetry_event")).items():
    df._jdf.queryExecution().optimizedPlan()
print("built")
"""


def test_gold_build_does_not_depend_on_prior_cte_ids(tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _PRIOR_CTE_IDS_SCRIPT, str(tmp_path)],
        env=dict(os.environ, PYTHONPATH=repo),
        cwd=repo,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0 and "built" in proc.stdout, proc.stderr[-3000:]


def test_incremental_leaves_untouched_courses_alone(spark, lake_with_gold):
    lake, _ = lake_with_gold
    fr = lake.read("gold.fact_rounds")
    a_before = fr.filter(F.col("course_id") == "course_a").count()
    incremental_update(spark, lake, ["course_c"])
    a_after = (
        lake.read("gold.fact_rounds").filter(F.col("course_id") == "course_a").count()
    )
    assert a_before == a_after and a_before > 0


def test_global_combine_reads_rollup_state_not_the_fact(spark, tmp_path):
    """The O(new data) guarantee, behaviorally: after the rollups are
    seeded, a by-course refresh must derive the global models from the
    stored rollup partitions — so removing another course's silver data
    WITHOUT refreshing it must leave that course's contribution in the
    global row.  A path that rescanned the fact would lose it."""
    lake = Lakehouse(spark, str(tmp_path / "warehouse"))
    fact = _silver_fact(spark, tmp_path, ["course_a", "course_b"])
    lake.replace_partitions(
        "silver.fact_telemetry_event", fact, ["course_id", "ingest_date", "event_date"]
    )
    incremental_update(spark, lake, None)  # the full build seeds the rollups
    assert lake.read("gold.global_overview").first()["courses"] == 2

    # silver loses course_a entirely; only course_b is refreshed
    only_b = fact.filter(F.col("course_id") == "course_b")
    lake.overwrite(
        "silver.fact_telemetry_event",
        only_b,
        partition_by=["course_id", "ingest_date", "event_date"],
    )
    incremental_update(spark, lake, ["course_b"])
    row = lake.read("gold.global_overview").first()
    assert row["courses"] == 2  # course_a still present: no fact rescan
    assert row["total_rows"] == fact.count()


def test_combined_median_matches_percentile_approx_in_exact_regime(spark, tmp_path):
    """global_overview's median is the exact nearest-rank value (1-based
    rank CEIL(0.5*N)) from the pace value histogram; PERCENTILE_APPROX
    returns the same value whenever its sketch retains every sample
    (row count <= accuracy).  Pin that equality across odd/even counts
    and heavy duplication, running the model's own text."""
    from tagmarshal_data_lakehouse_spark.schemas import FACT_TELEMETRY_EVENT

    lake = Lakehouse(spark, str(tmp_path / "wh"))
    cases = [
        [0.5, 0.7, 0.7, 1.1],                      # even, duplicated
        [2.0],                                      # singleton
        [3.0, 1.0, 2.0, 2.0, 9.0],                  # odd
        [0.1] * 7 + [0.2] * 3 + [5.0] * 6,          # heavy duplication
        [float(v % 13) / 4 for v in range(257)],    # larger, cyclic
    ]
    for i, vals in enumerate(cases):
        df = spark.createDataFrame(
            [("c", v, False) for v in vals],
            "course_id string, pace_gap double, is_location_padding boolean",
        )
        lake.align_to_schema(df, FACT_TELEMETRY_EVENT).createOrReplaceTempView(
            "fact_telemetry_event"
        )
        combined = spark.sql(GLOBAL_OVERVIEW.sql).first()["median_pace_gap_sec"]
        reference = df.agg(F.expr("percentile_approx(pace_gap, 0.5)")).first()[0]
        assert combined == reference, (i, combined, reference)


def test_refreshing_a_fully_deleted_course_drops_its_rollup_state(spark, tmp_path):
    """Dynamic partition overwrite cannot rewrite a partition absent
    from the written frame, so a course whose silver rows were all
    deleted (GDPR / re-ingest correction) must have its rollup
    partitions explicitly DROPPED when IT IS REFRESHED — otherwise the
    global models count deleted data forever (round-12 review
    finding)."""
    lake = Lakehouse(spark, str(tmp_path / "warehouse"))
    fact = _silver_fact(spark, tmp_path, ["course_a", "course_b"])
    lake.replace_partitions(
        "silver.fact_telemetry_event", fact, ["course_id", "ingest_date", "event_date"]
    )
    incremental_update(spark, lake, None)  # the full build seeds the rollups
    assert lake.read("gold.global_overview").first()["courses"] == 2

    # course_a's silver data is deleted, and course_a IS refreshed
    only_b = fact.filter(F.col("course_id") == "course_b")
    lake.overwrite(
        "silver.fact_telemetry_event",
        only_b,
        partition_by=["course_id", "ingest_date", "event_date"],
    )
    incremental_update(spark, lake, ["course_a"])
    row = lake.read("gold.global_overview").first()
    assert row["courses"] == 1  # deleted course gone from the rollups
    assert row["total_rows"] == only_b.count()
    devices_b = {
        r["device_id"]
        for r in only_b.filter(F.col("device").isNotNull())
        .select(F.col("device").alias("device_id")).distinct().collect()
    }
    assert {
        r["device_id"] for r in lake.read("gold.dim_device").collect()
    } == devices_b


def test_partially_retracted_course_drops_per_table_rollup_state(spark, tmp_path):
    """A refreshed course can still HAVE rows (so it is present in the
    overall slice) while its partial for a specific rollup table is
    empty: re-ingested rows that are all padding yield no
    _rollup_overview_pace rows, and all-NULL devices yield no
    _rollup_device rows.  Presence must therefore be judged per table —
    a single global present-set never fires the drop, and the global
    median / distinct_devices keep counting retracted data forever
    (ADVICE r12, the round-12 fix one level down)."""
    lake = Lakehouse(spark, str(tmp_path / "warehouse"))
    fact = _silver_fact(spark, tmp_path, ["course_a", "course_b"])
    lake.replace_partitions(
        "silver.fact_telemetry_event", fact, ["course_id", "ingest_date", "event_date"]
    )
    incremental_update(spark, lake, None)  # the full build seeds the rollups
    pace_a = (
        lake.read("gold._rollup_overview_pace")
        .filter(F.col("course_id") == "course_a").count()
    )
    dev_a = (
        lake.read("gold._rollup_device")
        .filter(F.col("course_id") == "course_a").count()
    )
    assert pace_a > 0 and dev_a > 0  # the retraction below must undo real state

    # Re-ingest correction: course_a still has rows, but every row is
    # now padding with a NULL device — its pace and device partials are
    # empty while its course/round partials are not.
    is_a = F.col("course_id") == "course_a"
    corrected = (
        fact.withColumn(
            "is_location_padding",
            F.when(is_a, F.lit(True)).otherwise(F.col("is_location_padding")),
        )
        .withColumn("device", F.when(is_a, F.lit(None)).otherwise(F.col("device")))
        .withColumn("pace_gap", F.when(is_a, F.lit(None)).otherwise(F.col("pace_gap")))
    )
    lake.overwrite(
        "silver.fact_telemetry_event",
        corrected,
        partition_by=["course_id", "ingest_date", "event_date"],
    )
    incremental_update(spark, lake, ["course_a"])

    # The empty partials' partitions are gone, table by table ...
    assert (
        lake.read("gold._rollup_overview_pace")
        .filter(F.col("course_id") == "course_a").count() == 0
    )
    assert (
        lake.read("gold._rollup_device")
        .filter(F.col("course_id") == "course_a").count() == 0
    )
    # ... while the still-populated partials for course_a remain.
    assert (
        lake.read("gold._rollup_overview_course")
        .filter(F.col("course_id") == "course_a").count() > 0
    )

    # And the combined globals match a full rebuild of the same state.
    row = lake.read("gold.global_overview").first()
    full = GoldBuilder(spark).build(
        lake.read("silver.fact_telemetry_event")
    )["global_overview"].first()
    for col in ("median_pace_gap_sec", "distinct_devices", "courses", "total_rows"):
        assert row[col] == full[col], col
    only_b_devices = {
        r["device_id"]
        for r in corrected.filter(F.col("device").isNotNull())
        .select(F.col("device").alias("device_id")).distinct().collect()
    }
    assert {
        r["device_id"] for r in lake.read("gold.dim_device").collect()
    } == only_b_devices


def test_full_build_reseeds_the_rollups(spark, tmp_path):
    """The full build rewrites the rollups along with the models: a
    refresh after it must not fall back to partials seeded before it,
    which would drop every ingest the full build absorbed."""
    lake = Lakehouse(spark, str(tmp_path / "warehouse"))
    fact = _silver_fact(spark, tmp_path, ["course_a", "course_b", "course_c"])
    lake.replace_partitions(
        "silver.fact_telemetry_event", fact, ["course_id", "ingest_date", "event_date"]
    )
    incremental_update(spark, lake, ["course_a"])  # seeds the rollups
    seeded = lake.read("gold.global_overview").first()

    # new ingest for course_c, absorbed by a full build
    (tmp_path / "c2").mkdir()
    extra = _silver_fact(spark, tmp_path / "c2", ["course_c"]).withColumn(
        "ingest_date", F.lit("2024-01-17")
    ).withColumn("round_id", F.concat(F.col("round_id"), F.lit("_v2")))
    lake.replace_partitions(
        "silver.fact_telemetry_event", extra, ["course_id", "ingest_date", "event_date"]
    )
    globals_ = ["global_overview", "dim_device"]
    incremental_update(spark, lake, None)
    full = _snapshot(spark, lake, globals_)
    row = lake.read("gold.global_overview").first()
    assert row["total_rows"] > seeded["total_rows"]
    assert row["distinct_rounds_all"] > seeded["distinct_rounds_all"]

    incremental_update(spark, lake, ["course_b"])
    _assert_snapshots_match(_snapshot(spark, lake, globals_), full)
    # ... and both equal the model texts run over the whole fact
    built = GoldBuilder(spark, cache_fact_rounds=False).build(
        lake.read("silver.fact_telemetry_event")
    )
    _assert_snapshots_match({name: _rows(built[name]) for name in globals_}, full)
