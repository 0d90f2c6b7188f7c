"""Scale octaves for the PRODUCTION path: bronze JSON -> silver
transform -> partitioned fact write -> 20-model gold DAG.

Every octave probe so far (SCALE.md) targeted the training/events/
relational families; the silver transform + gold build is the path the
reference actually ships (design target 650 courses x 7 years,
pipeline/silver/etl.py:640) and until this probe its 100x behavior was
asserted from plan shape, not measured. Timed phases per scale:

- silver: read_rounds (multiLine JSON) -> transform_rounds in the
  multi-ingest micro-batch shape (course_id = F.col("course"), ONE
  transform over every course at once) -> silver.land_fixes, the
  production one-pass landing: replace_partitions on (course_id,
  ingest_date, event_date), quarantine sink included;
- gold: read the written fact back (fresh scan, no lingering lineage)
  -> GoldBuilder.build_all -> count() every model. This exercises W1's
  window dedup upstream and the coverage audit's multi-way join at
  depth, with the fact_rounds cache on (the production default);
- incremental: land the refresh course-day, then incremental_update
  for its course (the one-off rollup seed is timed apart).

The bronze input is tools/amplify.py bronze_corpus (perfbench's
seeded bronze_gen: courses and rounds per course both grow with
sqrt(reps), plus one refresh course-day); the probe asserts that silver
lands exactly the generator's valid and quarantined fix counts.

Run:  PYTHONPATH=/root/repo python tools/silver_gold_probe.py [reps...]
Env:  SILVER_PROBE_WORKDIR (default /tmp/silver_gold_probe),
      SCALE_PROBE_DRIVER_MEM / SCALE_PROBE_SHUFFLE_PARTS as in
      scale_probe.py. Prints one JSON line per (phase, reps) plus a
      fitted exponent per phase; same caveats as scale_probe.py (local
      numbers noisy under ~1s, exponents are the signal).
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

FACT = "silver.fact_telemetry_event"


def main() -> int:
    reps_list = [int(a) for a in sys.argv[1:]] or [1, 16, 64, 256]
    workdir = os.environ.get("SILVER_PROBE_WORKDIR", "/tmp/silver_gold_probe")
    os.makedirs(workdir, exist_ok=True)

    from pyspark.sql import functions as F

    from tagmarshal_data_lakehouse_spark import silver
    from tagmarshal_data_lakehouse_spark.gold.models import GoldBuilder, incremental_update
    from tagmarshal_data_lakehouse_spark.sources.bronze import read_rounds
    from tagmarshal_data_lakehouse_spark.storage import Lakehouse
    from tools.amplify import bronze_corpus, check_landing, emit, files_per_leaf
    from tools.amplify import print_calibration, probe_session, scaling_exponent

    spark = probe_session("silver-gold-probe")
    # this path's cross-run envelope is disk-shaped (gold@256x has
    # swung 23.7 -> 146.5 s on identical code)
    print_calibration(spark, os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))

    def land(lake, path: str, ingest_date: str, run_id: str) -> tuple[int, int]:
        raw, fmt = read_rounds(spark, path)
        transformed = silver.transform_rounds(
            raw, fmt, F.col("course"), F.lit(ingest_date), None
        )
        return silver.land_fixes(lake, transformed, FACT, f"quarantine.{run_id}")

    results: dict[str, dict[int, float]] = {"silver": {}, "gold": {}}
    for reps in reps_list:
        corpus = bronze_corpus(os.path.join(workdir, f"bronze_{reps}x"), reps)
        (refresh,) = corpus.refreshes
        lake_root = os.path.join(workdir, f"lake_{reps}x")
        shutil.rmtree(lake_root, ignore_errors=True)
        lake = Lakehouse(spark, lake_root)

        # ---- phase 1: silver transform + partitioned write ----------
        t0 = time.perf_counter()
        landed = land(lake, corpus.backfill_glob, corpus.backfill[0].ingest_date, "backfill")
        silver_sec = round(time.perf_counter() - t0, 3)
        fact = lake.read(FACT)
        n_fact = fact.count()
        results["silver"][reps] = silver_sec
        # Layout invariant readout: one data file per leaf must hold as
        # the leaf count itself crosses 10^4 dirs.
        layout = files_per_leaf(lake.path(FACT))
        emit(phase="silver", reps=reps, rounds_in=corpus.totals(corpus.backfill)["rounds"],
             fact_rows=n_fact, quarantined=landed[1], **layout, sec=silver_sec)
        check_landing(f"backfill at {reps}x", landed, corpus.backfill, layout)

        # ---- phase 2: full gold DAG over the written fact ------------
        t0 = time.perf_counter()
        built = GoldBuilder(spark).build(fact, None)
        model_rows = {name: df.count() for name, df in built.items()}
        gold_sec = round(time.perf_counter() - t0, 3)
        results["gold"][reps] = gold_sec
        emit(phase="gold", reps=reps, n_models=len(model_rows),
             fact_rounds_rows=model_rows.get("fact_rounds"),
             coverage_audit_rows=model_rows.get("gold_coverage_audit"), sec=gold_sec)
        spark.catalog.clearCache()  # drop the fact_rounds cache between scales

        # ---- phase 3: one-course-day incremental refresh --------------
        # Same-sized new ingest at every corpus scale: if the measured
        # cost stays ~flat while the corpus grows 256x, the partition-
        # scoped rebuild really is O(new data) — including the global
        # models, which combine per-course rollups (gold/rollups.py)
        # instead of rescanning the fact.  The rollup SEED (one full
        # scan, paid once per deployment) is timed separately so the
        # steady-state number is honest.
        t0 = time.perf_counter()
        incremental_update(spark, lake, [refresh.course], None)
        seed_sec = round(time.perf_counter() - t0, 3)
        emit(phase="rollup_seed", reps=reps, sec=seed_sec)

        t0 = time.perf_counter()
        landed = land(lake, refresh.path, refresh.ingest_date, "refresh")
        timings: dict[str, float] = {}
        written = incremental_update(spark, lake, [refresh.course], None, timings=timings)
        inc_sec = round(time.perf_counter() - t0, 3)
        results.setdefault("incremental", {})[reps] = inc_sec
        results.setdefault("incremental_global", {})[reps] = round(
            timings.get("rollup_refresh", 0.0) + timings.get("global_combine", 0.0), 3
        )
        emit(phase="incremental", reps=reps, models_written=len(written),
             fact_rounds_rows=written.get("fact_rounds"), sec=inc_sec, timings=timings)
        layout = files_per_leaf(lake.path(FACT))
        check_landing(f"refresh at {reps}x", landed, corpus.refreshes, layout)
        spark.catalog.clearCache()

    for phase, series in results.items():
        pts = sorted(series.items())
        if len(pts) >= 2:
            emit(phase=phase, exponent=scaling_exponent(pts), points=pts)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
