"""Pipeline CLI — the engine's answer to the reference's Justfile verbs.

The reference drives its pipeline through `just` recipes (Justfile:
bronze-upload, silver, gold, generate-topology, backfill-silver,
ingestion-status); a user switching to this engine gets the same verbs
as one module CLI:

    python -m tagmarshal_data_lakehouse_spark bronze-upload \
        --course-id americanfalls --path rounds.csv --ingest-date 2024-01-16
    python -m tagmarshal_data_lakehouse_spark silver \
        --course-id americanfalls --ingest-date 2024-01-16 --input <dir>
    python -m tagmarshal_data_lakehouse_spark backfill [--course-id ...]
    python -m tagmarshal_data_lakehouse_spark topology
    python -m tagmarshal_data_lakehouse_spark gold
    python -m tagmarshal_data_lakehouse_spark status
    python -m tagmarshal_data_lakehouse_spark query <name> [--sf-dir DIR]
    python -m tagmarshal_data_lakehouse_spark curate --out <dir> [--sf-dir DIR]

`--warehouse` (or TM_WAREHOUSE) points every verb at the same lakehouse
root; `--bronze-root` (or TM_BRONZE_ROOT) is the landing zone.
"""

from __future__ import annotations

import argparse
import os
import sys


def _spark_and_lake(args):
    from .session import get_spark
    from .storage import Lakehouse

    spark = get_spark(app_name=f"tm-cli-{args.cmd}")
    return spark, Lakehouse(spark, args.warehouse)


def cmd_bronze_upload(args) -> int:
    from .bronze_ingest import upload_file_to_bronze

    res = upload_file_to_bronze(
        args.bronze_root,
        args.course_id,
        args.path,
        ingest_date=args.ingest_date,
        strict_course_match=args.strict,
    )
    print(
        f"{'skipped (already landed)' if res.skipped else 'landed'}: "
        f"{res.key} ({res.row_count} rows)"
    )
    return 0


def cmd_silver(args) -> int:
    from .silver import run_silver

    spark, lake = _spark_and_lake(args)
    input_path = args.input or os.path.join(
        args.bronze_root, f"course_id={args.course_id}", f"ingest_date={args.ingest_date}"
    )
    res = run_silver(
        spark, lake, input_path, args.course_id, args.ingest_date,
        run_id=f"cli_{args.course_id}_{args.ingest_date}",
    )
    print(f"silver: {res.rows_valid} valid, {res.rows_quarantined} quarantined -> {res.table}")
    return 0


def cmd_backfill(args) -> int:
    from .orchestration import run_backfill

    spark, lake = _spark_and_lake(args)
    res = run_backfill(
        spark, lake, args.bronze_root,
        course_id=args.course_id, start_date=args.start_date, end_date=args.end_date,
    )
    print(
        f"backfill: {len(res.succeeded)} succeeded, "
        f"{len(res.skipped)} skipped, {len(res.failed)} failed"
    )
    for course, date in res.failed:
        print(f"  FAILED {course} {date}", file=sys.stderr)
    return 1 if res.failed else 0


def cmd_topology(args) -> int:
    from . import dims

    spark, lake = _spark_and_lake(args)
    fact = lake.read("silver.fact_telemetry_event")
    topo = dims.topology_to_df(spark, dims.infer_topology(fact))
    dims.upsert_topology(lake, topo)
    print(f"topology: {topo.count()} rows -> silver.dim_facility_topology")
    sections = dims.build_sections_per_hole(fact)
    dims.overwrite_sections_per_hole(lake, sections)
    print(f"sections: {sections.count()} rows -> silver.dim_sections_per_hole")
    return 0


def cmd_seed_profile(args) -> int:
    from . import dims

    spark, lake = _spark_and_lake(args)
    profile = dims.read_course_profile_seed(spark, args.path)
    dims.upsert_course_profile(lake, profile)
    print(f"seed: {profile.count()} rows -> silver.dim_course_profile")
    return 0


def cmd_gold(args) -> int:
    from .gold.models import incremental_update

    spark, lake = _spark_and_lake(args)
    topo = (
        lake.read("silver.dim_facility_topology")
        if lake.exists("silver.dim_facility_topology")
        else None
    )
    # --courses rewrites only the named courses' partitions; without it
    # every model is rebuilt and the global models' rollups re-seeded
    written = incremental_update(spark, lake, args.courses or None, topo)
    for name, n in written.items():
        print(f"gold.{name}: {n} rows")
    return 0


def cmd_dq(args) -> int:
    from . import quality
    from .queries import telemetry

    spark, lake = _spark_and_lake(args)
    fact = lake.read("silver.fact_telemetry_event")

    def opt(table):
        return lake.read(table) if lake.exists(table) else None

    telemetry.register_views(
        spark,
        fact,
        opt("silver.dim_facility_topology"),
        opt("silver.dim_course_profile"),
        opt("silver.dim_sections_per_hole"),
        build_gold=True,
    )
    results = quality.run_quality_checks(spark)
    failed = [r for r in results if not r.passed]
    for r in results:
        mark = "PASS" if r.passed else f"FAIL ({r.violations} violations)"
        print(f"{r.table}.{r.name}: {mark}")
    print(f"dq: {len(results) - len(failed)}/{len(results)} checks passed")
    return 1 if failed else 0


def cmd_status(args) -> int:
    from .orchestration import IngestionRegistry

    spark, lake = _spark_and_lake(args)
    reg = IngestionRegistry(lake)
    reg.summary().orderBy("ingest_date", "filename").show(100, truncate=False)
    return 0


def cmd_query(args) -> int:
    from .queries import registry

    spark, _ = _spark_and_lake(args)
    reg = registry()
    if args.name == "list":
        for name, q in sorted(reg.items()):
            kind = "oracle" if q.oracle else "rows-only"
            print(f"{name:32s} [{kind}] {q.doc.splitlines()[0] if q.doc else ''}")
        return 0
    if args.name not in reg:
        print(f"unknown query {args.name!r}; try: query list", file=sys.stderr)
        return 2
    reg[args.name].build(spark, args.sf_dir).show(args.rows, truncate=False)
    return 0


def cmd_explain(args) -> int:
    """Formatted physical plan + the automated would-this-survive-100x
    audit (plans.scale_lint) for a registry query — the plan-quality
    workflow (`.explain` then iterate) as a first-class verb."""
    from . import plans
    from .queries import registry

    spark, _ = _spark_and_lake(args)
    reg = registry()
    if args.name not in reg:
        print(f"unknown query {args.name!r}; try: query list", file=sys.stderr)
        return 2
    df = reg[args.name].build(spark, args.sf_dir)
    df.explain("formatted")
    print(f"# exchanges: {plans.count_exchanges(df)}")
    strategies = plans.join_strategies(df)
    print(f"# join strategies: {', '.join(strategies) if strategies else '(none)'}")
    findings = plans.scale_lint(df)
    if findings:
        for f in findings:
            print(f"# SCALE-LINT {f['rule']}: {f['detail']}")
        return 1
    print("# scale-lint: clean")
    return 0


def cmd_curate(args) -> int:
    """Run the composed curation pipeline over a documents table and
    WRITE the results: the audit frame (every document with its
    drop_reason/kept verdict, partitioned by split) and the kept corpus
    (the training set a loader consumes, joined back to the full rows).
    """
    from pyspark.sql import functions as F

    from .routing import restore_session_width
    from .training.curation import curate_corpus

    spark, _ = _spark_and_lake(args)
    docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet")
    # The packaged entry point applies the measured dedup shuffle
    # sizing by default when the near-dup stage is on (VERDICT r12 —
    # the remedy must protect CLI users, not only library callers);
    # the width stays in force through the audit write (where the lazy
    # plan executes) and is restored below for the rest of the command.
    auto_size = args.near_dup_threshold is not None and not args.no_auto_size
    verdicts = curate_corpus(
        docs,
        min_quality=args.min_quality,
        near_dup_threshold=args.near_dup_threshold,
        auto_size_session=auto_size,
    )
    if auto_size:
        width = spark.conf.get("spark.sql.shuffle.partitions")
        print(f"dedup sizing: shuffle width {width} for the near-dup stage")
    audit_path = f"{args.out}/curation_audit"
    corpus_path = f"{args.out}/curated_corpus"
    verdicts.write.mode("overwrite").partitionBy("split").parquet(audit_path)
    if auto_size:
        restored = restore_session_width(spark)
        print(f"dedup sizing: session width restored to {restored}")
    audit = spark.read.parquet(audit_path)  # reuse the written frame, not the plan
    kept = audit.filter(F.col("kept")).select("doc_id", "split", "quality_score")
    (
        docs.join(kept, "doc_id")
        .write.mode("overwrite")
        .partitionBy("split")
        .parquet(corpus_path)
    )
    n_in = docs.count()
    n_kept = spark.read.parquet(corpus_path).count()
    by_reason = {
        r["drop_reason"]: r["n"]
        for r in audit.filter(~F.col("kept"))
        .groupBy("drop_reason")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    print(f"curated {n_in} -> kept {n_kept} ({corpus_path}); dropped {by_reason}")
    print(f"audit: {audit_path} (partitioned by split)")
    return 0


def cmd_export(args) -> int:
    """Training-data delivery: write a corpus as the layout a training
    loader consumes — hive-partitioned by (split, lang), files
    size-targeted via maxRecordsPerFile, rows sorted by doc_id within
    files for reproducible content — plus a manifest JSON recording
    rows/files/bytes per partition (what the loader checks before it
    trusts the export).

    Input is a documents-shaped parquet (the curate verb's kept corpus,
    or a raw documents table — a split column is derived when absent via
    the deterministic hash split, so the export is idempotent)."""
    import json as _json

    from pyspark.sql import functions as F

    from .training.sampling import train_val_test_split

    spark, _ = _spark_and_lake(args)
    docs = spark.read.parquet(args.input)
    if "split" not in docs.columns:
        docs = train_val_test_split(docs).drop("bucket")
    corpus_path = f"{args.out}/corpus"
    (
        docs.repartition("split", "lang")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", args.max_records)
        .partitionBy("split", "lang")
        .parquet(corpus_path)
    )
    written = spark.read.parquet(corpus_path)
    stats = (
        # input_file_name() is nondeterministic to Catalyst — project it
        # first, aggregate the materialized column
        written.withColumn("_file", F.input_file_name())
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct("_file").alias("files"),
        )
        .orderBy("split", "lang")
        .collect()
    )
    manifest = {
        "corpus": corpus_path,
        "total_rows": int(sum(r["rows"] for r in stats)),
        "max_records_per_file": args.max_records,
        "partitions": [
            {"split": r["split"], "lang": r["lang"], "rows": int(r["rows"]), "files": int(r["files"])}
            for r in stats
        ],
    }
    with open(f"{args.out}/manifest.json", "w") as fh:
        _json.dump(manifest, fh, indent=2)
    print(
        f"exported {manifest['total_rows']} rows -> {corpus_path} "
        f"({len(manifest['partitions'])} partitions); manifest: {args.out}/manifest.json"
    )
    return 0


def cmd_serve(args) -> int:
    """Render named telemetry-library queries through the cached serving
    layer (serving.QueryServer) against the lakehouse's silver/dim/gold
    tables — the dashboard's data path without the dashboard."""
    from .queries import telemetry
    from .serving import QueryServer

    spark, lake = _spark_and_lake(args)
    fact = lake.read("silver.fact_telemetry_event")
    topo = lake.read("dim_facility_topology") if lake.exists("dim_facility_topology") else None
    profile = lake.read("dim_course_profile") if lake.exists("dim_course_profile") else None
    sections = (
        lake.read("dim_sections_per_hole") if lake.exists("dim_sections_per_hole") else None
    )
    telemetry.register_views(spark, fact, topo, profile, sections, build_gold=True)
    srv = QueryServer(spark, ttl_seconds=args.ttl)
    names = args.names or sorted(telemetry.TELEMETRY_QUERIES)
    for name in names:
        if name not in telemetry.TELEMETRY_QUERIES:
            print(f"skipping {name!r}: parameterized or unknown", file=sys.stderr)
            continue
        frame = srv.execute(name)
        print(f"== {name} ({len(frame)} rows)")
        print(frame.head(args.rows).to_string(index=False))
    s = srv.stats
    print(f"# cache: {s.hits} hits / {s.misses} misses / ttl {args.ttl}s")
    return 0


def cmd_snapshots(args) -> int:
    """Version history of a table (time travel; requires a versioned
    lakehouse — snapshots exist only if mutations ran with one)."""
    spark, _ = _spark_and_lake(args)
    from .storage import Lakehouse

    lake = Lakehouse(spark, args.warehouse, versioned=True)
    lake.history(args.table).orderBy("version").show(100, truncate=False)
    return 0


def cmd_restore(args) -> int:
    """Roll a table back to a snapshot version (non-destructive: the
    pre-restore state is snapshotted first)."""
    spark, _ = _spark_and_lake(args)
    from .storage import Lakehouse

    lake = Lakehouse(spark, args.warehouse, versioned=True)
    lake.restore(args.table, args.version)
    print(f"restored {args.table} to v{args.version}")
    return 0


def cmd_rollup(args) -> int:
    """Maintain / read the incremental sketch rollup (continuous
    aggregate): `--refresh <parquet>` merges one batch (idempotent per
    batch id — a replayed id is a no-op), `--show` prints the state with
    derived estimates (HLL distinct users, histogram p50/p95) at hourly
    or event-type grain. At scale this verb is the cron/stream driver of
    `rollup.SketchRollup` — each refresh touches only the new batch."""
    spark, lake = _spark_and_lake(args)
    from .rollup import SketchRollup

    roll = SketchRollup(lake)
    if not args.refresh and not args.show:
        print("rollup: nothing to do (pass --refresh and/or --show)", file=sys.stderr)
        return 2
    if args.refresh:
        batch = spark.read.parquet(args.refresh)
        batch_id = args.batch_id or os.path.abspath(args.refresh)
        applied = roll.refresh(batch, batch_id)
        print(f"batch {batch_id}: {'applied' if applied else 'replay refused (already applied)'}")
    if args.show:
        if args.grain == "type":
            df = roll.by_event_type().orderBy("event_type")
        else:
            df = roll.with_estimates().drop("user_sketch", "value_hist").orderBy(
                "event_type", "bucket_hour"
            )
        df.show(args.rows, truncate=False)
    return 0


def cmd_compact(args) -> int:
    """OPTIMIZE-style small-file compaction, optionally clustering the
    rewrite (sort or z-order) so parquet min/max stats prune whole
    files for later predicates."""
    _, lake = _spark_and_lake(args)
    n_files = lake.compact(
        args.table,
        sort_cols=args.sort_by or None,
        zorder_by=args.zorder_by or None,
        target_file_bytes=args.target_mb * 1024 * 1024,
    )
    print(f"compacted {args.table} -> {n_files} files")
    return 0


def cmd_vacuum(args) -> int:
    """Reclaim interrupted-swap leftovers, prune quarantine history, and
    expire old snapshots (the VACUUM / expire_snapshots role)."""
    _, lake = _spark_and_lake(args)
    removed = lake.vacuum(
        quarantine_keep=args.quarantine_keep, snapshot_keep=args.snapshot_keep
    )
    for path in removed:
        print(f"removed {path}")
    print(f"vacuum: {len(removed)} paths reclaimed")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="tagmarshal_data_lakehouse_spark")
    p.add_argument(
        "--warehouse",
        default=os.environ.get("TM_WAREHOUSE", "./spark-warehouse"),
        help="lakehouse root directory (TM_WAREHOUSE)",
    )
    p.add_argument(
        "--bronze-root",
        default=os.environ.get("TM_BRONZE_ROOT", "./bronze"),
        help="bronze landing zone (TM_BRONZE_ROOT)",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("bronze-upload", help="validate + land a raw rounds file")
    b.add_argument("--course-id", required=True)
    b.add_argument("--path", required=True)
    b.add_argument("--ingest-date")
    b.add_argument("--strict", action="store_true", help="fail on course-name mismatch")
    b.set_defaults(fn=cmd_bronze_upload)

    s = sub.add_parser("silver", help="run the silver transform for one partition")
    s.add_argument("--course-id", required=True)
    s.add_argument("--ingest-date", required=True)
    s.add_argument("--input", help="override input dir (defaults to the bronze layout)")
    s.set_defaults(fn=cmd_silver)

    bf = sub.add_parser("backfill", help="ingest every pending bronze partition")
    bf.add_argument("--course-id")
    bf.add_argument("--start-date")
    bf.add_argument("--end-date")
    bf.set_defaults(fn=cmd_backfill)

    t = sub.add_parser("topology", help="infer + upsert topology and sections-per-hole dims")
    t.set_defaults(fn=cmd_topology)

    sp = sub.add_parser("seed-profile", help="MERGE-upsert the course-profile seed CSV")
    sp.add_argument("--path", required=True)
    sp.set_defaults(fn=cmd_seed_profile)

    g = sub.add_parser("gold", help="build all gold models from silver")
    g.add_argument(
        "--courses",
        nargs="+",
        default=None,
        help="incremental: refresh only these course_ids (partition-scoped rewrite)",
    )
    g.set_defaults(fn=cmd_gold)

    st = sub.add_parser("status", help="show the ingestion registry")
    st.set_defaults(fn=cmd_status)

    dq = sub.add_parser("dq", help="run the ported dbt quality suite on silver+gold")
    dq.set_defaults(fn=cmd_dq)

    q = sub.add_parser("query", help="run a registry query ('query list' to enumerate)")
    q.add_argument("name")
    q.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    q.add_argument("--rows", type=int, default=20)
    q.set_defaults(fn=cmd_query)

    ex = sub.add_parser("explain", help="formatted plan + scale-lint audit for a registry query")
    ex.add_argument("name")
    ex.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ex.set_defaults(fn=cmd_explain)

    cu = sub.add_parser(
        "curate", help="run the curation pipeline; write kept corpus + audit frame"
    )
    cu.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    cu.add_argument("--out", required=True, help="output root for curated_corpus/ and curation_audit/")
    cu.add_argument("--min-quality", type=float, default=50.0)
    cu.add_argument(
        "--near-dup-threshold",
        type=float,
        default=None,
        help="opt-in MinHash near-dup stage: gram-Jaccard threshold "
        "(e.g. 0.5); adds 'near_duplicate' drop verdicts to the audit",
    )
    cu.add_argument(
        "--no-auto-size",
        action="store_true",
        help="skip the measured dedup shuffle sizing the near-dup "
        "stage applies by default (training/dedup.py heap-bind remedy)",
    )
    cu.set_defaults(fn=cmd_curate)

    xp = sub.add_parser(
        "export", help="write a (split, lang)-partitioned training corpus + manifest"
    )
    xp.add_argument("--input", required=True, help="documents-shaped parquet path")
    xp.add_argument("--out", required=True)
    xp.add_argument("--max-records", type=int, default=1_000_000, help="rows per file cap")
    xp.set_defaults(fn=cmd_export)

    sv = sub.add_parser(
        "serve",
        help="run telemetry-library queries through the cached serving layer",
    )
    sv.add_argument("names", nargs="*", help="fixed query names (default: all)")
    sv.add_argument("--ttl", type=float, default=300.0, help="cache TTL seconds")
    sv.add_argument("--rows", type=int, default=20, help="rows to print per query")
    sv.set_defaults(fn=cmd_serve)

    sn = sub.add_parser("snapshots", help="show a table's time-travel history")
    sn.add_argument("table")
    sn.set_defaults(fn=cmd_snapshots)

    rs = sub.add_parser("restore", help="roll a table back to a snapshot version")
    rs.add_argument("table")
    rs.add_argument("version", type=int)
    rs.set_defaults(fn=cmd_restore)

    ru = sub.add_parser(
        "rollup", help="refresh/read the incremental sketch rollup (continuous aggregate)"
    )
    ru.add_argument("--refresh", help="events-shaped parquet batch to merge")
    ru.add_argument("--batch-id", help="idempotency key (default: the batch path)")
    ru.add_argument("--show", action="store_true", help="print the rollup with estimates")
    ru.add_argument("--grain", choices=["hour", "type"], default="hour")
    ru.add_argument("--rows", type=int, default=20)
    ru.set_defaults(fn=cmd_rollup)

    co = sub.add_parser("compact", help="small-file compaction with optional clustering")
    co.add_argument("table")
    co.add_argument("--sort-by", nargs="+", help="cluster the rewrite by these columns")
    co.add_argument("--zorder-by", nargs="+", help="z-order the rewrite by these columns")
    co.add_argument("--target-mb", type=int, default=128, help="target file size (MiB)")
    co.set_defaults(fn=cmd_compact)

    va = sub.add_parser("vacuum", help="reclaim leftovers, prune quarantine + snapshots")
    va.add_argument("--quarantine-keep", type=int, default=10)
    va.add_argument("--snapshot-keep", type=int, default=5)
    va.set_defaults(fn=cmd_vacuum)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
