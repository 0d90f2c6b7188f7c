"""Throughput + state octaves for the Structured Streaming surface.

Every streaming operator has batch-parity and checkpoint-replay pytest
coverage (tests/test_streaming.py), but until this probe the family had
ZERO scale evidence — the one §2.10 gap after round 11 extended octave
coverage to the silver/gold production path. This measures what the
batch probes cannot: micro-batch drain throughput, watermark state
growth, and late-row drops under event amplification.

Protocol: amplify the driver's events table (same id-offset scheme as
scale_probe.amplify_events — user population grows with reps, so
per-key state cardinality grows like a real deployment's), write it as
range-partitioned-by-ts parquet (32 files; file-source path order then
approximates event-time order, so watermarks advance realistically
across micro-batches), and drain each operator with
trigger(availableNow) + maxFilesPerTrigger=8 -> 4 micro-batches, noop
sink (no output materialization cost). Per (op, reps) one JSON line:
wall seconds, input rows/sec, micro-batch count, peak stateful rows,
and rows dropped by watermark (should be ~0 on the range-ordered
layout — a large number means the probe input broke event-time order,
not that the operator is wrong).

Run:  PYTHONPATH=/root/repo python tools/streaming_probe.py [sf_dir] [reps...]
Env:  STREAM_PROBE_OPS=tumbling,sessions to filter;
      SCALE_PROBE_DRIVER_MEM / SCALE_PROBE_SHUFFLE_PARTS as elsewhere.
Wall under ~2s is session noise; exponents are the signal, as in
SCALE.md throughout.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

N_FILES = 32
FILES_PER_TRIGGER = 8


def _print_calibration_preamble(sf_dir: str) -> None:
    """Machine-state fingerprint, same fields as bench.py's calibration
    block: RocksDB state + the staged parquet drain are IO-shaped, so a
    146.5-s-style outlier needs the cold disk-read rate on record to be
    attributable without a rerun campaign (VERDICT r12 item 8)."""
    import bench as _bench

    print(
        json.dumps(
            {
                "preamble": "calibration",
                "disk_read_mbps": _bench._disk_read_mbps(sf_dir),
                "loadavg_1m": round(os.getloadavg()[0], 2),
            }
        ),
        flush=True,
    )


def _amplified_events(spark, sf_dir: str, reps: int):
    from pyspark.sql import functions as F

    from tagmarshal_data_lakehouse_spark.queries import load_views

    load_views(spark, sf_dir, tables=("events",))
    # watermarks require the LTZ TIMESTAMP type; the analytical views
    # carry NTZ by contract, so the stream staging casts (values are
    # wall stamps; the probe session runs UTC, so this is lossless)
    base = spark.table("events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    return (
        base.crossJoin(F.broadcast(spark.range(reps).toDF("__rep")))
        .withColumn("event_id", F.col("event_id") + F.col("__rep") * 10_000_000)
        .withColumn("user_id", F.col("user_id") + F.col("__rep") * 10_000)
        .drop("__rep")
    )


def stage_input(spark, sf_dir: str, reps: int, workdir: str) -> tuple[str, int]:
    """Write the amplified stream source once per scale (reused across
    runs — content is deterministic)."""
    path = os.path.join(workdir, f"events_{reps}x")
    marker = os.path.join(path, "_SUCCESS")
    df = _amplified_events(spark, sf_dir, reps)
    if not os.path.exists(marker):
        shutil.rmtree(path, ignore_errors=True)
        # range-partition on ts so path order ~= event-time order and
        # the watermark advances monotonically across micro-batches
        df.repartitionByRange(N_FILES, "ts").write.mode("overwrite").parquet(path)
    n = spark.read.parquet(path).count()
    return path, n


def drain(spark, out_df, checkpoint: str, output_mode: str = "update") -> dict:
    """Run a streaming frame to completion under availableNow; return
    wall + progress metrics."""
    t0 = time.perf_counter()
    q = (
        out_df.writeStream.format("noop")
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = round(time.perf_counter() - t0, 3)
    batches = 0
    peak_state = 0
    dropped = 0
    for p in q.recentProgress:
        batches += 1
        for so in p.get("stateOperators", []):
            peak_state = max(peak_state, so.get("numRowsTotal", 0))
            dropped += so.get("numRowsDroppedByWatermark", 0)
    return {"sec": wall, "batches": batches, "peak_state_rows": peak_state, "dropped_late": dropped}


def probe_silver_ingest(spark, workdir: str, reps: int) -> dict:
    """Octave the STREAMING silver ingest (streaming/ingest.py
    stream_silver): landing-zone JSON -> foreachBatch batch transform ->
    replace_partitions, the path that writes the production table under
    streaming.  It inherits the r11 key-clustered writes, so beyond
    wall time this asserts the LAYOUT invariant per micro-batch: every
    (course_id, ingest_date, event_date) leaf the drain produced must
    hold exactly ONE data file — each micro-batch's rewrite lands
    clustered, and distinct batches touch distinct course partitions
    (one landing file per course here), so sliver accumulation across
    batches would be a regression against the measured 63k-file cliff.
    """
    import glob

    from tools.silver_gold_probe import BASE_COURSES, BASE_ROUNDS, _round_doc

    from tagmarshal_data_lakehouse_spark.storage import Lakehouse
    from tagmarshal_data_lakehouse_spark.streaming.ingest import (
        infer_bronze_schema,
        stream_silver,
    )

    scale = int(math.isqrt(reps))
    assert scale * scale == reps, f"reps must be a perfect square, got {reps}"
    n_courses, n_rounds = BASE_COURSES * scale, BASE_ROUNDS * scale
    landing = os.path.join(workdir, f"landing_{reps}x")
    if not os.path.isdir(landing):
        tmp = landing + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        for c in range(n_courses):
            d = os.path.join(tmp, f"course_id=course{c:04d}", "ingest_date=2024-02-01")
            os.makedirs(d)
            docs = [_round_doc(c, r) for r in range(n_rounds)]
            with open(os.path.join(d, "part00000.json"), "w") as f:
                json.dump(docs, f)
        os.rename(tmp, landing)

    lake_root = os.path.join(workdir, f"silver_lake_{reps}x")
    shutil.rmtree(lake_root, ignore_errors=True)
    lake = Lakehouse(spark, lake_root)
    schema = infer_bronze_schema(
        spark, os.path.join(landing, "course_id=course0000", "ingest_date=*")
    )
    ck = os.path.join(workdir, f"ck_silver_{reps}x_{int(time.time())}")
    t0 = time.perf_counter()
    q = stream_silver(
        spark, lake, landing, schema, ck, max_files_per_trigger=FILES_PER_TRIGGER
    )
    q.processAllAvailable()
    q.stop()
    wall = round(time.perf_counter() - t0, 3)
    shutil.rmtree(ck, ignore_errors=True)

    n_rows = lake.read("silver.fact_telemetry_event").count()
    leaf_files: dict[str, int] = {}
    for f in glob.glob(
        os.path.join(lake.path("silver.fact_telemetry_event"), "**", "*.parquet"),
        recursive=True,
    ):
        leaf_files[os.path.dirname(f)] = leaf_files.get(os.path.dirname(f), 0) + 1
    max_files = max(leaf_files.values()) if leaf_files else 0
    out = {
        "op": "silver_ingest",
        "reps": reps,
        "courses": n_courses,
        "batches": -(-n_courses // FILES_PER_TRIGGER),
        "fact_rows": n_rows,
        "leaf_dirs": len(leaf_files),
        "max_files_per_leaf": max_files,
        "layout_ok": max_files == 1,
        "sec": wall,
    }
    print(json.dumps(out), flush=True)
    assert out["layout_ok"], (
        f"streaming silver ingest broke the clustered-write layout: "
        f"{max_files} files in one leaf"
    )
    return out


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "silver":
        # streaming silver-ingest octaves: tools/streaming_probe.py silver [reps...]
        from tagmarshal_data_lakehouse_spark.session import get_spark

        workdir = os.environ.get("STREAM_PROBE_WORKDIR", "/tmp/streaming_probe")
        os.makedirs(workdir, exist_ok=True)
        spark = get_spark(
            app_name="streaming-silver-probe",
            shuffle_partitions=int(os.environ.get("SCALE_PROBE_SHUFFLE_PARTS", "32")),
            driver_memory=os.environ.get("SCALE_PROBE_DRIVER_MEM", "48g"),
        )
        spark.sparkContext.setLogLevel("ERROR")
        _print_calibration_preamble(
            os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        )
        pts = []
        for reps in [int(x) for x in sys.argv[2:]] or [16, 64]:
            m = probe_silver_ingest(spark, workdir, reps)
            pts.append((reps, m["sec"]))
        if len(pts) >= 2:
            (r0, t0), (r1, t1) = pts[0], pts[-1]
            exp = round(math.log(max(t1, 1e-3) / max(t0, 1e-3)) / math.log(r1 / r0), 2)
            print(json.dumps({"phase": "silver_ingest", "exponent": exp, "points": pts}))
        return 0

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps_list = [int(x) for x in sys.argv[2:]] or [4, 16, 64]
    workdir = os.environ.get("STREAM_PROBE_WORKDIR", "/tmp/streaming_probe")
    os.makedirs(workdir, exist_ok=True)

    from tagmarshal_data_lakehouse_spark.session import get_spark
    from tagmarshal_data_lakehouse_spark.streaming import events as se

    spark = get_spark(
        app_name="streaming-probe",
        shuffle_partitions=int(os.environ.get("SCALE_PROBE_SHUFFLE_PARTS", "32")),
        driver_memory=os.environ.get("SCALE_PROBE_DRIVER_MEM", "48g"),
    )
    spark.sparkContext.setLogLevel("ERROR")
    _print_calibration_preamble(sf_dir)
    # STREAM_PROBE_STATE: the one-knob attribution rerun for state-store
    # binds. Since r11 the SESSION default is RocksDB; =heap forces the
    # HDFSBackedStateStore (JVM-heap maps plus retained versions — the
    # store that GC-bound the stream-stream join at ~10M state rows),
    # =rocksdb forces RocksDB explicitly.
    state = os.environ.get("STREAM_PROBE_STATE", "").lower()
    if state == "rocksdb":
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    elif state == "heap":
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
        )
    elif state:
        raise SystemExit(f"STREAM_PROBE_STATE must be rocksdb|heap, got {state!r}")

    # The probe watermark is WIDE (30 days > the testdata's event-time
    # span): the file source orders micro-batches by modification time,
    # not by the staged ts-range, so a production-narrow watermark
    # (e.g. 2h) dropped ~26% of rows as late at the 2h default — which
    # silently shrinks the aggregation work being measured. Wide means
    # dropped_late == 0 (asserted in the output), every row does full
    # state work, and peak_state_rows reads as the honest worst case
    # (no mid-run eviction). Eviction semantics stay covered by the
    # 2h-watermark batch-parity suite in tests/test_streaming.py.
    WM = "30 days"
    operators = {
        "tumbling": (lambda s: se.stream_tumbling_counts(s, watermark=WM), "update"),
        "hopping": (lambda s: se.stream_hopping_counts(s, watermark=WM), "update"),
        # session windows / stream-stream joins only support append
        "sessions": (lambda s: se.stream_session_windows(s, watermark=WM), "append"),
        "dedup": (lambda s: se.stream_dedup_within_watermark(s, watermark=WM), "update"),
        # STREAM_PROBE_STATE_ROWS=<int>: pass a state_rows_estimate so
        # the r13-build sizing plumb (routing.size_session)
        # engages — the with/without pair is the VERDICT r13 item 8
        # spot-check that the measured 1.9x store-width win survives
        # the operator-parameter plumbing.
        "interval_join": (
            lambda s: se.stream_interval_join(
                s,
                watermark=WM,
                state_rows_estimate=(
                    int(os.environ["STREAM_PROBE_STATE_ROWS"])
                    if os.environ.get("STREAM_PROBE_STATE_ROWS")
                    else None
                ),
            ),
            "append",
        ),
    }
    only = os.environ.get("STREAM_PROBE_OPS")
    if only:
        wanted = {x.strip() for x in only.split(",") if x.strip()}
        unknown = wanted - set(operators)
        if unknown:
            raise SystemExit(f"STREAM_PROBE_OPS unknown: {sorted(unknown)}")
        operators = {k: v for k, v in operators.items() if k in wanted}

    results: dict[str, list[tuple[int, float]]] = {k: [] for k in operators}
    for reps in reps_list:
        src, n_events = stage_input(spark, sf_dir, reps, workdir)
        schema = spark.read.parquet(src).schema
        for name, (op, mode) in operators.items():
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", FILES_PER_TRIGGER)
                .parquet(src)
            )
            ck = os.path.join(workdir, f"ck_{name}_{reps}x_{int(time.time())}")
            m = drain(spark, op(stream), ck, output_mode=mode)
            shutil.rmtree(ck, ignore_errors=True)
            m.update(
                {
                    "op": name,
                    "reps": reps,
                    "rows_in": n_events,
                    "rows_per_sec": round(n_events / max(m["sec"], 1e-3)),
                }
            )
            results[name].append((reps, m["sec"]))
            print(json.dumps(m), flush=True)

    summary = {}
    for name, pts in results.items():
        if len(pts) >= 2:
            (r0, t0), (r1, t1) = pts[0], pts[-1]
            summary[name] = round(
                math.log(max(t1, 1e-3) / max(t0, 1e-3)) / math.log(r1 / r0), 2
            )
    print(json.dumps({"scaling_exponents": summary, "ideal": 1.0, "sf_dir": sf_dir}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
