"""Throughput + state octaves for the Structured Streaming surface.

Every streaming operator has batch-parity and checkpoint-replay pytest
coverage (tests/test_streaming.py), but until this probe the family had
ZERO scale evidence — the one §2.10 gap after round 11 extended octave
coverage to the silver/gold production path. This measures what the
batch probes cannot: micro-batch drain throughput, watermark state
growth, and late-row drops under event amplification.

Protocol: amplify the driver's events table with tools/amplify.py (the
user population grows with reps, so per-key state cardinality grows
like a real deployment's), restage it as
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

import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

from tools.amplify import amplify, bronze_corpus, check_landing, emit  # noqa: E402
from tools.amplify import files_per_leaf, print_calibration, probe_session  # noqa: E402
from tools.amplify import scaling_exponent, select_ops  # noqa: E402

N_FILES = 32
FILES_PER_TRIGGER = 8


def stage_input(spark, sf_dir: str, reps: int, workdir: str) -> tuple[str, int]:
    """Write the amplified stream source once per scale (reused across
    runs — content is deterministic)."""
    from pyspark.sql import functions as F

    from tagmarshal_data_lakehouse_spark.queries import load_views

    path = os.path.join(workdir, f"events_{reps}x")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        amplified = os.path.join(workdir, f"sf_{reps}x")
        amplify(spark, sf_dir, reps, amplified, tables=("events",))
        load_views(spark, amplified, tables=("events",))
        # watermarks require the LTZ TIMESTAMP type; the analytical views
        # carry NTZ by contract, so the stream staging casts (values are
        # wall stamps; the probe session runs UTC, so this is lossless).
        # Range-partition on ts so path order ~= event-time order and
        # the watermark advances monotonically across micro-batches.
        (
            spark.table("events")
            .select("event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id",
                    "event_type", "value")
            .repartitionByRange(N_FILES, "ts")
            .write.mode("overwrite")
            .parquet(path)
        )
        shutil.rmtree(amplified)
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
    (one landing file per course-day here), so sliver accumulation across
    batches would be a regression against the measured 63k-file cliff.
    """
    from tagmarshal_data_lakehouse_spark.storage import Lakehouse
    from tagmarshal_data_lakehouse_spark.streaming.ingest import infer_bronze_schema, stream_silver

    corpus = bronze_corpus(os.path.join(workdir, f"landing_{reps}x"), reps)
    days = corpus.backfill + corpus.refreshes
    lake_root = os.path.join(workdir, f"silver_lake_{reps}x")
    shutil.rmtree(lake_root, ignore_errors=True)
    lake = Lakehouse(spark, lake_root)
    schema = infer_bronze_schema(spark, corpus.backfill[0].path)
    ck = os.path.join(workdir, f"ck_silver_{reps}x_{int(time.time())}")
    t0 = time.perf_counter()
    q = stream_silver(
        spark, lake, corpus.root, schema, ck, max_files_per_trigger=FILES_PER_TRIGGER
    )
    q.processAllAvailable()
    q.stop()
    wall = round(time.perf_counter() - t0, 3)
    shutil.rmtree(ck, ignore_errors=True)

    fact = "silver.fact_telemetry_event"
    quarantined = [lake.read(f"quarantine.{b}") for b in os.listdir(lake.path("quarantine"))]
    landed = (lake.read(fact).count(), sum(q.count() for q in quarantined))
    layout = files_per_leaf(lake.path(fact))
    out = dict(op="silver_ingest", reps=reps, courses=len(corpus.courses),
               batches=-(-len(days) // FILES_PER_TRIGGER), fact_rows=landed[0],
               quarantined=landed[1], **layout, sec=wall)
    emit(**out)
    check_landing(f"streaming silver ingest at {reps}x", landed, days, layout)
    return out


def main() -> int:
    from tagmarshal_data_lakehouse_spark.streaming import events as se

    workdir = os.environ.get("STREAM_PROBE_WORKDIR", "/tmp/streaming_probe")
    os.makedirs(workdir, exist_ok=True)
    spark = probe_session("streaming-probe")

    if len(sys.argv) > 1 and sys.argv[1] == "silver":
        # streaming silver-ingest octaves: tools/streaming_probe.py silver [reps...]
        print_calibration(spark, os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
        pts = [
            (reps, probe_silver_ingest(spark, workdir, reps)["sec"])
            for reps in [int(x) for x in sys.argv[2:]] or [16, 64]
        ]
        if len(pts) >= 2:
            emit(phase="silver_ingest", exponent=scaling_exponent(pts), points=pts)
        return 0

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps_list = [int(x) for x in sys.argv[2:]] or [4, 16, 64]
    print_calibration(spark, sf_dir)
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
    operators = select_ops(operators, "STREAM_PROBE_OPS")

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
            emit(**m)

    summary = {n: scaling_exponent(pts) for n, pts in results.items() if len(pts) >= 2}
    emit(scaling_exponents=summary, ideal=1.0, sf_dir=sf_dir)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
