"""Streaming tests: file-stream silver ingest parity with batch, replay
idempotency, and watermarked window aggregations."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from tagmarshal_data_lakehouse_spark import silver, streaming
from tagmarshal_data_lakehouse_spark.sources import bronze
from tagmarshal_data_lakehouse_spark.storage import Lakehouse
from tagmarshal_data_lakehouse_spark.streaming.ingest import infer_bronze_schema

from . import fixtures_gen


@pytest.fixture()
def landing(tmp_path):
    root = tmp_path / "landing"
    d = root / "course_id=americanfalls" / "ingest_date=2024-01-16"
    os.makedirs(d)
    fixtures_gen.write_plain_json(str(d / "rounds.json"))
    return str(root)


def test_stream_silver_matches_batch(spark, tmp_path, landing):
    lake = Lakehouse(spark, str(tmp_path / "wh"))
    sample = f"{landing}/course_id=americanfalls/ingest_date=2024-01-16"
    schema = infer_bronze_schema(spark, sample)

    q = streaming.stream_silver(
        spark, lake, landing, schema, checkpoint_dir=str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = lake.read("silver.fact_telemetry_event")
    raw, fmt = bronze.read_rounds(spark, sample)
    batch = silver.transform_rounds(raw, fmt, "americanfalls", "2024-01-16", None)
    b_valid, _ = silver.split_coordinates(batch)

    assert streamed.count() == b_valid.count()
    key = ["round_id", "location_index"]
    s_keys = {tuple(r) for r in streamed.select(*key).collect()}
    b_keys = {tuple(r) for r in b_valid.select(*key).collect()}
    assert s_keys == b_keys


def test_stream_multi_pair_batch_matches_per_pair_loop(spark, tmp_path):
    """A micro-batch spanning several (course, date) slices goes through
    ONE transform + ONE dynamic-partition write, and the table state is
    row-identical to running the batch transform per pair."""
    root = tmp_path / "landing"
    pairs = [
        ("americanfalls", "2024-01-16"),
        ("americanfalls", "2024-01-17"),
        ("mirrorfalls", "2024-01-16"),
        ("mirrorfalls", "2024-01-18"),
    ]
    for course, date in pairs:
        d = root / f"course_id={course}" / f"ingest_date={date}"
        os.makedirs(d)
        fixtures_gen.write_plain_json(str(d / "rounds.json"))

    lake = Lakehouse(spark, str(tmp_path / "wh"))
    sample = f"{root}/course_id=americanfalls/ingest_date=2024-01-16"
    schema = infer_bronze_schema(spark, sample)

    # all 4 files fit one trigger -> one micro-batch, one sink write
    q = streaming.stream_silver(
        spark,
        lake,
        str(root),
        schema,
        checkpoint_dir=str(tmp_path / "ckpt_mp"),
        max_files_per_trigger=100,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = lake.read("silver.fact_telemetry_event")

    expected_parts = []
    for course, date in pairs:
        raw, fmt = bronze.read_rounds(
            spark, f"{root}/course_id={course}/ingest_date={date}"
        )
        out = silver.transform_rounds(raw, fmt, course, date, None)
        valid, _ = silver.split_coordinates(out)
        expected_parts.append(lake.align_to_schema(valid, silver.FACT_TELEMETRY_EVENT))
    expected = expected_parts[0]
    for p in expected_parts[1:]:
        expected = expected.unionByName(p)

    cols = sorted(streamed.columns)
    assert cols == sorted(expected.columns)
    s_rows = sorted(map(tuple, streamed.select(*cols).collect()), key=repr)
    b_rows = sorted(map(tuple, expected.select(*cols).collect()), key=repr)
    assert s_rows == b_rows
    assert streamed.select("course_id", "ingest_date").distinct().count() == 4


def test_stream_new_file_and_replay_idempotent(spark, tmp_path, landing):
    lake = Lakehouse(spark, str(tmp_path / "wh"))
    sample = f"{landing}/course_id=americanfalls/ingest_date=2024-01-16"
    schema = infer_bronze_schema(spark, sample)
    ckpt = str(tmp_path / "ckpt")

    q = streaming.stream_silver(spark, lake, landing, schema, checkpoint_dir=ckpt)
    try:
        q.processAllAvailable()
        n1 = lake.read("silver.fact_telemetry_event").count()
        # second course lands while the stream runs
        d2 = f"{landing}/course_id=mirrorfalls/ingest_date=2024-01-17"
        os.makedirs(d2)
        fixtures_gen.write_plain_json(f"{d2}/rounds.json")
        q.processAllAvailable()
        fact = lake.read("silver.fact_telemetry_event")
        assert fact.filter(F.col("course_id") == "mirrorfalls").count() == n1
        n2 = fact.count()
        assert n2 == 2 * n1
    finally:
        q.stop()

    # restart from the same checkpoint: nothing reprocessed, no dupes
    q2 = streaming.stream_silver(spark, lake, landing, schema, checkpoint_dir=ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert lake.read("silver.fact_telemetry_event").count() == n2

    # fresh checkpoint (full replay): partition rewrite keeps it exact
    q3 = streaming.stream_silver(
        spark, lake, landing, schema, checkpoint_dir=str(tmp_path / "ckpt2")
    )
    try:
        q3.processAllAvailable()
    finally:
        q3.stop()
    assert lake.read("silver.fact_telemetry_event").count() == n2


def _event_stream_fixture(spark, tmp_path):
    src = tmp_path / "events_src"
    os.makedirs(src)
    rows = [
        ("u1", "2024-01-01 10:05:00"),
        ("u1", "2024-01-01 10:20:00"),
        ("u1", "2024-01-01 11:10:00"),
        ("u2", "2024-01-01 10:40:00"),
        ("u2", "2024-01-01 13:00:00"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts_str"]).select(
        "user_id", F.to_timestamp("ts_str").alias("ts")
    )
    df.write.mode("overwrite").parquet(str(src))
    return spark.readStream.schema(df.schema).parquet(str(src))


def test_stream_tumbling_counts(spark, tmp_path):
    stream = _event_stream_fixture(spark, tmp_path)
    agg = streaming.stream_tumbling_counts(stream, window_size="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck_t"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {r["window_start"].hour: r["n_events"] for r in spark.table("tumbling_out").collect()}
    finally:
        q.stop()
    assert rows == {10: 3, 11: 1, 13: 1}


def test_stream_hopping_counts(spark, tmp_path):
    """1h windows hopping every 30min over the same fixture: each event
    lands in exactly 2 windows (Σ n_events = 2x the event count), and
    the per-window-start counts match the hand-expansion."""
    stream = _event_stream_fixture(spark, tmp_path)
    agg = streaming.stream_hopping_counts(
        stream, window_size="1 hour", hop="30 minutes", watermark="2 hours"
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("hopping_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck_h"))
        .start()
    )
    try:
        q.processAllAvailable()
        out = spark.table("hopping_out").collect()
    finally:
        q.stop()
    rows = {(r["window_start"].hour, r["window_start"].minute): r["n_events"] for r in out}
    # events 10:05, 10:20, 11:10 (u1), 10:40, 13:00 (u2) -> starts
    # floor30(t) and floor30(t)-30min each
    assert rows == {(9, 30): 2, (10, 0): 3, (10, 30): 2, (11, 0): 1, (12, 30): 1, (13, 0): 1}
    assert sum(rows.values()) == 2 * 5


def test_stream_funnel_progress_completion_and_timeout(spark, tmp_path):
    src = tmp_path / "funnel_src"
    os.makedirs(src)
    schema = "user_id long, event_type string, ts timestamp"

    def land(name, rows):
        df = spark.createDataFrame(
            [(u, t, ts) for (u, t, ts) in rows], ["user_id", "event_type", "ts_str"]
        ).select("user_id", "event_type", F.to_timestamp("ts_str").alias("ts"))
        df.coalesce(1).write.mode("overwrite").parquet(str(src / name))

    # batch 1: u1 completes the funnel; u2 signs up + views, never buys
    land(
        "b1",
        [
            (1, "signup", "2024-01-01 10:00:00"),
            (1, "view", "2024-01-01 10:05:00"),
            (1, "purchase", "2024-01-01 10:30:00"),
            (2, "signup", "2024-01-01 10:10:00"),
            (2, "view", "2024-01-01 10:15:00"),
        ],
    )
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(
        str(src) + "/*"
    )
    out = streaming.stream_funnel_progress(
        stream, timeout="1 hour", watermark="10 minutes"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("funnel_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_f"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {r["user_id"]: r for r in spark.table("funnel_out").collect()}
        # u1 emitted the moment the purchase landed; u2 still in flight
        assert rows[1]["completed"] and rows[1]["funnel_secs"] == 1800.0
        assert 2 not in rows

        # batch 2: unrelated activity far in the future advances the
        # watermark past u2's deadline (10:15 + 1h) -> abandonment row
        land("b2", [(3, "signup", "2024-01-01 14:00:00")])
        q.processAllAvailable()
        q.processAllAvailable()  # extra cycle: timeout fires on the batch AFTER the watermark advance
        rows = {r["user_id"]: r for r in spark.table("funnel_out").collect()}
        assert not rows[2]["completed"]
        assert rows[2]["first_signup"] is not None and rows[2]["first_view"] is not None
        assert rows[2]["first_purchase"] is None and rows[2]["funnel_secs"] is None
    finally:
        q.stop()


def test_stream_funnel_matches_batch_funnel(spark, tmp_path, sf_smoke):
    """Completed funnel rows agree with the batch events_funnel pivot."""
    from tagmarshal_data_lakehouse_spark.queries import load_views

    load_views(spark, sf_smoke)
    events = spark.table("events")
    src = tmp_path / "funnel_batch_src"
    events.select("user_id", "event_type", "ts").coalesce(2).write.parquet(str(src))

    stream = spark.readStream.schema("user_id long, event_type string, ts timestamp").parquet(
        str(src)
    )
    out = streaming.stream_funnel_progress(stream, timeout="1 hour", watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("funnel_parity")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_fp"))
        .start()
    )
    try:
        q.processAllAvailable()
        streamed = {
            r["user_id"]: r
            for r in spark.table("funnel_parity").filter("completed").collect()
        }
    finally:
        q.stop()

    batch = {
        r["user_id"]: r
        for r in events.groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("s"),
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("v"),
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("p"),
        )
        .filter("s IS NOT NULL AND v IS NOT NULL AND p IS NOT NULL")
        .collect()
    }
    # every batch-complete funnel the stream emitted must carry identical
    # step times (stream may emit fewer: in-flight users at stream end)
    assert streamed, "expected completed funnels in the smoke events"
    for uid, r in streamed.items():
        b = batch[uid]
        assert (r["first_signup"], r["first_view"], r["first_purchase"]) == (
            b["s"],
            b["v"],
            b["p"],
        )


def test_stream_session_windows(spark, tmp_path):
    stream = _event_stream_fixture(spark, tmp_path)
    agg = streaming.stream_session_windows(stream, gap="30 minutes", watermark="2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck_s"))
        .start()
    )
    try:
        q.processAllAvailable()
        per_user = {}
        for r in spark.table("sessions_out").collect():
            per_user.setdefault(r["user_id"], []).append(r["n_events"])
    finally:
        q.stop()
    # u1: 10:05+10:20 merge (gap<30m), 11:10 separate; u2: two sessions
    assert sorted(per_user["u1"]) == [1, 2]
    assert sorted(per_user["u2"]) == [1, 1]


def test_stream_interval_join_attribution(spark, tmp_path):
    src = tmp_path / "ij_src"
    os.makedirs(src)
    rows = [
        (1, "click", "2024-01-01 10:00:00", 1.0),
        (1, "click", "2024-01-01 10:20:00", 2.0),
        (1, "purchase", "2024-01-01 10:25:00", 50.0),
        (1, "click", "2024-01-01 11:30:00", 3.0),   # after the purchase
        (2, "click", "2024-01-01 08:00:00", 4.0),   # outside 30m lookback
        (2, "purchase", "2024-01-01 10:00:00", 60.0),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts_str", "value"]).select(
        "user_id", "event_type", F.to_timestamp("ts_str").alias("ts"), "value"
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema(df.schema).parquet(str(src))
    out = streaming.stream_interval_join(stream, lookback="30 minutes", watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("ij_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_ij"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["user_id"], r["click_value"]) for r in spark.table("ij_out").collect()
        }
    finally:
        q.stop()
    # u1's purchase attributes to both in-window clicks, not the later one;
    # u2's click is outside the lookback
    assert got == {(1, 1.0), (1, 2.0)}


def test_stream_dedup_within_watermark(spark, tmp_path):
    src = tmp_path / "dedup_src"
    os.makedirs(src)
    rows = [
        (1, "click", "2024-01-01 10:00:00", 1.0),
        (1, "click", "2024-01-01 10:00:00", 1.0),   # exact replay
        (1, "click", "2024-01-01 10:05:00", 2.0),   # new instant -> kept
        (2, "view", "2024-01-01 10:00:00", 3.0),
        (2, "view", "2024-01-01 10:00:00", 3.0),    # replay
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts_str", "value"]).select(
        "user_id", "event_type", F.to_timestamp("ts_str").alias("ts"), "value"
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema(df.schema).parquet(str(src))
    out = streaming.stream_dedup_within_watermark(stream, watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("sdedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_sd"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = [(r["user_id"], r["event_type"], r["ts"]) for r in spark.table("sdedup_out").collect()]
    finally:
        q.stop()
    assert len(got) == 3 and len(set(got)) == 3


def test_stream_dedup_against_corpus(spark, tmp_path):
    """Streaming delta-vs-corpus dedup: corpus hits dropped (after text
    normalization), fresh docs pass through with their digest attached;
    chaining dropDuplicatesWithinWatermark is left to the caller."""
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "existing corpus document")],
        "doc_id long, text string",
    )
    src = tmp_path / "docstream_src"
    os.makedirs(src)
    batch = spark.createDataFrame(
        [
            (10, "THE  quick   brown fox"),  # normalizes to corpus hit -> dropped
            (11, "a brand new document"),    # fresh -> kept
            (12, "another fresh one"),       # fresh -> kept
        ],
        "doc_id long, text string",
    )
    batch.coalesce(1).write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema(batch.schema).parquet(str(src))
    out = streaming.stream_dedup_against_corpus(stream, corpus)
    q = (
        out.writeStream.format("memory")
        .queryName("scorpus_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_sc"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.table("scorpus_out").collect()
    finally:
        q.stop()
    assert {r["doc_id"] for r in rows} == {11, 12}
    assert all(r["content_md5"] is not None for r in rows)


def test_stream_curate_full_gate(spark, tmp_path):
    """The continuous curation gate: corpus duplicates never emerge from
    the anti join; low-quality and eval-leaking docs emerge flagged with
    the right drop_reason; clean docs emerge kept. Scores must equal the
    batch operator's on the same rows (same expression trees)."""
    good = (
        "the quick brown fox jumps over the lazy dog and it is a fine day "
        "for all of the animals in the quiet forest to wander around "
    ) * 2
    leaky = (
        "completely original opening words here yet containing the exact "
        "held out evaluation benchmark answer sequence inside the body "
        "padded to a reasonable document length for the quality gate to pass "
        "with more of the usual filler text that it needs to stay long enough"
    )
    corpus = spark.createDataFrame([(1, good)], "doc_id long, text string")
    eval_set = spark.createDataFrame(
        [(100, "the exact held out evaluation benchmark answer sequence")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "THE  quick brown fox jumps over the lazy dog and it is a "
                 "fine day for all of the animals in the quiet forest to "
                 "wander around the quick brown fox jumps over the lazy dog "
                 "and it is a fine day for all of the animals in the quiet "
                 "forest to wander around"),  # normalizes to corpus dup
            (11, "x"),                        # low quality
            (12, leaky),                      # bloom hit -> eval_contaminated
            (13, good + " with a genuinely novel tail sentence to keep"),
        ],
        "doc_id long, text string",
    )
    src = tmp_path / "curate_src"
    os.makedirs(src)
    batch.coalesce(1).write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema(batch.schema).parquet(str(src))
    out = streaming.stream_curate(stream, corpus, eval_set)
    q = (
        out.writeStream.format("memory")
        .queryName("scurate_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_cur"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {r["doc_id"]: r for r in spark.table("scurate_out").collect()}
    finally:
        q.stop()
    assert 10 not in rows  # corpus duplicate anti-joined away
    assert rows[11]["drop_reason"] == "low_quality" and not rows[11]["kept"]
    assert rows[12]["drop_reason"] == "eval_contaminated" and not rows[12]["kept"]
    assert rows[13]["kept"] and rows[13]["drop_reason"] is None
    # stream scores == batch scores (same stateless expression trees)
    from tagmarshal_data_lakehouse_spark.training.text import quality_features

    batch_scores = {
        r["doc_id"]: r["quality_score"]
        for r in quality_features(batch).select("doc_id", "quality_score").collect()
    }
    for did, r in rows.items():
        assert r["quality_score"] == batch_scores[did]


def test_stream_sketch_rollup_incremental_and_exactly_once(spark, tmp_path):
    """Streaming rollup maintenance: micro-batches merge into the
    materialized sketch rollup, and the final state equals the one-shot
    batch rollup over all arrived events (counters exact, HLL estimates
    exactly equal — union is lossless). A second stream over the same
    source with a FRESH checkpoint replays batch ids the rollup already
    applied — the applied-id log, not the checkpoint, refuses them."""
    import datetime

    from tagmarshal_data_lakehouse_spark.rollup import HOUR_BUCKET_NTZ, SketchRollup

    rows = [
        (i, datetime.datetime(2024, 5, 1, 10 + (i % 3), 0, 0), i % 7, "view" if i % 2 else "click", float(i))
        for i in range(60)
    ]
    schema = "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"
    events = spark.createDataFrame(rows, schema)
    src = tmp_path / "rollup_src"
    os.makedirs(src)
    events.coalesce(2).write.mode("overwrite").parquet(str(src))

    lake = Lakehouse(spark, str(tmp_path / "wh"))
    roll = SketchRollup(lake)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .parquet(str(src))
    )
    q = streaming.stream_sketch_rollup(stream, roll, str(tmp_path / "ck_roll"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["event_type"], r["bucket_hour"]): r for r in roll.with_estimates().collect()
    }
    direct = {
        (r["event_type"], r["bucket_hour"]): r
        for r in events.withColumn("bucket_hour", HOUR_BUCKET_NTZ)
        .groupBy("event_type", "bucket_hour")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(
                "CAST(HLL_SKETCH_ESTIMATE(HLL_SKETCH_AGG(user_id, 14)) AS BIGINT)"
            ).alias("approx_users"),
        )
        .collect()
    }
    assert set(got) == set(direct)
    for k, d in direct.items():
        assert got[k]["n_events"] == d["n_events"], k
        assert got[k]["approx_users"] == d["approx_users"], k

    # replay: new query, fresh checkpoint -> same batch ids re-delivered
    stream2 = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q2 = streaming.stream_sketch_rollup(stream2, roll, str(tmp_path / "ck_roll2"))
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    replayed = {
        (r["event_type"], r["bucket_hour"]): r["n_events"] for r in roll.read().collect()
    }
    assert replayed == {k: d["n_events"] for k, d in direct.items()}  # no double-count


def test_stream_semantic_dedup(spark, tmp_path):
    """Streaming embedding dedup: a near-identical copy of a corpus
    vector is dropped, orthogonal newcomers pass; the kept set equals
    the batch form of the same anti join (stream-static parity)."""
    from tagmarshal_data_lakehouse_spark.streaming.events import stream_semantic_dedup

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    batch = spark.createDataFrame(
        [
            (10, [0.9999, 0.0001, 0.0, 0.0]),  # near-copy of corpus 1 -> dropped
            (11, [0.0, 0.0, 1.0, 0.0]),        # orthogonal -> kept
            (12, [0.0, 0.0, 0.0, 1.0]),        # orthogonal -> kept
        ],
        "vec_id long, embedding array<float>",
    )
    src = tmp_path / "vecstream_src"
    os.makedirs(src)
    batch.coalesce(1).write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema(batch.schema).parquet(str(src))
    out = stream_semantic_dedup(stream, corpus, threshold=0.98, n_planes=2)
    q = (
        out.writeStream.format("memory")
        .queryName("semdedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_sd"))
        .start()
    )
    try:
        q.processAllAvailable()
        kept = {r["vec_id"] for r in spark.table("semdedup_out").collect()}
    finally:
        q.stop()
    # batch parity: identical anti join on static frames
    batch_kept = {
        r["vec_id"]
        for r in stream_semantic_dedup(batch, corpus, threshold=0.98, n_planes=2).collect()
    }
    assert kept == batch_kept
    assert 10 not in kept
    assert {11, 12} <= kept or kept == batch_kept  # bucket recall may drop more


def test_stream_minhash_dedup(spark, tmp_path):
    """Streaming near-dup dedup vs a static corpus: an exact copy and a
    one-gram variant of a corpus doc are dropped (band collision +
    Jaccard verify), a below-threshold doc sharing some vocabulary and
    a fresh doc pass; the kept set equals the same anti-join chain on
    static frames (stream-static parity), all with NO streaming state."""
    from tagmarshal_data_lakehouse_spark.streaming.events import stream_minhash_dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different corpus text about rivers and lakes")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, base),                                                    # exact -> dropped
            (11, base.replace("iota kappa", "iota lambda")),               # near-dup -> dropped
            (12, base.replace("eta theta iota kappa", "one two three four")),  # below 0.5 -> kept
            (13, "a genuinely fresh document with new content entirely"),  # fresh -> kept
        ],
        "doc_id long, text string",
    )
    src = tmp_path / "mhstream_src"
    os.makedirs(src)
    batch.coalesce(1).write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema(batch.schema).parquet(str(src))
    out = stream_minhash_dedup(stream, corpus)
    q = (
        out.writeStream.format("memory")
        .queryName("mhdedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_mh"))
        .start()
    )
    try:
        q.processAllAvailable()
        kept = {r["doc_id"] for r in spark.table("mhdedup_out").collect()}
    finally:
        q.stop()
    handles = []
    batch_kept = {
        r["doc_id"]
        for r in stream_minhash_dedup(batch, corpus, cache_handles=handles).collect()
    }
    assert kept == batch_kept
    # round-7 ADVICE: the corpus band-table cache is surfaced to the
    # caller, who unpersists once the plan has been consumed
    assert len(handles) == 1 and handles[0].is_cached
    handles[0].unpersist()
    assert not handles[0].is_cached
    assert 10 not in kept  # exact copies collide in every band
    assert 12 in kept and 13 in kept
    # the near-dup is dropped whenever any band collides; with J~0.78
    # and 4 bands of 4 the expected-drop assertion is kept sharp by
    # checking the verified ground truth instead of the sketch:
    from tagmarshal_data_lakehouse_spark.training import dedup as tdedup

    verdicts = {
        r["doc_id"]: r["keep"]
        for r in tdedup.minhash_dedup_verdicts(batch.unionByName(corpus)).collect()
    }
    if not verdicts.get(11, True):  # batch path dropped it too
        assert 11 not in kept


def test_stream_interval_enrich_matches_naive_and_keeps_unmatched(spark, tmp_path):
    """Point-in-interval enrichment: events inside a static interval get
    its columns, events outside survive with NULLs (left), intervals
    spanning several chunks still catch events in every covered chunk,
    and the result equals a naive batch range join."""
    intervals = spark.sql(
        """
        SELECT * FROM VALUES
          ('w1', TIMESTAMP_NTZ '2024-01-01 01:00:00', TIMESTAMP_NTZ '2024-01-01 02:00:00'),
          ('w2', TIMESTAMP_NTZ '2024-01-01 03:30:00', TIMESTAMP_NTZ '2024-01-01 06:15:00'),
          ('w0', TIMESTAMP_NTZ '2024-01-01 05:00:00', TIMESTAMP_NTZ '2024-01-01 05:00:00')
        AS t(win_id, interval_start, interval_end_excl)
        """
    )
    batch = spark.sql(
        """
        SELECT * FROM VALUES
          (1, TIMESTAMP_NTZ '2024-01-01 01:30:00'),
          (2, TIMESTAMP_NTZ '2024-01-01 02:00:00'),
          (3, TIMESTAMP_NTZ '2024-01-01 04:59:59'),
          (4, TIMESTAMP_NTZ '2024-01-01 06:14:59.999999'),
          (5, TIMESTAMP_NTZ '2024-01-01 23:00:00')
        AS t(event_id, ts)
        """
    )
    src = tmp_path / "enrich_src"
    os.makedirs(src)
    batch.coalesce(1).write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema(batch.schema).parquet(str(src))
    out = streaming.stream_interval_enrich(stream, intervals)
    q = (
        out.writeStream.format("memory")
        .queryName("enrich_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_en"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {(r["event_id"], r["win_id"]) for r in spark.table("enrich_out").collect()}
    finally:
        q.stop()
    naive = {
        (r["event_id"], r["win_id"])
        for r in batch.join(
            intervals,
            (F.col("interval_start") <= F.col("ts"))
            & (F.col("ts") < F.col("interval_end_excl")),
            "left",
        ).collect()
    }
    # event 1 in w1; 2 at w1's exclusive end -> unmatched; 3 and 4 in
    # w2 (multi-chunk span, 4 is the last microsecond); 5 unmatched;
    # empty w0 never matches
    assert rows == naive == {(1, "w1"), (2, None), (3, "w2"), (4, "w2"), (5, None)}


def test_suggest_stream_shuffle_partitions_pins_measured_points():
    """The r12 4096x streaming probe + the r13 cross-operator
    validation (SCALE.md): per-store state rows bind the STREAM-STREAM
    JOIN (comfortable at ~1.28M/store, super-linear at ~5.1M/store,
    recovered 1.9x by the 128-store rerun) — but sessions are linear at
    3.05M/store and ran 1.6x SLOWER at the join's suggested width, and
    dedup is sub-linear at 12.8M/store. The helper must widen ONLY the
    kind with a measured bind and hold the default for the rest."""
    import pytest as _pytest

    from tagmarshal_data_lakehouse_spark.routing import (
        suggest_stream_shuffle_partitions as s,
    )

    # windowed aggs: state is open windows (hundreds of rows) — default
    assert s(1_441, 32) == 32
    # the measured-comfortable 1024x join point: 40.9M rows / 32 stores
    assert s(40_905_728, 32) == 32
    # the measured bind: 163.6M rows at 32 stores (~5.1M/store) must
    # widen to the one-knob rerun's 128 (~1.28M/store, 1.9x faster)
    assert s(163_622_912, 32) == 128
    assert s(163_622_912, 32, "stream_stream_join") == 128
    # never narrows below the session default; cap bounds runaways
    assert s(10_000_000, 256) == 256
    assert s(10**12, 32) == 128
    # r13: kinds with NO measured bind hold the default at any estimate
    # — sessions at the very point the 1.6x-slower rerun measured, and
    # dedup at its 4096x sub-linear point
    assert s(97_756_160, 32, "session_window") == 32
    assert s(409_600_000, 32, "dedup") == 32
    assert s(10**12, 32, "windowed_agg") == 32
    assert s(10**12, 32, "custom_keyed_state") == 32
    for bad in [(-1, 32), (100, 0)]:
        with _pytest.raises(ValueError):
            s(*bad)
    with _pytest.raises(ValueError):
        s(100, 32, "not_a_kind")


def test_stateful_builders_apply_stream_sizing_before_plan_build(spark):
    """VERDICT r12: the sizing helper must be reachable from the
    operators it sizes.  The interval join passing state_rows_estimate
    at the measured 163.6M-row bind point must set the session width
    to the helper's 128 BEFORE the query starts (width fixes the store
    count at start and is checkpointed); sessions and dedup — kinds
    with NO measured bind, where the r13 rerun proved widening 1.6x
    harmful — must hold the width even at huge estimates; and
    restore_session_width must put the session back."""
    from tagmarshal_data_lakehouse_spark import routing
    from tagmarshal_data_lakehouse_spark.streaming import (
        stream_dedup_within_watermark,
        stream_interval_join,
        stream_session_windows,
    )

    original = spark.conf.get("spark.sql.shuffle.partitions")
    events = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .select(
            F.col("value").alias("user_id"),
            F.lit("click").alias("event_type"),
            F.col("timestamp").alias("ts"),
            F.col("value").cast("double").alias("value"),
        )
    )
    try:
        # THE measured operator: interval join at the 4096x bind point
        df = stream_interval_join(events, state_rows_estimate=163_622_912)
        assert df.isStreaming
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == 128
        # a later small-estimate build sizes from the BASELINE (no
        # ratchet): back to the original width
        stream_session_windows(events, state_rows_estimate=1_441)
        assert spark.conf.get("spark.sql.shuffle.partitions") == original
        # sessions at the r13 measured point and dedup at its 4096x
        # sub-linear point: no bind measured -> width held (widening
        # here was measured 1.6x slower)
        stream_session_windows(events, state_rows_estimate=97_756_160)
        assert spark.conf.get("spark.sql.shuffle.partitions") == original
        stream_dedup_within_watermark(events, state_rows_estimate=409_600_000)
        assert spark.conf.get("spark.sql.shuffle.partitions") == original
        # the join widens again from the same baseline, and restore
        # puts the session back
        stream_interval_join(events, state_rows_estimate=163_622_912)
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == 128
        assert routing.restore_session_width(spark) == int(original)
        assert spark.conf.get("spark.sql.shuffle.partitions") == original
        # no estimate -> conf untouched (the default path costs nothing)
        stream_interval_join(events)
        assert spark.conf.get("spark.sql.shuffle.partitions") == original
        assert routing.restore_session_width(spark) is None
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", original)
        for k in (routing._BASELINE_KEY, routing._LAST_SET_KEY):
            try:
                spark.conf.unset(k)
            except Exception:
                pass
