"""Watermarked event-time analytics over a telemetry/event stream.

The batch registry already proves these semantics against a DuckDB
oracle (events_tumbling_window / events_sessionize); here the same
aggregations run as Structured Streaming with watermarks, which is what
a live 100 TB/day feed needs:
- tumbling window: groupBy(window(ts, size)) with a late-data watermark
  -> incremental state, emitted on watermark advance;
- session window: the built-in `session_window` (gap-based), replacing
  the batch LAG-cumulative-sum sessionization with Spark's native
  stateful operator.

The window/session shapes are pure built-ins.  `stream_funnel_progress`
is the one genuinely custom stateful operator: per-user funnel completion
across micro-batches (emit the moment the last step lands, or an
incomplete row when event-time passes the deadline) — cross-batch,
early-emitting logic that windowed aggregation cannot express, so it uses
`applyInPandasWithState` (Arrow-batched, bounded state per key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import routing


def _maybe_size_session(
    df: DataFrame, state_rows_estimate: int | None, operator: str
) -> None:
    """Apply the measured per-store state sizing before the plan is
    built (routing.size_session) — the width must be in force when the
    query STARTS, because it fixes the state store count and is pinned
    into the checkpoint.  Every stateful builder here takes a
    ``state_rows_estimate=`` parameter routing through this, so the
    measured remedy is reachable from the operators it sizes (VERDICT
    r12).  The builder passes its own operator kind: sizing widens ONLY
    kinds with a measured per-store bind (the stream-stream join); for
    the rest the call is a documented no-op — the r13 sessions rerun
    measured widening 1.6x harmful where no bind exists."""
    if state_rows_estimate is not None:
        routing.size_session(df.sparkSession, operator, state_rows_estimate)


def stream_tumbling_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    window_size: str = "1 hour",
    watermark: str = "2 hours",
    state_rows_estimate: int | None = None,
) -> DataFrame:
    """Per-window event counts + distinct-ish user count (approx at
    stream time is exact per window here since the key is grouped).

    `state_rows_estimate` (open windows — scale-invariant for tumbling,
    so usually tiny) routes through routing.size_session —
    a no-op for windowed aggs, whose state is scale-invariant."""
    _maybe_size_session(events, state_rows_estimate, "windowed_agg")
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_size).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.approx_count_distinct(key_col).alias("approx_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "approx_users",
        )
    )


def stream_hopping_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    window_size: str = "1 hour",
    hop: str = "30 minutes",
    watermark: str = "2 hours",
    state_rows_estimate: int | None = None,
) -> DataFrame:
    """Hopping (sliding) window counts — the streaming counterpart of
    the batch registry's events_hopping_window. Here the expansion into
    size/hop overlapping windows is Spark's own `window(ts, size, hop)`
    (the built-in maintains incremental state per open window and emits
    on watermark advance); the batch form proves the same semantics
    against the DuckDB oracle with an explicit 2-row in-plan expansion.
    State per key grows with size/hop concurrently-open windows — keep
    the ratio small on a 100 TB/day feed.  `state_rows_estimate` (open
    windows x size/hop) routes through routing.size_session —
    a no-op for windowed aggs, whose state is scale-invariant."""
    _maybe_size_session(events, state_rows_estimate, "windowed_agg")
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_size, hop).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.approx_count_distinct(key_col).alias("approx_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "approx_users",
        )
    )


def stream_funnel_progress(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    steps: tuple[str, str, str] = ("signup", "view", "purchase"),
    timeout: str = "2 hours",
    watermark: str = "1 hour",
    state_rows_estimate: int | None = None,
) -> DataFrame:
    """Per-user funnel tracker as a custom stateful streaming operator.

    For each user, remember the first event time of every funnel step
    across micro-batches; the moment the final step arrives, emit one
    completion row and drop the state.  If event time advances past
    `timeout` beyond the user's last activity without completion, emit an
    incomplete row (abandonment record) on timeout and drop the state.

    Why custom state: windowed/session aggregation emits only on
    watermark advance and cannot (a) emit *immediately* on completion,
    nor (b) produce explicit abandonment rows.  The batch equivalent of
    the completed rows is events_funnel's per-user MIN pivot.

    Scale shape: state is three epoch-micro longs per in-flight user
    (bounded, self-cleaning via completion/timeout); processing is
    Arrow-batched pandas per key group; one shuffle on user_id — the same
    key the built-in stateful operators would use.  `state_rows_estimate`
    (in-flight users) routes through routing.size_session —
    a no-op today: bounded per-key state has no measured bind.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    _maybe_size_session(events, state_rows_estimate, "custom_keyed_state")

    timeout_ms = _duration_ms(timeout)
    step_a, step_b, step_c = steps

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField(f"first_{step_a}", T.TimestampType()),
            T.StructField(f"first_{step_b}", T.TimestampType()),
            T.StructField(f"first_{step_c}", T.TimestampType()),
            T.StructField("completed", T.BooleanType()),
            T.StructField("funnel_secs", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("a_us", T.LongType()),
            T.StructField("b_us", T.LongType()),
            T.StructField("c_us", T.LongType()),
            T.StructField("last_seen_us", T.LongType()),
        ]
    )

    # Closure-local so cloudpickle serializes it by value — executors
    # never need this package importable (the simhash lesson).
    def track(key, pdf_iter, state: GroupState):
        import pandas as pd

        def emit(a_us, b_us, c_us):
            done = a_us is not None and b_us is not None and c_us is not None
            return pd.DataFrame(
                {
                    "user_id": [key[0]],
                    f"first_{step_a}": [pd.NaT if a_us is None else pd.Timestamp(a_us, unit="us")],
                    f"first_{step_b}": [pd.NaT if b_us is None else pd.Timestamp(b_us, unit="us")],
                    f"first_{step_c}": [pd.NaT if c_us is None else pd.Timestamp(c_us, unit="us")],
                    "completed": [done],
                    "funnel_secs": [(c_us - a_us) / 1e6 if done else None],
                }
            )

        if state.hasTimedOut:
            a_us, b_us, c_us, _ = state.get
            state.remove()
            yield emit(a_us, b_us, c_us)
            return

        a_us, b_us, c_us, last_us = state.get if state.exists else (None, None, None, None)

        def first_us(pdf, step, current):
            hit = pdf.loc[pdf["event_type"] == step, "ts"]
            if hit.empty:
                return current
            batch_min = hit.min().value // 1000  # ns -> us
            return batch_min if current is None else min(current, batch_min)

        for pdf in pdf_iter:
            a_us = first_us(pdf, step_a, a_us)
            b_us = first_us(pdf, step_b, b_us)
            c_us = first_us(pdf, step_c, c_us)
            batch_max = pdf["ts"].max().value // 1000
            last_us = batch_max if last_us is None else max(last_us, batch_max)

        if a_us is not None and b_us is not None and c_us is not None:
            if state.exists:
                state.remove()
            yield emit(a_us, b_us, c_us)
            return

        state.update((a_us, b_us, c_us, last_us))
        # deadline rides event time: fires only when the watermark passes it
        state.setTimeoutTimestamp(last_us // 1000 + timeout_ms)
        yield emit(None, None, None).iloc[0:0]  # nothing to emit yet

    renamed = events.select(
        F.col(user_col).cast("long").alias("user_id"),
        F.col(type_col).alias("event_type"),
        F.col(ts_col).alias("ts"),
    )
    return (
        renamed.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            track, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def _duration_ms(spec: str) -> int:
    """'2 hours' / '30 minutes' / '45 seconds' -> milliseconds."""
    qty, unit = spec.split()
    factor = {"second": 1_000, "minute": 60_000, "hour": 3_600_000}[unit.rstrip("s")]
    return int(qty) * factor


def stream_session_windows(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    state_rows_estimate: int | None = None,
) -> DataFrame:
    """Gap-based sessions per key via the native session_window operator.

    `state_rows_estimate` (concurrently-open sessions, ~users x open
    sessions each) routes through routing.size_session — a
    documented NO-OP: sessions are linear (not bound) at the measured
    3.05M rows/store, and the r13 one-knob rerun at the join's
    suggested width was 1.6x SLOWER (SCALE.md), so no width change is
    applied until a measured sessions bind exists."""
    _maybe_size_session(events, state_rows_estimate, "session_window")
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col), F.session_window(F.col(ts_col), gap).alias("s"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col(key_col),
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )


def stream_interval_join(
    events: DataFrame,
    left_type: str = "purchase",
    right_type: str = "click",
    lookback: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    state_rows_estimate: int | None = None,
) -> DataFrame:
    """Stream-stream interval join: each `left_type` event joined to every
    `right_type` event by the same user within the preceding `lookback`.

    The attribution shape ("which clicks preceded this purchase") as a
    true two-stream join: both sides carry watermarks and the join
    condition bounds event-time distance, which is exactly what lets
    Spark expire join state — without the interval bound the state would
    grow forever.  Equi-key (user) + time-range condition → state is
    partitioned by user and pruned at watermark - lookback.

    `state_rows_estimate` (both sides' rows within the watermark
    horizon — THE operator the r12 4096x probe measured the per-store
    bind on) applies the measured sizing via
    routing.size_session before the plan builds; at the
    probe's 163.6M-row point the suggested width ran 1.9x faster than
    the 32-store default.
    """
    _maybe_size_session(events, state_rows_estimate, "stream_stream_join")
    base = events.select(
        F.col(user_col).alias("user_id"),
        F.col(type_col).alias("event_type"),
        F.col(ts_col).alias("ts"),
        F.col("value"),
    )
    left = (
        base.filter(F.col("event_type") == left_type)
        .select(
            F.col("user_id").alias("l_user"),
            F.col("ts").alias("l_ts"),
            F.col("value").alias("l_value"),
        )
        .withWatermark("l_ts", watermark)
    )
    right = (
        base.filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("r_ts"),
            F.col("value").alias("r_value"),
        )
        .withWatermark("r_ts", watermark)
    )
    return left.join(
        right,
        F.expr(
            f"l_user = r_user AND r_ts >= l_ts - INTERVAL {lookback} AND r_ts <= l_ts"
        ),
        "inner",
    ).select(
        F.col("l_user").alias("user_id"),
        F.col("l_ts").alias("purchase_ts"),
        F.col("l_value").alias("purchase_value"),
        F.col("r_ts").alias("click_ts"),
        F.col("r_value").alias("click_value"),
    )


def stream_dedup_within_watermark(
    events: DataFrame,
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "1 hour",
    state_rows_estimate: int | None = None,
) -> DataFrame:
    """Streaming exact dedup: drop repeats of a business key arriving
    within the watermark horizon.

    The streaming form of the engine's W1 batch dedup (ordered-window
    row_number): `dropDuplicatesWithinWatermark` keeps the FIRST arrival
    per key and expires key state once the watermark passes, so state is
    bounded by (keys per watermark window), not by stream history —
    the property that lets an at-least-once source (kafka replays,
    overlapping file drops) feed an exactly-once table.

    `state_rows_estimate` (distinct keys within the watermark horizon)
    routes through routing.size_session — a documented
    NO-OP on the RocksDB session default: dedup ran SUB-linear at
    12.8M rows/store (r12 4096x), so there is no bind to widen for.
    The knob that matters at depth is the store PROVIDER: the heap
    store GC-binds at 102.4M keys (exponent 2.66) where RocksDB stays
    sub-linear — keep the session default.
    """
    _maybe_size_session(events, state_rows_estimate, "dedup")
    key_cols = key_cols or ["user_id", "event_type", ts_col]
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(key_cols)


def stream_dedup_against_corpus(
    docs_stream: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Streaming delta-vs-corpus dedup: the continuous-ingest form of
    `training.dedup.incremental_dedup` — new documents arriving on a
    stream are dropped when their normalized-content digest already
    exists in the (static, immutable-for-this-run) training corpus.

    Stream-static LEFT ANTI join: Spark re-plans the static side per
    micro-batch, streams state-FREE (no watermark needed — the corpus is
    not a stream), and the anti join is the only stateless join shape
    that filters without widening the row.  At 100 TB the static side is
    the corpus DIGEST table (one md5 column, written at last ingest),
    bucketed on the digest so each micro-batch joins without a corpus
    shuffle; broadcast kicks in automatically below the threshold.

    Within-batch repeats are NOT handled here (an anti join cannot see
    sibling rows) — chain `stream_dedup_within_watermark` on the digest
    column downstream for that, which this function exposes by emitting
    `content_md5` alongside the input columns.
    """
    from ..training.dedup import normalize_text

    digests = corpus.select(
        F.md5(normalize_text(F.col(text_col))).alias("content_md5")
    ).distinct()
    return (
        docs_stream.withColumn(
            "content_md5", F.md5(normalize_text(F.col(text_col)))
        )
        .join(digests, "content_md5", "left_anti")
    )


def stream_interval_enrich(
    events_stream: DataFrame,
    intervals: DataFrame,
    ts_col: str = "ts",
    start_col: str = "interval_start",
    end_col: str = "interval_end_excl",
    chunk_micros: int = 3_600_000_000,
    how: str = "left",
) -> DataFrame:
    """Stream-static point-in-interval enrichment: tag each streaming
    event with the static half-open interval(s) containing its
    timestamp (e.g. the busy-hour islands of
    `queries.events_ops.events_activity_islands`, maintenance windows,
    campaign periods).

    This is the streaming face of `operators.interval_overlap_join`
    with the stream side as degenerate point-intervals: the event's
    chunk id is ONE row-local expression (a point covers exactly one
    chunk, so the report-once logic disappears), the static intervals
    explode into their covered chunks when the micro-batch plan is
    built, and the join is a plain stream-static equi-join on chunk id
    refined by `start <= ts < end` — state-FREE (no watermark, no join
    state), because the static side is re-planned per micro-batch and a
    point matches within its own chunk only.  A raw range-predicate
    stream-static join would plan as a per-batch nested loop over the
    whole interval table; here the batch probes only its chunk's
    intervals.

    `how='left'` keeps unmatched events (interval columns NULL) —
    enrichment semantics; `'inner'` filters to in-interval events.
    Contract matches the batch operator: NTZ timestamps, half-open
    intervals, empty intervals dropped, column names disjoint.
    """
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    lhs = events_stream.withColumn(
        "_e_chunk",
        F.expr(
            f"TIMESTAMPDIFF(MICROSECOND, {epoch}, {ts_col}) div {chunk_micros}"
        ),
    )
    rhs = (
        intervals.filter(F.col(end_col) > F.col(start_col))
        .withColumn(
            "_i_chunk",
            F.explode(
                F.sequence(
                    F.expr(
                        f"TIMESTAMPDIFF(MICROSECOND, {epoch}, {start_col})"
                        f" div {chunk_micros}"
                    ),
                    F.expr(
                        f"(TIMESTAMPDIFF(MICROSECOND, {epoch}, {end_col}) - 1)"
                        f" div {chunk_micros}"
                    ),
                )
            ),
        )
    )
    return (
        lhs.join(
            rhs,
            (F.col("_e_chunk") == F.col("_i_chunk"))
            & (F.col(start_col) <= F.col(ts_col))
            & (F.col(ts_col) < F.col(end_col)),
            how,
        )
        .drop("_e_chunk", "_i_chunk")
    )


def stream_semantic_dedup(
    vec_stream: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.98,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Streaming embedding-space dedup: new vectors arriving on a stream
    are dropped when the (static) accepted-vector corpus already holds a
    near-identical vector — the continuous-ingest form of SemDeDup-style
    semantic deduplication (`training.similarity.semantic_dedup`), keyed
    by hyperplane-LSH buckets instead of k-means cells (bucket assignment
    is a row-local expression, so the stream side needs no model and no
    extra pass).

    ONE stateless stream-static LEFT ANTI join carries the whole
    operator: the join condition is (same hyperplane bucket) AND
    (cosine >= threshold), so Catalyst extracts the bucket equality as
    the hash-join key and evaluates the cosine fold as the join filter —
    no watermark, no aggregation state, corpus re-planned per
    micro-batch.  At 100 TB the static side is the accepted-vector table
    bucketed on the same sign sketch, so each micro-batch joins without
    a corpus shuffle; broadcast kicks in below the threshold.

    Approximate by design, exactly like the batch LSH paths: a near-dup
    pair whose vectors disagree on some sign bit is missed (recall grows
    as n_planes shrinks).  Batch parity is pytest-pinned: the kept set
    equals the batch anti-join computed with static frames.
    """
    from ..training.similarity import _DOT, _bucket_col

    stream_b = vec_stream.withColumn("_bucket", _bucket_col(vec_col, n_planes))
    corpus_b = corpus.select(
        F.col(vec_col).alias("_cvec"), _bucket_col(vec_col, n_planes).alias("_bucket")
    )
    dot = F.expr(_DOT.format(a=vec_col, b="_cvec"))
    ss = F.expr(_DOT.format(a=vec_col, b=vec_col))
    cc = F.expr(_DOT.format(a="_cvec", b="_cvec"))
    cond = (stream_b["_bucket"] == corpus_b["_bucket"]) & (
        F.round(dot / (F.sqrt(ss) * F.sqrt(cc)), 6) >= threshold
    )
    return stream_b.join(corpus_b, cond, "left_anti").drop("_bucket")


def stream_minhash_dedup(
    docs_stream: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    ngram: int = 3,
    threshold: float = 0.5,
    cache_handles: "list | None" = None,
) -> DataFrame:
    """Streaming NEAR-dup dedup vs a static corpus: the continuous-ingest
    face of `training.dedup.minhash_dedup_verdicts` — new documents are
    dropped when the accepted corpus already holds a document that (a)
    shares a MinHash band bucket and (b) clears the exact token-gram
    Jaccard threshold.

    Stateless by construction, like the exact and semantic variants
    above: the md5-minhash signature and band keys are row-local
    expressions (dedup.md5_minhash_sig — no model, no extra pass), and
    the band membership test is spelled as a CHAIN of `bands`
    stream-static LEFT ANTI joins, one per band, instead of exploding
    the stream into band rows. An exploded stream would need a per-doc
    count aggregate to recombine the band verdicts (state + watermark);
    the anti-join chain removes a doc at the FIRST band whose bucket
    holds a verified near-dup and needs no state at all. Each link is a
    plain equi-join on that band's key with the Jaccard predicate as
    the join filter — Catalyst extracts the equality, so no nested
    loop. At 100 TB the static side is the accepted-corpus band table
    written at last ingest, bucketed on the band key; broadcast kicks
    in below the threshold.

    Approximate exactly like the batch verdict path (a near-dup pair
    that collides in no band is missed; recall = the standard banded
    curve), and batch parity is pytest-pinned: the kept set equals the
    same chain evaluated on static frames.

    Within-batch repeats are out of scope for the same reason as in
    `stream_dedup_against_corpus`: chain
    `stream_dedup_within_watermark` downstream on `content_md5` (or a
    band key) for sibling-row dedup.
    """
    from ..training.dedup import md5_band_hash, md5_minhash_sig, with_token_grams

    if bands <= 0 or num_perm % bands != 0:
        # bands > num_perm would make every band key md5('') — one
        # bucket per band and a single hot anti-join partition
        raise ValueError(f"num_perm ({num_perm}) must be a positive multiple of bands ({bands})")
    rows_per_band = num_perm // bands
    stream_g = with_token_grams(docs_stream, text_col=text_col, n=ngram, out="_grams")
    stream_g = stream_g.withColumn("_sig", md5_minhash_sig("_grams", num_perm))
    # The corpus band table is computed ONCE (all band keys in one
    # projection over one signature pass) and persisted, so the chain's
    # `bands` join branches — and every micro-batch — read the
    # materialized table instead of re-hashing the whole corpus per
    # link per trigger. This is the in-operator stand-in for the real
    # 100 TB shape: a band table written at last ingest. The cache must
    # outlive the returned streaming plan, so it is never unpersisted
    # here; pass `cache_handles` to receive the persisted frame and
    # unpersist it after the stream stops (round-7 ADVICE).
    from pyspark import StorageLevel

    corpus_g = with_token_grams(corpus, text_col=text_col, n=ngram, out="_cgrams")
    corpus_bands = corpus_g.withColumn("_csig", md5_minhash_sig("_cgrams", num_perm)).select(
        F.col("_cgrams"),
        *[md5_band_hash("_csig", b, rows_per_band).alias(f"_cband_{b}") for b in range(bands)],
    ).persist(StorageLevel.MEMORY_AND_DISK)
    if cache_handles is not None:
        cache_handles.append(corpus_bands)

    jacc = F.round(
        F.size(F.array_intersect(F.col("_grams"), F.col("_cgrams")))
        / F.size(F.array_union(F.col("_grams"), F.col("_cgrams"))).cast("double"),
        6,
    )
    out = stream_g
    for b in range(bands):
        out = out.withColumn(f"_band_{b}", md5_band_hash("_sig", b, rows_per_band))
        side = corpus_bands.select(F.col(f"_cband_{b}").alias("_cband"), "_cgrams")
        out = out.join(
            side,
            (F.col(f"_band_{b}") == F.col("_cband")) & (jacc >= threshold),
            "left_anti",
        )
    return out.drop("_grams", "_sig", *[f"_band_{b}" for b in range(bands)])


def stream_curate(
    docs_stream: DataFrame,
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 50.0,
    ngram: int = 5,
    num_bits: int = 1 << 20,
    num_hashes: int = 4,
) -> DataFrame:
    """The continuous form of `curation.curate_corpus`: documents arriving
    on a stream pass the full curation gate per micro-batch.

    Stage by stage, and why each survives streaming:

    - corpus dedup — stream-static LEFT ANTI join on the content digest
      (`stream_dedup_against_corpus` shape): stateless, corpus re-planned
      per batch, broadcast below threshold;
    - quality scoring + language-ID — the SAME stateless expression trees
      the batch operator uses (`text.quality_features` / `language_id`):
      no state, no watermark, identical scores batch vs stream;
    - eval decontamination — the Bloom bitset path
      (`curation.eval_bloom_bits` folded once at plan build,
      `bloom_membership` row-local per doc): the only decontamination
      form with zero per-batch join cost.  The exact-join form stays a
      batch backstop for flagged survivors.

    Emits the audit verdict (drop_reason: 'low_quality' |
    'eval_contaminated' | NULL; corpus duplicates never emerge from the
    anti join).  Within-batch repeats are left to a downstream
    `dropDuplicatesWithinWatermark` on `content_md5`, same as the plain
    streaming dedup.
    """
    from ..training import curation
    from ..training.dedup import normalize_text, with_token_grams
    from ..training.text import language_id, quality_features

    words = curation.eval_bloom_bits(eval_set, text_col, ngram, num_bits, num_hashes)
    hit = curation.bloom_membership(words, num_bits, num_hashes)

    digests = corpus.select(
        F.md5(normalize_text(F.col(text_col))).alias("content_md5")
    ).distinct()
    fresh = (
        docs_stream.withColumn("content_md5", F.md5(normalize_text(F.col(text_col))))
        .join(digests, "content_md5", "left_anti")
    )
    scored = quality_features(fresh, text_col=text_col).withColumn(
        "lang_detected", language_id(text_col)
    )
    grams = with_token_grams(scored, text_col=text_col, n=ngram, out="_grams")
    contaminated = F.size(F.filter(F.col("_grams"), hit)) > 0
    # NULL score (blank/null text) must fail the gate, same as the
    # batch operator — coalesce, never a bare NULL-valued comparison.
    drop_reason = F.when(
        F.coalesce(F.col("quality_score"), F.lit(-1.0)) < min_quality,
        F.lit("low_quality"),
    ).when(contaminated, F.lit("eval_contaminated"))
    return grams.select(
        F.col(id_col),
        F.col("content_md5"),
        F.col("lang_detected"),
        F.col("n_tokens"),
        F.col("quality_score"),
        drop_reason.alias("drop_reason"),
        drop_reason.isNull().alias("kept"),
    )


def stream_sketch_rollup(
    events_stream: DataFrame,
    rollup,
    checkpoint_dir: str,
):
    """Continuously maintain a `rollup.SketchRollup` from an events
    stream: foreachBatch hands each micro-batch to `refresh` with the
    micro-batch id as the idempotency key.

    Exactly-once counter effect on top of at-least-once foreachBatch:
    Structured Streaming replays a failed micro-batch under the SAME
    batch_id, and `refresh` refuses applied ids — so additive counters
    and sketch unions cannot double-apply, the same discipline
    `stream_silver` gets from idempotent partition rewrites (which
    additive state cannot use). The rollup's applied-id log persists
    with the table, so the guarantee also holds across checkpoint
    restarts, not just within one query lifetime.

    Returns the started StreamingQuery; drive with processAllAvailable()
    in tests or leave the default trigger running in production.
    """

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        rollup.refresh(batch_df, f"stream-{batch_id}")

    return (
        events_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )
