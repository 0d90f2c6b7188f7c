"""Empirical scaling probe: how does each flagship operator's wall-clock
grow when the input grows AxN?

The plan contracts (tests/test_plan_quality.py) pin the *shape* of every
scale claim (no cartesian products, bounded shuffles, broadcast dims);
this tool measures the *consequence*: near-linear wall-clock growth
under data amplification. Inputs are the driver's own testdata tables,
amplified via ONE broadcast cross-join against spark.range(reps) (ids
offset per replica; document text perturbed per replica so content
stays unique and dedup operators do real work — a pure copy would
collapse to the 1x distinct set). Through round 7 the amplifier built
a left-deep chain of reps unionByName calls instead; Catalyst analysis
of that chain is quadratic in branch count and stalls the DRIVER for
many minutes at reps=1024 before a single task runs — the r8 rewrite
produces the identical row set (operator timings were never affected:
inputs are persisted and counted before any operator is timed).

Run:  PYTHONPATH=/root/repo python tools/scale_probe.py [sf_dir] [reps...]
Prints one JSON line per (operator, amplification) and a fitted scaling
exponent per operator (t ~ N^p: p=1 linear, p=2 quadratic). local[32]
numbers are noisy below ~1s — treat exponents as a smoke signal, not a
benchmark; the per-operator guard is the exponent staying well under 2.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, "/root/repo")


def amplify_docs(spark, sf_dir: str, reps: int):
    """Amplified documents. Default: every replica is a NEAR-copy of its
    original (one unique trailing token), i.e. a duplicate-saturated
    corpus where ~every doc has reps-1 near-dups — the worst case for
    pair-emitting dedup. Set SCALE_PROBE_DUP_FRAC=0.2 to model a
    REALISTIC duplication rate instead: only that fraction of originals
    get near-copy replicas; the rest get replicas diluted with enough
    unique filler tokens to land below dedup thresholds (unique
    content growth, not duplication)."""
    from pyspark.sql import functions as F

    dup_frac = float(os.environ.get("SCALE_PROBE_DUP_FRAC", "1.0"))
    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = base.count()
    rep = F.col("__rep")
    out = base.crossJoin(F.broadcast(spark.range(reps).toDF("__rep")))
    # the replica-unique marker id is derived from the ORIGINAL
    # doc_id + the replica offset, while near/far membership keys on
    # the ORIGINAL doc_id — so every replica of one original falls
    # on the same side (doc_id % 100 < dup_frac*100; base ids are
    # 0..n-1 with n a multiple of 100 in all testdata sf dirs, so
    # the fraction is exact and replica-independent)
    rep_id = (F.col("doc_id") + rep * n).cast("string")
    # perturbation token is unique PER ROW (df=1): a per-replica
    # marker (df = N/reps) crosses any fractional df cap as reps
    # grows and glues unrelated same-replica docs together,
    # polluting similarity measurements (observed: 195M pairs @16x)
    near = F.concat(F.col("text"), F.lit(" rv"), rep_id)
    # genuine NON-duplicate growth: suffix EVERY token with a
    # replica-unique marker, so a far replica shares ZERO token
    # grams with its original and with every other replica
    # (appending filler tokens cannot work: pushing a 54-token doc
    # below Jaccard 0.5 would need more filler than the doc itself)
    far = F.regexp_replace(F.col("text"), r"(\S+)", F.concat(F.lit(r"$1u"), rep_id))
    is_dup = (F.col("doc_id") % 100) < F.lit(int(dup_frac * 100))
    perturbed = near if dup_frac >= 1.0 else F.when(is_dup, near).otherwise(far)
    return (
        out.withColumn("text", F.when(rep == 0, F.col("text")).otherwise(perturbed))
        .withColumn("doc_id", F.col("doc_id") + rep * n)
        .drop("__rep")
    )


def amplify_embeddings(spark, sf_dir: str, reps: int):
    from pyspark.sql import functions as F

    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = base.count()
    # per-row perturbation (not per-replica): nudge dim 0 by a unique
    # id-derived epsilon so replicas are near- but not exact copies —
    # LSH buckets stay realistically mixed instead of collapsing every
    # replica set into one saturated bucket
    return (
        base.crossJoin(F.broadcast(spark.range(reps).toDF("__rep")))
        .withColumn("vec_id", F.col("vec_id") + F.col("__rep") * n)
        .withColumn(
            "embedding",
            F.when(F.col("__rep") == 0, F.col("embedding")).otherwise(
                F.expr(
                    "transform(embedding, (x, j) -> CASE WHEN j = 0 "
                    "THEN cast(x + (vec_id % 997) * 1e-6 as float) ELSE x END)"
                )
            ),
        )
        .drop("__rep")
    )


def amplify_events(spark, sf_dir: str, reps: int):
    from pyspark.sql import functions as F

    base = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_users = 10_000
    return (
        base.crossJoin(F.broadcast(spark.range(reps).toDF("__rep")))
        .withColumn("event_id", F.col("event_id") + F.col("__rep") * 10_000_000)
        .withColumn("user_id", F.col("user_id") + F.col("__rep") * n_users)
        .drop("__rep")
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps_list = [int(x) for x in sys.argv[2:]] or [1, 4, 16]

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    # Diagnostic knobs (r10, the sixth-octave heap investigation): the
    # probe's session shape is part of what an octave measures, so the
    # DEFAULTS never change — but attributing a super-linear reading to
    # "heap pressure" vs "algorithm" needs one-knob reruns.
    driver_mem = os.environ.get("SCALE_PROBE_DRIVER_MEM", "48g")
    shuffle_parts = os.environ.get("SCALE_PROBE_SHUFFLE_PARTS", "32")
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        .config("spark.driver.memory", driver_mem)
        # match the production session's runtime re-planning (session.py):
        # skew splitting and partition coalescing are part of the scale
        # story being measured, not noise to exclude
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .appName("scale-probe")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from tagmarshal_data_lakehouse_spark import routing
    from tagmarshal_data_lakehouse_spark.training import dedup, sampling, similarity, text

    def sessionize(ev):
        from tagmarshal_data_lakehouse_spark.queries.events_ops import SPARK_HOUR_BUCKET  # noqa: F401
        from pyspark.sql.window import Window

        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        secs = F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', CAST(ts AS TIMESTAMP_NTZ))")
        gap = secs - F.lag(secs).over(w)
        new_s = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
        sid = F.sum(new_s).over(w.rowsBetween(Window.unboundedPreceding, 0))
        return (
            ev.withColumn("session_id", sid)
            .groupBy("user_id", "session_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )

    def interval_join(ev):
        """Registry events_interval_join shape on the amplified stream:
        session intervals x busy-hour islands through the chunked
        overlap join. Amplification multiplies sessions per hour chunk
        while the chunk-key count stays at the data's time span — the
        probe watches per-chunk load growth staying linear (islands per
        chunk are bounded by the type count)."""
        from pyspark.sql.window import Window

        from tagmarshal_data_lakehouse_spark.operators import interval_overlap_join

        e = ev.withColumn("ts", F.expr("CAST(ts AS TIMESTAMP_NTZ)"))
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        secs = F.expr(
            "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
        gap = secs - F.lag(secs).over(w)
        new_s = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
        sid = F.sum(new_s).over(w.rowsBetween(Window.unboundedPreceding, 0))
        sessions = (
            e.withColumn("session_id", sid)
            .groupBy("user_id", "session_id")
            .agg(
                F.min("ts").alias("session_start"),
                F.expr("MAX(ts) + INTERVAL 1 MICROSECOND").alias("session_end_excl"),
            )
        )
        hourly = (
            e.withColumn(
                "hour_idx",
                F.expr("TIMESTAMPDIFF(HOUR, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"),
            )
            .groupBy("event_type", "hour_idx")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        stats = hourly.groupBy("event_type").agg(F.avg("n_events").alias("avg_n"))
        busy = hourly.join(stats, "event_type").filter(
            F.col("n_events") > F.col("avg_n") * 1.05
        )
        wt = Window.partitionBy("event_type").orderBy("hour_idx")
        islands = (
            busy.withColumn("grp", F.col("hour_idx") - F.row_number().over(wt))
            .groupBy("event_type", "grp")
            .agg(
                F.expr(
                    "TIMESTAMPADD(HOUR, CAST(MIN(hour_idx) AS INT),"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ).alias("island_start"),
                F.expr(
                    "TIMESTAMPADD(HOUR, CAST(MAX(hour_idx) + 1 AS INT),"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ).alias("island_end_excl"),
            )
            .drop("grp")
        )
        return interval_overlap_join(
            sessions,
            islands,
            "session_start",
            "session_end_excl",
            "island_start",
            "island_end_excl",
            chunk_micros=3_600_000_000,
        )

    operators = {
        "exact_dedup": lambda docs, ev: dedup.exact_duplicates(docs),
        "interval_join": lambda docs, ev: interval_join(ev),
        "minhash_lsh": lambda docs, ev: dedup.minhash_near_duplicates(docs),
        # verdict-only counterpart: output is ONE row per doc, so where
        # the pair path's output grows as replica² (0.6M/10.6M pairs at
        # 16x/64x), this row count stays exactly N — the designed fix
        # for the round-6 probe's "pair stream is the scale-killer"
        # finding
        "minhash_verdict": lambda docs, ev: dedup.minhash_dedup_verdicts(docs),
        # fractional df cap: the absolute form empties the vocabulary
        # under amplification (every term's df grows with the corpus
        # while a fixed cap stands still) — measured here first
        "tf_cosine": lambda docs, ev: dedup.tf_cosine_pairs(
            docs, max_doc_freq=50, max_doc_frac=0.08
        ),
        # prefix-filter head-to-head (SCALE.md round 6): at the loose
        # default threshold the output is DENSE (candidates ≈ outputs)
        # and the Bayardo filter only adds shuffles; at a selective
        # threshold the output is sparse and the filter's index-side
        # shedding pays. Same oracle-pinned rows either way.
        "tf_cosine_hi": lambda docs, ev: dedup.tf_cosine_pairs(
            docs, threshold=0.7, max_doc_freq=50, max_doc_frac=0.08
        ),
        "tf_cosine_hi_prefix": lambda docs, ev: dedup.tf_cosine_pairs(
            docs, threshold=0.7, max_doc_freq=50, max_doc_frac=0.08, prefix_filter=True
        ),
        "tf_cosine_prefix": lambda docs, ev: dedup.tf_cosine_pairs(
            docs, max_doc_freq=50, max_doc_frac=0.08, prefix_filter=True
        ),
        "token_quality": lambda docs, ev: text.quality_features(docs),
        # per-source concentration profile: the token-grain
        # (source, token) count is the cost; output stays one row per
        # source at any corpus size
        "source_diversity": lambda docs, ev: text.source_token_diversity(docs),
        # bigram LM (r10): three token/bigram-grain aggregates + one
        # model equi-join — under near-copy amplification the bigram
        # vocabulary grows ~linearly (each replica's rv-marker token
        # mints two new bigram types), so both the model size and the
        # doc-bigram stream scale with N and the probe watches the
        # join staying linear
        "bigram_lm": lambda docs, ev: text.bigram_lm_scores(docs),
        "epoch_shuffle": lambda docs, ev: sampling.epoch_shuffle(docs),
        "sessionize": lambda docs, ev: sessionize(ev),
        "hourly_agg": lambda docs, ev: ev.groupBy(
            F.expr("MAKE_TIMESTAMP_NTZ(YEAR(ts), MONTH(ts), DAY(ts), HOUR(ts), 0, 0)")
        ).agg(F.count(F.lit(1)).alias("n")),
        # ANN / embedding family: candidate generation must stay
        # bucket-bounded as the corpus grows (the query-side count is
        # FIXED — at scale you mine for a bounded query batch per job)
        "ann_lsh_topk": lambda docs, ev, embs: similarity.cosine_topk_lsh(
            embs, n_queries=100, k=5
        ),
        # exact-at-GEMM-throughput baseline: same fixed query batch as
        # the LSH path, so the two rows compare exact vs approximate
        # candidate generation directly
        "gemm_topk": lambda docs, ev, embs: similarity.cosine_topk_gemm(
            embs, n_queries=100, k=5
        ),
        "hard_negatives_lsh": lambda docs, ev, embs: similarity.hard_negatives_lsh(
            embs, n_queries=100, k=5
        ),
        # bucket resolution sized for the 16x corpus: 2^10 buckets/band
        # keeps the average bucket ~80 vectors at 80k rows (at real
        # scale planes_per_band grows with log(N) for the same reason
        # the df cap had to be fractional).  SCALE_PROBE_MAX_BUCKET
        # overrides the cap: under the default saturated amplification
        # every original's replicas form ONE genuine reps-sized clique,
        # so once reps exceeds the cap the clique is truncated and pair
        # output COLLAPSES (observed at 1024x: 307k pairs vs 16.3M at
        # 256x) — the documented under-resolution alarm, now probe-
        # visible; a per-pair-constant measurement at high reps must
        # raise the cap above the clique size.
        "emb_near_dups_lsh": lambda docs, ev, embs: similarity.cosine_near_duplicates_lsh(
            embs, threshold=0.45, n_bands=8, planes_per_band=10,
            max_bucket=int(os.environ.get("SCALE_PROBE_MAX_BUCKET", "500")),
        ),
        # same candidates, within-bucket GEMM scoring — the probe pair
        # that motivated the variant (137.6s -> 27.8s at 16x)
        "emb_near_dups_gemm": lambda docs, ev, embs: similarity.cosine_near_duplicates_lsh_gemm(
            embs, threshold=0.45, n_bands=8, planes_per_band=10,
            max_bucket=int(os.environ.get("SCALE_PROBE_MAX_BUCKET", "500")),
        ),
        # density-adaptive selection: measures what the selector COSTS
        # end-to-end (the ids-only density pass recomputes the
        # hyperplane projections before the chosen scorer does) on top
        # of what it saves by routing to the right scorer
        "emb_near_dups_auto": lambda docs, ev, embs: similarity.cosine_near_duplicates_lsh_auto(
            embs, threshold=0.45, n_bands=8, planes_per_band=10,
            max_bucket=int(os.environ.get("SCALE_PROBE_MAX_BUCKET", "500")),
        ),
        # clustered dedup with the density-routed scorer (r8): at probe
        # scales the cluster-size histogram is duplication-heavy, so
        # auto must route to the within-cluster GEMM — the expr pair
        # join would materialize sum(c^2)/2 pair rows
        "semantic_dedup_auto": lambda docs, ev, embs: similarity.semantic_dedup(
            embs, n_clusters=16, kmeans_iter=3, threshold=0.98
        ),
        "semantic_dedup_gemm": lambda docs, ev, embs: similarity.semantic_dedup(
            embs, n_clusters=16, kmeans_iter=3, threshold=0.98, scorer="gemm"
        ),
        # r9 multi-probe: each vector scored in its 2 nearest clusters
        # (boundary-pair recall); pair mass <= 4x the single-probe row
        # above, so the gap between this row and semantic_dedup_auto
        # measures what the recall costs at scale
        "semantic_dedup_probe2": lambda docs, ev, embs: similarity.semantic_dedup(
            embs, n_clusters=16, kmeans_iter=3, threshold=0.98, n_probes=2
        ),
    }

    # Optional operator filter for targeted re-measurement after an
    # optimization: SCALE_PROBE_OPS="tf_cosine,minhash_lsh" runs only
    # those rows (full sweep otherwise).
    only = os.environ.get("SCALE_PROBE_OPS")
    if only:
        wanted = {s.strip() for s in only.split(",") if s.strip()}
        unknown = wanted - set(operators)
        if unknown:
            raise SystemExit(f"SCALE_PROBE_OPS unknown operators: {sorted(unknown)}")
        operators = {k: v for k, v in operators.items() if k in wanted}

    # Which amplified input each operator actually reads. A targeted
    # SCALE_PROBE_OPS run must not pay for the others: materializing all
    # three at high reps is most of the wall (819M events / 82M vectors
    # at 8192x persist for MINUTES in a single-partition task while the
    # selected op needed only docs).
    needs_map = {
        "interval_join": {"ev"},
        "sessionize": {"ev"},
        "hourly_agg": {"ev"},
    }
    for name, op in operators.items():
        if name not in needs_map:
            needs_map[name] = {"embs"} if op.__code__.co_argcount == 3 else {"docs"}
    needed = set().union(*(needs_map[n] for n in operators))

    results: dict[str, list[tuple[int, float]]] = {k: [] for k in operators}
    for reps in reps_list:
        docs = ev = embs = None
        n_docs = n_ev = n_embs = None
        # materialize ONLY the inputs the selected operators read
        if "docs" in needed:
            docs = amplify_docs(spark, sf_dir, reps).persist()
            n_docs = docs.count()
        if "ev" in needed:
            ev = amplify_events(spark, sf_dir, reps).persist()
            n_ev = ev.count()
        if "embs" in needed:
            embs = amplify_embeddings(spark, sf_dir, reps).persist()
            n_embs = embs.count()
        # SCALE_PROBE_AUTO_PARTS=1: let the measured heap-bind helper
        # (routing.size_session, r10 sixth-octave arithmetic)
        # pick the shuffle width from the actual doc count — the
        # behavior a dedup-verdict deployment gets, instead of the
        # probe's fixed SCALE_PROBE_SHUFFLE_PARTS knob.
        if os.environ.get("SCALE_PROBE_AUTO_PARTS") and n_docs is not None:
            width = routing.size_session(spark, routing.MINHASH_DEDUP, n_docs)
            print(json.dumps({"auto_parts": width, "reps": reps}), flush=True)
        for name, op in operators.items():
            t0 = time.monotonic()
            if op.__code__.co_argcount == 3:
                cnt = op(docs, ev, embs).count()
            else:
                cnt = op(docs, ev).count()
            dt = round(time.monotonic() - t0, 3)
            results[name].append((reps, dt))
            print(
                json.dumps(
                    {
                        "op": name,
                        "reps": reps,
                        "rows_docs": n_docs,
                        "rows_events": n_ev,
                        "rows_embs": n_embs,
                        "out_rows": cnt,
                        "sec": dt,
                    }
                ),
                flush=True,
            )
        for frame in (docs, ev, embs):
            if frame is not None:
                frame.unpersist()

    summary = {}
    for name, pts in results.items():
        if len(pts) >= 2:
            (r0, t0), (r1, t1) = pts[0], pts[-1]
            p = math.log(max(t1, 1e-3) / max(t0, 1e-3)) / math.log(r1 / r0)
            summary[name] = round(p, 2)
    print(json.dumps({"scaling_exponents": summary, "ideal": 1.0, "sf_dir": sf_dir}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
