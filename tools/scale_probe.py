"""Empirical scaling probe: how does each flagship operator's wall-clock
grow when the input grows AxN?

The plan contracts (tests/test_plan_quality.py) pin the *shape* of every
scale claim (no cartesian products, bounded shuffles, broadcast dims);
this tool measures the *consequence*: near-linear wall-clock growth
under data amplification. Inputs are the driver's own testdata tables,
amplified per reps by tools/amplify.py into a scratch sf dir (ids
offset per replica; document text perturbed per replica so content
stays unique and dedup operators do real work) and registered with
load_views, so the events operators are the registry builds
themselves. Inputs are persisted and counted before any operator is
timed. SCALE_PROBE_DUP_FRAC sets the documents' duplication rate
(tools/amplify.py amplify_docs; default 1.0, saturated).

Run:  PYTHONPATH=/root/repo python tools/scale_probe.py [sf_dir] [reps...]
Prints one JSON line per (operator, amplification) and a fitted scaling
exponent per operator (t ~ N^p: p=1 linear, p=2 quadratic). Local
numbers are noisy below ~1s — treat exponents as a smoke signal, not a
benchmark; the per-operator guard is the exponent staying well under 2.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps_list = [int(x) for x in sys.argv[2:]] or [1, 4, 16]

    from pyspark.sql import functions as F

    from tagmarshal_data_lakehouse_spark import routing
    from tagmarshal_data_lakehouse_spark.queries import load_views, registry
    from tagmarshal_data_lakehouse_spark.training import dedup, sampling, similarity, text
    from tools.amplify import amplify, emit, probe_session, scaling_exponent, select_ops

    spark = probe_session("scale-probe")
    reg = registry()
    out_dir = None  # the amplified sf dir of the current reps

    operators = {
        "exact_dedup": lambda docs, ev: dedup.exact_duplicates(docs),
        # registry events_interval_join on the amplified stream: session
        # intervals x busy-hour islands through the chunked overlap join.
        # Amplification multiplies sessions per hour chunk while the
        # chunk-key count stays at the data's time span — the probe
        # watches per-chunk load growth staying linear (islands per
        # chunk are bounded by the type count)
        "interval_join": lambda docs, ev: reg["events_interval_join"].build(spark, out_dir),
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
        "sessionize": lambda docs, ev: reg["events_sessionize"].build(spark, out_dir),
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

    operators = select_ops(operators, "SCALE_PROBE_OPS")

    # Which amplified table each operator reads: a targeted
    # SCALE_PROBE_OPS run must not pay for the others (materializing all
    # three at high reps is most of the wall: 819M events / 82M vectors
    # at 8192x persist for MINUTES while the selected op needed only docs).
    def table_of(name, op):
        if name in ("interval_join", "sessionize", "hourly_agg"):
            return "events"
        return "embeddings" if op.__code__.co_argcount == 3 else "documents"

    needed = tuple(sorted({table_of(name, op) for name, op in operators.items()}))
    dup_frac = float(os.environ.get("SCALE_PROBE_DUP_FRAC", "1.0"))

    results: dict[str, list[tuple[int, float]]] = {k: [] for k in operators}
    work = tempfile.mkdtemp(prefix="scale_probe_")
    for reps in reps_list:
        out_dir = os.path.join(work, f"sf_{reps}x")
        amplify(spark, sf_dir, reps, out_dir, tables=needed, dup_frac=dup_frac)
        load_views(spark, out_dir, tables=needed)
        frames = {t: spark.table(t).persist() for t in needed}
        rows = {t: frame.count() for t, frame in frames.items()}
        docs, ev, embs = (frames.get(t) for t in ("documents", "events", "embeddings"))
        n_docs, n_ev, n_embs = (rows.get(t) for t in ("documents", "events", "embeddings"))
        # SCALE_PROBE_AUTO_PARTS=1: let the measured heap-bind helper
        # (routing.size_session, r10 sixth-octave arithmetic)
        # pick the shuffle width from the actual doc count — the
        # behavior a dedup-verdict deployment gets, instead of the
        # probe's fixed SCALE_PROBE_SHUFFLE_PARTS knob.
        if os.environ.get("SCALE_PROBE_AUTO_PARTS") and n_docs is not None:
            width = routing.size_session(spark, routing.MINHASH_DEDUP, n_docs)
            emit(auto_parts=width, reps=reps)
        for name, op in operators.items():
            t0 = time.monotonic()
            if op.__code__.co_argcount == 3:
                cnt = op(docs, ev, embs).count()
            else:
                cnt = op(docs, ev).count()
            dt = round(time.monotonic() - t0, 3)
            results[name].append((reps, dt))
            emit(op=name, reps=reps, rows_docs=n_docs, rows_events=n_ev, rows_embs=n_embs,
                 out_rows=cnt, sec=dt)
        for frame in frames.values():
            frame.unpersist()
        shutil.rmtree(out_dir)
    os.rmdir(work)

    summary = {n: scaling_exponent(pts) for n, pts in results.items() if len(pts) >= 2}
    emit(scaling_exponents=summary, ideal=1.0, sf_dir=sf_dir)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
