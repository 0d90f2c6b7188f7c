"""Dedup-operator guardrails: the n-gram doc-frequency cap and its
no-op-on-testdata contract, plus the degenerate-corpus bound it exists
for."""

from __future__ import annotations

from pyspark.sql import functions as F

from tagmarshal_data_lakehouse_spark.training import dedup


def test_ngram_cap_is_noop_on_testdata(spark, sf_smoke):
    """No gram in the synthetic corpus reaches the default cap, so the
    capped output must equal the uncapped baseline exactly."""
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    inv = dedup.with_token_grams(docs).select(F.explode("grams").alias("gram"))
    max_df = inv.groupBy("gram").count().agg(F.max("count")).first()[0]
    assert max_df < 100, "fixture drifted: corpus now has a boilerplate gram"

    capped = dedup.ngram_jaccard_pairs(docs).orderBy("id_a", "id_b").collect()
    uncapped = (
        dedup.ngram_jaccard_pairs(docs, max_doc_freq=1 << 30)
        .orderBy("id_a", "id_b")
        .collect()
    )
    assert capped == uncapped
    assert len(capped) > 0


def test_ngram_cap_bounds_degenerate_gram(spark):
    """Docs sharing ONLY a boilerplate gram stop pairing once that gram
    exceeds the cap; docs sharing rare grams still pair."""
    boiler = "all rights reserved worldwide"
    rows = [(i, f"{boiler} unique{i} token{i} filler{i}") for i in range(8)]
    rows += [(100, "alpha beta gamma delta"), (101, "alpha beta gamma epsilon")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # cap below the boilerplate df (8 docs share its grams)
    pairs = dedup.ngram_jaccard_pairs(
        docs, n=2, threshold=0.01, max_doc_freq=4
    ).collect()
    ids = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (100, 101) in ids  # rare-gram pair survives
    assert all(a >= 100 for a, _ in ids)  # boilerplate-only pairs gone


def test_ngram_dropped_gram_metrics_surfaces_cap(spark):
    """The cap must not be silent: every over-cap gram appears in the
    audit frame with its doc frequency and suppressed-pair estimate."""
    boiler = "all rights reserved worldwide"
    rows = [(i, f"{boiler} unique{i} token{i} filler{i}") for i in range(8)]
    rows += [(100, "alpha beta gamma delta"), (101, "alpha beta gamma epsilon")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    dropped = dedup.ngram_dropped_gram_metrics(docs, n=2, max_doc_freq=4).collect()
    assert len(dropped) > 0
    by_gram = {r["gram"]: r for r in dropped}
    assert "all rights" in by_gram
    r = by_gram["all rights"]
    assert r["gram_df"] == 8
    assert r["affected_pairs_est"] == 8 * 7 // 2
    # under-cap grams never appear
    assert all(r["gram_df"] > 4 for r in dropped)
    # and on a clean corpus the audit is empty
    clean = spark.createDataFrame(
        [(0, "one two three"), (1, "four five six")], "doc_id long, text string"
    )
    assert dedup.ngram_dropped_gram_metrics(clean, n=2, max_doc_freq=4).count() == 0


def test_ngram_pairs_always_carry_cap_audit_scalars(spark):
    """A capped pair run must be un-ignorable: every pair row carries the
    corpus-level dropped-gram count and suppressed-pair estimate, so a
    pipeline cannot consume the (possibly incomplete) pairs without the
    audit riding along."""
    boiler = "all rights reserved worldwide"
    rows = [(i, f"{boiler} unique{i} token{i} filler{i}") for i in range(8)]
    rows += [(100, "alpha beta gamma delta"), (101, "alpha beta gamma epsilon")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = dedup.ngram_jaccard_pairs(docs, n=2, threshold=0.01, max_doc_freq=4)
    assert {"n_dropped_grams", "suppressed_pairs_est"} <= set(pairs.columns)
    collected = pairs.collect()
    assert len(collected) > 0
    # boilerplate bigrams: "all rights", "rights reserved", "reserved
    # worldwide" each hit df=8 > 4 -> dropped; per-gram suppression 8C2.
    dropped = dedup.ngram_dropped_gram_metrics(docs, n=2, max_doc_freq=4).collect()
    expect_n = len(dropped)
    expect_suppressed = sum(r["affected_pairs_est"] for r in dropped)
    assert expect_n > 0
    for r in collected:
        assert r["n_dropped_grams"] == expect_n
        assert r["suppressed_pairs_est"] == expect_suppressed

    # clean corpus: audit scalars present and zero
    clean_pairs = dedup.ngram_jaccard_pairs(
        spark.createDataFrame(
            [(0, "one two three four"), (1, "one two three five")],
            "doc_id long, text string",
        ),
        n=2,
        threshold=0.01,
    ).collect()
    assert len(clean_pairs) > 0
    assert all(r["n_dropped_grams"] == 0 for r in clean_pairs)
    assert all(r["suppressed_pairs_est"] == 0 for r in clean_pairs)


def test_span_dedup_flags_shared_boilerplate(spark):
    """Docs sharing an 8-token boilerplate prefix get that span flagged;
    unique spans stay clean; short docs survive with zero spans."""
    boiler = "one two three four five six seven eight"
    rows = [
        (1, f"{boiler} alpha beta gamma delta epsilon zeta eta theta"),
        (2, f"{boiler} iota kappa lambda mu nu xi omicron pi"),
        (3, "unique content here entirely different words from others etc"),
        (4, "short doc"),  # < 8 tokens -> zero spans, still in output
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.span_dedup_stats(docs).collect()}
    assert set(out) == {1, 2, 3, 4}
    # docs 1 and 2: 2 spans each, the boilerplate span duplicated
    for d in (1, 2):
        assert out[d]["n_spans"] == 2
        assert out[d]["n_dup_spans"] == 1
        assert out[d]["dup_span_fraction"] == 0.5
    assert out[3]["n_dup_spans"] == 0
    assert out[4]["n_spans"] == 0 and out[4]["dup_span_fraction"] is None


def test_cross_source_duplicates_matrix(spark):
    """Pairs count per (source, source) with canonical ordering and the
    diagonal as within-source duplication."""
    rows = [
        (1, "same text content", "crawl"),
        (2, "same text content", "books"),
        (3, "same text content", "books"),
        (4, "other duplicate body", "crawl"),
        (5, "other duplicate body", "crawl"),
        (6, "totally unique document", "wiki"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        (r["source_a"], r["source_b"]): r["n_dup_pairs"]
        for r in dedup.cross_source_duplicates(docs).collect()
    }
    # cluster {1,2,3}: pairs (1,2) crawl-books, (1,3) crawl-books, (2,3) books-books
    # cluster {4,5}: (4,5) crawl-crawl
    assert got == {("books", "crawl"): 2, ("books", "books"): 1, ("crawl", "crawl"): 1}


def test_connected_components_transitive_chain(spark):
    """A-B, B-C, C-D chain + isolated pair must collapse to min labels."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    comps = {r["vid"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_star_and_cycle(spark):
    pairs = spark.createDataFrame(
        [(5, 1), (5, 2), (5, 3), (20, 21), (21, 22), (22, 20)],
        "id_a long, id_b long",
    )
    comps = {r["vid"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    assert {comps[v] for v in (1, 2, 3, 5)} == {1}
    assert {comps[v] for v in (20, 21, 22)} == {20}


def test_dedup_clusters_election_and_singletons(spark):
    docs = spark.createDataFrame([(i, f"t{i}") for i in range(6)], "doc_id long, text string")
    pairs = spark.createDataFrame([(0, 3), (3, 5)], "id_a long, id_b long")
    rows = {r["doc_id"]: r for r in dedup.dedup_clusters(docs, pairs).collect()}
    # transitive cluster {0,3,5} keyed by min id 0; 0 is canonical/kept
    for d in (0, 3, 5):
        assert rows[d]["cluster_id"] == 0 and rows[d]["cluster_size"] == 3
    assert rows[0]["keep"] and not rows[3]["keep"] and not rows[5]["keep"]
    # untouched docs are singleton clusters, kept
    for d in (1, 2, 4):
        assert rows[d]["cluster_id"] == d and rows[d]["cluster_size"] == 1 and rows[d]["keep"]


def test_with_shingles_char_level(spark):
    from tagmarshal_data_lakehouse_spark.training.dedup import with_shingles

    df = spark.createDataFrame([(1, "abcdef"), (2, "ab")], "doc_id long, text string")
    rows = {r["doc_id"]: r["shingles"] for r in with_shingles(df, k=3).collect()}
    assert rows[1] == ["abc", "bcd", "cde", "def"]
    assert rows[2] == ["ab"]  # short text -> whole text as one shingle


def test_with_simhash_deterministic(spark):
    from tagmarshal_data_lakehouse_spark.training.simhash import with_simhash

    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown fox"), (3, "totally different words")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["simhash"] for r in with_simhash(df).collect()}
    assert rows[1] == rows[2]          # identical text -> identical hash
    assert rows[1] != rows[3]


def test_incremental_dedup_verdicts(spark):
    """Delta-vs-corpus: corpus hits drop, within-batch dups keep only the
    first, fresh docs keep."""
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "existing corpus document")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "THE  quick   brown fox"),   # normalizes to a corpus hit
            (11, "a brand new document"),      # fresh
            (12, "a brand new document"),      # within-batch dup of 11
            (13, "another fresh one"),         # fresh
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in dedup.incremental_dedup(batch, corpus).collect()}
    assert rows[10]["dup_of_corpus"] and not rows[10]["keep"]
    assert rows[11]["keep"] and not rows[11]["dup_of_corpus"] and not rows[11]["dup_within_batch"]
    assert rows[12]["dup_within_batch"] and not rows[12]["keep"]
    assert not rows[12]["dup_of_corpus"]
    assert rows[13]["keep"]
    # every batch doc gets exactly one verdict row
    assert set(rows) == {10, 11, 12, 13}


def test_minhash_verdict_semantics(spark):
    """Greedy representative election: exact dups drop toward the lowest
    id, unique docs keep, and a below-threshold doc keeps even when it
    shares a bucket (the exact-Jaccard verify is load-bearing)."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [
            (1, base),                                       # canonical
            (2, base),                                       # exact dup of 1
            (3, "totally different text about astronomy and telescopes"),
            (4, "ALPHA  beta gamma delta epsilon zeta eta theta iota kappa"),  # normalizes to 1
            (5, base.replace("eta theta iota kappa", "one two three four")),   # below 0.5 Jaccard
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in dedup.minhash_dedup_verdicts(df).collect()}
    assert set(rows) == {1, 2, 3, 4, 5}  # exactly one verdict per doc
    assert rows[1]["keep"] and rows[1]["dup_of"] is None
    assert not rows[2]["keep"] and rows[2]["dup_of"] == 1
    assert rows[3]["keep"]
    assert not rows[4]["keep"] and rows[4]["dup_of"] == 1
    assert rows[5]["keep"]  # collision or not, the verify rejects the drop


def test_minhash_verdict_cache_handle_enables_caller_unpersist(spark):
    """`cache_handles` hands the persisted shingle frame to the caller
    (round-7 ADVICE: long-lived sessions composing many verdict calls
    must be able to release the MEMORY_AND_DISK blocks without knowing
    the function's internals)."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "unrelated words here now")],
        "doc_id long, text string",
    )
    handles = []
    out = dedup.minhash_dedup_verdicts(df, cache_handles=handles)
    assert out.count() == 3
    assert len(handles) == 1 and handles[0].is_cached
    handles[0].unpersist()
    assert not handles[0].is_cached
    # persist_shingles=False registers nothing
    no_handles = []
    dedup.minhash_dedup_verdicts(df, persist_shingles=False, cache_handles=no_handles).count()
    assert no_handles == []


def test_minhash_verdict_consistent_with_pair_path(spark, sf_smoke):
    """On the real corpus: every dropped doc must have a true-Jaccard
    near-dup partner below its id (soundness — the verdict never drops
    on LSH evidence alone), and verdicts are one row per input doc."""
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    verdicts = dedup.minhash_dedup_verdicts(docs, num_perm=16, bands=4, threshold=0.5)
    out = verdicts.collect()
    assert len(out) == docs.count()
    dropped = {r["doc_id"]: r["dup_of"] for r in out if not r["keep"]}
    assert all(rep < d for d, rep in dropped.items())
    if dropped:
        # spot-verify the first few drops against exact gram Jaccard
        import itertools

        grams = {
            r["doc_id"]: set(r["grams"])
            for r in dedup.with_token_grams(docs, out="grams")
            .select("doc_id", "grams")
            .collect()
        }
        for d, rep in itertools.islice(sorted(dropped.items()), 5):
            a, b = grams[d], grams[rep]
            assert round(len(a & b) / len(a | b), 6) >= 0.5


def test_verdict_eval_report_two_duplication_rates(spark):
    """Verdict-vs-exact keep-set measurement at 20% and 50% planted
    duplication: every verdict drop is a true dup (soundness — the
    exact-Jaccard verify is load-bearing, so drop_precision is 1.0 and
    true_drop == verdict_dup), keep_recall is structurally 1.0 (every
    exact-keep is verdict-kept), and drop_recall stays high at both
    rates (planted copies collide in every band)."""

    def corpus(n_unique, dup_frac):
        uniq = [
            (
                i,
                f"document number {i} about topic {i % 7} with unique "
                f"content token{i} token{i * 3} token{i * 5} plus some "
                "shared filler words appearing in every document here",
            )
            for i in range(n_unique)
        ]
        n_dups = round(n_unique * dup_frac / (1 - dup_frac))
        dups = [(1000 + j, uniq[j % n_unique][1]) for j in range(n_dups)]
        return spark.createDataFrame(uniq + dups, "doc_id long, text string")

    for frac, min_recall in ((0.2, 0.9), (0.5, 0.9)):
        df = corpus(20, frac)
        r = dedup.dedup_verdict_eval_report(df, n=3, threshold=0.5).collect()[0]
        assert r["docs"] == df.count()
        assert r["exact_dup_docs"] > 0
        assert r["true_drop_docs"] == r["verdict_dup_docs"]  # soundness
        assert r["verdict_dup_docs"] == 0 or r["drop_precision"] == 1.0
        assert r["keep_recall"] == 1.0
        assert r["drop_recall"] >= min_recall


def test_dedup_eval_report_confusion_counts(spark):
    """Planted near-dups: high recall, consistent confusion counts."""
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [(i, base + f" variant {i}") for i in range(6)]          # near-dups
    rows += [(100 + i, f"totally unrelated document number {i} about "
              f"astronomy telescopes galaxies and star formation theory") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = dedup.dedup_eval_report(df, n=3, threshold=0.3).collect()[0]
    assert r["true_positive_pairs"] <= min(r["lsh_pairs"], r["exact_pairs"])
    assert r["exact_pairs"] >= 10  # the planted 6-clique (15 pairs, capped ok)
    assert r["recall"] is not None and r["recall"] >= 0.5
    if r["lsh_pairs"]:
        assert 0.0 <= r["precision"] <= 1.0


def test_tf_cosine_pairs_matches_brute_force(spark):
    """TF-cosine against a hand-computed brute-force reference on a
    corpus small enough to enumerate (cap high => no term dropped)."""
    import itertools
    import math
    from collections import Counter

    rows = [
        (1, "apple banana apple cherry"),
        (2, "apple banana banana cherry"),
        (3, "dog cat mouse"),
        (4, "apple apple apple apple"),
        (5, "dog cat mouse dog cat"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): (r["dot"], r["cosine"])
        for r in dedup.tf_cosine_pairs(docs, threshold=0.0, max_doc_freq=100).collect()
    }
    tf = {i: Counter(t.split()) for i, t in rows}
    for a, b in itertools.combinations(sorted(tf), 2):
        dot = sum(tf[a][w] * tf[b][w] for w in tf[a])
        if dot == 0:
            assert (a, b) not in got  # no shared term -> never materialized
            continue
        na = math.sqrt(sum(v * v for v in tf[a].values()))
        nb = math.sqrt(sum(v * v for v in tf[b].values()))
        exp = round(dot / (na * nb), 6)
        assert got[(a, b)][0] == dot, (a, b)
        assert abs(got[(a, b)][1] - exp) < 1e-9, (a, b)
    # TF weighting separates what Jaccard cannot: doc4 is pure 'apple'
    # so cos(1,4) reflects doc1's apple share, not full overlap
    assert 0 < got[(1, 4)][1] < 1


def test_tf_cosine_cap_prunes_stopword_terms(spark):
    """Over-cap terms leave the vector space entirely: pairs that share
    ONLY a ubiquitous term disappear, and norms are over kept terms."""
    rows = [(i, f"the unique{i} word{i}") for i in range(6)]
    rows += [(100, "zebra quartz onyx"), (101, "zebra quartz jade")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.tf_cosine_pairs(docs, threshold=0.01, max_doc_freq=4).collect()
    ids = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (100, 101) in ids
    assert all(a >= 100 for a, _ in ids), ids  # 'the'-only pairs gone
    row = next(r for r in pairs if (r["id_a"], r["id_b"]) == (100, 101))
    # 3-term vs 3-term unit-tf vectors sharing 2 kept terms: 2/3
    assert abs(row["cosine"] - round(2 / 3, 6)) < 1e-9
    assert row["n_dropped_terms"] == 1  # only 'the' is over-cap


def test_tf_cosine_fractional_cap_survives_corpus_growth(spark):
    """The scale contract of max_doc_frac: amplifying the corpus AxN
    must not empty the kept vocabulary (the absolute cap's failure mode
    — every term's df grows with the corpus while the cap stands still).
    Pairs found at 1x must still be found, with identical cosine, at 4x."""
    rows = [
        (i, f"shared vocabulary theme alpha beta pair{i // 2} unique{i}")
        for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    amplified = docs
    for rep in range(1, 4):
        amplified = amplified.unionByName(
            spark.createDataFrame(
                [(i + 100 * rep, t.replace(f"pair{i // 2}", f"pair{i // 2}r{rep}") + f" rep{rep}")
                 for i, t in rows],
                "doc_id long, text string",
            )
        )

    def pairs(df):
        return {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in dedup.tf_cosine_pairs(
                df, threshold=0.1, max_doc_freq=2, max_doc_frac=0.5
            ).collect()
        }

    base = pairs(docs)          # cap = max(2, 0.5*10) = 5: 'shared...' kept (df 10? no - dropped), uniques kept
    grown = pairs(amplified)    # cap = max(2, 0.5*40) = 20 scales with N
    assert base, "fixture must produce pairs at 1x"
    assert grown, "fractional cap emptied the vocabulary under growth"
    # every 1x pair survives amplification with the same score: the
    # within-replica-0 pair set is invariant because df/N is invariant
    for k, v in base.items():
        assert k in grown and abs(grown[k] - v) < 1e-9, k


def test_tf_cosine_absolute_cap_collapses_under_growth(spark):
    """Document the failure mode the fractional cap exists for: the SAME
    absolute cap that finds pairs at 1x finds nothing after 4x
    amplification (kept vocabulary empties)."""
    rows = [
        (i, f"shared vocabulary theme alpha beta gamma delta epsilon") for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    amplified = docs
    for rep in range(1, 4):
        amplified = amplified.unionByName(
            spark.createDataFrame(
                [(i + 100 * rep, t) for i, t in rows], "doc_id long, text string"
            )
        )
    cap = 20  # above 1x df (10), below 4x df (40)
    at_1x = dedup.tf_cosine_pairs(docs, threshold=0.1, max_doc_freq=cap).count()
    at_4x = dedup.tf_cosine_pairs(amplified, threshold=0.1, max_doc_freq=cap).count()
    assert at_1x > 0
    assert at_4x == 0  # the documented collapse


def test_ngram_fractional_cap_scales_with_corpus(spark):
    """Same scale contract as tf_cosine's fractional cap, on the n-gram
    path: pairs found at 1x survive 4x amplification with identical
    jaccard under max_doc_frac, where the absolute cap would drop them."""
    rows = [(2 * k, f"alpha beta gamma delta pair{k} one two three")
            for k in range(5)]
    rows += [(2 * k + 1, f"alpha beta gamma delta pair{k} one two four")
             for k in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    amplified = docs
    for rep in range(1, 4):
        amplified = amplified.unionByName(
            spark.createDataFrame(
                [(i + 100 * rep, t.replace(f"pair{i % 10 // 2}", f"p{i % 10 // 2}r{rep}"))
                 for i, t in rows],
                "doc_id long, text string",
            )
        )

    def pairs(df):
        return {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs(
                df, n=2, threshold=0.1, max_doc_freq=2, max_doc_frac=0.45
            ).collect()
        }

    base = pairs(docs)
    grown = pairs(amplified)
    assert base, "fixture must pair at 1x"
    for k, v in base.items():
        assert k in grown and abs(grown[k] - v) < 1e-9, k


def test_tf_cosine_prefix_filter_lossless_vs_unfiltered(spark, sf_smoke):
    """prefix_filter=True routes through the Bayardo prefix-filtered
    candidate generation (the sparse-output plan); its output must be
    IDENTICAL (pairs, integer dots, rounded cosines) to filtering the
    default inverted-index join — including pairs whose cosine sits
    exactly on the threshold."""
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    kw = dict(max_doc_freq=100, max_doc_frac=0.2)
    full = {
        (r["id_a"], r["id_b"]): (r["dot"], r["cosine"])
        for r in dedup.tf_cosine_pairs(docs, threshold=0.0, **kw).collect()
        if r["cosine"] >= 0.3
    }
    pruned = {
        (r["id_a"], r["id_b"]): (r["dot"], r["cosine"])
        for r in dedup.tf_cosine_pairs(
            docs, threshold=0.3, prefix_filter=True, **kw
        ).collect()
    }
    assert full == pruned
    assert pruned  # non-vacuous: the fixture does contain pairs >= 0.3

    # Boundary: two equal-norm docs engineered to cosine exactly 0.5
    # (dot 2, norms 2) plus distractors; threshold 0.5 must keep them.
    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta epsilon zeta"),
        (3, "eta theta iota kappa"),
    ]
    tiny = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in dedup.tf_cosine_pairs(
            tiny, threshold=0.5, max_doc_freq=100, prefix_filter=True
        ).collect()
    }
    assert got == {(1, 2): 0.5}


def test_suggest_dedup_shuffle_partitions_pins_measured_band():
    """The helper encodes the r10 sixth-octave + r11 seventh-octave
    measurements (SCALE.md): below the 48k docs/heap-GiB bind ratio the
    session default stands; at the measured 8192x/48g bind it must pick
    128 — the 146.0s winner of the 32/128/256 one-knob sweep; and at
    the r11-discovered 16384x/100g bind it must STAY at the default,
    because the same sweep there was monotonically worse with width
    (386.5/468.0/567.4 s at 32/128/256) — widening is validated only on
    executor-class heaps."""
    s = dedup.suggest_dedup_shuffle_partitions
    # comfortable heap: default width stands (4.096M docs @ 100g was
    # measured linear, exponent 1.07; 2.048M @ 48g in-band)
    assert s(4_096_000, 100, 32) == 32
    assert s(2_048_000, 48, 32) == 32
    assert s(500_000, 48, 32) == 32
    # the r12 64g crossover sweep: 4.096M @ 64g (64k docs/GiB) is CLEAN
    # (exponent 1.04) and widening there cost 2.3x (93.6 s at 32 parts
    # vs 213.1 s at 128) — the helper must hold the default below the
    # measured onset even on a widen-eligible heap
    assert s(4_096_000, 64, 32) == 32
    # the 48g bind: widen to 128 (the measured winner)
    assert s(4_096_000, 48, 32) == 128
    # the 100g bind: hold the default — width only hurt there; the
    # remedy is more executors, which the helper cannot conjure
    assert s(8_192_000, 100, 32) == 32
    # deeper past the 48g bind: cap at 128, the widest reading that
    # ever beat a default anywhere
    assert s(8_192_000, 48, 32) == 128
    # never narrows below the session default
    assert s(10_000_000, 1, 300) == 300
    # the cap also bounds runaway estimates
    assert s(10**12, 1, 32) == 128
    import pytest as _pytest

    for bad in [(0, 48, 32), (100, 0, 32), (100, 48, 0)]:
        with _pytest.raises(ValueError):
            s(*bad)


def test_size_session_for_dedup_sets_and_restores(spark):
    """size_session_for_dedup turns the measurement into behavior: it
    sets the session shuffle width to the suggestion and returns it;
    a comfortable estimate is a no-op."""
    original = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        heap = dedup.jvm_heap_gib(spark)
        assert heap > 0
        # small corpus: no-op (returns the current default unchanged)
        got = dedup.size_session_for_dedup(spark, 1_000)
        assert got == int(original)
        assert spark.conf.get("spark.sql.shuffle.partitions") == original
        # past the bind ratio for this session's heap: widens
        n_bound = int(dedup._DEDUP_HEAP_DOCS_PER_GIB * heap * 4)
        got = dedup.size_session_for_dedup(spark, n_bound)
        expect = dedup.suggest_dedup_shuffle_partitions(n_bound, heap, int(original))
        assert got == expect
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == expect
        assert got >= int(original)
        # no ratchet: a later small-corpus call sizes from the PRE-sizing
        # baseline, narrowing back instead of reading the widened value
        # as the new default
        got = dedup.size_session_for_dedup(spark, 1_000)
        assert got == int(original)
        assert spark.conf.get("spark.sql.shuffle.partitions") == original
        # and the explicit restore is a no-op-safe way back
        dedup.size_session_for_dedup(spark, n_bound)
        assert dedup.restore_session_width(spark) == int(original)
        assert spark.conf.get("spark.sql.shuffle.partitions") == original

        # a user-set width BETWEEN sizing calls becomes the new
        # baseline (detected because it differs from the last value
        # sizing wrote) ...
        widened = dedup.size_session_for_dedup(spark, n_bound)
        user_width = widened + 7  # distinguishable from our own write
        spark.conf.set("spark.sql.shuffle.partitions", str(user_width))
        got = dedup.size_session_for_dedup(spark, 1_000)
        assert got == user_width  # user's width adopted, not reverted
        # ... and the DOCUMENTED blind spot: a user width EQUAL to the
        # last auto-set value must be preceded by restore_session_width
        # (Spark conf records values, not writers — ADVICE r12); with
        # the restore-first protocol the user width is re-captured.
        dedup.restore_session_width(spark)
        spark.conf.set("spark.sql.shuffle.partitions", str(user_width))
        got = dedup.size_session_for_dedup(spark, 1_000)
        assert got == user_width
        assert int(spark.conf.get(dedup._DEDUP_BASELINE_KEY)) == user_width
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", original)
        spark.conf.unset(dedup._DEDUP_BASELINE_KEY)
        spark.conf.unset(dedup._DEDUP_LAST_SET_KEY)


def test_minhash_dedup_verdict_auto_size_applies_measured_width(spark, monkeypatch):
    """VERDICT r11: the sizing helper must be reachable from the
    operator it sizes.  At a (mocked-heap, estimated-docs) point inside
    the measured 48g bind band, auto_size_session=True must set the
    session width to the helper's 128 before the plan builds, without
    an 8M-doc run; verdicts stay correct and restore_session_width puts
    the session back."""
    original = spark.conf.get("spark.sql.shuffle.partitions")
    monkeypatch.setattr(dedup, "jvm_heap_gib", lambda _s: 48.0)
    handles: list = []
    try:
        out = dedup.minhash_dedup_verdicts(
            spark.createDataFrame(
                [(1, "the quick brown fox jumps over the lazy dog"),
                 (2, "the quick brown fox jumps over the lazy dog"),
                 (3, "entirely different text about spark partitions")],
                "doc_id long, text string",
            ),
            auto_size_session=True,
            n_docs_estimate=4_096_000,  # the measured 8192x/48g bind
            cache_handles=handles,
        )
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == 128
        rows = {r["doc_id"]: (r["keep"], r["dup_of"]) for r in out.collect()}
        assert rows == {1: (True, None), 2: (False, 1), 3: (True, None)}
        assert dedup.restore_session_width(spark) == int(original)
        assert spark.conf.get("spark.sql.shuffle.partitions") == original
    finally:
        for h in handles:
            h.unpersist()
        spark.conf.set("spark.sql.shuffle.partitions", original)
        spark.conf.unset(dedup._DEDUP_BASELINE_KEY)


def test_jvm_heap_gib_parses_units(spark):
    """The helper must parse the FULL Spark byte-string grammar
    (JavaUtils.byteStringAs): one-letter prefixes with or without a
    trailing 'b' ('48g' == '48gb'), bare 'b' bytes, and — the trap — a
    bare number meaning MiB (Spark's memory-conf default unit), NOT
    bytes: decoding '4096' as bytes would classify a comfortable 4 GiB
    heap as microscopically small and widen every dedup run."""
    heap = dedup.jvm_heap_gib(spark)
    assert 0 < heap < 4_096  # the live session reads sanely

    class _Conf:
        def __init__(self, mem):
            self.mem = mem

        def get(self, k, d=None):
            return {"spark.master": "local[4]", "spark.driver.memory": self.mem}.get(
                k, d
            )

    class _Spark:
        def __init__(self, mem):
            self.conf = _Conf(mem)

    import pytest as _pytest

    cases = [
        ("48g", 48.0),
        ("48gb", 48.0),
        ("4096m", 4.0),
        ("4096mb", 4.0),
        ("4096", 4.0),  # bare number: MiB, Spark's default unit
        ("2t", 2048.0),
        ("1073741824b", 1.0),
        ("4096k", 4096 / 1024**2),
    ]
    for raw, want in cases:
        assert abs(dedup.jvm_heap_gib(_Spark(raw)) - want) < 1e-9, raw
    with _pytest.raises(ValueError):
        dedup.jvm_heap_gib(_Spark("lots"))


def test_bigram_lm_scores_empty_model_corpus_raises(spark):
    """An empty/all-blank reference corpus must raise, not hand back
    silently-NULL scores (0/0 smoothing under ANSI-off) that a
    filtering pipeline would act on."""
    import pytest as _pytest

    from tagmarshal_data_lakehouse_spark.training.text import bigram_lm_scores

    crawl = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    empty = spark.createDataFrame([(9, "   ")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="no non-empty tokens"):
        bigram_lm_scores(crawl, model_df=empty).collect()


def test_simhash_vectorized_kernel_matches_reference(spark):
    """r14: the per-batch unique-token simhash kernel must reproduce the
    historical per-token accumulate bit-for-bit — pinned against an
    inline pure-Python reference on an adversarial corpus (empty docs at
    both ends, single tokens, heavy repetition, unicode, sign-bit hits)."""
    import hashlib

    import numpy as np

    from tagmarshal_data_lakehouse_spark.training.simhash import with_simhash

    def ref_simhash(text):
        norm = " ".join(text.lower().split())
        if not norm:
            return 0
        acc = np.zeros(64, dtype=np.int64)
        for tok in norm.split(" "):
            raw = np.frombuffer(
                hashlib.md5(tok.encode("utf-8")).digest()[:8], dtype=np.uint8
            )
            acc += 2 * np.unpackbits(raw, bitorder="little").astype(np.int64) - 1
        sig = 0
        for b in range(64):
            if acc[b] > 0:
                sig |= 1 << b
        return sig - (1 << 64) if sig >= (1 << 63) else sig

    texts = [
        "",
        "solo",
        "the the the the quick fox",
        "a b c d e f g h i j k l m n o p",
        "Ünïcode tökens ünïcode tökens",
        " ".join(f"tok{i % 37}" for i in range(400)),
        " ".join(f"w{i}" for i in range(123)),
        "",
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"] for r in with_simhash(df).collect()}
    for i, t in enumerate(texts):
        assert got[i] == ref_simhash(t), (i, t[:40], got[i], ref_simhash(t))


def test_minhash_numpy_twin_parity(spark, sf_smoke, monkeypatch):
    """r14: the Arrow/numpy minhash signature kernel must be
    bit-identical to the transform/array_min expression — including the
    two-argument xxhash64 chaining (hashLong(sd, hashLong(h, 42))) and
    the NULL/empty-gram [NULL]*num_perm shape — pinned by forcing both
    routing branches over real and adversarial corpora."""
    from tagmarshal_data_lakehouse_spark.training import clustering, dedup

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    monkeypatch.setattr(clustering, "_GEMM_ASSIGN_MIN_TOTAL_STEPS", 10**18)  # expression
    a = dedup.minhash_signatures(docs, keep_gram_hashes=True).collect()
    monkeypatch.setattr(clustering, "_GEMM_ASSIGN_MIN_TOTAL_STEPS", 0)  # numpy twin
    b = dedup.minhash_signatures(docs, keep_gram_hashes=True).collect()
    da = {r["doc_id"]: (list(r["sig"]), list(r["gram_hashes"])) for r in a}
    db = {r["doc_id"]: (list(r["sig"]), list(r["gram_hashes"])) for r in b}
    assert da == db

    rows = [(1, None), (2, ""), (3, "one"), (4, "a b c d e f g"), (5, "x " * 500)]
    edf = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(clustering, "_GEMM_ASSIGN_MIN_TOTAL_STEPS", 10**18)
    ea = dedup.minhash_signatures(edf).collect()
    monkeypatch.setattr(clustering, "_GEMM_ASSIGN_MIN_TOTAL_STEPS", 0)
    eb = dedup.minhash_signatures(edf).collect()
    ca = {r["doc_id"]: (list(r["sig"]) if r["sig"] is not None else None) for r in ea}
    cb = {r["doc_id"]: (list(r["sig"]) if r["sig"] is not None else None) for r in eb}
    assert ca == cb
    assert all(v is not None and len(v) == 32 for v in ca.values())
