"""Curation-operator semantics: decontamination hit correctness,
repetition profile on a crafted doc, PII pattern counts, and the
sequence-packing invariants (budget, ordering, contiguity, truncation)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tagmarshal_data_lakehouse_spark.plans import physical_plan
from tagmarshal_data_lakehouse_spark.training import curation


def test_decontaminate_finds_planted_leak(spark):
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely unrelated text about astronomy and telescopes here"),
        ],
        "doc_id long, text string",
    )
    eval_set = spark.createDataFrame(
        [(100, "we ask whether the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    hits = curation.decontaminate(corpus, eval_set, ngram=5).collect()
    pairs = {(r["train_id"], r["eval_id"]): r["n_shared_grams"] for r in hits}
    # doc 1 shares the 9-token run -> five 5-grams; doc 2 shares nothing
    assert pairs == {(1, 100): 5}


def test_repetition_stats_on_crafted_doc(spark):
    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),
            (2, "one two three four five six"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in curation.repetition_stats(df, n=3).collect()}
    # doc 1: 4 grams, all identical
    assert rows[1]["n_grams"] == 4 and rows[1]["n_distinct_grams"] == 1
    assert rows[1]["top_gram_count"] == 4 and rows[1]["repetition_ratio"] == 0.75
    # doc 2: 4 grams, all distinct
    assert rows[2]["n_distinct_grams"] == 4 and rows[2]["repetition_ratio"] == 0.0


def test_pii_scan_patterns(spark):
    df = spark.createDataFrame(
        [
            (1, "contact alice@example.com or bob@test.org today"),
            (2, "see https://example.com/x and call 5551234567"),
            (3, "clean text with no sensitive content at all"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in curation.pii_scan(df).collect()}
    assert rows[1]["n_emails"] == 2 and rows[1]["has_pii"]
    assert rows[2]["n_urls"] == 1 and rows[2]["n_long_digit_runs"] == 1
    assert rows[3]["has_pii"] is False


def test_pack_sequences_invariants(spark, sf_smoke):
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    budget = 64
    out = curation.pack_sequences(docs, max_tokens=budget, n_shards=4).collect()
    assert len(out) == docs.count()  # every doc placed exactly once

    by_pack: dict = {}
    for r in out:
        by_pack.setdefault((r["shard"], r["pack_id"]), []).append(r)
    for (_, _), members in by_pack.items():
        members.sort(key=lambda r: r["pos_in_pack"])
        # budget: packed token mass never exceeds the budget unless the
        # pack is a single oversized (truncated) document
        total = sum(min(r["n_tokens"], budget) for r in members)
        if not any(r["truncated"] for r in members):
            assert total <= budget
        else:
            assert len(members) == 1
        # contiguity: offsets are the running sum of clamped lengths
        expected = 0
        for r in members:
            assert r["offset"] == expected
            expected += min(r["n_tokens"], budget)
        # ordering: doc ids ascend with position (shard-local id order)
        ids = [r["doc_id"] for r in members]
        assert ids == sorted(ids)


def test_pack_sequences_truncation_flag(spark):
    df = spark.createDataFrame(
        [(1, "w " * 10), (2, "w " * 500), (3, "w " * 10)],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in curation.pack_sequences(df, max_tokens=64, n_shards=1).collect()}
    assert rows[2]["truncated"] and not rows[1]["truncated"] and not rows[3]["truncated"]
    # the oversized doc sits alone in its pack
    assert rows[2]["pos_in_pack"] == 0
    assert rows[1]["pack_id"] != rows[2]["pack_id"] or rows[3]["pack_id"] != rows[2]["pack_id"]


def test_chunk_windows_coverage_and_overlap(spark):
    """Every token position is covered; consecutive chunks overlap by
    max_tokens - stride; chunk sizes cap at max_tokens."""
    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(250))),  # 250 toks -> 5 chunks
         (2, "short doc only"),                        # 3 toks  -> 1 chunk
         (3, "   ")],                                  # blank   -> 0 chunks
        "doc_id long, text string",
    )
    rows = curation.chunk_windows(df, max_tokens=64, stride=48).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 3 not in by_doc  # blank doc yields no chunks
    assert len(by_doc[2]) == 1 and by_doc[2][0]["n_chunk_tokens"] == 3
    chunks = sorted(by_doc[1], key=lambda r: r["chunk_index"])
    assert len(chunks) == 5  # 1 + ceil((250-64)/48)
    covered = set()
    for c in chunks:
        assert c["chunk_start_token"] == c["chunk_index"] * 48
        assert c["n_chunk_tokens"] <= 64
        toks = c["chunk_text"].split(" ")
        assert len(toks) == c["n_chunk_tokens"]
        assert toks[0] == f"t{c['chunk_start_token']}"  # slice is aligned
        covered |= set(range(c["chunk_start_token"],
                             c["chunk_start_token"] + c["n_chunk_tokens"]))
    assert covered == set(range(250))  # full coverage, no gaps


def test_chunk_windows_rejects_bad_params(spark):
    import pytest

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        curation.chunk_windows(df, max_tokens=32, stride=64)  # stride > window
    with pytest.raises(ValueError):
        curation.chunk_windows(df, max_tokens=0, stride=0)


def test_decontaminate_bloom_no_false_negatives(spark, sf_smoke):
    """bloom_hit must be a SUPERSET of the exact decontaminate hits
    (one-sided error), and on this corpus the false-positive overhead
    must stay small (m=2^20 bits vs a few thousand eval grams)."""
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 37 != 0)
    eval_set = docs.filter(F.col("doc_id") % 37 == 0)
    exact_ids = {
        r["train_id"]
        for r in curation.decontaminate(corpus, eval_set, ngram=5).collect()
    }
    bloom = curation.decontaminate_bloom(corpus, eval_set, ngram=5).collect()
    flagged = {r["doc_id"] for r in bloom if r["bloom_hit"]}
    assert exact_ids <= flagged  # zero false negatives
    n_corpus = corpus.count()
    # FPR envelope: with n eval grams, k=4, m=2^20 the per-gram FPR is
    # well under 1%; allow generous slack for multi-gram documents.
    assert len(flagged - exact_ids) <= max(5, n_corpus // 10)


def test_decontaminate_bloom_plan_is_shuffle_free(spark):
    """The corpus side must stay join-free and shuffle-free — the whole
    point of the bloom path at 100 TB (the only exchange allowed is
    ensure_parallelism's one-time spread of a single-split input)."""
    corpus = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta doc {i}") for i in range(20)],
        "doc_id long, text string",
    )
    eval_set = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    out = curation.decontaminate_bloom(corpus, eval_set, ngram=5)
    plan = physical_plan(out)
    assert "Join" not in plan  # membership is an expression, not a join


def test_curate_corpus_verdicts(spark):
    """Duplicate beats low_quality in drop_reason; canonical of a dup
    cluster survives if quality passes; kept == drop_reason is NULL."""
    good = "the quick brown fox jumps over the lazy dog and that is fine " * 4
    df = spark.createDataFrame(
        [(1, good), (2, good), (3, "x"), (4, good + "unique tail here")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in curation.curate_corpus(df).collect()}
    assert rows[1]["is_canonical"] and rows[1]["kept"]
    assert rows[2]["drop_reason"] == "duplicate" and not rows[2]["kept"]
    assert rows[3]["drop_reason"] == "low_quality" and not rows[3]["kept"]
    assert rows[4]["kept"] and rows[4]["cluster_size"] == 1
    assert all(r["split"] in ("train", "val", "test") for r in rows.values())


def test_curate_corpus_near_dup_stage(spark):
    """Opt-in near-dup stage: an inexact near-copy (one trailing token
    changed — not an exact duplicate) drops as 'near_duplicate' with its
    representative recorded; 'duplicate' still wins precedence for exact
    copies; the default pipeline is unchanged (no near_dup_of column)."""
    good = "the quick brown fox jumps over the lazy dog and that is fine " * 4
    near = good.rsplit(" ", 2)[0] + " altered ending"
    df = spark.createDataFrame(
        [(1, good), (2, good), (3, near), (4, "totally different text about astronomy " * 6)],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in curation.curate_corpus(df, near_dup_threshold=0.5).collect()
    }
    assert rows[1]["kept"] and rows[1]["near_dup_of"] is None
    assert rows[2]["drop_reason"] == "duplicate"  # exact beats near
    assert rows[3]["drop_reason"] == "near_duplicate" and rows[3]["near_dup_of"] == 1
    assert rows[4]["kept"]
    assert "near_dup_of" not in curation.curate_corpus(df).columns


def test_curate_corpus_drops_blank_and_null_text(spark):
    """Fail-closed quality gate: blank/whitespace/null text produces a
    NULL quality_score (every ratio divides by NULLIF(0)); those docs
    must be DROPPED as low_quality, never passed through on a NULL
    comparison."""
    good = "the quick brown fox jumps over the lazy dog and that is fine " * 4
    df = spark.createDataFrame(
        [(1, good), (2, ""), (3, "   "), (4, None)],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in curation.curate_corpus(df).collect()}
    assert rows[1]["kept"]
    # docs 2 and 3 normalize to the same empty string -> one dup cluster:
    # the non-canonical member drops as 'duplicate' (precedence), the
    # canonical one and the NULL-text doc drop on the NULL-score gate.
    assert rows[3]["drop_reason"] == "duplicate"
    assert rows[2]["drop_reason"] == "low_quality"
    assert rows[4]["drop_reason"] == "low_quality"
    assert not any(rows[d]["kept"] for d in (2, 3, 4))


def test_pii_redact_transforms_and_counts(spark):
    """Redaction replaces every scan hit, counts match the scan, and
    clean text passes through byte-identical."""
    rows = [
        (1, "mail me at a.b+c@ex-ample.org or visit https://x.io/p?q=1 ref 12345678"),
        (2, "totally clean prose with short 123 numbers"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in curation.pii_redact(df).collect()}
    assert out[1]["n_redactions"] == 3
    assert "<EMAIL>" in out[1]["text_redacted"]
    assert "<URL>" in out[1]["text_redacted"]
    assert "<NUM>" in out[1]["text_redacted"]
    assert "a.b+c@" not in out[1]["text_redacted"]
    assert out[2]["n_redactions"] == 0
    assert out[2]["text_redacted"] == rows[1][1]
    assert out[2]["chars_removed"] == 0
    scan = {r["doc_id"]: r for r in curation.pii_scan(df).collect()}
    assert out[1]["n_redactions"] == (
        scan[1]["n_emails"] + scan[1]["n_urls"] + scan[1]["n_long_digit_runs"]
    )
