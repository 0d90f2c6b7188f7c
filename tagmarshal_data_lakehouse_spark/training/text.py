"""Text analysis operators: normalization, token stats, quality scoring,
language-ID heuristic, fingerprinting.

All pure `pyspark.sql.functions` compositions — whole-stage-codegen'd,
no Python in the data path, so they scan-scale linearly to 100 TB (the
only shuffle any of them needs is the final aggregate, if the caller
asks for one).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Small curated stopword lists for the language-ID heuristic. Token-level
# match beats raw substring counting (no false hits inside words).
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht", "mit", "den", "von"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "no", "por"],
    "fr": ["le", "la", "de", "et", "un", "est", "que", "pour", "dans", "ne"],
}


def normalize_text(col: Column) -> Column:
    """Canonical form for dedup/fingerprinting: lowercase, collapse
    whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def tokens(col: Column) -> Column:
    """Whitespace tokenization of normalized text -> array<string>."""
    return F.split(normalize_text(col), " ")


def token_count(col: Column) -> Column:
    """Token count; 0 for empty/blank text."""
    n = normalize_text(col)
    return F.when(F.length(n) == 0, F.lit(0)).otherwise(F.size(F.split(n, " "))).cast("int")


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish token estimate: split on whitespace AND punctuation
    boundaries, then count ~4-char chunks — a cheap, deterministic proxy
    for BPE token counts used to budget training corpora."""
    # words + standalone punctuation marks
    pieces = F.regexp_extract_all(F.lower(col), F.lit(r"[a-z0-9]+|[^a-z0-9\s]"), 0)
    # each word contributes ceil(len/4) subword units
    return F.aggregate(
        pieces,
        F.lit(0),
        lambda acc, p: acc + F.ceil(F.length(p) / F.lit(4.0)).cast("int"),
    ).cast("int")


# ---------------------------------------------------------------------
# SQL-twin expression builders (r13 optimization pass, guide §1.2 "the
# Python boundary" applied to the DRIVER: bench.py times build + action,
# and profiling the curation build showed ~1,900 py4j roundtrips — 0.48 s
# of socket I/O per build — almost all from Column-by-Column construction
# of these feature expressions: each F.lit stopword, each F.when arm is
# a JVM call).  Building the identical expression as ONE SQL string
# parsed by Catalyst in a single F.expr call removes the chatter; the
# parser produces the same expression tree the Column API did, so every
# value is bit-identical (oracle-checked on doc_lang_id /
# doc_quality_scores / doc_curation_pipeline every sweep).  The public
# functions take a column NAME.
# ---------------------------------------------------------------------


def _sql_ref(name: str) -> str:
    """Backtick-quoted SQL reference for a column name."""
    return "`" + name.replace("`", "``") + "`"


def _norm_sql(c_sql: str) -> str:
    # the proven SQL twin of normalize_text (same text as dedup._norm_sql)
    return f"trim(regexp_replace(lower({c_sql}), '\\\\s+', ' '))"


def _tokens_sql(c_sql: str) -> str:
    return f"split({_norm_sql(c_sql)}, ' ')"


def _token_count_sql(c_sql: str) -> str:
    n = _norm_sql(c_sql)
    return (
        f"CAST(CASE WHEN length({n}) = 0 THEN 0 "
        f"ELSE size(split({n}, ' ')) END AS INT)"
    )


def _stopword_hits_sql(c_sql: str, lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"CAST(size(filter({_tokens_sql(c_sql)}, "
        f"t -> array_contains(array({words}), t))) AS INT)"
    )


def _language_id_sql(c_sql: str, langs: tuple[str, ...]) -> str:
    hits = {lang: _stopword_hits_sql(c_sql, lang) for lang in langs}
    exprs = list(hits.values())
    best = f"greatest({', '.join(exprs)})" if len(exprs) > 1 else exprs[0]
    whens = " ".join(f"WHEN {hits[lang]} = {best} THEN '{lang}'" for lang in langs)
    return (
        f"CASE WHEN {best} = 0 THEN 'und' "
        f"ELSE CASE {whens} ELSE 'und' END END"
    )


def stopword_hits(col: str, lang: str) -> Column:
    """Number of tokens in column `col` that are stopwords of `lang`
    (token-exact match), parsed as one SQL expression."""
    return F.expr(_stopword_hits_sql(_sql_ref(col), lang))


def language_id(col: str, langs: tuple[str, ...] = ("en", "de", "es", "fr")) -> Column:
    """Deterministic argmax over per-language stopword hit counts of
    column `col`; ties broken by language code order in `langs`; 'und'
    when no hits."""
    return F.expr(_language_id_sql(_sql_ref(col), langs))


def punct_count(col: Column) -> Column:
    """Count of punctuation characters (explicit class — portable regex)."""
    return (F.length(col) - F.length(F.regexp_replace(col, "[.,!?;:'\"()-]", ""))).cast("int")


def upper_ratio(col: Column) -> Column:
    """Fraction of characters that are uppercase ASCII."""
    n_upper = F.length(col) - F.length(F.regexp_replace(col, "[A-Z]", ""))
    return n_upper / F.nullif(F.length(col), F.lit(0))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach per-document quality features + a weighted score in [0,100].

    Same weighted-composite shape as the reference's data-quality scores
    (critical_column_gaps.sql:146-154), applied to corpus QA: length,
    token shape, punctuation balance, stopword density.

    Built as ONE selectExpr (SQL-twin note above): the expression trees
    are identical to the former Column-API construction — double
    literals spelled in e-notation/CAST so every intermediate keeps the
    exact type the Column form produced (F.lit(40.0) was a DOUBLE; a
    bare SQL `40.0` would parse as DECIMAL) — so every value is
    bit-identical, at ~one py4j call instead of hundreds.
    """
    c = _sql_ref(text_col)
    n_chars = f"octet_length({c})"
    n_tokens = _token_count_sql(c)
    dnull = "CAST(0 AS DOUBLE)"
    mean_token_len = (
        f"round(length({_norm_sql(c)}) / nullif(CAST({n_tokens} AS DOUBLE), {dnull}), 6)"
    )
    sw = _stopword_hits_sql(c, "en")
    stopword_ratio = f"round({sw} / nullif(CAST({n_tokens} AS DOUBLE), {dnull}), 6)"
    p_count = (
        f"CAST(length({c}) - length(regexp_replace({c}, '[.,!?;:\\'\"()-]', '')) AS INT)"
    )
    p_ratio = f"round({p_count} / nullif(CAST({n_chars} AS DOUBLE), {dnull}), 6)"
    length_ok = f"(({n_chars} >= 100) AND ({n_chars} <= 100000))"
    token_shape_ok = f"(({mean_token_len} >= 2.0D) AND ({mean_token_len} <= 12.0D))"
    score = (
        f"round(4.0e1 * CAST({length_ok} AS INT) "
        f"+ 3.0e1 * CAST({token_shape_ok} AS INT) "
        f"+ 2.0e1 * CAST(({stopword_ratio} <= 0.6D) AS INT) "
        f"+ 1.0e1 * CAST(({p_ratio} <= 0.2D) AS INT), 1)"
    )
    return df.selectExpr(
        "*",
        f"CAST({n_chars} AS BIGINT) AS n_bytes",
        f"{n_tokens} AS n_tokens",
        f"{mean_token_len} AS mean_token_len",
        f"{stopword_ratio} AS stopword_ratio_en",
        f"{p_ratio} AS punct_ratio",
        f"{score} AS quality_score",
    )


def token_rarity(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Corpus-frequency rarity profile per document — the quality signal
    that separates natural text (common-word heavy) from junk
    (identifiers, hashes, OCR noise: corpus-rare tokens).

    Two aggregation levels over ONE tokenization pass: per-(doc, token)
    counts, the corpus vocabulary from re-aggregating those counts, then
    a token-keyed equi-join back (the standard inverted-index shape —
    shuffles on the token key, never widens beyond the vocabulary).

    Every output is integer arithmetic or a single exact division of
    integers, so the operator is bit-reproducible across engines and
    partitionings — no float sums anywhere (this is why the metric is
    mean corpus frequency rather than a log-probability: ln() is not
    guaranteed identically rounded across engines' libm).

    Output per input document (blank docs keep a row, counts 0/NULL):
    n_tokens, mean_token_freq (frequency-weighted), rare_fraction
    (share of tokens with corpus frequency <= 2), rarest_token_freq.
    """
    from .dedup import ensure_parallelism

    # `t` is the token's xxhash64, not the string (r13, guide §2.3): no
    # output column carries a token, so the count/vocab aggregations and
    # the vocabulary join run on 8-byte keys — identical values modulo
    # an in-vocabulary collision (~|vocab|²/2⁶⁴, the documented class of
    # tf_cosine_pairs / the verdict path), oracle-checked every sweep.
    # The empty-token filter runs inside the array BEFORE hashing, so
    # the kept token set is unchanged.
    toks = ensure_parallelism(df).select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.filter(tokens(F.col(text_col)), lambda t: F.length(t) > 0),
                lambda t: F.xxhash64(t),
            )
        ).alias("t"),
    )
    counts = toks.groupBy(id_col, "t").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    vocab = counts.groupBy("t").agg(F.sum("c").alias("freq"))
    per_doc = (
        counts.join(vocab, "t")
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.sum(F.col("c") * F.col("freq")).cast("bigint").alias("_wsum"),
            F.sum(F.when(F.col("freq") <= 2, F.col("c")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("_nrare"),
            F.min("freq").cast("bigint").alias("rarest_token_freq"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            F.round(F.col("_wsum").cast("double") / F.col("n_tokens").cast("double"), 6).alias(
                "mean_token_freq"
            ),
            F.round(F.col("_nrare").cast("double") / F.col("n_tokens").cast("double"), 6).alias(
                "rare_fraction"
            ),
            F.col("rarest_token_freq"),
        )
    )


def source_token_diversity(
    df: DataFrame, source_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-source vocabulary-concentration profile — the curation signal
    that flags repetitive/templated/spammy sources before they dominate
    a training mixture: low type-token ratio and high HHI mean a few
    tokens carry most of the mass.

    Same inverted-index shape as token_rarity: one tokenization pass to
    (source, token) counts, then a per-source re-aggregate — the shuffle
    key is the token grain, never the corpus. All metrics are exact
    integer aggregates divided once at the end (BIGINT casts are
    correctly rounded into double, so one IEEE division per metric is
    bit-identical on any engine/partitioning — no float sums anywhere).
    HHI = Σ f² / N² via two successive divisions so N² never overflows;
    Σ f² accumulates in DECIMAL(38,0) (the per-term product is cast
    before the sum), so a source repeating a single token past ~3e9
    occurrences — where a BIGINT sum would silently wrap in Spark (ANSI
    off) while DuckDB errors — stays exact on both engines up to 38
    digits.

    Output per source (sources whose docs are all blank keep a row with
    NULL token metrics): n_docs, n_tokens, vocab_size, top_token_freq,
    type_token_ratio, top_token_share, hhi.
    """
    from .dedup import ensure_parallelism

    # token-hash keys, same rationale and collision class as
    # token_rarity above (r13, guide §2.3) — no output carries a token
    toks = ensure_parallelism(df).select(
        F.col(source_col).alias("source"),
        F.explode(
            F.transform(
                F.filter(tokens(F.col(text_col)), lambda t: F.length(t) > 0),
                lambda t: F.xxhash64(t),
            )
        ).alias("t"),
    )
    counts = toks.groupBy("source", "t").agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    per_source = counts.groupBy("source").agg(
        F.sum("f").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.max("f").cast("bigint").alias("top_token_freq"),
        # the OPERAND is cast, not the product: f*f in BIGINT wraps
        # silently in Spark (ANSI off) past ~3e9 per-token frequency,
        # and casting the already-wrapped product would widen garbage
        F.sum(F.col("f").cast("decimal(19,0)") * F.col("f")).alias("_sumsq"),
    )
    n_tok = F.col("n_tokens").cast("double")
    return (
        df.groupBy(F.col(source_col).alias("source"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .join(per_source, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "vocab_size",
            "top_token_freq",
            F.round(F.col("vocab_size").cast("double") / n_tok, 6).alias("type_token_ratio"),
            F.round(F.col("top_token_freq").cast("double") / n_tok, 6).alias("top_token_share"),
            F.round(F.col("_sumsq").cast("double") / n_tok / n_tok, 9).alias("hhi"),
        )
    )


def _doc_bigrams(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document bigram counts, formed IN-PLAN from the token array
    (arrays_zip of two slices — no window, no shuffle before the
    (doc, w1, w2) hash aggregate)."""
    from .dedup import ensure_parallelism

    toks = ensure_parallelism(df).select(
        F.col(id_col), tokens(F.col(text_col)).alias("arr")
    )
    n = F.size(F.col("arr"))
    bigrams = (
        # normalize_text collapses whitespace, so every token in a
        # >=2-token array is non-empty; n >= 2 alone gates the blanks.
        toks.filter(n >= 2)
        .select(
            F.col(id_col),
            F.explode(
                F.arrays_zip(
                    F.slice("arr", 1, n - 1).alias("w1"),
                    F.slice("arr", 2, n - 1).alias("w2"),
                )
            ).alias("bg"),
        )
        # w1/w2 as the token's xxhash64, not the string (r14, guide §2.3
        # — VERDICT r13 item 7 key audit): neither token ever reaches an
        # output column (scores are per doc), they are only group/join
        # keys for the bigram/context aggregates and the model equi-join,
        # so two 8-byte longs shuffle and hash cheaper than two token
        # strings.  Counts are identical modulo an in-vocabulary xxhash64
        # collision (~|vocab|²/2⁶⁴ — the same accepted, documented class
        # as the tf_cosine/ngram/token-profile key substitutions).
        .select(
            F.col(id_col),
            F.xxhash64(F.col("bg.w1")).alias("w1"),
            F.xxhash64(F.col("bg.w2")).alias("w2"),
        )
    )
    return bigrams.groupBy(id_col, "w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    )


def bigram_lm_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: int = 1,
    model_df: DataFrame | None = None,
) -> DataFrame:
    """Per-document language-model quality score — the CCNet-style
    (Wenzek et al. 2019) perplexity filter. By default the reference
    n-gram LM trains on the scored corpus itself; pass ``model_df`` (a
    frame with the same id/text columns) to train it on a CLEAN
    reference corpus instead — the deployment shape the cited paper
    uses, where a crawl is scored against e.g. Wikipedia and documents
    whose bigrams are unusual for the REFERENCE (boilerplate, OCR
    noise, wrong language) score a high cross-entropy and get filtered
    or down-weighted.

    Model: add-alpha-smoothed bigram LM,
    P(w2|w1) = (c(w1,w2) + alpha) / (c(w1) + alpha*V), with counts and
    V taken from the model corpus. V is the model corpus's full unigram
    vocabulary — ALL non-empty tokens, including tokens that only occur
    in single-token documents and so participate in no bigram (the
    corpus-vocabulary definition the smoothing denominator implies).
    Bigrams absent from the model back off to the alpha mass:
    c(w1,w2)=0 and, for an unseen context, c(w1)=0 — so an
    entirely-OOV bigram scores -log2(1/V). Score: avg_nll_bits = mean
    of -log2 P over the document's bigrams (perplexity =
    2^avg_nll_bits, derivable by the caller). alpha=0 (pure MLE) is
    only meaningful self-trained, where every scored bigram exists in
    the model.

    Plan shape at 100 TB: bigram pairs are formed IN-PLAN from the token
    array (arrays_zip of two slices — no window, no shuffle), then three
    token/bigram-grain aggregates (bigram counts, context counts, one
    scalar vocab count) and one equi-join of doc-bigrams back to the
    model — the inverted-index shape again; nothing ever widens past the
    bigram vocabulary. The per-doc mean goes through an exact DECIMAL
    sum of ROUND(-log2 p, 9) terms, so the score is independent of
    partitioning/aggregation order (log2 itself is this engine's libm —
    which is why the registry entry is rows-only, not DuckDB-hashed).

    Output per input doc: n_bigrams (NULL for docs with < 2 tokens,
    which have no bigram evidence), avg_nll_bits.
    """
    from .dedup import ensure_parallelism

    doc_bg = _doc_bigrams(df, id_col, text_col)
    if model_df is None:
        model_bg = doc_bg
        model_src = df
    else:
        model_bg = _doc_bigrams(model_df, id_col, text_col)
        model_src = model_df
    model_bi = model_bg.groupBy("w1", "w2").agg(F.sum("k").cast("bigint").alias("c_bi"))
    model_uni = model_bi.groupBy("w1").agg(F.sum("c_bi").cast("bigint").alias("c_uni"))
    # one-row scalar: the model corpus's full unigram vocabulary — a
    # countDistinct over the exploded token stream (token-grain shuffle,
    # the same shape as every other token aggregate here). Counting all
    # non-empty tokens — not just bigram participants — keeps V the
    # corpus vocabulary the smoothing denominator implies even when
    # some tokens only ever appear in single-token documents.
    # Bounded collect, a single long.
    # distinct over the token's xxhash64 (r14, guide §2.3 — same key
    # class as _doc_bigrams above): V never surfaces a token string, and
    # the distinct's shuffle/hash runs on 8-byte longs.  The length
    # filter stays on the string (kept set unchanged).
    vocab = (
        ensure_parallelism(model_src)
        .select(F.explode(tokens(F.col(text_col))).alias("t"))
        .filter(F.length("t") > 0)
        .agg(F.countDistinct(F.xxhash64(F.col("t"))).cast("bigint").alias("v"))
        .collect()[0]["v"]
    )
    if vocab == 0:
        # an empty/all-blank model corpus would make every smoothed
        # probability a 0/0 -> NULL (ANSI off) and every score silently
        # NULL — a filtering pipeline keyed on avg_nll_bits would then
        # pass or drop EVERYTHING; surface the misconfiguration instead
        raise ValueError(
            "bigram_lm_scores: model corpus has no non-empty tokens "
            "(empty or all-blank model_df) — cannot train a reference LM"
        )
    p = (F.coalesce(F.col("c_bi"), F.lit(0)) + F.lit(alpha)) / (
        F.coalesce(F.col("c_uni"), F.lit(0)) + F.lit(alpha) * F.lit(vocab)
    )
    nll = F.round(-F.log2(p), 9)
    per_doc = (
        doc_bg.join(model_bi, ["w1", "w2"], "left")
        .join(model_uni, "w1", "left")
        .groupBy(id_col)
        .agg(
            F.sum("k").cast("bigint").alias("n_bigrams"),
            F.sum((F.col("k") * nll).cast("decimal(28,9)")).alias("_nll_sum"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            "n_bigrams",
            F.round(
                F.col("_nll_sum").cast("double") / F.col("n_bigrams").cast("double"), 6
            ).alias("avg_nll_bits"),
        )
    )


def fingerprint(col: Column, prefix_len: int = 16) -> Column:
    """Deterministic document fingerprint: md5 of normalized text
    (hex prefix). Cross-engine stable (md5 is md5 everywhere), unlike
    murmur/xxhash whose seeds differ between engines."""
    return F.substring(F.md5(normalize_text(col)), 1, prefix_len)


def source_drift(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_width: int = 10,
) -> DataFrame:
    """Per-source distribution-drift report: L1 distance between each
    source's token-length histogram and the corpus-wide histogram — the
    monitoring query a continuous ingest runs to catch a crawler or
    upstream source whose content profile shifted.

    Exactness discipline: the naive Σ_b |c_sb/N_s − c_b/N| sums doubles
    in aggregation order (partition-dependent). Instead the numerator is
    kept INTEGER — Σ_b |c_sb·N − c_b·N_s| over bigints is associative
    and exact — and divided once by (N_s·N) at the end: one correctly-
    rounded IEEE division, bit-identical on any engine/partitioning.
    drift_l1 ranges [0, 2] (2 = disjoint support).

    Scale shape: ONE fact scan into the (source, bucket) counts; every
    later frame (bucket marginals, totals, the source×bucket grid that
    restores zero-count buckets — dropping them would understate drift)
    is an aggregate of that tiny result, so the whole report costs one
    map-side-combined aggregation at any corpus size.
    """
    bucket = (F.floor(token_count(F.col(text_col)) / bucket_width) * bucket_width).cast("bigint")
    counts = (
        df.select(F.col(group_col).alias("source"), bucket.alias("token_bucket"))
        .groupBy("source", "token_bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_sb"))
    )
    per_source = counts.groupBy("source").agg(F.sum("c_sb").cast("bigint").alias("n_docs"))
    per_bucket = counts.groupBy("token_bucket").agg(F.sum("c_sb").cast("bigint").alias("c_b"))
    total = counts.agg(F.sum("c_sb").cast("bigint").alias("n_total"))
    grid = per_source.crossJoin(per_bucket).crossJoin(F.broadcast(total))
    dev = (
        grid.join(counts, ["source", "token_bucket"], "left")
        .withColumn("c_sb", F.coalesce("c_sb", F.lit(0)))
        .withColumn(
            "abs_dev",
            F.abs(F.col("c_sb") * F.col("n_total") - F.col("c_b") * F.col("n_docs")).cast(
                "bigint"
            ),
        )
    )
    return (
        dev.groupBy("source", "n_docs", "n_total")
        .agg(F.sum("abs_dev").cast("bigint").alias("int_dev"))
        .select(
            "source",
            "n_docs",
            F.round(
                F.col("int_dev").cast("double")
                / (F.col("n_docs").cast("double") * F.col("n_total").cast("double")),
                6,
            ).alias("drift_l1"),
        )
    )


def corpus_keywords(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 100,
    min_df: int = 2,
) -> DataFrame:
    """Corpus-level keyword extraction: terms ranked by a linear-idf
    score tf_total · (N / df) — high total usage concentrated in few
    documents.

    Linear idf (N/df) instead of the textbook log(N/df) is a
    deliberate exactness trade: log is not a correctly-rounded IEEE op,
    so two engines can disagree in the last ulp and flip adjacent ranks;
    N/df keeps every input integer and the score one multiply + one
    divide over exact values — bit-identical ranking everywhere. The
    rarest terms are tempered by `min_df` (hapax noise never ranks).

    Scale shape (r13 optimization pass, guide §1.2 "don't compute
    things twice"): ONE tokenization pass.  The old form tokenized the
    corpus twice — explode(array_distinct(toks)) for document
    frequency and explode(toks) for total frequency, two independent
    scan→normalize→split chains in the executed plan.  Instead the
    per-(doc, term) counts come from one map-side-combined explode
    (the exchange carries postings, nothing token-grain — the same
    discipline as tf_cosine_pairs), and ONE (term) aggregation derives
    both statistics from them: term_df = COUNT of (doc, term) groups,
    tf_total = SUM of their counts.  Both are exact integers either
    way, so every score is bit-identical to the two-pass form.  The
    corpus count needs no tokens at all — it counts the raw frame.
    Top-k is TakeOrderedAndProject (never a global sort of the
    vocabulary).
    """
    postings = (
        df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    stats = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("term_df"),
        F.sum("tf").cast("bigint").alias("tf_total"),
    )
    # one-row corpus count, broadcast into the plan (no driver action);
    # counting the RAW frame keeps the tokenize expression out of this
    # branch entirely (one row per input document either way)
    n_docs = df.agg(F.count(F.lit(1)).cast("bigint").alias("_n_docs"))
    score = F.round(
        F.col("tf_total").cast("double")
        * (F.col("_n_docs").cast("double") / F.col("term_df").cast("double")),
        6,
    )
    return (
        stats.filter(F.col("term_df") >= min_df)
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", score)
        .drop("_n_docs")
        .orderBy(F.col("score").desc(), F.col("term"))
        .limit(top_k)
    )
