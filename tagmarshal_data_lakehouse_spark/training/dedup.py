"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the part that matters at 100 TB):
- exact dedup is a single hash-aggregate on a digest — one shuffle keyed
  by a uniformly-distributed hash, no skew by construction;
- near-dup candidate generation is LSH band-bucketing: the only shuffle
  is on (band_id, band_hash); pairs are generated per-bucket via a
  self-join of bucket members, so cost is O(sum of bucket^2), never the
  O(n^2) cross product.  Oversized buckets (degenerate content) are
  capped to keep a single hot bucket from dominating a task;
- verification (exact Jaccard on shingle sets) touches only candidate
  pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .. import routing
from .text import normalize_text


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread a low-partition input across the cluster's execution slots.

    Small local files arrive as a single split, serializing the
    explode-heavy shingling work; at real scale (many parquet splits)
    this is a no-op.  The repartition shuffles raw text once — cheap
    relative to the O(tokens) work it parallelizes.

    The split estimate reads `inputFiles()` (a logical-plan walk, no job,
    no DataFrame->RDD conversion, which would needlessly compile a second
    physical plan).  A file-backed input with >= target/2 files already
    parallelizes; fewer files — or a non-file source, where inputFiles()
    is empty — gets the one-time spread.  A single file larger than
    maxPartitionBytes would be re-shuffled despite already splitting,
    which costs one pass over that file — irrelevant at 100 TB where
    inputs are many-file by construction.

    The spread is a DETERMINISTIC hash repartition over every input
    column, not round-robin ``repartition(n)`` (r13 optimization pass):
    RoundRobinPartitioning is non-deterministic, so (a) a fetch-failure
    re-run of part of the map stage can re-deal rows differently —
    Spark guards that with a full local sort of the input per task
    (sortBeforeRepartition, SPARK-23207), which for document-width rows
    is pure overhead — and (b) AQE refuses to reuse shuffle stages it
    cannot re-execute reproducibly, so identical downstream subtrees
    (e.g. the two sides of a posting self-join) each recompute the
    spread instead of sharing one exchange (measured: the capped
    posting-pair diamond runs 14 stages round-robin vs 10 hash-keyed).
    Hashing every column keeps the key unique per row (the id column is
    always in the set), which spreads evenly at any corpus shape.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        n_splits = len(df.inputFiles())
    except Exception:  # noqa: BLE001 — estimate only, never fail the query
        n_splits = 0
    if n_splits < max(2, target // 2):
        return df.repartition(target, *[F.col(c) for c in df.columns])
    return df


# Deterministic salts for minhash permutations, derived from a fixed seed
# and masked into the signed-64 range Spark literals require — public
# technique (Broder 1997 min-wise permutations).
_MINHASH_SEEDS = [
    (0x9E3779B97F4A7C15 + 0x6C62272E07BB0142 * i) & 0x7FFFFFFFFFFFFFFF for i in range(1, 65)
]


def with_shingles(df: DataFrame, text_col: str = "text", k: int = 5, out: str = "shingles") -> DataFrame:
    """Distinct k-char shingles of the normalized text, as array<string>.

    Pure built-ins: sequence -> transform -> substring -> array_distinct,
    all codegen'd; short texts yield the whole text as a single shingle.
    """
    # normalize ONCE into a temp column — referencing the normalization
    # expression inside the transform lambda would re-run the regex per
    # shingle position (O(len^2) per document).
    tmp = df.withColumn("_norm", normalize_text(F.col(text_col)))
    n = F.length(F.col("_norm"))
    shingles = F.when(n <= F.lit(k), F.array(F.col("_norm"))).otherwise(
        F.array_distinct(
            F.expr(f"transform(sequence(1, length(_norm) - {k - 1}), i -> substring(_norm, i, {k}))")
        )
    )
    return tmp.withColumn(out, shingles).drop("_norm")


def with_token_grams(df: DataFrame, text_col: str = "text", n: int = 3, out: str = "grams") -> DataFrame:
    """Distinct token n-gram shingles, as array<string>.

    Precondition (ADVICE r13): the input must not already carry a
    column named `out` or `_toks` — the selectExpr('*', ...) builders
    APPEND rather than replace, so a pre-existing column of the same
    name becomes ambiguous downstream (the historical withColumn form
    silently replaced it; no caller relies on that).

    Token grams (not char shingles) are the discriminative unit for
    corpus dedup: the gram space is vocabulary^n, so unrelated documents
    share almost none, which keeps LSH candidate volume near-linear.
    Texts shorter than n tokens contribute their full token sequence.
    """
    # tokenize ONCE into a temp column (see with_shingles: putting the
    # split inside the lambda re-tokenizes per gram position; the temp
    # column is referenced twice, which blocks CollapseProject from
    # inlining the split into the lambda). selectExpr strings keep the
    # identical two-Project structure at a fraction of the py4j calls
    # (r13 — driver-side build cost).
    tmp = df.selectExpr(
        "*",
        f"split(trim(regexp_replace(lower(`{text_col}`), '\\\\s+', ' ')), ' ') AS _toks",
    )
    return tmp.selectExpr(
        "*",
        f"array_distinct(transform(sequence(1, greatest(size(_toks) - {n - 1}, 1)), "
        f"i -> array_join(slice(_toks, i, {n}), ' '))) AS `{out}`",
    ).drop("_toks")


def _norm_sql(text_col: str) -> str:
    return f"trim(regexp_replace(lower({text_col}), '\\\\s+', ' '))"


def with_dedup_verdict(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Annotate rows IN PLACE with the exact-dedup verdict columns
    (content_md5, cluster_size, is_canonical, is_duplicate) — lowest id
    wins the canonical election.

    Precondition (ADVICE r13): the input must not already carry any of
    the verdict column names — the selectExpr('*', ...) builders APPEND
    rather than replace (see with_token_grams).

    Keeping every input column lets composed pipelines (curate_corpus)
    attach the verdict with the operator's single digest shuffle instead
    of a second join-back-by-id shuffle.

    Two selectExpr calls instead of four chained withColumns (r13
    optimization pass — driver-side build cost; see text.py's SQL-twin
    note): each withColumn is a plan-rebuilding py4j roundtrip, and the
    SQL window texts parse to the identical window expressions, so the
    plan (one digest exchange, both windows on it) and every value are
    unchanged.
    """
    id_sql = "`" + id_col.replace("`", "``") + "`"
    text_sql = "`" + text_col.replace("`", "``") + "`"
    return df.selectExpr(
        "*",
        f"md5(trim(regexp_replace(lower({text_sql}), '\\\\s+', ' '))) AS content_md5",
    ).selectExpr(
        "*",
        "CAST(count(*) OVER (PARTITION BY content_md5) AS BIGINT) AS cluster_size",
        f"row_number() OVER (PARTITION BY content_md5 ORDER BY {id_sql} ASC) = 1"
        " AS is_canonical",
    ).selectExpr(
        "*",
        "((cluster_size > 1) AND (NOT is_canonical)) AS is_duplicate",
    )


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact (normalized) dedup via content digest.

    Returns one row per document with its cluster digest, cluster size and
    canonical flag (lowest id wins).  Reference analogue: the grain-
    contract dedup of W1 (etl.py:572-586) — here keyed by content, not
    business key.  Single shuffle on the digest.
    """
    return with_dedup_verdict(df.select(F.col(id_col), F.col(text_col)), id_col, text_col).drop(
        text_col
    )


def incremental_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dedup a NEW batch against the EXISTING corpus — the operator a
    *continuous* training pipeline runs every ingest: yesterday's corpus
    is immutable, only the delta needs verdicts.

    One row per new document:
    - `dup_of_corpus`: its normalized-content digest already exists in
      the corpus (drop — we trained on it);
    - `dup_within_batch`: an earlier (lower-id) new doc in this batch has
      the same digest;
    - `keep`: neither.

    Scale shape: the corpus side reduces to DISTINCT digests before the
    join (one shuffle over corpus, output bounded by unique content);
    the verdict join and the within-batch window both key on
    `content_md5`, so Catalyst reuses one hash partitioning of the new
    batch for both (no second shuffle). Nothing here is proportional to
    corpus x batch — at 100 TB the corpus digests would come from a
    bucketed digest table written at last ingest, making the corpus-side
    shuffle a one-time cost too.
    """
    digest = F.md5(normalize_text(F.col(text_col)))
    corpus_digests = corpus.select(digest.alias("content_md5")).distinct()
    batch = new_docs.select(F.col(id_col), digest.alias("content_md5"))
    w_rank = W.partitionBy("content_md5").orderBy(F.col(id_col).asc())
    return (
        batch.withColumn("dup_within_batch", F.row_number().over(w_rank) > 1)
        .join(
            corpus_digests.withColumn("dup_of_corpus", F.lit(True)),
            "content_md5",
            "left",
        )
        .select(
            F.col(id_col),
            "content_md5",
            F.coalesce(F.col("dup_of_corpus"), F.lit(False)).alias("dup_of_corpus"),
            "dup_within_batch",
            (
                ~F.coalesce(F.col("dup_of_corpus"), F.lit(False))
                & ~F.col("dup_within_batch")
            ).alias("keep"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    ngram: int = 3,
    keep_gram_hashes: bool = False,
) -> DataFrame:
    """MinHash signature per document as ONE array<long> column `sig`:
    num_perm minima over token-gram hashes.

    Entirely shuffle-free: each signature is computed row-locally as
    array_min over per-permutation rehashes of a base xxhash64 array —
    no explode, no groupBy, so the only data movement minhash ever does
    is the LSH band shuffle downstream.  Shingles are string-hashed once
    (`gram_hashes`); per-permutation mixing rehashes the 8-byte long,
    which is much cheaper than re-hashing the string num_perm times.

    Emitting the signature as a single nested-transform array (seeds
    array -> array_min per seed) instead of num_perm separate columns
    matters more than it looks: num_perm independent expressions make
    whole-stage codegen compile num_perm copies of the rehash loop
    (~2 s of JIT per fresh plan at 32 perms, measured); the array form
    is one loop and cuts signature-stage latency ~8x cold.

    `keep_gram_hashes` retains the hashed shingle set (array<long>) for
    the downstream exact-Jaccard verify: set Jaccard over 64-bit gram
    hashes equals string-gram Jaccard up to hash collisions (~2^-64 per
    gram pair), and an 8-byte long array persists and intersects several
    times cheaper than the string shingles it replaces.
    """
    # SQL-string construction (r13 — driver-side build cost; the parsed
    # trees are identical to the former Column-API form: seeds are
    # 63-bit values, so both spellings are BIGINT literals and the
    # xxhash64(h, sd) inputs keep the exact types the hash depends on).
    shingled = with_token_grams(ensure_parallelism(df), text_col=text_col, n=ngram, out="shingles")
    hashed = shingled.selectExpr(
        "*", "transform(shingles, s -> xxhash64(s)) AS gram_hashes"
    )
    seeds_sql = ", ".join(f"{s}L" for s in _MINHASH_SEEDS[:num_perm])
    sig_sql = (
        f"transform(array({seeds_sql}), "
        f"sd -> array_min(transform(gram_hashes, h -> xxhash64(h, sd)))) AS sig"
    )
    # keep_gram_hashes=False leaves gram_hashes single-use, which lets
    # CollapseProject inline the whole shingle+hash expression into the
    # seeds lambda — re-derived once per permutation by the interpreted
    # HOF evaluator (the r10 verdict-path finding, measured ~4x on the
    # sig pass; see minhash_dedup_verdicts). The production pair path
    # passes True (two references block the collapse); a future
    # False-path caller at scale should persist the shingled frame
    # first or re-measure.
    cols = [f"`{id_col}`"] + (["gram_hashes"] if keep_gram_hashes else []) + [sig_sql]
    return hashed.selectExpr(*cols)


def minhash_lsh_candidates(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    max_bucket: int = 200,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs.

    Shuffle key is (band_id, band_hash) — uniform by construction.
    Buckets larger than `max_bucket` are dropped (degenerate boilerplate
    content); at 100 TB this bound is what keeps the worst-case task from
    exploding quadratically.
    """
    if bands <= 0 or num_perm % bands != 0:
        raise ValueError(f"num_perm ({num_perm}) must be a positive multiple of bands ({bands})")
    rows_per_band = num_perm // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band_id"),
            # xxhash64 over the signature slice: one hash of the band's
            # rows_per_band minima
            F.xxhash64(F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)).alias(
                "band_hash"
            ),
        )
        for b in range(bands)
    ]
    banded = signatures.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("band")
    ).select(id_col, "band.band_id", "band.band_hash")

    # one shuffle on the bucket key; pairs are then generated row-locally
    # from the sorted member list (sorted => id_a < id_b by position), so
    # no self-join and no window pass over the banded frame
    buckets = (
        banded.groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.expr(
                    "transform(ids, (a, i) -> "
                    "transform(slice(ids, i + 2, size(ids) - i - 1), "
                    "b -> named_struct('id_a', a, 'id_b', b)))"
                )
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b")
    return pairs.distinct()


def verify_jaccard(
    candidates: DataFrame,
    shingled: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    set_col: str = "shingles",
) -> DataFrame:
    """Exact Jaccard on shingle sets for candidate pairs only.

    array_intersect is a JVM built-in; the join fans shingle arrays out
    to candidate pairs (O(candidates), not O(n^2)).  `set_col` may hold
    string grams or their 64-bit hashes — set Jaccard is identical
    either way (modulo hash collisions).

    The union is never materialized (r13 optimization pass, guide §1.2
    per-task work): |A∪B| = |distinct A| + |distinct B| − |A∩B|, so the
    per-ROW distinct count rides the join and each PAIR pays only the
    intersect — the old per-pair `array_union` built an |A|+|B| hash set
    per candidate pair for a number the inclusion–exclusion identity
    derives from integers already at hand.  Same integers → the divided
    double and its ROUND are bit-identical (array_intersect/array_union
    are both SET-valued, so the identity is exact even for multiset
    inputs; a null element participates in both sides identically).
    """
    nd = f"size(array_distinct(`{set_col}`))"
    a_side = shingled.selectExpr(
        f"`{id_col}` AS id_a", f"`{set_col}` AS sh_a", f"{nd} AS _nd_a"
    )
    b_side = shingled.selectExpr(
        f"`{id_col}` AS id_b", f"`{set_col}` AS sh_b", f"{nd} AS _nd_b"
    )
    out = (
        candidates.join(a_side, "id_a")
        .join(b_side, "id_b")
        .selectExpr("id_a", "id_b", "size(array_intersect(sh_a, sh_b)) AS _n_common", "_nd_a", "_nd_b")
        .selectExpr(
            "id_a",
            "id_b",
            "round(_n_common / CAST(_nd_a + _nd_b - _n_common AS DOUBLE), 6) AS jaccard",
        )
    )
    return out.filter(F.col("jaccard") >= threshold)


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    bands: int = 4,
    ngram: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: token-gram shingle -> sign ->
    band -> bucket-join -> exact-Jaccard verify.

    Default 32 perms / 4 bands of 8 rows: band-collision probability is
    J^8 per band — near-zero for unrelated docs, ~0.9 overall for
    J>=0.9 true duplicates.

    The signed frame (id + gram hashes + signature array) is persisted
    (memory, spill-to-disk) so shingling runs once, not once for
    candidates and again for the verify join; persisting the hashed gram
    sets instead of string shingles shrinks the cached footprint to
    8 bytes/gram and keeps the verify-join intersections on longs.
    (Measured both ways at sf0.1: the cache build costs ~1.5 s but the
    cached re-read wins every subsequent pass; at 100 TB size the cache
    against executor memory — MEMORY_AND_DISK spills rather than
    recomputes.)"""
    from pyspark import StorageLevel

    signed = minhash_signatures(df, id_col, text_col, num_perm, ngram, keep_gram_hashes=True)
    signed = signed.persist(StorageLevel.MEMORY_AND_DISK)
    cands = minhash_lsh_candidates(signed.drop("gram_hashes"), id_col, num_perm, bands)
    hashed_sets = signed.select(id_col, "gram_hashes")
    return verify_jaccard(cands, hashed_sets, id_col, threshold, set_col="gram_hashes")


def md5_minhash_sig(grams_col: str, num_perm: int):
    """Portable minhash signature: per permutation p, the LEXICOGRAPHIC
    minimum of md5('p:' || gram) over the gram set — array<string> of
    length num_perm. Pure ANSI string ops (md5 + string min over
    fixed-width lowercase hex, where lexicographic order == numeric
    order), so the signature has a bit-identical DuckDB twin — unlike
    the xxhash64 signatures of minhash_signatures. One nested-transform
    expression, not num_perm columns (codegen compiles the loop once)."""
    seeds = F.array(*[F.lit(f"{p}:") for p in range(num_perm)])
    return F.transform(
        seeds,
        lambda sd: F.array_min(
            F.transform(F.col(grams_col), lambda g: F.md5(F.concat(sd, g)))
        ),
    )


def md5_band_hash(sig_col: str, band: int, rows_per_band: int):
    """Band key for a materialized md5-minhash signature column: md5
    over the '|'-joined minima of the band's slice. Slices a COLUMN
    (materialize the signature once; slicing the raw expression would
    recompute it per band)."""
    return F.md5(
        F.concat_ws("|", F.slice(F.col(sig_col), band * rows_per_band + 1, rows_per_band))
    )


def minhash_dedup_verdicts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    ngram: int = 3,
    threshold: float = 0.5,
    persist_shingles: bool = True,
    cache_handles: "list | None" = None,
    auto_size_session: bool = False,
    n_docs_estimate: int | None = None,
) -> DataFrame:
    """Verdict-only MinHash dedup: ONE row per document (keep / dup_of),
    never a pair-grain frame.

    ``auto_size_session=True`` applies the measured heap-bind remedy
    (`routing.size_session` — 72k docs/heap-GiB onset, widen
    cap 128 on <= 64 GiB heaps, SCALE.md r10-r12 octaves) before
    building the plan, sized from ``n_docs_estimate`` (or one
    ``df.count()`` when not given — a single columnar scan, cheap next
    to the dedup itself).  The width is a SESSION conf and must stay in
    force until the returned lazy frame executes; the pre-sizing value
    is recorded so callers can put it back afterwards with
    `routing.restore_session_width`.

    The 64x scale probe (SCALE.md) proved the honest 100 TB limit of
    `minhash_near_duplicates` is not the LSH join — it is the pair
    OUTPUT mass itself, which grows as replica² (10.6M pairs at 64x).
    A dedup pipeline rarely needs the pairs; it needs each document's
    keep/drop verdict. This operator fuses banding into the verdict the
    way `semantic_dedup` does for embeddings:

    - band minima -> bucket key, one shuffle on (band_id, band_hash);
    - each bucket elects its lowest-id member as representative via a
      window MIN over the SAME partitioning (no second shuffle);
    - every non-representative member is verified against its bucket
      representative(s) ONLY — at most num_bands candidates per doc, so
      the verify join is O(N·bands) whatever the duplicate density;
    - exact gram-set Jaccard >= threshold confirms the drop; dup_of is
      the lowest verified representative.

    Semantics are the greedy single-round representative election: a
    doc is dropped iff some band bucket holds a lower-id doc whose
    exact Jaccard clears the threshold. (Chains collapse over repeated
    application; one round is the streaming-friendly contract.)
    Degenerate buckets need no cap here — a million-member bucket still
    produces one candidate per member, which is exactly why this is
    the 100 TB default over the pair-materializing path.

    Verify payload: the exact-Jaccard confirmation runs over
    xxhash64(gram) int64 arrays projected off the cache at the join
    boundary (set sizes and hence Jaccard are identical to the
    string-gram computation barring an in-pair collision,
    ~|union|²/2⁶⁴) — both verify-join shuffles carry ~4-5x fewer bytes
    per doc than gram strings would, at measured wall parity (SCALE.md
    r10 sixth octave). The octave probes there also pin the memory
    story: linear through 4M docs given proportional heap (exponent
    1.07 at 100g), with a fixed 48g heap GC-binding at ~4M docs on the
    gram cache + aggregation state — on a real cluster executors scale
    with data, so per-executor docs (not total docs) are what the
    measured docs-per-heap-GB constant bounds.

    Portability: signatures are LEXICOGRAPHIC minima of md5 hex digests
    (seeded per permutation as md5('p:' || gram)) and band keys are
    md5 over the '|'-joined minima — pure ANSI string operations with
    bit-identical twins in DuckDB, so unlike the xxhash64 pair path the
    banding + election pipeline is oracle-checkable stage by stage.
    The verify stage's Jaccard runs over xxhash64 arrays with no
    literal DuckDB twin (the oracle computes the same Jaccard over the
    gram strings) — value-equivalent rather than expression-identical,
    the one collision-probability caveat above. md5-as-minhash is
    uniform over the gram set; the string min is taken over fixed-width
    lowercase hex, so lexicographic order == numeric order.
    """
    from pyspark import StorageLevel

    if bands <= 0 or num_perm % bands != 0:
        # bands > num_perm would make every band key md5('') — ONE
        # bucket per band, a single hot partition; a non-divisor
        # silently ignores trailing permutations (recall drifts off the
        # documented banded curve)
        raise ValueError(f"num_perm ({num_perm}) must be a positive multiple of bands ({bands})")
    if auto_size_session:
        n = n_docs_estimate if n_docs_estimate is not None else df.count()
        routing.size_session(df.sparkSession, routing.MINHASH_DEDUP, n)
    rows_per_band = num_perm // bands
    # persist_shingles caches the gram frame — and the cache is
    # LOAD-BEARING beyond avoiding recompute (r10 finding, measured in
    # SCALE.md): InMemoryRelation is a projection-collapse barrier.
    # Without it Catalyst's CollapseProject inlines the whole shingle
    # expression into md5_minhash_sig's 16-permutation lambda, and the
    # interpreted higher-order-function evaluator then re-derives the
    # gram array per permutation — a measured ~4x slowdown on the
    # signature pass (and the gram arrays read back from the columnar
    # cache are UnsafeArrayData, cheaper per element inside the lambda
    # than freshly-built generic arrays). Do NOT "optimize" the cache
    # away or chain the sig projection onto an uncached shingle
    # projection without re-measuring the octave probe.
    #
    # The cache is NOT unpersisted here — it must be live when the
    # returned lazy plan finally runs. Long-lived sessions composing
    # many verdict calls (curate_corpus loops, notebooks) have two ways
    # to avoid accumulating MEMORY_AND_DISK blocks: pass
    # persist_shingles=False and pay the ~3x shingling recompute, or
    # pass a `cache_handles` list — the persisted frame is appended to
    # it so the CALLER can `h.unpersist()` once the returned plan has
    # been consumed (round-7 ADVICE: don't make callers discover the
    # cache exists).
    shingled = with_token_grams(
        ensure_parallelism(df), text_col=text_col, n=ngram, out="grams"
    ).select(F.col(id_col), "grams")
    if persist_shingles:
        shingled = shingled.persist(StorageLevel.MEMORY_AND_DISK)
        if cache_handles is not None:
            cache_handles.append(shingled)
    signed = shingled.withColumn("sig", md5_minhash_sig("grams", num_perm))
    band_cols = [
        F.struct(
            F.lit(b).alias("band_id"),
            md5_band_hash("sig", b, rows_per_band).alias("band_hash"),
        )
        for b in range(bands)
    ]
    banded = signed.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("band")).select(
        id_col, "band.band_id", "band.band_hash"
    )
    # Representative election and membership share one hash partitioning:
    # the window MIN runs on the bucket shuffle the banding needs anyway.
    w = W.partitionBy("band_id", "band_hash")
    cand = (
        banded.withColumn("rep_id", F.min(F.col(id_col)).over(w))
        .filter(F.col("rep_id") < F.col(id_col))
        .select(id_col, "rep_id")
        .distinct()
    )
    # Verify payload: the exact-Jaccard confirmation needs only
    # |A∩B| / |A∪B| over each doc's gram SET, never the gram strings —
    # so both verify-join sides project xxhash64(gram) int64 arrays off
    # the cache at the shuffle boundary, and the join shuffles carry
    # ~4-5x fewer bytes per doc than the string arrays would (grams are
    # distinct per doc, so hashed set sizes equal string set sizes and
    # Jaccard is IDENTICAL barring an in-pair xxhash64 collision,
    # ~|union|²/2⁶⁴ — negligible, and the DuckDB oracle re-checks the
    # end-to-end verdicts every sweep). The xxhash transform runs at
    # cache-read time (measured ~free next to shingling, wall parity at
    # the 4096x octave), so the verify stages' shuffle and execution
    # memory shrink for free. Note the reduction does NOT move the
    # fixed-48g-heap bind at ~4M docs (the 8192x octave) — that is the gram cache +
    # aggregation state (SCALE.md r10) — it lowers shuffle pressure,
    # which on a real cluster is the cross-executor cost.
    # The union is never materialized per pair (r13, guide §1.2, same
    # identity as verify_jaccard): |A∪B| = |distinct A| + |distinct B|
    # − |A∩B|, with the distinct counts computed once per ROW at the
    # same projection that hashes the grams — each PAIR then pays only
    # the intersect instead of also building an |A|+|B| union hash set.
    # Same integers, same division, same ROUND → bit-identical jaccard
    # (the identity is a set identity, unconditional on collisions).
    grams_h = F.transform("grams", lambda g: F.xxhash64(g))
    nd_h = F.size(F.array_distinct(grams_h))
    verified = (
        cand.join(
            shingled.select(
                F.col(id_col).alias("rep_id"),
                grams_h.alias("rep_grams_h"),
                nd_h.alias("_nd_rep"),
            ),
            "rep_id",
        )
        .join(
            shingled.select(F.col(id_col), grams_h.alias("grams_h"), nd_h.alias("_nd_doc")),
            id_col,
        )
        .withColumn("_n_common", F.size(F.array_intersect("grams_h", "rep_grams_h")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("_n_common")
                / (F.col("_nd_doc") + F.col("_nd_rep") - F.col("_n_common")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .groupBy(id_col)
        .agg(F.min("rep_id").alias("dup_of"))
    )
    return (
        shingled.select(id_col)
        .join(verified, id_col, "left")
        .select(F.col(id_col), F.col("dup_of"), F.col("dup_of").isNull().alias("keep"))
    )


def ngram_dropped_gram_metrics(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_doc_freq: int = 100,
) -> DataFrame:
    """The silent-cap audit for `ngram_jaccard_pairs`: one row per gram
    whose document frequency exceeds `max_doc_freq` (and is therefore
    dropped before the inverted-index join), with the pair volume that
    drop suppresses.

    At 100 TB the cap is what keeps the join from exploding, but a
    capped-and-silent result reads as "covered everything" when it
    didn't — a dedup sweep should run this beside the pair output and
    alert when `affected_pairs_est` is material.  Columns:
    gram, gram_df (documents containing it), affected_pairs_est
    (gram_df choose 2 — the self-join rows the cap suppressed).
    """
    grams = with_token_grams(df, text_col=text_col, n=n, out="grams")
    inv = grams.select(F.col(id_col), F.explode("grams").alias("gram"))
    return (
        inv.groupBy("gram")
        .agg(F.count("*").alias("gram_df"))
        .filter(F.col("gram_df") > max_doc_freq)
        .withColumn(
            "affected_pairs_est",
            (F.col("gram_df") * (F.col("gram_df") - 1) / 2).cast("bigint"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.3,
    max_doc_freq: int = 100,
    max_doc_frac: float | None = None,
) -> DataFrame:
    """Token n-gram Jaccard similarity for ALL pairs sharing >=1 n-gram.

    Candidate generation is an inverted-index join on the n-gram's
    xxhash64 (8-byte shuffle key; see the r13 note at the `inv`
    projection), with pair-count aggregation giving |A∩B| without
    materializing set products; |A∪B| = |A|+|B|-|A∩B|.  This is the exact
    (non-LSH) baseline — at 100 TB you'd use minhash_near_duplicates and
    reserve this for verification.

    `max_doc_freq` bounds the worst case: a gram shared by d documents
    contributes O(d²) rows to the self-join, so boilerplate grams
    (headers, licence text) would otherwise explode the plan
    quadratically.  Grams with document frequency > max_doc_freq are
    dropped BEFORE the join — the same degenerate-bucket kill switch as
    the minhash path's max_bucket.  n_common undercounts only for pairs
    whose overlap includes a dropped gram; on the test corpus no gram
    reaches the cap, so the output is exact (asserted in tests).  The cap
    is NOT silent: every output row carries the corpus-level audit
    scalars `n_dropped_grams` (over-cap grams excluded from the join) and
    `suppressed_pairs_est` (sum of gram_df-choose-2 — the self-join rows
    the cap suppressed), so a capped run cannot read as exhaustive; the
    per-gram breakdown is `ngram_dropped_gram_metrics` (same parameters).

    `max_doc_frac` is the scale-robust cap form (see tf_cosine_pairs and
    SCALE.md): an absolute count stands still while every gram's df
    grows with the corpus, eventually dropping the whole gram vocabulary
    and silently zeroing the output. With a fraction the threshold is
    max(max_doc_freq, max_doc_frac·N), derived in-plan from a broadcast
    one-row corpus count — same parameters, same meaning, any size.
    """
    grams = with_token_grams(ensure_parallelism(df), text_col=text_col, n=n, out="grams").select(
        F.col(id_col), "grams"
    )
    sizes = grams.select(F.col(id_col), F.size("grams").alias("n_grams"))
    # inverted index on the gram's xxhash64, not the string (r13, guide
    # §2.3): the gram string is never an output — only a join/group key
    # — and an n-token gram is a long string, so the 8-byte key shrinks
    # both the gram-df aggregation and the pair self-join exchange.
    # n_common is identical modulo an in-corpus xxhash64 collision
    # (~2⁻⁶⁴ per gram pair — the same accepted class as decontaminate's
    # hashed gram join and the verdict path), and the DuckDB oracle
    # re-checks the end-to-end jaccards every sweep.  array_distinct
    # AFTER hashing (ADVICE r13): a within-document hash collision
    # would otherwise duplicate an (id, hash) posting row and inflate
    # n_common past the set-valued |A∩B| the |A|+|B|-|A∩B| denominator
    # assumes — re-distincting keeps the posting list set-valued under
    # collisions for one O(L) row-local pass.
    inv = grams.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.transform(F.col("grams"), lambda g: F.xxhash64(g)))
        ).alias("gram"),
    )
    # The over-cap gram set is tiny by construction (few grams are shared
    # by >max_doc_freq docs), so it broadcasts; the anti-join stays
    # shuffle-free on the big side.
    gram_df = inv.groupBy("gram").agg(F.count("*").alias("gram_df"))
    if max_doc_frac is not None:
        # One-row corpus count off the RAW frame (r13, guide §2.4): the
        # grams frame sits above ensure_parallelism's repartition, so
        # counting it paid a full-width (id, text) exchange just to
        # count rows that df already has one-per-document.
        n_docs = df.agg(F.count(F.lit(1)).alias("_n_docs"))
        cap = F.greatest(
            F.lit(int(max_doc_freq)),
            (F.lit(float(max_doc_frac)) * F.col("_n_docs")).cast("bigint"),
        )
        overcap = (
            gram_df.crossJoin(F.broadcast(n_docs)).filter(F.col("gram_df") > cap).drop("_n_docs")
        )
    else:
        overcap = gram_df.filter(F.col("gram_df") > max_doc_freq)
    # One-row audit over the SAME gram-df aggregate (Catalyst's
    # ReuseExchange dedupes the shuffle) — broadcast-cross-joined onto
    # every pair row below.
    audit = overcap.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dropped_grams"),
        F.coalesce(
            F.sum((F.col("gram_df") * (F.col("gram_df") - 1) / 2).cast("bigint")),
            F.lit(0),
        )
        .cast("bigint")
        .alias("suppressed_pairs_est"),
    )
    inv = inv.join(F.broadcast(overcap.select("gram")), "gram", "left_anti")
    pairs = (
        inv.alias("a")
        .join(inv.alias("b"), on="gram")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    out = (
        pairs.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("n_grams", "grams_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("n_grams", "grams_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("grams_a") + F.col("grams_b") - F.col("n_common")).cast("double"),
                6,
            ),
        )
        .select("id_a", "id_b", F.col("n_common").cast("bigint").alias("n_common"), "jaccard")
    )
    return out.filter(F.col("jaccard") >= threshold).crossJoin(F.broadcast(audit))


def tf_cosine_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.3,
    max_doc_freq: int = 100,
    max_doc_frac: float | None = None,
    prefix_filter: bool = False,
) -> DataFrame:
    """Sparse LEXICAL cosine similarity: term-frequency vectors over the
    df-capped vocabulary, pair similarity via an inverted-index join.

    The bag-of-words counterpart of the dense-embedding cosine family
    (`training/similarity.py`) and the set-based n-gram Jaccard above:
    TF vectors weight repeated terms, so templated documents that share
    vocabulary but differ in emphasis separate where Jaccard saturates.
    Every intermediate is an INTEGER (term counts, Σtf², Σtf_a·tf_b), so
    the final cosine is one correctly-rounded IEEE expression over exact
    inputs — bit-reproducible across engines and partitionings, unlike a
    float-accumulated dot product.

    Scale shape (the inverted-index discipline of `ngram_jaccard_pairs`):
    per-document term counts come from one map-side-combined
    (doc, term) aggregation (the exchange carries postings, nothing
    token-grain), the posting self-join shuffles on the term's 8-byte
    xxhash64 (r13; see the note at the `postings` projection),
    and `max_doc_freq` drops boilerplate/stopword terms BEFORE
    the join, bounding the worst per-term pair fan-out at O(cap²). The
    cap doubles as stopword pruning: ubiquitous terms carry no cosine
    signal but dominate join cost. Norms are over the KEPT vocabulary
    (the vector space is defined post-cap), and the cap is not silent —
    every row carries `n_dropped_terms` / `suppressed_pairs_est` audit
    scalars, mirroring the n-gram path.

    `max_doc_frac` is the scale-robust form of the cap: an ABSOLUTE
    count does not survive corpus growth — double the corpus and every
    term's df doubles while the cap stands still, until the whole
    vocabulary is over-cap and every cosine collapses (observed
    empirically in tools/scale_probe.py: 4x amplification under a fixed
    cap emptied the kept vocabulary and output 0 pairs). With a
    fraction, the threshold is max(max_doc_freq, max_doc_frac·N),
    derived IN THE PLAN from a one-row corpus count (broadcast — no
    driver action), so the same parameters mean the same thing at any
    corpus size. The absolute `max_doc_freq` then acts as a small-corpus
    floor.

    Columns: id_a, id_b, dot, cosine (round 6), n_dropped_terms,
    suppressed_pairs_est. Pairs with no kept term in common never appear
    (their cosine is 0 by definition; documents whose kept vocabulary is
    empty have no postings and likewise never pair).
    """
    from .text import tokens

    toked = ensure_parallelism(df).select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
    # TF via explode + groupBy(doc, term): linear CPU, and the exchange
    # is POSTINGS-volume, not token-volume — map-side partial
    # aggregation collapses within-doc repeats before anything moves,
    # and postings is exactly what the term join below shuffles anyway.
    # (Measured alternatives: a row-local array fold is O(unique·len)
    # per doc — 2.5x slower at 50-token docs, unusable at 10k; a sorted
    # run-length higher-order expression is O(L log L) on paper but
    # CollapseProject re-inlines the bounds subexpression per element
    # access, exploding codegen.)
    #
    # `term` is the token's xxhash64, not the string (r13 optimization
    # pass, guide §2.3 "shuffle keys instead of payloads"): the term
    # string appears in NO output column — it is only ever a grouping /
    # join key — so an 8-byte long key does the same work with cheaper
    # hashing/equality at the aggregate and a narrower exchange at both
    # the postings aggregation and the pair self-join (measured at
    # sf0.1: postings noop 0.76 -> 0.53 s, capped pair path 0.98 ->
    # 0.81 s). Counts are identical modulo an in-vocabulary xxhash64
    # collision (~|vocab|²/2⁶⁴ — the same accepted, documented class as
    # the minhash verdict path's hashed grams), and the DuckDB oracle
    # re-checks the end-to-end values on every sweep.
    postings = (
        toked.select(
            F.col(id_col),
            F.explode(F.transform(F.col("toks"), lambda s: F.xxhash64(s))).alias("term"),
        )
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    term_df = postings.groupBy("term").agg(F.count("*").alias("term_df"))
    if max_doc_frac is not None:
        # threshold = max(floor, frac·N), derived in-plan: the one-row
        # doc count broadcasts onto the (term, df) aggregate.  Counted
        # off the RAW frame (r13, guide §2.4) — counting `toked` paid
        # ensure_parallelism's full-width exchange for a row count df
        # already has one-per-document.
        n_docs = df.agg(F.count(F.lit(1)).alias("_n_docs"))
        cap = F.greatest(F.lit(int(max_doc_freq)), (F.lit(float(max_doc_frac)) * F.col("_n_docs")).cast("bigint"))
        overcap = (
            term_df.crossJoin(F.broadcast(n_docs)).filter(F.col("term_df") > cap).drop("_n_docs")
        )
    else:
        overcap = term_df.filter(F.col("term_df") > max_doc_freq)
    audit = overcap.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dropped_terms"),
        F.coalesce(
            F.sum((F.col("term_df") * (F.col("term_df") - 1) / 2).cast("bigint")), F.lit(0)
        )
        .cast("bigint")
        .alias("suppressed_pairs_est"),
    )
    # Over-cap set is tiny by construction -> broadcast anti-join keeps
    # the big posting side shuffle-free here (its one shuffle is the
    # term-keyed pair join below).
    kept = postings.join(F.broadcast(overcap.select("term")), "term", "left_anti")
    # Norms ride the postings as a doc-partitioned window sum instead of
    # a separate groupBy + two post-pair joins (r13 optimization pass,
    # guide §2.4: two operations keyed the same way share one
    # partitioning).  The old shape joined `pairs` back to a `norms`
    # aggregate twice — and because each join branch re-derives `kept`,
    # Spark recomputed the whole scan→tokenize→postings chain once per
    # branch (6 chains total in the executed plan).  Carrying norm_sq on
    # the posting rows removes both joins and both recomputes (4 chains;
    # measured ~13% on the registered query, and at corpus scale each
    # dropped chain is a full tokenization pass).  norm_sq is an exact
    # BIGINT sum either way, so every downstream value is bit-identical.
    wn = W.partitionBy(id_col)
    kept_n = kept.withColumn("norm_sq", F.sum(F.col("tf") * F.col("tf")).over(wn))
    # Candidate generation — two lossless plans, selected by output
    # DENSITY (measured head-to-head in SCALE.md round 6):
    #
    # - Default (dense outputs / loose thresholds): the direct
    #   inverted-index self-join. Its fan-out Σ_t df_t² collapses into
    #   the pair aggregation in one shuffle; when most co-occurring
    #   pairs actually qualify (duplicate-heavy corpora, threshold
    #   ~0.3), that fan-out is within a small factor of |output| ×
    #   avg-shared-terms — already optimal, nothing to prune.
    # - `prefix_filter=True` (sparse outputs / selective thresholds):
    #   the PREFIX FILTER (Bayardo, Ma, Srikant, "Scaling Up All Pairs
    #   Similarity Search", WWW 2007). Process each document's terms in
    #   one GLOBAL order and leave UNINDEXED the longest prefix whose
    #   cumulative best-case contribution Σ w_t·maxw_t stays under the
    #   threshold (w = tf/√Σtf², maxw_t = the corpus max of w over t).
    #   For any pair, if y indexed no shared term then cos(x,y) ≤
    #   Σ_{t∈unindexed(y)} maxw_t·w_y(t) < t — so joining FULL postings
    #   (probe side) against INDEXED postings (index side) still yields
    #   every qualifying pair, while the index side sheds the
    #   high-fanout low-signal postings (global order = df desc, so
    #   boilerplate terms go unindexed first). Exact dots are then
    #   recomputed over candidates from full postings. The extra
    #   index-construction shuffles and the per-candidate verification
    #   join only pay off when candidates ≪ the unfiltered fan-out —
    #   NOT when the output itself is a large fraction of it (candidates
    #   can never drop below the true output).
    #
    # Both plans produce identical rows (pytest-pinned); the bound is
    # evaluated against threshold - 2e-6: the final filter is
    # ROUND(cosine, 6) >= threshold, which admits true cosines down to
    # threshold - 5e-7, and the double-precision cumulative bound needs
    # slack of its own.
    t_bound = float(threshold) - 2e-6
    a_side = kept_n.select(
        F.col(id_col).alias("id_a"),
        "term",
        F.col("tf").alias("tf_a"),
        F.col("norm_sq").alias("norm_a"),
    )
    b_side = kept_n.select(
        F.col(id_col).alias("id_b"),
        "term",
        F.col("tf").alias("tf_b"),
        F.col("norm_sq").alias("norm_b"),
    )
    if prefix_filter and t_bound > 0.0:
        term_stats = kept_n.withColumn(
            "w", F.col("tf") / F.sqrt(F.col("norm_sq").cast("double"))
        )
        maxw = term_stats.groupBy("term").agg(
            F.max("w").alias("maxw"), F.count(F.lit(1)).alias("kept_df")
        )
        cum_w = W.partitionBy(id_col).orderBy(
            F.col("kept_df").desc(), F.col("term").asc()
        ).rowsBetween(W.unboundedPreceding, W.currentRow)
        indexed = (
            term_stats.join(maxw, "term")
            .withColumn("cum_bound", F.sum(F.col("w") * F.col("maxw")).over(cum_w))
            .filter(F.col("cum_bound") >= F.lit(t_bound))
            .select(F.col(id_col), F.col("term"))
        )
        cands = (
            kept_n.alias("a")
            .join(indexed.alias("b"), on="term")
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(
                F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
            )
            .distinct()
        )
        pairs = (
            cands.join(a_side, "id_a")
            .join(b_side, ["id_b", "term"])
            .groupBy("id_a", "id_b")
            .agg(
                F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"),
                F.max("norm_a").alias("norm_a"),
                F.max("norm_b").alias("norm_b"),
            )
        )
    else:
        pairs = (
            a_side.join(b_side, on="term")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(
                F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"),
                # norm_sq is constant within a doc id — MAX just carries
                # the BIGINT value through the pair aggregation, exactly
                # what the removed post-pair norms joins delivered.
                F.max("norm_a").alias("norm_a"),
                F.max("norm_b").alias("norm_b"),
            )
        )
    cosine = F.round(
        F.col("dot").cast("double")
        / (F.sqrt(F.col("norm_a").cast("double")) * F.sqrt(F.col("norm_b").cast("double"))),
        6,
    )
    out = pairs.withColumn("cosine", cosine).select(
        "id_a", "id_b", F.col("dot").cast("bigint").alias("dot"), "cosine"
    )
    return out.filter(F.col("cosine") >= threshold).crossJoin(F.broadcast(audit))


def span_dedup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 8,
) -> DataFrame:
    """Span-level (sub-document) exact dedup audit: split each document
    into consecutive non-overlapping `span_tokens`-token spans and
    measure, per document, how many of its spans appear more than once
    ANYWHERE in the corpus (including within the same document).

    This is the fine-grained counterpart of document-level exact dedup:
    corpora cleaned at document grain still carry boilerplate spans
    (headers, licence text, templated sentences) that repeat across
    documents, and span-grain statistics are what C4/RefinedWeb-style
    pipelines use to decide span removal.

    Scale shape: span generation is row-local (transform over the token
    array — no explode of token grain); the only shuffles are the span
    frequency aggregation and the join back, both keyed by the span
    string (uniform). Every document appears in the output (zero-span
    docs carry n_spans=0 and a NULL fraction) — the no-data-loss rule.
    """
    k = span_tokens
    tmp = df.select(
        F.col(id_col), F.split(normalize_text(F.col(text_col)), " ").alias("_toks")
    )
    # sequence(0, n-1) DESCENDS for n=0 (sequence(0,-1) = [0,-1]) — the
    # WHEN guard keeps short docs out of the generator entirely
    spans_expr = F.when(F.size("_toks") >= k, F.expr(
        f"transform(sequence(0, CAST(size(_toks) / {k} AS INT) - 1), "
        f"i -> array_join(slice(_toks, i * {k} + 1, {k}), ' '))"
    )).otherwise(F.array().cast("array<string>"))
    spans = tmp.select(F.col(id_col), F.explode(spans_expr).alias("span"))
    counts = spans.groupBy("span").agg(F.count("*").alias("span_occurrences"))
    per_doc = (
        spans.join(counts, "span")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_spans"),
            F.count_if(F.col("span_occurrences") > 1).cast("bigint").alias("n_dup_spans"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("bigint").alias("n_dup_spans"),
            F.round(
                F.col("n_dup_spans").cast("double") / F.col("n_spans").cast("double"), 6
            ).alias("dup_span_fraction"),
        )
    )


def cross_source_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Source-contamination matrix: for every (source, source) pair, the
    number of exact-duplicate document pairs spanning them (diagonal =
    within-source duplication).

    The pair join is keyed by the content digest, so its cost is bounded
    by duplicate-cluster sizes (sum of cluster^2), never the corpus
    cross product — the audit that tells a training-data pipeline which
    ingestion feeds are re-serving each other's content.
    """
    d = df.select(
        F.col(id_col).alias("did"),
        F.col(source_col).alias("src"),
        F.md5(normalize_text(F.col(text_col))).alias("h"),
    )
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.did") < F.col("b.did")))
        .select(
            F.least(F.col("a.src"), F.col("b.src")).alias("source_a"),
            F.greatest(F.col("a.src"), F.col("b.src")).alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("n_dup_pairs"))
    )


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph: every vertex
    gets the MINIMUM id reachable from it as its component label.

    This is the step that turns pairwise near-dup hits into dedup
    clusters (transitivity: A~B and B~C must land A, B, C in one cluster
    even if A~C was never emitted).

    Algorithm: iterative min-label propagation — each round every vertex
    adopts min(own label, neighbors' labels); converged when no label
    changes.  Rounds needed = graph diameter, and near-dup graphs are
    unions of small dense clusters (diameter ~2-3), so this terminates in
    a handful of rounds even at 100 TB.  Each round is one join + one
    groupBy on the vertex id; `localCheckpoint` truncates the lineage so
    the plan does not grow with iterations (the classic iterative-Spark
    trap).
    """
    edges = (
        pairs.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .union(pairs.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
        .distinct()
    )
    edges = edges.localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("vid"))
        .distinct()
        .withColumn("comp", F.col("vid"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.src == labels.vid)
            .groupBy("dst")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        updated = (
            labels.join(neighbor_min, labels.vid == neighbor_min.dst, "left")
            .select(
                "vid",
                F.least(F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))).alias(
                    "comp"
                ),
                (F.col("nbr_comp") < F.col("comp")).alias("_changed"),
            )
            .localCheckpoint(eager=True)
        )
        n_changed = updated.filter(F.col("_changed")).count()
        labels = updated.drop("_changed")
        if n_changed == 0:
            break
    return labels.select(F.col("vid"), F.col("comp").alias("component"))


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Full dedup verdict per document: cluster id (min reachable doc id
    via connected components over the near-dup pairs), cluster size,
    canonical election (cluster id keeps itself), and the keep/drop flag
    a dedup sink applies.

    Documents untouched by any pair are their own singleton cluster —
    handled by a left join + coalesce, no giant union.
    """
    comps = connected_components(pairs, src_col, dst_col)
    labeled = (
        df.select(F.col(id_col))
        .join(comps, df[id_col] == comps.vid, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_id"),
        )
    )
    w = W.partitionBy("cluster_id")
    return (
        labeled.withColumn("cluster_size", F.count("*").over(w).cast("bigint"))
        .withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))
        .withColumn("keep", F.col("is_canonical"))
    )


def dedup_eval_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.3,
    num_perm: int = 32,
    bands: int = 4,
) -> DataFrame:
    """Precision/recall of the MinHash-LSH scale path against the exact
    n-gram-Jaccard baseline, at matched gram size and threshold — the
    measurement a pipeline runs (on a sample) before trusting LSH
    parameters at full scale.

    One distributed pass: the two pair sets meet in a full-outer join on
    the normalized pair key, and a single aggregate emits the confusion
    counts plus precision/recall/F1.  Recall deficits localize to LSH
    band misses; precision deficits to the exact path's boilerplate-gram
    cap suppressing pairs the verify step legitimately found.
    """
    exact = ngram_jaccard_pairs(
        df, id_col, text_col, n=n, threshold=threshold
    ).select("id_a", "id_b", F.lit(True).alias("_e"))
    approx = minhash_near_duplicates(
        df, id_col, text_col, num_perm=num_perm, bands=bands, ngram=n, threshold=threshold
    ).select("id_a", "id_b", F.lit(True).alias("_a"))
    joined = approx.join(exact, ["id_a", "id_b"], "full_outer")
    tp = F.count_if(F.col("_a").isNotNull() & F.col("_e").isNotNull())
    n_approx = F.count_if(F.col("_a").isNotNull())
    n_exact = F.count_if(F.col("_e").isNotNull())
    agg = joined.agg(
        tp.cast("bigint").alias("true_positive_pairs"),
        n_approx.cast("bigint").alias("lsh_pairs"),
        n_exact.cast("bigint").alias("exact_pairs"),
    )
    p = F.col("true_positive_pairs") / F.nullif(F.col("lsh_pairs"), F.lit(0))
    r = F.col("true_positive_pairs") / F.nullif(F.col("exact_pairs"), F.lit(0))
    return agg.select(
        "true_positive_pairs",
        "lsh_pairs",
        "exact_pairs",
        F.round(p, 6).alias("precision"),
        F.round(r, 6).alias("recall"),
        F.round(2 * p * r / F.nullif(p + r, F.lit(0.0)), 6).alias("f1"),
    )


def dedup_verdict_eval_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.3,
    num_perm: int = 16,
    bands: int = 4,
    max_doc_freq: int = 100,
    max_doc_frac: "float | None" = None,
) -> DataFrame:
    """Keep-set precision/recall of the VERDICT-ONLY dedup path
    (`minhash_dedup_verdicts` — the designated 100 TB default) against
    the exact n-gram-Jaccard baseline, at matched gram size and
    threshold.

    `dedup_eval_report` qualifies the pair path; this qualifies the
    verdict path, whose greedy single-round bucket-representative
    election can miss drops a full pair pass would make (a true dup
    that shares no band bucket with any lower-id near-dup — e.g. a
    chain member whose only sub-threshold link is its bucket
    representative). The baseline verdict is the same greedy rule on
    the TRUE Jaccard graph: a doc is exact-dropped iff SOME lower-id
    doc clears the threshold — i.e. the distinct `id_b` side of the
    exact pair set.

    Because the verdict path confirms every drop with exact Jaccard
    against the representative, a verdict drop is always an exact drop
    (soundness, pytest-pinned) — so `drop_precision` reads 1.0 unless
    the exact baseline's boilerplate-gram cap suppressed the pair the
    verify step legitimately found (the cap is audited, see
    `ngram_jaccard_pairs`). The load-bearing number is `drop_recall`:
    the fraction of true dup docs the banded election actually drops.
    Keep-set framing included for the curation consumer: keep_recall
    is structurally 1.0 (every exact-keep is verdict-kept),
    keep_precision < 1 exactly when banding misses dups.

    One distributed pass over two frames: the verdict frame joins the
    exact-dropped id set, one aggregate emits counts + rates. Eval is
    sample-sized by design (the exact baseline is the quadratic-ish
    inverted-index join); the verdict side scales — that asymmetry is
    the point of measuring on a sample first.

    `max_doc_freq` / `max_doc_frac` pass through to the BASELINE's
    boilerplate-gram cap. On a heavily duplicated sample the default
    cap can suppress the baseline's own pairs (duplication multiplies
    every shared gram's df) and the report then reads drop_precision
    << 1 — which is IMPOSSIBLE from the verdict side (every drop is
    exact-verified), so a low drop_precision is the cap alarm, not a
    verdict defect: raise the cap above the sample's max gram df
    (`ngram_dropped_gram_metrics` lists the over-cap grams) and re-run.
    Measured concretely at 80k docs / 50% duplication: cap 100 reads
    drop_precision 0.085 (baseline found 3.2k of ~37.7k true dups);
    cap 300 (> max df 263) restores the exact baseline (SCALE.md).
    """
    verdicts = minhash_dedup_verdicts(
        df,
        id_col=id_col,
        text_col=text_col,
        num_perm=num_perm,
        bands=bands,
        ngram=n,
        threshold=threshold,
        persist_shingles=False,  # eval plan runs once; no cache to leak
    ).select(F.col(id_col), "keep")
    exact_dropped = (
        ngram_jaccard_pairs(
            df,
            id_col,
            text_col,
            n=n,
            threshold=threshold,
            max_doc_freq=max_doc_freq,
            max_doc_frac=max_doc_frac,
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("_ed", F.lit(True))
    )
    flagged = verdicts.join(exact_dropped, id_col, "left").select(
        "keep", F.coalesce(F.col("_ed"), F.lit(False)).alias("exact_dropped")
    )
    agg = flagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("docs"),
        F.count_if(F.col("exact_dropped")).cast("bigint").alias("exact_dup_docs"),
        F.count_if(~F.col("keep")).cast("bigint").alias("verdict_dup_docs"),
        F.count_if(~F.col("keep") & F.col("exact_dropped")).cast("bigint").alias("true_drop_docs"),
        F.count_if(F.col("keep") & ~F.col("exact_dropped")).cast("bigint").alias("true_keep_docs"),
    )
    dp = F.col("true_drop_docs") / F.nullif(F.col("verdict_dup_docs"), F.lit(0))
    dr = F.col("true_drop_docs") / F.nullif(F.col("exact_dup_docs"), F.lit(0))
    kp = F.col("true_keep_docs") / F.nullif(F.col("docs") - F.col("verdict_dup_docs"), F.lit(0))
    kr = F.col("true_keep_docs") / F.nullif(F.col("docs") - F.col("exact_dup_docs"), F.lit(0))
    return agg.select(
        "docs",
        "exact_dup_docs",
        "verdict_dup_docs",
        "true_drop_docs",
        F.round(dp, 6).alias("drop_precision"),
        F.round(dr, 6).alias("drop_recall"),
        F.round(kp, 6).alias("keep_precision"),
        F.round(kr, 6).alias("keep_recall"),
    )
