"""Similarity search + embedding-space dedup over embedding columns
(array<float>).

Paired correctness-baseline / scale-path implementations throughout:
- `cosine_topk_exact`: brute-force top-k — the correctness baseline.
  Dot products are computed via explode + exact DECIMAL partial sums so
  results are bit-reproducible across engines and partitionings (see
  queries/__init__.py determinism contract).  Cost O(|Q|·|C|·d): fine
  for a bounded query set, never for all-pairs at scale.
- `cosine_topk_lsh`: random-hyperplane LSH bucketing (sign sketch) —
  the 100 TB path: candidates only from matching buckets, shuffle keyed
  by bucket hash, then exact re-scoring of candidates.
- `cosine_near_duplicates` / `cosine_near_duplicates_lsh`: thresholded
  near-duplicate PAIRS (embedding-space dedup for a training corpus) —
  exact all-pairs baseline vs banded-hyperplane bucketing that never
  materializes the cross product.
- `ivf_topk`: IVF-Flat ANN — KMeans coarse quantizer, map-side cell
  assignment against broadcast centroids, queries probe `n_probe`
  nearest cells only.

Hyperplane sketches come in two forms.  A single-band bucket (the top-k
and hard-negative LSH paths, the streaming semantic dedup) is always
the `_bucket_col` projection.  The banded near-dup sketch is one numpy
GEMM per Arrow batch (`_banded_exploded`), with the expression
`_hyperplane_band_structs` as its test reference.  The one speed twin
in this module is the near-dup pair scorer (expression join or
within-bucket GEMM, `routing.gemm_for_pair_scoring`); SCALE.md ("4-core
twin A/B") has the measurements that keep it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # noqa: F401 — pandas_udf type hints resolve via module globals

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .. import routing

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
    "cast(0.0 as double), (acc, v) -> acc + v)"
)

# The query side of every top-k path is broadcast to the candidate scan;
# beyond this bound the broadcast itself becomes the bottleneck (and for
# the exact path the O(|Q|·|C|·d) cost is prohibitive far earlier).
MAX_BROADCAST_QUERIES = 100_000

# Per-block float64 budget for in-worker GEMM scoring (semantic_dedup's
# within-cluster pass): 16M doubles = 128 MB per similarity block, so a
# worker's transient peak is bounded by this constant — not by the
# square of whatever cluster size a skewed kmeans hands it.
_GEMM_BLOCK_ELEMS = 1 << 24
# The exact path is a correctness baseline, not a serving path: cost is
# O(|Q|·|C|·d) with a decimal-sum shuffle — hard-capped so it cannot be
# reached accidentally at scale.
MAX_EXACT_QUERIES = 1_000


def _guard_query_bound(n_queries: int, bound: int, fn: str) -> None:
    if n_queries > bound:
        raise ValueError(
            f"{fn}: n_queries={n_queries} exceeds the {bound}-query bound. "
            "Use cosine_topk_lsh or ivf_topk for large query sets; "
            "the exact form exists only as a bounded correctness baseline."
        )


def _gemm_prune_mask(scores: np.ndarray, c_ids: np.ndarray, t: int) -> np.ndarray:
    """Boolean keep-mask: per query row, every candidate whose ROUNDED
    score ties or beats the row's t-th-largest rounded score.

    This equals the per-batch top-t under the exact output's total
    order (round(score, 6) desc, candidate id asc): the rounded-order
    top-t all sit in bins >= the t-th-largest bin, and within the
    boundary bin the t lowest candidate ids are kept — so the
    batch-union provably contains the global top-t under that order,
    boundary ties included (the global boundary-bin winners are by
    definition among the union of per-batch t-lowest-id members).  A
    plain ``argpartition`` on unrounded float64 scores does NOT have
    this property: when more than ``margin`` candidates share the
    rank-k rounded-cosine bin (plausible under duplicate
    amplification), it orders ties arbitrarily and can drop the
    low-candidate-id member the exact baseline keeps.  Cost: one O(n)
    round+partition per row; the id-order lexsort runs only on rows
    whose boundary bin overflows t, and only over their masked columns
    — on duplicate-heavy corpora this also caps the rescore stage at
    t survivors per (query, batch) where a bin-complete mask would
    balloon with whole replica sets.  The only residual divergence
    risk is a cosine within ~1e-12 (float64 GEMM error) of a 1e-6 bin
    edge flipping bins between numpy and the decimal rescore — more
    than ``margin`` simultaneous flips at the boundary would be
    required to lose a row.
    """
    binned = np.round(scores, 6)
    n = binned.shape[1]
    kth = np.partition(binned, n - t, axis=1)[:, n - t]
    mask = binned >= kth[:, None]
    # Boundary-tie bound: a bin-complete mask can balloon when the
    # corpus is duplicate-heavy (whole replica sets share one rounded
    # bin), inflating the decimal rescore stage. Keeping only the t
    # LOWEST-ID members per row under the (bin desc, id asc) order is
    # still lossless — the global top-t's bin-B members are by
    # definition among the union of per-batch t-lowest-id bin-B
    # members — so prune the rare overflowing rows with a small
    # lexsort over just their masked columns.
    counts = mask.sum(axis=1)
    for i in np.where(counts > t)[0]:
        cols = np.nonzero(mask[i])[0]
        order = np.lexsort((c_ids[cols], -binned[i, cols]))
        mask[i] = False
        mask[i, cols[order[:t]]] = True
    return mask


def _norms_decimal(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Exact squared L2 norm per vector via decimal sums of x*x."""
    exploded = df.select(F.col(id_col), F.explode(vec_col).alias("x"))
    prod = (F.col("x").cast("double") * F.col("x").cast("double")).cast("decimal(28,18)")
    return exploded.groupBy(id_col).agg(F.sum(prod).alias("norm2_dec"))


def cosine_topk_exact(
    embeddings: DataFrame,
    n_queries: int = 20,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic brute-force cosine top-k for the first `n_queries`
    vectors (by id) against all others.

    Decimal-exact dot products -> identical ranking in any engine; ties
    broken by candidate id.
    """
    _guard_query_bound(n_queries, MAX_EXACT_QUERIES, "cosine_topk_exact")
    vecs = embeddings.select(F.col(id_col), F.col(vec_col))
    queries = vecs.filter(F.col(id_col) < n_queries)
    q_elem = queries.select(
        F.col(id_col).alias("query_id"), F.posexplode(vec_col).alias("pos", "qx")
    )
    c_elem = vecs.select(
        F.col(id_col).alias("candidate_id"), F.posexplode(vec_col).alias("pos", "cx")
    )
    prod = (F.col("qx").cast("double") * F.col("cx").cast("double")).cast("decimal(28,18)")
    dots = (
        q_elem.join(c_elem, "pos")
        .filter(F.col("query_id") != F.col("candidate_id"))
        .groupBy("query_id", "candidate_id")
        .agg(F.sum(prod).alias("dot_dec"))
    )
    norms = _norms_decimal(embeddings, id_col, vec_col)
    qn = norms.select(F.col(id_col).alias("query_id"), F.col("norm2_dec").alias("qn2"))
    cn = norms.select(F.col(id_col).alias("candidate_id"), F.col("norm2_dec").alias("cn2"))
    scored = (
        dots.join(qn, "query_id")
        .join(cn, "candidate_id")
        .withColumn(
            "cosine",
            F.round(
                F.col("dot_dec").cast("double")
                / (F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("cn2").cast("double"))),
                6,
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("candidate_id").asc())
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select("query_id", "candidate_id", "cosine", F.col("nn_rank").cast("int").alias("nn_rank"))
    )


def cosine_topk_gemm(
    embeddings: DataFrame,
    n_queries: int = 20,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    margin: int = 8,
) -> DataFrame:
    """EXACT brute-force cosine top-k at GEMM throughput: numpy matmul
    prune inside mapInPandas, then decimal-exact rescoring of the
    survivors — output identical to :func:`cosine_topk_exact` (same
    oracle applies), cost structure fit for the 100 TB candidate side.

    Stage 1 (prune): the bounded query set is collected once into a
    float64 matrix and closed over by an Arrow-batched ``mapInPandas``
    iterator; each candidate batch becomes ONE ``Q @ C.T`` — BLAS
    vector throughput instead of per-element expression evaluation —
    and only each batch's per-query top-(k+margin) candidate ids are
    emitted.  The candidate side never shuffles and per-batch output is
    O(|Q|·(k+margin)), so the stage is embarrassingly parallel.

    Stage 2 (rescore): survivors (a few hundred pairs) get the same
    DECIMAL(28,18)-term dot/norm sums and ROUND(...,6) scoring as
    `cosine_topk_exact`, then the global tie-broken window top-k —
    bit-identical final rows.

    Exactness: the prune keeps every candidate whose ROUNDED score ties
    or beats the batch's (k+margin)-th largest rounded score
    (`_gemm_prune_mask`) — a bin-complete superset of the per-batch
    top-(k+margin) under the final window's own total order
    (round(cosine, 6) desc, candidate id asc), so the batch-union
    provably contains the global top-k under that order, boundary ties
    included.  The residual risk is float64 GEMM error (~1e-12) flipping
    a cosine across a 1e-6 rounding-bin edge; more than `margin` such
    simultaneous boundary flips would be required to lose a neighbor.
    """
    _guard_query_bound(n_queries, MAX_BROADCAST_QUERIES, "cosine_topk_gemm")
    vecs = embeddings.select(F.col(id_col), F.col(vec_col))
    q_rows = vecs.filter(F.col(id_col) < n_queries).collect()
    if not q_rows:
        raise ValueError("cosine_topk_gemm: no query vectors below n_queries")
    q_ids = np.array([r[id_col] for r in q_rows], dtype=np.int64)
    q_mat = np.array([list(r[vec_col]) for r in q_rows], dtype=np.float64)
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))
    q_norm[q_norm == 0.0] = 1.0
    take = k + margin

    def prune(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c_mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            c_norm = np.sqrt((c_mat * c_mat).sum(axis=1))
            c_norm[c_norm == 0.0] = 1.0
            scores = (q_mat @ c_mat.T) / (q_norm[:, None] * c_norm[None, :])
            scores[q_ids[:, None] == c_ids[None, :]] = -np.inf
            t = min(take, scores.shape[1])
            qi, ci = np.nonzero(_gemm_prune_mask(scores, c_ids, t))
            out_q = q_ids[qi]
            out_c = c_ids[ci]
            keep = out_q != out_c
            yield pd.DataFrame(
                {"query_id": out_q[keep], "candidate_id": out_c[keep]}
            )

    surv = vecs.mapInPandas(prune, "query_id long, candidate_id long")

    # decimal-exact rescore of the pruned pairs — identical term rounding
    # and summation values as cosine_topk_exact's explode+groupBy sums
    # (decimal addition is exact and associative), identical double ops
    dot_dec = (
        "aggregate(zip_with({a}, {b}, "
        "(x, y) -> cast(cast(x as double) * cast(y as double) as decimal(28,18))), "
        "cast(0 as decimal(30,18)), (acc, v) -> cast(acc + v as decimal(30,18)))"
    )
    qv = vecs.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    cv = vecs.select(F.col(id_col).alias("candidate_id"), F.col(vec_col).alias("cvec"))
    scored = (
        surv.join(qv, "query_id")
        .join(cv, "candidate_id")
        .withColumn("dot_dec", F.expr(dot_dec.format(a="qvec", b="cvec")))
        .withColumn("qn2", F.expr(dot_dec.format(a="qvec", b="qvec")))
        .withColumn("cn2", F.expr(dot_dec.format(a="cvec", b="cvec")))
        .withColumn(
            "cosine",
            F.round(
                F.col("dot_dec").cast("double")
                / (F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("cn2").cast("double"))),
                6,
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("candidate_id").asc())
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select("query_id", "candidate_id", "cosine", F.col("nn_rank").cast("int").alias("nn_rank"))
    )


def cosine_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding-space near-duplicate pairs: all (id_a < id_b) with
    round(cosine, 6) >= threshold.

    Correctness baseline ONLY — the pair join materializes O(n²/2) rows,
    so at 100 TB use `cosine_near_duplicates_lsh` and reserve this for
    verifying candidate pairs.

    Exactness without explosion: every pair is PREFILTERED with plain
    codegen'd double math (sequential `aggregate`/`zip_with` fold), whose
    worst-case summation error over d elements (~d·2⁻⁵² relative) is
    orders of magnitude below the 1e-6 rounding grain — a 1e-9 threshold
    margin therefore keeps every true positive.  Only the handful of
    survivors get the DECIMAL(28,18) re-score whose exact, order-free sum
    matches the oracle bit-for-bit (same contract as cosine_topk_exact).
    The n²/2 pair stream thus stays entirely inside whole-stage codegen,
    and decimal cost is O(output), not O(n²).
    """
    # accumulator pinned at decimal(30,18): the +1-precision promote of
    # each add is cast back (exact — |sum| << 1e12), keeping the fold
    # type stable across iterations
    dot_dec = (
        "aggregate(zip_with({a}, {b}, "
        "(x, y) -> cast(cast(x as double) * cast(y as double) as decimal(28,18))), "
        "cast(0 as decimal(30,18)), (acc, v) -> cast(acc + v as decimal(30,18)))"
    )
    vecs = embeddings.select(F.col(id_col), F.col(vec_col)).withColumn(
        "norm2_dbl", F.expr(_DOT.format(a=vec_col, b=vec_col))
    )
    a = vecs.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("veca"), F.col("norm2_dbl").alias("na2d")
    )
    b = vecs.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vecb"), F.col("norm2_dbl").alias("nb2d")
    )
    cos_dbl = F.expr(_DOT.format(a="veca", b="vecb")) / (
        F.sqrt(F.col("na2d")) * F.sqrt(F.col("nb2d"))
    )
    survivors = a.join(b, F.col("id_a") < F.col("id_b")).filter(cos_dbl >= threshold - 1e-9)
    cos_exact = F.round(
        F.expr(dot_dec.format(a="veca", b="vecb")).cast("double")
        / (
            F.sqrt(F.expr(dot_dec.format(a="veca", b="veca")).cast("double"))
            * F.sqrt(F.expr(dot_dec.format(a="vecb", b="vecb")).cast("double"))
        ),
        6,
    )
    return (
        survivors.withColumn("cosine", cos_exact)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _hyperplane_band_structs(n_bands: int, planes_per_band: int, vec_col: str) -> list:
    """Expression form of the banded hyperplane sketch: plane (b, r) is
    a deterministic pseudo-random normal via xxhash64(position, band,
    plane), each band packs planes_per_band sign bits into a bucket
    key.  Since the GEMM banding landed (_banded_exploded) this form is
    the REFERENCE TWIN kept for the parity pytest — the production
    paths all band through the one-matmul-per-batch implementation,
    whose plane values are fetched from this exact formula
    (_plane_matrix) so the two bandings agree bucket-for-bucket."""
    band_structs = []
    for b in range(n_bands):
        terms = []
        for r in range(planes_per_band):
            proj = (
                f"aggregate(zip_with({vec_col}, sequence(0, size({vec_col}) - 1), "
                f"(x, i) -> cast(x as double) * "
                f"(cast(xxhash64(i, {b}, {r}) % 10007 as double) / 1.0007e4)), "
                f"cast(0.0 as double), (acc, v) -> acc + v)"
            )
            # NOT isnan(): Spark's total ordering makes NaN >= 0 TRUE,
            # but the GEMM twin's numpy comparison is IEEE (False), so a
            # NaN projection must set bit 0 on BOTH forms — otherwise
            # the expr/GEMM routing would change buckets for NaN-bearing
            # vectors (round-7 ADVICE).  NULL projections still fall to
            # the ELSE (NULL AND NULL is NULL).
            terms.append(f"CASE WHEN NOT isnan({proj}) AND {proj} >= 0 THEN {2 ** r} ELSE 0 END")
        band_structs.append(
            F.struct(
                F.lit(b).alias("band_id"),
                F.expr(" + ".join(terms)).cast("int").alias("bucket"),
            )
        )
    return band_structs


from functools import lru_cache


@lru_cache(maxsize=64)
def _plane_matrix(dim: int, n_bands: int, planes_per_band: int) -> "np.ndarray":
    """(dim × n_bands·planes_per_band) float64 hyperplane matrix with
    element (i, b·P + r) = cast(xxhash64(i, b, r) % 10007 as double) /
    1.0007e4 — the IDENTICAL pseudo-random normals the expression
    sketch (_hyperplane_band_structs) bakes into its fold, evaluated by
    Spark's own xxhash64 (one tiny dim·B·P-row job, int-typed args to
    match the expression's literals) so the two bandings agree
    bit-for-bit, then cached on the driver.  ~40 KB at typical shapes —
    closed over by value into the banding UDF, no broadcast needed."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    bp = n_bands * planes_per_band
    rows = (
        spark.range(dim * bp)
        .selectExpr(
            f"CAST(id DIV {bp} AS INT) AS i",
            f"CAST((id % {bp}) DIV {planes_per_band} AS INT) AS b",
            f"CAST(id % {planes_per_band} AS INT) AS r",
        )
        .selectExpr(
            "i",
            "b",
            "r",
            "cast(xxhash64(i, b, r) % 10007 as double) / 1.0007e4 AS w",
        )
        .collect()
    )
    planes = np.zeros((dim, bp))
    for row in rows:
        planes[row["i"], row["b"] * planes_per_band + row["r"]] = row["w"]
    return planes


def _probe_max_dim(embeddings: DataFrame, vec_col: str) -> int:
    """Largest vector length in the corpus (one column-only aggregate —
    the same eager move the IVF/PQ paths make for their codebooks).
    Max, not first: a NULL or short vector in row one must not size the
    plane matrix (the expression twins fold each row over its OWN
    length, so the matrix has to cover the longest row)."""
    row = embeddings.select(F.max(F.size(F.col(vec_col))).alias("d")).first()
    d = row["d"] if row is not None else None
    return int(d) if d is not None and d > 0 else 0


def resolve_planes_per_band(
    embeddings: DataFrame,
    planes_per_band: "int | str",
    target_bucket: int = 100,
    lo: int = 3,
    hi: int = 20,
    warn_on_unknown: bool = True,
) -> int:
    """The "bucket resolution must grow with log(N)" guidance
    (SCALE.md rounds 7-8), made mechanical at ZERO Spark jobs.

    ``planes_per_band="auto"`` resolves to
    clamp(ceil(log2(est_rows / target_bucket)), lo, hi) from Catalyst's
    own plan statistics — 2^planes buckets per band keeps the AVERAGE
    bucket near `target_bucket` vectors at any corpus size, which is
    what keeps candidate mass bounded as the corpus grows (a fixed
    plane count saturates every bucket past ~4x growth; the 1024x
    octave showed the downstream failure is a silent recall collapse
    at the max_bucket cap).  Unknown statistics resolve to `lo` with a
    UserWarning: coarse buckets are the highest-RECALL setting, but on
    a genuinely large stats-less frame (Spark Connect, LogicalRDD) the
    saturated buckets overflow max_bucket and the direct pair scorers
    silently DROP the over-cap cliques — only
    `cosine_near_duplicates_lsh_auto` measures that mass and alarms, so
    the direct-call fallback must at least say it is guessing (ADVICE
    r8).  An int passes through untouched.  Resolution is an estimate
    by design: it tunes recall/cost, and callers that fan one corpus
    into several banded passes must resolve ONCE and pass the int down
    so every pass buckets identically (what
    cosine_near_duplicates_lsh_auto does)."""
    if not isinstance(planes_per_band, str):
        return int(planes_per_band)
    if planes_per_band != "auto":
        raise ValueError(f"planes_per_band must be an int or 'auto', got {planes_per_band!r}")
    est = routing.estimated_rows(embeddings)
    if est is None:
        if not warn_on_unknown:
            # the _auto selector suppresses this: its density pass
            # measures the over-cap mass directly and alarms on it
            return lo
        import warnings

        warnings.warn(
            f"planes_per_band='auto' on a frame with unknown Catalyst "
            f"statistics: resolving to the coarsest banding (lo={lo}, "
            f"2^{lo} buckets/band). If this corpus is large, buckets will "
            "saturate max_bucket and the direct pair scorers silently drop "
            "the over-cap cliques — pass an explicit planes_per_band sized "
            "to log2(rows/target_bucket), or route through "
            "cosine_near_duplicates_lsh_auto, whose density pass measures "
            "the over-cap mass and alarms on it.",
            UserWarning,
            stacklevel=2,
        )
        return lo
    import math as _math

    return max(lo, min(hi, _math.ceil(_math.log2(max(est / target_bucket, 1.0)))))


def _gemm_buckets(vec_series, planes, n_groups: int, width: int) -> "np.ndarray":
    """(n, n_groups) packed sign-bit buckets for a pandas Series of
    vectors — one matmul per length class, mirroring the expression
    twins' per-row semantics exactly: a NULL vector keeps bucket 0 in
    every group (the CASE's ELSE branch on a NULL fold), a length-l
    vector projects onto the first l plane components (the twin's
    zip_with runs over the row's own length), an EMPTY vector also gets
    bucket 0 (sequence(0, -1) steps DOWN to [0, -1], zip_with pads with
    NULLs, and the fold goes NULL), and NaN elements poison their
    projection to bucket-bit 0 on both forms (numpy's IEEE `NaN >= 0`
    is False here; the expression twins guard with NOT isnan() because
    Spark's total ordering would otherwise make it True)."""
    n = len(vec_series)
    weights = np.asarray([1 << r for r in range(width)], dtype=np.float64)
    out = np.zeros((n, n_groups), dtype=np.int32)
    vals = vec_series.to_numpy()
    lengths = np.asarray([-1 if v is None else len(v) for v in vals])
    for ln in np.unique(lengths):
        if ln <= 0:
            continue  # NULL and empty vectors: every group keeps bucket 0
        idx = np.nonzero(lengths == ln)[0]
        mat = np.stack([np.asarray(vals[i], dtype=np.float64) for i in idx])
        proj = mat @ planes[:ln]
        bits = (proj >= 0.0).reshape(len(idx), n_groups, width)
        out[idx] = (bits * weights).sum(axis=2).astype(np.int32)
    return out


def _banded_exploded(
    embeddings: DataFrame,
    n_bands: int,
    planes_per_band: int,
    id_col: str,
    vec_col: str,
    include_vec: bool = True,
) -> DataFrame:
    """(id[, vec], band_id, bucket) — the exploded banded hyperplane
    sketch every angular-LSH near-dup variant consumes, computed as ONE
    numpy GEMM per Arrow batch (mat @ planes, then sign-bit packing).

    Why not the expression form: n_bands × planes_per_band
    aggregate/zip_with folds per row are per-element lambda evaluation,
    and the 64× probe measured them at ~27 s of the expression sketch's
    ~28 s wall-clock — the cost was HOF interpretation, not arithmetic.
    The same projections as a batch matmul run at BLAS speed, and every
    scorer variant (expression, GEMM, auto) consumes this one function,
    so pair-identity across variants is structural.  Plane values are
    bit-identical to the expression twin (_plane_matrix); only sign
    decisions within float-summation-order distance of zero (~1e-15
    relative) could differ from the sequential fold — banding is
    probabilistic, so that changes nothing the contracts pin.

    `include_vec=False` keeps the n_bands vector copies out of the
    Arrow return path for the consumers that only need ids (the
    density statistic, the expression scorer's candidate generation —
    it re-joins vectors by id); only the in-bucket GEMM scorer ships
    vectors through the sketch."""
    planes = _plane_matrix(_probe_max_dim(embeddings, vec_col), n_bands, planes_per_band)
    n_b, p_b = n_bands, planes_per_band
    fields = {f.name: f.dataType.simpleString() for f in embeddings.schema.fields}
    out_cols = [id_col, vec_col] if include_vec else [id_col]
    schema = ", ".join(
        [f"{c} {fields[c]}" for c in out_cols] + ["band_id int", "bucket int"]
    )

    def band(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            buckets = _gemm_buckets(pdf[vec_col], planes, n_b, p_b)
            out = {id_col: np.repeat(pdf[id_col].to_numpy(), n_b)}
            if include_vec:
                out[vec_col] = np.repeat(pdf[vec_col].to_numpy(), n_b)
            out["band_id"] = np.tile(np.arange(n_b, dtype=np.int32), n)
            out["bucket"] = buckets.reshape(-1)
            yield pd.DataFrame(out)

    return embeddings.select(id_col, vec_col).mapInPandas(band, schema)


def cosine_near_duplicates_lsh(
    embeddings: DataFrame,
    threshold: float = 0.45,
    n_bands: int = 8,
    planes_per_band: "int | str" = 4,
    max_bucket: int = 200,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate embedding near-dup pairs — the 100 TB dedup path.

    Banded hyperplane sketch (the angular analogue of MinHash banding):
    each of `n_bands` bands packs `planes_per_band` sign bits into a
    bucket key; vectors sharing ANY band bucket become candidates; exact
    double re-score keeps pairs with cosine >= threshold.  For a pair at
    angle θ the per-band collision probability is (1-θ/π)^B, so recall =
    1-(1-(1-θ/π)^B)^R — near-identical vectors are caught with
    probability ~1.

    Scale shape (mirrors minhash_near_duplicates, dedup.py:138-182):
    buckets computed IN the scan (no model, no join-back), one shuffle on
    the band bucket key, pairs generated row-locally from sorted member
    lists, degenerate buckets dropped via max_bucket, candidates
    re-scored through an id-keyed join — the n² cross product is never
    materialized.  `planes_per_band="auto"` sizes the bucket
    resolution from Catalyst plan statistics (resolve_planes_per_band
    — the log(N) guidance, zero extra jobs).
    """
    planes_per_band = resolve_planes_per_band(embeddings, planes_per_band)
    banded = _banded_exploded(
        embeddings, n_bands, planes_per_band, id_col, vec_col, include_vec=False
    )
    return _lsh_pairs_from_banded(banded, embeddings, threshold, max_bucket, id_col, vec_col)


def _lsh_pairs_from_banded(
    banded: DataFrame,
    embeddings: DataFrame,
    threshold: float,
    max_bucket: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    banded = banded.select(id_col, "band_id", "bucket")

    buckets = (
        banded.groupBy("band_id", "bucket")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    pairs = (
        buckets.select(
            F.explode(
                F.flatten(
                    F.expr(
                        "transform(ids, (a, i) -> "
                        "transform(slice(ids, i + 2, size(ids) - i - 1), "
                        "b -> named_struct('id_a', a, 'id_b', b)))"
                    )
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .distinct()
    )

    # Per-side norms once per row before the id-joins (r13, guide §1.2):
    # per pair each O(dim) self-dot fold ran once per candidate pair —
    # candidate mass is ~density× the corpus (sparse regime ~10 pairs/
    # vector), so per-row evaluation is the cheaper side.  Same fold over
    # the same array — the rounded cosine is bit-identical.
    vecs = embeddings.select(F.col(id_col), F.col(vec_col)).withColumn(
        "n2", F.expr(_DOT.format(a=vec_col, b=vec_col))
    )
    va = vecs.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("veca"), F.col("n2").alias("na2")
    )
    vb = vecs.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vecb"), F.col("n2").alias("nb2")
    )
    dot = F.expr(_DOT.format(a="veca", b="vecb"))
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cosine", F.round(dot / (F.sqrt(F.col("na2")) * F.sqrt(F.col("nb2"))), 6)
        )
        # ~isnan: Spark's NaN >= threshold is TRUE under total ordering,
        # the GEMM scorer's numpy comparison is IEEE False — a NaN
        # cosine (NaN vector element) must fail on both scorers or the
        # expr/GEMM routing would change the pair set (round-7 ADVICE).
        .filter(~F.isnan("cosine") & (F.col("cosine") >= threshold))
        .select("id_a", "id_b", "cosine")
    )


def cosine_near_duplicates_lsh_gemm(
    embeddings: DataFrame,
    threshold: float = 0.45,
    n_bands: int = 8,
    planes_per_band: "int | str" = 4,
    max_bucket: int = 200,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """`cosine_near_duplicates_lsh` with the within-bucket scoring done
    as ONE numpy GEMM per bucket (applyInPandas) — same banded
    hyperplane candidate generation, same (id_a < id_b, cosine >=
    threshold) output contract.

    Why: the expression-path variant materializes the candidate PAIR
    stream (explode -> distinct -> two id-joins carrying the vectors ->
    a per-pair aggregate fold).  Under heavy duplication that stream is
    orders of magnitude larger than the final output and dominates the
    wall-clock (measured: 137 s at 16x amplification, SCALE.md).  Here
    the vectors ride the ONE band-bucket shuffle instead; each bucket
    (bounded by `max_bucket`) scores all its pairs in a single
    M @ M.T, and only the >= threshold survivors leave the executor.
    Cross-band duplicate pairs collapse with a dropDuplicates on the id
    pair — identical inputs give identical float64 cosines in every
    band, so any copy carries the same score.

    Trade: the shuffle moves `n_bands` copies of each vector (vs ids
    only), bought back many times over by never materializing the
    sub-threshold candidate mass.  Scores are float64 BLAS sums
    (np.round half-even) — within 1e-6 of the expression path's
    sequential fold, pytest-pinned pair-identical on the fixture.
    `planes_per_band="auto"` resolves via resolve_planes_per_band.
    """
    planes_per_band = resolve_planes_per_band(embeddings, planes_per_band)
    banded = _banded_exploded(embeddings, n_bands, planes_per_band, id_col, vec_col)
    return _gemm_pairs_from_banded(banded, threshold, max_bucket, id_col, vec_col)


def _bucket_cosine_pairs(
    ids: "np.ndarray",
    mat: "np.ndarray",
    threshold: float,
) -> "tuple[np.ndarray, np.ndarray, np.ndarray]":
    """All >= threshold upper-triangle cosine pairs of one bucket.

    Peak-allocation discipline (the r10 rewrite; tracemalloc-pinned in
    test_training_similarity): rows are normalized ONCE so the score is
    a bare GEMM (the naive `(mat @ mat.T) / np.outer(norm, norm)`
    quotient spends two extra n x n float64 temporaries), the round is
    in-place, and survivors are extracted via a boolean upper-triangle
    mask + nonzero instead of materializing full triu_indices — the
    index vectors plus fancy-index scratch alone cost ~2 full-matrix
    equivalents, dominating the old ~3x peak. Post-rewrite the peak is
    ~1.3x the GEMM output (which is irreducible for an exact all-pairs
    score), bounded by max_bucket^2 by construction. Unit-row cosines
    differ from dot/(|a||b|) only in ~1e-16 rounding, inside the
    half-bin caveat below.

    Rounding-mode caveat (applies to every GEMM thresholder): numpy
    rounds half-even over a BLAS-blocked sum while Spark's ROUND is
    HALF_UP over a sequential fold, so a cosine within ~1e-12 of a
    half-bin edge can flip membership vs the expression path. The
    pair-identical pytest pins therefore hold for fixtures whose
    cosines keep clear of half-bin edges (the generated testdata
    does); this path is rows-only, never oracle-hashed."""
    norm = np.sqrt((mat * mat).sum(axis=1))
    norm[norm == 0.0] = 1.0
    mat = mat / norm[:, None]
    sims = mat @ mat.T
    np.round(sims, 6, out=sims)
    # bool masks are n^2/8 the float64 matrix; nonzero() emits indices
    # for SURVIVORS only (vs triu_indices' full n(n-1)/2 vectors).
    keep = np.triu(sims >= threshold, k=1)
    ia, ib = keep.nonzero()
    return ids[ia], ids[ib], sims[ia, ib]


def _gemm_pairs_from_banded(
    banded: DataFrame,
    threshold: float,
    max_bucket: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    banded = banded.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        "band_id",
        "bucket",
    )

    def score_bucket(pdf):
        n = len(pdf)
        if n < 2 or n > max_bucket:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        pdf = pdf.sort_values("_id")
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_vec"]])
        id_a, id_b, cos = _bucket_cosine_pairs(ids, mat, threshold)
        return pd.DataFrame({"id_a": id_a, "id_b": id_b, "cosine": cos})

    return (
        banded.groupBy("band_id", "bucket")
        .applyInPandas(score_bucket, "id_a long, id_b long, cosine double")
        .dropDuplicates(["id_a", "id_b"])
    )


def near_dup_candidate_density(
    embeddings: DataFrame,
    n_bands: int = 8,
    planes_per_band: "int | str" = 4,
    max_bucket: int = 200,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> float:
    """Candidate pairs per vector of the banded hyperplane sketch:
    sum(c·(c-1)/2) over valid buckets (2 <= c <= max_bucket), divided
    by the corpus size. THE scorer-selection statistic — it is exactly
    the pair-stream mass the expression path would materialize,
    computed from an ids-only pass over the same banding (one bucket
    aggregate, no vectors shuffled, no pairs formed)."""
    planes_per_band = resolve_planes_per_band(embeddings, planes_per_band)
    banded = _banded_exploded(
        embeddings, n_bands, planes_per_band, id_col, vec_col, include_vec=False
    )
    return _density_from_banded(banded, None, max_bucket, id_col, n_bands=n_bands)


def near_dup_banding_diagnostics(
    embeddings: DataFrame,
    n_bands: int = 8,
    planes_per_band: "int | str" = 4,
    max_bucket: int = 200,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Density plus the under-cap alarm, from the SAME one-job ids-only
    aggregate as `near_dup_candidate_density`: `density` (candidate
    pairs per vector over valid buckets), `dropped_pair_frac` (share of
    the total pair mass sitting in buckets ABOVE max_bucket — mass the
    pair scorers silently exclude), and `capped_buckets`.

    The 1024x octave probe (SCALE.md round 8) showed why this must be
    observable: once genuine duplicate multiplicity exceeds max_bucket,
    pair output COLLAPSES (~0.1% recall there) with a healthy-looking
    plan and wall-clock — a pair count that falls as the corpus grows
    is under-capped, not cleaner.  At real scale max_bucket must track
    expected clique size; the verdict paths (minhash_dedup_verdicts,
    semantic_dedup) are immune by construction (per-doc output)."""
    planes_per_band = resolve_planes_per_band(embeddings, planes_per_band)
    banded = _banded_exploded(
        embeddings, n_bands, planes_per_band, id_col, vec_col, include_vec=False
    )
    return _density_from_banded(
        banded, None, max_bucket, id_col, n_bands=n_bands, full=True
    )


def _density_from_banded(
    banded: DataFrame,
    n: "int | None",
    max_bucket: float,
    id_col: str,
    n_bands: int = 1,
    full: bool = False,
):
    """Candidate pairs per id over a (id, band_id, bucket) frame —
    sum(c·(c-1)/2) across valid buckets (2 <= c <= max_bucket) divided
    by the id count.  With n=None the id count is derived IN the same
    aggregate (every id lands in exactly one bucket per band, so
    sum(c) over ALL buckets == N·n_bands) — one Spark job for the
    whole selection statistic, no separate count pass.  The same
    aggregate also measures the OVER-CAP pair mass (buckets with
    c > max_bucket, which every pair scorer drops wholesale);
    full=True returns the diagnostics dict instead of the density
    float — still one job either way."""
    valid = (F.col("c") >= 2) & (F.col("c") <= F.lit(float(max_bucket)))
    over = F.col("c") > F.lit(float(max_bucket))
    pairs = F.col("c") * (F.col("c") - 1) / 2
    row = (
        banded.groupBy("band_id", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.coalesce(F.sum(F.when(valid, pairs)), F.lit(0.0)).alias("cand_pairs"),
            F.coalesce(F.sum(F.when(over, pairs)), F.lit(0.0)).alias("over_pairs"),
            F.coalesce(F.sum(F.when(over, 1)), F.lit(0)).alias("capped_buckets"),
            F.coalesce(F.sum("c"), F.lit(0)).alias("total"),
        )
        .collect()[0]
    )
    if n is None:
        n = int(row["total"]) // max(n_bands, 1)
    density = float(row["cand_pairs"]) / max(n, 1)
    if not full:
        return density
    mass = float(row["cand_pairs"]) + float(row["over_pairs"])
    return {
        "density": density,
        "dropped_pair_frac": float(row["over_pairs"]) / mass if mass else 0.0,
        "capped_buckets": int(row["capped_buckets"]),
        "n_ids": int(n),
    }


def cosine_near_duplicates_lsh_auto(
    embeddings: DataFrame,
    threshold: float = 0.45,
    n_bands: int = 8,
    planes_per_band: "int | str" = 4,
    max_bucket: int = 200,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Density-adaptive near-dup scorer: measure the candidate-pair mass
    the banding will produce, then pick the scorer the round-6 probe
    showed wins in that regime (SCALE.md):

    - SPARSE (few candidate pairs per vector): the expression path —
      its pair stream is small, and it avoids the GEMM path's Arrow
      serialization + vector-carrying shuffle (measured 5.9 vs 10.2 s
      at 1x amplification).
    - DENSE (duplication-heavy): the within-bucket GEMM path — the
      expression path's candidate stream dominates wall-clock
      (measured 19.7 vs 6.3 s at 16x; the timing crossover sits at ~4x
      amplification). `routing.gemm_for_pair_scoring` holds the
      cutover in candidate pairs per vector, with the densities the
      probe measured.

    The decision statistic is computed from an ids-only aggregate over
    the SAME banding the chosen scorer then applies (deterministic
    hyperplanes — see _hyperplane_band_structs), the same move as
    AQE's runtime re-planning: one cheap eager pass buys the right
    physical strategy. Both scorers emit the identical (id_a < id_b,
    round(cosine,6) >= threshold) pair set (pytest-pinned), so the
    choice changes the plan, never the result.

    The density pass re-projects the corpus rather than caching the
    sketch for the scorer — a measured decision, both ways: with the
    old expression banding the duplicated projection folds dominated
    (auto 2.4× the GEMM path at 64× amplification), but sharing them
    via localCheckpoint traded that for block-manager residency that
    made the 64× probe *worse* (73.7 s vs 24.4 s as checkpoint blocks
    accumulated).  The real fix was making projection cheap
    (_banded_exploded's one-GEMM-per-batch banding); with it the extra
    pass is a few percent and the selector keeps zero cached state.

    The same one-job statistic doubles as the UNDER-CAP alarm (the
    1024x-octave finding, SCALE.md round 8): when most of the banding's
    pair mass sits in buckets above max_bucket, every pair scorer
    silently drops those cliques and the output collapses while the
    plan looks healthy — this emits a UserWarning so the caller learns
    to raise max_bucket (or planes_per_band) instead of reading the
    shrunken pair count as a cleaner corpus.

    `planes_per_band="auto"` is resolved ONCE here (from Catalyst plan
    statistics, resolve_planes_per_band) and the resolved int feeds
    both the density pass and the chosen scorer, so the decision
    statistic always describes exactly the banding the scorer applies.
    """
    planes_per_band = resolve_planes_per_band(
        embeddings, planes_per_band, warn_on_unknown=False
    )
    diag = near_dup_banding_diagnostics(
        embeddings, n_bands, planes_per_band, max_bucket, id_col, vec_col
    )
    if diag["dropped_pair_frac"] > 0.5:
        import warnings

        warnings.warn(
            f"near-dup banding is under-capped: {diag['dropped_pair_frac']:.0%} "
            f"of the candidate-pair mass sits in {diag['capped_buckets']} "
            f"buckets above max_bucket={max_bucket} and will be silently "
            "dropped by the pair scorers; raise max_bucket above the "
            "expected duplicate multiplicity (or add planes_per_band), or "
            "use a verdict-path dedup (minhash_dedup_verdicts / "
            "semantic_dedup) whose output is per-doc, not per-pair.",
            UserWarning,
            stacklevel=2,
        )
    scorer = (
        cosine_near_duplicates_lsh_gemm
        if routing.gemm_for_pair_scoring(diag["density"])
        else cosine_near_duplicates_lsh
    )
    return scorer(
        embeddings,
        threshold=threshold,
        n_bands=n_bands,
        planes_per_band=planes_per_band,
        max_bucket=max_bucket,
        id_col=id_col,
        vec_col=vec_col,
    )


def fit_coarse_centers(
    embeddings: DataFrame,
    n_cells: int,
    seed: int = 7,
    vec_col: str = "embedding",
) -> "np.ndarray":
    """The IVF coarse quantizer: MLlib KMeans (fixed seed) centers as a
    plain (n_cells x d) float64 matrix.  Deterministic for a given
    (input, n_cells, seed) — verified fit-to-fit identical — so callers
    composing several IVF-family indexes over the SAME corpus (e.g.
    ann_recall_report's ivf + ivfpq branches) fit ONCE and pass the
    matrix through `centers=` (r14, guide §1.2: don't compute things
    twice; one full MLlib fit ~1.1 s at sf0.1 per duplicated branch)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = embeddings.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_cells, seed=seed, maxIter=10).fit(train)
    return np.stack(
        [c.toArray() if hasattr(c, "toArray") else np.asarray(c) for c in model.clusterCenters()]
    )


def _cell_probe_udf(centers_n: np.ndarray, n: int):
    """Arrow-batched IVF cell probe: per vector, the ids of the `n`
    cells whose unit-norm centroids `centers_n` (n_cells x d) are
    nearest by cosine, nearest first.  Shared by `ivf_topk` and
    `pq.ivfpq_topk`."""
    from pyspark.sql.types import ArrayType, IntegerType

    @F.pandas_udf(ArrayType(IntegerType()))
    def probe(vec_series: pd.Series) -> pd.Series:
        mat = np.stack(vec_series.to_numpy()).astype(np.float64)  # (batch, d)
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = mat @ centers_n.T  # (batch, n_cells)
        top = np.argsort(-sims, axis=1)[:, :n]
        return pd.Series(list(top.astype(np.int32)))

    return probe


def ivf_topk(
    embeddings: DataFrame,
    n_queries: int = 20,
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centers: "np.ndarray | None" = None,
) -> DataFrame:
    """IVF-Flat approximate nearest neighbours (the inverted-file ANN
    structure Faiss popularized), Spark-first:

    1. coarse quantizer: MLlib KMeans (fixed seed) fits `n_cells`
       centroids — at 100 TB you fit on a sample; the model is a tiny
       (n_cells × d) matrix that lives on the driver;
    2. cell assignment: Arrow-batched pandas UDF, centroids closed over
       BY VALUE (numpy matmul per batch, no per-row Python) — map-side
       only, no shuffle;
    3. queries probe their `n_probe` nearest cells; candidates come from
       an equi-join on cell id against the broadcast probe list — the
       cross product is never formed, and the candidate side's shuffle
       is avoided entirely (broadcast-hash join);
    4. exact double cosine re-score + windowed top-k.

    Approximate by design (recall grows with n_probe); rows-only in the
    registry like the other ANN scale paths.
    """
    _guard_query_bound(n_queries, MAX_BROADCAST_QUERIES, "ivf_topk")

    vecs = embeddings.select(F.col(id_col), F.col(vec_col))
    if centers is None:
        centers = fit_coarse_centers(embeddings, n_cells, seed, vec_col)  # (n_cells, d)
    # normalized centroids => nearest-by-cosine cell assignment
    centers_n = centers / np.maximum(np.linalg.norm(centers, axis=1, keepdims=True), 1e-12)

    # Per-side norms once per row before the cell join (r13, guide §1.2):
    # per pair, each O(dim) self-dot fold ran per probed candidate pair.
    # Same fold over the same array — the rounded cosine is bit-identical.
    cands = vecs.withColumn("cell", _cell_probe_udf(centers_n, 1)(F.col(vec_col)).getItem(0)).select(
        F.col(id_col).alias("candidate_id"),
        F.col(vec_col).alias("cvec"),
        "cell",
        F.expr(_DOT.format(a=vec_col, b=vec_col)).alias("cn2"),
    )
    queries = (
        vecs.filter(F.col(id_col) < n_queries)
        .withColumn("cell", F.explode(_cell_probe_udf(centers_n, n_probe)(F.col(vec_col))))
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            "cell",
            F.expr(_DOT.format(a=vec_col, b=vec_col)).alias("qn2"),
        )
    )
    dot = F.expr(_DOT.format(a="qvec", b="cvec"))
    scored = (
        cands.join(F.broadcast(queries), "cell")
        .filter(F.col("query_id") != F.col("candidate_id"))
        .withColumn(
            "cosine", F.round(dot / (F.sqrt(F.col("qn2")) * F.sqrt(F.col("cn2"))), 6)
        )
        # a candidate can surface via several probed cells
        .dropDuplicates(["query_id", "candidate_id"])
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("candidate_id").asc())
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select("query_id", "candidate_id", "cosine", F.col("nn_rank").cast("int").alias("nn_rank"))
    )


def _bucket_col(vec_col: str, n_planes: int) -> F.Column:
    """Packed sign-bit bucket, computed row-locally (no explode/shuffle).

    Plane j's normal is a deterministic pseudo-random vector derived from
    xxhash64(position, j) — reproducible with no stored model.  Each
    projection is a sequential left-fold (`aggregate`), so the float sum
    order is fixed and the bucket is deterministic.

    The only single-band bucket: the batch ANN paths
    (`hyperplane_buckets`, `cosine_topk_lsh`, `hard_negatives_lsh`) and
    the STREAMING semantic dedup all project it, so it composes into any
    plan with no Python barrier and keeps filter pushdown intact.  A
    mapInPandas GEMM form measured no faster at 4 cores on any corpus
    (SCALE.md, "4-core twin A/B")."""
    # One nested higher-order expression instead of n_planes spelled-out
    # fold terms (r13 optimization pass, guide §4 per-task work): the old
    # form repeated each plane's O(dim) fold TWICE (once under isnan,
    # once under the sign test — higher-order functions run interpreted,
    # so no common-subexpression elimination saves it) and grew the
    # expression tree linearly in n_planes, which showed up as Python/
    # analysis time on every build.  Here each projection is evaluated
    # exactly once into an in-plan array, then the sign bits fold over
    # that array.  Values are bit-identical: same xxhash64(i, j) plane
    # formula over the same INT types, same fold order, same NaN/NULL
    # handling per element (NaN projections set bit 0, matching the
    # banded GEMM's IEEE comparison — see _hyperplane_band_structs).
    projs = (
        f"transform(sequence(0, {n_planes - 1}), j -> "
        f"aggregate(zip_with({vec_col}, sequence(0, size({vec_col}) - 1), "
        f"(x, i) -> cast(x as double) * (cast(xxhash64(i, j) % 10007 as double) / 1.0007e4)), "
        f"cast(0.0 as double), (acc, v) -> acc + v))"
    )
    bucket = (
        f"aggregate(zip_with({projs}, sequence(0, {n_planes - 1}), "
        f"(p, j) -> CASE WHEN NOT isnan(p) AND p >= 0 THEN shiftleft(1, j) ELSE 0 END), "
        f"0, (acc, v) -> acc + v)"
    )
    # coalesce marks the column NON-NULLABLE (r13 optimization pass,
    # guide §4.4 pathology with a built-in expression): the expression
    # cannot actually return NULL — the outer fold runs over a literal
    # sequence with a non-null init and CASE...ELSE 0 elements, so a
    # NULL/empty vector yields bucket 0 (pinned in the tests) — but
    # Catalyst types it nullable, and every inner equi-join on
    # `bucket` then infers an IsNotNull(bucket) filter that is pushed
    # BELOW the projection, re-inlining and
    # re-evaluating the whole O(planes*dim) fold once more per row.
    # With the key provably non-nullable the inference never fires and
    # each row pays the fold exactly once.
    return F.coalesce(F.expr(bucket).cast("int"), F.lit(0))


def hyperplane_buckets(
    embeddings: DataFrame,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane sign sketch (Charikar 2002 SimHash for angles).

    Bucket = packed sign bits, projected row-locally in the scan
    (`_bucket_col`, no shuffle).  At 100 TB: one narrow scan, shuffle
    only on (bucket), skew bounded by 2^n_planes buckets.
    """
    return embeddings.select(id_col, _bucket_col(vec_col, n_planes).alias("bucket"))


def cosine_topk_lsh(
    embeddings: DataFrame,
    n_queries: int = 20,
    k: int = 3,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: hyperplane-bucket candidates, exact re-score.

    Recall is tunable via n_planes (fewer planes = bigger buckets =
    higher recall & cost).  Candidate join is bucket-equi — a hash
    shuffle, never a cross product.
    """
    _guard_query_bound(n_queries, MAX_BROADCAST_QUERIES, "cosine_topk_lsh")
    # bucket is computed map-side in the scan (no join-back shuffle);
    # the tiny query side is broadcast so candidates never shuffle at
    # all.
    queries = embeddings.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        _bucket_col(vec_col, n_planes).alias("bucket"),
        F.expr(_DOT.format(a=vec_col, b=vec_col)).alias("qn2"),
    )
    # Per-side norms once per row before the bucket join (r13, guide
    # §1.2): per pair, each O(dim) self-dot fold ran per bucket-mate
    # pair.  Same fold over the same array — bit-identical cosine.
    cands = embeddings.select(
        F.col(id_col).alias("candidate_id"),
        F.col(vec_col).alias("cvec"),
        _bucket_col(vec_col, n_planes).alias("bucket"),
        F.expr(_DOT.format(a=vec_col, b=vec_col)).alias("cn2"),
    )
    dot = F.expr(_DOT.format(a="qvec", b="cvec"))
    scored = (
        cands.join(F.broadcast(queries), "bucket")
        .filter(F.col("query_id") != F.col("candidate_id"))
        .withColumn(
            "cosine", F.round(dot / (F.sqrt(F.col("qn2")) * F.sqrt(F.col("cn2"))), 6)
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("candidate_id").asc())
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select("query_id", "candidate_id", "cosine", F.col("nn_rank").cast("int").alias("nn_rank"))
    )


def quantize_int8(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 scalar quantization per vector: q = round(x/scale)
    with scale = max|x|/127, plus the L2 reconstruction error.

    The standard 4x memory cut for ANN candidate stores (Faiss SQ8):
    distances on int8 codes select candidates, full-precision re-score
    finishes.  Entirely row-local (no shuffle) and expression-only (no
    UDF): max-abs, the code array, and the error fold all run inside the
    scan projection.

    Determinism note: every arithmetic step (divide, round, multiply,
    subtract, square via self-multiplication — NOT pow(), whose libm
    result is not pinned cross-engine) has an identical expression shape
    in the DuckDB oracle, so the doubles are bit-identical.
    """
    x = F.col(vec_col)
    max_abs = F.greatest(
        F.array_max(F.transform(x, lambda v: F.abs(v.cast("double")))), F.lit(1e-12)
    )
    staged = embeddings.select(F.col(id_col), x, max_abs.alias("_max_abs"))
    q_of = lambda v: F.round(v.cast("double") * 127 / F.col("_max_abs"))  # noqa: E731
    diff = lambda v: v.cast("double") - q_of(v) * (F.col("_max_abs") / 127)  # noqa: E731
    return staged.select(
        F.col(id_col),
        F.round((F.col("_max_abs") / 127).cast("double"), 9).alias("scale"),
        F.transform(x, lambda v: q_of(v).cast("int")).alias("q8"),
        F.round(
            F.sqrt(
                F.aggregate(
                    F.transform(x, lambda v: diff(v) * diff(v)),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
            ),
            6,
        ).cast("double").alias("recon_err_l2"),
    )


def _chunked_upper_tri_drops(
    ids: "np.ndarray",
    mat: "np.ndarray",
    threshold: float,
    block_elems: int = _GEMM_BLOCK_ELEMS,
) -> "np.ndarray":
    """ids (ascending) dropped by the greedy near-dup rule: id j drops
    iff SOME row i < j has round(cosine(i, j), 6) >= threshold.

    Row-chunked GEMM (the cosine_topk_gemm batch pattern): worker peak
    is O(chunk x cluster), never O(cluster^2). A full `mat @ mat.T`
    allocates c^2 doubles in one worker — 8.6 GB per cluster at the
    1024x probe's 32k-row clusters — and a skewed kmeans at 100 TB
    would OOM an executor (VERDICT r8 hazard). Each similarity block
    stays <= block_elems doubles (128 MB at the default) regardless of
    cluster size; masking each block to its strict upper triangle and
    OR-folding into one dropped bitmap reproduces the full-triu verdict
    exactly (pytest-pinned at block_elems=1, and the peak bound is
    tracemalloc-measured in test_training_similarity).

    Same half-even-vs-HALF_UP caveat as score_bucket in
    cosine_near_duplicates_lsh: boundary cosines ~1e-12 from a half-bin
    edge may flip vs the expr scorer; dropped-set equality pins rely on
    edge-clear fixtures (rows-only path)."""
    norm = np.sqrt((mat * mat).sum(axis=1))
    norm[norm == 0.0] = 1.0
    # Normalize rows ONCE (one n x d pass) so each block is a bare
    # GEMM: the naive per-block `/ np.outer(norm_chunk, norm)` spends
    # two extra chunk x n float64 temporaries per block — ~3x the
    # advertised block budget in transient peak, on exactly the path
    # this function exists to bound. Unit-row cosines differ from
    # dot/(|a||b|) only in ~1e-16 rounding, inside the documented
    # half-bin caveat below.
    mat = mat / norm[:, None]
    n = len(ids)
    chunk = max(1, block_elems // n)
    dropped_mask = np.zeros(n, dtype=bool)
    cols = np.arange(n)[None, :]
    for s in range(0, n - 1, chunk):
        e = min(s + chunk, n)
        hit = np.round(mat[s:e] @ mat.T, 6) >= threshold
        hit &= cols > np.arange(s, e)[:, None]
        dropped_mask |= hit.any(axis=0)
    return ids[dropped_mask]


def semantic_dedup(
    embeddings: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.98,
    kmeans_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scorer: str = "auto",
    gemm_block_elems: int = _GEMM_BLOCK_ELEMS,
    n_probes: int = 1,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means partitions the embedding space, then
    near-identical vectors WITHIN each cluster are deduplicated, keeping
    the lowest id of every near-dup group.

    Verdict per vector: (id, cluster, is_dropped, keep) where a vector
    is dropped iff some SAME-CLUSTER vector with a smaller id has
    cosine >= threshold to it.  This greedy rule guarantees the kept set
    is an independent set: no two kept vectors in a cluster are within
    threshold of each other (if x < y were both kept with cos >= t, y
    would have been dropped by x) — the property the paper's dedup
    relies on.

    Scale shape: this is the clustering analogue of LSH banding — the
    quadratic rescoring is confined within clusters (shuffle keyed on
    the cluster id, per-cluster cost bounded by cluster size, chosen via
    k ~ n/expected_cluster_size), and the existence check is a
    left-semi join, so the pair stream is never materialized into the
    output. Cross-cluster near-dups are missed by design — the paper's
    recall/cost trade.

    `n_probes` (r9) softens that trade the ANN multi-probe way: each
    vector is SCORED in its n_probes nearest clusters (row-local
    assignment, `clustering.assign_clusters_multiprobe`), so a near-dup
    pair straddling a Voronoi boundary is caught whenever the two
    vectors share any probe cluster. The verdict grain is unchanged —
    one row per vector, `cluster` = the primary (argmin) assignment —
    and n_probes=1 is byte-identical to the paper's behavior. Cost:
    per-cluster rows grow <= n_probes x, pair mass <= n_probes^2 x
    (the auto-router's density estimate is scaled by n_probes^2
    accordingly); the kept-set independence property widens to "no two
    kept vectors sharing a probe cluster are within threshold".

    `scorer='gemm'` routes the within-cluster scoring through numpy
    matmul blocks (applyInPandas) instead of the expression-path pair
    join — same dropped set (pytest-pinned), but the sub-threshold
    within-cluster pair mass never leaves the executor (the same trade
    measured 5x on the banded near-dup path, SCALE.md). Scoring is
    ROW-CHUNKED (r9): each block is chunk x cluster with chunk sized so
    the block stays under `gemm_block_elems` doubles (default 128 MB),
    so the worker's transient peak no longer grows with cluster^2 — a
    skewed kmeans cannot OOM an executor on the sims matrix.

    `scorer='auto'` (the default since round 8) picks mechanically from
    the SAME statistic `cosine_near_duplicates_lsh_auto` uses — the
    pair mass the expression path would materialize, per vector. For
    clustered dedup that is the cluster-size histogram
    (sum c·(c-1)/2 over clusters, divided by N; the cluster IS the
    bucket, uncapped — unlike LSH banding every cluster is scored
    whatever its size), and here it costs ZERO extra jobs: the k-means
    fit's per-iteration update aggregate already collects COUNT per
    cluster, so the selector reads the fit's own last histogram — the
    same cost-from-statistics-you-already-have move as the
    Catalyst-stats bucket routing. (The histogram is one half-step
    behind the final assignment — the assignment that produced the
    final centroids — which routing tolerates by construction: both
    scorers are verdict-identical, pytest-pinned, so the choice
    changes the plan, never the result.)  Same cutover as the banded
    selector (`routing.gemm_for_pair_scoring`).
    """
    from . import clustering

    if scorer == "auto":
        assigned, centroids, sizes = clustering.kmeans(
            embeddings,
            k=n_clusters,
            max_iter=kmeans_iter,
            id_col=id_col,
            vec_col=vec_col,
            return_sizes=True,
        )
        n = sum(sizes.values())
        # multi-probe multiplies per-cluster rows by <= n_probes, so
        # the pair mass the router weighs scales by <= n_probes^2 —
        # still from the fit's own histogram, zero extra jobs
        density = (
            sum(c * (c - 1) / 2 for c in sizes.values())
            / max(n, 1)
            * (max(n_probes, 1) ** 2)
        )
        scorer = "gemm" if routing.gemm_for_pair_scoring(density) else "expr"
    else:
        assigned, centroids = clustering.kmeans(
            embeddings, k=n_clusters, max_iter=kmeans_iter, id_col=id_col, vec_col=vec_col
        )
    assigned = assigned.select(F.col(id_col), "cluster")
    if n_probes > 1:
        # scored in every probe cluster; the OUTPUT keeps the primary
        # assignment (probe_rank 1 == the argmin `assigned` carries)
        score_assign = clustering.assign_clusters_multiprobe(
            embeddings, centroids, n_probes, id_col=id_col, vec_col=vec_col
        ).select(F.col(id_col), "cluster")
    else:
        score_assign = assigned
    vecs = score_assign.join(embeddings.select(F.col(id_col), F.col(vec_col)), id_col)

    if scorer == "gemm":

        def drop_in_cluster(pdf):
            if len(pdf) < 2:
                return pd.DataFrame({"_did": []}).astype({"_did": "int64"})
            pdf = pdf.sort_values(id_col)
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            return pd.DataFrame(
                {"_did": _chunked_upper_tri_drops(ids, mat, threshold, gemm_block_elems)}
            )

        dropped = (
            vecs.groupBy("cluster")
            .applyInPandas(drop_in_cluster, "_did long")
            .select(F.col("_did").alias(id_col))
            .distinct()
            .withColumn("is_dropped", F.lit(True))
        )
        return (
            assigned.join(dropped, id_col, "left")
            .select(
                F.col(id_col),
                F.col("cluster"),
                F.coalesce(F.col("is_dropped"), F.lit(False)).alias("is_dropped"),
                (~F.coalesce(F.col("is_dropped"), F.lit(False))).alias("keep"),
            )
        )
    if scorer != "expr":
        raise ValueError(f"semantic_dedup: unknown scorer {scorer!r} (auto | expr | gemm)")

    # Per-side norms once per row before the cluster self-join (r13,
    # guide §1.2): per pair, each O(dim) self-dot fold ran once per
    # within-cluster pair (≈density× the corpus).  Same fold over the
    # same array — bit-identical cosine.
    scored_vecs = vecs.withColumn("n2", F.expr(_DOT.format(a=vec_col, b=vec_col)))
    a = scored_vecs.select(
        F.col(id_col).alias("id_a"),
        F.col("cluster"),
        F.col(vec_col).alias("veca"),
        F.col("n2").alias("na2"),
    )
    b = scored_vecs.select(
        F.col(id_col).alias("id_b"),
        F.col("cluster"),
        F.col(vec_col).alias("vecb"),
        F.col("n2").alias("nb2"),
    )
    dot = F.expr(_DOT.format(a="veca", b="vecb"))
    cos = F.round(dot / (F.sqrt(F.col("na2")) * F.sqrt(F.col("nb2"))), 6)
    dropped = (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        # ~isnan mirrors the gemm scorer's IEEE comparison (NaN never
        # drops a vector on either scorer) — see _lsh_pairs_from_banded.
        .filter(~F.isnan(cos) & (cos >= threshold))
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("is_dropped", F.lit(True))
    )
    return (
        assigned.join(dropped, id_col, "left")
        .select(
            F.col(id_col),
            F.col("cluster"),
            F.coalesce(F.col("is_dropped"), F.lit(False)).alias("is_dropped"),
            (~F.coalesce(F.col("is_dropped"), F.lit(False))).alias("keep"),
        )
    )


def hard_negatives_exact(
    embeddings: DataFrame,
    n_queries: int = 20,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each of the
    first `n_queries` vectors (by id), the `k` most cosine-similar
    vectors carrying a DIFFERENT label — the near-boundary negatives
    that make embedding/reranker training data informative (the
    in-batch-negatives upgrade every dense-retrieval pipeline mines
    offline).

    Exact brute-force baseline with the same determinism contract as
    :func:`cosine_topk_exact` (decimal-exact dots, 6-decimal rounding,
    candidate-id tie-break) plus the label columns carried through, so
    an oracle can replay it cell-for-cell.  Same O(|Q|·|C|·d) cost and
    the same hard query-count cap — the scale path is
    :func:`hard_negatives_lsh`.
    """
    _guard_query_bound(n_queries, MAX_EXACT_QUERIES, "hard_negatives_exact")
    vecs = embeddings.select(F.col(id_col), F.col(vec_col), F.col(label_col))
    queries = vecs.filter(F.col(id_col) < n_queries)
    q_elem = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.posexplode(vec_col).alias("pos", "qx"),
    )
    c_elem = vecs.select(
        F.col(id_col).alias("candidate_id"),
        F.col(label_col).alias("candidate_label"),
        F.posexplode(vec_col).alias("pos", "cx"),
    )
    prod = (F.col("qx").cast("double") * F.col("cx").cast("double")).cast("decimal(28,18)")
    dots = (
        q_elem.join(c_elem, "pos")
        # different label ⇒ different row; no separate id≠id filter needed
        .filter(F.col("query_label") != F.col("candidate_label"))
        .groupBy("query_id", "query_label", "candidate_id", "candidate_label")
        .agg(F.sum(prod).alias("dot_dec"))
    )
    norms = _norms_decimal(embeddings, id_col, vec_col)
    qn = norms.select(F.col(id_col).alias("query_id"), F.col("norm2_dec").alias("qn2"))
    cn = norms.select(F.col(id_col).alias("candidate_id"), F.col("norm2_dec").alias("cn2"))
    scored = (
        dots.join(qn, "query_id")
        .join(cn, "candidate_id")
        .withColumn(
            "cosine",
            F.round(
                F.col("dot_dec").cast("double")
                / (F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("cn2").cast("double"))),
                6,
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("candidate_id").asc())
    return (
        scored.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k)
        .select(
            "query_id",
            "query_label",
            "candidate_id",
            "candidate_label",
            "cosine",
            F.col("neg_rank").cast("int").alias("neg_rank"),
        )
    )


def hard_negatives_gemm(
    embeddings: DataFrame,
    n_queries: int = 20,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    margin: int = 8,
) -> DataFrame:
    """Hard-negative mining at GEMM throughput — exact output identical
    to :func:`hard_negatives_exact` (same oracle applies).

    Same two-stage shape as :func:`cosine_topk_gemm`, with the
    DIFFERENT-label constraint applied inside the numpy batch (label
    vectors broadcast with the query matrix, equality mask to -inf), so
    the prune keeps each batch's top-(k+margin) different-label
    candidates per query and the candidate scan never shuffles.
    """
    _guard_query_bound(n_queries, MAX_BROADCAST_QUERIES, "hard_negatives_gemm")
    vecs = embeddings.select(F.col(id_col), F.col(vec_col), F.col(label_col))
    q_rows = vecs.filter(F.col(id_col) < n_queries).collect()
    if not q_rows:
        raise ValueError("hard_negatives_gemm: no query vectors below n_queries")
    q_ids = np.array([r[id_col] for r in q_rows], dtype=np.int64)
    q_labels = np.array([r[label_col] for r in q_rows], dtype=np.int64)
    q_mat = np.array([list(r[vec_col]) for r in q_rows], dtype=np.float64)
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))
    q_norm[q_norm == 0.0] = 1.0
    take = k + margin

    def prune(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c_mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            c_labels = pdf[label_col].to_numpy(dtype=np.int64)
            c_norm = np.sqrt((c_mat * c_mat).sum(axis=1))
            c_norm[c_norm == 0.0] = 1.0
            scores = (q_mat @ c_mat.T) / (q_norm[:, None] * c_norm[None, :])
            scores[q_labels[:, None] == c_labels[None, :]] = -np.inf
            t = min(take, scores.shape[1])
            qi, ci = np.nonzero(_gemm_prune_mask(scores, c_ids, t))
            keep = np.isfinite(scores[qi, ci])  # drop same-label fillers
            yield pd.DataFrame(
                {"query_id": q_ids[qi[keep]], "candidate_id": c_ids[ci[keep]]}
            )

    surv = vecs.mapInPandas(prune, "query_id long, candidate_id long")

    dot_dec = (
        "aggregate(zip_with({a}, {b}, "
        "(x, y) -> cast(cast(x as double) * cast(y as double) as decimal(28,18))), "
        "cast(0 as decimal(30,18)), (acc, v) -> cast(acc + v as decimal(30,18)))"
    )
    qv = vecs.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.col(vec_col).alias("qvec"),
    )
    cv = vecs.select(
        F.col(id_col).alias("candidate_id"),
        F.col(label_col).alias("candidate_label"),
        F.col(vec_col).alias("cvec"),
    )
    scored = (
        surv.join(qv, "query_id")
        .join(cv, "candidate_id")
        .filter(F.col("query_label") != F.col("candidate_label"))
        .withColumn("dot_dec", F.expr(dot_dec.format(a="qvec", b="cvec")))
        .withColumn("qn2", F.expr(dot_dec.format(a="qvec", b="qvec")))
        .withColumn("cn2", F.expr(dot_dec.format(a="cvec", b="cvec")))
        .withColumn(
            "cosine",
            F.round(
                F.col("dot_dec").cast("double")
                / (F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("cn2").cast("double"))),
                6,
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("candidate_id").asc())
    return (
        scored.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k)
        .select(
            "query_id",
            "query_label",
            "candidate_id",
            "candidate_label",
            "cosine",
            F.col("neg_rank").cast("int").alias("neg_rank"),
        )
    )


def hard_negatives_lsh(
    embeddings: DataFrame,
    n_queries: int = 20,
    k: int = 3,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Approximate hard-negative mining — the 100 TB path.

    Same shape as :func:`cosine_topk_lsh` (hyperplane bucket computed in
    the scan, tiny query side broadcast so the candidate scan never
    shuffles, exact double re-score, windowed top-k) with the
    different-label predicate applied before scoring.  Fewer planes than
    the plain top-k default: label filtering thins every bucket, so
    recall needs bigger buckets to hold.

    Approximate by design (a negative whose bucket never collides with
    the query is unseen) — rows-only in the registry; pytest pins the
    result ⊆ exact-scored different-label pairs with identical cosines.
    """
    _guard_query_bound(n_queries, MAX_BROADCAST_QUERIES, "hard_negatives_lsh")
    # expression bucket: at this path's 4 planes the folds are cheaper
    # than a mapInPandas Arrow roundtrip of the vectors (probed 16x/64x:
    # 0.93/2.10 s expr vs 1.56/2.59 s GEMM), and the projection keeps
    # the query-side filter pushdown intact
    vecs = embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        F.col(label_col),
        _bucket_col(vec_col, n_planes).alias("bucket"),
    )
    # Per-side norms once per row before the bucket join (r13, guide
    # §1.2): per pair, each O(dim) self-dot fold ran per bucket-mate
    # pair.  Same fold over the same array — bit-identical cosine.
    queries = vecs.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.col(vec_col).alias("qvec"),
        "bucket",
        F.expr(_DOT.format(a=vec_col, b=vec_col)).alias("qn2"),
    )
    cands = vecs.select(
        F.col(id_col).alias("candidate_id"),
        F.col(label_col).alias("candidate_label"),
        F.col(vec_col).alias("cvec"),
        "bucket",
        F.expr(_DOT.format(a=vec_col, b=vec_col)).alias("cn2"),
    )
    dot = F.expr(_DOT.format(a="qvec", b="cvec"))
    scored = (
        cands.join(F.broadcast(queries), "bucket")
        .filter(F.col("query_label") != F.col("candidate_label"))
        .withColumn(
            "cosine", F.round(dot / (F.sqrt(F.col("qn2")) * F.sqrt(F.col("cn2"))), 6)
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("candidate_id").asc())
    return (
        scored.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k)
        .select(
            "query_id",
            "query_label",
            "candidate_id",
            "candidate_label",
            "cosine",
            F.col("neg_rank").cast("int").alias("neg_rank"),
        )
    )


def ann_recall_report(
    embs: DataFrame,
    n_queries: int = 20,
    k: int = 3,
    n_cells: int = 8,
    n_probe: int = 3,
) -> DataFrame:
    """ANN-parameter evaluation: recall@k of every approximate top-k
    path against the exact brute-force baseline on the same query set —
    the measurement that qualifies index parameters (bands, cells,
    probes, code size) on a sample BEFORE a full-corpus run, exactly
    dedup_eval_report's role for the dedup family.

    One row per method. `gemm` is exact-by-construction, so its row is
    the report's self-check (recall 1.0 whenever ties don't straddle
    the k boundary); the approximate rows (lsh / ivf / pq / ivfpq) are
    the recall/cost trade being measured.

    Scale shape: each method's top-k plan is its registry query's plan
    (bounded query set, broadcast codebooks/centroids); the exact
    baseline runs ONCE and is collected into a bounded n_queries*k-row
    frame broadcast into one equi-join + 1-row aggregate per method,
    then a k-method union of one-row frames — evaluation never
    materializes more than the top-k outputs themselves.
    """
    from . import pq as _pq

    # The exact baseline is the report's most expensive plan and its
    # output is bounded at n_queries*k rows — collect it ONCE into a
    # small broadcastable frame so the five per-method joins (and the
    # denominator) reuse the result instead of re-running the
    # brute-force scan per branch.
    spark = embs.sparkSession
    exact_rows = (
        cosine_topk_exact(embs, n_queries=n_queries, k=k)
        .select("query_id", "candidate_id")
        .collect()
    )
    if not exact_rows:
        raise ValueError(
            "ann_recall_report: exact baseline is empty — no vec_id < "
            f"{n_queries} in the input; recall would be 0/0"
        )
    exact = spark.createDataFrame(exact_rows, "query_id long, candidate_id long")
    # The ivf and ivfpq branches use the SAME coarse quantizer (same
    # corpus, n_cells, seed) and the pq and ivfpq branches the SAME
    # codebooks — both fits are deterministic (verified fit-to-fit
    # identical), so fit each ONCE and share (r14, guide §1.2: one
    # duplicated MLlib fit was ~1.1 s and one codebook train ~0.3 s of
    # this report's cost; results bit-identical by determinism).
    centers = fit_coarse_centers(embs, n_cells)
    books = _pq.train_codebooks(embs)
    methods = {
        "gemm": cosine_topk_gemm(embs, n_queries=n_queries, k=k),
        "lsh": cosine_topk_lsh(embs, n_queries=n_queries, k=k),
        "ivf": ivf_topk(
            embs, n_queries=n_queries, k=k, n_cells=n_cells, n_probe=n_probe,
            centers=centers,
        ),
        "pq": _pq.pq_topk(embs, n_queries=n_queries, k=k, codebooks=books),
        "ivfpq": _pq.ivfpq_topk(
            embs, n_queries=n_queries, k=k, n_cells=n_cells, n_probe=n_probe,
            centers=centers, codebooks=books,
        ),
    }
    reports = []
    for name, topk in methods.items():
        hits = topk.select("query_id", "candidate_id").join(
            F.broadcast(exact), ["query_id", "candidate_id"]
        )
        reports.append(
            hits.agg(F.count(F.lit(1)).cast("bigint").alias("n_hits")).select(
                F.lit(name).alias("method"),
                "n_hits",
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    n_exact = len(exact_rows)
    return out.select(
        "method",
        "n_hits",
        F.lit(n_exact).cast("bigint").alias("n_exact"),
        F.round(F.col("n_hits").cast("double") / F.lit(float(n_exact)), 6).alias(
            "recall_at_k"
        ),
        F.lit(n_queries).cast("int").alias("n_queries"),
        F.lit(k).cast("int").alias("k"),
    )
