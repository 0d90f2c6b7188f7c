"""Product quantization (Jégou et al. 2011) for embedding columns.

The memory side of the ANN story (similarity.py holds the candidate
generation side): an m-subspace, k-centroid product code compresses a
d-dim float vector to m small integers (here m=8, k=16 -> 8 nibbles =
4 bytes per 64-dim vector, a 64x cut), and asymmetric distance
computation (ADC) scores candidates WITHOUT decompressing — each query
precomputes an (m x k) table of subspace distances, and a candidate's
score is m table lookups summed.

Spark-first shape, every stage scale-true:

- **training**: per-subspace Lloyd's over ONE deterministic
  hash-ordered sample collect (the lowest-xxhash64(id) rows — every
  run, partitioning, and retry agrees on the subset), then numpy on the
  driver — at 100 TB codebooks are always sample-trained (Faiss does
  exactly this); the model is m * k * (d/m) = d*k doubles.  A
  full-corpus distributed trainer exists as clustering.kmeans per
  subspace when the sample assumption fails;
- **encode**: one row-local projection — m argmin-centroid expressions
  (clustering._sq_dist composition), no UDF, no shuffle; codes persist
  beside the table like any column;
- **score**: the query-side tables broadcast as array literals; a
  candidate's ADC distance is m `element_at` lookups summed — plain
  codegen, the 100 TB side never shuffles and never touches floats
  beyond the lookup;
- **top-k**: one window per query partition, ties broken by id.

Approximate by design (quantization error bounds recall), so the
registry entry is rows-only; pytest pins determinism, self-distance
minimality, and recall against the exact baseline on clustered data.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .. import routing
from .clustering import _sq_dist


def train_codebooks(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 4,
    sample_size: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Per-subspace codebooks via Lloyd's on a deterministic sample.

    ONE distributed job (hash-ordered sample collect), then numpy
    Lloyd's per subspace on the driver: farthest-point seeding from the
    lowest-hash row (ties to the lowest index), `iters` assignment/
    update rounds, empty clusters keep their previous centroid.
    Returns m codebooks of k centroids each (subspace dim = d/m).
    """
    import numpy as np

    dim = len(df.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    rows = (
        df.select(F.col(vec_col).alias("v"), F.xxhash64(F.col(id_col)).alias("h"))
        .orderBy("h")
        .limit(max(sample_size, k))
        .collect()
    )
    X = np.asarray([list(map(float, r["v"])) for r in rows])  # (n, dim)

    books: list[list[list[float]]] = []
    for j in range(m):
        S = X[:, j * sub : (j + 1) * sub]  # (n, sub)
        n = len(S)
        if n <= k:
            books.append([list(map(float, row)) for row in S])
            continue
        # deterministic farthest-point seeding (clustering.init_centroids
        # contract, vectorized)
        chosen = [0]
        nearest = ((S - S[0]) ** 2).sum(axis=1)
        while len(chosen) < k:
            far = int(nearest.argmax())  # argmax ties -> lowest index
            chosen.append(far)
            nearest = np.minimum(nearest, ((S - S[far]) ** 2).sum(axis=1))
        C = S[chosen].copy()  # (k, sub)
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)  # (n, k)
            assign = d2.argmin(axis=1)
            for c in range(k):
                members = S[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books.append([list(map(float, row)) for row in C])
    return books


def _argmin_code(centroids: list[list[float]], vec_col: str) -> F.Column:
    """0-based argmin-centroid index, ties to the lowest index.
    Distance array via the shared transform-over-2D-literal template
    (r14 — one fold subtree instead of k; element values bit-identical
    to the spelled-out folds, see clustering._dists_sql)."""
    from .clustering import _dists_sql

    dists = F.expr(_dists_sql(f"`{vec_col}`", centroids))
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def _gemm_codes_udf(codebooks: list[list[list[float]]]):
    """Arrow-batched CONFIDENT product codes: per subspace, the argmin
    centroid id when the GEMM distance gap proves the exact-fold argmin
    (see `clustering._gemm_argmin_udf` for the one-sided bound), else
    -1 — that subspace falls back to the exact in-plan expression.
    NULL/ragged rows return all -1 (whole-row exact fallback)."""
    mats = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m = len(mats)
    sub = mats[0].shape[1]
    dim = m * sub
    ccs = [(M * M).sum(axis=1) for M in mats]
    cmaxs = [float(cc.max()) for cc in ccs]
    finite_books = [bool(np.isfinite(M).all()) for M in mats]

    @F.pandas_udf("array<int>")
    def gemm_codes(vs: pd.Series) -> pd.Series:
        fallback = np.full(m, -1, dtype=np.int32)
        vals = vs.to_numpy()
        ok_idx = [i for i, a in enumerate(vals) if a is not None and len(a) >= dim]
        codes = None
        if ok_idx:
            X = np.stack(
                [np.asarray(vals[i][:dim], dtype=np.float64) for i in ok_idx]
            )
            codes = np.full((len(X), m), -1, dtype=np.int32)
            for j in range(m):
                if mats[j].shape[0] < 2 or not finite_books[j]:
                    continue
                S = X[:, j * sub : (j + 1) * sub]
                ss = (S * S).sum(axis=1)
                D = ss[:, None] - 2.0 * (S @ mats[j].T) + ccs[j][None, :]
                two = np.argpartition(D, 1, axis=1)[:, :2]
                dv = np.take_along_axis(D, two, axis=1)
                first = dv[:, 0] <= dv[:, 1]
                d1 = np.where(first, dv[:, 0], dv[:, 1])
                d2 = np.where(first, dv[:, 1], dv[:, 0])
                i1 = np.where(first, two[:, 0], two[:, 1]).astype(np.int32)
                tau = 1e-9 * (ss + cmaxs[j] + 1.0)
                conf = (
                    np.isfinite(S).all(axis=1)
                    & np.isfinite(D).all(axis=1)
                    & (d2 - d1 > 2.0 * tau)
                )
                codes[:, j] = np.where(conf, i1, np.int32(-1))
        res: list = [None] * len(vals)
        pos = 0
        for i in range(len(vals)):
            if codes is not None and pos < len(ok_idx) and ok_idx[pos] == i:
                res[i] = codes[pos]
                pos += 1
            else:
                res[i] = fallback
        return pd.Series(res)

    # §4.4 fence — see clustering._gemm_argmin_udf
    return gemm_codes.asNondeterministic()


def encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out: str = "pq_code",
    use_gemm: "bool | None" = None,
) -> DataFrame:
    """Attach the m-byte product code: array<int> of per-subspace
    centroid ids.  Entirely row-local (scan projection).

    Two parity-pinned paths (r14, guide §4.2 — see
    `clustering.assign_clusters`): the historical expression form runs
    m*k interpreted distance folds per row; above the routing constant
    an Arrow-batched pandas UDF computes the confident per-subspace
    argmins with one numpy GEMM per subspace, and only the rows/
    subspaces the gap test cannot prove (near-ties, non-finite, ragged)
    evaluate the exact fold expressions through a lazily-evaluated CASE
    per subspace.  Codes are bit-identical either way.
    """
    from .clustering import _dists_sql

    m = len(codebooks)
    sub = len(codebooks[0][0])
    if use_gemm is None:
        use_gemm = routing.gemm_for_assignment(df, sum(len(b) * sub for b in codebooks))
    if not use_gemm:
        staged = df
        for j in range(m):
            staged = staged.withColumn(
                f"__sub{j}", F.slice(F.col(vec_col), j * sub + 1, sub)
            )
        coded = staged.withColumn(
            out, F.array(*[_argmin_code(codebooks[j], f"__sub{j}") for j in range(m)])
        )
        return coded.drop(*[f"__sub{j}" for j in range(m)])
    cases = []
    for j in range(m):
        vec_expr = f"slice(`{vec_col}`, {j * sub + 1}, {sub})"
        dists = _dists_sql(vec_expr, codebooks[j])
        exact = f"CAST(array_position({dists}, array_min({dists})) - 1 AS INT)"
        g = f"element_at(_gcodes, {j + 1})"
        cases.append(f"CASE WHEN {g} >= 0 THEN {g} ELSE {exact} END")
    return (
        df.withColumn("_gcodes", _gemm_codes_udf(codebooks)(F.col(vec_col)))
        .withColumn(out, F.expr(f"array({', '.join(cases)})"))
        .drop("_gcodes")
    )


def _adc_table(qvec, books: list[list[list[float]]]) -> list[list[float]]:
    """One query's (m x k) ADC table: table[j][c] = ||q_sub_j - book_j[c]||^2.

    Shared by pq_topk and ivfpq_topk — the full-probe-equals-full-scan
    pytest pin depends on both paths building byte-identical tables.
    """
    sub = len(books[0][0])
    return [
        [
            float(sum((a - b) * (a - b) for a, b in zip(qvec[j * sub : (j + 1) * sub], c)))
            for c in book
        ]
        for j, book in enumerate(books)
    ]


def _adc_sum(m: int) -> F.Column:
    """The ADC distance expression: m table lookups through the code."""
    adc = None
    for j in range(m):
        term = F.element_at(
            F.element_at(F.col("adc_table"), j + 1),
            F.element_at(F.col("pq_code"), j + 1) + 1,
        )
        adc = term if adc is None else adc + term
    return adc


def _topk_by_adc(scored: DataFrame, k: int) -> DataFrame:
    w = W.partitionBy("query_id").orderBy(F.col("adc_dist").asc(), F.col("candidate_id").asc())
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select(
            "query_id", "candidate_id", "adc_dist", F.col("nn_rank").cast("int").alias("nn_rank")
        )
    )


def pq_topk(
    embeddings: DataFrame,
    n_queries: int = 20,
    k: int = 3,
    m: int = 8,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: "list[list[list[float]]] | None" = None,
) -> DataFrame:
    """ADC top-k: queries score every candidate through its product code.

    ONE scan of the coded candidates, broadcast-joined to the tiny
    query-table frame (each query row carries its (m x k) ADC table as
    an array<array<double>>) — the brute-force broadcast join, but
    each (query, candidate) pair costs m integer lookups instead of a
    d-element float fold: the at-scale win is both bandwidth (codes
    are ~d/8 bytes) and compute (m << d).
    """
    # codebooks= lets a caller composing several PQ indexes over the
    # same corpus (ann_recall_report's pq + ivfpq branches) train once
    # (r14, guide §1.2); train_codebooks is deterministic, so the books
    # are identical either way.
    books = codebooks if codebooks is not None else train_codebooks(
        embeddings, m=m, k=n_centroids, id_col=id_col, vec_col=vec_col
    )
    coded = encode(embeddings, books, id_col, vec_col).select(
        F.col(id_col).alias("candidate_id"), F.col("pq_code")
    )

    # per-query ADC tables, built driver-side from the tiny query set
    # (at 100 TB the query set is bounded by construction; the candidate
    # corpus is not)
    qrows = (
        embeddings.filter(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
        .collect()
    )
    qtables = embeddings.sparkSession.createDataFrame(
        [(row["query_id"], _adc_table(row["qvec"], books)) for row in qrows],
        "query_id long, adc_table array<array<double>>",
    )
    scored = (
        coded.join(F.broadcast(qtables), F.col("query_id") != F.col("candidate_id"))
        .withColumn("adc_dist", F.round(_adc_sum(m), 6))
    )
    return _topk_by_adc(scored, k)


def ivfpq_topk(
    embeddings: DataFrame,
    n_queries: int = 20,
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_centroids: int = 16,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
    centers: "np.ndarray | None" = None,
    codebooks: "list[list[list[float]]] | None" = None,
) -> DataFrame:
    """IVF-PQ composite ANN (the Faiss IVFPQ shape): IVF cuts the
    candidate COUNT, PQ cuts the candidate BYTES — together the at-scale
    search cost per query is (n_probe/n_cells of the corpus) x (m code
    lookups), versus the full corpus x d-float folds of the exact path.

    Stages, each reusing the already-proven building block:

    1. coarse quantizer — MLlib KMeans (fixed seed), centroids live on
       the driver (`similarity.ivf_topk` contract);
    2. candidates — ONE scan attaches the cell id (Arrow-batched UDF,
       centroids by value) AND the m-int product code (`encode`'s
       row-local argmin projections) — no shuffle;
    3. queries — probe their n_probe nearest cells and carry their
       (m x k) ADC table; the probe list with tables broadcasts;
    4. scoring — cell-equi broadcast join (never a cross product) + m
       `element_at` lookups per pair, windowed top-k, ties by id.

    With `residual=False` (default) codes quantize RAW vectors
    (IVF-Flat-PQ), and with n_probe = n_cells the result is EXACTLY
    `pq_topk`'s full-scan ADC ranking (pytest pins this) — recall loss
    is attributable to probing alone.  With `residual=True` codes
    quantize (vec - cell centroid) — true Faiss-IVFPQ residual encoding,
    the recall refinement for wide cells: the quantizer spends its k^m
    codewords on the WITHIN-cell geometry instead of re-describing cell
    positions.  The residual is a row-local zip_with against a
    plan-embedded centroid table, and the query-side ADC tables are
    built per PROBED CELL from (qvec - centroid) — the per-(query, cell)
    broadcast rows the raw path already uses, just with cell-dependent
    tables.
    """
    from .similarity import (
        MAX_BROADCAST_QUERIES,
        _cell_probe_udf,
        _guard_query_bound,
        fit_coarse_centers,
    )

    _guard_query_bound(n_queries, MAX_BROADCAST_QUERIES, "ivfpq_topk")

    vecs = embeddings.select(F.col(id_col), F.col(vec_col))
    # centers=/codebooks= share deterministic fits with sibling indexes
    # over the same corpus (r14, guide §1.2 — see fit_coarse_centers)
    if centers is None:
        centers = fit_coarse_centers(embeddings, n_cells, seed, vec_col)
    centers_n = centers / np.maximum(np.linalg.norm(centers, axis=1, keepdims=True), 1e-12)

    with_cell = vecs.withColumn("cell", _cell_probe_udf(centers_n, 1)(F.col(vec_col)).getItem(0))
    if residual:
        # residual = vec - centers[cell], row-local against the centroid
        # table embedded in the plan (n_cells x d doubles — tiny).
        centers_lit = F.array(
            *[F.array(*[F.lit(float(x)) for x in row]) for row in centers]
        )
        with_cell = with_cell.withColumn(
            "_res",
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                F.element_at(centers_lit, F.col("cell") + 1),
                lambda a, b: a - b,
            ),
        )
        # persist: train_codebooks reads this frame twice (dim probe +
        # sample collect) and encode scans it again — without the cache
        # each pass re-runs the pandas-UDF cell assignment over the
        # whole table (3x the operator's most expensive scan).
        with_cell = with_cell.persist()
        books = train_codebooks(with_cell, m=m, k=n_centroids, id_col=id_col, vec_col="_res")
        cands = encode(with_cell, books, id_col, "_res").select(
            F.col(id_col).alias("candidate_id"), F.col("pq_code"), "cell"
        )
    else:
        books = codebooks if codebooks is not None else train_codebooks(
            embeddings, m=m, k=n_centroids, id_col=id_col, vec_col=vec_col
        )
        cands = encode(with_cell, books, id_col, vec_col).select(
            F.col(id_col).alias("candidate_id"), F.col("pq_code"), "cell"
        )

    qrows = (
        vecs.filter(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
        .collect()
    )
    table_rows = []
    for row in qrows:
        qvec = row["qvec"]
        qn = np.asarray(list(map(float, qvec)))
        qn = qn / max(float(np.linalg.norm(qn)), 1e-12)
        probes = np.argsort(-(qn @ centers_n.T))[:n_probe]
        if residual:
            # cell-dependent tables from the query's residual per probe
            for cell in probes:
                q_res = [float(a) - float(b) for a, b in zip(qvec, centers[int(cell)])]
                table_rows.append((row["query_id"], int(cell), _adc_table(q_res, books)))
        else:
            tables = _adc_table(qvec, books)  # shared with pq_topk — see pin
            for cell in probes:
                table_rows.append((row["query_id"], int(cell), tables))
    qtables = embeddings.sparkSession.createDataFrame(
        table_rows, "query_id long, cell int, adc_table array<array<double>>"
    )
    scored = (
        cands.join(F.broadcast(qtables), "cell")
        .filter(F.col("query_id") != F.col("candidate_id"))
        .withColumn("adc_dist", F.round(_adc_sum(m), 6))
    )
    return _topk_by_adc(scored, k)
