"""Embedding similarity/dedup operators: exact near-dup pairs, the
banded-LSH scale path (pairs ⊆ exact, planted dups recovered), and
IVF-Flat ANN (planted dup found through the probe path)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tagmarshal_data_lakehouse_spark import routing
from tagmarshal_data_lakehouse_spark.plans import physical_plan
from tagmarshal_data_lakehouse_spark.training import similarity


@pytest.fixture(scope="module")
def planted(spark):
    """40 deterministic pseudo-random vectors (dim 16) + two planted
    near-identical copies of vectors 0 and 1."""

    def vec(seed, dim=16):
        # LCG — deterministic, no RNG state
        xs, x = [], seed * 2654435761 % 2**32
        for _ in range(dim):
            x = (1103515245 * x + 12345) % 2**31
            xs.append((x / 2**31) - 0.5)
        return xs

    rows = [(i, vec(i)) for i in range(40)]
    # near-copies: tiny perturbation in one coordinate
    for src, new_id in [(0, 100), (1, 101)]:
        v = list(rows[src][1])
        v[0] += 1e-4
        rows.append((new_id, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _pairs(df):
    return {(r["id_a"], r["id_b"]) for r in df.collect()}


def test_exact_near_dups_finds_planted(planted):
    got = _pairs(similarity.cosine_near_duplicates(planted, threshold=0.99))
    assert got == {(0, 100), (1, 101)}


def test_exact_near_dups_cosine_values(planted):
    rows = similarity.cosine_near_duplicates(planted, threshold=0.99).collect()
    for r in rows:
        assert 0.99 <= r["cosine"] <= 1.0


def test_lsh_near_dups_subset_of_exact_and_full_recall_on_dups(planted):
    exact = _pairs(similarity.cosine_near_duplicates(planted, threshold=0.3))
    lsh = _pairs(
        similarity.cosine_near_duplicates_lsh(
            planted, threshold=0.3, n_bands=12, planes_per_band=3
        )
    )
    assert lsh <= exact  # precision 1 (exact re-score)
    # near-identical pairs agree on every sign bit -> caught w.p. ~1
    assert {(0, 100), (1, 101)} <= lsh


def test_lsh_near_dups_respects_max_bucket(spark):
    # 30 identical vectors -> every band bucket has 30 members; a cap of
    # 10 drops them all (degenerate-bucket kill switch)
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = similarity.cosine_near_duplicates_lsh(df, threshold=0.9, max_bucket=10)
    assert got.count() == 0


def test_ivf_topk_finds_planted_dup(planted):
    out = similarity.ivf_topk(planted, n_queries=2, k=3, n_cells=4, n_probe=2)
    rows = out.collect()
    by_query = {}
    for r in rows:
        by_query.setdefault(r["query_id"], []).append(r)
    # top-1 for query 0 must be its planted copy (cosine ~ 1), which
    # lands in the same KMeans cell by construction
    top0 = min(by_query[0], key=lambda r: r["nn_rank"])
    assert top0["candidate_id"] == 100 and top0["cosine"] > 0.999
    top1 = min(by_query[1], key=lambda r: r["nn_rank"])
    assert top1["candidate_id"] == 101 and top1["cosine"] > 0.999
    # shape: ranks are 1..k, no self-pairs, no duplicate candidates
    for q, rs in by_query.items():
        assert sorted(r["nn_rank"] for r in rs) == list(range(1, len(rs) + 1))
        assert all(r["candidate_id"] != q for r in rs)
        assert len({r["candidate_id"] for r in rs}) == len(rs)


def test_ivf_probe_widening_increases_candidates(planted):
    n1 = similarity.ivf_topk(planted, n_queries=5, k=40, n_cells=4, n_probe=1).count()
    n4 = similarity.ivf_topk(planted, n_queries=5, k=40, n_cells=4, n_probe=4).count()
    assert n4 >= n1  # probing more cells can only add candidates


def test_hyperplane_buckets_deterministic_and_bounded(planted):
    a = {r["vec_id"]: r["bucket"] for r in similarity.hyperplane_buckets(planted, n_planes=6).collect()}
    b = {r["vec_id"]: r["bucket"] for r in similarity.hyperplane_buckets(planted, n_planes=6).collect()}
    assert a == b  # plan-derived buckets, no RNG state
    assert all(0 <= v < 64 for v in a.values())
    # near-identical planted copies agree on every sign bit
    assert a[0] == a[100] and a[1] == a[101]


def test_gemm_banding_matches_expression_twin(planted):
    """The production banding (_banded_exploded, one matmul per Arrow
    batch) must assign every (vector, band) the same bucket as the
    expression reference twin (_hyperplane_band_structs) — the plane
    values are fetched from the twin's exact xxhash64 formula, so any
    divergence would be a sign flip at float-summation-order distance
    from zero (or a packing bug)."""
    n_bands, planes = 8, 5
    got = {
        (r["vec_id"], r["band_id"]): r["bucket"]
        for r in similarity._banded_exploded(
            planted, n_bands, planes, "vec_id", "embedding"
        ).collect()
    }
    structs = similarity._hyperplane_band_structs(n_bands, planes, "embedding")
    want = {
        (r["vec_id"], r["band_id"]): r["bucket"]
        for r in planted.select(
            "vec_id", F.explode(F.array(*structs)).alias("band")
        )
        .select("vec_id", "band.band_id", "band.bucket")
        .collect()
    }
    assert got == want
    assert len(got) == planted.count() * n_bands


def test_cosine_topk_lsh_plan_has_no_python_barrier(planted, tmp_path):
    """Every single-band bucket is the `_bucket_col` projection, so the
    LSH top-k plan has no Python barrier on either join side, whether
    Catalyst knows the corpus size (parquet) or not (createDataFrame),
    and both give the same rows."""
    path = str(tmp_path / "planted_parquet")
    planted.write.parquet(path)
    filed = planted.sparkSession.read.parquet(path)
    for corpus in (filed, planted):
        plan = physical_plan(similarity.cosine_topk_lsh(corpus, n_queries=5, k=2))
        assert "MapInPandas" not in plan
    filed_rows = {tuple(r) for r in similarity.cosine_topk_lsh(filed, n_queries=5, k=2).collect()}
    planted_rows = {
        tuple(r) for r in similarity.cosine_topk_lsh(planted, n_queries=5, k=2).collect()
    }
    assert filed_rows == planted_rows


def test_banded_exploded_empty_corpus(planted):
    empty = planted.where(F.lit(False))
    out = similarity._banded_exploded(empty, 4, 3, "vec_id", "embedding")
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "vec_id",
        "embedding",
        "band_id",
        "bucket",
    ]


@pytest.fixture(scope="module")
def degenerate(spark):
    """NULL, empty, short (ragged) and ordinary vectors in one frame —
    the first row is the NULL on purpose (a first()-based dim probe
    would size the plane matrix from it)."""
    rows = [
        (0, None),
        (1, []),
        (2, [0.5, -0.25]),  # shorter than the full dim
        (3, [0.1, -0.2, 0.3, -0.4, 0.5, -0.6, 0.7, -0.8]),
        (4, [-0.3, 0.6, -0.9, 0.2, -0.5, 0.8, -0.1, 0.4]),
        # NaN element: poisons every projection to NaN. Spark's total
        # ordering makes NaN >= 0 TRUE while numpy's IEEE compare is
        # False — the expression twins guard with NOT isnan() so both
        # forms band this row to bucket 0 (round-7 ADVICE).
        (5, [float("nan"), 0.2, -0.3, 0.4, -0.5, 0.6, -0.7, 0.8]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_gemm_banding_degenerate_rows_match_expression_twin(degenerate):
    """NULL and empty vectors band to bucket 0 (NULL fold / the
    sequence(0,-1) descending-step surprise), short vectors project
    over their own length — exactly the expression twin's per-row
    semantics, with no crash and no silently-dropped corpus (the
    regression class: a NULL first row used to empty the whole
    sketch)."""
    n_bands, planes = 3, 4
    got = {
        (r["vec_id"], r["band_id"]): r["bucket"]
        for r in similarity._banded_exploded(
            degenerate, n_bands, planes, "vec_id", "embedding"
        ).collect()
    }
    structs = similarity._hyperplane_band_structs(n_bands, planes, "embedding")
    want = {
        (r["vec_id"], r["band_id"]): r["bucket"]
        for r in degenerate.select(
            "vec_id", F.explode(F.array(*structs)).alias("band")
        )
        .select("vec_id", "band.band_id", "band.bucket")
        .collect()
    }
    assert got == want
    assert len(got) == degenerate.count() * n_bands
    assert all(got[(0, b)] == 0 for b in range(n_bands))  # NULL -> ELSE branch
    assert all(got[(1, b)] == 0 for b in range(n_bands))  # empty -> NULL fold
    assert all(got[(5, b)] == 0 for b in range(n_bands))  # NaN -> isnan guard


def test_bucket_col_degenerate_rows(degenerate):
    """NULL and empty vectors get bucket 0, a NaN projection leaves its
    bit unset, and every bucket fits in n_planes bits."""
    n_planes = 5
    got = {
        r["vec_id"]: r["bucket"]
        for r in degenerate.select(
            "vec_id", similarity._bucket_col("embedding", n_planes).alias("bucket")
        ).collect()
    }
    assert len(got) == degenerate.count()
    assert got[0] == 0  # NULL -> ELSE branch
    assert got[1] == 0  # empty -> NULL fold
    assert got[5] == 0  # NaN in every projection -> isnan guard
    assert all(0 <= b < 2**n_planes for b in got.values())


def test_query_bound_guards(planted):
    """The exact baseline hard-caps its query count; broadcast paths cap
    at the broadcastable bound. Guards fire at plan-build time (no job)."""
    with pytest.raises(ValueError, match="exceeds the"):
        similarity.cosine_topk_exact(planted, n_queries=similarity.MAX_EXACT_QUERIES + 1)
    for fn in (similarity.cosine_topk_lsh, similarity.ivf_topk):
        with pytest.raises(ValueError, match="exceeds the"):
            fn(planted, n_queries=similarity.MAX_BROADCAST_QUERIES + 1)


def test_semantic_dedup_invariants(spark):
    """Identical vectors in one cluster dedup to the lowest id; the kept
    set is an independent set (no two kept vectors in a cluster are
    within threshold); every drop is justified by a smaller-id
    near-neighbor in the same cluster."""
    from tagmarshal_data_lakehouse_spark.training import similarity

    # two tight groups far apart + one isolated vector
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),      # exact dup of 0
        (2, [0.999, 0.01, 0.0]),   # near-dup of 0
        (10, [0.0, 1.0, 0.0]),
        (11, [0.0, 0.999, 0.02]),  # near-dup of 10
        (20, [0.0, 0.0, 1.0]),     # isolated
    ]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: r
        for r in similarity.semantic_dedup(
            embs, n_clusters=3, threshold=0.95, kmeans_iter=5
        ).collect()
    }
    assert set(out) == {0, 1, 2, 10, 11, 20}
    # verdicts partition: keep == not dropped, one row per vector
    assert all(r["keep"] != r["is_dropped"] for r in out.values())
    assert out[20]["keep"]  # isolated vector always survives

    # brute-force cosine for verification
    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    vecs = dict((i, v) for i, v in rows)
    clusters = {i: out[i]["cluster"] for i in out}
    for i, r in out.items():
        same_cluster_smaller = [
            j for j in out if j < i and clusters[j] == clusters[i]
        ]
        justified = any(cos(vecs[i], vecs[j]) >= 0.95 - 1e-9 for j in same_cluster_smaller)
        if r["is_dropped"]:
            assert justified, f"vec {i} dropped without a smaller near-neighbor"
        else:
            assert not justified, f"vec {i} kept despite a smaller near-neighbor"
    # independence: no two kept vectors in one cluster within threshold
    kept = [i for i, r in out.items() if r["keep"]]
    for a in kept:
        for b in kept:
            if a < b and clusters[a] == clusters[b]:
                assert cos(vecs[a], vecs[b]) < 0.95 + 1e-9


@pytest.fixture(scope="module")
def labeled(planted):
    """The planted fixture with labels vec_id % 3 — the near-copies
    (100 of 0, 101 of 1) land on DIFFERENT labels than their sources
    (0%3=0 vs 100%3=1; 1%3=1 vs 101%3=2), so each source's hardest
    negative is its planted near-identical copy."""
    return planted.withColumn("label", (F.col("vec_id") % 3).cast("int"))


def test_hard_negatives_exact_semantics(labeled):
    out = similarity.hard_negatives_exact(labeled, n_queries=5, k=3).collect()
    by_query = {}
    for r in out:
        assert r["query_label"] != r["candidate_label"]
        assert r["query_label"] == r["query_id"] % 3
        assert r["candidate_label"] == r["candidate_id"] % 3
        by_query.setdefault(r["query_id"], []).append(r)
    assert set(by_query) == {0, 1, 2, 3, 4}
    for rows in by_query.values():
        assert sorted(r["neg_rank"] for r in rows) == [1, 2, 3]
    # the planted different-label near-copies are the #1 hard negatives
    top = {q: next(r for r in rows if r["neg_rank"] == 1) for q, rows in by_query.items()}
    assert top[0]["candidate_id"] == 100 and top[0]["cosine"] >= 0.999
    assert top[1]["candidate_id"] == 101 and top[1]["cosine"] >= 0.999


def test_hard_negatives_lsh_subset_of_exact(labeled):
    # rank the FULL different-label candidate set exactly, then check
    # every LSH row is one of those pairs with the identical cosine
    exact = {
        (r["query_id"], r["candidate_id"]): r["cosine"]
        for r in similarity.hard_negatives_exact(labeled, n_queries=5, k=10_000).collect()
    }
    lsh = similarity.hard_negatives_lsh(labeled, n_queries=5, k=3, n_planes=2).collect()
    assert lsh, "2-plane buckets must yield candidates on 42 vectors"
    for r in lsh:
        assert r["query_label"] != r["candidate_label"]
        key = (r["query_id"], r["candidate_id"])
        assert key in exact
        assert abs(exact[key] - r["cosine"]) <= 1e-6  # decimal- vs double-rounded


def test_gemm_topk_bit_identical_to_exact(spark, sf_smoke):
    """The GEMM-pruned exact path must reproduce cosine_topk_exact
    bit-for-bit — same pairs, same rounded cosines, same ranks — which
    is what lets it share the decimal-exact oracle."""
    embs = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    exact = sorted(map(tuple, similarity.cosine_topk_exact(embs, n_queries=10, k=4).collect()))
    gemm = sorted(map(tuple, similarity.cosine_topk_gemm(embs, n_queries=10, k=4).collect()))
    assert exact == gemm


def test_gemm_topk_survives_tiny_batches(spark, sf_smoke):
    """Per-batch pruning must still yield the global top-k when the
    candidate side is split into many small partitions (each batch's
    exact top-k union always contains the global top-k)."""
    embs = spark.read.parquet(f"{sf_smoke}/embeddings.parquet").repartition(16)
    exact = sorted(map(tuple, similarity.cosine_topk_exact(embs, n_queries=5, k=3).collect()))
    gemm = sorted(map(tuple, similarity.cosine_topk_gemm(embs, n_queries=5, k=3).collect()))
    assert exact == gemm


def test_gemm_hard_negatives_bit_identical_to_exact(spark, sf_smoke):
    """GEMM hard negatives with the in-batch label mask must reproduce
    hard_negatives_exact bit-for-bit, including under repartitioning."""
    embs = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    exact = sorted(map(tuple, similarity.hard_negatives_exact(embs, n_queries=8, k=4).collect()))
    gemm = sorted(map(tuple, similarity.hard_negatives_gemm(embs, n_queries=8, k=4).collect()))
    assert exact == gemm
    gemm16 = sorted(
        map(
            tuple,
            similarity.hard_negatives_gemm(embs.repartition(16), n_queries=8, k=4).collect(),
        )
    )
    assert exact == gemm16


def test_gemm_near_dups_pair_identical_to_expression_lsh(spark, sf_smoke):
    """Within-bucket GEMM scoring must produce the same pair set and
    6-decimal cosines as the expression-path LSH variant (identical
    banded candidates, float64 scoring either way)."""
    embs = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    kw = dict(threshold=0.45, n_bands=12, planes_per_band=3)
    expr_pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.cosine_near_duplicates_lsh(embs, **kw).collect()
    }
    gemm_pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.cosine_near_duplicates_lsh_gemm(embs, **kw).collect()
    }
    assert set(expr_pairs) == set(gemm_pairs)
    assert all(abs(expr_pairs[k] - gemm_pairs[k]) <= 1e-6 for k in expr_pairs)


def test_nan_vector_never_pairs_on_either_scorer(spark):
    """A NaN element yields a NaN cosine; Spark's total ordering would
    pass `NaN >= threshold` while numpy's IEEE compare rejects it, so
    the expression scorer guards with ~isnan — both scorers must emit
    the SAME pair set with a NaN vector in the corpus, and that vector
    may never pair (round-7 ADVICE: routing changes the plan, never the
    result, including NaN inputs)."""
    rows = [
        (0, [float("nan"), 0.0, 1.0, 0.0]),
        (1, [1.0, 0.0, 0.001, 0.0]),
        (2, [1.0, 0.001, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kw = dict(threshold=0.9, n_bands=4, planes_per_band=2)
    expr_pairs = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_near_duplicates_lsh(df, **kw).collect()
    }
    gemm_pairs = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_near_duplicates_lsh_gemm(df, **kw).collect()
    }
    assert expr_pairs == gemm_pairs
    assert (1, 2) in expr_pairs  # the clean near-identical pair survives
    assert not any(0 in p for p in expr_pairs)  # NaN vector never pairs


def test_semantic_dedup_nan_vector_kept_on_both_scorers(spark):
    """Same NaN contract for the clustered dedup: a NaN cosine drops no
    vector on either scorer, and the verdicts are scorer-identical."""
    rows = [
        (0, [float("nan"), 0.0, 1.0, 0.0]),
        (1, [1.0, 0.0, 0.001, 0.0]),
        (2, [1.0, 0.001, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kw = dict(n_clusters=2, threshold=0.9, kmeans_iter=3)
    expr_v = {
        r["vec_id"]: (r["is_dropped"], r["keep"])
        for r in similarity.semantic_dedup(df, scorer="expr", **kw).collect()
    }
    gemm_v = {
        r["vec_id"]: (r["is_dropped"], r["keep"])
        for r in similarity.semantic_dedup(df, scorer="gemm", **kw).collect()
    }
    assert expr_v == gemm_v
    assert expr_v[0] == (False, True)  # NaN vector is never dropped


def test_auto_planes_resolution_tracks_corpus_size(spark, sf_smoke):
    """planes_per_band='auto' makes the log(N) bucket-resolution
    guidance mechanical: resolved from Catalyst plan statistics (zero
    jobs), growing with the estimated corpus, falling back to the
    coarsest (highest-recall) resolution when statistics are unknown,
    and producing results identical to passing the resolved int."""
    embs = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")

    # int passes through untouched; bogus strings are rejected
    assert similarity.resolve_planes_per_band(embs, 7) == 7
    with pytest.raises(ValueError):
        similarity.resolve_planes_per_band(embs, "autoo")

    # file-backed: resolution follows the documented formula on
    # Catalyst's own estimate
    import math

    est = routing.estimated_rows(embs)
    assert est is not None and est > 0
    expected = max(3, min(20, math.ceil(math.log2(max(est / 100, 1.0)))))
    res = similarity.resolve_planes_per_band(embs, "auto")
    assert res == expected

    # a 64x-amplified plan resolves to MORE planes (stats propagate
    # through the cross join) — the anti-saturation property
    import pyspark.sql.functions as F

    big = embs.crossJoin(F.broadcast(spark.range(64).toDF("__rep")))
    assert similarity.resolve_planes_per_band(big, "auto") > res

    # unknown statistics (createDataFrame -> LogicalRDD) -> lo, and the
    # fallback must SAY it is guessing (ADVICE r8: the direct scorers
    # have no under-cap alarm, so a silent coarse fallback on a large
    # stats-less frame reproduces the 1024x recall collapse unwarned)
    local = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    with pytest.warns(UserWarning, match="unknown Catalyst statistics"):
        assert similarity.resolve_planes_per_band(local, "auto") == 3

    # 'auto' and the resolved int produce the identical pair set
    kw = dict(threshold=0.45, n_bands=12, max_bucket=200)
    auto_pairs = _pairs(
        similarity.cosine_near_duplicates_lsh(embs, planes_per_band="auto", **kw)
    )
    int_pairs = _pairs(
        similarity.cosine_near_duplicates_lsh(embs, planes_per_band=res, **kw)
    )
    assert auto_pairs == int_pairs


def test_under_cap_alarm_fires_on_truncated_cliques(spark):
    """The 1024x-octave finding (SCALE.md round 8) as engine behavior:
    when genuine duplicate multiplicity exceeds max_bucket, the pair
    scorers silently drop whole cliques — the diagnostics must expose
    the dropped mass and the auto selector must warn, because the
    failure signature (pair count FALLING on a growing corpus) reads
    as a cleaner corpus otherwise."""
    import warnings as _warnings

    # one genuine 60-member clique (near-copies, identical sign
    # pattern in every band) + a few singletons; cap far below the
    # clique size
    rows = [(i, [1.0, 0.5, 0.25, 0.125 + i * 1e-6]) for i in range(60)]
    rows += [(100 + i, [(-1.0) ** i, float(i), -0.5 * i, 1.0]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kw = dict(n_bands=4, planes_per_band=2, max_bucket=20)

    diag = similarity.near_dup_banding_diagnostics(df, **kw)
    assert diag["capped_buckets"] >= 1
    assert diag["dropped_pair_frac"] > 0.5  # the clique dominates the mass
    assert diag["n_ids"] == 64
    # the density float is the same statistic the selector always used
    assert diag["density"] == similarity.near_dup_candidate_density(df, **kw)

    with pytest.warns(UserWarning, match="under-capped"):
        similarity.cosine_near_duplicates_lsh_auto(df, threshold=0.9, **kw)

    # raising the cap above the clique size clears the alarm
    ok = dict(kw, max_bucket=200)
    assert similarity.near_dup_banding_diagnostics(df, **ok)["dropped_pair_frac"] == 0.0
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")
        similarity.cosine_near_duplicates_lsh_auto(df, threshold=0.9, **ok)


def test_auto_scorer_selects_by_density_and_is_pair_identical(spark, sf_smoke):
    """The density-adaptive selector must (a) pick the expression path
    on a sparse corpus and the GEMM path on a duplication-heavy one —
    pinned by the physical plan (the GEMM path is the only one with a
    FlatMapGroupsInPandas / ArrowEvalPython operator — and (b) emit the
    same pair set as both underlying scorers regardless of choice."""
    from tagmarshal_data_lakehouse_spark import plans

    embs = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    kw = dict(threshold=0.45, n_bands=12, planes_per_band=3)

    sparse_density = similarity.near_dup_candidate_density(
        embs, n_bands=12, planes_per_band=3, max_bucket=200
    )
    auto_sparse = similarity.cosine_near_duplicates_lsh_auto(embs, **kw)
    plan_sparse = plans.physical_plan(auto_sparse)
    if sparse_density < 50.0:
        assert "InPandas" not in plan_sparse  # expression path chosen
    expr_pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.cosine_near_duplicates_lsh(embs, **kw).collect()
    }
    auto_pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in auto_sparse.collect()
    }
    assert set(expr_pairs) == set(auto_pairs)
    assert all(abs(expr_pairs[k] - auto_pairs[k]) <= 1e-6 for k in expr_pairs)

    # duplication-heavy corpus: 40 near-copies of each of 6 base vectors
    import random

    rng = random.Random(7)
    rows = []
    for base in range(6):
        v = [rng.uniform(-1, 1) for _ in range(16)]
        for c in range(40):
            w = list(v)
            w[0] += c * 1e-5
            rows.append((base * 1000 + c, w))
    dense = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    dense_kw = dict(threshold=0.9, n_bands=4, planes_per_band=2, max_bucket=500)
    assert (
        similarity.near_dup_candidate_density(
            dense, n_bands=4, planes_per_band=2, max_bucket=500
        )
        >= 50.0
    )
    auto_dense = similarity.cosine_near_duplicates_lsh_auto(dense, **dense_kw)
    assert "InPandas" in plans.physical_plan(auto_dense)  # GEMM path chosen
    gemm_pairs = _pairs(similarity.cosine_near_duplicates_lsh_gemm(dense, **dense_kw))
    assert _pairs(auto_dense) == gemm_pairs


def test_semantic_dedup_gemm_scorer_matches_expr(spark, sf_smoke):
    """The GEMM within-cluster scorer must produce the same verdict
    frame (id, cluster, is_dropped, keep) as the expression path."""
    embs = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    kw = dict(n_clusters=8, threshold=0.98, kmeans_iter=3)
    expr_v = sorted(map(tuple, similarity.semantic_dedup(embs, scorer="expr", **kw).collect()))
    gemm_v = sorted(map(tuple, similarity.semantic_dedup(embs, scorer="gemm", **kw).collect()))
    assert expr_v == gemm_v


def test_semantic_dedup_gemm_row_chunking_is_verdict_neutral(spark, sf_smoke):
    """The r9 OOM fix blocks the within-cluster GEMM by query rows so
    worker peak is O(chunk x cluster), not O(cluster^2). Chunking must
    be invisible in the verdict: with gemm_block_elems=1 every row
    becomes its own block (the most boundary-splits possible), and the
    dropped set must still equal both the single-chunk GEMM and the
    expression path. The fixture is built so near-dup groups straddle
    chunk boundaries: 36 vectors in 12 edge-clear triples (cos ~0.9998
    within a triple, <=0.12 across), one cluster, so every triple's
    later two ids must drop and the drops depend on CROSS-chunk rows.
    (The sf_smoke embeddings have no pair above cos 0.6 at any
    threshold, so this pin needs the synthetic frame — the smoke-corpus
    scorer-identity test above passes on an empty dropped set.)"""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for g in range(12):
        base = np.zeros(16)
        base[g] = 1.0  # orthogonal group directions: cross-group cos ~ 0
        for j in range(3):
            v = base + rng.normal(0, 1e-3, 16)  # cos(v, base) ~ 0.999998
            rows.append((g * 3 + j, [float(x) for x in v / np.linalg.norm(v)]))
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(n_clusters=1, threshold=0.98, kmeans_iter=2)
    chunked = sorted(
        map(
            tuple,
            similarity.semantic_dedup(
                embs, scorer="gemm", gemm_block_elems=1, **kw
            ).collect(),
        )
    )
    one_block = sorted(
        map(tuple, similarity.semantic_dedup(embs, scorer="gemm", **kw).collect())
    )
    expr_v = sorted(
        map(tuple, similarity.semantic_dedup(embs, scorer="expr", **kw).collect())
    )
    assert chunked == one_block == expr_v
    # every triple drops exactly its two later ids — 24 drops, 12 keeps
    assert sum(1 for r in chunked if r[2]) == 24
    dropped_ids = {r[0] for r in chunked if r[2]}
    assert dropped_ids == {g * 3 + j for g in range(12) for j in (1, 2)}


def test_semantic_dedup_multiprobe_catches_boundary_pairs(spark):
    """n_probes=2 (the ANN multi-probe idea): a near-dup pair whose two
    vectors fall in DIFFERENT primary clusters — the recall SemDeDup
    gives up by design — is caught once each vector is also scored in
    its runner-up cluster. Fixture: two tight orthogonal clumps (5 each)
    plus a boundary pair x=[1,.95]/y=[.95,1] normalized (cos ~0.9987,
    primary clusters differ by symmetry). Single-probe must keep BOTH
    boundary vectors (no same-cluster partner); 2-probe must drop
    exactly the higher id of the pair, with every other verdict and the
    primary `cluster` column unchanged."""
    import numpy as np

    rows = []
    rng = np.random.default_rng(3)
    for base_idx, id0 in ((0, 0), (1, 10)):
        base = np.zeros(4)
        base[base_idx] = 1.0
        for j in range(5):
            v = base + rng.normal(0, 5e-3, 4)
            rows.append((id0 + j, [float(t) for t in v / np.linalg.norm(v)]))
    bx = np.array([1.0, 0.95, 0.0, 0.0])
    by = np.array([0.95, 1.0, 0.0, 0.0])
    rows.append((100, [float(t) for t in bx / np.linalg.norm(bx)]))
    rows.append((101, [float(t) for t in by / np.linalg.norm(by)]))
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(n_clusters=2, threshold=0.98, kmeans_iter=5)

    single = {r[0]: r for r in similarity.semantic_dedup(embs, **kw).collect()}
    multi = {
        r[0]: r for r in similarity.semantic_dedup(embs, n_probes=2, **kw).collect()
    }
    # the boundary pair straddles the two clusters (else the fixture
    # proves nothing) and single-probe keeps both
    assert single[100]["cluster"] != single[101]["cluster"]
    assert single[100]["keep"] and single[101]["keep"]
    # 2-probe: the higher id drops, the lower stays kept
    assert multi[101]["is_dropped"] and not multi[100]["is_dropped"]
    # primary cluster column and every non-boundary verdict unchanged
    for vid, row in single.items():
        assert multi[vid]["cluster"] == row["cluster"]
        if vid not in (100, 101):
            assert multi[vid]["is_dropped"] == row["is_dropped"]


def test_semantic_dedup_multiprobe_single_probe_is_identity(spark, sf_smoke):
    """n_probes=1 must be byte-identical to the default path on both
    scorers (the multi-probe plumbing may not perturb the baseline)."""
    embs = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    for scorer in ("expr", "gemm"):
        kw = dict(n_clusters=8, threshold=0.98, kmeans_iter=3, scorer=scorer)
        base = sorted(map(tuple, similarity.semantic_dedup(embs, **kw).collect()))
        probe1 = sorted(
            map(tuple, similarity.semantic_dedup(embs, n_probes=1, **kw).collect())
        )
        assert base == probe1


def test_chunked_gemm_worker_peak_is_block_bounded():
    """The r9 OOM fix, MEASURED: on a 6000-row cluster the full
    `mat @ mat.T` would allocate 6000^2 doubles = 288 MB in one worker;
    the row-chunked scorer with 8 MB blocks must peak far below that
    (numpy allocations route through tracemalloc since 1.22, so the
    peak is the real allocator high-water mark, not an estimate). The
    bound is what makes a skewed kmeans at 100 TB survivable: worker
    peak is a CONSTANT of the block budget, not a function of cluster
    size. Also pins correctness at this scale: three planted near-dup
    pairs (appended copies of rows 0/1/2) and nothing else."""
    import tracemalloc

    import numpy as np

    from tagmarshal_data_lakehouse_spark.training.similarity import (
        _chunked_upper_tri_drops,
    )

    rng = np.random.default_rng(0)
    n, d = 6000, 8
    mat = rng.normal(size=(n, d))
    mat[-3:] = mat[:3]  # planted dups: rows n-3..n-1 copy rows 0..2
    ids = np.arange(n, dtype=np.int64)
    full_bytes = n * n * 8
    tracemalloc.start()
    try:
        dropped = _chunked_upper_tri_drops(ids, mat, 0.9999, block_elems=1 << 20)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert sorted(dropped) == [n - 3, n - 2, n - 1]
    assert peak < full_bytes / 4, (
        f"chunked scorer peaked at {peak / 1e6:.0f} MB — not block-bounded "
        f"(full matrix would be {full_bytes / 1e6:.0f} MB)"
    )


def test_bucket_scorer_normalize_once_peak_and_pairs():
    """The r10 rewrite of the banded bucket scorer: normalize-once
    (killing the np.outer quotient's two extra n x n temporaries),
    in-place round, and survivor-only index extraction (killing
    triu_indices' ~2 full-matrix index/fancy-scratch cost). On a
    2000-row bucket the sims matrix is 2000^2 doubles = 32 MB; the
    peak must stay under 1.5 full matrices (GEMM output + bool masks
    at n^2/8 each + survivor scratch), where the old spelling peaked
    at ~3.0. Correctness pinned alongside: two planted dup pairs
    (rows 0/1 copied to the end) and nothing else at 0.9999."""
    import tracemalloc

    import numpy as np

    from tagmarshal_data_lakehouse_spark.training.similarity import (
        _bucket_cosine_pairs,
    )

    rng = np.random.default_rng(7)
    n, d = 2000, 8
    mat = rng.normal(size=(n, d))
    mat[-2:] = mat[:2]
    ids = np.arange(n, dtype=np.int64)
    full_bytes = n * n * 8
    tracemalloc.start()
    try:
        id_a, id_b, cos = _bucket_cosine_pairs(ids, mat, 0.9999)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert sorted(zip(id_a, id_b)) == [(0, n - 2), (1, n - 1)]
    assert (cos >= 0.9999).all()
    # The GEMM output (1.0 full matrix) is irreducible for an exact
    # all-pairs score; the two bool masks add 0.125 each and survivor
    # extraction is O(survivors). The bound fails on both old
    # spellings: the np.outer quotient (~3.0) AND full triu_indices
    # extraction (~3.0 — two n(n-1)/2 int64 vectors + fancy scratch).
    assert peak < full_bytes * 1.5, (
        f"bucket scorer peaked at {peak / 1e6:.0f} MB "
        f"({peak / full_bytes:.2f} full matrices) — the survivor-only "
        "extraction rewrite regressed"
    )


def test_semantic_dedup_auto_scorer_routes_by_cluster_density(spark, sf_smoke):
    """scorer='auto' (the default) picks mechanically from the
    cluster-size pair mass — the same statistic and cutover as
    cosine_near_duplicates_lsh_auto, with the cluster id as the
    single-band bucket. Sparse clusters → expression (no Python
    barrier); a duplication-heavy cluster histogram → GEMM. Verdicts
    are identical either way (the scorer-identity test above), so only
    the PLAN may change."""
    from tagmarshal_data_lakehouse_spark import plans

    # sparse: 6 vectors in 3 clusters — pairs/vector << 50 → expression
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),
        (10, [0.0, 1.0, 0.0]),
        (11, [0.0, 0.999, 0.02]),
        (20, [0.0, 0.0, 1.0]),
    ]
    small = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    auto_sparse = similarity.semantic_dedup(small, n_clusters=3, threshold=0.95, kmeans_iter=3)
    assert "InPandas" not in plans.physical_plan(auto_sparse)
    expr_v = similarity.semantic_dedup(
        small, n_clusters=3, threshold=0.95, kmeans_iter=3, scorer="expr"
    )
    assert sorted(map(tuple, auto_sparse.collect())) == sorted(map(tuple, expr_v.collect()))

    # dense: one cluster holding all N vectors — pairs/vector is
    # (N-1)/2 >= 50 for the 200-vector smoke corpus → GEMM
    embs = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    kw = dict(n_clusters=1, threshold=0.98, kmeans_iter=2)
    auto_dense = similarity.semantic_dedup(embs, **kw)
    assert "InPandas" in plans.physical_plan(auto_dense)
    gemm_v = similarity.semantic_dedup(embs, scorer="gemm", **kw)
    assert sorted(map(tuple, auto_dense.collect())) == sorted(map(tuple, gemm_v.collect()))


def test_gemm_prune_keeps_low_id_boundary_ties(spark):
    """ADVICE r5 medium: with >=(k+margin) identical-score candidates in
    ONE Arrow batch, the prune must keep the same boundary ties the
    exact window keeps (rounded-cosine desc, candidate id asc) — a
    score-only argpartition orders ties arbitrarily and can drop the
    low-id winner, silently diverging from the shared exact oracle."""

    def vec(seed, dim=16):
        xs, x = [], seed * 2654435761 % 2**32
        for _ in range(dim):
            x = (1103515245 * x + 12345) % 2**31
            xs.append((x / 2**31) - 0.5)
        return xs

    base = vec(7)
    rows = [(0, base, 0)]
    # 20 exact copies of the query (cosine ties at 1.0), ids DESCENDING
    # in frame order so a prune that follows array position instead of
    # candidate id keeps the WRONG ties (k=3 + default margin=8 < 20).
    for i in range(29, 9, -1):
        rows.append((i, base, 1))
    for i in range(200, 210):  # sub-boundary distractors
        rows.append((i, vec(i), 1))
    embs = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label long"
    ).coalesce(1)

    exact = sorted(map(tuple, similarity.cosine_topk_exact(embs, n_queries=1, k=3).collect()))
    gemm = sorted(map(tuple, similarity.cosine_topk_gemm(embs, n_queries=1, k=3).collect()))
    assert exact == gemm
    # and the survivors are specifically the three LOWEST tied ids
    assert sorted(r[1] for r in gemm) == [10, 11, 12]

    h_exact = sorted(map(tuple, similarity.hard_negatives_exact(embs, n_queries=1, k=3).collect()))
    h_gemm = sorted(map(tuple, similarity.hard_negatives_gemm(embs, n_queries=1, k=3).collect()))
    assert h_exact == h_gemm
    assert sorted(r[2] for r in h_gemm) == [10, 11, 12]


def test_ann_recall_report_pins(spark, sf_smoke):
    """The eval report's internal consistency: the exact-GEMM row is the
    self-check (recall 1.0), IVF at FULL probe re-scores exact cosine
    over every cell so its recall is 1.0, IVF-PQ at full probe degrades
    exactly to the PQ row (same ADC ranking over all candidates), and
    every row is a valid fraction with the same denominator."""
    embs = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    rep = {
        r["method"]: r
        for r in similarity.ann_recall_report(
            embs, n_queries=10, k=3, n_cells=4, n_probe=4
        ).collect()
    }
    assert set(rep) == {"gemm", "lsh", "ivf", "pq", "ivfpq"}
    n_exact = rep["gemm"]["n_exact"]
    assert n_exact == 10 * 3
    # Exact-1.0 pins assume the sf_smoke embeddings have no cosine TIES
    # straddling the k=3 boundary for these 10 query docs (true of the
    # committed fixture; float64 cosines over random-ish vectors make
    # exact ties measure-zero). A regenerated fixture with a boundary
    # tie would make "recall" depend on which tied neighbor each method
    # returns — if that ever fires, loosen these to a tie-aware bound
    # rather than chasing the ordering.
    assert rep["gemm"]["recall_at_k"] == 1.0
    assert rep["ivf"]["recall_at_k"] == 1.0  # n_probe == n_cells
    assert rep["ivfpq"]["n_hits"] == rep["pq"]["n_hits"]  # full probe == PQ
    for r in rep.values():
        assert 0 <= r["n_hits"] <= n_exact
        assert r["recall_at_k"] == round(r["n_hits"] / n_exact, 6)
