"""Product quantization: determinism, code shape, ADC sanity, recall on
clustered data."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tagmarshal_data_lakehouse_spark.plans import physical_plan
from tagmarshal_data_lakehouse_spark.training import pq, similarity


@pytest.fixture(scope="module")
def embs(spark, sf_smoke):
    return spark.read.parquet(f"{sf_smoke}/embeddings.parquet").cache()


def test_codebooks_shape_and_determinism(embs):
    a = pq.train_codebooks(embs, m=8, k=16, iters=2)
    b = pq.train_codebooks(embs, m=8, k=16, iters=2)
    assert a == b  # hash-seeded init, fixed iteration path
    assert len(a) == 8 and all(len(book) == 16 for book in a)
    assert all(len(c) == 8 for book in a for c in book)  # 64 / 8


def test_encode_is_row_local_int_codes(embs):
    books = pq.train_codebooks(embs, m=8, k=16, iters=2)
    coded = pq.encode(embs, books)
    rows = coded.select("vec_id", "pq_code").collect()
    assert len(rows) == embs.count()
    for r in rows:
        assert len(r["pq_code"]) == 8
        assert all(0 <= c < 16 for c in r["pq_code"])


def test_pq_topk_deterministic_and_shaped(embs):
    a = pq.pq_topk(embs, n_queries=5, k=3, m=8, n_centroids=8)
    b = pq.pq_topk(embs, n_queries=5, k=3, m=8, n_centroids=8)
    ra, rb = a.collect(), b.collect()
    assert sorted(map(tuple, ra)) == sorted(map(tuple, rb))
    assert len(ra) == 5 * 3
    for r in ra:
        assert r["adc_dist"] >= 0 and 1 <= r["nn_rank"] <= 3
        assert r["query_id"] != r["candidate_id"]


def test_pq_recall_on_clustered_data(spark):
    # 4 well-separated anchors in 16-dim; every member's true nearest
    # neighbours are its own group -> PQ ADC must recover them
    def jitter(seed):
        x = (1103515245 * seed + 12345) % 2**31
        return (x / 2**31 - 0.5) * 0.2

    anchors = [
        [10.0 if i == j else 0.0 for i in range(16)] for j in range(4)
    ]
    rows = []
    for i in range(80):
        a = anchors[i % 4]
        rows.append((i, [v + jitter(i * 17 + d) for d, v in enumerate(a)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = pq.pq_topk(df, n_queries=8, k=3, m=4, n_centroids=8).collect()
    hits = sum(1 for r in got if r["candidate_id"] % 4 == r["query_id"] % 4)
    assert hits / len(got) >= 0.9  # near-perfect on separated clusters


def test_pq_agrees_with_exact_on_clustered_data(spark):
    # same planted structure: ADC top-1 must match exact cosine top-1's
    # group on clustered data
    def jitter(seed):
        x = (1103515245 * seed + 12345) % 2**31
        return (x / 2**31 - 0.5) * 0.1

    anchors = [[8.0, 0.0, 0.0, 0.0], [0.0, 8.0, 0.0, 0.0], [0.0, 0.0, 8.0, 0.0]]
    rows = []
    for i in range(60):
        a = anchors[i % 3]
        rows.append((i, [v + jitter(i * 13 + d) for d, v in enumerate(a)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    adc = pq.pq_topk(df, n_queries=6, k=1, m=2, n_centroids=8).collect()
    exact = similarity.cosine_topk_exact(df, n_queries=6, k=1).collect()
    adc_group = {r["query_id"]: r["candidate_id"] % 3 for r in adc}
    exact_group = {r["query_id"]: r["candidate_id"] % 3 for r in exact}
    assert adc_group == exact_group


def test_ivfpq_full_probe_equals_full_scan_adc(embs):
    """With n_probe = n_cells the probe stage covers every cell, so the
    IVFPQ result must EQUAL pq_topk's full-scan ADC ranking (same
    codebooks, same tables, same tie-break) — recall loss is then
    attributable to probing alone."""
    full = {
        (r["query_id"], r["nn_rank"]): r["candidate_id"]
        for r in pq.pq_topk(embs, n_queries=8, k=3).collect()
    }
    ivf_full = {
        (r["query_id"], r["nn_rank"]): r["candidate_id"]
        for r in pq.ivfpq_topk(embs, n_queries=8, k=3, n_cells=8, n_probe=8).collect()
    }
    assert full == ivf_full


def test_ivfpq_probing_recall_and_plan(embs):
    """Probing fewer cells keeps useful recall against the full-scan ADC
    ranking, and the plan stays broadcast-joined on the cell key — no
    cross product, no nested loop (the full-scan pq_topk IS a broadcast
    nested loop by design; the IVF composition must not be)."""
    full = pq.pq_topk(embs, n_queries=8, k=3)
    approx = pq.ivfpq_topk(embs, n_queries=8, k=3, n_cells=8, n_probe=3)
    full_set = {(r["query_id"], r["candidate_id"]) for r in full.collect()}
    approx_set = {(r["query_id"], r["candidate_id"]) for r in approx.collect()}
    assert len(approx_set & full_set) >= int(0.4 * len(full_set))

    plan = physical_plan(approx)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_ivfpq_residual_mode_recall_and_determinism(spark):
    """Residual encoding (true Faiss IVFPQ): on clustered data the
    codewords describe within-cell geometry, so group recall must be
    near-perfect; the run is deterministic; and the plan keeps the
    cell-equi broadcast join (no cross product)."""
    def jitter(seed):
        x = (1103515245 * seed + 12345) % 2**31
        return (x / 2**31 - 0.5) * 0.2

    anchors = [
        [10.0 if i == j else 0.0 for i in range(16)] for j in range(4)
    ]
    rows = []
    for i in range(80):
        a = anchors[i % 4]
        rows.append((i, [v + jitter(i * 17 + d) for d, v in enumerate(a)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    out = pq.ivfpq_topk(
        df, n_queries=8, k=3, n_cells=4, n_probe=2, m=4, n_centroids=8, residual=True
    )
    got = out.collect()
    hits = sum(1 for r in got if r["candidate_id"] % 4 == r["query_id"] % 4)
    assert hits / len(got) >= 0.9

    again = pq.ivfpq_topk(
        df, n_queries=8, k=3, n_cells=4, n_probe=2, m=4, n_centroids=8, residual=True
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))

    plan = physical_plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_encode_gemm_twin_parity(spark, sf_smoke):
    """r14: the Arrow/GEMM product-code twin must emit bit-identical
    codes to the expression path, including NULL/ragged/NaN rows (the
    per-subspace confident-gap routing falls back to the exact fold
    expressions)."""
    embs = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    books = pq.train_codebooks(embs, m=8, k=16, iters=2)
    a = pq.encode(embs, books, use_gemm=False).select("vec_id", "pq_code").collect()
    b = pq.encode(embs, books, use_gemm=True).select("vec_id", "pq_code").collect()
    assert {r["vec_id"]: r["pq_code"] for r in a} == {r["vec_id"]: r["pq_code"] for r in b}
    rows = [
        (1, [0.0] * 64),
        (2, None),
        (3, [1.0] * 7),
        (4, [float("nan")] * 64),
        (5, [0.5] * 70),
    ]
    edf = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ea = pq.encode(edf, books, use_gemm=False).select("vec_id", "pq_code").collect()
    eb = pq.encode(edf, books, use_gemm=True).select("vec_id", "pq_code").collect()
    assert {r["vec_id"]: r["pq_code"] for r in ea} == {r["vec_id"]: r["pq_code"] for r in eb}
    # Re-encoding a frame that already carries the output column must
    # replace it on both paths, not append a duplicate on one of them.
    coded = pq.encode(embs, books, use_gemm=False)
    ra = pq.encode(coded, books, use_gemm=False)
    rb = pq.encode(coded, books, use_gemm=True)
    assert ra.columns == rb.columns == coded.columns
    assert sorted(map(tuple, ra.select("vec_id", "pq_code").collect())) == sorted(
        map(tuple, rb.select("vec_id", "pq_code").collect())
    )
