"""Skew-operator semantics: salted join and two-phase distinct must be
row-identical to their naive forms on a deliberately skewed input."""

from __future__ import annotations

from pyspark.sql import functions as F

from tagmarshal_data_lakehouse_spark.operators import salted_join, two_phase_distinct
from tagmarshal_data_lakehouse_spark.plans import physical_plan


def _skewed(spark):
    # 90% of fact rows share key 1; dim has 4 keys
    fact = spark.range(1000).select(
        F.col("id").alias("row_id"),
        F.when(F.col("id") % 10 < 9, F.lit(1)).otherwise(F.col("id") % 4).alias("k"),
        (F.col("id") % 7).alias("v"),
    )
    dim = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c"), (3, "d")], "k long, name string")
    return fact, dim


def test_salted_join_matches_plain_join(spark):
    fact, dim = _skewed(spark)
    plain = fact.join(dim, "k").select("row_id", "k", "v", "name")
    salted = salted_join(fact, dim, on="k", salt_col="row_id", salt_factor=8).select(
        "row_id", "k", "v", "name"
    )
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_salted_join_left_keeps_unmatched(spark):
    fact, dim = _skewed(spark)
    dim_partial = dim.filter("k <> 1")  # drop the hot key from the dim
    plain = fact.join(dim_partial, "k", "left").select("row_id", "name")
    salted = salted_join(fact, dim_partial, on="k", salt_col="row_id", salt_factor=4, how="left").select(
        "row_id", "name"
    )
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_two_phase_distinct_matches_count_distinct(spark):
    fact, _ = _skewed(spark)
    naive = {
        r["k"]: r["n"]
        for r in fact.groupBy("k").agg(F.countDistinct("v").alias("n")).collect()
    }
    two = {
        r["k"]: r["n_distinct"]
        for r in two_phase_distinct(fact, ["k"], "v").collect()
    }
    assert naive == two


def test_bloom_semi_join_superset_and_shuffle_free(spark):
    """Semi form keeps every true match (no false negatives) with few
    false positives; anti form drops every true match. The big side's
    plan must contain no join and no exchange — the whole point."""
    from tagmarshal_data_lakehouse_spark.operators import bloom_semi_join

    big = spark.range(5000).select(F.col("id").alias("k"), (F.col("id") % 97).alias("v"))
    keys = spark.createDataFrame([(i * 13,) for i in range(50)], "k long")
    true_keys = {i * 13 for i in range(50) if i * 13 < 5000}

    semi = bloom_semi_join(big, keys, on="k")
    got = {r["k"] for r in semi.collect()}
    assert true_keys <= got                      # zero false negatives
    assert len(got - true_keys) <= 50            # FPR tiny at 2^20 bits

    anti = bloom_semi_join(big, keys, on="k", anti=True)
    anti_got = {r["k"] for r in anti.collect()}
    assert not (true_keys & anti_got)            # every true match dropped
    assert len(anti_got) >= 5000 - len(true_keys) - 50

    plan = physical_plan(semi)
    assert "Join" not in plan and "Exchange" not in plan


def test_interval_overlap_join_matches_naive_nonequi(spark):
    """Chunked interval join must equal the naive inequality join —
    including pairs spanning several chunks (emitted once, no dedup
    pass), touching-endpoint pairs (half-open: NOT a match), and empty
    intervals (dropped)."""
    from tagmarshal_data_lakehouse_spark.operators import interval_overlap_join

    def ntz(minutes_col):
        return F.expr(
            f"TIMESTAMPADD(MINUTE, CAST({minutes_col} AS INT), "
            "TIMESTAMP_NTZ '2024-01-01 00:00:00')"
        )

    # left: ids with [s, e) minute intervals; chunk below is 60 min, so
    # (3) spans 4 chunks and (5) is empty
    left_rows = [(1, 0, 30), (2, 50, 70), (3, 10, 250), (4, 119, 120), (5, 40, 40)]
    right_rows = [(10, 20, 40), (11, 60, 61), (12, 120, 180), (13, 240, 300), (14, 30, 30)]
    left = spark.createDataFrame(left_rows, "l_id long, ls long, le long").select(
        "l_id", ntz("ls").alias("l_start"), ntz("le").alias("l_end")
    )
    right = spark.createDataFrame(right_rows, "r_id long, rs long, re long").select(
        "r_id", ntz("rs").alias("r_start"), ntz("re").alias("r_end")
    )

    got = sorted(
        (r["l_id"], r["r_id"])
        for r in interval_overlap_join(
            left, right, "l_start", "l_end", "r_start", "r_end",
            chunk_micros=60 * 60_000_000,
        ).collect()
    )
    naive = sorted(
        (r["l_id"], r["r_id"])
        for r in left.crossJoin(right)
        .filter((F.col("l_start") < F.col("r_end")) & (F.col("r_start") < F.col("l_end")))
        .filter((F.col("l_end") > F.col("l_start")) & (F.col("r_end") > F.col("r_start")))
        .collect()
    )
    assert got == naive
    # multi-chunk pair (3, 12) appears exactly once, touching pair
    # (1, 14) and (4, 12) [120 boundary] are absent, empty 5/14 absent
    assert (3, 12) in got and got.count((3, 12)) == 1
    assert (1, 14) not in got
    assert all(l != 5 and r != 14 for l, r in got)

    # chunk_micros=None derives the width from the data and, because a
    # matching pair is emitted exactly once from its overlap-start chunk
    # under ANY chunking, yields the identical pair set
    auto = sorted(
        (r["l_id"], r["r_id"])
        for r in interval_overlap_join(
            left, right, "l_start", "l_end", "r_start", "r_end", chunk_micros=None
        ).collect()
    )
    assert auto == naive
    # data-derived chunks are the DEFAULT since round 8 (explicit widths
    # remain the escape hatch that skips the one derivation job)
    default = sorted(
        (r["l_id"], r["r_id"])
        for r in interval_overlap_join(
            left, right, "l_start", "l_end", "r_start", "r_end"
        ).collect()
    )
    assert default == naive


def test_derive_chunk_micros_takes_the_larger_median(spark):
    """The derived chunk is the larger side's MEDIAN interval length
    (explosion factor of the typical-longer side bounded at ~2 rows per
    interval), with empty intervals excluded and a 1-minute floor for
    degenerate data."""
    from tagmarshal_data_lakehouse_spark.operators import derive_chunk_micros

    def ntz(minutes_col):
        return F.expr(
            f"TIMESTAMPADD(MINUTE, CAST({minutes_col} AS INT), "
            "TIMESTAMP_NTZ '2024-01-01 00:00:00')"
        )

    def frame(rows, prefix):
        return spark.createDataFrame(rows, "id long, s long, e long").select(
            "id", ntz("s").alias(f"{prefix}_start"), ntz("e").alias(f"{prefix}_end")
        )

    # left: 30-minute sessions (one empty row must not skew the median);
    # right: 120-minute islands
    left = frame([(i, i * 100, i * 100 + 30) for i in range(5)] + [(99, 7, 7)], "l")
    right = frame([(i, i * 500, i * 500 + 120) for i in range(5)], "r")
    got = derive_chunk_micros(left, right, "l_start", "l_end", "r_start", "r_end")
    assert got == 120 * 60_000_000

    # medians below the floor clamp to it (degenerate-data guard)
    tiny_l = frame([(1, 0, 1)], "l")
    tiny_r = frame([(1, 0, 1)], "r")
    assert (
        derive_chunk_micros(
            tiny_l, tiny_r, "l_start", "l_end", "r_start", "r_end",
            floor_micros=300_000_000,
        )
        == 300_000_000
    )
