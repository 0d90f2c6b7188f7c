"""Lakehouse.compact: small-file compaction and sort-order clustering."""

from __future__ import annotations

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tagmarshal_data_lakehouse_spark.storage import Lakehouse


def _fragmented_lake(spark, tmp_path, n_rows=10_000, n_files=32):
    lake = Lakehouse(spark, str(tmp_path / "warehouse"))
    df = spark.range(n_rows).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("grp"),
        (F.col("id") * 3.5).alias("v"),
    )
    lake.overwrite("bench.frag", df.repartition(n_files))
    return lake


def test_compact_reduces_file_count_preserves_data(spark, tmp_path):
    lake = _fragmented_lake(spark, tmp_path)
    before_files = lake.table_data_files("bench.frag")
    before = lake.read("bench.frag").orderBy("k").collect()
    assert len(before_files) >= 32

    n_after = lake.compact("bench.frag")
    assert n_after < len(before_files)
    after = lake.read("bench.frag").orderBy("k").collect()
    assert after == before


def test_compact_sort_clustering_gives_disjoint_file_ranges(spark, tmp_path):
    lake = _fragmented_lake(spark, tmp_path)
    lake.compact("bench.frag", sort_cols=["k"], target_file_bytes=16 * 1024)
    files = lake.table_data_files("bench.frag")
    assert len(files) > 1  # tiny target forces a multi-file layout

    # each file must cover a disjoint k-range -> parquet min/max stats
    # prune whole files for range predicates
    ranges = []
    for f in files:
        t = pq.read_table(f, columns=["k"])
        ks = t.column("k").to_pylist()
        ranges.append((min(ks), max(ks)))
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo

    # data intact after the clustered rewrite
    total = lake.read("bench.frag").count()
    assert total == 10_000


def test_compact_preserves_schema_metadata(spark, tmp_path):
    lake = _fragmented_lake(spark, tmp_path)
    schema_before = lake.read("bench.frag").schema
    lake.compact("bench.frag")
    assert lake.read("bench.frag").schema == schema_before


def test_compact_zorder_clusters_both_dimensions(spark, tmp_path):
    # 64x64 grid of (x, y): a Z-ordered layout must keep per-file
    # coverage narrow on BOTH dimensions, where a linear sort on x
    # leaves y-coverage at ~full width per file
    lake = Lakehouse(spark, str(tmp_path / "warehouse"))
    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("bigint").alias("y"),
        F.col("id").alias("payload"),
    )
    lake.overwrite("bench.grid", grid.repartition(16))

    def coverage(files, col):
        # mean fraction of the [0,63] domain each file's min/max spans
        fracs = []
        for f in files:
            vals = pq.read_table(f, columns=[col]).column(col).to_pylist()
            fracs.append((max(vals) - min(vals)) / 63)
        return sum(fracs) / len(fracs)

    lake.compact("bench.grid", sort_cols=["x"], target_file_bytes=4 * 1024)
    files = lake.table_data_files("bench.grid")
    assert len(files) >= 4
    linear_y = coverage(files, "y")
    assert linear_y > 0.9  # linear sort: y unclustered

    lake.compact("bench.grid", zorder_by=["x", "y"], target_file_bytes=4 * 1024)
    files = lake.table_data_files("bench.grid")
    assert len(files) >= 4
    z_x, z_y = coverage(files, "x"), coverage(files, "y")
    # the Z-curve bounds BOTH dims well below full width
    assert z_x < 0.7 and z_y < 0.7, (z_x, z_y)

    # rewrite is lossless
    assert lake.read("bench.grid").count() == 64 * 64
    assert lake.read("bench.grid").agg(F.sum("payload")).first()[0] == sum(range(64 * 64))


def test_compact_rejects_conflicting_layouts(spark, tmp_path):
    lake = _fragmented_lake(spark, tmp_path, n_rows=100, n_files=2)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        lake.compact("bench.frag", sort_cols=["k"], zorder_by=["k", "grp"])


def test_vacuum_reclaims_swap_leftovers_and_old_quarantine(spark, tmp_path):
    import os

    lake = _fragmented_lake(spark, tmp_path, n_rows=100, n_files=2)
    # simulate a crash between swap renames + accumulated quarantine runs
    os.makedirs(os.path.join(lake.root, "bench", "frag__tmp"))
    os.makedirs(os.path.join(lake.root, "bench", "frag__old"))
    for i in range(5):
        os.makedirs(os.path.join(lake.root, "quarantine", f"run_{i:03d}"))

    removed = lake.vacuum(quarantine_keep=2)
    assert len(removed) == 2 + 3  # both leftovers + 3 oldest runs
    assert sorted(os.listdir(os.path.join(lake.root, "quarantine"))) == [
        "run_003",
        "run_004",
    ]
    # the live table is untouched
    assert lake.read("bench.frag").count() == 100


def test_compact_preserves_hive_partition_layout(spark, tmp_path):
    import os

    lake = Lakehouse(spark, str(tmp_path / "warehouse"))
    df = spark.range(2_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("course_id"),
        (F.col("id") * 2.0).alias("v"),
    )
    # partitioned writes cluster to one file per leaf since r11, so a
    # FRAGMENTED partitioned table (compact's raison d'etre) is built
    # from repeated appends: one file per leaf per write
    for part in range(4):
        lake.write_partitioned(
            "silver.part_tbl", df.filter(F.col("k") % 4 == part), ["course_id"], mode="append"
        )
    n_before = len(lake.table_data_files("silver.part_tbl"))
    assert n_before > 3  # genuinely fragmented (multi-file leaves)
    before = sorted(map(tuple, lake.read("silver.part_tbl").collect()))

    # no partition_by passed: compact must detect and keep the layout
    lake.compact("silver.part_tbl")
    root = lake.path("silver.part_tbl")
    subdirs = sorted(d for d in os.listdir(root) if d.startswith("course_id="))
    assert subdirs == ["course_id=0", "course_id=1", "course_id=2"]
    assert len(lake.table_data_files("silver.part_tbl")) < n_before
    assert sorted(map(tuple, lake.read("silver.part_tbl").collect())) == before


def _leaf_file_counts(lake, table):
    """{leaf partition dir: parquet file count} for a partitioned table."""
    import os

    root = lake.path(table)
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        n = sum(f.endswith(".parquet") for f in files)
        if n:
            out[os.path.relpath(dirpath, root)] = n
    return out


def test_partitioned_write_is_clustered_one_file_per_leaf(spark, tmp_path):
    """The silver/gold 256x probe measured the un-clustered layout at
    63,488 x ~20 KB files (shuffle_width files per leaf dir) with a
    ~20 s/model downstream file-open tax; write_partitioned and
    replace_partitions must therefore cluster on the partition keys —
    default exactly ONE file per leaf partition regardless of the
    upstream partitioning."""
    lake = Lakehouse(spark, str(tmp_path / "wh"))
    df = spark.range(4_000).select(
        (F.col("id") % 8).alias("p"),
        (F.col("id") % 3).alias("q"),
        F.col("id").alias("v"),
    )
    # worst-case upstream: every task holds rows for every partition
    lake.write_partitioned("t.clustered", df.repartition(16), ["p", "q"])
    counts = _leaf_file_counts(lake, "t.clustered")
    assert len(counts) == 24  # 8 p-values x 3 q-values
    assert set(counts.values()) == {1}, counts
    # dynamic rewrite keeps the clustering
    lake.replace_partitions(
        "t.clustered", df.filter(F.col("p") == 3).repartition(16), ["p", "q"]
    )
    counts = _leaf_file_counts(lake, "t.clustered")
    assert set(counts.values()) == {1}, counts
    # row fidelity through the clustering shuffle
    assert lake.read("t.clustered").count() == 4_000


def test_partitioned_overwrite_is_clustered_too(spark, tmp_path):
    """The full gold build and merge_upsert's shadow write land through
    Lakehouse.overwrite(partition_by=...) — it must apply the same key
    clustering as write_partitioned, or those paths keep paying the
    measured small-files tax the r11 fix removed elsewhere."""
    lake = Lakehouse(spark, str(tmp_path / "wh3"))
    df = spark.range(4_000).select(
        (F.col("id") % 6).alias("p"), F.col("id").alias("v")
    )
    lake.overwrite("t.ow", df.repartition(16), partition_by=["p"])
    counts = _leaf_file_counts(lake, "t.ow")
    assert len(counts) == 6
    assert set(counts.values()) == {1}, counts
    # un-partitioned overwrite keeps the caller's layout (the compact
    # fixtures rely on being able to create fragmented tables)
    lake.overwrite("t.flat", df.repartition(16))
    import os as _os

    n_flat = sum(
        f.endswith(".parquet") for f in _os.listdir(lake.path("t.flat"))
    )
    assert n_flat == 16


def test_overwrite_is_drop_and_recreate_even_under_dynamic_session(spark, tmp_path):
    """Lakehouse.overwrite promises drop-and-recreate (S15), but the
    package session defaults spark.sql.sources.partitionOverwriteMode
    to dynamic — under which a partitioned .mode('overwrite') keeps
    partitions absent from the frame (replace semantics). The per-write
    static override must make partitions DISAPPEAR when the new frame
    lacks them (round-12 review finding)."""
    lake = Lakehouse(spark, str(tmp_path / "whd"))
    df2 = spark.createDataFrame([("a", 1), ("b", 2)], "p string, v int")
    lake.overwrite("t.ow", df2, partition_by=["p"])
    assert lake.read("t.ow").count() == 2
    only_b = df2.filter(F.col("p") == "b")
    lake.overwrite("t.ow", only_b, partition_by=["p"])
    rows = lake.read("t.ow").collect()
    assert [(r["p"], r["v"]) for r in rows] == [("b", 2)]


def test_drop_partitions_escapes_values_like_spark_writes_them(spark, tmp_path):
    """Spark URL-escapes '/', ':', '%', etc. in partition directory
    names (ExternalCatalogUtils.escapePathName); drop_partitions must
    probe the ESCAPED directory, or a course_id like 'a/b' — written to
    course_id=a%2Fb — silently survives the drop the caller believes
    happened (ADVICE r12)."""
    lake = Lakehouse(spark, str(tmp_path / "whe"))
    vals = ["a/b", "a:b", "a%b", "plain", "a b"]
    df = spark.createDataFrame([(v, 1) for v in vals], "course_id string, v int")
    lake.overwrite("t.esc", df, partition_by=["course_id"])
    assert lake.read("t.esc").count() == len(vals)

    dropped = lake.drop_partitions("t.esc", "course_id", ["a/b", "a:b", "a%b"])
    assert dropped == 3
    remaining = {r["course_id"] for r in lake.read("t.esc").collect()}
    assert remaining == {"plain", "a b"}

    # unescaped chars (space) and absent values keep working / count 0
    assert lake.drop_partitions("t.esc", "course_id", ["a b"]) == 1
    assert lake.drop_partitions("t.esc", "course_id", ["never-there"]) == 0
    assert {r["course_id"] for r in lake.read("t.esc").collect()} == {"plain"}
