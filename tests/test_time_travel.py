"""Snapshot versioning / time travel (the Iceberg role the reference
gets from its catalog): every mutating Lakehouse op snapshots the prior
state via hardlinks; read_version travels, restore rolls back
non-destructively, vacuum expires with the audit trail intact."""

from __future__ import annotations

import errno
import os

import pytest

from pyspark.sql import functions as F

from tagmarshal_data_lakehouse_spark import storage
from tagmarshal_data_lakehouse_spark.storage import Lakehouse


@pytest.fixture()
def lake(spark, tmp_path):
    return Lakehouse(spark, str(tmp_path / "wh"), versioned=True)


def _rows(lake, table, version=None):
    df = lake.read(table) if version is None else lake.read_version(table, version)
    return sorted((r["k"], r["v"]) for r in df.collect())


def test_every_mutation_versions_the_prior_state(spark, lake):
    t = "dim"
    lake.overwrite(t, spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    lake.overwrite(t, spark.createDataFrame([(1, "a2"), (2, "b")], "k long, v string"))
    lake.merge_upsert(t, spark.createDataFrame([(2, "b2"), (3, "c")], "k long, v string"), keys=["k"])
    assert _rows(lake, t) == [(1, "a2"), (2, "b2"), (3, "c")]
    # v1 = state before the 2nd overwrite; v2 = before the upsert
    assert _rows(lake, t, version=1) == [(1, "a"), (2, "b")]
    assert _rows(lake, t, version=2) == [(1, "a2"), (2, "b")]
    ops = [r["op"] for r in lake.history(t).orderBy("version").collect()]
    assert ops == ["overwrite", "merge_upsert", "current"]


def test_replace_partitions_and_append_version(spark, lake):
    t = "fact"
    base = spark.createDataFrame([(1, "p1", "x"), (2, "p2", "y")], "k long, p string, v string")
    lake.write_partitioned(t, base, ["p"], mode="overwrite")
    lake.write_partitioned(
        t, spark.createDataFrame([(3, "p3", "z")], "k long, p string, v string"), ["p"]
    )
    lake.replace_partitions(
        t, spark.createDataFrame([(9, "p1", "x9")], "k long, p string, v string"), ["p"]
    )
    now = sorted((r["k"], r["v"]) for r in lake.read(t).collect())
    assert now == [(2, "y"), (3, "z"), (9, "x9")]
    # v1: before the append; v2: before the partition rewrite
    v1 = sorted((r["k"], r["v"]) for r in lake.read_version(t, 1).collect())
    assert v1 == [(1, "x"), (2, "y")]
    v2 = sorted((r["k"], r["v"]) for r in lake.read_version(t, 2).collect())
    assert v2 == [(1, "x"), (2, "y"), (3, "z")]


def test_restore_is_nondestructive(spark, lake):
    t = "dim"
    lake.overwrite(t, spark.createDataFrame([(1, "good")], "k long, v string"))
    lake.overwrite(t, spark.createDataFrame([(1, "bad")], "k long, v string"))
    lake.restore(t, 1)
    assert _rows(lake, t) == [(1, "good")]
    # the 'bad' state was snapshotted by the restore and remains travelable
    assert _rows(lake, t, version=2) == [(1, "bad")]
    ops = [r["op"] for r in lake.history(t).orderBy("version").collect()]
    assert ops == ["overwrite", "pre-restore(v1)", "current"]


def test_vacuum_expires_snapshots_keeps_audit(spark, lake):
    t = "dim"
    for i in range(7):
        lake.overwrite(t, spark.createDataFrame([(1, f"s{i}")], "k long, v string"))
    removed = lake.vacuum(snapshot_keep=2)
    assert len(removed) == 4  # 6 snapshots, keep newest 2
    hist = {r["version"]: r["readable"] for r in lake.history(t).collect()}
    assert hist[5] and hist[6] and hist[7]  # v5, v6 retained + current
    assert not hist[1] and not hist[2]
    with pytest.raises(FileNotFoundError):
        lake.read_version(t, 1)
    assert _rows(lake, t, version=6) == [(1, "s5")]


def test_unversioned_lake_takes_no_snapshots(spark, tmp_path):
    lake = Lakehouse(spark, str(tmp_path / "wh"))
    lake.overwrite("t", spark.createDataFrame([(1, "a")], "k long, v string"))
    lake.overwrite("t", spark.createDataFrame([(1, "b")], "k long, v string"))
    assert lake.history("t").count() == 1  # only the 'current' row
    with pytest.raises(FileNotFoundError):
        lake.read_version("t", 1)


def test_schema_evolution_travels(spark, lake):
    t = "dim"
    lake.overwrite(t, spark.createDataFrame([(1, "a")], "k long, v string"))
    wide = spark.createDataFrame([(2, "b", 7.0)], "k long, v string, extra double")
    lake.write_partitioned(t, lake.align_to_schema(wide, wide.schema), [], mode="append")
    assert "extra" in lake.read(t).columns
    old = lake.read_version(t, 1)
    assert "extra" not in old.columns  # v1 travels with its own schema
    assert [r["k"] for r in old.collect()] == [1]


def test_cli_snapshots_and_restore(spark, tmp_path, capsys):
    from tagmarshal_data_lakehouse_spark.__main__ import main

    wh = str(tmp_path / "wh")
    lake = Lakehouse(spark, wh, versioned=True)
    lake.overwrite("dims/topo", spark.createDataFrame([(1, "a")], "k long, v string"))
    lake.overwrite("dims/topo", spark.createDataFrame([(1, "b")], "k long, v string"))
    base = ["--warehouse", wh, "--bronze-root", str(tmp_path / "br")]
    assert main(base + ["snapshots", "dims/topo"]) == 0
    out = capsys.readouterr().out
    assert "overwrite" in out and "current" in out
    assert main(base + ["restore", "dims/topo", "1"]) == 0
    assert "restored dims/topo to v1" in capsys.readouterr().out
    assert [(r["k"], r["v"]) for r in lake.read("dims/topo").collect()] == [(1, "a")]


def _tear_writes(monkeypatch) -> None:
    """Every file `storage` opens for writing takes half of its first
    write and then fails, as on a full disk or a crash mid-write."""
    real_open = open

    def torn_open(path, mode="r", *args, **kwargs):
        fh = real_open(path, mode, *args, **kwargs)
        if "w" in mode:
            write = fh.write

            def torn(text):
                write(text[: len(text) // 2])
                fh.flush()
                raise OSError(errno.ENOSPC, "No space left on device")

            fh.write = torn
        return fh

    monkeypatch.setattr(storage, "open", torn_open, raising=False)


def test_torn_metadata_write_keeps_previous_files(spark, lake, monkeypatch):
    """A write of `_log.json` or `_engine_schema.json` that fails halfway
    leaves the previous file whole and no temp file behind, and the next
    mutation of the table succeeds."""
    t = "dim"
    lake.overwrite(t, spark.createDataFrame([(1, "a")], "k long, v string"))
    lake.overwrite(t, spark.createDataFrame([(2, "b")], "k long, v string"))
    log, schema = lake._snap_log(t), lake._load_schema(t)
    assert [e["version"] for e in log] == [1]
    wide = spark.createDataFrame([(3, "c", 1.5)], "k long, v string, extra double")
    with monkeypatch.context() as m:
        _tear_writes(m)
        with pytest.raises(OSError):
            lake._snapshot(t, "torn")
        with pytest.raises(OSError):
            lake._save_schema(t, wide)
    assert lake._snap_log(t) == log
    assert lake._load_schema(t) == schema
    for d in (lake.path(t), lake._snap_root(t)):
        assert not [f for f in os.listdir(d) if f.endswith(".tmp")]

    lake.write_partitioned(t, wide, [], mode="append")
    assert [e["op"] for e in lake._snap_log(t)] == ["overwrite", "write_partitioned(append)"]
    assert sorted(r["k"] for r in lake.read_version(t, 2).collect()) == [2]
    assert sorted((r["k"], r["extra"]) for r in lake.read(t).collect()) == [(2, None), (3, 1.5)]
