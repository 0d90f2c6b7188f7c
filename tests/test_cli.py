"""End-to-end CLI test: the Justfile-verb chain bronze-upload → silver →
topology → gold → status → query against a temp warehouse, all through
`__main__.main` in-process (one Spark session via getOrCreate)."""

from __future__ import annotations

import os

from tagmarshal_data_lakehouse_spark.__main__ import main

from . import fixtures_gen


def test_cli_full_pipeline(spark, tmp_path, capsys):
    raw = tmp_path / "raw.json"
    fixtures_gen.write_plain_json(str(raw))
    wh = str(tmp_path / "wh")
    bronze = str(tmp_path / "bronze")
    base = ["--warehouse", wh, "--bronze-root", bronze]

    assert main(base + [
        "bronze-upload", "--course-id", "americanfalls",
        "--path", str(raw), "--ingest-date", "2024-01-16",
    ]) == 0
    assert "landed" in capsys.readouterr().out

    # re-upload is an idempotent skip
    assert main(base + [
        "bronze-upload", "--course-id", "americanfalls",
        "--path", str(raw), "--ingest-date", "2024-01-16",
    ]) == 0
    assert "skipped" in capsys.readouterr().out

    assert main(base + [
        "silver", "--course-id", "americanfalls", "--ingest-date", "2024-01-16",
    ]) == 0
    out = capsys.readouterr().out
    assert "silver:" in out and "fact_telemetry_event" in out

    assert main(base + ["topology"]) == 0
    out = capsys.readouterr().out
    assert "dim_facility_topology" in out and "dim_sections_per_hole" in out

    seed = tmp_path / "profile.csv"
    fixtures_gen.write_course_profile_seed(str(seed))
    assert main(base + ["seed-profile", "--path", str(seed)]) == 0
    assert "dim_course_profile" in capsys.readouterr().out

    assert main(base + ["gold"]) == 0
    out = capsys.readouterr().out
    assert "gold.fact_rounds:" in out

    # direct `silver` runs bypass the registry (it belongs to backfill),
    # so status renders the empty frame with its schema
    assert main(base + ["status"]) == 0
    assert "course_id" in capsys.readouterr().out

    # quality suite over the just-built silver + gold
    assert main(base + ["dq"]) == 0
    out = capsys.readouterr().out
    assert "checks passed" in out and "FAIL" not in out

    assert main(base + ["query", "list"]) == 0
    assert "agg_pricing_summary" in capsys.readouterr().out


def test_cli_backfill_and_query(spark, tmp_path, capsys):
    wh = str(tmp_path / "wh")
    bronze = str(tmp_path / "bronze")
    d = os.path.join(bronze, "course_id=americanfalls", "ingest_date=2024-01-16")
    os.makedirs(d)
    fixtures_gen.write_plain_json(os.path.join(d, "rounds.json"))
    base = ["--warehouse", wh, "--bronze-root", bronze]

    assert main(base + ["backfill"]) == 0
    assert "1 succeeded" in capsys.readouterr().out
    # second run: registry skips
    # second run: registry-complete partitions are no longer pending
    assert main(base + ["backfill"]) == 0
    assert "0 succeeded, 0 skipped, 0 failed" in capsys.readouterr().out
    # backfill populates the registry; status shows the course
    assert main(base + ["status"]) == 0
    assert "americanfalls" in capsys.readouterr().out

    assert main(base + ["query", "doc_token_stats", "--sf-dir", "/root/testdata/sf0.001"]) == 0
    assert "n_tokens" in capsys.readouterr().out

    assert main(base + ["query", "nope"]) == 2


def test_cli_curate_writes_corpus_and_audit(spark, tmp_path, capsys):
    out = str(tmp_path / "curated")
    wh = str(tmp_path / "wh")
    assert main([
        "--warehouse", wh,
        "curate", "--sf-dir", "/root/testdata/sf0.001", "--out", out,
    ]) == 0
    printed = capsys.readouterr().out
    assert "kept" in printed and "audit" in printed
    audit = spark.read.parquet(f"{out}/curation_audit")
    corpus = spark.read.parquet(f"{out}/curated_corpus")
    n_docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
    assert audit.count() == n_docs                      # every input audited
    assert corpus.count() == audit.filter("kept").count()
    assert set(corpus.select("split").distinct().toPandas()["split"]) <= {
        "train", "val", "test",
    }
    assert "near_dup_of" not in audit.columns  # opt-in stage stays off by default

    # with the near-dup stage on, the audit gains near_dup_of and the
    # verdict set may only shrink the kept corpus
    out2 = str(tmp_path / "curated_nd")
    assert main([
        "--warehouse", wh,
        "curate", "--sf-dir", "/root/testdata/sf0.001", "--out", out2,
        "--near-dup-threshold", "0.5",
    ]) == 0
    audit2 = spark.read.parquet(f"{out2}/curation_audit")
    assert "near_dup_of" in audit2.columns
    assert audit2.count() == n_docs
    assert audit2.filter("kept").count() <= audit.filter("kept").count()
    # the packaged entry point applies the measured dedup sizing by
    # default when the near-dup stage is on, and restores the width
    # after the audit write (VERDICT r12)
    printed = capsys.readouterr().out
    assert "dedup sizing: shuffle width" in printed
    assert "restored to" in printed


def test_cli_curate_auto_size_applies_and_restores_width(
    spark, tmp_path, capsys, monkeypatch
):
    """At a (mocked-heap, forced-estimate) point inside the measured
    48g bind band the CLI's default auto-sizing must run the near-dup
    stage at the helper's 128 and put the session width back before the
    command returns; --no-auto-size must leave the conf untouched."""
    from tagmarshal_data_lakehouse_spark import routing

    original = spark.conf.get("spark.sql.shuffle.partitions")
    monkeypatch.setattr(routing, "jvm_heap_gib", lambda _s: 48.0)
    seen = {}
    real_size = routing.size_session

    def forced(s, operator, rows):
        w = real_size(s, operator, 4_096_000)  # the measured 8192x/48g bind point
        seen["width"] = w
        return w

    monkeypatch.setattr(routing, "size_session", forced)
    out = str(tmp_path / "curated_sz")
    assert main([
        "--warehouse", str(tmp_path / "wh"),
        "curate", "--sf-dir", "/root/testdata/sf0.001", "--out", out,
        "--near-dup-threshold", "0.5",
    ]) == 0
    printed = capsys.readouterr().out
    assert seen["width"] == 128                     # sizing fired at the bind
    assert "shuffle width 128" in printed           # ... while the plan built
    assert spark.conf.get("spark.sql.shuffle.partitions") == original  # restored

    seen.clear()
    out2 = str(tmp_path / "curated_nosz")
    assert main([
        "--warehouse", str(tmp_path / "wh"),
        "curate", "--sf-dir", "/root/testdata/sf0.001", "--out", out2,
        "--near-dup-threshold", "0.5", "--no-auto-size",
    ]) == 0
    assert "dedup sizing" not in capsys.readouterr().out
    assert not seen                                  # sizing never invoked
    assert spark.conf.get("spark.sql.shuffle.partitions") == original


def test_cli_serve_runs_cached_queries(spark, tmp_path, capsys):
    raw = tmp_path / "raw.json"
    fixtures_gen.write_plain_json(str(raw))
    wh = str(tmp_path / "wh")
    base = ["--warehouse", wh, "--bronze-root", str(tmp_path / "bronze")]
    assert main(base + [
        "bronze-upload", "--course-id", "americanfalls",
        "--path", str(raw), "--ingest-date", "2024-01-16",
    ]) == 0
    assert main(base + [
        "silver", "--course-id", "americanfalls", "--ingest-date", "2024-01-16",
    ]) == 0
    assert main(base + ["topology"]) == 0
    capsys.readouterr()
    # same query twice in one invocation list -> the second is a cache hit
    assert main(base + ["serve", "global_overview", "global_overview"]) == 0
    out = capsys.readouterr().out
    assert out.count("== global_overview") == 2
    assert "1 hits / 1 misses" in out


def test_cli_explain(spark, tmp_path, capsys):
    from tagmarshal_data_lakehouse_spark.__main__ import main

    base = ["--warehouse", str(tmp_path / "wh"), "--bronze-root", str(tmp_path / "br")]
    rc = main(base + ["explain", "agg_pricing_summary", "--sf-dir", "/root/testdata/sf0.001"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "Physical Plan" in out or "AdaptiveSparkPlan" in out
    assert "# scale-lint: clean" in out
    assert main(base + ["explain", "no_such_query"]) == 2


def test_cli_export(spark, tmp_path, capsys):
    import json

    from tagmarshal_data_lakehouse_spark.__main__ import main

    base = ["--warehouse", str(tmp_path / "wh"), "--bronze-root", str(tmp_path / "br")]
    out = str(tmp_path / "export")
    rc = main(base + [
        "export", "--input", "/root/testdata/sf0.001/documents.parquet",
        "--out", out, "--max-records", "10",
    ])
    assert rc == 0
    assert "manifest" in capsys.readouterr().out
    manifest = json.load(open(f"{out}/manifest.json"))
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert manifest["total_rows"] == docs.count()
    # partition dirs exist and every partition respects the per-file cap
    written = spark.read.parquet(f"{out}/corpus")
    assert {"split", "lang"} <= set(written.columns)
    for p in manifest["partitions"]:
        assert p["rows"] <= p["files"] * 10
    # export is split-stable: re-export agrees (hash split, no RNG)
    rc = main(base + [
        "export", "--input", "/root/testdata/sf0.001/documents.parquet",
        "--out", out, "--max-records", "10",
    ])
    assert rc == 0
    assert json.load(open(f"{out}/manifest.json")) == manifest


def test_cli_rollup_refresh_replay_and_show(spark, tmp_path, capsys):
    """rollup verb: first --refresh applies, same batch id replays as a
    no-op, --show prints estimates at both grains."""
    wh = str(tmp_path / "wh")
    base = ["--warehouse", wh, "--bronze-root", str(tmp_path / "bronze")]
    batch = str(tmp_path / "events_batch")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(500).write.parquet(batch)

    assert main(base + ["rollup", "--refresh", batch, "--show"]) == 0
    out = capsys.readouterr().out
    assert "applied" in out and "approx_users" in out and "value_p50" in out

    assert main(base + ["rollup", "--refresh", batch]) == 0
    assert "replay refused" in capsys.readouterr().out

    assert main(base + ["rollup", "--show", "--grain", "type"]) == 0
    assert "n_hourly_buckets" in capsys.readouterr().out

    assert main(base + ["rollup"]) == 2


def test_cli_compact_and_vacuum(spark, tmp_path, capsys):
    """compact rewrites a fragmented table to few files; vacuum reports
    reclaimed paths (none on a clean warehouse)."""
    wh = str(tmp_path / "wh")
    base = ["--warehouse", wh, "--bronze-root", str(tmp_path / "bronze")]
    from tagmarshal_data_lakehouse_spark.storage import Lakehouse

    lake = Lakehouse(spark, wh)
    lake.overwrite("frag", spark.range(2000).repartition(16).selectExpr("id", "id % 7 AS k"))

    assert main(base + ["compact", "frag", "--sort-by", "k"]) == 0
    out = capsys.readouterr().out
    assert "compacted frag ->" in out
    assert lake.read("frag").count() == 2000

    assert main(base + ["vacuum"]) == 0
    assert "paths reclaimed" in capsys.readouterr().out
