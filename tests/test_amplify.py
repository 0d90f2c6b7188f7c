"""tools/amplify.py, the probes' measurement corpus, and one probe run
end to end on it."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from tagmarshal_data_lakehouse_spark.queries import TABLES, load_views, registry
from tools import amplify

from .oracle_harness import run_query_pair

K = 3
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def amplified(spark, sf_smoke, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("amplified"))
    amplify.amplify(spark, sf_smoke, K, out)
    yield out
    # leave no views of the amplified tables to later test modules
    for t in TABLES:
        spark.catalog.dropTempView(t)
    spark.conf.unset("spark.graft.views.loaded")


def _schemas(spark, sf_dir):
    load_views(spark, sf_dir)
    return {t: spark.table(t).schema for t in TABLES}


def test_tables_keep_schema_and_grow_k_fold(spark, sf_smoke, amplified):
    src, src_schemas = amplify.value_hashes(spark, sf_smoke), _schemas(spark, sf_smoke)
    out, out_schemas = amplify.value_hashes(spark, amplified), _schemas(spark, amplified)
    assert out_schemas == src_schemas
    for t in TABLES:
        assert os.path.isfile(os.path.join(amplified, f"{t}.parquet")), t
        if t in amplify.OFFSETS:
            assert out[t]["rows"] == K * src[t]["rows"], t
        else:
            assert out[t] == src[t], t


def test_keys_unique_and_foreign_keys_closed(spark, amplified):
    load_views(spark, amplified)

    def one(sql):
        return spark.sql(sql).first()[0]

    for table, key in (("documents", "doc_id"), ("embeddings", "vec_id"), ("events", "event_id")):
        assert one(f"SELECT COUNT(*) - COUNT(DISTINCT {key}) FROM {table}") == 0, table
    assert one(
        "SELECT COUNT(*) FROM lineitem l LEFT ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey"
    ) == 0
    assert one(
        "SELECT COUNT(*) FROM orders o LEFT ANTI JOIN customer c ON o.o_custkey = c.c_custkey"
    ) == 0


def test_regeneration_gives_equal_value_hashes(spark, sf_smoke, amplified, tmp_path):
    again = str(tmp_path / "again")
    amplify.amplify(spark, sf_smoke, K, again)
    assert amplify.value_hashes(spark, again) == amplify.value_hashes(spark, amplified)


def test_duckdb_oracle_reads_the_amplified_dir(spark, amplified):
    assert run_query_pair(spark, registry()["tpch_q18"], amplified) == []


def test_scaling_exponent():
    assert amplify.scaling_exponent([(1, 2.0)]) is None
    assert amplify.scaling_exponent([(1, 1.0), (2, 1.5), (4, 4.0)]) == 1.0
    assert amplify.scaling_exponent([(1, 0.0), (10, 0.0)]) == 0.0


def test_scale_probe_runs_on_the_amplified_corpus(sf_smoke):
    env = dict(
        os.environ,
        PYTHONPATH=REPO,
        SCALE_PROBE_OPS="exact_dedup,sessionize,interval_join",
        SCALE_PROBE_DRIVER_MEM="2g",
        SCALE_PROBE_SHUFFLE_PARTS="4",
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "scale_probe.py"), sf_smoke, "1", "2"],
        env=env,
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [json.loads(x) for x in proc.stdout.splitlines() if x.startswith("{")]
    runs = {(x["op"], x["reps"]) for x in lines if "op" in x}
    ops = {"exact_dedup", "sessionize", "interval_join"}
    assert runs == {(op, reps) for op in ops for reps in (1, 2)}
    assert len([x for x in lines if "op" in x]) == 6
    (summary,) = [x for x in lines if "scaling_exponents" in x]
    assert set(summary["scaling_exponents"]) == ops
