"""BENCH artifacts must carry an environment fingerprint (VERDICT r10
item 2): two consecutive rounds needed multi-sweep forensics to separate
boot-level environment shifts from plan regressions, and the calibration
block makes that adjudication a one-line read. This pins the contract —
the fields exist, are positive, and the JSON payload embeds them — so a
bench.py refactor cannot silently drop the fingerprint."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


REQUIRED_FIELDS = {
    "numpy_gemm_2048_sec",
    "spark_range_sum_sec",
    "disk_read_mbps",
    "loadavg_1m",
    "uptime_sec",
    "cpu_count",
}


def test_calibration_fields_present_and_sane(spark):
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cal = bench._calibration(spark, sf_dir)
    assert set(cal) == REQUIRED_FIELDS
    assert cal["numpy_gemm_2048_sec"] > 0
    assert cal["spark_range_sum_sec"] > 0
    assert cal["uptime_sec"] > 0
    assert cal["cpu_count"] >= 1
    assert cal["loadavg_1m"] >= 0
    # the IO reading (VERDICT r11 item 5) may be None only where the
    # platform lacks posix_fadvise or the dir holds no parquet; on the
    # bench environment both hold, so a None here is a broken reading
    assert cal["disk_read_mbps"] is not None and cal["disk_read_mbps"] > 0
    json.dumps(cal)  # must be JSON-serializable as emitted


def test_disk_read_mbps_none_on_empty_dir(tmp_path):
    assert bench._disk_read_mbps(str(tmp_path)) is None


def test_bench_emits_calibration_key():
    """The main() payload wires the calibration dict into the one-line
    JSON artifact (source-level pin; running main() at sf0.1 is the
    driver's job, not the suite's)."""
    import inspect

    src = inspect.getsource(bench.main)
    assert '"calibration": calibration' in src
    assert "calibration = _calibration(spark, sf_dir)" in src


def test_bench_emits_jit_compile_s(spark):
    """The driver's JIT compile seconds, read after the last query, ride
    the JSON line next to the timings they explain."""
    import inspect

    assert bench._jit_compile_s(spark) > 0
    src = inspect.getsource(bench.main)
    assert '"jit_compile_s": jit_compile_s' in src
    # read once every query has run, not before the loop
    assert src.index("jit_compile_s = _jit_compile_s(spark)") > src.index("for name in HEADLINE")
