#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

`value` is the total wall-clock over the headline set (lower is better).
Each query is forced to full materialization with a count-collect (no
rows shipped to the driver beyond the count).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.analytics import HEADLINE  # noqa: E402
from tagmarshal_data_lakehouse_spark.queries import registry  # noqa: E402
from tagmarshal_data_lakehouse_spark.session import get_spark  # noqa: E402

# Headline set (perfbench.analytics.HEADLINE, shared with the analytics
# workload): one representative per operator family, weighted toward
# the scans/joins/aggs that dominate real workloads. Rows-only extras
# (minhash, lsh) are included because dedup IS a headline capability
# here. Beyond the relational, events and document families:
# - the TPC-H subset: the canonical multi-join/agg OLAP shapes —
#   scan-heavy filter+agg (q6), join+topk (q3), 6-way dim stitch (q5),
#   large group-by with HAVING semi-join (q18);
# - events_hll_rollup: the mergeable-sketch rollup, the pre-aggregated
#   distinct-count scale path;
# - round-4 additions: sparse lexical similarity (fractional-df-capped
#   inverted index), keyword extraction, weighted sampling;
# - emb_hard_negatives_lsh: hard-negative mining, LSH scale path
#   (broadcast query side);
# - events_interval_join: chunked interval overlap join (sessions x
#   busy-hour islands);
# - emb_cosine_topk_gemm: exact cosine top-k at GEMM throughput
#   (mapInPandas matmul prune).


def _disk_read_mbps(sf_dir: str) -> float | None:
    """Cold sequential-read throughput off the bench inputs' own disk.

    The silver/gold probe's cross-run envelope (SCALE.md: gold@256x at
    23.7 / 25.7 / 146.5 s on identical code) is disk/page-cache
    contention the CPU/JVM fingerprint fields cannot see; this reading
    makes an IO-shaped outlier a one-line attribution the way the GEMM
    field already does for CPU.  Reads the largest testdata parquet
    with its page cache dropped first (posix_fadvise DONTNEED), best of
    3 — the best-case semantics of the other fingerprint fields.
    """
    import glob

    files = sorted(
        glob.glob(os.path.join(sf_dir, "*.parquet")), key=os.path.getsize
    )
    if not files or not hasattr(os, "posix_fadvise"):
        return None
    path = files[-1]
    size = os.path.getsize(path)
    rates = []
    for _ in range(3):
        fd = os.open(path, os.O_RDONLY)
        try:
            os.posix_fadvise(fd, 0, 0, os.POSIX_FADV_DONTNEED)
            t0 = time.perf_counter()
            while os.read(fd, 1 << 22):
                pass
            dt = time.perf_counter() - t0
        finally:
            os.close(fd)
        rates.append(size / max(dt, 1e-9) / (1 << 20))
    return round(max(rates), 1)


def _calibration(spark, sf_dir: str) -> dict:
    """Environment fingerprint recorded in every BENCH artifact.

    Two consecutive rounds (r9 cold outlier, r10 whole-boot x1.35
    uniform shift) needed multi-sweep SCALE.md forensics to prove "not
    a regression"; these readings make that a one-line check and
    let cross-round numbers be normalized: a fixed-size numpy GEMM
    (CPU/memory-bandwidth proxy, no Spark), a trivial Spark action
    (JVM/scheduler proxy), a cold disk read off the input volume
    (IO-contention proxy), and load/uptime at run start (boot placement
    and contention).  Timings are best-of-3 so a single scheduler
    hiccup cannot skew the fingerprint itself.
    """
    import numpy as np

    a = np.full((2048, 2048), 1.0 / 2048.0)
    gemm = []
    for _ in range(3):
        t0 = time.perf_counter()
        a @ a
        gemm.append(time.perf_counter() - t0)
    noop = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(10_000_000).selectExpr("sum(id)").collect()
        noop.append(time.perf_counter() - t0)
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return {
        "numpy_gemm_2048_sec": round(min(gemm), 4),
        "spark_range_sum_sec": round(min(noop), 4),
        "disk_read_mbps": _disk_read_mbps(sf_dir),
        "loadavg_1m": round(os.getloadavg()[0], 2),
        "uptime_sec": round(uptime, 1),
        "cpu_count": os.cpu_count(),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_spark(app_name="bench")
    reg = registry()

    # warm the JVM and register the table views once so per-query timings
    # measure the query, not session bootstrap or parquet footer reads
    from tagmarshal_data_lakehouse_spark.queries import load_views

    spark.range(1).count()
    calibration = _calibration(spark, sf_dir)
    print(f"# calibration: {calibration}", file=sys.stderr)
    load_views(spark, sf_dir)

    # Each query runs three times in the same session: the first (cold)
    # timing includes whole-stage-codegen JIT compilation, which on this
    # set is up to 3x the actual execution (e.g. doc_minhash_near_dups
    # ~4s cold vs ~1s warm) and made round-over-round comparisons pure
    # JIT noise.  `queries`/`value` report the steady-state timing as the
    # MIN of the two post-cold runs: a long shared-session run
    # occasionally lands a multi-second GC pause on one execution (q18
    # has measured 8.8s warm in-session vs a stable 1.4s in isolation),
    # and min-of-2 discards exactly that one-sided noise — it can only
    # make regressions HARDER to hide, never easier, since real plan
    # costs repeat in both runs.  `queries_cold`/`value_cold` keep the
    # 1st-run timings comparable with rounds <= 3, which were
    # single-run (cold).
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in HEADLINE:
        q = reg[name]
        warms: list[float] = []
        for sink in ("cold", "warm", "warm"):
            start = time.perf_counter()
            df = q.build(spark, sf_dir)
            n = df.count()
            elapsed = round(time.perf_counter() - start, 3)
            if sink == "cold":
                cold[name] = elapsed
            else:
                warms.append(elapsed)
        timings[name] = min(warms)
        print(
            f"# {name}: cold {cold[name]}s / warm {timings[name]}s ({n} rows)",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "mode": "warm (min of runs 2-3 in-session; rounds <=3 were cold/1-run)",
                "value_cold": round(sum(cold.values()), 3),
                "queries_cold": cold,
                "calibration": calibration,
            }
        )
    )


if __name__ == "__main__":
    main()
