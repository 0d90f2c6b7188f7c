"""Skew probe for the chunked interval-overlap join
(`operators.interval_overlap_join`).

The equi-join rewrite shuffles on the time-chunk id, so a HOT CHUNK —
one day holding a large fraction of the intervals — is the join's
natural skew risk: per-key work is |L_chunk|·|R_chunk| comparisons
handled by however many tasks the key spreads over (one, unless AQE
splits it). This probe measures three scenarios at increasing
adversity, each under the production session (AQE + skew-join enabled,
tools/amplify.py probe_session):

- uniform:  L spread over 30 days, R bounded per day (the registry
            `events_interval_join` shape — islands per chunk bounded
            by the event-type count).
- hot_left: 50% of L lands in ONE day; R stays bounded per day.
            Expected flat-ish: hot-chunk work is |L_hot|·O(1).
- hot_both: 50% of L AND 50% of a large R land in the same day —
            the true quadratic hot chunk. Measured twice: with
            day-grain chunks (the straggler) and hour-grain chunks
            (the documented mitigation — chunk_micros near the
            interval length splits the hot day across 24+ keys AND
            cuts per-key cross-products; pairs never span chunks
            longer than the interval so emit-once still holds).

Run: PYTHONPATH=/root/repo python tools/interval_skew_probe.py [n_left n_right]
One JSON line per (scenario, chunk-grain) with wall-clock + output and
a hot-key occupancy audit via operators.key_skew_profile.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, "/root/repo")

DAY_US = 86_400_000_000
HOUR_US = 3_600_000_000


def main() -> int:
    n_left = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    n_right = int(sys.argv[2]) if len(sys.argv) > 2 else 4_000

    from pyspark.sql import functions as F

    from tools.amplify import probe_session

    spark = probe_session("interval-skew-probe")

    from tagmarshal_data_lakehouse_spark.operators import interval_overlap_join

    def ntz(expr_us: str) -> str:
        return (
            f"timestampadd(MICROSECOND, CAST({expr_us} AS BIGINT),"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
        )

    def intervals(n: int, hot_frac: float, len_us: int, days: int, prefix: str):
        """n intervals of len_us; hot_frac of them start inside day 0,
        the rest uniform over `days` days (id-derived, deterministic)."""
        df = spark.range(n).withColumnRenamed("id", f"{prefix}_id")
        hot_n = int(n * hot_frac)
        start_us = (
            f"CASE WHEN {prefix}_id < {hot_n} "
            # hot: uniform inside day 0
            f"THEN ({prefix}_id * 2654435761) % {DAY_US - len_us} "
            # cold: uniform over the full span
            f"ELSE ({prefix}_id * 1103515245) % {days * DAY_US - len_us} END"
        )
        return df.withColumn("_s", F.expr(start_us)).select(
            f"{prefix}_id",
            F.expr(ntz("_s")).alias(f"{prefix}_start"),
            F.expr(ntz(f"_s + {len_us}")).alias(f"{prefix}_end"),
        )

    def bounded_right(days: int, per_day: int, len_us: int):
        """per_day fixed-position islands per day — the registry shape
        (bounded by the event-type count)."""
        df = spark.range(days * per_day).withColumnRenamed("id", "r_id")
        start_us = f"(r_id div {per_day}) * {DAY_US} + (r_id % {per_day}) * {DAY_US // per_day}"
        return df.withColumn("_s", F.expr(start_us)).select(
            "r_id",
            F.expr(ntz("_s")).alias("r_start"),
            F.expr(ntz(f"_s + {len_us}")).alias("r_end"),
        )

    days, sess_len, island_len = 30, 30 * 60 * 1_000_000, 2 * HOUR_US
    scenarios = {
        "uniform": (intervals(n_left, 0.0, sess_len, days, "l"), bounded_right(days, 6, island_len)),
        "hot_left": (intervals(n_left, 0.5, sess_len, days, "l"), bounded_right(days, 6, island_len)),
        "hot_both": (
            intervals(n_left, 0.5, sess_len, days, "l"),
            intervals(n_right, 0.5, island_len, days, "r"),
        ),
    }

    for name, (lhs, rhs) in scenarios.items():
        lhs = lhs.persist()
        rhs = rhs.persist()
        lhs.count(), rhs.count()
        grains = [("day", DAY_US)] + (
            # hot_both: the documented mitigation (hour ≈ interval
            # length) and the data-derived default (chunk_micros=None
            # -> max of the two median lengths = the 2h island length
            # here) — the probe checks auto lands in the fast regime
            [("hour", HOUR_US), ("auto", None)] if name == "hot_both" else []
        )
        for grain, chunk in grains:
            t0 = time.monotonic()
            derive_sec = 0.0
            if chunk is None:
                # timed INSIDE the auto row (reported separately too):
                # the two one-row median aggregates are what
                # chunk_micros=None costs — a fixed O(scan) overhead
                # that amortizes with join size
                from tagmarshal_data_lakehouse_spark.operators import derive_chunk_micros

                chunk = derive_chunk_micros(
                    lhs, rhs, "l_start", "l_end", "r_start", "r_end"
                )
                derive_sec = round(time.monotonic() - t0, 3)
            out = interval_overlap_join(
                lhs, rhs, "l_start", "l_end", "r_start", "r_end", chunk_micros=chunk
            ).count()
            dt = round(time.monotonic() - t0, 3)
            # hot-key occupancy audit: rows per chunk key on the left
            occ = (
                lhs.select(
                    F.expr(
                        f"TIMESTAMPDIFF(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
                        f" l_start) div {chunk}"
                    ).alias("k")
                )
                .groupBy("k")
                .count()
                .agg(F.max("count").alias("mx"), F.avg("count").alias("avg"))
                .collect()[0]
            )
            print(
                json.dumps(
                    {
                        "scenario": name,
                        "chunk": grain,
                        "n_left": n_left,
                        "n_right": n_right if name == "hot_both" else days * 6,
                        "out_pairs": out,
                        "sec": dt,
                        "derive_sec": derive_sec,
                        "hot_key_rows": occ["mx"],
                        "avg_key_rows": round(occ["avg"], 1),
                    }
                ),
                flush=True,
            )
        lhs.unpersist()
        rhs.unpersist()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
