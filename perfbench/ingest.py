"""`ingest` workload: the write path, bronze files -> silver fact, then
the dashboard read path over what was written.

Timed, in order, on a lakehouse that starts empty:

1. silver backfill: `read_rounds` -> `transform_rounds` ->
   `split_coordinates` -> `replace_partitions` of the fact, every course
   in one pass (bulk write);
2. course-day refreshes: `run_silver` lands one new course-day each into
   the backfilled fact (small partition swaps into a large table, plus
   the quarantine write);
3. the dashboard probe (`dashboard.serve`): the CLI's `serve` path over
   the refreshed fact, which builds the gold model views with
   `GoldBuilder.build` and runs gold-backed queries on them.

The gold write path (`incremental_update`: partitioned model rewrites and
the rollups of the global models) is not in the run: one call costs
25-35 s on 4 quiet cores and 50 s under 20% CPU steal, more than the
benchmark's whole per-run budget leaves after session start.

Checks: backfill and refresh row counts equal the generator's, the fact
ends with every valid fix, and every frame the dashboard served, cache
hits included, equals the same SQL run uncached.
"""

from __future__ import annotations

import statistics

from pyspark.sql import functions as F

from tagmarshal_data_lakehouse_spark import silver
from tagmarshal_data_lakehouse_spark.gold.models import GoldBuilder
from tagmarshal_data_lakehouse_spark.sources.bronze import read_rounds
from tagmarshal_data_lakehouse_spark.storage import Lakehouse

from . import bronze_gen, dashboard, trace

FACT = "silver.fact_telemetry_event"
FACT_PARTITIONS = ["course_id", "ingest_date", "event_date"]

SIZES = {
    # backfill courses x rounds per course; refreshed course-days x rounds
    "full": {"courses": 6, "rounds": 30, "refreshes": 5, "refresh_rounds": 10},
    "smoke": {"courses": 2, "rounds": 6, "refreshes": 1, "refresh_rounds": 4},
}


def silver_backfill(ctx, lake: Lakehouse, corpus: bronze_gen.BronzeCorpus) -> int:
    """Every backfill course-day in one silver pass; returns rows quarantined."""
    spark, tr = ctx.spark, ctx.tracer
    with tr.span("silver.backfill", cpu=True):
        with tr.span("bronze.read_rounds"):
            raw, fmt = read_rounds(spark, corpus.backfill_glob)
        transformed = silver.transform_rounds(
            raw, fmt, F.col("course"), F.lit(bronze_gen.BACKFILL_INGEST_DATE), None
        )
        valid, invalid = silver.split_coordinates(transformed)
        valid = lake.align_to_schema(valid, silver.FACT_TELEMETRY_EVENT)
        n_quarantined = invalid.count()
        lake.replace_partitions(FACT, valid, FACT_PARTITIONS)
    return n_quarantined


def refresh(ctx, lake: Lakehouse, day: bronze_gen.CourseDay) -> silver.SilverResult:
    with ctx.tracer.span("refresh", cpu=True):
        return silver.run_silver(
            ctx.spark, lake, day.path, day.course, day.ingest_date,
            run_id=f"bench_{day.course}_{day.ingest_date}",
        )


def _instrument_gold_builder(tracer) -> None:
    """Time every `GoldBuilder.build` call (plan analysis; the models
    themselves execute later, inside the queries that read them)."""
    build = GoldBuilder.build

    def timed_build(self, *args, **kwargs):
        with tracer.span("gold.analysis"):
            return build(self, *args, **kwargs)

    GoldBuilder.build = timed_build


class Workload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.size = SIZES["smoke" if ctx.smoke else "full"]
        self.failures: list[str] = []

    def setup(self) -> None:
        ctx, s = self.ctx, self.size
        with ctx.tracer.span("setup.generate"):
            self.corpus = bronze_gen.generate(
                ctx.path("bronze"), ctx.seed, s["courses"], s["rounds"],
                s["refreshes"], s["refresh_rounds"],
            )
            self.pages = dashboard.page_sequence(ctx.seed, self.corpus.courses)
        self.input_dir = self.corpus.root
        self.lake = Lakehouse(ctx.spark, ctx.path("lake"))
        if ctx.trace:
            trace.instrument_lakehouse(ctx.tracer, self.lake)
            _instrument_gold_builder(ctx.tracer)

    def run(self) -> None:
        ctx, tr, lake, corpus = self.ctx, self.ctx.tracer, self.lake, self.corpus
        self.expected = corpus.totals(corpus.backfill)
        quarantined = silver_backfill(ctx, lake, corpus)
        if quarantined != self.expected["fixes_quarantined"]:
            self.failures.append(
                f"backfill quarantined {quarantined} != {self.expected['fixes_quarantined']}"
            )
        for day in corpus.refreshes:
            res = refresh(ctx, lake, day)
            got = (res.rows_valid, res.rows_quarantined)
            if got != (day.fixes_valid, day.fixes_quarantined):
                self.failures.append(
                    f"refresh {day.course}/{day.ingest_date} rows {got} != "
                    f"{(day.fixes_valid, day.fixes_quarantined)}"
                )
        with tr.span("dashboard"):
            self.served = dashboard.serve(ctx, lake.read(FACT), self.pages)

    def check(self) -> tuple[int, int]:
        """(attempted, failed): one per write and one per dashboard request."""
        days = self.corpus.refreshes
        want = self.expected["fixes_valid"] + sum(d.fixes_valid for d in days)
        got = self.lake.read(FACT).count()
        if got != want:
            self.failures.append(f"fact rows {got} != {want}")
        writes = 1 + len(days)
        failed = min(writes, len(self.failures))
        served = self.served.check(self.ctx.spark)
        self.failures += served
        return writes + len(self.served.requests), failed + len(served)

    def wall_metrics(self) -> dict:
        tr = self.ctx.tracer
        refresh = tr.durations("refresh")
        backfill_s = tr.total("silver.backfill")
        misses = self.served.misses_ms()
        return {
            "backfill_fixes_per_s": (self.expected["fixes_valid"] / backfill_s, "1/s"),
            "refresh_p50_s": (statistics.median(refresh), f"s (n={len(refresh)})"),
            "dash_miss_p50_ms": (statistics.median(misses), f"ms (n={len(misses)})"),
            "dash_qps": (self.served.qps(), "1/s"),
        }

    def op_detail(self) -> list:
        return self.ctx.tracer.ops("refresh")

    def per_layer(self) -> dict:
        tr, c = self.ctx.tracer, self.corpus
        written = c.totals(c.backfill + c.refreshes)
        layer = {
            "bronze.read_rounds_s": tr.total("bronze.read_rounds"),
            "silver.backfill_s": tr.total("silver.backfill"),
            "silver.fixes_written": written["fixes_valid"],
            "silver.quarantined": written["fixes_quarantined"],
            "gold.analysis_s": tr.total("gold.analysis"),
        }
        layer.update(trace.storage_amplification(tr, self.lake))
        layer.update(self.served.per_layer())
        return layer

    def input_size(self) -> dict:
        c = self.corpus
        return {
            "courses": len(c.courses),
            "backfill": c.totals(c.backfill),
            "refreshes": self.corpus.totals(self.corpus.refreshes),
            "dashboard_pages": len(self.pages),
        }
