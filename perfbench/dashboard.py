"""The dashboard read path through `serving.QueryServer`, as a probe the
`ingest` workload runs over the lakehouse it has just written.

It mirrors the CLI's `serve` verb (`telemetry.register_views(...,
build_gold=True)`, then a `QueryServer`) and serves a seeded page
sequence with one closed-loop client.  A course page fires a panel of
`PARAMETERIZED` widgets for one of two seeded courses; a global page
fires a slice of `TELEMETRY_QUERIES` holding one `GOLD_BACKED` query.
Every page is viewed twice within the cache TTL, so half the requests hit
whatever the seed.  The server's clock is logical, advanced by a fixed
step per page, so hits and TTL evictions do not depend on machine speed.
The sequence is served once, so the amount of work is fixed.
"""

from __future__ import annotations

import random
import statistics
from dataclasses import dataclass, field

from tagmarshal_data_lakehouse_spark.queries import telemetry
from tagmarshal_data_lakehouse_spark.serving import QueryServer

from . import checks, trace

COURSE_PANEL = 4
GLOBAL_SLICE = 3
PAGE_SECONDS = 30.0  # logical time between page views
TTL_SECONDS = 300.0
HOLE = 5


class LogicalClock:
    def __init__(self) -> None:
        self.now = 0.0

    def __call__(self) -> float:
        return self.now


def _params(name: str, course: str) -> dict:
    params: dict = {"course_id": course}
    if name in ("get_round_progression", "get_round_map_points"):
        params["round_id"] = f"{course}-b-00000"
    if name in ("get_pace_comparison_for_hole", "get_check_loop_fatigue",
                "get_demo_loop_fatigue"):
        params["hole_number"] = HOLE
    return params


def page_sequence(seed: int, courses: list[str]) -> list[list[tuple[str, dict]]]:
    """Seeded pages, each a list of (query name, params) widget requests:
    course pages c1, c2 and a global page g, viewed as c1 g c2 c1 g c2."""
    rng = random.Random(seed)
    picked = rng.sample(courses, 2)
    widgets = sorted(telemetry.PARAMETERIZED)
    c1, c2 = (
        [(n, _params(n, c)) for n in rng.sample(widgets, COURSE_PANEL)] for c in picked
    )
    fixed = sorted(set(telemetry.TELEMETRY_QUERIES) - telemetry.GOLD_BACKED)
    g = [(rng.choice(sorted(telemetry.GOLD_BACKED)), {})]
    g += [(n, {}) for n in rng.sample(fixed, GLOBAL_SLICE - 1)]
    return [c1, g, c2, c1, g, c2]


def miss_class(name: str) -> str:
    if name in telemetry.PARAMETERIZED:
        return "param"
    return "gold" if name in telemetry.GOLD_BACKED else "fact"


def render(name: str, params: dict) -> str:
    if name in telemetry.PARAMETERIZED:
        return telemetry.PARAMETERIZED[name](**params)
    return telemetry.TELEMETRY_QUERIES[name]


@dataclass
class Request:
    cls: str  # miss class: fact, gold or param
    sql: str  # the rendered SQL the server ran or looked up
    hit: bool
    seconds: float
    frame: object  # the frame the server returned


@dataclass
class Served:
    requests: list[Request] = field(default_factory=list)

    def misses_ms(self) -> list[float]:
        return [r.seconds * 1e3 for r in self.requests if not r.hit]

    def qps(self) -> float:
        return len(self.requests) / sum(r.seconds for r in self.requests)

    def check(self, spark) -> list[str]:
        """Every served frame, hits included, against its SQL run uncached
        (each distinct SQL once)."""
        uncached: dict[str, object] = {}
        failures = []
        for r in self.requests:
            if r.sql not in uncached:
                uncached[r.sql] = spark.sql(r.sql).toPandas()
            diff = checks.compare_frames(r.frame, uncached[r.sql])
            if diff:
                kind = "hit" if r.hit else "miss"
                failures.append(f"served {kind} {' '.join(r.sql.split())[:60]!r}: {diff}")
        return failures

    def per_layer(self) -> dict:
        hits = [r.seconds for r in self.requests if r.hit]
        layer = {
            "serving.requests": len(self.requests),
            "serving.hits": len(hits),
            "serving.misses": len(self.requests) - len(hits),
            "serving.hit_ratio": len(hits) / len(self.requests),
            "serving.hit_p50_us": statistics.median(hits) * 1e6 if hits else 0.0,
        }
        for cls in ("fact", "gold", "param"):
            sec = [r.seconds for r in self.requests if r.cls == cls and not r.hit]
            layer[f"serving.miss_{cls}_p50_ms"] = statistics.median(sec) * 1e3 if sec else 0.0
        return layer


def serve(ctx, fact, pages: list[list[tuple[str, dict]]]) -> Served:
    """Register the views over `fact`, then serve `pages` once, in order."""
    tr = ctx.tracer
    with tr.span("serving.register_views"):
        telemetry.register_views(ctx.spark, fact, None, None, None, build_gold=True)
    clock = LogicalClock()
    srv = QueryServer(ctx.spark, ttl_seconds=TTL_SECONDS, clock=clock)
    if ctx.trace:
        trace.instrument_server(tr, srv)
    out = Served()
    for page in pages:
        with tr.span("dashboard.page"):
            for name, params in page:
                misses = srv.stats.misses
                with tr.span("serving.request") as sp:
                    frame = srv.execute(name, **params)
                hit = srv.stats.misses == misses
                out.requests.append(
                    Request(miss_class(name), render(name, params), hit, sp.duration, frame)
                )
        clock.now += PAGE_SECONDS
    return out
