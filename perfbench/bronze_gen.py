"""Seeded bronze corpus for the `ingest` and `dashboard` workloads.

Writes MongoDB-export style JSON arrays (the shape `read_rounds`
autodetects) into the landing layout `run_silver` reads:

    <root>/course_id=<course>/ingest_date=<yyyy-mm-dd>/part-00000.json

The corpus keeps the traits that make the silver transform do real work:
about 1/16 of fixes carry a cached duplicate with lower battery, about
1/32 have an out-of-bounds latitude (quarantine), about 1/16 of rounds
have no timestamps (NULL fix_timestamp rows), and 1/8 are nine-hole
rounds.  Every draw comes from one `random.Random(seed)`, so a seed
always gives byte-identical files, and the generator returns the row
counts silver must produce from them.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from dataclasses import dataclass, field

LOCS_PER_ROUND = 36
DATE_SPREAD_DAYS = 30
BACKFILL_INGEST_DATE = "2024-02-01"


@dataclass
class CourseDay:
    """One landed (course, ingest_date) slice and what silver must make of it."""

    course: str
    ingest_date: str
    path: str
    rounds: int = 0
    fixes_valid: int = 0
    fixes_quarantined: int = 0
    bytes: int = 0


@dataclass
class BronzeCorpus:
    root: str
    courses: list[str]
    backfill: list[CourseDay] = field(default_factory=list)
    refreshes: list[CourseDay] = field(default_factory=list)

    @property
    def backfill_glob(self) -> str:
        return os.path.join(
            self.root, "course_id=*", f"ingest_date={BACKFILL_INGEST_DATE}"
        )

    def totals(self, days: list[CourseDay]) -> dict[str, int]:
        return {
            "rounds": sum(d.rounds for d in days),
            "fixes_valid": sum(d.fixes_valid for d in days),
            "fixes_quarantined": sum(d.fixes_quarantined for d in days),
            "bytes": sum(d.bytes for d in days),
        }


def _round_doc(rng: random.Random, course: str, round_id: str, day: int) -> tuple[dict, int, int]:
    """One round document plus its (valid, quarantined) fix counts."""
    start = dt.datetime(2024, 1, 1) + dt.timedelta(
        days=day, hours=6 + rng.randrange(12), minutes=rng.randrange(60)
    )
    nine_hole = rng.random() < 1 / 8
    n_locs = LOCS_PER_ROUND // 2 if nine_hole else LOCS_PER_ROUND
    lon0 = -122.1 + rng.randrange(900) * 0.001
    lat0 = 45.6 + rng.randrange(900) * 0.001
    pace_bias = rng.randrange(7) * 0.01
    locs, valid, quarantined = [], 0, 0
    for i in range(n_locs):
        lat = lat0 + i * 0.0005
        out_of_bounds = rng.random() < 1 / 32
        if out_of_bounds:
            lat = 95.0 + (i % 5)
        loc = {
            "hole": (i // 2) + 1,
            "sectionNumber": i + 1,
            "holeSection": (i % 2) + 1,
            "startTime": 55.0 * i + rng.randrange(11),
            "fixCoordinates": [lon0 + i * 0.0005, lat],
            "isProjected": i % 5 == 0,
            "isProblem": rng.random() < 1 / 97,
            "isCache": i % 4 == 0,
            "paceGap": round(0.5 + i * 0.1 + pace_bias, 3),
            "positionalGap": 0.3,
            "pace": round(4.0 + i * 0.05 + rng.random(), 3),
            "batteryPercentage": float(95 - i),
        }
        copies = [loc]
        if rng.random() < 1 / 16:  # cached duplicate with lower battery
            copies.append(dict(loc, isCache=True, batteryPercentage=float(80 - i)))
        locs.extend(copies)
        if out_of_bounds:
            quarantined += len(copies)
        else:
            valid += len(copies)
    goal = 15840 + rng.randrange(100) * 10
    complete = rng.random() >= 0.2
    doc = {
        "_id": round_id,
        "course": course,
        "startHole": 10 if rng.random() < 1 / 16 else 1,
        "startSection": 1,
        "endSection": 13 if nine_hole else 27,
        "isNineHole": nine_hole,
        "complete": complete,
        "goalTime": goal,
        "currentNine": 1 + rng.randrange(2),
        "device": f"dev-{rng.randrange(500)}",
        "goalName": "Default",
        "goalTimeFraction": 0.5,
        "isIncomplete": not complete,
        "isSecondary": rng.random() < 1 / 13,
        "isAutoAssigned": rng.random() < 1 / 17,
        "lastSectionStart": float(rng.randrange(900)),
        "currentSection": 1 + rng.randrange(27),
        "currentHole": 1 + rng.randrange(18),
        "currentHoleSection": 1 + rng.randrange(2),
        "locations": locs,
    }
    if rng.random() >= 1 / 16:  # 1 round in 16 carries no usable timestamps
        doc["startTime"] = start.strftime("%Y-%m-%dT%H:%M:%SZ")
        if rng.random() < 7 / 8:
            doc["endTime"] = (start + dt.timedelta(seconds=goal)).strftime(
                "%Y-%m-%dT%H:%M:%SZ"
            )
    return doc, valid, quarantined


def _write_course_day(
    rng: random.Random, root: str, course: str, ingest_date: str, n_rounds: int, tag: str
) -> CourseDay:
    path = os.path.join(root, f"course_id={course}", f"ingest_date={ingest_date}")
    os.makedirs(path, exist_ok=True)
    day = CourseDay(course, ingest_date, path, rounds=n_rounds)
    docs = []
    for r in range(n_rounds):
        doc, valid, quarantined = _round_doc(
            rng, course, f"{course}-{tag}-{r:05d}", rng.randrange(DATE_SPREAD_DAYS)
        )
        docs.append(doc)
        day.fixes_valid += valid
        day.fixes_quarantined += quarantined
    payload = json.dumps(docs).encode()
    with open(os.path.join(path, "part-00000.json"), "wb") as fh:
        fh.write(payload)
    day.bytes = len(payload)
    return day


def generate(
    root: str,
    seed: int,
    n_courses: int,
    rounds_per_course: int,
    n_refreshes: int = 0,
    rounds_per_refresh: int = 0,
) -> BronzeCorpus:
    """Write a backfill corpus of `n_courses` courses plus `n_refreshes`
    new course-days (each on a later ingest date) under `root`."""
    rng = random.Random(seed)
    courses = [f"course{c:03d}" for c in range(n_courses)]
    corpus = BronzeCorpus(root, courses)
    for course in courses:
        corpus.backfill.append(
            _write_course_day(
                rng, root, course, BACKFILL_INGEST_DATE, rounds_per_course, "b"
            )
        )
    first = dt.date.fromisoformat(BACKFILL_INGEST_DATE)
    for k in range(n_refreshes):
        course = courses[rng.randrange(n_courses)]
        ingest_date = (first + dt.timedelta(days=k + 1)).isoformat()
        corpus.refreshes.append(
            _write_course_day(rng, root, course, ingest_date, rounds_per_refresh, f"r{k}")
        )
    return corpus
