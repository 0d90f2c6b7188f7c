"""Bridge-census gate: the 87/94 library-coverage claim, re-derived.

OPERATORS.md §"Bridge census" states that 87 of the 94 reference
library texts (74 fixed + 20 parameterized) have driver-grade bridge
entries and names the 7 skips with measured reasons. VERDICT r8 item 6:
that census must be auditable without reading the 4,800-line bridge
module, and must not drift — a skip can neither appear (a library text
silently losing its bridge) nor vanish (a bridged text still listed as
skipped) without this suite going red.

Detection is textual by necessity: bridge builders reference their
library text by its registry name string (`_bridged(spark, sf_dir,
"pace_by_section")`, `_expl_on_model(..., "demo_top3_months")`, ...).
The scan therefore captures quoted strings ONLY inside the bridge
helpers' call argument lists — a name surviving in a doc string, a
shim list, or a dict key after its builder is deleted must NOT keep
the census green (review r9: an anywhere-in-file quoted-name scan had
exactly that hole). A nested paren inside a call would truncate the
capture and turn the census red LOUDLY (a missing-name false positive),
never silently green. Parameterized names may appear with or without
their `get_` prefix.
"""

from __future__ import annotations

import re
from pathlib import Path

from tagmarshal_data_lakehouse_spark.queries import telemetry, telemetry_bridge

_REPO = Path(__file__).resolve().parent.parent
_BRIDGE_SRC = (
    _REPO / "tagmarshal_data_lakehouse_spark" / "queries" / "telemetry_bridge.py"
).read_text()

# The 7 deliberate skips — reasons in OPERATORS.md §"Bridge census" and
# the ex_*, demo_* and get_* batch comments in telemetry_bridge.py.
# Change BOTH when (un)bridging a text.
EXPECTED_SKIPS = {
    "ex_duplicate_fix_check",       # structurally empty: 0 dup (round, ts) pairs
    "expl_np_missing_ts_by_round",  # tie-arbitrary LIMIT 20 (all counts = 1)
    "demo_rarest_sections",         # tie-arbitrary LIMIT 50 (colliding counts)
    "round_list",                   # tie-arbitrary LIMIT 100 (shared dates)
    "ex_slow_rounds",               # structurally empty: pace > 500 unreachable
    "expl_bottleneck_analysis",     # structurally empty at test SF (HAVING > 50)
    "get_round_map_points",         # data-dependent round_id parameter
}


# args may contain ONE level of nested call parens (e.g. the
# round_progression builder passes round_id=_min_round(spark, ...));
# deeper nesting truncates the capture and reds the census loudly.
_BUILDER_CALL = re.compile(
    r"_(?:bridged|expl_on_model)\(\s*spark,\s*sf_dir,((?:[^()]|\([^()]*\))*)\)"
)


def _census() -> tuple[list[str], set[str]]:
    names = sorted(telemetry.TELEMETRY_QUERIES) + sorted(telemetry.PARAMETERIZED)
    quoted: set[str] = set()
    for args in _BUILDER_CALL.findall(_BRIDGE_SRC):
        quoted.update(re.findall(r"[\"']([a-z0-9_]+)[\"']", args))
    assert quoted, "no bridge builder calls found — the scan regex is broken"
    skipped = {
        n
        for n in names
        if n not in quoted and n.removeprefix("get_") not in quoted
    }
    return names, skipped


def test_library_surface_is_94_texts():
    names, _ = _census()
    assert len(names) == 94, (
        f"library surface changed ({len(names)} texts): restate the census "
        "in OPERATORS.md and this module"
    )
    assert len(set(names)) == len(names)


def test_skip_set_matches_the_declared_census():
    _, skipped = _census()
    assert skipped == EXPECTED_SKIPS, (
        f"bridge census drifted: newly-skipped {sorted(skipped - EXPECTED_SKIPS)}, "
        f"bridged-but-still-listed {sorted(EXPECTED_SKIPS - skipped)} — update "
        "OPERATORS.md §'Bridge census' and EXPECTED_SKIPS together"
    )


def test_operators_md_lists_every_skip():
    ops = (_REPO / "OPERATORS.md").read_text()
    section = ops[ops.index("### Bridge census") :]
    missing = [n for n in EXPECTED_SKIPS if f"`{n}`" not in section]
    assert not missing, f"OPERATORS.md bridge-census table is missing: {missing}"


def test_bridge_entries_cover_every_gold_model():
    """Registered bridge entries must cover all 20 gold models. Every
    gold bridge entry's doc cites its model as
    'gold/models.py <MODEL_CONST>' — matched with a word boundary so a
    prose mention of another model (e.g. 'the bridged fact_rounds
    chain') cannot mark that model covered."""
    from tagmarshal_data_lakehouse_spark.gold.models import MODELS

    docs = [q.doc or "" for q in telemetry_bridge.QUERIES]
    missing = [
        m.name
        for m in MODELS
        if not any(
            re.search(rf"gold/models\.py\s+{re.escape(m.name.upper())}\b", doc)
            for doc in docs
        )
    ]
    assert not missing, f"gold models without a bridge entry: {missing}"
