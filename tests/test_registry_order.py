"""Registry bookkeeping: the oracle-text ledger and the sim artifact.

QUERY_TEXT_HASHES.json records the sha of every oracle-backed query's
ORACLE text (maintained by tools/update_query_text_hashes.py). Every
oracle f-string-inlines the shared SQL it reads (bridge, fact_rounds
CTEs, topology), so an edit to shared text changes every dependent
oracle and shows up here as an un-recorded change. The newest
SIM_r{N}.json must name exactly the live registry.
"""

from __future__ import annotations

import importlib.util
import json
import re
from pathlib import Path

from tagmarshal_data_lakehouse_spark.queries import registry

_REPO = Path(__file__).resolve().parent.parent


def _ledger_tool():
    # the writer's oracle_sha definition, not a re-implementation, so
    # checker and tool can never hash differently
    spec = importlib.util.spec_from_file_location(
        "update_query_text_hashes", _REPO / "tools" / "update_query_text_hashes.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_oracle_sha = _ledger_tool().oracle_sha


def _ledger() -> dict[str, str]:
    return json.loads((_REPO / "QUERY_TEXT_HASHES.json").read_text())


def test_ledger_is_current():
    """Every oracle-backed query's CURRENT oracle text must be recorded
    in QUERY_TEXT_HASHES.json. A mismatch means an oracle (or shared
    SQL it inlines) was edited without re-recording."""
    ledger = _ledger()
    stale = [
        name
        for name, q in registry().items()
        if q.oracle is not None and ledger.get(name) != _oracle_sha(q.oracle)
    ]
    assert not stale, (
        "oracle text changed without re-recording (run "
        f"tools/update_query_text_hashes.py): {stale}"
    )


def test_ledger_has_no_ghost_entries():
    """The ledger may not carry names that left the registry (renames
    must re-record, not inherit a stale row)."""
    reg = registry()
    ghosts = [n for n in _ledger() if n not in reg or reg[n].oracle is None]
    assert not ghosts, f"ledger entries without a live oracle-backed query: {ghosts}"


def test_latest_sim_artifact_covers_the_live_population():
    """SIM_r{N}.json is written by tools/driver_sim.py, so nothing else
    stops the registry from growing after the artifact was recorded.
    The newest SIM artifact must name exactly the current registry;
    registering a query reddens this until the sim is re-run."""
    sims = sorted(
        _REPO.glob("SIM_r*.json"),
        key=lambda p: int(re.search(r"_r(\d+)\.json$", p.name).group(1)),
    )
    if not sims:
        return
    recorded = set(json.loads(sims[-1].read_text())["queries"])
    population = set(registry())
    assert recorded == population, (
        f"{sims[-1].name} is stale against the live registry: "
        f"missing {sorted(population - recorded)}, "
        f"ghost {sorted(recorded - population)} — re-run "
        "SIM_OUT=... tools/driver_sim.py"
    )


def test_registry_complete_and_unique():
    names = list(registry())
    assert len(names) == len(set(names))
    assert len(names) >= 104
