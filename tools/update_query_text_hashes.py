"""Maintain QUERY_TEXT_HASHES.json — the oracle-text ledger behind
tests/test_registry_order.py.

Every oracle-backed query's ORACLE text, which f-string-inlines all the
shared SQL it reads (bridge, fact_rounds CTEs, topology), is hashed
into a checked-in ``{name: sha}`` file. A shared-text edit therefore
changes the recorded sha of every dependent oracle, and
``test_ledger_is_current`` goes red until the edit is re-recorded
deliberately (the failure mode this closes: widening the shared
events->telemetry bridge once silently changed the SQL under 8
telemetry entries).

Usage, whenever any oracle text changes (including via shared SQL):

    python tools/update_query_text_hashes.py
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))

LEDGER = _REPO / "QUERY_TEXT_HASHES.json"


def oracle_sha(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()[:16]


def main() -> None:
    from tagmarshal_data_lakehouse_spark.queries import registry

    old = json.loads(LEDGER.read_text()) if LEDGER.exists() else {}
    out = {
        name: oracle_sha(q.oracle)
        for name, q in registry().items()
        if q.oracle is not None
    }
    changed = sorted(n for n, sha in out.items() if old.get(n) != sha)
    dropped = sorted(set(old) - set(out))
    LEDGER.write_text(json.dumps(out, indent=0, sort_keys=True) + "\n")
    print(f"{len(out)} oracle-backed entries in the ledger")
    print(f"{len(changed)} re-recorded: {changed}")
    if dropped:
        print(f"dropped (no longer in the registry): {dropped}")


if __name__ == "__main__":
    main()
