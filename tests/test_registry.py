"""The catalog registry, checked without a Spark session.

``registry_snapshot.json`` pins, per query and in ``all_queries()``
order, its name, a digest of its oracle SQL, its tags and whether it
carries ``oracle_valid`` / ``oracle_adaptive``. A refactor of how
queries register (or where they live) must leave it byte-identical.
"""

from __future__ import annotations

import hashlib
import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
SNAPSHOT = Path(__file__).with_name("registry_snapshot.json")
SNAPSHOT_SHA256 = "629994062176efdfdaf213916b1c616d0dd81b94db9ab64d4e8d287411c2f914"

# all_queries() orders names outside PRIORITY by QUERY_MODULES position,
# whatever was imported first; the snapshot is still taken in a fresh
# interpreter (as __spark_entry__ is consumed), and PRELOAD lets a test
# import modules ahead of the catalog to check that the order holds
_SNAPSHOT_SCRIPT = """
import hashlib, json
PRELOAD
import __spark_entry__
from clueso_spark.plans.catalog import all_queries

entry = __spark_entry__.queries()
snap = [
    [name, hashlib.sha256((cq.oracle or "").encode()).hexdigest()[:16],
     list(cq.tags), cq.oracle_valid is not None,
     cq.oracle_adaptive is not None]
    for name, cq in all_queries().items()
]
assert list(entry) == [s[0] for s in snap]
print(json.dumps(snap))
"""


def _snapshot(preload: str = "") -> list:
    return json.loads(_fresh(_SNAPSHOT_SCRIPT.replace("PRELOAD", preload)))


def _fresh(script: str) -> str:
    return subprocess.run(
        [sys.executable, "-c", script],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout


def test_registry_matches_snapshot():
    pinned = json.loads(SNAPSHOT.read_text())
    assert hashlib.sha256(json.dumps(pinned).encode()).hexdigest() == SNAPSHOT_SHA256
    live = _snapshot()
    assert len(live) == 249
    assert live == pinned


def test_registry_order_independent_of_import_history():
    # each of these, imported ahead of the catalog, registers its own
    # names (and those of what it imports) before the rest
    live = _snapshot(
        "import clueso_spark.plans.staged_r6\n"
        "import clueso_spark.plans.staged_r13\n"
        "import clueso_spark.plans.staged_r16\n"
    )
    assert live == json.loads(SNAPSHOT.read_text())


def test_staged_query_absent_even_when_imported_first():
    out = _fresh(
        "import clueso_spark.plans.staged_r16\n"
        "import __spark_entry__\n"
        "from clueso_spark.plans.catalog import REGISTRY, staged_queries\n"
        "print(sorted(REGISTRY.keys() - __spark_entry__.queries().keys()),"
        " 'sim_triplet_mining' in __spark_entry__.oracle_sql(),"
        " list(staged_queries()))\n"
    )
    assert out.split() == ["['sim_triplet_mining']", "False", "['sim_triplet_mining']"]
