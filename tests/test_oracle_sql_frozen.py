"""Every ``oracle_sql()`` string is frozen byte for byte.

The DuckDB twins are the correctness reference for the Spark queries, so a
refactor of the query layer (shared CTE fragments, builders) must leave each
generated SQL string exactly as it was. ``oracle_sql_digests.json`` maps each
query name to the sha256 of its oracle string; a deliberate change to an
oracle regenerates that file in the same commit."""

from __future__ import annotations

import hashlib
import json
import os

import __spark_entry__ as entry_mod

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_sql_digests.json")


def _digests() -> dict[str, str]:
    return {
        name: hashlib.sha256(sql.encode()).hexdigest()
        for name, sql in entry_mod.oracle_sql().items()
    }


def test_oracle_names_frozen():
    with open(DIGESTS) as f:
        frozen = json.load(f)
    assert sorted(_digests()) == sorted(frozen)


def test_oracle_sql_byte_identical():
    with open(DIGESTS) as f:
        frozen = json.load(f)
    changed = sorted(n for n, d in _digests().items() if frozen.get(n) != d)
    assert not changed, f"oracle SQL changed for: {changed}"
