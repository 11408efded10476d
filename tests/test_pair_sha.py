"""The registry's query+oracle pairs are frozen: every ``pair_sha``
(scripts/oracle_check.pair_sha — sha256 of the query callable's source and
its oracle SQL) must equal the one recorded by the last full oracle run in
ORACLE_LOCAL_r05.json.  A refactor that edits a query or its oracle shows up
here without Spark; a deliberate change must re-run the oracle battery and
record the new pair."""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry_mod  # noqa: E402
from scripts.oracle_check import pair_sha  # noqa: E402


def test_pair_sha_set_unchanged():
    with open(os.path.join(ROOT, "ORACLE_LOCAL_r05.json")) as f:
        recorded = {n: q["pair_sha"] for n, q in json.load(f)["queries"].items()}
    queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    got = {n: pair_sha(fn, oracles.get(n)) for n, fn in queries.items()}
    assert got == recorded
