"""Registry order: the driver re-certifies only the first ~50 entries,
so the order is pinned to its one rule (suite/__init__.py): the
pre-empt list first, then every other query by (last certified round,
base position).  No Spark session needed."""

from __future__ import annotations

import importlib.util
import subprocess
import sys
from pathlib import Path

from trading_etl_python_spark import suite
from trading_etl_python_spark.suite import (
    ORACLES,
    QUERIES,
    TIERS,
    analytics,
    behavior,
    core,
    extensions,
    relational,
    sql_api,
)
from trading_etl_python_spark.suite._cert_ledger import LAST_CERT

REPO = Path(__file__).resolve().parent.parent
CERT_LEDGER = REPO / "tools" / "cert_ledger.py"
MODULES = (core, relational, extensions, analytics, behavior, sql_api)


def _cert_ledger():
    spec = importlib.util.spec_from_file_location("cert_ledger", CERT_LEDGER)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_registry_is_a_permutation_of_the_module_registries():
    names = [n for m in MODULES for n in m.QUERIES]
    assert len(names) == len(set(names))
    assert sorted(QUERIES) == sorted(names)
    assert sorted(suite._BASE) == sorted(names)
    assert set(ORACLES) == set(QUERIES) == set(TIERS)


def test_registry_order_follows_the_rule():
    order = list(QUERIES)
    pre = suite._PREEMPT
    assert order[: len(pre)] == pre
    pos = {n: i for i, n in enumerate(suite._BASE)}
    tail = order[len(pre) :]
    keys = [(LAST_CERT.get(n, 0), pos[n]) for n in tail]
    assert keys == sorted(keys)


def test_window_tool_prints_the_registry_head():
    out = subprocess.run(
        [sys.executable, str(CERT_LEDGER), "--window"],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout
    assert out.split() == list(QUERIES)[:50]


def test_checked_in_ledger_is_current():
    # a CORRECTNESS_r*.json without a ledger refresh would silently
    # leave the window on already-certified queries
    assert _cert_ledger().build_ledger() == LAST_CERT
