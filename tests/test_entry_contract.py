"""Driver-contract invariants for __spark_entry__.py.

The driver's correctness gate records rows for roughly the first 50
``queries()`` entries per round, so the explicit DRIVER_ORDER /
TAIL_ORDER lists ARE the row budget — these tests keep them in sync
with the actual registrations so a newly added operator can't silently
land outside the ordering policy (or fall off the driver window
unnoticed).
"""

from __future__ import annotations

import __spark_entry__ as E


def test_order_lists_cover_exactly_the_registered_queries():
    registered = set(E.queries().keys())
    listed = set(E.DRIVER_ORDER) | set(E.TAIL_ORDER)
    assert set(E.DRIVER_ORDER).isdisjoint(E.TAIL_ORDER)
    missing = registered - listed
    stale = listed - registered
    assert not missing, f"register new queries in DRIVER_ORDER/TAIL_ORDER: {missing}"
    assert not stale, f"remove unregistered names from the order lists: {stale}"


def test_queries_dict_iterates_in_driver_order():
    names = list(E.queries().keys())
    assert names == E.DRIVER_ORDER + E.TAIL_ORDER


def test_driver_window_holds_the_untested_before_the_tail():
    # every name in the tail had a green CORRECTNESS_r01 row; the driver
    # window (first 50) must contain the whole DRIVER_ORDER list
    assert len(E.DRIVER_ORDER) <= 50, (
        "DRIVER_ORDER exceeds the observed driver row budget; move "
        "redundant entries to TAIL_ORDER"
    )


def test_every_oracle_key_has_a_query():
    qs, oracles = set(E.queries()), set(E.oracle_sql())
    assert oracles <= qs, f"oracle without query: {oracles - qs}"


def test_oracle_check_rejects_unknown_query_name():
    # an unregistered name used to select zero queries and exit 0
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "oracle_check.py"),
         "no_such_query"],
        cwd=root, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode != 0
    assert "no_such_query" in proc.stdout + proc.stderr


def test_heavy_list_names_registered_queries():
    # `oracle_check.py --heavy` exits 2 on any unregistered name, so a
    # query deleted from the registry must leave HEAVY too
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    stale = set(mod.HEAVY) - set(E.queries())
    assert not stale, f"HEAVY names unregistered queries: {stale}"
