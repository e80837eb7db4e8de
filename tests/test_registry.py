"""Registry coverage-rotation invariant (VERDICT r3 item 5 / ADVICE r3):
the external correctness driver samples the first ~50 QUERIES entries, so
the insertion order IS the sampling policy. These tests make the rotation
self-maintaining: bump _CURRENT_ROUND without rotating stale queries back
into the window and the suite goes red.
"""

from __future__ import annotations

import hashlib
import subprocess
import sys
from pathlib import Path

import __spark_entry__ as entrymod
from space_launch_telemetry_analyzer_spark.queries import (
    ORACLES,
    QUERIES,
    _ADDED_ROUND,
    _CURRENT_ROUND,
    _LAST_DRIVER_CHECK,
    _REGISTRY_ORDER,
    _SAMPLE_HORIZON,
)


def test_bookkeeping_covers_every_query_exactly():
    assert sorted(_LAST_DRIVER_CHECK) == sorted(QUERIES)
    assert list(QUERIES) == _REGISTRY_ORDER


def test_no_query_ends_a_round_more_than_two_rounds_stale():
    """Every query whose effective last check (max of last external
    verdict and registration round — the staleness clock starts when the
    query exists) is < _CURRENT_ROUND - 2 must sit inside the driver's
    sampling window this round. This guarantees no query ever ENDS a
    round with a verdict older than two rounds. (r6 rule change from
    < ROUND - 1: at 105 queries the 2-round cycle exceeded the 50-slot
    window's capacity of 100 — see the comment block in queries.py.)"""
    window = set(_REGISTRY_ORDER[:_SAMPLE_HORIZON])
    stale = [q for q, last in _LAST_DRIVER_CHECK.items()
             if max(last, _ADDED_ROUND.get(q, 0)) < _CURRENT_ROUND - 2]
    out_of_window = [q for q in stale if q not in window]
    assert not out_of_window, (
        f"stale queries outside the first-{_SAMPLE_HORIZON} sampling window "
        f"(rotate them forward): {out_of_window}"
    )


def test_added_round_bookkeeping_is_sane():
    assert set(_ADDED_ROUND) <= set(QUERIES)
    assert all(3 < r <= _CURRENT_ROUND for r in _ADDED_ROUND.values())
    # a query with an external verdict was necessarily added by then
    assert all(_LAST_DRIVER_CHECK[q] == 0 or
               _ADDED_ROUND[q] <= _LAST_DRIVER_CHECK[q]
               for q in _ADDED_ROUND)


def test_last_check_rounds_are_sane():
    assert all(0 <= last <= _CURRENT_ROUND - 1
               for last in _LAST_DRIVER_CHECK.values())
    # at least the never-checked and previous-round buckets both exist in a
    # healthy rotation; an all-equal map means the bookkeeping went stale
    assert len(set(_LAST_DRIVER_CHECK.values())) >= 2


def test_every_query_has_an_oracle():
    """Every query has a DuckDB twin: each ORACLES entry resolves (strings
    and builders alike) to non-empty SQL. Genuinely non-SQL-expressible ops
    would be exempt, but there are none registered — the driver
    hash-checks all of them."""
    assert list(ORACLES) == list(QUERIES)
    for name in QUERIES:
        sql = ORACLES[name]
        assert isinstance(sql, str) and sql.strip(), name


def test_driver_sees_the_pinned_name_order():
    """The external driver samples the first 50 names of queries() and
    oracle_sql(), so their order is pinned: sha256 of the space-joined
    names. Reordering _REGISTRY_ORDER must update this hash on purpose."""
    pinned = "373958a9c9b3652e8e1fca955f71946c36ece562edf51858f39865f1f8b8b376"
    for names in (list(entrymod.queries()), list(entrymod.oracle_sql())):
        assert hashlib.sha256(" ".join(names).encode()).hexdigest() == pinned


def test_import_builds_no_generated_oracle():
    """A fresh import of the registry trains no classifier and calls no
    oracle builder; the SQL is built on first lookup."""
    code = (
        "import space_launch_telemetry_analyzer_spark.queries as Q\n"
        "from space_launch_telemetry_analyzer_spark.functions.langid_clf "
        "import langid_clf_tables\n"
        "assert langid_clf_tables.cache_info().misses == 0\n"
        "assert Q._oracle.cache_info().currsize == 0\n"
    )
    subprocess.run([sys.executable, "-c", code], check=True,
                   cwd=Path(__file__).resolve().parent.parent)


def test_horizon_marker_arithmetic_matches():
    """The 'sampling horizon ends here' comment in _REGISTRY_ORDER must sit
    after exactly _SAMPLE_HORIZON entries — r4 review found it drifting two
    entries late, silently dropping queries out of the driver's window."""
    import inspect
    import re

    import space_launch_telemetry_analyzer_spark.queries as qmod

    src = inspect.getsource(qmod)
    start = src.index("_REGISTRY_ORDER = [")
    marker = src.index("sampling horizon", start)
    before = src[start:marker]
    n_entries = len(re.findall(r'^\s*"[a-z0-9_]+",\s*$', before, re.M))
    assert n_entries == _SAMPLE_HORIZON, (
        f"horizon comment sits after {n_entries} entries, not {_SAMPLE_HORIZON}"
    )
