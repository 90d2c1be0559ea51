"""Registry invariants: the driver consumes `queries()` positionally (the
leading entries form its correctness window), so registry edits must not
silently reorder, drop, or orphan entries.  Pure-structure checks — no
Spark session, runs in milliseconds."""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E


def _current_window():
    """The declared round's window, discovered by the HIGHEST _R<N>_WINDOW
    (the same rule tools/window_age.py uses) so a round rotation doesn't
    need to touch this file."""
    attrs = [a for a in dir(E) if re.fullmatch(r"_R(\d+)_WINDOW", a)]
    assert attrs, "no _R<N>_WINDOW declared"
    return getattr(
        E,
        max(attrs, key=lambda a: int(re.fullmatch(r"_R(\d+)_WINDOW", a)
                                     .group(1))),
    )


def test_window_leads_registry():
    """The declared driver window is exactly the leading block of
    queries() — a reordering that pushed a window entry out of the
    driver's slice would silently drop its correctness row."""
    window = _current_window()
    assert len(window) == 50
    assert list(E.queries())[: len(window)] == window


def test_window_names_resolve():
    qs = E.queries()
    missing = [n for n in _current_window() if n not in qs]
    assert not missing, f"window names not in registry: {missing}"


def test_every_query_has_an_oracle():
    """Every registry entry carries DuckDB oracle SQL (the repo's
    correctness contract: rows-only entries would silently downgrade the
    driver's check)."""
    qs, sql = E.queries(), E.oracle_sql()
    missing = [n for n in qs if n not in sql]
    assert not missing, f"queries with no oracle: {missing}"
    extra = [n for n in sql if n not in qs]
    assert not extra, f"oracles with no query: {extra}"


def test_no_duplicate_registry_names():
    """_ALL_QUERIES keys are unique by dict construction, but the window
    must not repeat a name (a repeat would shrink the driver's effective
    coverage by one slot)."""
    window = _current_window()
    assert len(set(window)) == len(window)


def test_incremental_phase_names_resolve():
    qs = E.queries()
    missing = [n for n in E.incremental_phases() if n not in qs]
    assert not missing, f"incremental_phases names not in registry: {missing}"
