"""The registry loads every query module and orders the driver window.

``load_all`` imports each module in ``_QUERY_MODULES`` without a safety
net, so a module that fails to import fails here instead of silently
shrinking the query surface; the count pins that surface. The driver's
correctness gate checks the first 50 names in iteration order, so every
``_PRIORITY`` name must be registered (a stale name would silently give
its window slot to the alphabetical tail).
"""

from __future__ import annotations

from feature_datalake_sl_mandic_spark import registry

N_QUERIES = 243
WINDOW = 50


def test_registry_holds_every_query():
    assert len(registry.load_all()) == N_QUERIES


def test_priority_names_are_registered_and_lead_the_window():
    specs = registry.load_all()
    assert len(registry._PRIORITY) == WINDOW
    assert len(set(registry._PRIORITY)) == WINDOW
    assert [n for n in registry._PRIORITY if n not in specs] == []
    assert list(specs)[:WINDOW] == registry._PRIORITY
