"""Registry derived from disk: all_queries() imports every module under
kcore_spark/queries in sorted order, so a module on disk cannot be left
out of the registry. No SparkSession needed.
"""

from __future__ import annotations

import importlib
import pkgutil

import pytest

from kcore_spark import queries as qpkg


def test_order_is_deterministic():
    assert list(qpkg.all_queries()) == list(qpkg.all_queries())


def test_registry_is_union_of_every_module_on_disk():
    names: set[str] = set()
    for info in pkgutil.iter_modules(qpkg.__path__):
        mod = importlib.import_module(f"{qpkg.__name__}.{info.name}")
        names |= set(mod.QUERIES)
    registry = qpkg.all_queries()
    assert set(registry) == names
    assert len(registry) == 747


def test_unsigned_names_come_first():
    signed = qpkg._driver_signed_from_disk()
    flags = [name in signed for name in qpkg.all_queries()]
    assert flags == sorted(flags)


def test_duplicate_name_raises(monkeypatch):
    from kcore_spark.queries import dedup, tpch

    clash = next(iter(dedup.QUERIES))
    monkeypatch.setattr(tpch, "QUERIES", {**tpch.QUERIES, clash: dedup.QUERIES[clash]})
    with pytest.raises(ValueError, match=clash):
        qpkg.all_queries()
