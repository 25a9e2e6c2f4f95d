"""Session cache hygiene for persisted intermediates.

Several queries persist() intermediates that feed multiple plan
branches (signature tables, routed-scan projections, shingle sets).
The persist is load-bearing — without it the branch re-computes — but
in a long-lived session the cached partitions accumulate until
executor storage evicts them, and eviction pressure then slows every
later cache-dependent query (observed: PageRank at the tail of the
bench ran 2× slower than in a fresh session).

Pattern: a query registers its per-call persists with
``transient_persist``; the harness (bench, oracle checker, tests)
calls ``release_transients`` after the query's terminal action, when
the cached data can no longer be needed. Deliberately session-scoped
caches (the shared shingle table) do NOT go through this registry —
they are the materialized-intermediate pattern and live for the
session; ``release_session_caches`` clears those too for callers that
want a full reset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRANSIENT: list[DataFrame] = []


def transient_persist(df: DataFrame) -> DataFrame:
    """persist() a per-query intermediate and register it for release
    after the query's action completes."""
    df.persist()
    _TRANSIENT.append(df)
    return df


def release_transients() -> None:
    """Unpersist every registered per-query intermediate. Safe to call
    at any time — lazy plans re-compute without the cache; callers
    invoke this after the terminal action (collect/write), when the
    cache has already served its purpose."""
    for df in _TRANSIENT:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
    _TRANSIENT.clear()


def release_session_caches() -> None:
    """Full reset: transient persists, the deliberately session-scoped
    shared intermediates (shingle tables, co-order edge tables) and
    the scan-width layout probes, which a rewritten source path would
    otherwise keep answering from a stale layout."""
    release_transients()
    from kcore_spark.operators import graph as graph_ops
    from kcore_spark.operators import relational
    from kcore_spark.queries import dedup as dedup_queries

    for df in dedup_queries._SHINGLES.values():
        try:
            df.unpersist()
        except Exception:
            pass
    dedup_queries._SHINGLES.clear()
    for df in graph_ops._CO_EDGES.values():
        try:
            df.unpersist()  # localCheckpointed RDD blocks also free on deref
        except Exception:
            pass
    graph_ops._CO_EDGES.clear()
    relational._SCAN_WIDTH.clear()
