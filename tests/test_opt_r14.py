"""Focused pins for the round-14 optimizations.

1. **Layout-gated spread** (operators/relational.py::spread_if_serial,
   r13 VERDICT "what's wrong" #1): the parallelizing exchange before a
   NON-key-aligned reducing aggregate (q01_pricing_summary,
   q_brand_volume, q_corr_matrix) must fire on the fixtures'
   one-row-group-per-file layout and must NOT fire on a layout whose
   scan is already parallel — at 100 TB it would shuffle the whole
   fact table for nothing.
2. **Tiled two-NN pair walk** (extensions_r10az.py::_block_nn, r13
   VERDICT #2 / ADVICE #3): the row-chunked distance computation is
   bit-identical to the dense n×n walk for any chunk size.
3. **Single-aggregate capped baskets** (extensions_r9i.py
   q_item_item_cosine): slice(array_sort(collect_set(i)), 1, CAP)
   equals the old distinct + row_number()<=CAP window.
4. **Shared co-order edge table** (operators/graph.py::
   shared_co_order_edges): one materialization per (session, sf_dir),
   cleared by release_session_caches.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from kcore_spark.catalog import load_table
from kcore_spark.operators.relational import effective_scan_width, spread_if_serial

SF_DIR = "/root/testdata/sf0.001"


# ------------------------------------------------- layout-gated spread


def test_effective_scan_width_sees_serial_fixture_layout(spark):
    # every fixture parquet file carries one row group -> one
    # effective scan task however many byte-splits cover it
    li = load_table(spark, SF_DIR, "lineitem")
    assert effective_scan_width(li) == 1


def test_release_session_caches_clears_scan_width_probes():
    # a rewritten source path must be re-probed after a full reset
    from kcore_spark.caching import release_session_caches
    from kcore_spark.operators import relational

    relational._SCAN_WIDTH[(4, "/stale/path")] = 1
    release_session_caches()
    assert not relational._SCAN_WIDTH


def test_spread_if_serial_fires_on_fixture_layout(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    out = spread_if_serial(li, "l_orderkey")
    assert out is not li
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_spread_if_serial_noop_on_parallel_layout(spark, tmp_path):
    n = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "li_multifile.parquet")
    (
        load_table(spark, SF_DIR, "lineitem")
        .repartition(n)
        .write.mode("overwrite")
        .parquet(path)
    )
    mf = spark.read.parquet(path)
    assert effective_scan_width(mf) >= n
    # identity return: no exchange is added on an already-parallel scan
    assert spread_if_serial(mf, "l_orderkey") is mf


# ------------------------------------------------- tiled two-NN walk


def _dense_two_nn(X: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """The r13 dense-matrix reference: full n×n dimension-sequential
    accumulation, two smallest values per row."""
    acc = np.zeros((n, n))
    for d in range(X.shape[1]):
        diff = X[:, d][:, None] - X[:, d][None, :]
        acc += diff * diff
    D = np.sqrt(acc)
    np.fill_diagonal(D, np.inf)
    two = np.partition(D, 1, axis=1)
    return two[:, 0].copy(), two[:, 1].copy()


def test_block_nn_tiled_matches_dense_bitwise(monkeypatch):
    from kcore_spark.queries import extensions_r10az as mod

    rng = np.random.default_rng(7)
    n, dim = 257, 8
    X = rng.normal(size=(n, dim))
    # duplicate a few rows so zero/tied distances exercise the
    # value-selection argument
    X[13] = X[200]
    X[14] = X[201]
    pdf = pd.DataFrame(
        {"vec_id": np.arange(n, dtype=np.int64), "e": [list(r) for r in X]}
    )
    # force many chunks (chunk size 16 rows) through the tiled path
    monkeypatch.setattr(mod, "_NN_TILE_ELEMS", 16 * n)
    out = mod._block_nn(pdf)
    r1_ref, r2_ref = _dense_two_nn(X, n)
    assert np.array_equal(out["r1"].to_numpy(), r1_ref)  # bitwise
    assert np.array_equal(out["r2"].to_numpy(), r2_ref)


def test_block_nn_tiny_blocks():
    from kcore_spark.queries.extensions_r10az import _block_nn

    one = pd.DataFrame({"vec_id": np.array([5], dtype=np.int64), "e": [[1.0, 2.0]]})
    assert len(_block_nn(one)) == 0
    two = pd.DataFrame(
        {"vec_id": np.array([5, 9], dtype=np.int64), "e": [[0.0, 0.0], [3.0, 4.0]]}
    )
    out = _block_nn(two)
    # n == 2: single candidate -> r1 == r2 (dropped by the query's
    # r2 > r1 filter, matching the old rn<=2 window semantics)
    assert list(out["r1"]) == [5.0, 5.0]
    assert list(out["r2"]) == [5.0, 5.0]


# ------------------------------------- capped baskets, one aggregate


def test_sorted_set_slice_equals_window_cap(spark):
    rows = [
        (c, i)
        for c in range(1, 8)
        for i in list(range(c * 3))[::-1] + [0, 1]  # dups + unsorted
    ]
    df = spark.createDataFrame(rows, "c int, i int")
    cap = 4
    via_set = (
        df.groupBy("c")
        .agg(F.slice(F.array_sort(F.collect_set("i")), 1, cap).alias("ps"))
        .select("c", F.explode("ps").alias("i"))
    )
    w = Window.partitionBy("c").orderBy("i")
    via_window = (
        df.distinct()
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= cap)
        .select("c", "i")
    )
    a = sorted(map(tuple, via_set.collect()))
    b = sorted(map(tuple, via_window.collect()))
    assert a == b


# ------------------------------------------- shared co-order edges


def test_shared_co_order_edges_materializes_once(spark):
    from kcore_spark.caching import release_session_caches
    from kcore_spark.operators import graph as graph_ops

    release_session_caches()
    e1 = graph_ops.shared_co_order_edges(spark, SF_DIR)
    e2 = graph_ops.shared_co_order_edges(spark, SF_DIR)
    assert e1 is e2  # second consumer reuses the materialized table
    # same edge set as a fresh (unshared) build
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_partkey")
    fresh = graph_ops.co_order_edges(li)
    assert sorted(map(tuple, e1.collect())) == sorted(map(tuple, fresh.collect()))
    release_session_caches()
    assert not graph_ops._CO_EDGES
