"""Relational operators Spark lacks as one-liners (SURVEY §2.3 C/E/F).

All are compositions of built-in DataFrame ops — no Python UDFs — so
Catalyst sees a fully declarative plan (pushdown, AQE, codegen apply).

Provenance: declared surface of OUR engine (SURVEY §2.3). The reference
implements no relational/data operators — its one dispatch arm is
ApiVersions (`/root/reference/pkg/kafka/kafka_api.go:84-97`); this module
realizes the driver-mandated query surface over the reference's declared
event-streaming data model (`/root/reference/README.md:17,27`).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Money/decimal canonicalization: exact decimal arithmetic for sums so
# results are bit-reproducible regardless of aggregation order — at
# 1000-executor scale partial-aggregate ordering is nondeterministic,
# and double sums would drift run-to-run. DECIMAL sums are exact.
MONEY = "decimal(15,2)"
RATE = "decimal(4,2)"
QTY = "decimal(15,2)"
VAL6 = "decimal(18,6)"


def money(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(MONEY)


def rate(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(RATE)


def qty(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(QTY)


def spread(df: DataFrame, *keys: str | Column) -> DataFrame:
    """Hash-repartition to the session's default parallelism by stable
    key columns (r13, guide §2.2/§2.5).

    Why: the fixture parquet files carry ONE row group each, so every
    scan is a single task and any heavy per-row work riding it
    (BigDecimal partial aggregates, HOF folds, shingle hashing) runs
    serially regardless of core count. One explicit hash exchange on a
    high-cardinality stable key moves that work onto every core; when
    a downstream groupBy/window clusters by a superset of (or exactly)
    these keys, EnsureRequirements reuses this exchange, so the plan
    pays no extra shuffle. Keyed (not round-robin) on purpose:
    round-robin repartition pays a local sort of the whole input in
    the serial scan task (SPARK-23207), and a hash key derived from
    stable column values is retry-deterministic. Partition count
    follows ``defaultParallelism`` (the SPARK_GRAFT_CPUS contract), so
    the same code is scale-adaptive on a cluster. Callers must verify
    the downstream aggregates are order-free (decimal/integer folds, or
    per-row-rounded terms) — raw double sums are order-SENSITIVE and
    must keep their scan partitioning (see q_gaussian_em)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(k) if isinstance(k, str) else k for k in keys]
    return df.repartition(n, *cols)


# Layout-probe cache: (defaultParallelism, input-file set | caller
# key) → effective scan width. Layout metadata only (never data or
# results); one probe per table layout until
# caching.release_session_caches() clears it. Callers that scan a
# stable path pass ``cache_key`` so repeat constructions skip even
# the file listing (measured ~0.2 s/construction under load).
_SCAN_WIDTH: dict[tuple[int, object], int] = {}


def _parquet_row_groups(files: tuple[str, ...]) -> int | None:
    """Total row groups across locally readable parquet files, or None
    when any footer is unreachable (object-store path, missing file)."""
    import pyarrow.parquet as pq

    total = 0
    for uri in files:
        path = uri[len("file:"):] if uri.startswith("file:") else uri
        try:
            total += pq.read_metadata(path).num_row_groups
        except Exception:
            return None
    return total


def effective_scan_width(df: DataFrame, cache_key: str | None = None) -> int:
    """Best-effort count of scan tasks that will actually produce rows
    for a scan-shaped frame (guide §6: split planning cannot divide a
    parquet row group, so a one-row-group file is ONE effective task
    however many byte-splits cover it).

    Planned split count (physical planning only — no job runs), capped
    by the total row-group count when footers are locally readable.
    Footers are consulted only when the file list is shorter than the
    session's parallelism: a many-file input is already parallel and
    needs no footer I/O, which keeps the probe O(1) driver work on a
    100 TB layout. Cached per (parallelism, file set) — or per
    (parallelism, ``cache_key``) when the caller names the stable
    source path, which also skips the per-construction file listing."""
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    if cache_key is not None and (n, cache_key) in _SCAN_WIDTH:
        return _SCAN_WIDTH[(n, cache_key)]
    try:
        files = tuple(sorted(df.inputFiles()))
    except Exception:
        return n  # unprobeable source: assume parallel, never add an exchange blind
    key = (n, files)
    if key not in _SCAN_WIDTH:
        if len(files) >= n:
            width = len(files)
        else:
            width = df.rdd.getNumPartitions()
            rg = _parquet_row_groups(files)
            if rg is not None:
                width = min(width, rg)
        _SCAN_WIDTH[key] = max(1, width)
    if cache_key is not None:
        _SCAN_WIDTH[(n, cache_key)] = _SCAN_WIDTH[key]
    return _SCAN_WIDTH[key]


def spread_if_serial(
    df: DataFrame,
    *keys: str | Column,
    probe: DataFrame | None = None,
    cache_key: str | None = None,
) -> DataFrame:
    """``spread`` gated on OBSERVED scan parallelism (r13 VERDICT #1).

    For a downstream aggregate whose grouping keys are NOT a superset
    of the spread key (q01's 4-group rollup, q_brand_volume's per-brand
    agg, q_corr_matrix's global moments), the spread exchange is a real
    extra full-data shuffle — the right trade only while the scan is
    effectively serial (the fixtures' one-row-group-per-file layout).
    On a layout whose scan is already parallel — the 100 TB case — that
    exchange would shuffle every fact row for nothing, so the frame is
    returned unchanged and the map-side partial aggregate rides the
    parallel scan as Catalyst plans it.

    ``probe`` (default ``df``) is the frame whose scan layout is
    inspected; pass the bare table scan when ``df`` carries filters so
    the probe result is shared across queries over the same table, and
    pass ``cache_key`` (the stable source path) so repeat
    constructions skip the probe entirely."""
    n = df.sparkSession.sparkContext.defaultParallelism
    width = effective_scan_width(probe if probe is not None else df, cache_key)
    if 2 * width > n:
        return df
    return spread(df, *keys)


def dsum(col: Column, alias: str) -> Column:
    """Exact decimal sum surfaced as double (stable across part orders)."""
    return F.sum(col).cast("double").alias(alias)


def davg(col: Column, alias: str) -> Column:
    """Order-stable average: exact decimal sum / count, in double."""
    return (F.sum(col).cast("double") / F.count(col)).alias(alias)


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Per-group top-k via row_number (Catalyst plans a partial top-k
    per partition before the shuffle when a limit-like filter follows
    a rank — no global sort)."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(w)).where(F.col(rank_col) <= k)


# asof_join auto-strategy knobs. Right sides above the row cap always
# take the union-window rewrite (the probe is a bounded
# limit(n+1).count(), so deciding never scans a 100 TB right side).
# Below the cap, a per-key count join estimates the range join's pair
# output: range wins only while Σ_k |L_k|·|R_k| stays within a small
# multiple of the linear |L|+|R| cost (measured: an events→orders
# as-of at ratio 1.2 runs 2.8× faster under range, while a
# grid-resample at ratio 48 runs 2× slower — the cutover sits well
# between).
ASOF_RANGE_MAX_RIGHT_ROWS = 5_000_000
ASOF_PAIR_BLOWUP_LIMIT = 8.0


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    right_vals: Sequence[str],
    tiebreak: str | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right_ts <= left_ts`` for the same key (inner: unmatched dropped).

    Spark has no native as-of join; two rewrites with different scale
    profiles are implemented, picked by ``strategy``:

    - ``"union_window"`` — interleave both sides ordered by
      (ts, side, tiebreak) and carry the last non-null right value
      forward with ``last(..., ignorenulls=True)``. ONE shuffle on the
      key and cost linear in |L|+|R| no matter how the keys fan out —
      the 100 TB default.
    - ``"range"`` — key-equi join with the ``right_ts <= left_ts``
      range predicate, then one max-struct aggregate per left row.
      Per-key cost is |L_k|·|R_k| pairs, so it is only safe when the
      right side is modest — but there it beats the union rewrite
      soundly (measured 1.1s vs 3.3s at fixture scale: the window
      sort over the interleaved union is the slow part).
    - ``"auto"`` — two-step cost probe. A bounded
      ``limit(n+1).count()`` short-circuits giant right sides to
      "union_window" without a full scan; below the cap, one
      per-key-count join estimates the range join's output pairs and
      picks "range" only when pairs ≤ ASOF_PAIR_BLOWUP_LIMIT × (|L|+|R|).
      The stats pass costs two count-aggregates over the inputs —
      negligible against the join itself at probe-eligible sizes, but
      repeated callers at fixed shapes should pass the strategy
      explicitly and skip the probe.

    Ties: right rows at identical ``right_ts`` are resolved by the
    largest ``tiebreak`` value on both paths.
    """
    if strategy == "auto":
        probe = right.limit(ASOF_RANGE_MAX_RIGHT_ROWS + 1).count()
        if probe > ASOF_RANGE_MAX_RIGHT_ROWS:
            strategy = "union_window"
        else:
            lc = left.groupBy(F.col(left_key).alias("__k")).agg(
                F.count(F.lit(1)).alias("__ln")
            )
            rc = right.groupBy(F.col(right_key).alias("__k")).agg(
                F.count(F.lit(1)).alias("__rn")
            )
            # unmatched keys generate no pairs, so matched-key sums are
            # the right linear-cost proxy (one action, no extra scans)
            st = (
                lc.join(rc, "__k")
                .agg(
                    F.sum(F.col("__ln") * F.col("__rn")).alias("pairs"),
                    F.sum("__ln").alias("l"),
                    F.sum("__rn").alias("r"),
                )
                .collect()[0]
            )
            linear = (st.l or 0) + (st.r or 0)
            blowup = (st.pairs or 0) / max(linear, 1)
            strategy = "range" if blowup <= ASOF_PAIR_BLOWUP_LIMIT else "union_window"
    if strategy == "range":
        return _asof_join_range(
            left, right, left_key, right_key, left_ts, right_ts, right_vals, tiebreak
        )
    tiebreak = tiebreak or right_vals[0]
    lcols = [c for c in left.columns]
    l = left.select(
        F.col(left_key).alias("__k"),
        F.col(left_ts).alias("__t"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(right.schema[tiebreak].dataType).alias("__tb"),
        F.struct(*lcols).alias("__l"),
        *[F.lit(None).cast(right.schema[v].dataType).alias(f"__r_{v}") for v in right_vals],
    )
    r = right.select(
        F.col(right_key).alias("__k"),
        F.col(right_ts).alias("__t"),
        F.lit(0).alias("__side"),
        F.col(tiebreak).alias("__tb"),
        F.lit(None).cast(left.select(F.struct(*lcols)).schema[0].dataType).alias("__l"),
        *[F.col(v).alias(f"__r_{v}") for v in right_vals],
    )
    w = (
        Window.partitionBy("__k")
        .orderBy(F.col("__t").asc(), F.col("__side").asc(), F.col("__tb").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l.unionByName(r).select(
        "__side",
        "__l",
        *[F.last(f"__r_{v}", ignorenulls=True).over(w).alias(f"__c_{v}") for v in right_vals],
    )
    out = carried.where(F.col("__side") == 1).select(
        *[F.col("__l").getField(c).alias(c) for c in lcols],
        *[F.col(f"__c_{v}").alias(v) for v in right_vals],
    )
    # inner-join semantics: drop left rows with no prior right row
    return out.where(F.col(right_vals[0]).isNotNull())


def _asof_join_range(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    right_vals: Sequence[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """Range-join as-of strategy (see asof_join): key-equi join with
    the time inequality, then ONE aggregate keeps the lexicographic
    max of (right_ts, tiebreak, vals...) per left row — no second
    window sort. Row identity comes from monotonically_increasing_id,
    which is stable per partition for deterministic sources (parquet
    scans), the only sources the engine feeds it."""
    tiebreak = tiebreak or right_vals[0]
    lcols = list(left.columns)
    l = left.withColumn("__lid", F.monotonically_increasing_id())
    # right columns renamed up front so self-joins (left is right) and
    # shared column names can never collide in the join output
    rsel = [F.col(right_key).alias("__rk"), F.col(right_ts).alias("__rt"),
            F.col(tiebreak).alias("__rtb")]
    rsel += [F.col(v).alias(f"__rv_{v}") for v in right_vals]
    r = right.select(*rsel)
    j = l.join(r, (F.col(left_key) == F.col("__rk")) & (F.col("__rt") <= F.col(left_ts)))
    best = F.max(
        F.struct(F.col("__rt"), F.col("__rtb"), *[F.col(f"__rv_{v}") for v in right_vals])
    ).alias("__best")
    agg = j.groupBy("__lid").agg(
        F.first(F.struct(*lcols)).alias("__l"), best
    )
    return agg.select(
        *[F.col("__l").getField(c).alias(c) for c in lcols],
        *[F.col("__best").getField(f"__rv_{v}").alias(v) for v in right_vals],
    )


def sessionize(
    df: DataFrame,
    key: str,
    ts: str,
    gap_seconds: int,
    order_tiebreak: str,
) -> DataFrame:
    """Gap-based sessionization (batch analog of session_window).

    Classic two-window formulation: flag rows whose gap from the
    previous event exceeds the threshold, then a running sum of flags
    is the session index. Both windows share one partitioning on the
    key — a single shuffle, and the same plan shape scales to any
    number of users (state is per-key, never global).
    """
    w = Window.partitionBy(key).orderBy(F.col(ts).asc(), F.col(order_tiebreak).asc())
    # Epoch seconds via an explicit TIMESTAMP hop: TIMESTAMP_NTZ→BIGINT
    # is an illegal cast in Spark 4, but NTZ→TIMESTAMP→unix_timestamp is
    # well-defined for every event-time type the engine accepts
    # (catalog.normalize_event_ts), and a LongType ts (already epoch
    # seconds) passes through cast("timestamp") unchanged in value.
    epoch = F.unix_timestamp(F.col(ts).cast("timestamp"))
    gap = epoch - F.lag(epoch).over(w)
    new_sess = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    return df.withColumn(
        "session_id",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )


def range_join_binned(
    left: DataFrame,
    value_col: str,
    intervals: DataFrame,
    lo_col: str,
    hi_col: str,
    bin_width: float,
) -> DataFrame:
    """Scalable range join with NO equi key: match each left row to the
    intervals containing its value (``lo <= v < hi``).

    The naive plan for this shape is a broadcast-nested-loop/cartesian
    — the classic 100 TB range-join killer. The standard fix is
    interval binning: every interval explodes into the fixed-width
    bins it covers, the fact side computes its single bin, and the
    join becomes a plain shuffle EQUI-join on the bin id with the
    range predicate as a residual filter. Each (row, interval) pair
    can meet through exactly ONE bin (the row's), so no dedup step is
    needed. Cost: interval side grows by width/bin_width copies —
    choose bin_width near the median interval width so the blowup is
    O(1) per interval; the fact side never grows.

    Returns left columns + the matched interval's columns (inner join;
    rows matching no interval drop — wrap the intervals to cover the
    domain if totality is required).
    """
    b = F.lit(float(bin_width))
    # empty intervals (hi <= lo) match nothing by the lo <= v < hi
    # contract — and must be dropped BEFORE binning, because sequence()
    # silently reverses direction when its end < start and would emit
    # bogus descending bins for them
    intervals = intervals.where(F.col(hi_col) > F.col(lo_col))
    iv = intervals.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / b).cast("long"),
                F.floor((F.col(hi_col) - F.lit(1e-9)) / b).cast("long"),
            )
        ),
    )
    lf = left.withColumn("__bin", F.floor(F.col(value_col) / b).cast("long"))
    out = lf.join(iv, "__bin").where(
        (F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col))
    )
    return out.drop("__bin")
