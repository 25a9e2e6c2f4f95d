"""Round-8 surface extensions (SURVEY §2.3 N r8): model-evaluation
analytics (ROC AUC, calibration/Brier, decile lift), distribution
drift (PSI), privacy (l-diversity beside r7's k-anonymity), and
sequence mining (top event paths) — the offline-evaluation block a
training-data pipeline runs after the scoring pass.

Provenance: declared surface of OUR engine; the reference implements
only ApiVersions (`/root/reference/pkg/kafka/kafka_api.go:106-125`).
Every query pairs with a DuckDB oracle per the FIXTURES.md
determinism rules: integer/decimal domains everywhere a sum crosses
rows, doubles only in per-row or per-small-group final arithmetic,
fully tie-broken orderings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kcore_spark.catalog import load_table
from kcore_spark.operators.similarity import as_double
from kcore_spark.queries import QuerySpec

QUERIES: dict[str, QuerySpec] = {}


# ------------------------------------------------- distributed rank
# The r7 WOE-binning machinery, factored: a global dense rank without
# the single-partition window Spark would otherwise plan. Range-
# repartition on the sort key (parallel per-partition row_numbers),
# broadcast the 32-row cumulative partition offsets — the same
# control-plane-collect pattern as topic-log offset assignment.


def _dist_rank(
    df: DataFrame, sort_cols: list, n_parts: int | None = None
) -> DataFrame:
    """Append a global 1-based row number ``rk`` ordered by sort_cols,
    computed distributed. localCheckpoint pins the sampled range
    boundaries so the offsets job and the rank job see the SAME
    partitioning (repartitionByRange resamples per job otherwise).
    n_parts defaults to the session's parallelism (r13 — was a
    hard-coded 32): rank/cumsum over a total order are partition-count
    invariant, so the same code scales with the core budget."""
    if n_parts is None:
        n_parts = df.sparkSession.sparkContext.defaultParallelism
    src = (
        df.repartitionByRange(n_parts, *[c.asc() for c in sort_cols])
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    counts = {
        r["__pid"]: r["c"]
        for r in src.groupBy("__pid").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_map = F.create_map(
        *[x for pid, off in offsets.items() for x in (F.lit(pid), F.lit(off))]
    )
    w = Window.partitionBy("__pid").orderBy(*[c.asc() for c in sort_cols])
    return src.withColumn(
        "rk", F.row_number().over(w) + F.element_at(off_map, F.col("__pid"))
    ).drop("__pid")


def _dist_cumsum(
    df: DataFrame,
    sort_cols: list,
    val_col: str,
    out_col: str = "cum",
    n_parts: int | None = None,
) -> DataFrame:
    """Append the INCLUSIVE global prefix sum of ``val_col`` over the
    ``sort_cols`` order, computed distributed — the running-sum twin
    of _dist_rank: range-repartition on the sort key, per-partition
    running sums in parallel, then one broadcast map of the ≤n_parts
    cumulative partition totals. The collect is control-plane
    (n_parts rows), never data-plane; no single-partition window."""
    if n_parts is None:
        n_parts = df.sparkSession.sparkContext.defaultParallelism
    src = (
        df.repartitionByRange(n_parts, *[c.asc() for c in sort_cols])
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    sums = {
        r["__pid"]: r["s"]
        for r in src.groupBy("__pid").agg(F.sum(val_col).alias("s")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(sums):
        offsets[pid] = acc
        acc += sums[pid] or 0
    off_map = F.create_map(
        *[x for pid, off in offsets.items() for x in (F.lit(pid), F.lit(off))]
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*[c.asc() for c in sort_cols])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return src.withColumn(
        out_col, F.sum(val_col).over(w) + F.element_at(off_map, F.col("__pid"))
    ).drop("__pid")


def _dist_rank_cumsum(
    df: DataFrame,
    sort_cols: list,
    val_col: str,
    rk_col: str = "rk",
    cum_col: str = "cum",
    n_parts: int | None = None,
) -> DataFrame:
    """Append BOTH the global 1-based row number and the inclusive
    global prefix sum of ``val_col`` over the ``sort_cols`` order, in
    ONE range-repartition pass (one shuffle, one ≤n_parts-row
    control-plane collect carrying count+sum per partition). The
    fused twin of _dist_rank + _dist_cumsum for walks that need a row
    index and a running total in the same order — e.g. PR-curve
    average precision (precision@i = cum_pos/i at every positive).
    Added r12 when the bounded-domain probe showed q_pr_auc's score
    table is row-count-sized by construction."""
    if n_parts is None:
        n_parts = df.sparkSession.sparkContext.defaultParallelism
    src = (
        df.repartitionByRange(n_parts, *[c.asc() for c in sort_cols])
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    stats = {
        r["__pid"]: (r["c"], r["s"])
        for r in src.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("c"), F.sum(val_col).alias("s"))
        .collect()
    }
    cnt_off, sum_off, acc_c, acc_s = {}, {}, 0, 0
    for pid in sorted(stats):
        cnt_off[pid], sum_off[pid] = acc_c, acc_s
        c, s = stats[pid]
        acc_c += c
        acc_s += s or 0
    cmap = F.create_map(
        *[x for pid, off in cnt_off.items() for x in (F.lit(pid), F.lit(off))]
    )
    smap = F.create_map(
        *[x for pid, off in sum_off.items() for x in (F.lit(pid), F.lit(off))]
    )
    w = Window.partitionBy("__pid").orderBy(*[c.asc() for c in sort_cols])
    wsum = w.rowsBetween(Window.unboundedPreceding, 0)
    return (
        src.withColumn(
            rk_col, F.row_number().over(w) + F.element_at(cmap, F.col("__pid"))
        )
        .withColumn(
            cum_col, F.sum(val_col).over(wsum) + F.element_at(smap, F.col("__pid"))
        )
        .drop("__pid")
    )


def _dist_cummax_prev(
    df: DataFrame,
    sort_cols: list,
    val_col: str,
    out_col: str,
    n_parts: int = 32,
) -> DataFrame:
    """Append the EXCLUSIVE global running max of ``val_col`` over the
    ``sort_cols`` order (NULL for the globally first row), computed
    distributed: range-repartition, per-partition exclusive cummax
    windows in parallel, then fold in the broadcast running max of all
    EARLIER partitions' maxima (≤n_parts control-plane rows). greatest()
    skips NULLs, which is exactly the exclusive-prefix semantics."""
    src = (
        df.repartitionByRange(n_parts, *[c.asc() for c in sort_cols])
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    maxes = {
        r["__pid"]: r["m"]
        for r in src.groupBy("__pid").agg(F.max(val_col).alias("m")).collect()
    }
    offsets, run = {}, None
    for pid in sorted(maxes):
        offsets[pid] = run
        if maxes[pid] is not None:
            run = maxes[pid] if run is None else max(run, maxes[pid])
    entries = [
        x
        for pid, off in offsets.items()
        if off is not None
        for x in (F.lit(pid), F.lit(off))
    ]
    off_col = (
        F.element_at(F.create_map(*entries), F.col("__pid"))
        if entries
        else F.lit(None).cast(dict(src.dtypes)[val_col])
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*[c.asc() for c in sort_cols])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return src.withColumn(
        out_col, F.greatest(F.max(val_col).over(w), off_col)
    ).drop("__pid")


# ---------------------------------------------------------- ROC AUC
# AUC as the Mann-Whitney U statistic with tie-averaged ranks — the
# exact (not trapezoid-approximate) formulation:
#   AUC = (Σ_pos avgrank − n_pos(n_pos+1)/2) / (n_pos · n_neg)
# All sums stay in the INTEGER domain (avgrank·2 is an integer:
# 2·min_rank + ties − 1), so the only floating-point step is one final
# division — bit-stable across engines by construction.

_AUC_W = [((11 * i + 5) % 23 - 11) / 40.0 for i in range(64)]


def q_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of a pinned linear scorer against the binary
    target label ≥ 5, via tie-averaged Mann-Whitney ranks.

    Plan shape for 100 TB: score is a map-side fold riding the scan;
    the global rank uses the distributed range-repartition machinery
    (no single-partition window — see _dist_rank); the per-score tie
    groups and the final 1-row reduction are integer-domain
    aggregates. Output also carries n_pos/n_neg so a wrong filter
    breaks the hash, not just the ratio."""
    emb = load_table(spark, sf_dir, "embeddings")
    w = F.array(*[F.lit(c) for c in _AUC_W])
    x = as_double(F.col("embedding"))
    score = F.aggregate(
        F.zip_with(x, w, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v
    )
    scored = emb.select(
        score.alias("s"), (F.col("label") >= 5).cast("int").alias("pos")
    )
    # per distinct score: row count + positive count (ties collapse here,
    # so the rank table is |distinct scores| — bounded by model output
    # cardinality at scale, and the ONLY globally-ordered object)
    by_score = scored.groupBy("s").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("pos").alias("pos_cnt")
    )
    # rows before this tie group = cumulative cnt of lower scores;
    # avg rank · 2 = 2·(below) + cnt + 1  (integers throughout).
    # One _dist_cumsum pass replaces the old _dist_rank + a residual
    # single-partition cumulative over rk (r12 bounded-domain probe:
    # the by-score table is row-count-sized for a continuous scorer,
    # so that window was the one remaining global sort here — and the
    # rank itself was never used downstream).
    with_below = _dist_cumsum(by_score, [F.col("s")], "cnt", out_col="cum").withColumn(
        "below", F.col("cum") - F.col("cnt")
    )
    agg = with_below.agg(
        F.sum(F.col("pos_cnt") * (2 * F.col("below") + F.col("cnt") + 1)).alias(
            "two_rank_sum"
        ),
        F.sum("pos_cnt").alias("n_pos"),
        F.sum(F.col("cnt") - F.col("pos_cnt")).alias("n_neg"),
    )
    return agg.select(
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        F.round(
            (F.col("two_rank_sum") / 2.0 - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0)
            / (F.col("n_pos") * F.col("n_neg")),
            10,
        ).alias("auc"),
    )


_AUC_W_SQL = ", ".join(str(c) for c in _AUC_W)

Q_AUC_SQL = f"""
WITH scored AS (
  SELECT list_reduce(list_prepend(0.0,
           list_transform(list_zip(embedding::DOUBLE[], [{_AUC_W_SQL}]),
                          p -> p[1] * p[2])), (a, b) -> a + b) AS s,
         CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos
  FROM embeddings),
by_score AS (
  SELECT s, COUNT(*) AS cnt, SUM(pos) AS pos_cnt FROM scored GROUP BY s),
with_below AS (
  SELECT *, COALESCE(SUM(cnt) OVER (ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
  FROM by_score),
agg AS (
  SELECT SUM(pos_cnt * (2 * below + cnt + 1)) AS two_rank_sum,
         SUM(pos_cnt) AS n_pos, SUM(cnt - pos_cnt) AS n_neg
  FROM with_below)
SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
       ROUND((two_rank_sum / 2.0 - n_pos * (n_pos + 1) / 2.0)
             / (n_pos * n_neg), 10) AS auc
FROM agg
"""

QUERIES["q_auc_roc"] = QuerySpec(
    q_auc_roc, Q_AUC_SQL, "exact ROC AUC via tie-averaged Mann-Whitney ranks"
)


# ---------------------------------------------- calibration + Brier
# Per-bucket reliability diagram with Brier decomposition inputs. A
# DIFFERENT pinned head than q_batch_inference's and a binary target,
# plus the sums a calibration plot needs — kept hash-stable by summing
# scores in DECIMAL(28,10) (per-row rounding is deterministic; decimal
# addition is exact and order-free).

_CAL_W = [((5 * i + 7) % 17 - 8) / 25.0 for i in range(64)]


def q_brier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram buckets for sigmoid(w·x): per predicted-
    probability decile, the sample count, positive rate, mean
    prediction, and Brier-score contribution. Map-side scoring rides
    the scan; the shuffle moves 10 rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    w = F.array(*[F.lit(c) for c in _CAL_W])
    x = as_double(F.col("embedding"))
    logit = F.aggregate(
        F.zip_with(x, w, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v
    )
    p = (1.0 / (1.0 + F.exp(-logit)))
    pd_ = F.round(p, 10).cast("decimal(28,10)")  # deterministic row-level round
    pos = (F.col("label") >= 5).cast("int")
    scored = emb.select(
        F.least(F.floor(p * 10).cast("long"), F.lit(9)).alias("bucket"),
        pd_.alias("p"),
        pos.alias("y"),
    )
    # (p − y)² must stay EXACT decimal on both engines: squaring a
    # decimal(28,10) needs precision 57 and Spark truncates to 38 with
    # loss — a decimal(18,10) difference squares to (37,20), lossless
    err = (F.col("p") - F.col("y")).cast("decimal(18,10)")
    return (
        scored.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
            F.sum("p").alias("sum_p"),
            F.sum(err * err).alias("sum_sq_err"),
        )
        .select(
            "bucket",
            "n",
            "n_pos",
            F.round(F.col("sum_p").cast("double") / F.col("n"), 8).alias("mean_p"),
            F.round(F.col("n_pos").cast("double") / F.col("n"), 8).alias("pos_rate"),
            F.round(F.col("sum_sq_err").cast("double") / F.col("n"), 8).alias("brier"),
        )
        .orderBy("bucket")
    )


_CAL_W_SQL = ", ".join(str(c) for c in _CAL_W)

Q_BRIER_SQL = f"""
WITH scored0 AS (
  SELECT label,
         1.0 / (1.0 + exp(-(list_reduce(list_prepend(0.0,
           list_transform(list_zip(embedding::DOUBLE[], [{_CAL_W_SQL}]),
                          p -> p[1] * p[2])), (a, b) -> a + b)))) AS praw
  FROM embeddings),
scored AS (
  SELECT LEAST(CAST(FLOOR(praw * 10) AS BIGINT), 9) AS bucket,
         CAST(ROUND(praw, 10) AS DECIMAL(28,10)) AS p,
         CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y
  FROM scored0)
SELECT bucket, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos,
       ROUND(CAST(SUM(p) AS DOUBLE) / COUNT(*), 8) AS mean_p,
       ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 8) AS pos_rate,
       ROUND(CAST(SUM(CAST(p - y AS DECIMAL(18,10)) * CAST(p - y AS DECIMAL(18,10)))
                  AS DOUBLE) / COUNT(*), 8) AS brier
FROM scored
GROUP BY bucket
ORDER BY bucket
"""

QUERIES["q_brier_calibration"] = QuerySpec(
    q_brier_calibration, Q_BRIER_SQL, "reliability diagram + per-bucket Brier score"
)


# -------------------------------------------------------- lift table
# Decile gains/lift analysis: rank by model score (here o_totalprice
# as the pinned stand-in scorer), cut into 10 equal-frequency bins via
# the DISTRIBUTED rank (no single-partition NTILE), report per-decile
# response rate and cumulative lift.

LIFT_BINS = 10


def q_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift table over orders: score = o_totalprice (desc),
    response = o_orderstatus = 'F'. NTILE's exact fill semantics are
    reproduced arithmetically from the distributed rank (r7 WOE
    machinery, factored into _dist_rank); cumulative lift =
    (cum responses / cum n) / overall rate, integer sums with one
    final double division per 10-row output."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    n = orders.count()
    ranked = _dist_rank(
        orders.select(
            (-F.col("o_totalprice")).alias("neg_score"),
            F.col("o_orderkey"),
            (F.col("o_orderstatus") == "F").cast("int").alias("resp"),
        ),
        [F.col("neg_score"), F.col("o_orderkey")],
    )
    q, r = divmod(n, LIFT_BINS)
    binned = ranked.select(
        (
            F.when(F.col("rk") <= r * (q + 1), (F.col("rk") - 1) / (q + 1))
            .otherwise(r + (F.col("rk") - r * (q + 1) - 1) / q)
            .cast("long")
            + 1
        ).alias("decile"),
        "resp",
    )
    per = binned.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("resp").cast("long").alias("resp")
    )
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    totals = per.agg(
        F.sum("n").alias("t_n"), F.sum("resp").alias("t_resp")
    )
    return (
        per.withColumn("cum_n", F.sum("n").over(wcum))
        .withColumn("cum_resp", F.sum("resp").over(wcum))
        .crossJoin(F.broadcast(totals))
        .select(
            "decile",
            "n",
            "resp",
            F.round(F.col("resp").cast("double") / F.col("n"), 8).alias("resp_rate"),
            F.round(
                (F.col("cum_resp").cast("double") / F.col("cum_n"))
                / (F.col("t_resp").cast("double") / F.col("t_n")),
                8,
            ).alias("cum_lift"),
        )
        .orderBy("decile")
    )


Q_LIFT_SQL = f"""
WITH ranked AS (
  SELECT NTILE({LIFT_BINS}) OVER (ORDER BY -o_totalprice ASC, o_orderkey ASC) AS decile,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS resp
  FROM orders),
per AS (
  SELECT decile, COUNT(*) AS n, CAST(SUM(resp) AS BIGINT) AS resp
  FROM ranked GROUP BY decile),
cum AS (
  SELECT *,
         SUM(n) OVER (ORDER BY decile) AS cum_n,
         SUM(resp) OVER (ORDER BY decile) AS cum_resp
  FROM per),
totals AS (SELECT SUM(n) AS t_n, SUM(resp) AS t_resp FROM per)
SELECT decile, n, resp,
       ROUND(CAST(resp AS DOUBLE) / n, 8) AS resp_rate,
       ROUND((CAST(cum_resp AS DOUBLE) / cum_n) / (CAST(t_resp AS DOUBLE) / t_n), 8)
         AS cum_lift
FROM cum CROSS JOIN totals
ORDER BY decile
"""

QUERIES["q_lift_table"] = QuerySpec(
    q_lift_table, Q_LIFT_SQL, "decile gains/lift table via distributed ranking"
)


# --------------------------------------------------------------- PSI
# Population-stability-index drift between the first and second half
# of the events month, fixed-width bins over the GLOBAL value range
# (1-row min/max broadcast — the control-plane cross-join pattern).
# Per-bin contributions are emitted as rows (a 10-double total would
# re-introduce order-dependent double summation into the hash).

PSI_BINS = 10
PSI_EPS = 0.0005  # Laplace-style smoothing for empty bins


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI(ref = days < 16, cur = days ≥ 16) over events.value in 10
    fixed-width bins of the global range. Two scans' worth of work in
    one: a single pass bins and pivots by period; the only joins are
    1-row broadcasts. Output: per-bin counts, shares, and the PSI
    contribution (p_cur − p_ref)·ln(p_cur/p_ref), smoothed."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("value").cast("double").alias("v"),
        (F.dayofmonth(F.col("ts").cast("timestamp")) >= 16).cast("int").alias("cur"),
    )
    rng = ev.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    binned = (
        ev.crossJoin(F.broadcast(rng))
        .select(
            F.least(
                F.floor((F.col("v") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / PSI_BINS))
                .cast("long"),
                F.lit(PSI_BINS - 1),
            ).alias("bin"),
            "cur",
        )
    )
    per = binned.groupBy("bin").agg(
        F.sum(1 - F.col("cur")).cast("long").alias("n_ref"),
        F.sum("cur").cast("long").alias("n_cur"),
    )
    totals = per.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    p_ref = F.col("n_ref") / F.col("t_ref") + PSI_EPS
    p_cur = F.col("n_cur") / F.col("t_cur") + PSI_EPS
    return (
        per.crossJoin(F.broadcast(totals))
        .select(
            "bin",
            "n_ref",
            "n_cur",
            F.round(p_ref, 8).alias("p_ref"),
            F.round(p_cur, 8).alias("p_cur"),
            F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 8).alias("psi_part"),
        )
        .orderBy("bin")
    )


Q_PSI_SQL = f"""
WITH ev AS (
  SELECT CAST(value AS DOUBLE) AS v,
         CASE WHEN EXTRACT(day FROM CAST(ts AS TIMESTAMP)) >= 16 THEN 1 ELSE 0 END AS cur
  FROM events),
rng AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM ev),
binned AS (
  SELECT LEAST(CAST(FLOOR((v - lo) / ((hi - lo) / {PSI_BINS})) AS BIGINT),
               {PSI_BINS - 1}) AS bin, cur
  FROM ev CROSS JOIN rng),
per AS (
  SELECT bin, CAST(SUM(1 - cur) AS BIGINT) AS n_ref,
         CAST(SUM(cur) AS BIGINT) AS n_cur
  FROM binned GROUP BY bin),
totals AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM per)
SELECT bin, n_ref, n_cur,
       ROUND(n_ref / t_ref + {PSI_EPS}, 8) AS p_ref,
       ROUND(n_cur / t_cur + {PSI_EPS}, 8) AS p_cur,
       ROUND((n_cur / t_cur + {PSI_EPS} - n_ref / t_ref - {PSI_EPS})
             * LN((n_cur / t_cur + {PSI_EPS}) / (n_ref / t_ref + {PSI_EPS})), 8)
         AS psi_part
FROM per CROSS JOIN totals
ORDER BY bin
"""

QUERIES["q_psi_drift"] = QuerySpec(
    q_psi_drift, Q_PSI_SQL, "population stability index drift, fixed-width bins"
)


# -------------------------------------------------------- l-diversity
# The companion to r7's k-anonymity: a quasi-identifier group is
# l-diverse when its SENSITIVE attribute takes ≥ l distinct values —
# k-anonymity alone leaves homogeneous groups re-identifiable.

L_DIVERSITY = 3


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-l-diversity audit over customers: QI = (nation,
    mktsegment), sensitive = account-balance sign bucket. Emits every
    QI group failing l=3 with its size and diversity — one groupBy
    with count_distinct, shuffle on the QI key only."""
    cust = load_table(spark, sf_dir, "customer")
    sens = (
        F.when(F.col("c_acctbal") < 0, F.lit("neg"))
        .when(F.col("c_acctbal") < 5000, F.lit("mid"))
        .otherwise(F.lit("high"))
    )
    return (
        cust.select("c_nationkey", "c_mktsegment", sens.alias("sens"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("group_n"),
            F.count_distinct("sens").alias("diversity"),
        )
        .where(F.col("diversity") < L_DIVERSITY)
        .orderBy("c_nationkey", "c_mktsegment")
    )


Q_LDIV_SQL = f"""
WITH tagged AS (
  SELECT c_nationkey, c_mktsegment,
         CASE WHEN c_acctbal < 0 THEN 'neg'
              WHEN c_acctbal < 5000 THEN 'mid'
              ELSE 'high' END AS sens
  FROM customer)
SELECT c_nationkey, c_mktsegment, COUNT(*) AS group_n,
       COUNT(DISTINCT sens) AS diversity
FROM tagged
GROUP BY c_nationkey, c_mktsegment
HAVING COUNT(DISTINCT sens) < {L_DIVERSITY}
ORDER BY c_nationkey, c_mktsegment
"""

QUERIES["q_l_diversity"] = QuerySpec(
    q_l_diversity, Q_LDIV_SQL, "l-diversity audit (companion to k-anonymity)"
)


# ------------------------------------------------------ top paths
# 3-step behavioral paths per user (sequence mining's bread and
# butter): consecutive event-type triples by time, counted corpus-
# wide. Window is PARTITIONED by user — embarrassingly parallel, the
# shuffle key is the user id, then a count on the (small) path space.

TOP_PATHS = 20


def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 20 three-step event paths by frequency. lead() over the
    per-user time order (ties broken by event_id — total order per
    FIXTURES rules); the triple space is |event_types|³ ≤ 125 rows
    post-aggregation, so the top-k is a trivially broadcastable
    sort."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts").cast("timestamp").alias("ts"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trip = ev.select(
        F.col("event_type").alias("step1"),
        F.lead("event_type", 1).over(w).alias("step2"),
        F.lead("event_type", 2).over(w).alias("step3"),
    ).where(F.col("step3").isNotNull())
    return (
        trip.groupBy("step1", "step2", "step3")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "step1", "step2", "step3")
        .limit(TOP_PATHS)
    )


Q_TOP_PATHS_SQL = f"""
WITH seq AS (
  SELECT event_type AS step1,
         LEAD(event_type, 1) OVER w AS step2,
         LEAD(event_type, 2) OVER w AS step3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id))
SELECT step1, step2, step3, COUNT(*) AS n
FROM seq
WHERE step3 IS NOT NULL
GROUP BY step1, step2, step3
ORDER BY n DESC, step1, step2, step3
LIMIT {TOP_PATHS}
"""

QUERIES["q_top_paths"] = QuerySpec(
    q_top_paths, Q_TOP_PATHS_SQL, "top-k 3-step event paths (sequence mining)"
)


# ------------------------------------------- Fellegi-Sunter linkage
# Principled record-linkage scoring on top of the r6 blocked-candidate
# machinery: each blocked pair gets an agreement VECTOR over field
# comparators, and the Fellegi-Sunter log-likelihood match weight
# Σ log2(m_i/u_i) (agree) / Σ log2((1−m_i)/(1−u_i)) (disagree) with
# PINNED m/u probabilities — the decision-theoretic layer q_fuzzy_*
# (distance-only) lacks. Weights derive from constants per pattern, so
# the 8-row output is exact on both engines by construction.

_FS_MU = {  # comparator -> (m, u): P(agree | match), P(agree | unmatch)
    "seg": (0.95, 0.20),
    "bal": (0.90, 0.10),
    "dig": (0.85, 0.10),
}


def q_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter agreement-pattern table over customer pairs
    blocked by nation: comparators = market segment, account-balance
    kilobucket, name check digit. Output: per pattern, the pair count
    and the FS match weight (a constant per pattern — the per-pair sum
    never touches floating point across rows).

    Scale: blocking bounds the quadratic to within-nation pairs; the
    r6 sub-bucket salting pattern (operators/text.py::
    blocked_fuzzy_pairs) is the drop-in remedy when one block key
    dominates. The weight table is what a clerical-review UI ranks
    by."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("balk"),
        F.substring("c_name", -1, 1).alias("dig"),
    )
    a, b = cust.alias("a"), cust.alias("b")
    pairs = a.join(
        b,
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    ).select(
        (F.col("a.c_mktsegment") == F.col("b.c_mktsegment")).alias("agree_seg"),
        (F.col("a.balk") == F.col("b.balk")).alias("agree_bal"),
        (F.col("a.dig") == F.col("b.dig")).alias("agree_dig"),
    )
    counts = pairs.groupBy("agree_seg", "agree_bal", "agree_dig").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    weight = F.lit(0.0)
    for c, colname in [("seg", "agree_seg"), ("bal", "agree_bal"), ("dig", "agree_dig")]:
        m, u = _FS_MU[c]
        import math

        weight = weight + F.when(
            F.col(colname), F.lit(math.log2(m / u))
        ).otherwise(F.lit(math.log2((1 - m) / (1 - u))))
    return (
        counts.select(
            "agree_seg",
            "agree_bal",
            "agree_dig",
            "n_pairs",
            F.round(weight, 6).alias("fs_weight"),
        )
        .orderBy("agree_seg", "agree_bal", "agree_dig")
    )


def _fs_sql() -> str:
    import math

    terms = []
    for c, colname in [("seg", "agree_seg"), ("bal", "agree_bal"), ("dig", "agree_dig")]:
        m, u = _FS_MU[c]
        terms.append(
            f"CASE WHEN {colname} THEN {math.log2(m / u)!r} "
            f"ELSE {math.log2((1 - m) / (1 - u))!r} END"
        )
    wexpr = " + ".join(terms)
    return f"""
WITH cust AS (
  SELECT c_custkey, c_nationkey, c_mktsegment,
         CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS balk,
         SUBSTRING(c_name, LENGTH(c_name), 1) AS dig
  FROM customer),
pairs AS (
  SELECT a.c_mktsegment = b.c_mktsegment AS agree_seg,
         a.balk = b.balk AS agree_bal,
         a.dig = b.dig AS agree_dig
  FROM cust a JOIN cust b
    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey)
SELECT agree_seg, agree_bal, agree_dig, COUNT(*) AS n_pairs,
       ROUND({wexpr}, 6) AS fs_weight
FROM pairs
GROUP BY agree_seg, agree_bal, agree_dig
ORDER BY agree_seg, agree_bal, agree_dig
"""


QUERIES["q_fellegi_sunter"] = QuerySpec(
    q_fellegi_sunter, _fs_sql(), "Fellegi-Sunter agreement-pattern match weights"
)


# ------------------------------------------------- core numbers
# The FULL decomposition the r7 q_kcore_subgraph (one fixed k) leads
# to: every vertex's core number — max k such that the vertex survives
# k-peeling — over the same thresholded co-purchase graph
# (extensions_r7.py:35 constructs it identically; see there for why
# the threshold keeps the projection sparse). k is iterated 2..3 with
# each peel starting from the previous core's edges (the (k+1)-core is
# a subgraph of the k-core), and the oracle unrolls the identical
# peel schedule.

CORE_PEELS = 8
CORE_KMAX = 3


def q_core_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core-number histogram: per core level k (1 ≤ k ≤ 3, capped),
    the vertex count and part-key range of vertices whose core number
    is exactly k. Same distributed peel loop as q_kcore_subgraph
    (degree agg + two broadcast semi-joins per round, lineage
    truncated per peel, fixpoint early-exit) run per k on a shrinking
    edge set — later k's start from the previous core, so the
    decomposition costs barely more than the deepest single core."""
    from kcore_spark.operators.graph import shared_co_order_edges

    # r14: session-shared materialized edge projection (identical
    # edge set; see operators/graph.py::shared_co_order_edges)
    edges = shared_co_order_edges(spark, sf_dir)

    def vertices(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("p1").alias("part"))
            .unionByName(e.select(F.col("p2").alias("part")))
            .distinct()
        )

    def peel(start: DataFrame, k: int) -> DataFrame:
        # r13: peel on the VERTEX set, as q_kcore_subgraph does — the
        # kept set shrinks monotonically (e_i ⊆ e_{i-1} ⟹ degrees only
        # drop ⟹ kept_i ⊆ kept_{i-1}), so filtering the PHASE-START
        # edge set by the current kept set is identical to iteratively
        # filtering edges. Only the (small) kept set materializes per
        # round; the edge set stays a lazy pair of broadcast semi-joins
        # over the localCheckpointed base — one job per round instead
        # of two (the old shape re-materialized the edge table every
        # round).
        e = start
        prev_nodes = None
        for _ in range(CORE_PEELS):
            deg = (
                e.select(F.col("p1").alias("n"))
                .unionByName(e.select(F.col("p2").alias("n")))
                .groupBy("n")
                .agg(F.count(F.lit(1)).alias("d"))
            )
            kept = deg.where(F.col("d") >= k).select("n").localCheckpoint()
            n_nodes = kept.count()
            if n_nodes == prev_nodes:
                break
            prev_nodes = n_nodes
            keep = F.broadcast(kept)
            e = start.join(keep, start.p1 == keep.n, "left_semi").join(
                keep, F.col("p2") == keep.n, "left_semi"
            )
        return e

    cores = {1: vertices(edges)}
    e = edges
    for k in range(2, CORE_KMAX + 1):
        # one materialization per PHASE (not per round): the next
        # phase's rounds and the final vertex union then read a
        # truncated base instead of re-deriving the whole peel chain
        e = peel(e, k).localCheckpoint()
        cores[k] = vertices(e)
    # core number of v = max k with v ∈ cores[k]; histogram per level
    labeled = None
    for k in range(1, CORE_KMAX + 1):
        lv = cores[k].select("part", F.lit(k).alias("k"))
        labeled = lv if labeled is None else labeled.unionByName(lv)
    return (
        labeled.groupBy("part")
        .agg(F.max("k").alias("core_number"))
        .groupBy("core_number")
        .agg(
            F.count(F.lit(1)).alias("n_vertices"),
            F.min("part").alias("min_part"),
            F.max("part").alias("max_part"),
        )
        .orderBy("core_number")
    )


def _core_numbers_sql() -> str:
    layers = [
        """li AS MATERIALIZED (SELECT l_orderkey, l_partkey FROM lineitem),
e2_0 AS MATERIALIZED (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(DISTINCT a.l_orderkey) >= 2)"""
    ]
    prev_last = "e2_0"
    finals = {}
    for k in range(2, CORE_KMAX + 1):
        if k > 2:
            layers.append(f"e{k}_0 AS MATERIALIZED (SELECT * FROM {prev_last})")
        for i in range(CORE_PEELS):
            layers.append(
                f"""k{k}_{i} AS MATERIALIZED (
  SELECT n FROM (SELECT p1 AS n FROM e{k}_{i} UNION ALL SELECT p2 FROM e{k}_{i})
  GROUP BY n HAVING COUNT(*) >= {k}),
e{k}_{i + 1} AS MATERIALIZED (
  SELECT p1, p2 FROM e{k}_{i}
  WHERE p1 IN (SELECT n FROM k{k}_{i}) AND p2 IN (SELECT n FROM k{k}_{i}))"""
            )
        prev_last = f"e{k}_{CORE_PEELS}"
        finals[k] = prev_last
    vert = lambda e: f"SELECT p1 AS part FROM {e} UNION SELECT p2 FROM {e}"  # noqa: E731
    union_levels = " UNION ALL ".join(
        f"SELECT part, {k} AS k FROM ({vert('e2_0' if k == 1 else finals[k])})"
        for k in range(1, CORE_KMAX + 1)
    )
    return (
        "WITH "
        + ",\n".join(layers)
        + f""",
labeled AS ({union_levels}),
core AS (SELECT part, MAX(k) AS core_number FROM labeled GROUP BY part)
SELECT core_number, COUNT(*) AS n_vertices,
       MIN(part) AS min_part, MAX(part) AS max_part
FROM core
GROUP BY core_number
ORDER BY core_number"""
    )


QUERIES["q_core_numbers"] = QuerySpec(
    q_core_numbers, _core_numbers_sql(), "full core-number decomposition histogram"
)
