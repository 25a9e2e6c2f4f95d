"""Round-9 surface extensions, batch I (SURVEY §2.3 N r9): classical
seasonal decomposition (the moving-average trend/seasonal/residual
split that predates STL), lagged cross-correlation between two event
streams (lead/lag diagnostics — does stream A predict stream B?),
delete-a-group jackknife variance (the resampling-free standard error
companion to q_bootstrap_ci), and item-item cosine collaborative
filtering (the classical co-purchase recommender).

Provenance: declared surface of OUR engine; the reference implements
only ApiVersions (`/root/reference/pkg/kafka/kafka_api.go:106-125`).
Integer counts stay integers until the final division; event-time
handling goes through catalog.normalize_event_ts (see
tests/test_schema_drift.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kcore_spark.catalog import load_table, normalize_event_ts
from kcore_spark.queries import QuerySpec

QUERIES: dict[str, QuerySpec] = {}


# ------------------------- classical seasonal decomposition (24h)
# value = trend + seasonal + residual over the hourly event-count
# series: trend = 2×24 centered moving average (the textbook
# even-period form: mean of the two 24-term windows offset by one),
# detrended = x − trend, seasonal index = centered mean of detrended
# by hour-of-day. Output: 24 seasonal indices + per-hour observation
# counts. The series is DOMAIN-BOUNDED (hours in the fixture window),
# so after the one groupBy rollup everything is curve-sized — the
# same scale argument as q_acf_hourly/q_hurst_exponent.


def q_classical_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = normalize_event_ts(load_table(spark, sf_dir, "events"))
    hourly = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.count(F.lit(1)).alias("x")
    )
    w = Window.orderBy("h")
    # even-period centered MA: avg over rows [-12, +11] and [-11, +12],
    # halved — only where both windows are complete (24 rows each)
    wa = w.rowsBetween(-12, 11)
    wb = w.rowsBetween(-11, 12)
    t = hourly.select(
        "h",
        "x",
        F.when(
            (F.count("x").over(wa) == 24) & (F.count("x").over(wb) == 24),
            (F.sum("x").over(wa) + F.sum("x").over(wb)) / F.lit(48.0),
        ).alias("trend"),
    )
    det = t.where(F.col("trend").isNotNull()).select(
        F.hour("h").alias("hod"), (F.col("x") - F.col("trend")).alias("d")
    )
    raw = det.groupBy("hod").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"), F.avg("d").alias("raw_idx")
    )
    grand = raw.agg(F.avg("raw_idx").alias("g"))
    return (
        raw.crossJoin(F.broadcast(grand))
        .select(
            "hod",
            "n_obs",
            F.round(F.col("raw_idx") - F.col("g"), 6).alias("seasonal_idx"),
        )
        .orderBy("hod")
    )


Q_DECOMP_SQL = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, COUNT(*) AS x FROM events GROUP BY h),
t AS (
  SELECT h, x,
         CASE WHEN COUNT(x) OVER (ORDER BY h ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING) = 24
               AND COUNT(x) OVER (ORDER BY h ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING) = 24
              THEN (SUM(x) OVER (ORDER BY h ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)
                    + SUM(x) OVER (ORDER BY h ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING))
                   / 48.0 END AS trend
  FROM hourly),
det AS (
  SELECT EXTRACT(hour FROM h) AS hod, x - trend AS d
  FROM t WHERE trend IS NOT NULL),
raw AS (
  SELECT hod, COUNT(*) AS n_obs, AVG(d) AS raw_idx FROM det GROUP BY hod),
grand AS (SELECT AVG(raw_idx) AS g FROM raw)
SELECT CAST(hod AS INT) AS hod, CAST(n_obs AS BIGINT) AS n_obs,
       ROUND(raw_idx - g, 6) AS seasonal_idx
FROM raw CROSS JOIN grand
ORDER BY hod
"""

QUERIES["q_classical_decomposition"] = QuerySpec(
    q_classical_decomposition,
    Q_DECOMP_SQL,
    "classical 24h seasonal decomposition: 2x24 centered-MA trend, "
    "centered hour-of-day seasonal indices over the detrended series",
)


# --------------------------- lagged cross-correlation (CCF, ±6h)
# corr(x_t, y_{t+L}) for L in [−6, 6] between the hourly counts of
# the two highest-volume event types — the lead/lag diagnostic behind
# "do errors follow purchases?". The hour spine is the union of both
# series' hours, zero-filled, so a silent hour doesn't silently
# shorten a lag. After the rollup everything is (curve × 13)-sized.


def q_ccf_lagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = normalize_event_ts(load_table(spark, sf_dir, "events"))
    top2 = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "event_type")
        .limit(2)
        .withColumn("rnk", F.row_number().over(Window.orderBy(F.col("n").desc(), "event_type")))
    )
    tagged = ev.join(F.broadcast(top2), "event_type").select(
        F.date_trunc("hour", F.col("ts")).alias("h"), "rnk"
    )
    hourly = tagged.groupBy("h").agg(
        F.sum((F.col("rnk") == 1).cast("int")).alias("xa"),
        F.sum((F.col("rnk") == 2).cast("int")).alias("xb"),
    )
    lags = spark.range(-6, 7).select(F.col("id").cast("int").alias("lag"))
    shifted = (
        hourly.alias("a")
        .crossJoin(F.broadcast(lags))
        .join(
            hourly.select(
                F.col("h").alias("h2"), F.col("xb").alias("yb")
            ).alias("b"),
            F.expr("h2 = h + make_interval(0, 0, 0, 0, lag, 0, 0)"),
        )
    )
    m = shifted.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xa").alias("sx"),
        F.sum("yb").alias("sy"),
        F.sum(F.col("xa") * F.col("yb")).alias("sxy"),
        F.sum(F.col("xa") * F.col("xa")).alias("sxx"),
        F.sum(F.col("yb") * F.col("yb")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        "lag", F.col("n").cast("long").alias("n_pairs"), F.round(num / den, 6).alias("ccf")
    ).orderBy("lag")


Q_CCF_SQL = """
WITH ranked AS (
  SELECT event_type, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, event_type) AS rnk
  FROM events GROUP BY event_type LIMIT 2),
hourly AS (
  SELECT date_trunc('hour', ts) AS h,
         SUM(CASE WHEN rnk = 1 THEN 1 ELSE 0 END) AS xa,
         SUM(CASE WHEN rnk = 2 THEN 1 ELSE 0 END) AS xb
  FROM events JOIN ranked USING (event_type)
  GROUP BY h),
lags AS (SELECT unnest(range(-6, 7)) AS lag),
shifted AS (
  SELECT l.lag, a.xa, b.xb AS yb
  FROM hourly a CROSS JOIN lags l
  JOIN hourly b ON b.h = a.h + to_hours(l.lag)),
m AS (
  SELECT lag, COUNT(*) AS n, SUM(xa) AS sx, SUM(yb) AS sy,
         SUM(xa * yb) AS sxy, SUM(xa * xa) AS sxx, SUM(yb * yb) AS syy
  FROM shifted GROUP BY lag)
SELECT CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_pairs,
       ROUND((n * sxy - sx * sy)
             / SQRT(CAST(n * sxx - sx * sx AS DOUBLE) * (n * syy - sy * sy)), 6)
         AS ccf
FROM m ORDER BY lag
"""

QUERIES["q_ccf_lagged"] = QuerySpec(
    q_ccf_lagged,
    Q_CCF_SQL,
    "±6h cross-correlation between the two highest-volume event-type "
    "hourly series — lead/lag dependence diagnostic",
)


# ----------------------- delete-a-group jackknife standard error
# Split the rows into G=20 md5 buckets; θ̂_(g) = mean with bucket g
# deleted; var = (G−1)/G Σ_g (θ̂_(g) − mean_g θ̂_(g))². The
# deterministic, two-pass complement to q_bootstrap_ci (which needs
# Poisson weights). Sums are DECIMAL(38,2)-exact (prices have 2dp),
# so every θ̂_(g) is identical across engines before the one float
# step. Scale: one partial-agg pass to 20 rows.


def q_jackknife_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
    )
    g = (
        F.conv(F.substring(F.md5(F.col("k").cast("string")), 1, 8), 16, 10).cast("long")
        % 20
    )
    per_g = orders.groupBy(g.alias("g")).agg(
        F.count(F.lit(1)).alias("n_g"), F.sum("v").cast("decimal(38,2)").alias("s_g")
    )
    tot = per_g.agg(
        F.sum("n_g").alias("n"), F.sum("s_g").cast("decimal(38,2)").alias("s")
    )
    theta = per_g.crossJoin(F.broadcast(tot)).select(
        "g",
        (
            (F.col("s") - F.col("s_g")).cast("double")
            / (F.col("n") - F.col("n_g"))
        ).alias("theta_g"),
        (F.col("s").cast("double") / F.col("n")).alias("theta_hat"),
    )
    mean_t = theta.agg(F.avg("theta_g").alias("mean_theta"))
    dev = F.col("theta_g") - F.col("mean_theta")
    return theta.crossJoin(F.broadcast(mean_t)).agg(
        F.count(F.lit(1)).cast("long").alias("g_buckets"),
        F.round(F.max("theta_hat"), 6).alias("theta_hat"),
        F.round(
            F.sqrt(
                (F.count(F.lit(1)) - 1) / F.count(F.lit(1)) * F.sum(dev * dev)
            ),
            6,
        ).alias("jackknife_se"),
    )


Q_JACKKNIFE_SQL = """
WITH src AS (
  SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS v FROM orders),
per_g AS (
  SELECT ('0x' || substring(md5(CAST(k AS VARCHAR)), 1, 8))::BIGINT % 20 AS g,
         COUNT(*) AS n_g, CAST(SUM(v) AS DECIMAL(38,2)) AS s_g
  FROM src GROUP BY 1),
tot AS (SELECT SUM(n_g) AS n, CAST(SUM(s_g) AS DECIMAL(38,2)) AS s FROM per_g),
theta AS (
  SELECT g, CAST(s - s_g AS DOUBLE) / (n - n_g) AS theta_g,
         CAST(s AS DOUBLE) / n AS theta_hat
  FROM per_g CROSS JOIN tot),
stats AS (SELECT AVG(theta_g) AS mean_theta FROM theta)
SELECT CAST(COUNT(*) AS BIGINT) AS g_buckets,
       ROUND(MAX(theta_hat), 6) AS theta_hat,
       ROUND(SQRT((COUNT(*) - 1) * 1.0 / COUNT(*)
                  * SUM((theta_g - mean_theta) * (theta_g - mean_theta))), 6)
         AS jackknife_se
FROM theta CROSS JOIN stats
"""

QUERIES["q_jackknife_variance"] = QuerySpec(
    q_jackknife_variance,
    Q_JACKKNIFE_SQL,
    "delete-a-group jackknife standard error of mean order value over "
    "20 md5 buckets — decimal-exact bucket sums, one float step",
)


# ---------------------- item-item cosine collaborative filtering
# cooc(i,j) over customers, cosine = cooc/√(n_i·n_j), top-10 pairs —
# the classical "customers who bought X also bought Y". Scale design:
# (customer, part) is DISTINCT-ed first, per-customer fan-out is
# capped (the q_link_prediction_aa degree-cap idiom: a customer with
# a million items would otherwise explode quadratically), and the
# pair space is generated map-side from the capped per-customer sets,
# one keyed shuffle to count.

_CF_CAP = 64  # per-customer item cap; fixture max is far below


def q_item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    from kcore_spark.caching import transient_persist

    # r14: the capped per-customer item set is built in ONE keyed
    # aggregate — collect_set dedups (c, i) during the partial/final
    # aggregation (map-side partials shrink the shuffle exactly like
    # the old distinct's partial dedup did), and
    # slice(array_sort(set), 1, CAP) IS the old row_number()<=CAP over
    # the i-ordered window (a set has no ties, so the first CAP of the
    # sorted set are precisely the rn<=CAP rows). Replaces the r13
    # distinct + window + collect_set chain: one Exchange(c) instead
    # of Exchange(c,i) + Exchange(c), no window sort, and the
    # persisted table holds one array row per customer instead of CAP
    # item rows. Memory boundary: the aggregation buffer holds each
    # customer's distinct item set pre-cap, bounded by the catalog's
    # part count. Unlike the old window sort, which could spill
    # partway through a key, a collect_set buffer cannot: one key's
    # whole set must fit in executor memory.
    # transient_persist: baskets feeds the pair explode AND n_i;
    # released by the harness after the terminal collect.
    baskets = transient_persist(
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("i"))
        .groupBy("c")
        .agg(F.slice(F.array_sort(F.collect_set("i")), 1, _CF_CAP).alias("ps"))
    )
    n_i = (
        baskets.select(F.explode("ps").alias("i"))
        .groupBy("i")
        .agg(F.count(F.lit(1)).alias("n_i"))
    )
    # map-side pair explode from each customer's sorted item set (the
    # co_order_edges idiom, operators/graph.py) — identical pair set
    # to the former self-join on c, without shuffling the basket twice
    pairs = (
        baskets
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i+2, size(ps)), "
                    "y -> struct(x as ia, y as ib))))"
                )
            ).alias("pr")
        )
        .groupBy("pr.ia", "pr.ib")
        .agg(F.count(F.lit(1)).alias("cooc"))
        .where(F.col("cooc") >= 2)
    )
    # n_i is part-count-sized (≤ distinct i): broadcast both probes so
    # the multi-million-row pair table is not sort-merge-shuffled twice
    # just to attach a count (before-plan: 2 SortMergeJoins + 3 Exchanges
    # over the pair table; after: 2 BroadcastHashJoins riding the pair
    # aggregation's output)
    scored = (
        pairs.join(
            F.broadcast(
                n_i.withColumnRenamed("i", "ia").withColumnRenamed("n_i", "na")
            ),
            "ia",
        )
        .join(
            F.broadcast(
                n_i.withColumnRenamed("i", "ib").withColumnRenamed("n_i", "nb")
            ),
            "ib",
        )
        .select(
            "ia",
            "ib",
            F.col("cooc").cast("long").alias("cooc"),
            F.round(
                F.col("cooc") / F.sqrt(F.col("na").cast("double") * F.col("nb")), 6
            ).alias("cosine"),
        )
    )
    return scored.orderBy(F.col("cosine").desc(), "ia", "ib").limit(10)


Q_ITEMCF_SQL = f"""
WITH cp AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS i
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
capped AS (
  SELECT c, i FROM (
    SELECT c, i, ROW_NUMBER() OVER (PARTITION BY c ORDER BY i) AS rn FROM cp)
  WHERE rn <= {_CF_CAP}),
n_i AS (SELECT i, COUNT(*) AS n_i FROM capped GROUP BY i),
pairs AS (
  SELECT a.i AS ia, b.i AS ib, COUNT(*) AS cooc
  FROM capped a JOIN capped b ON a.c = b.c AND a.i < b.i
  GROUP BY a.i, b.i HAVING COUNT(*) >= 2)
SELECT ia, ib, CAST(cooc AS BIGINT) AS cooc,
       ROUND(cooc / SQRT(CAST(na.n_i AS DOUBLE) * nb.n_i), 6) AS cosine
FROM pairs
JOIN n_i na ON pairs.ia = na.i
JOIN n_i nb ON pairs.ib = nb.i
ORDER BY cosine DESC, ia, ib
LIMIT 10
"""

QUERIES["q_item_item_cosine"] = QuerySpec(
    q_item_item_cosine,
    Q_ITEMCF_SQL,
    "item-item cosine collaborative filtering over distinct "
    "(customer, part) baskets — fan-out-capped pair explode, top-10",
)
