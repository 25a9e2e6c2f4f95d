"""Round-8 surface extensions, part C (SURVEY §2.3 N r8): survival
analysis (Kaplan-Meier), Benford first-digit audit, NDCG@10 ranking
evaluation, Johnson-Lindenstrauss random projection, logistic
regression by full-batch gradient descent, BPE merge learning, and
C4-style chunk-level corpus dedup — the model-evaluation + tokenizer
+ curation block of a training-data pipeline.

Provenance: declared surface of OUR engine; the reference implements
only ApiVersions (`/root/reference/pkg/kafka/kafka_api.go:106-125`).
Determinism follows FIXTURES.md: integer/decimal domains wherever a
sum crosses rows; doubles only in per-row arithmetic (bit-identical
across engines) or one final division; sequential array folds on both
engines (F.aggregate ↔ list_reduce); orderings fully tie-broken.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kcore_spark.catalog import load_table
from kcore_spark.queries import QuerySpec

QUERIES: dict[str, QuerySpec] = {}


# ------------------------------------------------- Kaplan-Meier
# Survival curve over customer lifetimes: duration = days between a
# customer's first and last order, event observed = placed >= 10
# orders (else right-censored at the last order). The per-time
# at-risk / event / censor counts are one partial-agg shuffle; the
# curve itself (distinct event times) is bounded — the number of
# distinct durations grows with the DOMAIN (calendar days), not the
# corpus, so the final sorted-array fold is a small fixed cost at any
# scale. Bit-stability: the product recurrence S(t) = prod(1 - d/n)
# is order-sensitive under rounding, so both engines fold the
# time-sorted factor array sequentially with per-step rounding
# (F.aggregate over a slice <-> list_reduce over a slice).

KM_EVENT_MIN_ORDERS = 10


def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    life = orders.groupBy("o_custkey").agg(
        F.datediff(
            F.to_date(F.max("o_orderdate")), F.to_date(F.min("o_orderdate"))
        ).alias("dur"),
        (F.count(F.lit(1)) >= KM_EVENT_MIN_ORDERS).cast("int").alias("event"),
    )
    per_t = life.groupBy("dur").agg(
        F.sum("event").cast("long").alias("d"),
        F.sum(1 - F.col("event")).cast("long").alias("c"),
    )
    w_prev = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    risk = (
        per_t.crossJoin(
            F.broadcast(life.agg(F.count(F.lit(1)).alias("total")))
        )
        .withColumn(
            "n_risk",
            F.col("total") - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0)),
        )
        .withColumn(
            "factor",
            F.round(
                F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk").cast("double"),
                12,
            ),
        )
    )
    # One sorted factor array (curve-sized); S_i = sequential product
    # of factors[1..i] with per-step rounding — identical fold order
    # on both engines.
    curve = risk.agg(
        F.sort_array(
            F.collect_list(F.struct("dur", "d", "c", "n_risk", "factor"))
        ).alias("arr")
    )
    return (
        curve.select(F.posexplode("arr").alias("i", "row"), F.col("arr"))
        .select(
            F.col("row.dur").alias("dur"),
            F.col("row.d").alias("d"),
            F.col("row.c").alias("c"),
            F.col("row.n_risk").alias("n_risk"),
            F.round(
                F.aggregate(
                    F.slice(F.col("arr.factor"), F.lit(1), F.col("i") + 1),
                    F.lit(1.0),
                    lambda acc, x: F.round(acc * x, 12),
                ),
                8,
            ).alias("survival"),
        )
        .orderBy("dur")
    )


Q_KAPLAN_MEIER_SQL = f"""
WITH life AS (
  SELECT o_custkey,
         datediff('day', CAST(MIN(o_orderdate) AS DATE), CAST(MAX(o_orderdate) AS DATE)) AS dur,
         CASE WHEN COUNT(*) >= {KM_EVENT_MIN_ORDERS} THEN 1 ELSE 0 END AS event
  FROM orders GROUP BY o_custkey),
per_t AS (
  SELECT dur, CAST(SUM(event) AS BIGINT) AS d, CAST(SUM(1 - event) AS BIGINT) AS c
  FROM life GROUP BY dur),
risk AS (
  SELECT dur, d, c,
         CAST((SELECT COUNT(*) FROM life)
           - COALESCE(SUM(d + c) OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
  FROM per_t),
fac AS (
  SELECT dur, d, c, n_risk,
         ROUND(1.0::DOUBLE - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE), 12) AS factor
  FROM risk),
curve AS (SELECT list(factor ORDER BY dur) AS farr FROM fac)
SELECT dur, d, c, n_risk,
       ROUND(list_reduce(list_prepend(1.0::DOUBLE, farr[1:rk]), (a, b) -> ROUND(a * b, 12)), 8) AS survival
FROM (SELECT dur, d, c, n_risk, RANK() OVER (ORDER BY dur) AS rk FROM fac)
CROSS JOIN curve
ORDER BY dur
"""

QUERIES["q_kaplan_meier"] = QuerySpec(
    q_kaplan_meier,
    Q_KAPLAN_MEIER_SQL,
    "Kaplan-Meier survival curve over customer lifetimes (sequential product fold)",
)


# ------------------------------------------------- Benford audit
# First-significant-digit distribution of o_totalprice vs Benford's
# law — the classic data-quality / fraud screen. The leading digit is
# taken from exact integer cents (ROUND(p*100) AS BIGINT cast to
# string), avoiding engine-specific double formatting and log10
# boundary sensitivity; expected shares log10(1 + 1/d) are per-row
# doubles over the 9-row output. One partial-agg shuffle.


def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    digits = orders.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    per = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("cnt"))
    totals = per.agg(F.sum("cnt").alias("total"))
    return (
        per.crossJoin(F.broadcast(totals))
        .select(
            "digit",
            "cnt",
            F.round(F.col("cnt").cast("double") / F.col("total"), 8).alias("obs_share"),
            F.round(F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")), 8).alias(
                "exp_share"
            ),
            F.round(
                F.pow(
                    F.col("cnt").cast("double") / F.col("total")
                    - F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")),
                    2,
                )
                / F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")),
                10,
            ).alias("chi2_contrib"),
        )
        .orderBy("digit")
    )


Q_BENFORD_SQL = """
WITH digits AS (
  SELECT CAST(SUBSTR(CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
  FROM orders),
per AS (SELECT digit, COUNT(*) AS cnt FROM digits GROUP BY digit),
totals AS (SELECT SUM(cnt) AS total FROM per)
SELECT digit, cnt,
       ROUND(CAST(cnt AS DOUBLE) / total, 8) AS obs_share,
       ROUND(log10(1.0::DOUBLE + 1.0::DOUBLE / digit), 8) AS exp_share,
       ROUND(POW(CAST(cnt AS DOUBLE) / total - log10(1.0::DOUBLE + 1.0::DOUBLE / digit), 2)
             / log10(1.0::DOUBLE + 1.0::DOUBLE / digit), 10) AS chi2_contrib
FROM per CROSS JOIN totals
ORDER BY digit
"""

QUERIES["q_benford_digits"] = QuerySpec(
    q_benford_digits,
    Q_BENFORD_SQL,
    "Benford first-digit distribution audit over order totals (exact integer cents)",
)


# ------------------------------------------------- NDCG@10
# Ranking-metric evaluation, completing the eval family (AUC, Brier,
# lift): per nation, rank customers by account balance (the "model
# score") and score the ranking against relevance = order count with
# linear-gain NDCG@10. Two keyed window ranks + one partial-agg
# shuffle; per-position contributions rel/log2(pos+1) are per-row
# doubles rounded before the decimal sum. Both rankings fully
# tie-broken by custkey.

NDCG_K = 10


def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    orders = load_table(spark, sf_dir, "orders")
    rel = (
        cust.join(
            orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("rel")),
            cust.c_custkey == F.col("o_custkey"),
            "left",
        )
        .select(
            "c_custkey",
            "c_nationkey",
            "c_acctbal",
            F.coalesce(F.col("rel"), F.lit(0)).alias("rel"),
        )
    )
    w_pred = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    w_ideal = Window.partitionBy("c_nationkey").orderBy(
        F.col("rel").desc(), F.col("c_custkey")
    )
    pos = rel.select(
        "c_nationkey",
        "rel",
        F.row_number().over(w_pred).alias("p_pred"),
        F.row_number().over(w_ideal).alias("p_ideal"),
    )

    def contrib(p: str) -> F.Column:
        return F.when(
            F.col(p) <= NDCG_K,
            F.round(
                F.col("rel").cast("double") / (F.log(F.col(p) + 1.0) / F.log(F.lit(2.0))),
                12,
            ),
        ).otherwise(F.lit(0.0))

    per_nation = pos.groupBy("c_nationkey").agg(
        F.sum(contrib("p_pred").cast("decimal(38,12)")).cast("double").alias("dcg"),
        F.sum(contrib("p_ideal").cast("decimal(38,12)")).cast("double").alias("idcg"),
    )
    return per_nation.select(
        "c_nationkey",
        F.round("dcg", 8).alias("dcg"),
        F.round("idcg", 8).alias("idcg"),
        F.round(F.col("dcg") / F.col("idcg"), 8).alias("ndcg"),
    ).orderBy("c_nationkey")


Q_NDCG_SQL = f"""
WITH rel AS (
  SELECT c.c_custkey, c.c_nationkey, c.c_acctbal, COALESCE(o.rel, 0) AS rel
  FROM customer c
  LEFT JOIN (SELECT o_custkey, COUNT(*) AS rel FROM orders GROUP BY o_custkey) o
    ON c.c_custkey = o.o_custkey),
pos AS (
  SELECT c_nationkey, rel,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS p_pred,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY rel DESC, c_custkey) AS p_ideal
  FROM rel),
per AS (
  SELECT c_nationkey,
         CAST(SUM(CAST(CASE WHEN p_pred <= {NDCG_K}
              THEN ROUND(CAST(rel AS DOUBLE) / (ln(p_pred + 1.0) / ln(2.0::DOUBLE)), 12)
              ELSE 0.0 END AS DECIMAL(38,12))) AS DOUBLE) AS dcg,
         CAST(SUM(CAST(CASE WHEN p_ideal <= {NDCG_K}
              THEN ROUND(CAST(rel AS DOUBLE) / (ln(p_ideal + 1.0) / ln(2.0::DOUBLE)), 12)
              ELSE 0.0 END AS DECIMAL(38,12))) AS DOUBLE) AS idcg
  FROM pos GROUP BY c_nationkey)
SELECT c_nationkey, ROUND(dcg, 8) AS dcg, ROUND(idcg, 8) AS idcg,
       ROUND(dcg / idcg, 8) AS ndcg
FROM per ORDER BY c_nationkey
"""

QUERIES["q_ndcg_eval"] = QuerySpec(
    q_ndcg_eval,
    Q_NDCG_SQL,
    "NDCG@10 ranking evaluation per nation (balance-ranked vs order-count relevance)",
)


# ------------------------------------------------- JL random projection
# Johnson-Lindenstrauss dimensionality reduction of the embedding
# corpus: 64 -> 16 dims against a deterministic +-1 sign matrix
# derived from md5("rp-i-j") (top bit of the first nibble), scaled by
# 1/sqrt(16). Entirely map-side — each output row folds its own
# 64-element products sequentially; no shuffle at all (the projection
# rides the scan). The sign matrix is data-independent, so it is
# computed ONCE driver-side (hashlib.md5 — identical digests to
# Spark's md5) and embedded as literal arrays: the old inline-hash
# formulation re-derived all 1,024 matrix cells with md5+concat+
# substring PER ROW, which dominated the query (guide §1.2: fix the
# per-task work). The fold order over i is unchanged, so the float
# sums are bit-identical; the oracle keeps the self-contained md5
# derivation and still matches.

RP_IN = 64
RP_OUT = 16


def _rp_sign_matrix() -> list[list[float]]:
    """signs[j][i] = +-1.0 from md5('rp-i-j'), same derivation as the
    oracle SQL (first hex nibble in 0..7 -> +1)."""
    import hashlib

    return [
        [
            1.0
            if hashlib.md5(f"rp-{i}-{j}".encode()).hexdigest()[0] in "01234567"
            else -1.0
            for i in range(RP_IN)
        ]
        for j in range(RP_OUT)
    ]


def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kcore_spark.operators.similarity import as_double

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("e")
    )
    signs = _rp_sign_matrix()
    proj = F.array(
        *[
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("e"),
                        F.array(*[F.lit(s) for s in signs[j]]),
                        lambda x, s: x * s,
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                / 4.0,
                8,
            )
            for j in range(RP_OUT)
        ]
    )
    return (
        emb.select("vec_id", F.posexplode(proj).alias("dim", "v"))
        .orderBy("vec_id", "dim")
    )


Q_RANDOM_PROJECTION_SQL = f"""
WITH pts AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
proj AS (
  SELECT vec_id,
         list_transform(generate_series(0, {RP_OUT - 1}), j ->
           ROUND(list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(list_zip(e, generate_series(0, {RP_IN - 1})), p ->
               p[1] * CASE WHEN substr(md5('rp-' || p[2] || '-' || j), 1, 1)
                           IN ('0','1','2','3','4','5','6','7')
                      THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END)),
             (a, b) -> a + b) / 4.0, 8)) AS out
  FROM pts)
SELECT vec_id, pos - 1 AS dim, v
FROM (SELECT vec_id, UNNEST(out) AS v, generate_subscripts(out, 1) AS pos FROM proj)
ORDER BY vec_id, dim
"""

QUERIES["q_random_projection"] = QuerySpec(
    q_random_projection,
    Q_RANDOM_PROJECTION_SQL,
    "Johnson-Lindenstrauss +-1 random projection 64->16 (map-side, md5-derived matrix)",
)


# ------------------------------------------------- logistic regression (GD)
# Full-batch gradient-descent training of a binary quality classifier
# over the embedding corpus (y = label < 5) — the "train a fastText-
# style filter on the corpus" pipeline step. Gram-free like the PCA
# power iteration: each iteration is ONE scan (per-row sigmoid dot
# fold) + one d-row partial-agg shuffle for the gradient; the weight
# vector stays a 1-row broadcast-crossed DataFrame, never collected.
# Bit-stability: per-row contributions x_j*(y-p) rounded to 12dp and
# summed in DECIMAL(38,12); the weight update is per-component double
# arithmetic in identical order on both engines.

LR_DIM = 64
LR_ITERS = 2
LR_ETA = 4.0


def q_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kcore_spark.operators.similarity import as_double

    emb = load_table(spark, sf_dir, "embeddings").select(
        as_double(F.col("embedding")).alias("e"),
        (F.col("label") < 5).cast("int").cast("double").alias("y"),
    )
    n = emb.count()
    w = spark.range(1).select(
        F.array(*[F.lit(0.0) for _ in range(LR_DIM)]).alias("w")
    )
    dec = "decimal(38,12)"
    for _ in range(LR_ITERS):
        z = F.aggregate(
            F.zip_with(F.col("e"), F.col("w"), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        g = (
            emb.crossJoin(F.broadcast(w))
            .select(
                F.posexplode(
                    F.transform(F.col("e"), lambda x: x * (F.col("y") - p))
                ).alias("pos", "contrib")
            )
            .groupBy("pos")
            .agg(F.sum(F.round(F.col("contrib"), 12).cast(dec)).cast("double").alias("g"))
        )
        w_exp = w.select(F.posexplode("w").alias("pos", "wv"))
        w = (
            g.join(w_exp, "pos")
            .groupBy()
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "pos",
                                F.round(
                                    F.col("wv")
                                    + F.lit(LR_ETA) * F.col("g") / F.lit(float(n)),
                                    12,
                                ).alias("wi"),
                            )
                        )
                    ),
                    lambda st: st["wi"],
                ).alias("w")
            )
        )
    return (
        w.select(F.posexplode("w").alias("pos", "weight"))
        .select("pos", F.round("weight", 8).alias("weight"))
        .orderBy("pos")
    )


def _logreg_sql() -> str:
    dot = (
        "list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_zip(e, w),"
        " p -> p[1] * p[2])), (a, b) -> a + b)"
    )

    def step(win: str, out: str) -> str:
        return f"""g_{out} AS (
  SELECT pos, CAST(SUM(CAST(ROUND(x * (y - p), 12) AS DECIMAL(38,12))) AS DOUBLE) AS g
  FROM (SELECT UNNEST(e) AS x, generate_subscripts(e, 1) AS pos, y,
               1.0::DOUBLE / (1.0::DOUBLE + exp(-({dot}))) AS p
        FROM pts CROSS JOIN {win})
  GROUP BY pos),
{out} AS (
  SELECT list(ROUND(wv + {LR_ETA} * g / (SELECT CAST(COUNT(*) AS DOUBLE) FROM pts), 12)
              ORDER BY pos) AS w
  FROM g_{out}
  JOIN (SELECT UNNEST(w) AS wv, generate_subscripts(w, 1) AS pos FROM {win}) USING (pos))"""

    steps = ",\n".join(step(f"w{i}", f"w{i + 1}") for i in range(LR_ITERS))
    zeros = ", ".join(["0.0"] * LR_DIM)
    return f"""
WITH pts AS (SELECT embedding::DOUBLE[] AS e,
                    CAST(CASE WHEN label < 5 THEN 1 ELSE 0 END AS DOUBLE) AS y
             FROM embeddings),
w0 AS (SELECT [{zeros}]::DOUBLE[] AS w),
{steps}
SELECT pos - 1 AS pos, ROUND(wi, 8) AS weight
FROM (SELECT UNNEST(w) AS wi, generate_subscripts(w, 1) AS pos FROM w{LR_ITERS})
ORDER BY pos
"""


QUERIES["q_logreg_gd"] = QuerySpec(
    q_logreg_gd,
    _logreg_sql(),
    "logistic-regression quality classifier by full-batch GD (one scan + d-row shuffle per iter)",
)


# ------------------------------------------------- chunk-level dedup
# C4-style intra-corpus chunk dedup: every document is cut into
# consecutive 10-word chunks and a chunk occurrence is dropped when
# the identical chunk text appeared earlier in the corpus (first
# occurrence by (doc_id, chunk_no) wins). Reported per document:
# total chunks, retained chunks, retained ratio — the curation gate a
# C4/RefinedWeb pipeline applies before training. The global
# first-occurrence pick is one chunk-keyed shuffle (rank over the
# chunk hash key); nothing is all-pairs and the chunk key
# distributes uniformly at any corpus size.

CHUNK_WORDS = 10


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim(F.col("text")), " ").alias("words")
    )
    nchunks = F.ceil(F.size("words") / F.lit(CHUNK_WORDS)).cast("int")
    chunks = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), nchunks - 1),
                lambda k: F.array_join(
                    F.slice(F.col("words"), k * CHUNK_WORDS + 1, CHUNK_WORDS), " "
                ),
            )
        ).alias("chunk_no", "chunk"),
    )
    w_first = Window.partitionBy("chunk").orderBy("doc_id", "chunk_no")
    kept = chunks.withColumn(
        "keep", (F.row_number().over(w_first) == 1).cast("int")
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("keep").cast("long").alias("kept_chunks"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "kept_chunks",
            F.round(
                F.col("kept_chunks").cast("double") / F.col("n_chunks"), 8
            ).alias("retained_ratio"),
        )
        .orderBy("doc_id")
    )


Q_CHUNK_DEDUP_SQL = f"""
WITH docs AS (
  SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents),
chunks AS (
  SELECT doc_id, k AS chunk_no,
         array_to_string(words[k * {CHUNK_WORDS} + 1 : k * {CHUNK_WORDS} + {CHUNK_WORDS}], ' ') AS chunk
  FROM (SELECT doc_id, words,
               UNNEST(generate_series(0, CAST(CEIL(len(words) / {CHUNK_WORDS}.0) AS INT) - 1)) AS k
        FROM docs)),
kept AS (
  SELECT doc_id,
         CASE WHEN ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_no) = 1
              THEN 1 ELSE 0 END AS keep
  FROM chunks)
SELECT doc_id, COUNT(*) AS n_chunks, CAST(SUM(keep) AS BIGINT) AS kept_chunks,
       ROUND(CAST(SUM(keep) AS DOUBLE) / COUNT(*), 8) AS retained_ratio
FROM kept GROUP BY doc_id ORDER BY doc_id
"""

QUERIES["q_chunk_dedup"] = QuerySpec(
    q_chunk_dedup,
    Q_CHUNK_DEDUP_SQL,
    "C4-style 10-word chunk dedup across the corpus (first occurrence wins, per-doc retention)",
)


# ------------------------------------------------- BPE merge learning
# Learn the first 3 byte-pair-encoding merges from the corpus — the
# tokenizer-training step itself (the r7 q_bpe_pair_stats computes one
# round of pair statistics; this runs the actual iterative algorithm).
# Each round is one pair-keyed partial-agg shuffle over the DISTINCT
# word table (pair counts weighted by word frequency, the classic
# Sennrich formulation) + a 1-row top-pair broadcast cross applying
# the merge corpus-wide via non-overlapping left-to-right replace —
# both engines' replace() shares that exact semantics. The word table
# is vocabulary-sized, not corpus-sized, so rounds stay cheap at any
# scale; the top-1 pick is a fully tie-broken (cnt DESC, pair ASC)
# TakeOrdered, not a global sort.

BPE_MERGES = 3


def _bpe_learn_merges(spark: SparkSession, sf_dir: str):
    """Run the merge-learning loop; returns (merge one-row DFs, the
    final spaced word table with the merges applied, keyed by word).
    Shared by q_bpe_learn (reports the merges) and q_tokenizer_apply
    (tokenizes the corpus with them).

    r13: each round's winning pair is a bounded 1-row control-plane
    collect (the same convention as the streaming cutoff probes), and
    the merge is applied with LITERAL pair/merged strings. The old
    shape kept the top-1 as a lazy broadcast-crossJoin, so round k's
    `spaced` lineage re-derived round k-1's `spaced` TWICE (once under
    the top-k subplan, once as the replace input) — an exponential
    2^k re-derivation of the corpus explode+groupBy that put 50
    Exchanges in q_tokenizer_apply's plan. The vocab table is
    transient-persisted so the three rounds' pair counts scan the
    cached vocabulary instead of re-running the corpus explode."""
    from kcore_spark.caching import transient_persist

    docs = load_table(spark, sf_dir, "documents")
    words = transient_persist(
        docs.select(F.explode(F.split(F.trim(F.col("text")), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    spaced = words.select(
        "word",
        F.rtrim(F.regexp_replace(F.col("word"), "(.)", "$1 ")).alias("spaced"),
        "freq",
    )
    merges = []
    for step in range(1, BPE_MERGES + 1):
        toks = F.split(F.col("spaced"), " ")
        pairs = F.when(
            F.size(toks) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.concat(
                    F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        counts = (
            spaced.select(F.explode(pairs).alias("pair"), "freq")
            .groupBy("pair")
            .agg(F.sum("freq").cast("long").alias("cnt"))
        )
        rows = counts.orderBy(F.col("cnt").desc(), F.col("pair")).limit(1).collect()
        if not rows:
            # degenerate corpus (no 2-token word survives): identical to
            # the old crossJoin-with-empty-top behavior — empty merge
            # row, spaced empties for the remaining rounds
            empty = spark.range(0).select(
                F.lit(step).alias("step"),
                F.lit("").alias("pair"),
                F.lit("").alias("merged"),
                F.lit(0).cast("long").alias("cnt"),
            )
            merges.append(empty)
            spaced = spaced.where(F.lit(False))
            continue
        pair_s, merged_s = rows[0]["pair"], rows[0]["pair"].replace(" ", "")
        merges.append(
            spark.range(1).select(
                F.lit(step).alias("step"),
                F.lit(pair_s).alias("pair"),
                F.lit(merged_s).alias("merged"),
                F.lit(int(rows[0]["cnt"])).cast("long").alias("cnt"),
            )
        )
        spaced = spaced.select(
            "word",
            F.replace(
                F.col("spaced"), F.lit(pair_s), F.lit(merged_s)
            ).alias("spaced"),
            "freq",
        )
    return merges, spaced


def q_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges, _spaced = _bpe_learn_merges(spark, sf_dir)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionAll(m)
    return out.orderBy("step")


def _bpe_pair_counts_sql(sp: str, out: str) -> str:
    """DuckDB CTEs ``pc_<out>`` (adjacent-symbol pair counts over the
    spaced vocabulary ``sp``) and ``<out>`` (its top pair, merged)."""
    return f"""pc_{out} AS (
  SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM (SELECT UNNEST(list_transform(generate_series(1, len(string_split(spaced, ' ')) - 1),
                i -> string_split(spaced, ' ')[i] || ' ' || string_split(spaced, ' ')[i + 1])) AS pair,
               freq
        FROM {sp})
  GROUP BY pair),
{out} AS (
  SELECT pair, replace(pair, ' ', '') AS merged, cnt
  FROM pc_{out} ORDER BY cnt DESC, pair LIMIT 1)"""


def _bpe_sql() -> str:
    parts = []
    for k in range(1, BPE_MERGES + 1):
        parts.append(_bpe_pair_counts_sql(f"sp{k - 1}", f"m{k}"))
        if k < BPE_MERGES:
            parts.append(
                f"""sp{k} AS (
  SELECT replace(spaced, (SELECT pair FROM m{k}), (SELECT merged FROM m{k})) AS spaced, freq
  FROM sp{k - 1})"""
            )
    union = "\nUNION ALL\n".join(
        f"SELECT {k} AS step, pair, merged, cnt FROM m{k}"
        for k in range(1, BPE_MERGES + 1)
    )
    return f"""
WITH words AS (
  SELECT word, COUNT(*) AS freq
  FROM (SELECT UNNEST(string_split(trim(text), ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY word),
sp0 AS (
  SELECT rtrim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS spaced, freq FROM words),
{",".join(parts)}
SELECT * FROM ({union}) ORDER BY step
"""


QUERIES["q_bpe_learn"] = QuerySpec(
    q_bpe_learn,
    _bpe_sql(),
    "first 3 BPE merges learned from the corpus (vocabulary-sized rounds, tie-broken top pair)",
)


# ------------------------------------------------ tokenizer apply
# Close the tokenizer-training loop: apply the 3 learned merges to
# the whole corpus and report per-document token counts + fertility
# (tokens per word) — the metric a tokenizer is actually judged by.
# The merges are applied on the VOCABULARY (distinct-word) table and
# joined back to the exploded corpus by word, so the expensive string
# work is vocabulary-sized while the corpus pass is one word-keyed
# join — the same shape at any corpus size.


def q_tokenizer_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    _merges, spaced = _bpe_learn_merges(spark, sf_dir)
    tok_cnt = spaced.select(
        "word", F.size(F.split(F.col("spaced"), " ")).alias("t")
    )
    docs = load_table(spark, sf_dir, "documents")
    doc_words = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), " ")).alias("word")
    ).where(F.col("word") != "")
    # tok_cnt is vocabulary-sized but sits on a 3-round iterative plan
    # whose size the planner cannot estimate — hint the broadcast so
    # the corpus-sized exploded side is never shuffled (guide §3.1)
    return (
        doc_words.join(F.broadcast(tok_cnt), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("t").cast("long").alias("n_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_tokens",
            F.round(F.col("n_tokens").cast("double") / F.col("n_words"), 8).alias(
                "fertility"
            ),
        )
        .orderBy("doc_id")
    )


def _tokenizer_sql() -> str:
    parts = []
    for k in range(1, BPE_MERGES + 1):
        parts.append(_bpe_pair_counts_sql(f"sp{k - 1}", f"m{k}"))
        parts.append(
            f"""sp{k} AS (
  SELECT word, replace(spaced, (SELECT pair FROM m{k}), (SELECT merged FROM m{k})) AS spaced, freq
  FROM sp{k - 1})"""
        )
    return f"""
WITH words AS (
  SELECT word, COUNT(*) AS freq
  FROM (SELECT UNNEST(string_split(trim(text), ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY word),
sp0 AS (
  SELECT word, rtrim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS spaced, freq FROM words),
{",".join(parts)},
tokcnt AS (SELECT word, len(string_split(spaced, ' ')) AS t FROM sp{BPE_MERGES}),
docw AS (
  SELECT doc_id, word
  FROM (SELECT doc_id, UNNEST(string_split(trim(text), ' ')) AS word FROM documents)
  WHERE word <> '')
SELECT doc_id, COUNT(*) AS n_words, CAST(SUM(t) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(t) AS DOUBLE) / COUNT(*), 8) AS fertility
FROM docw JOIN tokcnt USING (word)
GROUP BY doc_id ORDER BY doc_id
"""


QUERIES["q_tokenizer_apply"] = QuerySpec(
    q_tokenizer_apply,
    _tokenizer_sql(),
    "apply the learned BPE merges corpus-wide: per-doc token counts + fertility",
)
