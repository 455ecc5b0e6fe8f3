"""Model-evaluation queries: the metrics a training-data pipeline runs
AFTER a model exists — ranking quality (NDCG/MRR), probability
calibration (ECE bins, Brier) — computed distributed, joining
q_auc_ranking (retrieval.py) to complete the evaluation family.

Determinism doctrine (shared with q_auc_ranking): every float that two
engines must agree on is either (a) derived from pure integer
arithmetic until one final division, or (b) quantized to integer
micro-units per TERM before summing, so the sum is order-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources import load_table
from .registry import query


# ---------------------------------------------------------------------------
# Ranking quality: NDCG@10 + MRR per query group
# ---------------------------------------------------------------------------

@query("q_ndcg_mrr", oracle="""
WITH base AS (
  SELECT vec_id % 20 AS qid, vec_id,
         ROUND(CAST(embedding[1] AS DOUBLE), 6) AS score,
         label AS rel
  FROM embeddings
), ranked AS (
  SELECT qid, vec_id, rel,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, vec_id)
           AS rk,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, vec_id)
           AS irk
  FROM base
), terms AS (
  SELECT qid, rel, rk, irk,
         CAST(ROUND((POW(2, rel) - 1) / LOG2(rk + 1) * 1000000)
              AS BIGINT) AS dcg_u,
         CAST(ROUND((POW(2, rel) - 1) / LOG2(irk + 1) * 1000000)
              AS BIGINT) AS idcg_u
  FROM ranked
)
SELECT qid,
       CAST(COUNT(*) AS BIGINT) AS n_cand,
       CASE WHEN SUM(idcg_u) FILTER (WHERE irk <= 10) = 0 THEN 0.0
            ELSE ROUND(SUM(dcg_u) FILTER (WHERE rk <= 10)::DOUBLE
                       / SUM(idcg_u) FILTER (WHERE irk <= 10), 6) + 0.0
       END AS ndcg10,
       COALESCE(ROUND(1.0 / MIN(CASE WHEN rel >= 7 THEN rk END), 6), 0.0)
         + 0.0 AS mrr
FROM terms
GROUP BY qid
""")
def q_ndcg_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation: NDCG@10 and MRR per query group —
    the retrieval-eval metrics run over every (query, ranked
    candidates) table a RAG or search pipeline produces. Demo framing:
    embeddings bucketed into 20 query groups (vec_id % 20), ranked by
    first-component score; graded relevance = label (0-9), binary
    relevance for MRR = label >= 7.

    Determinism: the score is rounded to 6 BEFORE ranking with a
    vec_id tiebreak (total order both engines); each DCG term
    (2^rel - 1)/log2(rank + 1) is quantized to integer micro-units
    before summing, so per-group sums are order-free, and NDCG is one
    final integer-ratio division. All-irrelevant groups get ndcg10 =
    0.0 (IDCG = 0 guard), no-relevant-hit groups get mrr = 0.0.

    Scale: two same-key windows per query group (one exchange on qid,
    two bounded sorts), one map-side-combined groupBy — no
    single-partition anything; candidate lists per query are the only
    sort unit. 100 TB story: qid is the natural partition key of any
    eval set; skewed giant candidate lists are the one hazard and they
    trim to @10 AFTER ranking, so cap candidates upstream."""
    e = load_table(spark, sf_dir, "embeddings")
    base = e.select(
        (F.col("vec_id") % 20).alias("qid"), "vec_id",
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("score"),
        F.col("label").alias("rel"))
    w_rank = W.partitionBy("qid").orderBy(F.desc("score"), "vec_id")
    w_ideal = W.partitionBy("qid").orderBy(F.desc("rel"), "vec_id")
    gain = F.pow(F.lit(2), F.col("rel")) - 1
    ranked = base.select(
        "qid", "rel",
        F.row_number().over(w_rank).alias("rk"),
        F.row_number().over(w_ideal).alias("irk"))
    terms = ranked.select(
        "qid", "rel", "rk", "irk",
        F.round(gain / F.log2(F.col("rk") + 1) * 1e6)
         .cast("bigint").alias("dcg_u"),
        F.round(gain / F.log2(F.col("irk") + 1) * 1e6)
         .cast("bigint").alias("idcg_u"))
    idcg10 = F.sum(F.when(F.col("irk") <= 10, F.col("idcg_u")))
    dcg10 = F.sum(F.when(F.col("rk") <= 10, F.col("dcg_u")))
    first_hit = F.min(F.when(F.col("rel") >= 7, F.col("rk")))
    return (terms.groupBy("qid")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_cand"),
                 F.when(idcg10 == 0, F.lit(0.0))
                  .otherwise(F.round(dcg10.cast("double") / idcg10, 6) + 0.0)
                  .alias("ndcg10"),
                 (F.coalesce(F.round(1.0 / first_hit, 6), F.lit(0.0)) + 0.0)
                  .alias("mrr")))


# ---------------------------------------------------------------------------
# Probability calibration: reliability bins (ECE inputs) + Brier
# ---------------------------------------------------------------------------

@query("q_calibration", oracle="""
WITH scored AS (
  SELECT CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y,
         80 * label + ((vec_id % 1000003) * 2654435761 % 1000) // 5
           AS p_milli
  FROM embeddings
), binned AS (
  SELECT y, p_milli, LEAST(p_milli // 100, 9) AS bin FROM scored
)
SELECT bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(p_milli)::DOUBLE / (1000 * COUNT(*)), 6) + 0.0 AS mean_p,
       ROUND(SUM(y)::DOUBLE / COUNT(*), 6) + 0.0 AS frac_pos,
       ROUND(ABS(SUM(p_milli)::DOUBLE / 1000 - SUM(y))
             / COUNT(*), 6) + 0.0 AS abs_gap,
       ROUND(SUM((p_milli - 1000 * y) * (p_milli - 1000 * y))::DOUBLE
             / 1000000 / COUNT(*), 6) + 0.0 AS brier
FROM binned
GROUP BY bin
""")
def q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-calibration audit: 10 reliability bins with mean
    predicted probability vs empirical positive rate (the per-bin
    |gap|s are the ECE terms — ECE = sum(n_b/N * abs_gap_b)) plus the
    per-bin Brier score. The post-training companion to q_auc_ranking:
    AUC measures ranking, this measures whether the probabilities mean
    what they say. Demo scorer: a deterministic integer-hash
    probability in milliunits, label-correlated (80*label milli) plus
    hash noise, so bins are populated and calibration is non-trivial.

    Determinism: the probability never exists as a float — it is an
    integer milliunit value end-to-end (hash is modular integer
    arithmetic; vec_id is bounded mod 1000003 first so the multiply
    can never overflow int64 at any scale). Every output is a ratio
    of exact integer sums, rounded once: zero float fold-order
    exposure, bit-identical across engines and partitionings.

    Scale: one map-side-combined groupBy on a 10-value key — the
    textbook low-cardinality aggregate; partial aggregation reduces
    each partition to <=10 rows before the exchange."""
    e = load_table(spark, sf_dir, "embeddings")
    p_milli = (80 * F.col("label")
               + ((F.col("vec_id") % 1000003) * F.lit(2654435761).cast("bigint")
                  % 1000) / F.lit(5)).cast("bigint")
    scored = e.select(
        F.when(F.col("label") >= 5, 1).otherwise(0).alias("y"),
        p_milli.alias("p_milli"))
    binned = scored.select(
        "y", "p_milli",
        F.least(F.floor(F.col("p_milli") / 100), F.lit(9)).alias("bin"))
    n = F.count(F.lit(1))
    sum_p = F.sum("p_milli")
    sum_y = F.sum("y")
    resid = F.col("p_milli") - 1000 * F.col("y")
    sq = resid * resid  # stays BIGINT: the Brier sum is an exact integer
    return (binned.groupBy("bin")
            .agg(n.cast("bigint").alias("n"),
                 (F.round(sum_p.cast("double") / (1000 * n), 6) + 0.0)
                  .alias("mean_p"),
                 (F.round(sum_y.cast("double") / n, 6) + 0.0)
                  .alias("frac_pos"),
                 (F.round(F.abs(sum_p.cast("double") / 1000 - sum_y) / n, 6)
                  + 0.0).alias("abs_gap"),
                 (F.round(F.sum(sq).cast("double") / 1e6 / n, 6) + 0.0)
                  .alias("brier")))


# ---------------------------------------------------------------------------
# Thresholded classification report: confusion counts + per-class P/R/F1
# ---------------------------------------------------------------------------

@query("q_classification_report", oracle="""
WITH scored AS (
  SELECT CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y,
         CASE WHEN 80 * label + ((vec_id % 1000003) * 2654435761 % 1000) // 5
                   >= 500 THEN 1 ELSE 0 END AS yhat
  FROM embeddings
), cm AS (
  SELECT SUM(CASE WHEN y = 1 AND yhat = 1 THEN 1 ELSE 0 END) AS tp1,
         SUM(CASE WHEN y = 0 AND yhat = 1 THEN 1 ELSE 0 END) AS fp1,
         SUM(CASE WHEN y = 1 AND yhat = 0 THEN 1 ELSE 0 END) AS fn1,
         SUM(CASE WHEN y = 0 AND yhat = 0 THEN 1 ELSE 0 END) AS tn1
  FROM scored
), per_class AS (
  SELECT 1 AS class, tp1 AS tp, fp1 AS fp, fn1 AS fn FROM cm
  UNION ALL
  SELECT 0 AS class, tn1 AS tp, fn1 AS fp, fp1 AS fn FROM cm
)
SELECT class, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn,
       ROUND(tp::DOUBLE / NULLIF(tp + fp, 0), 6) + 0.0 AS precision_,
       ROUND(tp::DOUBLE / NULLIF(tp + fn, 0), 6) + 0.0 AS recall_,
       ROUND(2.0 * tp / NULLIF(2 * tp + fp + fn, 0), 6) + 0.0 AS f1
FROM per_class
""")
def q_classification_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded classification report: confusion counts and
    per-class precision/recall/F1 at the 0.5 operating point of the
    same deterministic hash scorer q_auc_ranking and q_calibration
    audit — AUC measures ranking, calibration measures probability
    meaning, this measures the DEPLOYED thresholded decision (the
    form a quality-filter gate actually runs in the pipeline).

    Determinism: the score exists only as integer milliunits, so the
    threshold test is integer; all metrics are ratios of exact
    integer counts (F1 computed as 2tp/(2tp+fp+fn) — one division,
    no nested float ratios); degenerate classes produce NULL via the
    guarded denominators.

    Scale: ONE conditional-aggregate pass over the fact table to a
    1-row confusion matrix; the per-class reshape happens on that
    1-row result. No shuffle wider than 4 integers per partition."""
    e = load_table(spark, sf_dir, "embeddings")
    p_milli = (80 * F.col("label")
               + ((F.col("vec_id") % 1000003)
                  * F.lit(2654435761).cast("bigint") % 1000)
               / F.lit(5)).cast("bigint")
    y = F.when(F.col("label") >= 5, 1).otherwise(0)
    yhat = F.when(p_milli >= 500, 1).otherwise(0)
    cm = (e.select(y.alias("y"), yhat.alias("yhat"))
          .agg(F.sum(F.when((F.col("y") == 1) & (F.col("yhat") == 1), 1)
                     .otherwise(0)).alias("tp1"),
               F.sum(F.when((F.col("y") == 0) & (F.col("yhat") == 1), 1)
                     .otherwise(0)).alias("fp1"),
               F.sum(F.when((F.col("y") == 1) & (F.col("yhat") == 0), 1)
                     .otherwise(0)).alias("fn1"),
               F.sum(F.when((F.col("y") == 0) & (F.col("yhat") == 0), 1)
                     .otherwise(0)).alias("tn1")))
    pos = cm.select(F.lit(1).alias("class"), F.col("tp1").alias("tp"),
                    F.col("fp1").alias("fp"), F.col("fn1").alias("fn"))
    neg = cm.select(F.lit(0).alias("class"), F.col("tn1").alias("tp"),
                    F.col("fn1").alias("fp"), F.col("fp1").alias("fn"))
    per = pos.unionByName(neg)
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return per.select(
        "class", tp.cast("bigint").alias("tp"), fp.cast("bigint").alias("fp"),
        fn.cast("bigint").alias("fn"),
        (F.round(tp.cast("double") / F.nullif(tp + fp, F.lit(0)), 6) + 0.0)
        .alias("precision_"),
        (F.round(tp.cast("double") / F.nullif(tp + fn, F.lit(0)), 6) + 0.0)
        .alias("recall_"),
        (F.round(2.0 * tp / F.nullif(2 * tp + fp + fn, F.lit(0)), 6) + 0.0)
        .alias("f1"))


# ---------------------------------------------------------------------------
# Unbiased pass@k estimation over grouped samples
# ---------------------------------------------------------------------------

@query("q_pass_at_k", oracle="""
WITH s AS (
  SELECT vec_id % 50 AS task_id,
         COUNT(*) AS n,
         COUNT(*) FILTER (WHERE label >= 5) AS c
  FROM embeddings GROUP BY 1
)
SELECT task_id, CAST(n AS BIGINT) AS n, CAST(c AS BIGINT) AS c,
       ROUND(c::DOUBLE / n, 6) + 0.0 AS pass_at_1,
       CASE WHEN n - c >= 5 THEN
         ROUND(1.0 - ((n-c)*(n-c-1)*(n-c-2)*(n-c-3)*(n-c-4))::DOUBLE
                     / (n*(n-1)*(n-2)*(n-3)*(n-4)), 6) + 0.0
       ELSE 1.0 END AS pass_at_5
FROM s WHERE n >= 5
""")
def q_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbiased pass@k (Chen et al. 2021, the HumanEval estimator):
    per task with n samples of which c are correct,
    pass@k = 1 - C(n-c, k) / C(n, k) — the probability at least one
    of k drawn samples is correct, the standard metric a code/LLM
    eval pipeline aggregates over generated-sample tables. Demo
    grouping: 50 tasks by vec_id ring, correctness = label >= 5.

    Determinism: the binomial ratio is expanded to a falling-factorial
    quotient of exact BIGINT products (k=5 pinned; products bounded by
    n^5), so both engines perform ONE identical double division;
    n-c < k short-circuits to exactly 1.0 before any arithmetic.

    Scale: one map-side-combined conditional-count groupBy on task_id;
    the estimator is a map-side expression over |tasks| rows."""
    e = load_table(spark, sf_dir, "embeddings")
    s = (e.groupBy((F.col("vec_id") % 50).alias("task_id"))
         .agg(F.count(F.lit(1)).alias("n"),
              F.count(F.when(F.col("label") >= 5, 1)).alias("c"))
         .filter(F.col("n") >= 5))
    n, c = F.col("n"), F.col("c")

    def falling(base, k=5):
        prod = base
        for i in range(1, k):
            prod = prod * (base - i)
        return prod

    pass5 = F.when(
        n - c >= 5,
        F.round(1.0 - falling(n - c).cast("double") / falling(n), 6) + 0.0
    ).otherwise(F.lit(1.0))
    return s.select("task_id", n.cast("bigint").alias("n"),
                    c.cast("bigint").alias("c"),
                    (F.round(c.cast("double") / n, 6) + 0.0)
                    .alias("pass_at_1"),
                    pass5.alias("pass_at_5"))


# ---------------------------------------------------------------------------
# Lift / gains deciles (campaign-targeting evaluation)
# ---------------------------------------------------------------------------

@query("q_lift_gains", oracle="""
WITH s AS (
  SELECT vec_id, ROUND(CAST(embedding[1] AS DOUBLE), 6) AS score,
         CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y
  FROM embeddings
), pos AS (
  SELECT vec_id, y, row_number() OVER (ORDER BY score DESC, vec_id) - 1 AS p,
         COUNT(*) OVER () AS n
  FROM s
), dec AS (
  SELECT CAST(FLOOR(p * 10.0 / n) AS BIGINT) AS decile,
         COUNT(*) AS n_rows, SUM(y) AS n_pos
  FROM pos GROUP BY 1
), tot AS (SELECT SUM(n_pos) AS tp, SUM(n_rows) AS tn FROM dec)
SELECT decile, CAST(n_rows AS BIGINT) AS n_rows, CAST(n_pos AS BIGINT) AS n_pos,
       CAST(SUM(n_pos) OVER (ORDER BY decile) AS BIGINT) AS cum_pos,
       ROUND(SUM(n_pos) OVER (ORDER BY decile) * 100.0 / NULLIF(tot.tp, 0), 4)
         + 0.0 AS capture_pct,
       ROUND((n_pos::DOUBLE / n_rows)
             / NULLIF(tot.tp::DOUBLE / tot.tn, 0), 6) + 0.0
         AS lift
FROM dec CROSS JOIN tot
""")
def q_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift / cumulative-gains table — the campaign-targeting
    view of ranking quality that completes the evaluation family
    (q_auc_ranking says HOW WELL the scorer orders, this says WHAT YOU
    CAPTURE by acting on the top k%): rows ranked by score descending,
    cut into 10 equal-count deciles, each reporting positives, the
    running capture rate, and lift vs the base rate. Same demo scorer
    as q_auc_ranking (first embedding component, label >= 5 positive).

    Determinism: scores rounded to 6 BEFORE ranking with vec_id as the
    total-order tiebreak (the q_weighted_sample rule); decile counts
    are exact integers; capture/lift are single divisions of integer
    sums rounded at 4/6.

    Scale: the global rank comes from operators/rank.py's TWO-PHASE
    lazy_row_number (range-bucket + per-bucket bases + bucket-
    partitioned window) — no single-partition sort anywhere (the
    q_auc_ranking round-6 lesson, applied from day one here). The
    decile groupBy is map-side combined onto 10 cells; the cumulative
    window runs over 10 rows. At 100 TB the only full-data pass is the
    rank's bucket counting."""
    from ..operators.rank import lazy_row_number

    e = load_table(spark, sf_dir, "embeddings")
    s = e.select(
        "vec_id",
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("score"),
        F.when(F.col("label") >= 5, 1).otherwise(0).alias("y"))
    # descending score order via a negated integral bucket projection:
    # -score at 6-digit precision is monotone in (score DESC).
    # r13: fully-lazy rank — single consumer, the CacheSlot
    # materialization job bought nothing (see operators/rank.py).
    ranked = lazy_row_number(
        s.withColumn("nscore", -F.col("score")),
        order_cols=["nscore", "vec_id"],
        bucket_key=F.round(F.col("nscore") * 1e6).cast("long"),
        out_col="p")
    n_tot = s.agg(F.count("*").alias("n"))
    dec = (ranked.crossJoin(F.broadcast(n_tot))
           .select(F.floor(F.col("p") * 10.0 / F.col("n"))
                   .cast("long").alias("decile"), "y")
           .groupBy("decile")
           .agg(F.count("*").alias("n_rows"), F.sum("y").alias("n_pos")))
    tot = dec.agg(F.sum("n_pos").alias("tp"), F.sum("n_rows").alias("tn"))
    wc = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (dec.crossJoin(F.broadcast(tot))
            .withColumn("cum_pos", F.sum("n_pos").over(wc))
            .select("decile",
                    F.col("n_rows").cast("long").alias("n_rows"),
                    F.col("n_pos").cast("long").alias("n_pos"),
                    F.col("cum_pos").cast("long").alias("cum_pos"),
                    F.when(F.col("tp") == 0, F.lit(None).cast("double"))
                    .otherwise(
                        F.round(F.col("cum_pos") * 100.0 / F.col("tp"), 4)
                        + F.lit(0.0)).alias("capture_pct"),
                    F.when(F.col("tp") == 0, F.lit(None).cast("double"))
                    .otherwise(
                        F.round((F.col("n_pos").cast("double")
                                 / F.col("n_rows"))
                                / (F.col("tp").cast("double") / F.col("tn")),
                                6)
                        + F.lit(0.0)).alias("lift")))
