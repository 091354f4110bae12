"""Statistical-evaluation registry queries (r8): model/experiment metrics a
training-data pipeline runs beside curation — Brier decomposition, rater
agreement (Cohen's kappa), paired-classifier McNemar test, rank
correlations (Kendall tau-b, Spearman), Welch two-sample t, a multinomial
naive-Bayes classifier trained/applied in-plan, exact PR-AUC (average
precision), chi-square feature selection over the vocabulary, and a
shuffle-free 200-replicate Monte-Carlo randomization test.

Reference analog: the reference computes no statistics beyond sums/ratios
(``src/transform.py``); these extend the engine's eval surface the same way
ml_auc_roc_exact / events_ab_test_ztest did in earlier rounds.

Determinism contracts (cross-engine exactness):
* Pseudo-probabilities / noise reuse the house md5 fixed-point derivation
  (``(md5(id) first-8-hex) % 1000 / 999``) so both engines score identical
  inputs; probabilities are quantized to e6 integers before any sum.
* Every cross-row accumulation is an exact BIGINT (counts, e4/e6-scaled
  sums, squared e4 sums) or an exact DECIMAL sum of per-group rationals
  rounded at 12dp — never an order-dependent double sum.
* Final statistics are single rational expressions over those exact
  aggregates, rounded to 6dp identically in both engines.

Scale posture: every query here is one scan -> one map-side-combinable
hash aggregate (plus a <=31-row self-join for the rank correlations over
the daily spine) — no shuffle of raw rows beyond the group keys, no
collect, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.text import md5_u32
from ..session import pin_query_session_conf
from .registry import register

# md5-derived noise in [0, 1], same derivation as ml_calibration_reliability
_NOISE_SQL = "((('0x' || substr(md5(CAST({id} AS VARCHAR)), 1, 8))::BIGINT % 1000) / 999.0)"


def _noise(id_col: str) -> F.Column:
    return (
        md5_u32(F.col(id_col).cast("string"))
        % 1000
    ) / F.lit(999.0)


# -- Brier score + Murphy decomposition ----------------------------------------

_ORACLE_BRIER = f"""
WITH scored AS (
  SELECT label % 2 AS y,
         CAST(round((0.7 * (label % 2)
               + 0.3 * {_NOISE_SQL.format(id="vec_id")}) * 1000000, 0) AS BIGINT)
           AS p_e6
  FROM embeddings
),
bins AS (
  SELECT least(CAST(floor(p_e6 / 100000.0) AS INTEGER), 9) AS bin,
         COUNT(*) AS n_k,
         CAST(SUM(p_e6) AS BIGINT) AS s_k,
         CAST(SUM(y) AS BIGINT) AS y_k
  FROM scored GROUP BY 1
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS pos,
         CAST(SUM(p_e6 * p_e6) AS BIGINT) AS sum_p2,
         CAST(SUM(p_e6 * y) AS BIGINT) AS sum_py
  FROM scored
),
parts AS (
  SELECT CAST(SUM(CAST(round(
           power(CAST(s_k - 1000000 * y_k AS DOUBLE) / 1000000.0, 2) / n_k,
           12) AS DECIMAL(30,12))) AS DECIMAL(30,12)) AS rel_num,
         CAST(SUM(CAST(round(
           power(CAST(y_k AS DOUBLE) / n_k
                 - (SELECT CAST(pos AS DOUBLE) / n FROM tot), 2) * n_k,
           12) AS DECIMAL(30,12))) AS DECIMAL(30,12)) AS res_num
  FROM bins
)
SELECT t.n, t.pos,
       round((CAST(t.sum_p2 AS DOUBLE) - 2000000.0 * t.sum_py
              + 1000000000000.0 * t.pos) / (1000000000000.0 * t.n), 6)
         AS brier,
       round(CAST(p.rel_num AS DOUBLE) / t.n, 6) AS reliability,
       round(CAST(p.res_num AS DOUBLE) / t.n, 6) AS resolution,
       round(CAST(t.pos AS DOUBLE) / t.n
             * (1.0 - CAST(t.pos AS DOUBLE) / t.n), 6) AS uncertainty
FROM tot t, parts p
"""


@register(
    "ml_brier_decomposition",
    oracle=_ORACLE_BRIER,
    tags=("ml", "eval"),
    doc=(
        "Brier score with the Murphy (1973) three-way decomposition "
        "(reliability - resolution + uncertainty) over 10 probability "
        "bins, on the same md5-deterministic pseudo-probabilities as "
        "ml_calibration_reliability. The Brier total is a pure integer "
        "path (e6-quantized p: sum p^2, sum p*y, sum y as BIGINTs); the "
        "per-bin reliability/resolution terms are rationals rounded at "
        "12dp and summed as exact DECIMALs, so no order-dependent float "
        "sum crosses the oracle. One scan, two hash aggregates."
    ),
)
def ml_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    scored = emb.select(
        (F.col("label") % 2).alias("y"),
        F.round(
            (F.lit(0.7) * (F.col("label") % 2) + F.lit(0.3) * _noise("vec_id"))
            * 1000000,
            0,
        )
        .cast("bigint")
        .alias("p_e6"),
    )
    bins = scored.groupBy(
        F.least(F.floor(F.col("p_e6") / 100000.0).cast("int"), F.lit(9)).alias(
            "bin"
        )
    ).agg(
        F.count(F.lit(1)).alias("n_k"),
        F.sum("p_e6").cast("bigint").alias("s_k"),
        F.sum("y").cast("bigint").alias("y_k"),
    )
    tot = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("pos"),
        F.sum(F.col("p_e6") * F.col("p_e6")).cast("bigint").alias("sum_p2"),
        F.sum(F.col("p_e6") * F.col("y")).cast("bigint").alias("sum_py"),
    )
    parts = bins.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.round(
                F.pow(
                    (F.col("s_k") - F.lit(1000000) * F.col("y_k")).cast("double")
                    / 1000000.0,
                    2,
                )
                / F.col("n_k"),
                12,
            ).cast("decimal(30,12)")
        ).alias("rel_num"),
        F.sum(
            F.round(
                F.pow(
                    F.col("y_k").cast("double") / F.col("n_k")
                    - F.col("pos").cast("double") / F.col("n"),
                    2,
                )
                * F.col("n_k"),
                12,
            ).cast("decimal(30,12)")
        ).alias("res_num"),
    )
    return (
        tot.crossJoin(F.broadcast(parts))
        .select(
            "n",
            "pos",
            F.round(
                (
                    F.col("sum_p2").cast("double")
                    - F.lit(2000000.0) * F.col("sum_py")
                    + F.lit(1000000000000.0) * F.col("pos")
                )
                / (F.lit(1000000000000.0) * F.col("n")),
                6,
            ).alias("brier"),
            F.round(F.col("rel_num").cast("double") / F.col("n"), 6).alias(
                "reliability"
            ),
            F.round(F.col("res_num").cast("double") / F.col("n"), 6).alias(
                "resolution"
            ),
            F.round(
                F.col("pos").cast("double")
                / F.col("n")
                * (F.lit(1.0) - F.col("pos").cast("double") / F.col("n")),
                6,
            ).alias("uncertainty"),
        )
    )


# -- Cohen's kappa (two deterministic raters) -----------------------------------

_ORACLE_KAPPA = f"""
WITH rated AS (
  SELECT CASE WHEN value > 100 THEN 1 ELSE 0 END AS a,
         CASE WHEN value + 50.0 * {_NOISE_SQL.format(id="event_id")} > 100
              THEN 1 ELSE 0 END AS b
  FROM events
),
c AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree,
         CAST(SUM(a) AS BIGINT) AS na,
         CAST(SUM(b) AS BIGINT) AS nb
  FROM rated
)
SELECT n, agree, na, nb,
       round(CAST(agree AS DOUBLE) / n, 6) AS po,
       round((CAST(na AS DOUBLE) * nb + CAST(n - na AS DOUBLE) * (n - nb))
             / (CAST(n AS DOUBLE) * n), 6) AS pe,
       round((CAST(agree AS DOUBLE) / n
              - (CAST(na AS DOUBLE) * nb + CAST(n - na AS DOUBLE) * (n - nb))
                / (CAST(n AS DOUBLE) * n))
             / (1.0 - (CAST(na AS DOUBLE) * nb
                       + CAST(n - na AS DOUBLE) * (n - nb))
                      / (CAST(n AS DOUBLE) * n)), 6) AS kappa
FROM c
"""


@register(
    "ml_cohens_kappa",
    oracle=_ORACLE_KAPPA,
    tags=("ml", "eval"),
    doc=(
        "Cohen's kappa inter-rater agreement between two deterministic "
        "binary raters over events (threshold rater vs md5-noise-shifted "
        "threshold rater): kappa = (po - pe) / (1 - pe) from four exact "
        "BIGINT counts in ONE conditional-aggregate scan — the standard "
        "label-quality gate before using crowd/model labels for training. "
        "All ratios are single rational expressions over integer counts."
    ),
)
def ml_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    rated = ev.select(
        F.when(F.col("value") > 100, 1).otherwise(0).alias("a"),
        F.when(F.col("value") + F.lit(50.0) * _noise("event_id") > 100, 1)
        .otherwise(0)
        .alias("b"),
    )
    c = rated.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), 1).otherwise(0))
        .cast("bigint")
        .alias("agree"),
        F.sum("a").cast("bigint").alias("na"),
        F.sum("b").cast("bigint").alias("nb"),
    )
    po = F.col("agree").cast("double") / F.col("n")
    pe = (
        F.col("na").cast("double") * F.col("nb")
        + (F.col("n") - F.col("na")).cast("double") * (F.col("n") - F.col("nb"))
    ) / (F.col("n").cast("double") * F.col("n"))
    return c.select(
        "n",
        "agree",
        "na",
        "nb",
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
    )


# -- McNemar paired test ---------------------------------------------------------

_ORACLE_MCNEMAR = f"""
WITH scored AS (
  SELECT CASE WHEN event_type IN ('purchase', 'cart') THEN 1 ELSE 0 END AS y,
         CASE WHEN value > 60 THEN 1 ELSE 0 END AS pred_a,
         CASE WHEN value + 50.0 * {_NOISE_SQL.format(id="event_id")} > 80
              THEN 1 ELSE 0 END AS pred_b
  FROM events
),
c AS (
  SELECT
    CAST(SUM(CASE WHEN pred_a = y AND pred_b <> y THEN 1 ELSE 0 END) AS BIGINT) AS b,
    CAST(SUM(CASE WHEN pred_a <> y AND pred_b = y THEN 1 ELSE 0 END) AS BIGINT) AS c,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM scored
)
SELECT n, b, c,
       round(power(abs(CAST(b AS DOUBLE) - c) - 1.0, 2)
             / (CAST(b AS DOUBLE) + c), 6) AS mcnemar_chi2
FROM c
"""


@register(
    "ml_mcnemar_test",
    oracle=_ORACLE_MCNEMAR,
    tags=("ml", "eval"),
    doc=(
        "McNemar paired test between two deterministic classifiers on the "
        "same events (continuity-corrected chi2 = (|b-c|-1)^2/(b+c) over "
        "the discordant-pair counts): the correct A/B test for 'did "
        "classifier B beat classifier A on the SAME examples', where an "
        "unpaired test overstates significance. One conditional-aggregate "
        "scan, exact BIGINT discordant counts, one rational statistic."
    ),
)
def ml_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    scored = ev.select(
        F.when(F.col("event_type").isin("purchase", "cart"), 1)
        .otherwise(0)
        .alias("y"),
        F.when(F.col("value") > 60, 1).otherwise(0).alias("pred_a"),
        F.when(F.col("value") + F.lit(50.0) * _noise("event_id") > 80, 1)
        .otherwise(0)
        .alias("pred_b"),
    )
    c = scored.agg(
        F.sum(
            F.when(
                (F.col("pred_a") == F.col("y")) & (F.col("pred_b") != F.col("y")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("b"),
        F.sum(
            F.when(
                (F.col("pred_a") != F.col("y")) & (F.col("pred_b") == F.col("y")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("c"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return c.select(
        "n",
        "b",
        "c",
        F.round(
            F.pow(F.abs(F.col("b").cast("double") - F.col("c")) - 1.0, 2)
            / (F.col("b").cast("double") + F.col("c")),
            6,
        ).alias("mcnemar_chi2"),
    )


# -- Kendall tau-b over the daily spine ------------------------------------------

_ORACLE_KENDALL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS rev_e4
  FROM events GROUP BY 1
),
pairs AS (
  SELECT a.cnt AS xa, a.rev_e4 AS ya, b.cnt AS xb, b.rev_e4 AS yb
  FROM daily a JOIN daily b ON a.d < b.d
),
agg AS (
  SELECT
    CAST(SUM(CASE WHEN (xa < xb AND ya < yb) OR (xa > xb AND ya > yb)
                  THEN 1 ELSE 0 END) AS BIGINT) AS conc,
    CAST(SUM(CASE WHEN (xa < xb AND ya > yb) OR (xa > xb AND ya < yb)
                  THEN 1 ELSE 0 END) AS BIGINT) AS disc,
    CAST(SUM(CASE WHEN xa = xb AND ya <> yb THEN 1 ELSE 0 END) AS BIGINT) AS tie_x,
    CAST(SUM(CASE WHEN ya = yb AND xa <> xb THEN 1 ELSE 0 END) AS BIGINT) AS tie_y,
    CAST(COUNT(*) AS BIGINT) AS n0
  FROM pairs
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
       conc, disc, tie_x, tie_y,
       round((CAST(conc AS DOUBLE) - disc)
             / sqrt(CAST(n0 - tie_x AS DOUBLE) * (n0 - tie_y)), 6) AS tau_b
FROM agg
"""


@register(
    "ml_kendall_tau_daily",
    oracle=_ORACLE_KENDALL,
    tags=("ml", "eval", "timeseries"),
    doc=(
        "Kendall tau-b rank correlation between daily event count and "
        "daily revenue: concordant/discordant/tied pair counts over the "
        "bounded daily spine (<=31 rows -> <=465 pairs, a broadcast "
        "self-join over an aggregate, never over raw events). Revenue is "
        "compared as an exact e4-scaled BIGINT so no float-sum ordering "
        "can flip a pair across engines; tau-b is one rational over the "
        "exact counts. The monotone-association check for metric drift "
        "(vs ml_spearman_rho_daily's rank-difference form)."
    ),
)
def ml_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum(F.round(F.col("value") * 10000).cast("bigint"))
        .cast("bigint")
        .alias("rev_e4"),
    )
    a = daily.select(
        F.col("d").alias("da"), F.col("cnt").alias("xa"), F.col("rev_e4").alias("ya")
    )
    b = daily.select(
        F.col("d").alias("db"), F.col("cnt").alias("xb"), F.col("rev_e4").alias("yb")
    )
    pairs = a.join(F.broadcast(b), F.col("da") < F.col("db"))
    agg = pairs.agg(
        F.sum(
            F.when(
                ((F.col("xa") < F.col("xb")) & (F.col("ya") < F.col("yb")))
                | ((F.col("xa") > F.col("xb")) & (F.col("ya") > F.col("yb"))),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("conc"),
        F.sum(
            F.when(
                ((F.col("xa") < F.col("xb")) & (F.col("ya") > F.col("yb")))
                | ((F.col("xa") > F.col("xb")) & (F.col("ya") < F.col("yb"))),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("disc"),
        F.sum(
            F.when(
                (F.col("xa") == F.col("xb")) & (F.col("ya") != F.col("yb")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("tie_x"),
        F.sum(
            F.when(
                (F.col("ya") == F.col("yb")) & (F.col("xa") != F.col("xb")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("tie_y"),
        F.count(F.lit(1)).cast("bigint").alias("n0"),
    )
    n_days = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    return agg.crossJoin(F.broadcast(n_days)).select(
        "n_days",
        "conc",
        "disc",
        "tie_x",
        "tie_y",
        F.round(
            (F.col("conc").cast("double") - F.col("disc"))
            / F.sqrt(
                (F.col("n0") - F.col("tie_x")).cast("double")
                * (F.col("n0") - F.col("tie_y"))
            ),
            6,
        ).alias("tau_b"),
    )


# -- Spearman rho over the daily spine -------------------------------------------

_ORACLE_SPEARMAN = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS rev_e4
  FROM events GROUP BY 1
),
ranked AS (
  SELECT ROW_NUMBER() OVER (ORDER BY cnt, d) AS rx,
         ROW_NUMBER() OVER (ORDER BY rev_e4, d) AS ry
  FROM daily
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2
  FROM ranked
)
SELECT n, sum_d2,
       round(1.0 - 6.0 * CAST(sum_d2 AS DOUBLE)
             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * n - 1.0)), 6) AS rho
FROM agg
"""


@register(
    "ml_spearman_rho_daily",
    oracle=_ORACLE_SPEARMAN,
    tags=("ml", "eval", "timeseries"),
    doc=(
        "Spearman rank correlation between daily event count and daily "
        "revenue via the classic 1 - 6*sum(d^2)/(n(n^2-1)) form, ranks "
        "assigned by the TOTAL order (metric, day) so tie-handling is "
        "bit-identical across engines (documented: day-ordinal tie-break "
        "rather than average ranks). Revenue ranks compare e4-scaled "
        "exact BIGINTs; the window runs over the <=31-row daily "
        "aggregate, never raw events."
    ),
)
def ml_spearman_rho_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum(F.round(F.col("value") * 10000).cast("bigint"))
        .cast("bigint")
        .alias("rev_e4"),
    )
    ranked = daily.select(
        F.row_number().over(Window.orderBy("cnt", "d")).alias("rx"),
        F.row_number().over(Window.orderBy("rev_e4", "d")).alias("ry"),
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("rx") - F.col("ry")) * (F.col("rx") - F.col("ry")))
        .cast("bigint")
        .alias("sum_d2"),
    )
    return agg.select(
        "n",
        "sum_d2",
        F.round(
            F.lit(1.0)
            - F.lit(6.0)
            * F.col("sum_d2").cast("double")
            / (
                F.col("n").cast("double")
                * (F.col("n").cast("double") * F.col("n") - F.lit(1.0))
            ),
            6,
        ).alias("rho"),
    )


# -- Welch two-sample t ------------------------------------------------------------

_ORACLE_WELCH = """
WITH g AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS s_e4,
         CAST(SUM(CAST(round(value * 10000) AS BIGINT)
                  * CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS s2_e8
  FROM events WHERE event_type IN ('purchase', 'refund')
  GROUP BY event_type
),
w AS (
  SELECT
    MAX(CASE WHEN event_type = 'purchase' THEN n END) AS n_a,
    MAX(CASE WHEN event_type = 'refund' THEN n END) AS n_b,
    MAX(CASE WHEN event_type = 'purchase' THEN s_e4 END) AS sa,
    MAX(CASE WHEN event_type = 'refund' THEN s_e4 END) AS sb,
    MAX(CASE WHEN event_type = 'purchase' THEN s2_e8 END) AS qa,
    MAX(CASE WHEN event_type = 'refund' THEN s2_e8 END) AS qb
  FROM g
),
m AS (
  SELECT n_a, n_b,
         CAST(sa AS DOUBLE) / n_a / 10000.0 AS mean_a,
         CAST(sb AS DOUBLE) / n_b / 10000.0 AS mean_b,
         (CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * sa / n_a)
           / (n_a - 1) / 100000000.0 AS var_a,
         (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * sb / n_b)
           / (n_b - 1) / 100000000.0 AS var_b
  FROM w
)
SELECT n_a, n_b, round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b,
       round((mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b), 6)
         AS t_stat,
       round(power(var_a / n_a + var_b / n_b, 2)
             / (power(var_a / n_a, 2) / (n_a - 1)
                + power(var_b / n_b, 2) / (n_b - 1)), 6) AS welch_df
FROM m
"""


@register(
    "ml_welch_t_test",
    oracle=_ORACLE_WELCH,
    tags=("ml", "eval"),
    doc=(
        "Welch unequal-variance two-sample t-test (purchase vs refund "
        "order values) with the Satterthwaite degrees of freedom: group "
        "sums and squared sums are exact e4/e8-scaled BIGINTs from ONE "
        "conditional-aggregate scan (sum of e4^2 stays < 2^63 up to "
        "~9e6 rows per group at this value range; shard the scale past "
        "that), so mean/variance/t/df are single rational expressions "
        "evaluated identically in both engines. The unequal-variance "
        "complement of events_ab_test_ztest."
    ),
)
def ml_welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "refund")
    )
    v_e4 = F.round(F.col("value") * 10000).cast("bigint")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(v_e4).cast("bigint").alias("s_e4"),
        F.sum(v_e4 * v_e4).cast("bigint").alias("s2_e8"),
    )
    w = g.agg(
        F.max(F.when(F.col("event_type") == "purchase", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("event_type") == "refund", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("s_e4"))).alias("sa"),
        F.max(F.when(F.col("event_type") == "refund", F.col("s_e4"))).alias("sb"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("s2_e8"))).alias("qa"),
        F.max(F.when(F.col("event_type") == "refund", F.col("s2_e8"))).alias("qb"),
    )
    mean_a = F.col("sa").cast("double") / F.col("n_a") / 10000.0
    mean_b = F.col("sb").cast("double") / F.col("n_b") / 10000.0
    var_a = (
        (
            F.col("qa").cast("double")
            - F.col("sa").cast("double") * F.col("sa") / F.col("n_a")
        )
        / (F.col("n_a") - 1)
        / 100000000.0
    )
    var_b = (
        (
            F.col("qb").cast("double")
            - F.col("sb").cast("double") * F.col("sb") / F.col("n_b")
        )
        / (F.col("n_b") - 1)
        / 100000000.0
    )
    se2a = var_a / F.col("n_a")
    se2b = var_b / F.col("n_b")
    return w.select(
        "n_a",
        "n_b",
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.round((mean_a - mean_b) / F.sqrt(se2a + se2b), 6).alias("t_stat"),
        F.round(
            F.pow(se2a + se2b, 2)
            / (
                F.pow(se2a, 2) / (F.col("n_a") - 1)
                + F.pow(se2b, 2) / (F.col("n_b") - 1)
            ),
            6,
        ).alias("welch_df"),
    )


# -- Multinomial naive Bayes language classifier (r8) -------------------------------

_ORACLE_NB = """
WITH tok AS (
  SELECT doc_id, lang,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
  FROM documents WHERE trim(text) <> ''
),
tf AS (
  SELECT doc_id, lang AS true_lang, w, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, lang, w
),
vocab AS (SELECT DISTINCT w FROM tok),
v AS (SELECT CAST(COUNT(*) AS BIGINT) AS vsize FROM vocab),
cls AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
cw AS (
  SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY lang, w
),
tw AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS tot FROM tok GROUP BY lang),
grid AS (  -- full word x class log-likelihood table, e6-floored
  SELECT vv.w, t.lang,
         CAST(floor(1000000 * ln(CAST(COALESCE(c.cnt, 0) + 1 AS DOUBLE)
                                 / (t.tot + (SELECT vsize FROM v))))
              AS BIGINT) AS lp_e6
  FROM vocab vv CROSS JOIN tw t
  LEFT JOIN cw c ON c.w = vv.w AND c.lang = t.lang
),
prior AS (
  SELECT lang, CAST(floor(1000000 * ln(CAST(n_docs AS DOUBLE)
                                       / (SELECT n FROM nd))) AS BIGINT)
           AS lp0_e6
  FROM cls
),
scored AS (
  SELECT f.doc_id, f.true_lang, g.lang AS cand,
         CAST(SUM(f.tf * g.lp_e6) AS BIGINT)
           + MAX((SELECT p.lp0_e6 FROM prior p WHERE p.lang = g.lang))
           AS score_e6
  FROM tf f JOIN grid g ON g.w = f.w
  GROUP BY f.doc_id, f.true_lang, g.lang
),
pred AS (
  SELECT doc_id, true_lang, cand AS pred_lang,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score_e6 DESC, cand) AS rn
  FROM scored
)
SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred WHERE rn = 1
GROUP BY true_lang, pred_lang
ORDER BY true_lang, pred_lang
"""


@register(
    "ml_naive_bayes_lang",
    oracle=_ORACLE_NB,
    tags=("ml", "text", "north-star"),
    doc=(
        "Multinomial naive Bayes language classifier trained AND applied "
        "in one plan (resubstitution demo — the same corpus scores both "
        "roles, documented): Laplace-smoothed per-(word, lang) "
        "log-likelihoods floored to e6 integers BEFORE any accumulation, "
        "so each document's class score is an exact BIGINT dot product "
        "sum(tf * lp_e6) + prior — no float-sum ordering crosses the "
        "oracle (the DSIR/BM25 house pattern). Argmax ties break to the "
        "lexicographically smallest lang; output is the 5x5 confusion "
        "matrix. Plan: one tokenize scan feeds the (lang, word) count "
        "and per-doc tf aggregates; the word x class grid is "
        "vocab-bounded; scoring is one equi-join on word + a per-(doc, "
        "class) hash aggregate — the shape a real NB quality/lang "
        "classifier runs at corpus scale."
    ),
)
def ml_naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    # tok feeds FOUR aggregates (tf, vocab, cw, tw): persist so the corpus
    # is tokenized+exploded once, not four times — at 100 TB the explode
    # is the dominant scan cost.
    tok = (
        docs.where(F.trim("text") != "")
        .select(
            "doc_id",
            "lang",
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w"),
        )
        .persist()
    )
    tf = tok.groupBy("doc_id", F.col("lang").alias("true_lang"), "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    vocab = tok.select("w").distinct()
    vsize = vocab.agg(F.count(F.lit(1)).cast("bigint").alias("vsize"))
    nd = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    cls = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    cw = tok.groupBy("lang", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    tw = tok.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("tot"))
    # broadcast the |classes|-row side of the vocab x class expansion
    # explicitly: the vocabulary is corpus-scale at 100 TB and must stay
    # partitioned; only the tiny class-totals table ships.
    grid = (
        vocab.crossJoin(F.broadcast(tw.crossJoin(F.broadcast(vsize))))
        .join(cw, ["w", "lang"], "left")
        .select(
            "w",
            "lang",
            F.floor(
                F.lit(1000000)
                * F.log(
                    (F.coalesce("cnt", F.lit(0)) + 1).cast("double")
                    / (F.col("tot") + F.col("vsize"))
                )
            )
            .cast("bigint")
            .alias("lp_e6"),
        )
    )
    prior = cls.crossJoin(F.broadcast(nd)).select(
        "lang",
        F.floor(
            F.lit(1000000)
            * F.log(F.col("n_docs").cast("double") / F.col("n"))
        )
        .cast("bigint")
        .alias("lp0_e6"),
    )
    scored = (
        tf.join(grid.withColumnRenamed("lang", "cand"), "w")
        .groupBy("doc_id", "true_lang", "cand")
        .agg(F.sum(F.col("tf") * F.col("lp_e6")).cast("bigint").alias("s"))
        .join(
            F.broadcast(prior.withColumnRenamed("lang", "cand")), "cand"
        )
        .select(
            "doc_id",
            "true_lang",
            "cand",
            (F.col("s") + F.col("lp0_e6")).cast("bigint").alias("score_e6"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_e6").desc(), F.col("cand")
    )
    pred = scored.select(
        "true_lang",
        F.col("cand").alias("pred_lang"),
        F.row_number().over(w).alias("rn"),
    ).where(F.col("rn") == 1)
    return (
        pred.groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )


# -- Monte-Carlo randomization (permutation) test, shuffle-free (r8) -----------------

_PERM_GRPS = 50  # x4 md5 lanes = 200 replicates


_ORACLE_PERM = f"""
WITH base AS (
  SELECT event_id,
         CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS side,
         CAST(round(value * 1000000.0, 0) AS BIGINT) AS v_e6
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'refund')
),
obs AS (
  SELECT
    CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    CAST(SUM(CASE WHEN side = 0 THEN v_e6 ELSE 0 END) AS BIGINT) AS s_a,
    CAST(SUM(CASE WHEN side = 1 THEN v_e6 ELSE 0 END) AS BIGINT) AS s_b
  FROM base
),
lanes AS (
  SELECT b.v_e6,
         g.grp * 4 + k.k AS rep,
         ('0x' || substr(md5(CAST(b.event_id * {_PERM_GRPS} + g.grp AS VARCHAR)),
                         1 + k.k * 8, 8))::BIGINT % 2 AS bit
  FROM base b,
       (SELECT unnest(range(0, {_PERM_GRPS})) AS grp) g,
       (SELECT unnest(range(0, 4)) AS k) k
),
reps AS (
  SELECT rep,
         CAST(SUM(CASE WHEN bit = 0 THEN v_e6 ELSE 0 END) AS BIGINT) AS sa,
         CAST(SUM(CASE WHEN bit = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN bit = 1 THEN v_e6 ELSE 0 END) AS BIGINT) AS sb,
         CAST(SUM(CASE WHEN bit = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
  FROM lanes GROUP BY rep
),
stats AS (
  SELECT o.n_a, o.n_b,
         (CAST(o.s_a AS DOUBLE) / o.n_a - CAST(o.s_b AS DOUBLE) / o.n_b)
           / 1000000.0 AS diff_obs,
         CAST(SUM(CASE WHEN na > 0 AND nb > 0 AND
                    abs(CAST(r.sa AS DOUBLE) / r.na
                        - CAST(r.sb AS DOUBLE) / r.nb) / 1000000.0
                    >= abs((CAST(o.s_a AS DOUBLE) / o.n_a
                            - CAST(o.s_b AS DOUBLE) / o.n_b) / 1000000.0)
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
         CAST(COUNT(*) AS BIGINT) AS n_reps
  FROM reps r, obs o
  GROUP BY o.n_a, o.n_b, o.s_a, o.s_b
)
SELECT n_a, n_b, round(diff_obs, 6) AS diff_obs, n_reps, n_extreme,
       round(CAST(n_extreme + 1 AS DOUBLE) / (n_reps + 1), 6) AS p_value
FROM stats
"""


@register(
    "ml_permutation_test_md5",
    oracle=_ORACLE_PERM,
    tags=("ml", "eval", "scale"),
    doc=(
        "Monte-Carlo randomization test for the purchase-vs-refund mean "
        "difference: 200 md5-deterministic random relabelings (one digest "
        "per 4-replicate lane group, the ml_bootstrap_ci_poisson "
        "machinery — a 32-bit lane's parity assigns the row's side), "
        "add-one p-value = (1 + #{|diff_r| >= |diff_obs|}) / 201. "
        "SHUFFLE-FREE at any scale: every replicate is a conditional "
        "pair of exact e6-BIGINT sums accumulated in ONE scan with "
        "map-side combine — no data permutation ever materializes, which "
        "is what makes permutation testing feasible on 100 TB where an "
        "actual shuffle per replicate would be 200 full-data sorts. The "
        "exact-inference complement to ml_welch_t_test's asymptotics."
    ),
)
def ml_permutation_test_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
        & F.col("event_type").isin("purchase", "refund")
    )
    base = ev.select(
        "event_id",
        F.when(F.col("event_type") == "purchase", 0).otherwise(1).alias("side"),
        F.round(F.col("value") * 1000000.0, 0).cast("bigint").alias("v_e6"),
    )
    obs = base.agg(
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("side") == 0, F.col("v_e6")).otherwise(0))
        .cast("bigint")
        .alias("s_a"),
        F.sum(F.when(F.col("side") == 1, F.col("v_e6")).otherwise(0))
        .cast("bigint")
        .alias("s_b"),
    )
    # spread the narrow base before the md5-CPU-bound fan-out (the
    # bootstrap probe lesson: byte-based splits undersize it)
    fanned = (
        base.repartition(spark.sparkContext.defaultParallelism)
        .withColumn(
            "grp", F.explode(F.sequence(F.lit(0), F.lit(_PERM_GRPS - 1)))
        )
        .withColumn(
            "dg",
            F.md5(
                (F.col("event_id") * _PERM_GRPS + F.col("grp")).cast("string")
            ),
        )
        .withColumn("k", F.explode(F.sequence(F.lit(0), F.lit(3))))
        .select(
            "v_e6",
            (F.col("grp") * 4 + F.col("k")).alias("rep"),
            (
                F.conv(
                    F.substring("dg", F.lit(1) + F.col("k") * 8, 8), 16, 10
                ).cast("long")
                % 2
            ).alias("bit"),
        )
    )
    reps = fanned.groupBy("rep").agg(
        F.sum(F.when(F.col("bit") == 0, F.col("v_e6")).otherwise(0))
        .cast("bigint")
        .alias("sa"),
        F.sum(F.when(F.col("bit") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("na"),
        F.sum(F.when(F.col("bit") == 1, F.col("v_e6")).otherwise(0))
        .cast("bigint")
        .alias("sb"),
        F.sum(F.when(F.col("bit") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("nb"),
    )
    diff_obs = (
        F.col("s_a").cast("double") / F.col("n_a")
        - F.col("s_b").cast("double") / F.col("n_b")
    ) / 1000000.0
    diff_rep = (
        F.col("sa").cast("double") / F.col("na")
        - F.col("sb").cast("double") / F.col("nb")
    ) / 1000000.0
    stats = (
        reps.crossJoin(F.broadcast(obs))
        .agg(
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
            F.first(F.round(diff_obs, 6)).alias("diff_obs"),
            F.count(F.lit(1)).cast("bigint").alias("n_reps"),
            F.sum(
                F.when(
                    (F.col("na") > 0)
                    & (F.col("nb") > 0)
                    & (F.abs(diff_rep) >= F.abs(diff_obs)),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_extreme"),
        )
    )
    return stats.select(
        "n_a",
        "n_b",
        "diff_obs",
        "n_reps",
        "n_extreme",
        F.round(
            (F.col("n_extreme") + 1).cast("double") / (F.col("n_reps") + 1), 6
        ).alias("p_value"),
    )


# -- Chi-square feature selection over the vocabulary (r8) ---------------------------

_CHI2_TOPK = 20

_ORACLE_CHI2_FEATURES = f"""
WITH dt AS (
  SELECT DISTINCT doc_id,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
  FROM documents WHERE trim(text) <> ''
),
tot AS (
  SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT CASE WHEN y = 1 THEN doc_id END) AS BIGINT)
           AS n_pos
  FROM dt
),
pres AS (
  SELECT w,
         CAST(SUM(y) AS BIGINT) AS a,           -- en docs containing w
         CAST(SUM(1 - y) AS BIGINT) AS b        -- non-en docs containing w
  FROM dt GROUP BY w
),
scored AS (
  SELECT p.w, p.a, p.b,
         t.n_pos - p.a AS c,
         (t.n - t.n_pos) - p.b AS d,
         round(CAST(t.n AS DOUBLE)
               * power(CAST(p.a * ((t.n - t.n_pos) - p.b)
                            - p.b * (t.n_pos - p.a) AS DOUBLE), 2)
               / (CAST(p.a + p.b AS DOUBLE)
                  * ((t.n_pos - p.a) + ((t.n - t.n_pos) - p.b))
                  * t.n_pos * (t.n - t.n_pos)), 6) AS chi2
  FROM pres p, tot t
  WHERE (p.a + p.b) < t.n  -- a token in EVERY doc carries no signal (and
                           -- zeroes the (c+d) margin)
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY chi2 DESC, w) AS INTEGER) AS rank,
       w AS token, a, b, chi2
FROM scored
ORDER BY chi2 DESC, w
LIMIT {_CHI2_TOPK}
"""


@register(
    "ml_chi2_feature_selection",
    oracle=_ORACLE_CHI2_FEATURES,
    tags=("ml", "text", "north-star"),
    doc=(
        f"Chi-square feature selection: top-{_CHI2_TOPK} vocabulary tokens "
        "most associated with the en-vs-rest label by the 2x2 presence "
        "contingency chi2 = N(ad-bc)^2/((a+b)(c+d)(a+c)(b+d)) — the "
        "classical pre-classifier feature screen a quality/lang model "
        "pipeline runs over the corpus vocabulary. All four cells are "
        "exact BIGINT document counts from ONE distinct-(doc, token) "
        "aggregate; chi2 is a single rational per token; all-document "
        "tokens are excluded (zero margin). Plan: tokenize scan -> "
        "presence aggregate keyed by token (map-side combinable) -> "
        "1-row totals broadcast -> TakeOrdered top-k, linear in the "
        "vocabulary."
    ),
)
def ml_chi2_feature_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    dt = (
        docs.where(F.trim("text") != "")
        .select(
            "doc_id",
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w"),
        )
        .distinct()
    )
    tot = dt.agg(
        F.countDistinct("doc_id").cast("bigint").alias("n"),
        F.countDistinct(F.when(F.col("y") == 1, F.col("doc_id")))
        .cast("bigint")
        .alias("n_pos"),
    )
    pres = dt.groupBy("w").agg(
        F.sum("y").cast("bigint").alias("a"),
        F.sum(F.lit(1) - F.col("y")).cast("bigint").alias("b"),
    )
    c = F.col("n_pos") - F.col("a")
    d = (F.col("n") - F.col("n_pos")) - F.col("b")
    chi2 = F.round(
        F.col("n").cast("double")
        * F.pow((F.col("a") * d - F.col("b") * c).cast("double"), 2)
        / (
            (F.col("a") + F.col("b")).cast("double")
            * (c + d)
            * F.col("n_pos")
            * (F.col("n") - F.col("n_pos"))
        ),
        6,
    )
    scored = (
        pres.crossJoin(F.broadcast(tot))
        .where((F.col("a") + F.col("b")) < F.col("n"))
        .select("w", "a", "b", chi2.alias("chi2"))
    )
    top = scored.orderBy(F.col("chi2").desc(), F.col("w")).limit(_CHI2_TOPK)
    win = Window.orderBy(F.col("chi2").desc(), F.col("w"))
    return top.select(
        F.row_number().over(win).cast("int").alias("rank"),
        F.col("w").alias("token"),
        "a",
        "b",
        "chi2",
    ).orderBy("rank")


# -- Exact PR-AUC (average precision) over distinct scores (r8) ----------------------

_ORACLE_PR_AUC = f"""
WITH scored AS (
  SELECT label % 2 AS y,
         CAST(round((0.7 * (label % 2)
               + 0.3 * {_NOISE_SQL.format(id="vec_id")}) * 1000000, 0) AS BIGINT)
           AS s_e6
  FROM embeddings
),
per_score AS (
  SELECT s_e6, CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(y) AS BIGINT) AS pos
  FROM scored GROUP BY s_e6
),
tot AS (
  SELECT CAST(SUM(pos) AS BIGINT) AS p,
         CAST(SUM(cnt - pos) AS BIGINT) AS n_neg
  FROM per_score
),
cume AS (
  SELECT s_e6, pos,
         CAST(SUM(pos) OVER (ORDER BY s_e6 DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
         CAST(SUM(cnt) OVER (ORDER BY s_e6 DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS k
  FROM per_score
),
ap AS (
  SELECT CAST(SUM(CAST(round(
           (CAST(pos AS DOUBLE) / (SELECT p FROM tot))
           * (CAST(tp AS DOUBLE) / k), 12) AS DECIMAL(30,12)))
         AS DECIMAL(30,12)) AS ap_dec
  FROM cume WHERE pos > 0
)
SELECT (SELECT p FROM tot) AS n_pos,
       (SELECT n_neg FROM tot) AS n_neg,
       round(CAST(ap_dec AS DOUBLE), 6) AS average_precision
FROM ap
"""


@register(
    "ml_pr_auc_exact",
    oracle=_ORACLE_PR_AUC,
    tags=("ml", "eval"),
    doc=(
        "Exact average precision (step-interpolated PR-AUC): AP = "
        "sum over distinct score thresholds of (tp_delta/P) * "
        "precision@threshold, on the same md5-deterministic scores as "
        "ml_auc_roc_exact — the class-imbalance-honest companion to "
        "ROC-AUC. Cumulative tp/k come from exact BIGINT window sums "
        "over the DISTINCT-SCORE table (bounded by the e6 quantization, "
        "<= 1e6 rows at ANY data scale); per-threshold terms are "
        "rationals rounded at 12dp and summed as exact DECIMALs."
    ),
)
def ml_pr_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    pin_query_session_conf(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    scored = emb.select(
        (F.col("label") % 2).alias("y"),
        F.round(
            (F.lit(0.7) * (F.col("label") % 2) + F.lit(0.3) * _noise("vec_id"))
            * 1000000,
            0,
        )
        .cast("bigint")
        .alias("s_e6"),
    )
    per_score = scored.groupBy("s_e6").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    tot = per_score.agg(
        F.sum("pos").cast("bigint").alias("p"),
        F.sum(F.col("cnt") - F.col("pos")).cast("bigint").alias("n_neg"),
    )
    w = Window.orderBy(F.col("s_e6").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cume = per_score.select(
        "pos",
        F.sum("pos").over(w).cast("bigint").alias("tp"),
        F.sum("cnt").over(w).cast("bigint").alias("k"),
    )
    ap = (
        cume.where(F.col("pos") > 0)
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.round(
                    (F.col("pos").cast("double") / F.col("p"))
                    * (F.col("tp").cast("double") / F.col("k")),
                    12,
                ).cast("decimal(30,12)")
            ).alias("ap_dec")
        )
    )
    return ap.crossJoin(F.broadcast(tot)).select(
        F.col("p").alias("n_pos"),
        "n_neg",
        F.round(F.col("ap_dec").cast("double"), 6).alias("average_precision"),
    )


# -- ROUGE-1/2 + BLEU clipped n-gram precision (r9) ---------------------------------

# Deterministic candidate/reference pairing: doc_id % 7 == 0 vs doc_id+1.
# Everything is exact integers: clipped matches sum min(count_cand,
# count_ref) per gram; ROUGE F1 folds to 2m/(c+r) (the P/R harmonic mean
# over counts), emitted as floor-ppm; the BLEU brevity penalty's exp() is
# deliberately NOT taken (libm parity is not a contract) — the length
# ratio ships as exact ppm instead.
_ORACLE_ROUGE_BLEU = r"""
WITH pairs AS (
  SELECT c.doc_id AS cand_id, r.doc_id AS ref_id,
         list_filter(regexp_split_to_array(trim(lower(c.text)), '\s+'),
                     w -> w <> '') AS ct,
         list_filter(regexp_split_to_array(trim(lower(r.text)), '\s+'),
                     w -> w <> '') AS rt
  FROM documents c JOIN documents r ON r.doc_id = c.doc_id + 1
  WHERE c.doc_id % 7 = 0
),
c1 AS (
  SELECT cand_id, u.w AS g, CAST(COUNT(*) AS BIGINT) AS cc
  FROM pairs, unnest(ct) u(w) GROUP BY cand_id, u.w
),
r1 AS (
  SELECT cand_id, u.w AS g, CAST(COUNT(*) AS BIGINT) AS cr
  FROM pairs, unnest(rt) u(w) GROUP BY cand_id, u.w
),
m1 AS (
  SELECT c1.cand_id, SUM(least(c1.cc, r1.cr)) AS m
  FROM c1 JOIN r1 ON r1.cand_id = c1.cand_id AND r1.g = c1.g
  GROUP BY c1.cand_id
),
c2 AS (
  SELECT cand_id, ct[i] || ' ' || ct[i+1] AS g, CAST(COUNT(*) AS BIGINT) AS cc
  FROM pairs, unnest(range(1, greatest(len(ct), 1))) t(i)
  GROUP BY cand_id, g
),
r2 AS (
  SELECT cand_id, rt[i] || ' ' || rt[i+1] AS g, CAST(COUNT(*) AS BIGINT) AS cr
  FROM pairs, unnest(range(1, greatest(len(rt), 1))) t(i)
  GROUP BY cand_id, g
),
m2 AS (
  SELECT c2.cand_id, SUM(least(c2.cc, r2.cr)) AS m
  FROM c2 JOIN r2 ON r2.cand_id = c2.cand_id AND r2.g = c2.g
  GROUP BY c2.cand_id
),
base AS (
  SELECT p.cand_id, p.ref_id,
         CAST(len(p.ct) AS BIGINT) AS cand_len,
         CAST(len(p.rt) AS BIGINT) AS ref_len,
         CAST(greatest(len(p.ct) - 1, 0) AS BIGINT) AS cand_bigrams,
         CAST(greatest(len(p.rt) - 1, 0) AS BIGINT) AS ref_bigrams,
         COALESCE(m1.m, 0) AS m1,
         COALESCE(m2.m, 0) AS m2
  FROM pairs p
  LEFT JOIN m1 ON m1.cand_id = p.cand_id
  LEFT JOIN m2 ON m2.cand_id = p.cand_id
)
SELECT cand_id, ref_id, cand_len, ref_len,
       CAST(m1 AS BIGINT) AS r1_match,
       CAST(m2 AS BIGINT) AS r2_match,
       CAST(CASE WHEN cand_len + ref_len = 0 THEN 0
                 ELSE 2000000 * m1 // (cand_len + ref_len) END AS BIGINT)
         AS rouge1_f_ppm,
       CAST(CASE WHEN cand_bigrams + ref_bigrams = 0 THEN 0
                 ELSE 2000000 * m2 // (cand_bigrams + ref_bigrams) END
            AS BIGINT) AS rouge2_f_ppm,
       CAST(CASE WHEN cand_len = 0 THEN 0
                 ELSE 1000000 * m1 // cand_len END AS BIGINT) AS bleu1_p_ppm,
       CAST(CASE WHEN cand_bigrams = 0 THEN 0
                 ELSE 1000000 * m2 // cand_bigrams END AS BIGINT)
         AS bleu2_p_ppm,
       CAST(CASE WHEN ref_len = 0 THEN 0
                 ELSE 1000000 * cand_len // ref_len END AS BIGINT)
         AS len_ratio_ppm
FROM base
ORDER BY cand_id
"""


@register(
    "ml_eval_rouge_bleu",
    oracle=_ORACLE_ROUGE_BLEU,
    tags=("ml", "eval", "text"),
    doc=(
        "ROUGE-1/2 and BLEU-style clipped n-gram precision per "
        "(candidate, reference) pair — the generation-eval staple next "
        "to the retrieval metrics (deterministic pairing: doc % 7 == 0 "
        "vs its successor).  Clipped matches are sum(min(count_cand, "
        "count_ref)) per gram — one counts aggregate per side and one "
        "equi-join per n, all per-pair work bounded by document length, "
        "embarrassingly parallel over pairs.  ROUGE F1 folds exactly to "
        "2m/(c+r), emitted floor-ppm; the BLEU brevity penalty's exp() "
        "is deliberately NOT taken (libm cross-engine parity is not a "
        "contract) — the exact length-ratio ppm ships instead and the "
        "penalty is one pure function of it downstream."
    ),
)
def ml_eval_rouge_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.filter(
        F.split(F.trim(F.lower("text")), r"\s+"), lambda w: w != ""
    )
    cand = docs.where(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("cand_id"), toks.alias("ct")
    )
    ref = docs.select(
        (F.col("doc_id") - 1).alias("cand_id"),
        F.col("doc_id").alias("ref_id"),
        toks.alias("rt"),
    )
    pairs = cand.join(ref, "cand_id").localCheckpoint(eager=True)

    def grams(col: str, n: int):
        if n == 1:
            return F.col(col)
        return F.expr(
            f"transform(sequence(1, greatest(size({col}) - 1, 0)), "
            f"i -> concat({col}[i-1], ' ', {col}[i]))"
        )

    def clipped(n: int):
        c = (
            pairs.select("cand_id", F.explode(grams("ct", n)).alias("g"))
            .groupBy("cand_id", "g")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cc"))
        )
        r = (
            pairs.select("cand_id", F.explode(grams("rt", n)).alias("g"))
            .groupBy("cand_id", "g")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cr"))
        )
        return (
            c.join(r, ["cand_id", "g"])
            .groupBy("cand_id")
            .agg(F.sum(F.least("cc", "cr")).cast("bigint").alias(f"m{n}"))
        )

    base = (
        pairs.select(
            "cand_id",
            "ref_id",
            F.size("ct").cast("bigint").alias("cand_len"),
            F.size("rt").cast("bigint").alias("ref_len"),
            F.greatest(F.size("ct") - 1, F.lit(0))
            .cast("bigint")
            .alias("cand_bigrams"),
            F.greatest(F.size("rt") - 1, F.lit(0))
            .cast("bigint")
            .alias("ref_bigrams"),
        )
        .join(clipped(1), "cand_id", "left")
        .join(clipped(2), "cand_id", "left")
        .na.fill({"m1": 0, "m2": 0})
    )

    def ppm(num, den, scale=1000000):
        return (
            F.when(den == 0, F.lit(0))
            .otherwise(F.expr(f"{scale} * {num} div ({den})"))
            .cast("bigint")
        )

    return base.select(
        "cand_id",
        "ref_id",
        "cand_len",
        "ref_len",
        F.col("m1").alias("r1_match"),
        F.col("m2").alias("r2_match"),
        F.when(F.col("cand_len") + F.col("ref_len") == 0, F.lit(0))
        .otherwise(F.expr("2000000 * m1 div (cand_len + ref_len)"))
        .cast("bigint")
        .alias("rouge1_f_ppm"),
        F.when(F.col("cand_bigrams") + F.col("ref_bigrams") == 0, F.lit(0))
        .otherwise(F.expr("2000000 * m2 div (cand_bigrams + ref_bigrams)"))
        .cast("bigint")
        .alias("rouge2_f_ppm"),
        F.when(F.col("cand_len") == 0, F.lit(0))
        .otherwise(F.expr("1000000 * m1 div cand_len"))
        .cast("bigint")
        .alias("bleu1_p_ppm"),
        F.when(F.col("cand_bigrams") == 0, F.lit(0))
        .otherwise(F.expr("1000000 * m2 div cand_bigrams"))
        .cast("bigint")
        .alias("bleu2_p_ppm"),
        F.when(F.col("ref_len") == 0, F.lit(0))
        .otherwise(F.expr("1000000 * cand_len div ref_len"))
        .cast("bigint")
        .alias("len_ratio_ppm"),
    ).orderBy("cand_id")


# -- Benjamini-Hochberg FDR over exact permutation p-values (r9) ---------------

_FDR_Q10 = 10  # q = 0.10 as the rational 1/Q10... numerator handled inline

_ORACLE_BH_FDR = f"""
WITH base AS (
  SELECT event_id, event_type,
         user_id % 2 AS side,
         CAST(round(value * 1000000.0, 0) AS BIGINT) AS v_e6
  FROM events WHERE value IS NOT NULL
),
obs AS (
  SELECT event_type,
    CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    CAST(SUM(CASE WHEN side = 0 THEN v_e6 ELSE 0 END) AS BIGINT) AS s_a,
    CAST(SUM(CASE WHEN side = 1 THEN v_e6 ELSE 0 END) AS BIGINT) AS s_b
  FROM base GROUP BY event_type
),
lanes AS (
  SELECT b.event_type, b.v_e6,
         g.grp * 4 + k.k AS rep,
         ('0x' || substr(md5(CAST(b.event_id * {_PERM_GRPS} + g.grp
                               AS VARCHAR)),
                         1 + k.k * 8, 8))::BIGINT % 2 AS bit
  FROM base b,
       (SELECT unnest(range(0, {_PERM_GRPS})) AS grp) g,
       (SELECT unnest(range(0, 4)) AS k) k
),
reps AS (
  SELECT event_type, rep,
         CAST(SUM(CASE WHEN bit = 0 THEN v_e6 ELSE 0 END) AS BIGINT) AS sa,
         CAST(SUM(CASE WHEN bit = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN bit = 1 THEN v_e6 ELSE 0 END) AS BIGINT) AS sb,
         CAST(SUM(CASE WHEN bit = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
  FROM lanes GROUP BY event_type, rep
),
stats AS (
  SELECT o.event_type,
         CAST(SUM(CASE WHEN r.na > 0 AND r.nb > 0 AND
                    abs(CAST(r.sa AS DOUBLE) / r.na
                        - CAST(r.sb AS DOUBLE) / r.nb)
                    >= abs(CAST(o.s_a AS DOUBLE) / o.n_a
                           - CAST(o.s_b AS DOUBLE) / o.n_b)
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
         CAST(COUNT(*) AS BIGINT) AS n_reps
  FROM reps r JOIN obs o ON o.event_type = r.event_type
  GROUP BY o.event_type, o.n_a, o.n_b, o.s_a, o.s_b
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY n_extreme, event_type) AS rank,
         COUNT(*) OVER () AS m
  FROM stats
),
marked AS (
  SELECT *,
         CASE WHEN (n_extreme + 1) * 10 * m <= rank * (n_reps + 1)
              THEN rank ELSE 0 END AS ok_rank
  FROM ranked
)
SELECT event_type, n_extreme, n_reps,
       round(CAST(n_extreme + 1 AS DOUBLE) / (n_reps + 1), 6) AS p_value,
       CAST(rank AS BIGINT) AS rank,
       CAST(m AS BIGINT) AS m,
       rank <= MAX(ok_rank) OVER () AS rejected
FROM marked ORDER BY rank
"""


@register(
    "ml_bh_fdr_permutation",
    oracle=_ORACLE_BH_FDR,
    tags=("ml", "eval", "stats"),
    doc=(
        "Benjamini-Hochberg FDR control (q = 0.10) over a FAMILY of "
        "exact permutation tests — one odd-vs-even-user mean-difference "
        "test per event type, each with the ml_permutation_test_md5 "
        "shuffle-free machinery (200 md5-lane relabelings, every "
        "replicate an exact e6-BIGINT sum pair accumulated in one "
        "grouped scan). Because add-one permutation p-values are exact "
        "rationals (n_extreme+1)/(n_reps+1), the entire BH step-up is "
        "INTEGER arithmetic: reject ranks <= max{{i : (ne_i+1)*10*m <= "
        "i*(nr_i+1)}} — no float CDF anywhere, which is what makes a "
        "multiple-testing correction cross-engine exact (normal/chi2 "
        "p-values would need libm parity). The ranking window runs over "
        "m = |event types| rows. The multiple-testing layer every "
        "per-segment A/B readout needs before anyone acts on 20 "
        "simultaneous 'significant' segments."
    ),
)
def ml_bh_fdr_permutation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    base = ev.select(
        "event_id",
        "event_type",
        (F.col("user_id") % 2).alias("side"),
        F.round(F.col("value") * 1000000.0, 0).cast("bigint").alias("v_e6"),
    )
    obs = base.groupBy("event_type").agg(
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("side") == 0, F.col("v_e6")).otherwise(0))
        .cast("bigint")
        .alias("s_a"),
        F.sum(F.when(F.col("side") == 1, F.col("v_e6")).otherwise(0))
        .cast("bigint")
        .alias("s_b"),
    )
    fanned = (
        base.repartition(spark.sparkContext.defaultParallelism)
        .withColumn(
            "grp", F.explode(F.sequence(F.lit(0), F.lit(_PERM_GRPS - 1)))
        )
        .withColumn(
            "dg",
            F.md5(
                (F.col("event_id") * _PERM_GRPS + F.col("grp")).cast("string")
            ),
        )
        .withColumn("k", F.explode(F.sequence(F.lit(0), F.lit(3))))
        .select(
            "event_type",
            "v_e6",
            (F.col("grp") * 4 + F.col("k")).alias("rep"),
            (
                F.conv(
                    F.substring("dg", F.lit(1) + F.col("k") * 8, 8), 16, 10
                ).cast("long")
                % 2
            ).alias("bit"),
        )
    )
    reps = fanned.groupBy("event_type", "rep").agg(
        F.sum(F.when(F.col("bit") == 0, F.col("v_e6")).otherwise(0))
        .cast("bigint")
        .alias("sa"),
        F.sum(F.when(F.col("bit") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("na"),
        F.sum(F.when(F.col("bit") == 1, F.col("v_e6")).otherwise(0))
        .cast("bigint")
        .alias("sb"),
        F.sum(F.when(F.col("bit") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("nb"),
    )
    diff_obs = F.abs(
        F.col("s_a").cast("double") / F.col("n_a")
        - F.col("s_b").cast("double") / F.col("n_b")
    )
    diff_rep = F.abs(
        F.col("sa").cast("double") / F.col("na")
        - F.col("sb").cast("double") / F.col("nb")
    )
    stats = (
        reps.join(F.broadcast(obs), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(
                    (F.col("na") > 0)
                    & (F.col("nb") > 0)
                    & (diff_rep >= diff_obs),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_extreme"),
            F.count(F.lit(1)).cast("bigint").alias("n_reps"),
        )
    )
    # BH step-up over the m = |event types| family — bounded window
    wr = Window.orderBy("n_extreme", "event_type")
    wall = Window.partitionBy()
    ranked = (
        stats.withColumn("rank", F.row_number().over(wr))
        .withColumn("m", F.count(F.lit(1)).over(wall))
        .withColumn(
            "ok_rank",
            F.when(
                (F.col("n_extreme") + 1) * 10 * F.col("m")
                <= F.col("rank") * (F.col("n_reps") + 1),
                F.col("rank"),
            ).otherwise(0),
        )
    )
    return (
        ranked.withColumn("k_max", F.max("ok_rank").over(wall))
        .select(
            "event_type",
            "n_extreme",
            "n_reps",
            F.round(
                (F.col("n_extreme") + 1).cast("double")
                / (F.col("n_reps") + 1),
                6,
            ).alias("p_value"),
            F.col("rank").cast("bigint").alias("rank"),
            F.col("m").cast("bigint").alias("m"),
            (F.col("rank") <= F.col("k_max")).alias("rejected"),
        )
        .orderBy("rank")
    )
