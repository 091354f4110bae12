"""Robust / nonparametric statistics and distributed exact quantiles.

Three operators that round out the eval-stats suite with the classic
distribution-free tools an analytics engine is asked for once its users stop
trusting normality assumptions:

* ``ml_mann_whitney_u`` — the unpaired rank-sum test (the two-sample
  companion of ``events_wilcoxon_signed_rank``; same average-rank half-unit
  machinery as ``ml_auc_roc_exact``, to which the U statistic is identical
  up to normalization).
* ``ml_theil_sen_daily`` — the robust median-of-pairwise-slopes trend
  estimator (50% breakdown point vs OLS's zero), over the day-bounded
  pair spine.
* ``agg_quantile_sketch_md5`` — the oracle-backed twin of the rows-only
  ``agg_quantile_sketch_eval``: a deterministic md5-lane sample plays the
  sketch, and the exact sample median is extracted with a two-phase
  bin-then-refine selection so no full-table total order is ever built.

Determinism contracts: every statistic is either an exact BIGINT (rank
sums in half-units, fixed-point cents) or a fixed float expression over
exact integer aggregates (sum order never varies), so round-6 values match
the DuckDB oracle bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.text import md5_u32
from ..session import pin_query_session_conf
from .registry import register

# ---------------------------------------------------------------------------
# Mann-Whitney U (unpaired two-sample rank-sum test)
# ---------------------------------------------------------------------------

_ORACLE_MWU = """
WITH scored AS (
  SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS y,
         CAST(round(value * 100.0, 0) AS BIGINT) AS v_e2
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('click', 'view')
),
per_score AS (
  SELECT v_e2, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(y) AS BIGINT) AS n1
  FROM scored GROUP BY v_e2
),
ranked AS (
  SELECT v_e2, cnt, n1,
         COALESCE(SUM(cnt) OVER (ORDER BY v_e2
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM per_score
),
agg AS (
  SELECT CAST(SUM(n1 * (2 * cum_before + cnt + 1)) AS BIGINT) AS r1_half,
         CAST(SUM(n1) AS BIGINT) AS n1t,
         CAST(SUM(cnt - n1) AS BIGINT) AS n0t,
         CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_sum
  FROM ranked
)
SELECT n1t AS n_click, n0t AS n_view,
       CAST(r1_half - n1t * (n1t + 1) AS BIGINT) AS u1_half,
       CAST(n1t * n0t AS BIGINT) AS u_mean_x2,
       tie_sum,
       round(CAST(r1_half - n1t * (n1t + 1) - n1t * n0t AS DOUBLE)
             / sqrt(CAST(n1t AS DOUBLE) * CAST(n0t AS DOUBLE)
                    * (CAST((n1t + n0t + 1) * (n1t + n0t)
                            * (n1t + n0t - 1) AS DOUBLE)
                       - CAST(tie_sum AS DOUBLE))
                    / (3.0 * CAST(n1t + n0t AS DOUBLE)
                       * CAST(n1t + n0t - 1 AS DOUBLE))),
             6) AS z
FROM agg
"""


@register(
    "ml_mann_whitney_u",
    oracle=_ORACLE_MWU,
    tags=("ml", "eval", "stats"),
    doc=(
        "Mann-Whitney U (Wilcoxon rank-sum) test, click vs view event "
        "values: the unpaired companion of events_wilcoxon_signed_rank "
        "and the distribution-free alternative to events_ab_test_ztest. "
        "Average ranks over ties kept in integer HALF-units exactly as "
        "ml_auc_roc_exact does (U and AUC are the same statistic up to "
        "n1*n0): values fixed-point to cents, per-value (count, group-1 "
        "count) is one hash aggregate, cumulative ranks one window over "
        "the DISTINCT-VALUE table (bounded by value resolution, not row "
        "count), then U1_half = 2*R1 - n1(n1+1), the exact tie-correction "
        "sum(t^3-t), and the tie-corrected normal z — a single float "
        "expression over exact BIGINTs, bit-reproducible at any scale."
    ),
)
def ml_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    scored = ev.where(
        F.col("value").isNotNull() & F.col("event_type").isin("click", "view")
    ).select(
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("y"),
        F.round(F.col("value") * 100.0, 0).cast("bigint").alias("v_e2"),
    )
    per_score = scored.groupBy("v_e2").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("y").cast("bigint").alias("n1"),
    )
    w = Window.orderBy("v_e2").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_score.withColumn(
        "cum_before", F.coalesce(F.sum("cnt").over(w), F.lit(0))
    )
    agg = ranked.agg(
        F.sum(F.col("n1") * (2 * F.col("cum_before") + F.col("cnt") + 1))
        .cast("bigint")
        .alias("r1_half"),
        F.sum("n1").cast("bigint").alias("n1t"),
        F.sum(F.col("cnt") - F.col("n1")).cast("bigint").alias("n0t"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("bigint")
        .alias("tie_sum"),
    )
    n = F.col("n1t") + F.col("n0t")
    var_x4 = (
        F.col("n1t").cast("double")
        * F.col("n0t").cast("double")
        * (
            ((n + 1) * n * (n - 1)).cast("double")
            - F.col("tie_sum").cast("double")
        )
        / (F.lit(3.0) * n.cast("double") * (n - 1).cast("double"))
    )
    u1_half = F.col("r1_half") - F.col("n1t") * (F.col("n1t") + 1)
    return agg.select(
        F.col("n1t").alias("n_click"),
        F.col("n0t").alias("n_view"),
        u1_half.cast("bigint").alias("u1_half"),
        (F.col("n1t") * F.col("n0t")).cast("bigint").alias("u_mean_x2"),
        "tie_sum",
        F.round(
            (u1_half - F.col("n1t") * F.col("n0t")).cast("double")
            / F.sqrt(var_x4),
            6,
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust slope over the daily revenue series
# ---------------------------------------------------------------------------

_ORACLE_THEIL_SEN = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(ts AS DATE) - DATE '1970-01-01' AS x,
         CAST(SUM(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS y_e2
  FROM events
  WHERE value IS NOT NULL AND event_type = 'purchase'
  GROUP BY 1, 2
),
pairs AS (
  SELECT a.d AS da, b.d AS db,
         CAST(b.y_e2 - a.y_e2 AS BIGINT) AS dy_e2,
         CAST(b.x - a.x AS BIGINT) AS dx,
         CAST(b.y_e2 - a.y_e2 AS DOUBLE) / CAST(b.x - a.x AS DOUBLE)
           AS slope_e2
  FROM daily a JOIN daily b ON a.d < b.d
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY slope_e2, da, db) AS rn,
         COUNT(*) OVER () AS np
  FROM pairs
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
       CAST(MAX(np) AS BIGINT) AS n_pairs,
       CAST(MAX(CASE WHEN rn = (np + 3) // 4 THEN dy_e2 END) AS BIGINT)
         AS q25_dy_e2,
       CAST(MAX(CASE WHEN rn = (np + 3) // 4 THEN dx END) AS BIGINT)
         AS q25_dx,
       CAST(MAX(CASE WHEN rn = (np + 1) // 2 THEN dy_e2 END) AS BIGINT)
         AS med_dy_e2,
       CAST(MAX(CASE WHEN rn = (np + 1) // 2 THEN dx END) AS BIGINT)
         AS med_dx,
       CAST(MAX(CASE WHEN rn = (3 * np + 1) // 4 THEN dy_e2 END) AS BIGINT)
         AS q75_dy_e2,
       CAST(MAX(CASE WHEN rn = (3 * np + 1) // 4 THEN dx END) AS BIGINT)
         AS q75_dx,
       round(MAX(CASE WHEN rn = (np + 1) // 2 THEN slope_e2 END) / 100.0, 6)
         AS med_slope
FROM ranked
"""


@register(
    "ml_theil_sen_daily",
    oracle=_ORACLE_THEIL_SEN,
    tags=("ml", "timeseries", "stats"),
    doc=(
        "Theil-Sen robust trend estimator over the daily purchase-revenue "
        "series: the median of all pairwise slopes (dy/dx over day pairs), "
        "with q25/q75 slopes as the confidence band — 50% breakdown point "
        "where the OLS slope (agg_regr_battery's regr_slope) is wrecked "
        "by a single outlier day. The pair spine is day-bounded (O(days^2)"
        " pairs — 10 years is ~6.6M pairs, trivially distributed), daily "
        "sums are exact BIGINT cents, each slope is ONE float division of "
        "the same two integers in both engines (IEEE-identical), and the "
        "median/quartiles are order statistics with a total (slope, da, "
        "db) tie order. The selected pairs are reported as exact (dy_e2, "
        "dx) rationals so the hash never depends on float formatting."
    ),
)
def ml_theil_sen_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.where(
            F.col("value").isNotNull() & (F.col("event_type") == "purchase")
        )
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum(F.round(F.col("value") * 100.0, 0).cast("bigint"))
            .cast("bigint")
            .alias("y_e2")
        )
        .withColumn(
            "x", F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
        )
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(b, F.col("a.d") < F.col("b.d")).select(
        F.col("a.d").alias("da"),
        F.col("b.d").alias("db"),
        (F.col("b.y_e2") - F.col("a.y_e2")).cast("bigint").alias("dy_e2"),
        (F.col("b.x") - F.col("a.x")).cast("bigint").alias("dx"),
        (
            (F.col("b.y_e2") - F.col("a.y_e2")).cast("double")
            / (F.col("b.x") - F.col("a.x")).cast("double")
        ).alias("slope_e2"),
    )
    # Day-bounded total order: the window input is O(days^2), not row count.
    ranked = pairs.withColumn(
        "rn", F.row_number().over(Window.orderBy("slope_e2", "da", "db"))
    ).withColumn("np", F.count(F.lit(1)).over(Window.partitionBy()))
    n_days = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))

    def _pick(col: str, rn_expr) -> F.Column:
        return F.max(F.when(F.col("rn") == rn_expr, F.col(col)))

    stats = ranked.agg(
        F.max("np").cast("bigint").alias("n_pairs"),
        _pick("dy_e2", F.expr("(np + 3) div 4")).cast("bigint").alias("q25_dy_e2"),
        _pick("dx", F.expr("(np + 3) div 4")).cast("bigint").alias("q25_dx"),
        _pick("dy_e2", F.expr("(np + 1) div 2")).cast("bigint").alias("med_dy_e2"),
        _pick("dx", F.expr("(np + 1) div 2")).cast("bigint").alias("med_dx"),
        _pick("dy_e2", F.expr("(3 * np + 1) div 4")).cast("bigint").alias("q75_dy_e2"),
        _pick("dx", F.expr("(3 * np + 1) div 4")).cast("bigint").alias("q75_dx"),
        F.round(_pick("slope_e2", F.expr("(np + 1) div 2")) / 100.0, 6).alias(
            "med_slope"
        ),
    )
    return n_days.crossJoin(stats).select(
        "n_days", "n_pairs", "q25_dy_e2", "q25_dx", "med_dy_e2", "med_dx",
        "q75_dy_e2", "q75_dx", "med_slope",
    )


# ---------------------------------------------------------------------------
# Deterministic-sample quantile eval with two-phase exact selection
# ---------------------------------------------------------------------------

_QSK_BIN = 100_000  # refine-phase bin width in cents (1000 currency units)

_ORACLE_QSK = f"""
WITH base AS (
  SELECT CAST(round(l_extendedprice * 100.0, 0) AS BIGINT) AS x_e2,
         ('0x' || substr(md5(CAST(l_orderkey * 10 + l_linenumber AS VARCHAR)),
                         1, 8))::BIGINT AS lane
  FROM lineitem
),
ks AS (SELECT unnest([4, 16, 64]) AS k),
samp AS (
  SELECT k, x_e2, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM base JOIN ks ON lane % k = 0
  GROUP BY 1, 2
),
tot AS (SELECT k, CAST(SUM(cnt) AS BIGINT) AS n_sample FROM samp GROUP BY k),
cum AS (
  SELECT k, x_e2, cnt,
         SUM(cnt) OVER (PARTITION BY k ORDER BY x_e2) AS cum
  FROM samp
),
med AS (
  SELECT c.k, MIN(c.x_e2) AS med_e2
  FROM cum c JOIN tot t ON t.k = c.k
  WHERE c.cum >= (t.n_sample + 1) // 2
  GROUP BY c.k
),
fullc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_full FROM base),
rk AS (
  SELECT m.k, m.med_e2,
         CAST((SELECT COUNT(*) FROM base b WHERE b.x_e2 <= m.med_e2)
              AS BIGINT) AS rank_le
  FROM med m
)
SELECT ks.k,
       t.n_sample,
       rk.med_e2,
       rk.rank_le,
       CAST(abs(2 * rk.rank_le - f.n_full) * 1000000
            // (2 * f.n_full) AS BIGINT) AS rank_err_ppm
FROM ks
LEFT JOIN tot t ON t.k = ks.k
LEFT JOIN rk ON rk.k = ks.k
CROSS JOIN fullc f
ORDER BY ks.k
"""


@register(
    "agg_quantile_sketch_md5",
    oracle=_ORACLE_QSK,
    tags=("agg", "approx", "eval"),
    doc=(
        "Oracle-backed twin of the rows-only agg_quantile_sketch_eval "
        "(percentile_approx's GK sketch state is engine-specific): a "
        "DETERMINISTIC md5-lane sample plays the sketch at rates 1/4, "
        "1/16, 1/64 (nested — lane%64=0 implies lane%16=0), the exact "
        "sample median is extracted, and its realized rank error in the "
        "FULL column is reported in ppm — the same calibration readout, "
        "now value-exact cross-engine. Scale shape: the Spark side never "
        "builds a full-table total order — per-cent-value counts (one "
        "hash aggregate), then TWO-PHASE bin-then-refine selection: a "
        "~110-row bin table locates the median's bin per rate, and only "
        "that bin's values (bounded by the fixed bin width) are "
        "cum-summed. Final rank_le is one broadcast semi-comparison "
        "aggregate. All outputs exact BIGINTs."
    ),
)
def agg_quantile_sketch_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    li = load_table(spark, sf_dir, "lineitem")
    lane = md5_u32((F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("string"))
    base = li.select(
        F.round(F.col("l_extendedprice") * 100.0, 0)
        .cast("bigint")
        .alias("x_e2"),
        lane.alias("lane"),
    )
    # Phase 0: per-cent-value counts for every rate in ONE pass (nested
    # samples: lane%64==0 => lane%16==0 => lane%4==0).
    vals = base.groupBy("x_e2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_full"),
        F.sum(F.when(F.col("lane") % 4 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("c4"),
        F.sum(F.when(F.col("lane") % 16 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("c16"),
        F.sum(F.when(F.col("lane") % 64 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("c64"),
    ).persist()
    ks = spark.createDataFrame([(4,), (16,), (64,)], "k int")
    samp = (
        vals.select(
            "x_e2",
            F.explode(
                F.array(
                    F.struct(F.lit(4).alias("k"), F.col("c4").alias("cnt")),
                    F.struct(F.lit(16).alias("k"), F.col("c16").alias("cnt")),
                    F.struct(F.lit(64).alias("k"), F.col("c64").alias("cnt")),
                )
            ).alias("s"),
        )
        .select("x_e2", F.col("s.k").alias("k"), F.col("s.cnt").alias("cnt"))
        .where(F.col("cnt") > 0)
    )
    tot = samp.groupBy("k").agg(F.sum("cnt").cast("bigint").alias("n_sample"))
    # Phase 1: coarse bins (fixed width => bounded bin table), cumulative
    # over the tiny bin spine locates the median's bin and its rank base.
    bins = samp.groupBy("k", (F.col("x_e2") - (F.col("x_e2") % _QSK_BIN)).alias("b")).agg(
        F.sum("cnt").cast("bigint").alias("bcnt")
    )
    wb = Window.partitionBy("k").orderBy("b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bcum = bins.withColumn(
        "cum_before_bin", F.coalesce(F.sum("bcnt").over(wb), F.lit(0))
    )
    chosen = (
        bcum.join(tot, "k")
        .withColumn("t", F.expr("(n_sample + 1) div 2").cast("bigint"))
        .where(
            (F.col("cum_before_bin") < F.col("t"))
            & (F.col("cum_before_bin") + F.col("bcnt") >= F.col("t"))
        )
        .select("k", "b", "cum_before_bin", "t")
    )
    # Phase 2: refine inside the single chosen bin per rate (bounded by
    # the bin width in distinct cent values).
    sa = samp.alias("sa")
    ch = chosen.alias("ch")
    inbin = sa.join(
        F.broadcast(ch),
        (F.col("sa.k") == F.col("ch.k"))
        & (F.col("sa.x_e2") >= F.col("ch.b"))
        & (F.col("sa.x_e2") < F.col("ch.b") + _QSK_BIN),
    ).select(
        F.col("sa.k").alias("k"),
        F.col("sa.x_e2").alias("x_e2"),
        F.col("sa.cnt").alias("cnt"),
        F.col("ch.cum_before_bin").alias("cum_before_bin"),
        F.col("ch.t").alias("t"),
    )
    wv = Window.partitionBy("k").orderBy("x_e2")
    med = (
        inbin.withColumn("cum", F.col("cum_before_bin") + F.sum("cnt").over(wv))
        .where(F.col("cum") >= F.col("t"))
        .groupBy("k")
        .agg(F.min("x_e2").cast("bigint").alias("med_e2"))
    )
    # rank of the sampled median in the FULL column: one broadcast
    # comparison aggregate over the per-value count table.
    full_n = vals.agg(F.sum("c_full").cast("bigint").alias("n_full"))
    rk = (
        vals.crossJoin(F.broadcast(med))
        .where(F.col("x_e2") <= F.col("med_e2"))
        .groupBy("k", "med_e2")
        .agg(F.sum("c_full").cast("bigint").alias("rank_le"))
    )
    out = (
        ks.join(tot, "k", "left")
        .join(rk, "k", "left")
        .crossJoin(F.broadcast(full_n))
        .select(
            "k",
            "n_sample",
            "med_e2",
            "rank_le",
            F.expr(
                "CAST(abs(2 * rank_le - n_full) * 1000000 "
                "div (2 * n_full) AS BIGINT)"
            ).alias("rank_err_ppm"),
        )
        .orderBy("k")
    )
    return out


# ---------------------------------------------------------------------------
# Difference-in-differences (two-group, two-period causal contrast)
# ---------------------------------------------------------------------------

_ORACLE_DID = """
WITH cells AS (
  SELECT user_id % 2 AS g,
         CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END AS per,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT)
           AS s_e2
  FROM events
  WHERE value IS NOT NULL AND event_type = 'purchase'
  GROUP BY 1, 2
),
p AS (
  SELECT
    MAX(CASE WHEN g = 1 AND per = 0 THEN n END) AS n_t_pre,
    MAX(CASE WHEN g = 1 AND per = 1 THEN n END) AS n_t_post,
    MAX(CASE WHEN g = 0 AND per = 0 THEN n END) AS n_c_pre,
    MAX(CASE WHEN g = 0 AND per = 1 THEN n END) AS n_c_post,
    MAX(CASE WHEN g = 1 AND per = 0 THEN s_e2 END) AS s_t_pre,
    MAX(CASE WHEN g = 1 AND per = 1 THEN s_e2 END) AS s_t_post,
    MAX(CASE WHEN g = 0 AND per = 0 THEN s_e2 END) AS s_c_pre,
    MAX(CASE WHEN g = 0 AND per = 1 THEN s_e2 END) AS s_c_post
  FROM cells
)
SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
       round(CAST(s_t_pre AS DOUBLE) / n_t_pre / 100.0, 6) AS m_t_pre,
       round(CAST(s_t_post AS DOUBLE) / n_t_post / 100.0, 6) AS m_t_post,
       round(CAST(s_c_pre AS DOUBLE) / n_c_pre / 100.0, 6) AS m_c_pre,
       round(CAST(s_c_post AS DOUBLE) / n_c_post / 100.0, 6) AS m_c_post,
       round((CAST(s_t_post AS DOUBLE) / n_t_post / 100.0
              - CAST(s_t_pre AS DOUBLE) / n_t_pre / 100.0)
             - (CAST(s_c_post AS DOUBLE) / n_c_post / 100.0
                - CAST(s_c_pre AS DOUBLE) / n_c_pre / 100.0), 6) AS did
FROM p
"""


@register(
    "events_diff_in_diff",
    oracle=_ORACLE_DID,
    tags=("events", "ml", "stats", "analytics"),
    doc=(
        "Difference-in-differences over purchase values: treated = odd "
        "user ids (the deterministic stand-in for an assignment column), "
        "periods split mid-month — DiD = (treated post-pre delta) minus "
        "(control post-pre delta), the workhorse causal contrast when "
        "randomization isn't available (events_ab_test_ztest covers the "
        "randomized case). ONE conditional-aggregate scan produces the "
        "four (group, period) cells as exact BIGINT cent sums + counts; "
        "every mean and the DiD estimate are fixed float expressions "
        "over those integers, so round-6 values are engine-exact. "
        "Scale: a 4-cell hash aggregate with map-side combine — nothing "
        "grows with data size downstream of the scan."
    ),
)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.where(
            F.col("value").isNotNull() & (F.col("event_type") == "purchase")
        )
        .groupBy(
            (F.col("user_id") % 2).alias("g"),
            F.when(
                F.col("ts") < F.lit("2024-01-16").cast("timestamp"), 0
            )
            .otherwise(1)
            .alias("per"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.round(F.col("value") * 100.0, 0).cast("bigint"))
            .cast("bigint")
            .alias("s_e2"),
        )
    )

    def _cell(col: str, g: int, per: int) -> F.Column:
        return F.max(
            F.when((F.col("g") == g) & (F.col("per") == per), F.col(col))
        )

    p = cells.agg(
        _cell("n", 1, 0).alias("n_t_pre"),
        _cell("n", 1, 1).alias("n_t_post"),
        _cell("n", 0, 0).alias("n_c_pre"),
        _cell("n", 0, 1).alias("n_c_post"),
        _cell("s_e2", 1, 0).alias("s_t_pre"),
        _cell("s_e2", 1, 1).alias("s_t_post"),
        _cell("s_e2", 0, 0).alias("s_c_pre"),
        _cell("s_e2", 0, 1).alias("s_c_post"),
    )

    def _mean(s: str, n: str) -> F.Column:
        return F.col(s).cast("double") / F.col(n) / F.lit(100.0)

    return p.select(
        "n_t_pre",
        "n_t_post",
        "n_c_pre",
        "n_c_post",
        F.round(_mean("s_t_pre", "n_t_pre"), 6).alias("m_t_pre"),
        F.round(_mean("s_t_post", "n_t_post"), 6).alias("m_t_post"),
        F.round(_mean("s_c_pre", "n_c_pre"), 6).alias("m_c_pre"),
        F.round(_mean("s_c_post", "n_c_post"), 6).alias("m_c_post"),
        F.round(
            (_mean("s_t_post", "n_t_post") - _mean("s_t_pre", "n_t_pre"))
            - (_mean("s_c_post", "n_c_post") - _mean("s_c_pre", "n_c_pre")),
            6,
        ).alias("did"),
    )


# ---------------------------------------------------------------------------
# Weighted median per group (cumulative-weight crossing)
# ---------------------------------------------------------------------------

_ORACLE_WMEDIAN = """
WITH w AS (
  SELECT o_custkey AS custkey, CAST(COUNT(*) AS BIGINT) AS wt
  FROM orders GROUP BY o_custkey
),
pts AS (
  SELECT c.c_mktsegment AS seg,
         CAST(round(CAST(c.c_acctbal AS DECIMAL(18,4)) * 100, 0) AS BIGINT)
           AS v_e2,
         CAST(SUM(w.wt) AS BIGINT) AS wsum,
         CAST(COUNT(*) AS BIGINT) AS n_cust
  FROM customer c JOIN w ON w.custkey = c.c_custkey
  GROUP BY 1, 2
),
cum AS (
  SELECT seg, v_e2, wsum, n_cust,
         SUM(wsum) OVER (PARTITION BY seg ORDER BY v_e2) AS cw,
         SUM(wsum) OVER (PARTITION BY seg) AS totw,
         SUM(n_cust) OVER (PARTITION BY seg) AS nc
  FROM pts
)
SELECT seg,
       CAST(MAX(nc) AS BIGINT) AS n_customers,
       CAST(MAX(totw) AS BIGINT) AS total_weight,
       CAST(MIN(CASE WHEN 2 * cw >= totw THEN v_e2 END) AS BIGINT)
         AS wmedian_e2
FROM cum GROUP BY seg ORDER BY seg
"""


@register(
    "agg_weighted_median",
    oracle=_ORACLE_WMEDIAN,
    tags=("agg", "stats"),
    doc=(
        "Weighted median of customer account balance per market segment, "
        "weighted by the customer's order count — the robust center that "
        "percentile()/median() can't express (each point carries mass). "
        "Lower weighted median by cumulative-weight crossing: per-cent-"
        "value weight sums (one hash aggregate over the orders-join), a "
        "per-SEGMENT cumulative window (partitioned — never a global "
        "funnel), and min value where 2*cum >= total. Exact BIGINT cents "
        "and weights end-to-end. At 100 TB the per-value pre-aggregation "
        "bounds window input by value resolution per group, the same "
        "contract as ml_auc_roc_exact's distinct-score table."
    ),
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    w = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count(F.lit(1)).cast("bigint").alias("wt")
    )
    pts = (
        cust.join(w, cust.c_custkey == w.custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.round(F.col("c_acctbal").cast("decimal(18,4)") * 100, 0)
            .cast("bigint")
            .alias("v_e2"),
        )
        .agg(
            F.sum("wt").cast("bigint").alias("wsum"),
            F.count(F.lit(1)).cast("bigint").alias("n_cust"),
        )
    )
    wcum = Window.partitionBy("seg").orderBy("v_e2")
    wall = Window.partitionBy("seg")
    cum = (
        pts.withColumn("cw", F.sum("wsum").over(wcum))
        .withColumn("totw", F.sum("wsum").over(wall))
        .withColumn("nc", F.sum("n_cust").over(wall))
    )
    return (
        cum.groupBy("seg")
        .agg(
            F.max("nc").cast("bigint").alias("n_customers"),
            F.max("totw").cast("bigint").alias("total_weight"),
            F.min(
                F.when(2 * F.col("cw") >= F.col("totw"), F.col("v_e2"))
            )
            .cast("bigint")
            .alias("wmedian_e2"),
        )
        .orderBy("seg")
    )


# ---------------------------------------------------------------------------
# Split-conformal prediction intervals (distribution-free coverage)
# ---------------------------------------------------------------------------

_ORACLE_CONFORMAL = """
WITH base AS (
  SELECT event_id, event_type,
         EXTRACT(DAY FROM ts) AS dom,
         CAST(round(value * 100.0, 0) AS BIGINT) AS v_e2
  FROM events WHERE value IS NOT NULL
),
tr AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_tr,
         CAST(SUM(v_e2) AS BIGINT) AS s_tr
  FROM base WHERE dom <= 10 GROUP BY event_type
),
cal AS (
  SELECT b.event_type, b.event_id,
         abs(b.v_e2 * t.n_tr - t.s_tr) AS r
  FROM base b JOIN tr t ON t.event_type = b.event_type
  WHERE b.dom BETWEEN 11 AND 20
),
caln AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_cal
         FROM cal GROUP BY event_type),
qpick AS (
  SELECT c.event_type, c.r AS qhat_scaled
  FROM (
    SELECT event_type, r,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY r, event_id) AS rn
    FROM cal
  ) c
  JOIN caln n ON n.event_type = c.event_type
  WHERE c.rn = least((9 * (n.n_cal + 1) + 9) // 10, n.n_cal)
),
test AS (
  SELECT b.event_type,
         CAST(COUNT(*) AS BIGINT) AS n_test,
         CAST(SUM(CASE WHEN abs(b.v_e2 * t.n_tr - t.s_tr) <= q.qhat_scaled
                       THEN 1 ELSE 0 END) AS BIGINT) AS covered
  FROM base b
  JOIN tr t ON t.event_type = b.event_type
  JOIN qpick q ON q.event_type = b.event_type
  WHERE b.dom >= 21
  GROUP BY b.event_type
)
SELECT t.event_type, t.n_tr AS n_train, n.n_cal, te.n_test,
       round(CAST(t.s_tr AS DOUBLE) / t.n_tr / 100.0, 6) AS mu,
       CAST(q.qhat_scaled AS BIGINT) AS qhat_scaled,
       round(CAST(q.qhat_scaled AS DOUBLE) / t.n_tr / 100.0, 6)
         AS qhat_value,
       te.covered,
       CAST(te.covered * 1000000 // te.n_test AS BIGINT) AS coverage_ppm
FROM tr t
JOIN caln n ON n.event_type = t.event_type
JOIN qpick q ON q.event_type = t.event_type
JOIN test te ON te.event_type = t.event_type
ORDER BY t.event_type
"""


@register(
    "ml_conformal_interval",
    oracle=_ORACLE_CONFORMAL,
    tags=("ml", "eval", "stats"),
    doc=(
        "Split-conformal prediction intervals (Vovk et al.; the "
        "distribution-free coverage guarantee, alpha = 0.1) per event "
        "type: train days 1-10 fit the point predictor (the mean), "
        "calibration days 11-20 supply absolute residuals, qhat = the "
        "ceil(0.9*(n_cal+1))-th smallest calibration residual, and test "
        "days 21+ report realized coverage of mu +- qhat. Exactness "
        "trick: residual |v - s/n| comparisons are done on |v*n - s| — "
        "exact BIGINTs at any magnitude (same cross-multiplication as "
        "the PAVA violation tests), so the picked quantile, the "
        "coverage count, and the ppm are all integer-exact; only the "
        "two display columns divide. Scale shape: one grouped aggregate "
        "per split + a per-TYPE rank window over calibration residuals "
        "(grouped, never global) + one broadcast qhat join. The honest "
        "uncertainty layer ml_bootstrap_ci_poisson's CI does not give "
        "(conformal covers FUTURE points, not the mean)."
    ),
)
def ml_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    base = ev.select(
        "event_id",
        "event_type",
        F.dayofmonth("ts").alias("dom"),
        F.round(F.col("value") * 100.0, 0).cast("bigint").alias("v_e2"),
    )
    tr = (
        base.where(F.col("dom") <= 10)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tr"),
            F.sum("v_e2").cast("bigint").alias("s_tr"),
        )
    )
    cal = (
        base.where(F.col("dom").between(11, 20))
        .join(F.broadcast(tr), "event_type")
        .select(
            "event_type",
            "event_id",
            F.abs(F.col("v_e2") * F.col("n_tr") - F.col("s_tr")).alias("r"),
        )
    )
    caln = cal.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cal")
    )
    wq = Window.partitionBy("event_type").orderBy("r", "event_id")
    qpick = (
        cal.withColumn("rn", F.row_number().over(wq))
        .join(F.broadcast(caln), "event_type")
        .where(
            F.col("rn")
            == F.least(
                F.expr("(9 * (n_cal + 1) + 9) div 10"), F.col("n_cal")
            )
        )
        .select("event_type", F.col("r").alias("qhat_scaled"))
    )
    test = (
        base.where(F.col("dom") >= 21)
        .join(F.broadcast(tr), "event_type")
        .join(F.broadcast(qpick), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(
                F.when(
                    F.abs(F.col("v_e2") * F.col("n_tr") - F.col("s_tr"))
                    <= F.col("qhat_scaled"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("covered"),
        )
    )
    return (
        tr.join(caln, "event_type")
        .join(qpick, "event_type")
        .join(test, "event_type")
        .select(
            "event_type",
            F.col("n_tr").alias("n_train"),
            "n_cal",
            "n_test",
            F.round(
                F.col("s_tr").cast("double") / F.col("n_tr") / 100.0, 6
            ).alias("mu"),
            F.col("qhat_scaled").cast("bigint").alias("qhat_scaled"),
            F.round(
                F.col("qhat_scaled").cast("double")
                / F.col("n_tr")
                / 100.0,
                6,
            ).alias("qhat_value"),
            "covered",
            F.expr(
                "CAST(covered * 1000000 div n_test AS BIGINT)"
            ).alias("coverage_ppm"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Horvitz-Thompson estimation from an unequal-probability sample
# ---------------------------------------------------------------------------

_HT_RATES = {"click": 4, "view": 8, "error": 16, "signup": 2, "purchase": 1}

_ORACLE_HT = """
WITH rates AS (
  SELECT * FROM (VALUES ('click', 4), ('view', 8), ('error', 16),
                        ('signup', 2), ('purchase', 1)) AS t(event_type, k)
),
base AS (
  SELECT e.event_type, r.k,
         CAST(round(e.value * 100.0, 0) AS BIGINT) AS v_e2,
         ('0x' || substr(md5(CAST(e.event_id AS VARCHAR)), 1, 8))::BIGINT
           AS lane
  FROM events e JOIN rates r ON r.event_type = e.event_type
  WHERE e.value IS NOT NULL
),
truth AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pop,
         CAST(SUM(v_e2) AS BIGINT) AS total_e2
  FROM base GROUP BY event_type
),
samp AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_samp,
         CAST(SUM(v_e2 * k) AS BIGINT) AS ht_total_e2,
         CAST(SUM(v_e2 * v_e2 * k * (k - 1)) AS BIGINT) AS ht_var_e4,
         CAST(SUM(k) AS BIGINT) AS ht_count
  FROM base WHERE lane % k = 0 GROUP BY event_type
)
SELECT t.event_type, t.n_pop, s.n_samp, t.total_e2,
       s.ht_total_e2, s.ht_count, s.ht_var_e4,
       CAST(abs(s.ht_total_e2 - t.total_e2) * 1000000 // t.total_e2
            AS BIGINT) AS rel_err_ppm
FROM truth t JOIN samp s ON s.event_type = t.event_type
ORDER BY t.event_type
"""


@register(
    "sample_horvitz_thompson",
    oracle=_ORACLE_HT,
    tags=("sampling", "stats", "eval"),
    doc=(
        "Horvitz-Thompson estimation from a deterministic UNEQUAL-"
        "probability sample: each event type samples at its own md5-lane "
        "rate 1/k (rare purchases kept whole, noisy views at 1/8), and "
        "the HT estimator reweights by the inverse inclusion "
        "probability — total_hat = sum(v*k) over sampled rows, with the "
        "Poisson-sampling variance estimator sum(v^2*k*(k-1)) — next to "
        "the design half the registry already has (stratified, Neyman, "
        "reservoir, DSIR samplers). Everything is exact BIGINT because "
        "the rates are integer reciprocals: the estimator, its variance "
        "numerator, and the realized relative error vs the full-scan "
        "truth all hash cross-engine. The estimation side is ONE "
        "conditional aggregate over the sample — this is how a 100 TB "
        "pipeline reports corpus totals without the full scan, with the "
        "full-scan truth kept here as the calibration check."
    ),
)
def sample_horvitz_thompson(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    rates = spark.createDataFrame(
        [(t, k) for t, k in sorted(_HT_RATES.items())], "event_type string, k int"
    )
    lane = md5_u32(F.col("event_id").cast("string"))
    base = ev.join(F.broadcast(rates), "event_type").select(
        "event_type",
        "k",
        F.round(F.col("value") * 100.0, 0).cast("bigint").alias("v_e2"),
        lane.alias("lane"),
    )
    truth = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pop"),
        F.sum("v_e2").cast("bigint").alias("total_e2"),
    )
    samp = (
        base.where(F.col("lane") % F.col("k") == 0)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_samp"),
            F.sum(F.col("v_e2") * F.col("k")).cast("bigint").alias(
                "ht_total_e2"
            ),
            F.sum(
                F.col("v_e2") * F.col("v_e2") * F.col("k") * (F.col("k") - 1)
            )
            .cast("bigint")
            .alias("ht_var_e4"),
            F.sum("k").cast("bigint").alias("ht_count"),
        )
    )
    return (
        truth.join(samp, "event_type")
        .select(
            "event_type",
            "n_pop",
            "n_samp",
            "total_e2",
            "ht_total_e2",
            "ht_count",
            "ht_var_e4",
            F.expr(
                "CAST(abs(ht_total_e2 - total_e2) * 1000000 "
                "div total_e2 AS BIGINT)"
            ).alias("rel_err_ppm"),
        )
        .orderBy("event_type")
    )
