"""Round-10 second stats batch: agreement and robust-location estimators.

* ``ml_bland_altman`` — Bland-Altman agreement limits between the daily
  click and view series, with the outside-limits count decided by a PURE
  INTEGER inequality (1.96 = 49/25 exactly, so the fence test clears
  denominators instead of comparing against a float bound).
* ``agg_trimmed_winsorized`` — 5%-trimmed and winsorized means per
  segment from exact rank thresholds.
* ``ml_fleiss_kappa`` — multi-rater chance-corrected agreement for three
  deterministic document raters, carried as one integer rational.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.text import md5_u32
from ..session import pin_query_session_conf
from .registry import register

# ---------------------------------------------------------------------------
# Bland-Altman limits of agreement
# ---------------------------------------------------------------------------

_ORACLE_BLAND = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              - SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS diff
  FROM events WHERE event_type IN ('click', 'view')
  GROUP BY 1
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(diff) AS BIGINT) AS sd1,
         CAST(SUM(diff * diff) AS BIGINT) AS sd2
  FROM daily
),
outside AS (
  -- integer fence: |d - mean| > 1.96*sigma  <=>
  -- 625*(n*d - S)^2 > 2401*n*(n*S2 - S^2)/n ... cleared of denominators:
  -- 625*(n*d - S)^2 > 2401*(n*S2 - S^2)
  SELECT CAST(COUNT(*) AS BIGINT) AS n_outside
  FROM daily, m
  WHERE 625 * (m.n * diff - m.sd1) * (m.n * diff - m.sd1)
        > 2401 * (m.n * sd2 - sd1 * sd1)
)
SELECT m.n, m.sd1 AS sum_diff, m.sd2 AS sum_diff_sq, o.n_outside,
       round(CAST(m.sd1 AS DOUBLE) / m.n, 6) AS mean_diff,
       round(CAST(m.sd1 AS DOUBLE) / m.n
             - 1.96 * sqrt(CAST(m.n * m.sd2 - m.sd1 * m.sd1 AS DOUBLE))
               / m.n, 6) AS loa_low,
       round(CAST(m.sd1 AS DOUBLE) / m.n
             + 1.96 * sqrt(CAST(m.n * m.sd2 - m.sd1 * m.sd1 AS DOUBLE))
               / m.n, 6) AS loa_high
FROM m, outside o
"""


@register(
    "ml_bland_altman",
    oracle=_ORACLE_BLAND,
    tags=("ml", "stats"),
    doc=(
        "Bland-Altman limits of agreement between the daily click and "
        "view counts: mean difference +- 1.96 sd as the agreement "
        "interval, with the OUTSIDE-LIMITS count decided by the exact "
        "integer inequality 625*(n*d - S)^2 > 2401*(n*S2 - S^2) — 1.96 "
        "is exactly 49/25, so clearing denominators removes every float "
        "from the classification and only the reported interval "
        "endpoints are (correctly-rounded) floats.  The method-agreement "
        "analysis that catches what correlation hides: two measures can "
        "correlate at 0.99 and still disagree by a constant bias.  "
        "Completes the agreement family with ml_lin_ccc and "
        "ml_cohens_kappa."
    ),
)
def ml_bland_altman(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "view")
    )
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        (
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            - F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        )
        .cast("bigint")
        .alias("diff")
    )
    m = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("diff").cast("bigint").alias("sd1"),
        F.sum(F.col("diff") * F.col("diff")).cast("bigint").alias("sd2"),
    )
    joined = daily.join(F.broadcast(m), F.lit(True), "left")
    dev = F.col("n") * F.col("diff") - F.col("sd1")
    outside = joined.where(
        625 * dev * dev > 2401 * (F.col("n") * F.col("sd2") - F.col("sd1") * F.col("sd1"))
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_outside"))
    n, sd1, sd2 = F.col("n"), F.col("sd1"), F.col("sd2")
    sigma_term = F.lit(1.96) * F.sqrt(
        (n * sd2 - sd1 * sd1).cast("double")
    ) / n
    return m.join(F.broadcast(outside), F.lit(True), "left").select(
        "n",
        sd1.alias("sum_diff"),
        sd2.alias("sum_diff_sq"),
        "n_outside",
        F.round(sd1.cast("double") / n, 6).alias("mean_diff"),
        F.round(sd1.cast("double") / n - sigma_term, 6).alias("loa_low"),
        F.round(sd1.cast("double") / n + sigma_term, 6).alias("loa_high"),
    )


# ---------------------------------------------------------------------------
# Trimmed and winsorized means per segment
# ---------------------------------------------------------------------------

_ORACLE_TRIMMED = """
WITH cents AS (
  SELECT c_mktsegment AS seg,
         CAST(round(c_acctbal * 100.0, 0) AS BIGINT) AS x,
         c_custkey
  FROM customer
),
ranked AS (
  SELECT seg, x,
         row_number() OVER (PARTITION BY seg ORDER BY x, c_custkey) AS rn,
         COUNT(*) OVER (PARTITION BY seg) AS n
  FROM cents
),
km AS (SELECT seg, x, rn, n, n // 20 AS k FROM ranked)
SELECT seg, CAST(MAX(n) AS BIGINT) AS n, CAST(MAX(k) AS BIGINT) AS k,
       CAST(SUM(CASE WHEN rn > k AND rn <= n - k THEN x ELSE 0 END)
            AS BIGINT) AS interior_sum_e2,
       CAST(MAX(CASE WHEN rn = k + 1 THEN x END) AS BIGINT) AS low_clamp_e2,
       CAST(MAX(CASE WHEN rn = n - k THEN x END) AS BIGINT) AS high_clamp_e2,
       round(CAST(SUM(CASE WHEN rn > k AND rn <= n - k THEN x ELSE 0 END)
                  AS DOUBLE) / (MAX(n) - 2 * MAX(k)), 6) AS trimmed_mean,
       round(CAST(SUM(CASE WHEN rn > k AND rn <= n - k THEN x ELSE 0 END)
                  + MAX(k) * MAX(CASE WHEN rn = k + 1 THEN x END)
                  + MAX(k) * MAX(CASE WHEN rn = n - k THEN x END)
                  AS DOUBLE) / MAX(n), 6) AS winsorized_mean
FROM km GROUP BY seg ORDER BY seg
"""


@register(
    "agg_trimmed_winsorized",
    oracle=_ORACLE_TRIMMED,
    tags=("agg", "stats", "dq"),
    doc=(
        "5%%-trimmed and winsorized means per segment from EXACT rank "
        "thresholds (k = n DIV 20 observations dropped/clamped per "
        "tail): the interior sum, clamp values x_(k+1) / x_(n-k) and "
        "counts are all BIGINT cents, and the two means are the only "
        "floats — winsorized = (interior + k*low_clamp + k*high_clamp)/n "
        "reconstructed from integers rather than re-aggregating a "
        "mutated column.  The robust-location pair every DQ dashboard "
        "wants next to the mean/median, and the standard pre-treatment "
        "for heavy-tailed monetary columns before OLS.  One partitioned "
        "rank window + one grouped aggregate."
    ),
)
def agg_trimmed_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    cents = load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100.0, 0).cast("bigint").alias("x"),
        "c_custkey",
    )
    w = Window.partitionBy("seg").orderBy("x", "c_custkey")
    wn = Window.partitionBy("seg")
    ranked = cents.select(
        "seg",
        "x",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    ).withColumn("k", F.floor(F.col("n") / 20))
    interior = F.sum(
        F.when(
            (F.col("rn") > F.col("k")) & (F.col("rn") <= F.col("n") - F.col("k")),
            F.col("x"),
        ).otherwise(0)
    ).cast("bigint")
    low = F.max(F.when(F.col("rn") == F.col("k") + 1, F.col("x"))).cast("bigint")
    high = F.max(
        F.when(F.col("rn") == F.col("n") - F.col("k"), F.col("x"))
    ).cast("bigint")
    return (
        ranked.groupBy("seg")
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.max("k").cast("bigint").alias("k"),
            interior.alias("interior_sum_e2"),
            low.alias("low_clamp_e2"),
            high.alias("high_clamp_e2"),
        )
        .select(
            "seg",
            "n",
            "k",
            "interior_sum_e2",
            "low_clamp_e2",
            "high_clamp_e2",
            F.round(
                F.col("interior_sum_e2").cast("double")
                / (F.col("n") - 2 * F.col("k")),
                6,
            ).alias("trimmed_mean"),
            F.round(
                (
                    F.col("interior_sum_e2")
                    + F.col("k") * F.col("low_clamp_e2")
                    + F.col("k") * F.col("high_clamp_e2")
                ).cast("double")
                / F.col("n"),
                6,
            ).alias("winsorized_mean"),
        )
        .orderBy("seg")
    )


# ---------------------------------------------------------------------------
# Fleiss' kappa (three deterministic raters)
# ---------------------------------------------------------------------------

_ORACLE_FLEISS = """
WITH rated AS (
  SELECT (CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END
          + CASE WHEN len(string_split(text, ' ')) >= 55 THEN 1 ELSE 0 END
          + CASE WHEN text LIKE '%data%' THEN 1 ELSE 0 END) AS pos_votes
  FROM documents
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
         CAST(SUM(pos_votes * pos_votes
                  + (3 - pos_votes) * (3 - pos_votes)) AS BIGINT) AS s2,
         CAST(SUM(pos_votes) AS BIGINT) AS c_pos,
         CAST(SUM(3 - pos_votes) AS BIGINT) AS c_neg
  FROM rated
)
SELECT n_items, s2, c_pos, c_neg,
       CAST((s2 - 3 * n_items) * (3 * n_items) * (3 * n_items)
            - 3 * n_items * 2 * (c_pos * c_pos + c_neg * c_neg)
            AS BIGINT) AS kappa_num,
       CAST(2 * 3 * n_items
            * ((3 * n_items) * (3 * n_items)
               - (c_pos * c_pos + c_neg * c_neg)) AS BIGINT) AS kappa_den,
       round(CAST((s2 - 3 * n_items) * (3 * n_items) * (3 * n_items)
                  - 3 * n_items * 2 * (c_pos * c_pos + c_neg * c_neg)
                  AS DOUBLE)
             / CAST(2 * 3 * n_items
                    * ((3 * n_items) * (3 * n_items)
                       - (c_pos * c_pos + c_neg * c_neg)) AS DOUBLE),
             6) AS fleiss_kappa
FROM m
"""


@register(
    "ml_fleiss_kappa",
    oracle=_ORACLE_FLEISS,
    tags=("ml", "stats", "quality"),
    doc=(
        "Fleiss' kappa for THREE deterministic document raters "
        "(char-length gate, token-count gate, 'data'-substring gate) on "
        "a binary category: generalizes Cohen's two-rater kappa to any "
        "panel.  With n=3 raters the per-item agreement sum S2 = "
        "sum(n_pos^2 + n_neg^2), the category totals and every "
        "intermediate are exact BIGINTs, and kappa = (P_bar - P_e)/(1 - "
        "P_e) is carried as ONE integer rational (numerator/denominator "
        "emitted) before the final float.  The rater-panel audit a "
        "curation pipeline runs before trusting ensemble quality votes.  "
        "Map-only scan + one scalar aggregate."
    ),
)
def ml_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    pos = (
        F.when(F.col("n_chars") >= 300, 1).otherwise(0)
        + F.when(F.size(F.split("text", " ")) >= 55, 1).otherwise(0)
        + F.when(F.col("text").contains("data"), 1).otherwise(0)
    )
    rated = docs.select(pos.alias("pos_votes"))
    m = rated.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(
            F.col("pos_votes") * F.col("pos_votes")
            + (3 - F.col("pos_votes")) * (3 - F.col("pos_votes"))
        )
        .cast("bigint")
        .alias("s2"),
        F.sum("pos_votes").cast("bigint").alias("c_pos"),
        F.sum(3 - F.col("pos_votes")).cast("bigint").alias("c_neg"),
    )
    n, s2 = F.col("n_items"), F.col("s2")
    cc = F.col("c_pos") * F.col("c_pos") + F.col("c_neg") * F.col("c_neg")
    nn = 3 * n
    num = ((s2 - nn) * nn * nn - nn * 2 * cc).cast("bigint")
    den = (2 * nn * (nn * nn - cc)).cast("bigint")
    return m.select(
        "n_items",
        "s2",
        "c_pos",
        "c_neg",
        num.alias("kappa_num"),
        den.alias("kappa_den"),
        F.round(num.cast("double") / den.cast("double"), 6).alias(
            "fleiss_kappa"
        ),
    )


# ---------------------------------------------------------------------------
# Youden-J optimal classification threshold
# ---------------------------------------------------------------------------

_ORACLE_YOUDEN = """
WITH scored AS (
  SELECT label % 2 AS y,
         CAST(round((0.7 * (label % 2)
               + 0.3 * ((('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                          ::BIGINT % 1000) / 999.0)) * 1000000, 0) AS BIGINT)
           AS s_e6
  FROM embeddings
),
per_score AS (
  SELECT s_e6, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(y) AS BIGINT) AS n_pos
  FROM scored GROUP BY s_e6
),
tot AS (
  SELECT CAST(SUM(n_pos) AS BIGINT) AS p,
         CAST(SUM(cnt - n_pos) AS BIGINT) AS n
  FROM per_score
),
cum AS (
  SELECT s_e6,
         CAST(SUM(n_pos) OVER (ORDER BY s_e6 DESC
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
         CAST(SUM(cnt - n_pos) OVER (ORDER BY s_e6 DESC
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp
  FROM per_score
)
SELECT c.s_e6 AS threshold_e6, c.tp, c.fp,
       CAST(t.p - c.tp AS BIGINT) AS fn,
       CAST(t.n - c.fp AS BIGINT) AS tn,
       CAST(c.tp * t.n - c.fp * t.p AS BIGINT) AS j_num,
       round(CAST(c.tp AS DOUBLE) / t.p - CAST(c.fp AS DOUBLE) / t.n, 6)
         AS youden_j
FROM cum c, tot t
QUALIFY row_number() OVER (ORDER BY c.tp * t.n - c.fp * t.p DESC, c.s_e6) = 1
"""


@register(
    "ml_youden_j_threshold",
    oracle=_ORACLE_YOUDEN,
    tags=("ml", "eval"),
    doc=(
        "Youden-J optimal operating point: over the DISTINCT-SCORE table "
        "(the ml_auc_roc_exact scoring setup — e6 fixed-point scores, "
        "md5-lane noise), cumulative TP/FP from the top give every ROC "
        "vertex in one window, and the argmax of J = TPR - FPR is decided "
        "by the INTEGER key tp*N - fp*P (cross-multiplied, so no float "
        "ever orders the thresholds; ties break to the lower threshold).  "
        "Emits the full confusion matrix at the chosen cut.  The "
        "threshold-picking step between ROC evaluation and deployment — "
        "window state bounded by score resolution, never row count."
    ),
)
def ml_youden_j_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    noise = (
        md5_u32(F.col("vec_id").cast("string"))
        % 1000
    ) / F.lit(999.0)
    scored = emb.select(
        (F.col("label") % 2).alias("y"),
        F.round(
            (F.lit(0.7) * (F.col("label") % 2) + F.lit(0.3) * noise) * 1000000,
            0,
        )
        .cast("bigint")
        .alias("s_e6"),
    )
    per_score = scored.groupBy("s_e6").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("y").cast("bigint").alias("n_pos"),
    )
    tot = per_score.agg(
        F.sum("n_pos").cast("bigint").alias("p"),
        F.sum(F.col("cnt") - F.col("n_pos")).cast("bigint").alias("n"),
    )
    w = Window.orderBy(F.col("s_e6").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per_score.select(
        "s_e6",
        F.sum("n_pos").over(w).cast("bigint").alias("tp"),
        F.sum(F.col("cnt") - F.col("n_pos")).over(w).cast("bigint").alias("fp"),
    )
    joined = cum.join(F.broadcast(tot), F.lit(True), "left")
    j_num = (F.col("tp") * F.col("n") - F.col("fp") * F.col("p")).cast("bigint")
    w_best = Window.orderBy(j_num.desc(), "s_e6")
    return (
        joined.withColumn("_rn", F.row_number().over(w_best))
        .where(F.col("_rn") == 1)
        .select(
            F.col("s_e6").alias("threshold_e6"),
            "tp",
            "fp",
            (F.col("p") - F.col("tp")).cast("bigint").alias("fn"),
            (F.col("n") - F.col("fp")).cast("bigint").alias("tn"),
            j_num.alias("j_num"),
            F.round(
                F.col("tp").cast("double") / F.col("p")
                - F.col("fp").cast("double") / F.col("n"),
                6,
            ).alias("youden_j"),
        )
    )


# ---------------------------------------------------------------------------
# Shewhart X-bar / R control chart
# ---------------------------------------------------------------------------

#: Standard SPC chart constants for subgroup size n=24, pinned as EXACT
#: RATIONALS (x1000) so every control decision is an integer inequality:
#: A2 = 0.157, D3 = 0.451, D4 = 1.548 (classic ASTM tables).
_SPC_A2_E3 = 157
_SPC_D3_E3 = 451
_SPC_D4_E3 = 1548

_ORACLE_XBAR = f"""
WITH hourly AS (
  SELECT CAST(ts AS DATE) AS d, date_part('hour', ts) AS h,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
subgroups AS (
  -- only complete 24-hour subgroups enter the chart (standard practice)
  SELECT d, CAST(SUM(x) AS BIGINT) AS s,
         CAST(MAX(x) - MIN(x) AS BIGINT) AS r
  FROM hourly GROUP BY d HAVING COUNT(*) = 24
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(s) AS BIGINT) AS t,
         CAST(SUM(r) AS BIGINT) AS sr
  FROM subgroups
),
viol AS (
  -- integer control tests: mean_d outside Xbarbar +- A2*Rbar  <=>
  -- |m*s_d*1000 - t*1000| > 24*{_SPC_A2_E3}*sr ; range rule likewise
  SELECT CAST(SUM(CASE WHEN abs(mm.m * sg.s * 1000 - mm.t * 1000)
                            > 24 * {_SPC_A2_E3} * mm.sr
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_mean_ooc,
         CAST(SUM(CASE WHEN sg.r * 1000 * mm.m > {_SPC_D4_E3} * mm.sr
                         OR sg.r * 1000 * mm.m < {_SPC_D3_E3} * mm.sr
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_range_ooc
  FROM subgroups sg, m mm
)
SELECT mm.m AS n_subgroups, mm.t AS total_events, mm.sr AS sum_ranges,
       v.n_mean_ooc, v.n_range_ooc,
       round(CAST(mm.t AS DOUBLE) / (24 * mm.m), 6) AS xbarbar,
       round(CAST(mm.t AS DOUBLE) / (24 * mm.m)
             + {_SPC_A2_E3} / 1000.0 * mm.sr / mm.m, 6) AS ucl_xbar,
       round(CAST(mm.t AS DOUBLE) / (24 * mm.m)
             - {_SPC_A2_E3} / 1000.0 * mm.sr / mm.m, 6) AS lcl_xbar,
       round({_SPC_D4_E3} / 1000.0 * mm.sr / mm.m, 6) AS ucl_range
FROM m mm, viol v
"""


@register(
    "events_control_chart_xbar_r",
    oracle=_ORACLE_XBAR,
    tags=("events", "stats", "dq"),
    doc=(
        "Shewhart X-bar/R control chart over daily subgroups of hourly "
        "event counts (n=24, complete days only): center line and "
        "control limits from the grand mean and mean range with the "
        "ASTM constants A2/D3/D4 pinned as EXACT rationals (x1000), so "
        "every out-of-control decision is a pure integer inequality — "
        "|m*s_d - t|*1000 > 24*157*sum_R — and only the reported limit "
        "values are floats.  The SPC primitive production monitoring is "
        "built on (and the ancestor of every drift detector in the "
        "suite: CUSUM reacts faster, the control chart localizes WHICH "
        "subgroup broke).  Two grouped aggregates + one scalar "
        "broadcast."
    ),
)
def events_control_chart_xbar_r(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("ts").cast("date").alias("d"), F.hour("ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    subgroups = (
        hourly.groupBy("d")
        .agg(
            F.sum("x").cast("bigint").alias("s"),
            (F.max("x") - F.min("x")).cast("bigint").alias("r"),
            F.count(F.lit(1)).alias("_nh"),
        )
        .where(F.col("_nh") == 24)
        .select("d", "s", "r")
    )
    m = subgroups.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("s").cast("bigint").alias("t"),
        F.sum("r").cast("bigint").alias("sr"),
    )
    j = subgroups.join(F.broadcast(m), F.lit(True), "left")
    mean_ooc = F.sum(
        F.when(
            F.abs(F.col("m") * F.col("s") * 1000 - F.col("t") * 1000)
            > 24 * _SPC_A2_E3 * F.col("sr"),
            1,
        ).otherwise(0)
    ).cast("bigint")
    range_ooc = F.sum(
        F.when(
            (F.col("r") * 1000 * F.col("m") > _SPC_D4_E3 * F.col("sr"))
            | (F.col("r") * 1000 * F.col("m") < _SPC_D3_E3 * F.col("sr")),
            1,
        ).otherwise(0)
    ).cast("bigint")
    viol = j.agg(mean_ooc.alias("n_mean_ooc"), range_ooc.alias("n_range_ooc"))
    mm, t, sr = F.col("m"), F.col("t"), F.col("sr")
    return m.join(F.broadcast(viol), F.lit(True), "left").select(
        mm.alias("n_subgroups"),
        t.alias("total_events"),
        sr.alias("sum_ranges"),
        "n_mean_ooc",
        "n_range_ooc",
        F.round(t.cast("double") / (24 * mm), 6).alias("xbarbar"),
        F.round(
            t.cast("double") / (24 * mm)
            + F.lit(_SPC_A2_E3) / F.lit(1000.0) * sr / mm,
            6,
        ).alias("ucl_xbar"),
        F.round(
            t.cast("double") / (24 * mm)
            - F.lit(_SPC_A2_E3) / F.lit(1000.0) * sr / mm,
            6,
        ).alias("lcl_xbar"),
        F.round(F.lit(_SPC_D4_E3) / F.lit(1000.0) * sr / mm, 6).alias(
            "ucl_range"
        ),
    )
