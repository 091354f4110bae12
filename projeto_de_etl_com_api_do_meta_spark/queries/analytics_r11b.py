"""Round-11 batch 2: entropy association, variance homogeneity, entropy
inequality, weighted agreement, normality, Adamic-Adar link prediction.

* ``ml_theil_u_uncertainty`` — Theil's uncertainty coefficient
  U(lang|source) + the symmetric variant from exact count entropies
  over the bounded lang x source grid.
* ``ml_bartlett_test`` — Bartlett's variance-homogeneity test across
  event types (the parametric sibling of the repo's Brown-Forsythe),
  per-group ln-variance terms e9-fixed.
* ``agg_theil_index`` — Theil T and mean-log-deviation (Theil L)
  inequality of order totals over the distinct-cent value spine —
  completes Gini/Palma/Hoover/Atkinson/HHI/Lorenz with the two
  decomposable entropy members.
* ``ml_cohen_kappa_weighted`` — quadratically-weighted Cohen's kappa
  between two deterministic 5-category ordinal raters; numerator and
  denominator are exact BIGINT sums over the 25-cell confusion grid.
* ``ml_jarque_bera`` — Jarque-Bera normality test from exact integer
  power sums S1..S4 over the unit-value spine (the large products cross
  into double with one identical expression per column, the
  ml_grubbs_test convention).
* ``graph_adamic_adar`` — Adamic-Adar link prediction on the
  co-purchase graph: per-shared-part weights 1/ln(deg) e9-fixed, pair
  scores exact BIGINT sums (the inverse-log-degree refinement of
  graph_link_prediction's common-neighbor/Jaccard scores).

Determinism contract and scale posture as stats_r11 (integer fixed
point, e-fixed terms before cross-row sums, one final float per column,
bounded spines/grids, posting joins with the documented hot-key cap
story).  Reference scope: [EXT] SURVEY §6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.text import md5_u32
from ..session import pin_query_session_conf
from .registry import register

# ---------------------------------------------------------------------------
# Theil's uncertainty coefficient
# ---------------------------------------------------------------------------

_ORACLE_THEIL_U = """
WITH xy AS (
  SELECT lang AS x, source AS y, CAST(COUNT(*) AS BIGINT) AS nxy
  FROM documents GROUP BY lang, source
),
mx AS (SELECT x, CAST(SUM(nxy) AS BIGINT) AS nx FROM xy GROUP BY x),
my AS (SELECT y, CAST(SUM(nxy) AS BIGINT) AS ny FROM xy GROUP BY y),
n AS (SELECT CAST(SUM(nxy) AS BIGINT) AS n FROM xy),
hx AS (
  SELECT CAST(SUM(CAST(round(-1000000000.0 * (CAST(nx AS DOUBLE) / n.n)
                             * ln(CAST(nx AS DOUBLE) / n.n)) AS BIGINT))
              AS BIGINT) AS hx_e9
  FROM mx, n
),
hy AS (
  SELECT CAST(SUM(CAST(round(-1000000000.0 * (CAST(ny AS DOUBLE) / n.n)
                             * ln(CAST(ny AS DOUBLE) / n.n)) AS BIGINT))
              AS BIGINT) AS hy_e9
  FROM my, n
),
mi AS (
  SELECT CAST(SUM(CAST(round(1000000000.0 * (CAST(nxy AS DOUBLE) / n.n)
                             * ln(CAST(nxy AS DOUBLE) * n.n
                                  / (CAST(nx AS DOUBLE) * ny)))
                       AS BIGINT)) AS BIGINT) AS mi_e9,
         CAST(COUNT(*) AS BIGINT) AS n_cells
  FROM xy JOIN mx USING (x) JOIN my USING (y), n
)
SELECT n.n AS n_docs, mi.n_cells, hx.hx_e9, hy.hy_e9, mi.mi_e9,
       round(CASE WHEN hx.hx_e9 = 0 THEN 0.0
                  ELSE CAST(mi.mi_e9 AS DOUBLE) / hx.hx_e9 END, 6)
         AS u_lang_given_source,
       round(CASE WHEN hx.hx_e9 + hy.hy_e9 = 0 THEN 0.0
                  ELSE 2.0 * mi.mi_e9
                       / (CAST(hx.hx_e9 AS DOUBLE) + hy.hy_e9) END, 6)
         AS u_symmetric
FROM n, hx, hy, mi
"""


@register(
    "ml_theil_u_uncertainty",
    oracle=_ORACLE_THEIL_U,
    tags=("ml", "stats", "corpus"),
    doc=(
        "Theil's uncertainty coefficient for lang given source over the "
        "document corpus — U(X|Y) = I(X;Y)/H(X) plus the symmetric "
        "2I/(H(X)+H(Y)): every entropy/MI contribution is one e9-FIXED "
        "float per cell of the bounded lang x source grid (counts are "
        "exact BIGINTs, cross-cell sums are integer), and the two "
        "coefficients are the only unfixed floats.  The [0,1]-normalized, "
        "ASYMMETRIC association measure the repo's chi-square and raw MI "
        "(corpus_lang_source_mi) don't give — 'how much does knowing the "
        "source tell you about the language'.  Three grouped integer "
        "aggregates on a dimension-bounded grid."
    ),
)
def ml_theil_u_uncertainty(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    xy = docs.groupBy(
        F.col("lang").alias("x"), F.col("source").alias("y")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("nxy"))
    mx = xy.groupBy("x").agg(F.sum("nxy").cast("bigint").alias("nx"))
    my = xy.groupBy("y").agg(F.sum("nxy").cast("bigint").alias("ny"))
    n = xy.agg(F.sum("nxy").cast("bigint").alias("n"))

    def h_e9(cnt: str) -> F.Column:
        p = F.col(cnt).cast("double") / F.col("n")
        return F.round(-1000000000.0 * p * F.log(p)).cast("bigint")

    hx = (
        mx.join(F.broadcast(n), F.lit(True), "left")
        .select(h_e9("nx").alias("t"))
        .agg(F.sum("t").cast("bigint").alias("hx_e9"))
    )
    hy = (
        my.join(F.broadcast(n), F.lit(True), "left")
        .select(h_e9("ny").alias("t"))
        .agg(F.sum("t").cast("bigint").alias("hy_e9"))
    )
    pmi = (
        F.col("nxy").cast("double")
        * F.col("n")
        / (F.col("nx").cast("double") * F.col("ny"))
    )
    mi_t = F.round(
        1000000000.0
        * (F.col("nxy").cast("double") / F.col("n"))
        * F.log(pmi)
    ).cast("bigint")
    mi = (
        xy.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .join(F.broadcast(n), F.lit(True), "left")
        .select(mi_t.alias("t"))
        .agg(
            F.sum("t").cast("bigint").alias("mi_e9"),
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        )
    )
    out = (
        n.join(F.broadcast(mi), F.lit(True), "left")
        .join(F.broadcast(hx), F.lit(True), "left")
        .join(F.broadcast(hy), F.lit(True), "left")
    )
    u_asym = F.when(F.col("hx_e9") == 0, F.lit(0.0)).otherwise(
        F.col("mi_e9").cast("double") / F.col("hx_e9")
    )
    u_sym = F.when(F.col("hx_e9") + F.col("hy_e9") == 0, F.lit(0.0)).otherwise(
        2.0 * F.col("mi_e9") / (F.col("hx_e9").cast("double") + F.col("hy_e9"))
    )
    return out.select(
        F.col("n").alias("n_docs"),
        "n_cells",
        "hx_e9",
        "hy_e9",
        "mi_e9",
        F.round(u_asym, 6).alias("u_lang_given_source"),
        F.round(u_sym, 6).alias("u_symmetric"),
    )


# ---------------------------------------------------------------------------
# Bartlett's test
# ---------------------------------------------------------------------------

_ORACLE_BARTLETT = """
WITH x AS (
  SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL
),
grp AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS s,
         CAST(SUM(v * v) AS BIGINT) AS q
  FROM x GROUP BY g
),
terms AS (
  -- (n_i - 1) * S_i^2 carried as the exact e0-rounded integer
  -- (nQ - S^2)/n (the within-SS identity), the same convention as
  -- ml_brown_forsythe/ml_tukey_hsd; its ln term e9-fixed.
  SELECT g, n,
         CAST(round((CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s) / n)
              AS BIGINT) AS ss_i,
         CAST(round(1000000000.0 * (n - 1)
                    * ln((CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s)
                         / n / (n - 1))) AS BIGINT) AS lnterm_e9,
         CAST(round(1000000000000.0 / (n - 1)) AS BIGINT) AS inv_e12
  FROM grp WHERE n >= 2
),
gl AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS n_tot,
         CAST(SUM(ss_i) AS BIGINT) AS ss_w,
         CAST(SUM(lnterm_e9) AS BIGINT) AS sum_ln_e9,
         CAST(SUM(inv_e12) AS BIGINT) AS sum_inv_e12
  FROM terms
)
SELECT k, n_tot, ss_w, sum_ln_e9, sum_inv_e12,
       round(CASE WHEN k <= 1 OR n_tot <= k OR ss_w <= 0 THEN 0.0
                  ELSE ((CAST(n_tot - k AS DOUBLE)
                         * ln(CAST(ss_w AS DOUBLE) / (n_tot - k))
                         - CAST(sum_ln_e9 AS DOUBLE) / 1000000000.0)
                        / (1.0 + (CAST(sum_inv_e12 AS DOUBLE)
                                  / 1000000000000.0
                                  - 1.0 / (n_tot - k))
                                 / (3.0 * (k - 1)))) END, 6) AS bartlett_t
FROM gl
"""


@register(
    "ml_bartlett_test",
    oracle=_ORACLE_BARTLETT,
    tags=("ml", "stats"),
    doc=(
        "Bartlett's variance-homogeneity test across event types on the "
        "cents values: each group's (n_i - 1) S_i^2 is the exact "
        "e0-rounded integer (nQ - S^2)/n, its (n_i - 1) ln S_i^2 term is "
        "e9-FIXED before the cross-group sum, the Bartlett correction's "
        "1/(n_i - 1) reciprocals are e12-fixed, and T is the single "
        "final float.  The PARAMETRIC sibling of ml_brown_forsythe "
        "(which is robust to non-normality where Bartlett is sharp "
        "under it) — reporting both is the standard pre-ANOVA variance "
        "check.  One grouped integer aggregate + one k-row fold."
    ),
)
def ml_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    x = ev.where(F.col("value").isNotNull()).select(
        F.col("event_type").alias("g"),
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )
    grp = x.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("q"),
    )
    ss_i = F.round(
        (F.col("n").cast("double") * F.col("q") - F.col("s").cast("double") * F.col("s"))
        / F.col("n")
    ).cast("bigint")
    lnterm_e9 = F.round(
        1000000000.0
        * (F.col("n") - 1)
        * F.log(
            (
                F.col("n").cast("double") * F.col("q")
                - F.col("s").cast("double") * F.col("s")
            )
            / F.col("n")
            / (F.col("n") - 1)
        )
    ).cast("bigint")
    inv_e12 = F.round(1000000000000.0 / (F.col("n") - 1)).cast("bigint")
    terms = grp.where(F.col("n") >= 2).select(
        "n",
        ss_i.alias("ss_i"),
        lnterm_e9.alias("lnterm_e9"),
        inv_e12.alias("inv_e12"),
    )
    gl = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("n_tot"),
        F.sum("ss_i").cast("bigint").alias("ss_w"),
        F.sum("lnterm_e9").cast("bigint").alias("sum_ln_e9"),
        F.sum("inv_e12").cast("bigint").alias("sum_inv_e12"),
    )
    t = F.when(
        (F.col("k") <= 1) | (F.col("n_tot") <= F.col("k")) | (F.col("ss_w") <= 0),
        F.lit(0.0),
    ).otherwise(
        (
            (F.col("n_tot") - F.col("k")).cast("double")
            * F.log(F.col("ss_w").cast("double") / (F.col("n_tot") - F.col("k")))
            - F.col("sum_ln_e9").cast("double") / 1000000000.0
        )
        / (
            1.0
            + (
                F.col("sum_inv_e12").cast("double") / 1000000000000.0
                - 1.0 / (F.col("n_tot") - F.col("k"))
            )
            / (3.0 * (F.col("k") - 1))
        )
    )
    return gl.select(
        "k",
        "n_tot",
        "ss_w",
        "sum_ln_e9",
        "sum_inv_e12",
        F.round(t, 6).alias("bartlett_t"),
    )


# ---------------------------------------------------------------------------
# Theil inequality indices
# ---------------------------------------------------------------------------

_ORACLE_THEIL_INDEX = """
WITH x AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v
  FROM orders WHERE o_totalprice > 0
),
d AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM x GROUP BY v),
n AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(SUM(v * c) AS BIGINT) AS s
  FROM d
),
terms AS (
  SELECT CAST(round(1000000.0 * c * (CAST(v AS DOUBLE) * n.n / n.s)
                    * ln(CAST(v AS DOUBLE) * n.n / n.s)) AS BIGINT) AS t_e6,
         CAST(round(1000000.0 * c
                    * ln(CAST(n.s AS DOUBLE) / (CAST(v AS DOUBLE) * n.n)))
              AS BIGINT) AS l_e6
  FROM d, n
)
SELECT n.n, n.s,
       CAST((SELECT SUM(t_e6) FROM terms) AS BIGINT) AS theil_t_sum_e6,
       CAST((SELECT SUM(l_e6) FROM terms) AS BIGINT) AS theil_l_sum_e6,
       round(CAST((SELECT SUM(t_e6) FROM terms) AS DOUBLE)
             / 1000000.0 / n.n, 6) AS theil_t,
       round(CAST((SELECT SUM(l_e6) FROM terms) AS DOUBLE)
             / 1000000.0 / n.n, 6) AS theil_l
FROM n
"""


@register(
    "agg_theil_index",
    oracle=_ORACLE_THEIL_INDEX,
    tags=("agg", "analytics"),
    doc=(
        "Theil T and mean-log-deviation (Theil L / GE(0)) inequality of "
        "order totals: both evaluated on the DISTINCT-CENT value spine "
        "(per-bucket term = count x the bucket's (v/mu) ln(v/mu) or "
        "ln(mu/v), each e6-FIXED before the cross-bucket sum), with the "
        "corpus totals one scalar aggregate.  The two DECOMPOSABLE "
        "entropy members that complete the inequality suite — unlike "
        "Gini, Theil splits exactly into within-group + between-group "
        "parts, which is why concentration audits want it.  Scale: the "
        "quantize-then-spine contract (state bounded by the cent "
        "vocabulary)."
    ),
)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    orders = load_table(spark, sf_dir, "orders")
    x = orders.where(F.col("o_totalprice") > 0).select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v")
    )
    d = x.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    n = d.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("v") * F.col("c")).cast("bigint").alias("s"),
    )
    ratio = F.col("v").cast("double") * F.col("n") / F.col("s")
    t_e6 = F.round(1000000.0 * F.col("c") * ratio * F.log(ratio)).cast("bigint")
    l_e6 = F.round(
        1000000.0
        * F.col("c")
        * F.log(F.col("s").cast("double") / (F.col("v").cast("double") * F.col("n")))
    ).cast("bigint")
    sums = (
        d.join(F.broadcast(n), F.lit(True), "left")
        .select(t_e6.alias("t_e6"), l_e6.alias("l_e6"))
        .agg(
            F.sum("t_e6").cast("bigint").alias("theil_t_sum_e6"),
            F.sum("l_e6").cast("bigint").alias("theil_l_sum_e6"),
        )
    )
    return n.join(F.broadcast(sums), F.lit(True), "left").select(
        "n",
        "s",
        "theil_t_sum_e6",
        "theil_l_sum_e6",
        F.round(
            F.col("theil_t_sum_e6").cast("double") / 1000000.0 / F.col("n"), 6
        ).alias("theil_t"),
        F.round(
            F.col("theil_l_sum_e6").cast("double") / 1000000.0 / F.col("n"), 6
        ).alias("theil_l"),
    )


# ---------------------------------------------------------------------------
# Quadratically-weighted Cohen's kappa
# ---------------------------------------------------------------------------

_WK_NOISE_SQL = (
    "((('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 1000)"
    " / 999.0)"
)
_WK_BUCKET = (
    "CASE WHEN {v} <= 10 THEN 0 WHEN {v} <= 25 THEN 1 WHEN {v} <= 50 THEN 2 "
    "WHEN {v} <= 100 THEN 3 ELSE 4 END"
)

_ORACLE_WEIGHTED_KAPPA = f"""
WITH rated AS (
  SELECT {_WK_BUCKET.format(v="value")} AS a,
         {_WK_BUCKET.format(v=f"(value + 30.0 * {_WK_NOISE_SQL} - 15.0)")} AS b
  FROM events WHERE value IS NOT NULL
),
o AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c FROM rated GROUP BY a, b
),
ra AS (SELECT a, CAST(SUM(c) AS BIGINT) AS r FROM o GROUP BY a),
cb AS (SELECT b, CAST(SUM(c) AS BIGINT) AS m FROM o GROUP BY b),
n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM o),
sums AS (
  SELECT CAST(SUM((o.a - o.b) * (o.a - o.b) * o.c) AS BIGINT) AS num,
         CAST((SELECT SUM((ra.a - cb.b) * (ra.a - cb.b) * ra.r * cb.m)
               FROM ra, cb) AS BIGINT) AS den
  FROM o
)
SELECT n.n, sums.num, sums.den,
       round(CASE WHEN sums.den = 0 THEN 0.0
                  ELSE 1.0 - CAST(sums.num AS DOUBLE) * n.n / sums.den END,
             6) AS kappa_w
FROM n, sums
"""


@register(
    "ml_cohen_kappa_weighted",
    oracle=_ORACLE_WEIGHTED_KAPPA,
    tags=("ml", "eval"),
    doc=(
        "Quadratically-weighted Cohen's kappa between two deterministic "
        "5-category ORDINAL raters (fixed value thresholds vs the "
        "md5-noise-shifted rating of the same events): the observed "
        "disagreement num = sum (i-j)^2 O_ij and the chance-expected "
        "den = sum (i-j)^2 r_i c_j are both exact BIGINTs over the "
        "25-cell confusion grid, and kappa_w = 1 - n*num/den is the one "
        "final float.  The ordinal-severity agreement measure (near-"
        "misses cost little, far misses cost quadratically) the binary "
        "ml_cohens_kappa can't express — the standard metric for graded "
        "label-quality audits.  One conditional-aggregate scan + "
        "grid-bounded folds."
    ),
)
def ml_cohen_kappa_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    noise = (
        md5_u32(F.col("event_id").cast("string"))
        % 1000
    ) / F.lit(999.0)

    def bucket(v: F.Column) -> F.Column:
        return (
            F.when(v <= 10, 0)
            .when(v <= 25, 1)
            .when(v <= 50, 2)
            .when(v <= 100, 3)
            .otherwise(4)
        )

    rated = ev.where(F.col("value").isNotNull()).select(
        bucket(F.col("value")).alias("a"),
        bucket(F.col("value") + 30.0 * noise - 15.0).alias("b"),
    )
    o = rated.groupBy("a", "b").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    ra = o.groupBy("a").agg(F.sum("c").cast("bigint").alias("r"))
    cb = o.groupBy("b").agg(F.sum("c").cast("bigint").alias("m"))
    n = o.agg(F.sum("c").cast("bigint").alias("n"))
    num = o.agg(
        F.sum((F.col("a") - F.col("b")) * (F.col("a") - F.col("b")) * F.col("c"))
        .cast("bigint")
        .alias("num")
    )
    den = (
        ra.crossJoin(F.broadcast(cb))
        .agg(
            F.sum(
                (F.col("a") - F.col("b"))
                * (F.col("a") - F.col("b"))
                * F.col("r")
                * F.col("m")
            )
            .cast("bigint")
            .alias("den")
        )
    )
    out = (
        n.join(F.broadcast(num), F.lit(True), "left")
        .join(F.broadcast(den), F.lit(True), "left")
    )
    kappa_w = F.when(F.col("den") == 0, F.lit(0.0)).otherwise(
        1.0 - F.col("num").cast("double") * F.col("n") / F.col("den")
    )
    return out.select("n", "num", "den", F.round(kappa_w, 6).alias("kappa_w"))


# ---------------------------------------------------------------------------
# Jarque-Bera normality test
# ---------------------------------------------------------------------------

_ORACLE_JB = """
WITH x AS (
  SELECT CAST(round(value) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL
),
d AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM x GROUP BY v),
m AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(c * v) AS BIGINT) AS s1,
         CAST(SUM(c * v * v) AS BIGINT) AS s2,
         CAST(SUM(c * v * v * v) AS BIGINT) AS s3,
         CAST(SUM(c * v * v * v * v) AS BIGINT) AS s4
  FROM d
)
SELECT n, s1, s2, s3, s4,
       round(CASE WHEN n * s2 - s1 * s1 <= 0 THEN 0.0
                  ELSE (CAST(n AS DOUBLE) * n * s3
                        - 3.0 * n * s1 * s2
                        + 2.0 * CAST(s1 AS DOUBLE) * s1 * s1)
                       / n / n / n
                       / power((CAST(n AS DOUBLE) * s2
                                - CAST(s1 AS DOUBLE) * s1) / n / n,
                               1.5) END, 6) AS skewness,
       round(CASE WHEN n * s2 - s1 * s1 <= 0 THEN 0.0
                  ELSE (CAST(n AS DOUBLE) * n * n * s4
                        - 4.0 * n * n * s1 * s3
                        + 6.0 * CAST(n AS DOUBLE) * s1 * s1 * s2
                        - 3.0 * CAST(s1 AS DOUBLE) * s1 * s1 * s1)
                       / n / n / n / n
                       / power((CAST(n AS DOUBLE) * s2
                                - CAST(s1 AS DOUBLE) * s1) / n / n, 2.0)
                       - 3.0 END, 6) AS ex_kurtosis,
       round(CASE WHEN n * s2 - s1 * s1 <= 0 THEN 0.0
                  ELSE CAST(n AS DOUBLE) / 6.0
                       * (power((CAST(n AS DOUBLE) * n * s3
                                 - 3.0 * n * s1 * s2
                                 + 2.0 * CAST(s1 AS DOUBLE) * s1 * s1)
                                / n / n / n
                                / power((CAST(n AS DOUBLE) * s2
                                         - CAST(s1 AS DOUBLE) * s1) / n / n,
                                        1.5), 2.0)
                          + power((CAST(n AS DOUBLE) * n * n * s4
                                   - 4.0 * n * n * s1 * s3
                                   + 6.0 * CAST(n AS DOUBLE) * s1 * s1 * s2
                                   - 3.0 * CAST(s1 AS DOUBLE) * s1 * s1 * s1)
                                  / n / n / n / n
                                  / power((CAST(n AS DOUBLE) * s2
                                           - CAST(s1 AS DOUBLE) * s1)
                                          / n / n, 2.0)
                                  - 3.0, 2.0) / 4.0) END, 6) AS jb_stat
FROM m
"""


@register(
    "ml_jarque_bera",
    oracle=_ORACLE_JB,
    tags=("ml", "stats"),
    doc=(
        "Jarque-Bera normality test on the unit-bucketed values: the "
        "four power sums S1..S4 are exact BIGINTs accumulated on the "
        "distinct-value spine (c * v^k per bucket; |v| <= ~500 at the "
        "fixture keeps c*v^4 far inside BIGINT — headroom documented: "
        "at 1e9 rows of |v| <= 1e3 the S4 sum reaches ~1e21, so a 100 TB "
        "deployment shifts S3/S4 to DOUBLE the way ml_grubbs_test's "
        "nQ-S^2 product already does), and skewness / excess kurtosis / "
        "JB = n/6 (g1^2 + g2^2/4) are each ONE float expression from "
        "those integers — identical text in both engines.  The "
        "is-it-even-normal gate in front of the repo's parametric tests "
        "(Bartlett, ANOVA, Welch)."
    ),
)
def ml_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    x = ev.where(F.col("value").isNotNull()).select(
        F.round("value").cast("bigint").alias("v")
    )
    d = x.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    m = d.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("c") * F.col("v")).cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("v") * F.col("v")).cast("bigint").alias("s2"),
        F.sum(F.col("c") * F.col("v") * F.col("v") * F.col("v"))
        .cast("bigint")
        .alias("s3"),
        F.sum(F.col("c") * F.col("v") * F.col("v") * F.col("v") * F.col("v"))
        .cast("bigint")
        .alias("s4"),
    )
    var = (
        F.col("n").cast("double") * F.col("s2")
        - F.col("s1").cast("double") * F.col("s1")
    ) / F.col("n") / F.col("n")
    g1 = (
        (
            F.col("n").cast("double") * F.col("n") * F.col("s3")
            - 3.0 * F.col("n") * F.col("s1") * F.col("s2")
            + 2.0 * F.col("s1").cast("double") * F.col("s1") * F.col("s1")
        )
        / F.col("n")
        / F.col("n")
        / F.col("n")
        / F.pow(var, F.lit(1.5))
    )
    g2 = (
        (
            F.col("n").cast("double") * F.col("n") * F.col("n") * F.col("s4")
            - 4.0 * F.col("n") * F.col("n") * F.col("s1") * F.col("s3")
            + 6.0 * F.col("n").cast("double") * F.col("s1") * F.col("s1") * F.col("s2")
            - 3.0
            * F.col("s1").cast("double")
            * F.col("s1")
            * F.col("s1")
            * F.col("s1")
        )
        / F.col("n")
        / F.col("n")
        / F.col("n")
        / F.col("n")
        / F.pow(var, F.lit(2.0))
        - 3.0
    )
    degen = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1") <= 0
    jb = F.col("n").cast("double") / 6.0 * (
        F.pow(g1, F.lit(2.0)) + F.pow(g2, F.lit(2.0)) / 4.0
    )
    return m.select(
        "n",
        "s1",
        "s2",
        "s3",
        "s4",
        F.round(F.when(degen, F.lit(0.0)).otherwise(g1), 6).alias("skewness"),
        F.round(F.when(degen, F.lit(0.0)).otherwise(g2), 6).alias("ex_kurtosis"),
        F.round(F.when(degen, F.lit(0.0)).otherwise(jb), 6).alias("jb_stat"),
    )


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction
# ---------------------------------------------------------------------------

_AA_MIN_COMMON = 3
_AA_TOPK = 50

_ORACLE_ADAMIC_ADAR = f"""
WITH cp AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
dp AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS d FROM cp GROUP BY p),
w AS (
  -- per-part inverse-log-degree weight, e9-fixed (d >= 2 for any pair)
  SELECT p, CAST(round(1000000000.0 / ln(CAST(d AS DOUBLE))) AS BIGINT)
           AS w_e9
  FROM dp WHERE d >= 2
),
pairs AS (
  SELECT a.c AS cust_a, b.c AS cust_b,
         CAST(COUNT(*) AS BIGINT) AS common_parts,
         CAST(SUM(w.w_e9) AS BIGINT) AS aa_e9
  FROM cp a JOIN cp b ON a.p = b.p AND a.c < b.c
  JOIN w ON w.p = a.p
  GROUP BY a.c, b.c
  HAVING COUNT(*) >= {_AA_MIN_COMMON}
)
SELECT cust_a, cust_b, common_parts, aa_e9
FROM pairs
ORDER BY aa_e9 DESC, cust_a, cust_b
LIMIT {_AA_TOPK}
"""


@register(
    "graph_adamic_adar",
    oracle=_ORACLE_ADAMIC_ADAR,
    tags=("graph", "similarity", "analytics"),
    doc=(
        "Adamic-Adar link prediction on the co-purchase graph: customer "
        "pairs scored by the sum of 1/ln(degree) over their SHARED parts "
        "— rare co-purchased parts count more than bestsellers, the "
        "refinement that makes AA beat raw common-neighbor counts.  "
        "Per-part weights are e9-FIXED integers (one weight per part, "
        "broadcast-joined into the posting self-join), so every pair "
        "score is an exact BIGINT sum; min-support 3, top-50 by "
        "(aa_e9, pair) is TakeOrderedAndProject.  Same posting-join "
        "scale story as graph_link_prediction: pair work bounded per "
        "part by its customer count, hot parts get the df-cap/salting "
        "treatment at 100 TB."
    ),
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    cp = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    dp = cp.groupBy("p").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    w = dp.where(F.col("d") >= 2).select(
        "p",
        F.round(1000000000.0 / F.log(F.col("d").cast("double")))
        .cast("bigint")
        .alias("w_e9"),
    )
    a = cp.select(F.col("c").alias("cust_a"), "p")
    b = cp.select(F.col("c").alias("cust_b"), "p")
    pairs = (
        a.join(b, ["p"])
        .where(F.col("cust_a") < F.col("cust_b"))
        .join(F.broadcast(w), "p")
        .groupBy("cust_a", "cust_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("common_parts"),
            F.sum("w_e9").cast("bigint").alias("aa_e9"),
        )
        .where(F.col("common_parts") >= _AA_MIN_COMMON)
    )
    return pairs.orderBy(
        F.col("aa_e9").desc(), "cust_a", "cust_b"
    ).limit(_AA_TOPK)
