"""Round-11 batch 8: cardinality sketching, nonlinear dynamics, BWT.

* ``agg_hyperloglog_exact`` — HyperLogLog (Flajolet et al. 2007) with
  m=64 md5 registers whose internals are EXACT INTEGERS end-to-end:
  rho from bit-length arithmetic (bin()), registers as MAX aggregates,
  and the harmonic-mean denominator as the exact BIGINT
  sum(2^(32 - M_b)) — only the final alpha*m^2/Z estimate is one shared
  double expression.  Completes the cardinality-sketch family
  (KMV / AMS F2 / Misra-Gries / Count-Min).
* ``events_recurrence_quantification`` — recurrence-quantification
  analysis (Webber & Zbilut) of the daily count series: recurrence rate
  and determinism (fraction of recurrent pairs on diagonal line
  structures) from an integer eps-threshold recurrence matrix over the
  calendar-bounded day-pair spine.
* ``io_bwt_transform`` — Burrows-Wheeler transform of each document
  (capped panel) computed entirely in higher-order array functions
  (rotation build + sort + last-column join); the run-count drop
  (runs_before vs runs_after) is the compressibility gain BWT exists
  to create, and the md5 of the transform pins byte-exactness.
* ``events_markov_entropy_rate`` — the entropy rate
  H = -sum_i pi_i sum_j p_ij ln p_ij of the per-user event-type Markov
  chain, from the SAME Laplace-smoothed e12 integer matrix and
  16-iteration stationary fold as events_markov_stationary; the 25
  ln terms are summed in literal written order, so the one double
  readout is bit-identical across engines.

Reference scope: [EXT] SURVEY §6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..session import pin_query_session_conf
from .analytics_r11d import _MK_FOLD_DUCK, _MK_FOLD_SPARK, _mk_cell_sql, _mk_plist
from .registry import register

# ---------------------------------------------------------------------------
# HyperLogLog with exact integer registers
# ---------------------------------------------------------------------------

_HLL_M = 64  # 2^6 registers
_HLL_ALPHA = 0.709  # alpha_64

#: Shared hash text (the ``operators/text.py: md5_u32`` contract).
_HLL_H_SPARK = (
    "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), 16, 10)"
    " AS BIGINT)"
)
_HLL_H_DUCK = (
    "(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT)"
)

#: rho = leading zeros of the 26-bit remainder + 1; bin() exists in both.
_HLL_RHO = (
    "CASE WHEN w = 0 THEN 27 ELSE 27 - length(bin(w)) END"
)

_HLL_EST = (
    f"{_HLL_ALPHA} * {_HLL_M} * {_HLL_M} * 4294967296.0"
    " / CAST(z_num AS DOUBLE)"
)
#: Small-range (linear counting) correction, the canonical <= 2.5m branch.
_HLL_FINAL = (
    f"CASE WHEN ({_HLL_EST}) <= {2.5 * _HLL_M} AND v_zero > 0"
    f" THEN {_HLL_M} * ln(CAST({_HLL_M} AS DOUBLE) / v_zero)"
    f" ELSE ({_HLL_EST}) END"
)

_ORACLE_HLL = f"""
WITH hashed AS (
  SELECT {_HLL_H_DUCK} % {_HLL_M} AS bucket,
         {_HLL_H_DUCK} // {_HLL_M} AS w
  FROM events
),
rhos AS (
  SELECT bucket, MAX({_HLL_RHO}) AS m_b FROM hashed GROUP BY bucket
),
regs AS (
  SELECT b.b AS bucket, COALESCE(r.m_b, 0) AS m_b
  FROM (SELECT unnest(range({_HLL_M})) AS b) b
  LEFT JOIN rhos r ON r.bucket = b.b
),
s AS (
  SELECT CAST(SUM(CAST(2 AS BIGINT) ** (32 - m_b)) AS BIGINT) AS z_num,
         CAST(SUM(CASE WHEN m_b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero
  FROM regs
),
t AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS true_distinct
      FROM events)
SELECT {_HLL_M} AS m, v_zero, z_num, true_distinct,
       CAST(floor(({_HLL_FINAL}) * 10000.0 + 0.5) AS BIGINT) AS estimate_e4,
       CAST(floor(CASE WHEN true_distinct = 0 THEN 0.0
                       ELSE 1000000.0 * abs(({_HLL_FINAL})
                            - true_distinct) / true_distinct END + 0.5)
            AS BIGINT) AS rel_error_e6
FROM s CROSS JOIN t
"""


@register(
    "agg_hyperloglog_exact",
    oracle=_ORACLE_HLL,
    tags=("agg", "sketch", "scale-path"),
    doc=(
        f"HyperLogLog distinct-count sketch (Flajolet et al. 2007), "
        f"m={_HLL_M} registers over md5(user_id): bucket = h %% m, "
        "rho = leading zeros of the 26-bit remainder + 1 computed by "
        "bin() bit-length arithmetic, registers as one MAX hash "
        "aggregate — 64 BIGINTs of state at any volume, fully "
        "map-combinable (register merge = elementwise MAX, the property "
        "that makes HLL the industry-standard distributed distinct "
        "count).  The harmonic denominator sum(2^(32-M_b)) stays an "
        "exact BIGINT; the alpha*m^2/Z estimate (with the canonical "
        "linear-counting small-range branch) is one shared double "
        "expression floored at e4.  Beside the exact KMV sketch this "
        "gives the engine both distinct-count regimes: mergeable "
        "fixed-state (HLL) and order-statistic (KMV)."
    ),
)
def agg_hyperloglog_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events").select("user_id")
    hashed = ev.select(
        F.expr(f"{_HLL_H_SPARK} % {_HLL_M}").alias("bucket"),
        F.expr(f"{_HLL_H_SPARK} div {_HLL_M}").alias("w"),
    )
    rhos = hashed.groupBy("bucket").agg(F.expr(f"MAX({_HLL_RHO})").alias("m_b"))
    spine = spark.range(_HLL_M).select(F.col("id").cast("bigint").alias("b"))
    regs = (
        spine.join(rhos, spine.b == rhos.bucket, "left")
        .select("b", F.coalesce("m_b", F.lit(0)).alias("m_b"))
    )
    s = regs.agg(
        F.expr(
            "CAST(SUM(CAST(pow(2, 32 - m_b) AS BIGINT)) AS BIGINT)"
        ).alias("z_num"),
        F.expr(
            "CAST(SUM(CASE WHEN m_b = 0 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("v_zero"),
    )
    t = ev.agg(F.countDistinct("user_id").cast("bigint").alias("true_distinct"))
    return (
        s.crossJoin(F.broadcast(t))
        .select(
            F.lit(_HLL_M).cast("int").alias("m"),
            "v_zero",
            "z_num",
            "true_distinct",
            F.expr(
                f"CAST(floor(({_HLL_FINAL}) * 10000.0 + 0.5) AS BIGINT)"
            ).alias("estimate_e4"),
            F.expr(
                "CAST(floor(CASE WHEN true_distinct = 0 THEN 0.0"
                f" ELSE 1000000.0 * abs(({_HLL_FINAL})"
                " - true_distinct) / true_distinct END + 0.5) AS BIGINT)"
            ).alias("rel_error_e6"),
        )
    )


# ---------------------------------------------------------------------------
# Recurrence quantification analysis
# ---------------------------------------------------------------------------

_ORACLE_RQA = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY CAST(ts AS DATE)
),
idx AS (SELECT ROW_NUMBER() OVER (ORDER BY d) AS t, x FROM daily),
eps AS (
  SELECT CAST((MAX(x) - MIN(x)) // 10 AS BIGINT) AS e,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM idx
),
rec AS (
  SELECT a.t AS i, b.t AS j
  FROM idx a JOIN idx b ON b.t > a.t
  CROSS JOIN eps
  WHERE abs(a.x - b.x) <= eps.e
),
diag AS (
  SELECT r.i, r.j,
         CASE WHEN EXISTS (SELECT 1 FROM rec p
                           WHERE p.i = r.i - 1 AND p.j = r.j - 1)
                OR EXISTS (SELECT 1 FROM rec q
                           WHERE q.i = r.i + 1 AND q.j = r.j + 1)
              THEN 1 ELSE 0 END AS in_line
  FROM rec r
)
SELECT eps.n AS n_days, eps.e AS eps,
       CAST(COALESCE((SELECT COUNT(*) FROM rec), 0) AS BIGINT)
         AS n_recurrent,
       CAST(COALESCE((SELECT SUM(in_line) FROM diag), 0) AS BIGINT)
         AS n_in_lines,
       CAST(floor(CASE WHEN eps.n < 2 THEN 0.0
                  ELSE 2000000.0 * COALESCE((SELECT COUNT(*) FROM rec), 0)
                       / (eps.n * (eps.n - 1)) END + 0.5) AS BIGINT)
         AS rr_e6,
       CAST(floor(CASE WHEN COALESCE((SELECT COUNT(*) FROM rec), 0) = 0
                       THEN 0.0
                  ELSE 1000000.0 * COALESCE((SELECT SUM(in_line) FROM diag), 0)
                       / (SELECT COUNT(*) FROM rec) END + 0.5) AS BIGINT)
         AS det_e6
FROM eps
"""


@register(
    "events_recurrence_quantification",
    oracle=_ORACLE_RQA,
    tags=("events", "timeseries", "stats"),
    doc=(
        "Recurrence-quantification analysis (Webber & Zbilut) of the "
        "daily event-count series: a pair of days recurs when their "
        "counts differ by at most eps = range/10 (exact integers); the "
        "readout is the recurrence rate RR (recurrent pairs over "
        "C(n,2)) and determinism DET (fraction of recurrent pairs "
        "sitting on a diagonal line, i.e. whose predecessor or "
        "successor pair also recurs) — the nonlinear-dynamics signal "
        "that separates deterministic structure from noise where "
        "ACF/PACF only see linear dependence.  All pair work lives on "
        "the calendar-bounded day-pair spine; readouts are e6-floored "
        "integers."
    ),
)
def events_recurrence_quantification(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    idx = daily.select(
        F.row_number().over(Window.orderBy("d")).alias("t"), "x"
    )
    eps = idx.agg(
        F.expr("CAST((MAX(x) - MIN(x)) div 10 AS BIGINT)").alias("e"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    a = idx.select(F.col("t").alias("i"), F.col("x").alias("xi"))
    b = idx.select(F.col("t").alias("j"), F.col("x").alias("xj"))
    rec = (
        a.join(b, F.col("j") > F.col("i"))
        .crossJoin(F.broadcast(eps))
        .where(F.abs(F.col("xi") - F.col("xj")) <= F.col("e"))
        .select("i", "j")
        .localCheckpoint(eager=True)  # reused 3x; no persist leak
    )
    prev = rec.select(
        (F.col("i") + 1).alias("pi"), (F.col("j") + 1).alias("pj")
    )
    nxt = rec.select(
        (F.col("i") - 1).alias("ni"), (F.col("j") - 1).alias("nj")
    )
    diag = (
        rec.join(
            prev.withColumn("has_prev", F.lit(1)),
            (F.col("i") == F.col("pi")) & (F.col("j") == F.col("pj")),
            "left",
        )
        .join(
            nxt.withColumn("has_next", F.lit(1)),
            (F.col("i") == F.col("ni")) & (F.col("j") == F.col("nj")),
            "left",
        )
        .select(
            "i",
            "j",
            F.when(
                F.col("has_prev").isNotNull() | F.col("has_next").isNotNull(),
                1,
            )
            .otherwise(0)
            .alias("in_line"),
        )
    )
    stats = diag.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_recurrent"),
        F.coalesce(F.sum("in_line"), F.lit(0)).cast("bigint").alias(
            "n_in_lines"
        ),
    )
    return (
        eps.crossJoin(F.broadcast(stats))
        .select(
            F.col("n").alias("n_days"),
            F.col("e").alias("eps"),
            "n_recurrent",
            "n_in_lines",
            F.expr(
                "CAST(floor(CASE WHEN n < 2 THEN 0.0"
                " ELSE 2000000.0 * n_recurrent / (n * (n - 1)) END + 0.5)"
                " AS BIGINT)"
            ).alias("rr_e6"),
            F.expr(
                "CAST(floor(CASE WHEN n_recurrent = 0 THEN 0.0"
                " ELSE 1000000.0 * n_in_lines / n_recurrent END + 0.5)"
                " AS BIGINT)"
            ).alias("det_e6"),
        )
    )


# ---------------------------------------------------------------------------
# Burrows-Wheeler transform
# ---------------------------------------------------------------------------

_BWT_DOC_CAP = 20

#: runs(s): 1 + transitions, 0 for the empty string — shared shape.
_RUNS = (
    "CASE WHEN length({s}) = 0 THEN 0"
    " ELSE 1 + size(filter(sequence(2, greatest(length({s}), 2)), i ->"
    " i <= length({s}) AND substring({s}, i, 1) <>"
    " substring({s}, i - 1, 1))) END"
)
_RUNS_DUCK = (
    "CASE WHEN length({s}) = 0 THEN 0"
    " ELSE 1 + len(list_filter(range(2, length({s}) + 1), i ->"
    " substr({s}, i, 1) <> substr({s}, i - 1, 1))) END"
)

_ORACLE_BWT = f"""
WITH docs AS (
  SELECT doc_id, lower(text) AS text FROM documents
  WHERE doc_id < {_BWT_DOC_CAP}
),
bwtc AS (
  SELECT doc_id, text,
         array_to_string(
           list_transform(
             list_sort(list_transform(range(1, length(text) + 1), i ->
               substr(text, i) || substr(text, 1, i - 1))),
             r -> substr(r, length(r), 1)), '') AS bwt
  FROM docs
)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       md5(bwt) AS bwt_md5,
       CAST({_RUNS_DUCK.format(s="text")} AS BIGINT) AS runs_before,
       CAST({_RUNS_DUCK.format(s="bwt")} AS BIGINT) AS runs_after
FROM bwtc
ORDER BY doc_id
"""


@register(
    "io_bwt_transform",
    oracle=_ORACLE_BWT,
    tags=("io", "text", "codec"),
    doc=(
        f"Burrows-Wheeler transform of each document (panel: doc_id < "
        f"{_BWT_DOC_CAP}): all {128}-ish rotations built, sorted, and "
        "reduced to the last column ENTIRELY in higher-order array "
        "functions — JVM-side, no row explosion, embarrassingly "
        "parallel per document.  The md5 of the transform pins "
        "byte-exactness across engines (binary string sort order in "
        "both); runs_before vs runs_after measures the run-clustering "
        "the BWT exists to create (the preprocessing step of bzip2-"
        "family codecs, and the suffix-grain cousin of the CDC chunker "
        "one batch earlier)."
    ),
)
def io_bwt_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < _BWT_DOC_CAP)
        .select("doc_id", F.lower("text").alias("text"))
    )
    bwtc = docs.select(
        "doc_id",
        "text",
        F.expr(
            "array_join(transform(array_sort("
            "transform(sequence(1, greatest(length(text), 1)), i ->"
            " substring(text, i) || substring(text, 1, i - 1))),"
            " r -> substring(r, length(r), 1)), '')"
        ).alias("bwt"),
    )
    # Spark sequence(1, 1) on the empty string builds one rotation '' -> bwt
    # '' (matches DuckDB's empty range -> empty list -> '' join).
    bwtc = bwtc.withColumn(
        "bwt", F.when(F.length("text") == 0, F.lit("")).otherwise(F.col("bwt"))
    )
    return bwtc.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        F.md5("bwt").alias("bwt_md5"),
        F.expr(_RUNS.format(s="text")).cast("bigint").alias("runs_before"),
        F.expr(_RUNS.format(s="bwt")).cast("bigint").alias("runs_after"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Markov entropy rate
# ---------------------------------------------------------------------------

#: H = -sum_i pi_i * sum_j p_ij ln p_ij with the 25 terms written out in
#: literal order: pl is the e12 smoothed matrix, v the e6 stationary vector
#: (both exact integers from the shared r11d fold), so the single double
#: readout is a fixed-order sum of 25 identical expressions.
def _entropy_terms(idx) -> str:
    terms = []
    for i in range(1, 6):
        for j in range(1, 6):
            p = f"(CAST({idx('pl', (i - 1) * 5 + j)} AS DOUBLE) / 1000000000000.0)"
            pi = f"(CAST({idx('v', i)} AS DOUBLE) / 1000000.0)"
            terms.append(f"{pi} * {p} * ln({p})")
    return " + ".join(terms)


_ORACLE_ENTROPY = f"""
WITH seq AS (
  SELECT event_type AS cur,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev
  FROM events
),
cells AS (
  SELECT {", ".join(_mk_cell_sql(i, j) + f" AS c{i}{j}" for i in range(5) for j in range(5))}
  FROM seq WHERE prev IS NOT NULL
),
mat AS (
  SELECT {_mk_plist("[", "]", "//")} AS pl,
         {" + ".join(f"c{i}{k}" for i in range(5) for k in range(5))} AS n_trans
  FROM cells
),
folded AS (SELECT pl, n_trans, {_MK_FOLD_DUCK} AS v FROM mat)
SELECT CAST(n_trans AS BIGINT) AS n_transitions,
       CAST(floor(-({_entropy_terms(lambda a, k: f"{a}[{k}]")})
                  * 1000000.0 + 0.5) AS BIGINT) AS entropy_rate_nats_e6
FROM folded
"""


@register(
    "events_markov_entropy_rate",
    oracle=_ORACLE_ENTROPY,
    tags=("events", "ml", "analytics"),
    doc=(
        "Entropy rate H = -sum_i pi_i sum_j p_ij ln p_ij of the "
        "per-user event-type Markov chain — the bits-per-step "
        "unpredictability of user behavior, computed from the SAME "
        "Laplace-smoothed e12 integer transition matrix and 16-iteration "
        "integer stationary fold as events_markov_stationary (shared "
        "template code), so both inputs to the readout are bit-exact "
        "across engines; the 25 ln terms are summed in literal written "
        "order making the single double expression deterministic, then "
        "floored at e6.  25 cells + 5 vector entries of state at any "
        "event volume."
    ),
)
def events_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lag("event_type").over(w).alias("prev"),
    ).where(F.col("prev").isNotNull())
    cells = seq.agg(
        *[
            F.expr(_mk_cell_sql(i, j)).alias(f"c{i}{j}")
            for i in range(5)
            for j in range(5)
        ]
    )
    mat = cells.select(
        F.expr(_mk_plist("array(", ")", "div")).alias("pl"),
        F.expr(
            " + ".join(f"c{i}{k}" for i in range(5) for k in range(5))
        ).alias("n_trans"),
    )
    folded = mat.select("pl", "n_trans", F.expr(_MK_FOLD_SPARK).alias("v"))
    return folded.select(
        F.col("n_trans").cast("bigint").alias("n_transitions"),
        F.expr(
            f"CAST(floor(-({_entropy_terms(lambda a, k: f'element_at({a}, {k})')})"
            " * 1000000.0 + 0.5) AS BIGINT)"
        ).alias("entropy_rate_nats_e6"),
    )
