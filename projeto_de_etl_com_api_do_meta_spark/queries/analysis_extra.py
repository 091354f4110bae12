"""Additional analysis operators: information-theoretic text quality, URL
parsing, time-series anomaly flags, and word-association (PMI) mining.

All four are standard LLM-training-pipeline / product-analytics operators
that the reference's pandas ETL could not express but a user of this engine
needs at corpus scale (SURVEY.md scope note; north-star extensions):

- ``text_word_entropy``: Shannon entropy of each document's unigram
  distribution — the classic "gibberish / boilerplate" quality signal next
  to the dup-word fraction in ``text_repetition_quality``.
- ``fn_url_family``: parse_url (HOST / PATH / QUERY / single query param)
  — domain extraction is the first step of URL-level dedup and source
  filtering in web-corpus pipelines. The fixture tables hold no URLs, so
  the query synthesizes deterministic URLs from ``part`` columns and both
  engines parse the identical strings (same pattern as ``text_scrub_pii``,
  which injects synthetic PII: the operator does real parsing work on every
  row and the oracle value-verifies semantics, not just plumbing).
- ``events_daily_anomaly``: trailing-window z-score flags on the daily
  event-count series — the monitoring query a production ETL (reference
  README.md:115-127's daily Jenkins cron) would alert on.
- ``corpus_pmi_bigrams``: pointwise mutual information of adjacent word
  pairs — collocation mining over the corpus, sharing the tokenization
  contract of ``corpus_top_bigrams``.

Cross-engine float policy (same as text_cleaning.py): emit real-valued
scores as basis points via ``floor(10000 * x)``. Inputs to every division /
``ln`` are exact integers on both engines, expression trees are written
identically on both sides, and ``floor`` has no tie-breaking mode — the
residual risk is an ulp-level disagreement landing exactly on a floor
boundary, which at these magnitudes is ~1e-10 per row (and TF-IDF's
``round(ln(...), 6)`` oracle has been stable under the same assumption).

Scale notes:
- entropy is per-row higher-order-function work inside whole-stage codegen
  — no UDF, no shuffle. The per-row cost is O(distinct_tokens x doc_len);
  for documents with huge vocabularies the explode + two-level aggregate
  shape (as in the oracle SQL) shuffles but bounds per-row cost — both
  shapes are linear scans at 100 TB, this one avoids the shuffle entirely.
- URL parsing is pure codegen string work.
- the anomaly query pre-aggregates 100 TB of events down to a
  (day x event_type) series before any window runs, and the window is
  partitioned by event_type — no single-partition global sort.
- PMI is three hash aggregates over the token/bigram streams plus two
  small broadcast-joined scalar totals; the unigram side is broadcast
  (vocabulary << corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.dedup import spread
from ..operators.text import md5_u32
from ..session import pin_query_session_conf
from .registry import register

# ---------------------------------------------------------------------------
# Per-document unigram Shannon entropy (nats, floored to basis points).
# ---------------------------------------------------------------------------

_ORACLE_ENTROPY = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
  FROM documents
  WHERE length(trim(text)) > 0
),
cnt AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS c
  FROM toks GROUP BY doc_id, tok
),
tot AS (
  SELECT doc_id, SUM(c) AS n FROM cnt GROUP BY doc_id
)
SELECT c.doc_id,
       CAST(t.n AS BIGINT) AS n_toks,
       CAST(FLOOR(10000 * SUM(-(c.c / t.n) * ln(c.c / t.n))) AS BIGINT)
         AS entropy_bps
FROM cnt c JOIN tot t USING (doc_id)
GROUP BY c.doc_id, t.n
"""


@register(
    "text_word_entropy",
    oracle=_ORACLE_ENTROPY,
    tags=("text", "quality", "north-star"),
    doc=(
        "Unigram Shannon entropy per document (word-distribution "
        "gibberish/boilerplate signal) — computed shuffle-free with "
        "array higher-order functions — JVM expressions, no Python."
    ),
)
def text_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim(F.col("text"))) > 0
    )
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    # -sum over distinct tokens of p*ln(p); fold order pinned by array_sort.
    ent = F.expr(
        """
        aggregate(
          transform(array_sort(array_distinct(toks)),
                    d -> CAST(size(filter(toks, t -> t = d)) AS DOUBLE)),
          CAST(0 AS DOUBLE),
          (acc, c) -> acc - (c / CAST(n_toks AS DOUBLE))
                            * ln(c / CAST(n_toks AS DOUBLE)))
        """
    )
    return (
        docs.select("doc_id", toks.alias("toks"))
        .withColumn("n_toks", F.size("toks"))
        .select(
            "doc_id",
            F.col("n_toks").cast("long").alias("n_toks"),
            F.floor(F.lit(10000) * ent).cast("long").alias("entropy_bps"),
        )
    )


# ---------------------------------------------------------------------------
# URL parsing family (parse_url vs regex oracle on identical synthetic URLs).
# ---------------------------------------------------------------------------

_ORACLE_URL = r"""
WITH u AS (
  SELECT p_partkey,
         'https://' || lower(regexp_replace(p_brand, '[^A-Za-z0-9]', '', 'g'))
           || '.example.com/parts/' || CAST(p_partkey AS VARCHAR)
           || '?q=' || replace(p_type, ' ', '+')
           || '&size=' || CAST(p_size AS VARCHAR) AS url
  FROM part
  WHERE p_partkey <= 400
)
SELECT p_partkey,
       url,
       regexp_extract(url, '^https://([^/]+)', 1) AS url_host,
       regexp_extract(url, '^https://[^/]+([^?]*)', 1) AS url_path,
       regexp_extract(url, '\?(.*)$', 1) AS url_query,
       regexp_extract(url, '[?&]size=([^&]*)', 1) AS size_param
FROM u
"""


@register(
    "fn_url_family",
    oracle=_ORACLE_URL,
    tags=("functions", "url", "north-star"),
    doc=(
        "parse_url family (HOST/PATH/QUERY/param) over deterministic "
        "synthetic URLs — the domain-extraction primitive for URL-level "
        "dedup and source filtering in web-corpus pipelines."
    ),
)
def fn_url_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    part = load_table(spark, sf_dir, "part").where(F.col("p_partkey") <= 400)
    url = F.concat(
        F.lit("https://"),
        F.lower(F.regexp_replace(F.col("p_brand"), "[^A-Za-z0-9]", "")),
        F.lit(".example.com/parts/"),
        F.col("p_partkey").cast("string"),
        F.lit("?q="),
        F.regexp_replace(F.col("p_type"), " ", "+"),
        F.lit("&size="),
        F.col("p_size").cast("string"),
    )
    return part.withColumn("url", url).select(
        "p_partkey",
        "url",
        F.parse_url(F.col("url"), F.lit("HOST")).alias("url_host"),
        F.parse_url(F.col("url"), F.lit("PATH")).alias("url_path"),
        F.parse_url(F.col("url"), F.lit("QUERY")).alias("url_query"),
        F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("size")).alias("size_param"),
    )


# ---------------------------------------------------------------------------
# Trailing-window z-score anomaly flags on the daily event series.
# ---------------------------------------------------------------------------

_ORACLE_ANOMALY = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         event_type,
         COUNT(*) AS n
  FROM events
  GROUP BY 1, 2
),
scored AS (
  SELECT day, event_type, n,
         AVG(CAST(n AS DOUBLE)) OVER w AS mean_n,
         STDDEV_SAMP(CAST(n AS DOUBLE)) OVER w AS std_n
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT day, event_type, n,
       CASE WHEN std_n > 0
            THEN CAST(FLOOR(100 * (CAST(n AS DOUBLE) - mean_n) / std_n) AS BIGINT)
       END AS z_centi,
       CAST(CASE WHEN std_n > 0
                  AND abs(CAST(n AS DOUBLE) - mean_n) > 3 * std_n
                 THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
FROM scored
"""


@register(
    "events_daily_anomaly",
    oracle=_ORACLE_ANOMALY,
    tags=("events", "window", "monitoring"),
    doc=(
        "Trailing 7-day z-score anomaly flags per event type — the "
        "monitoring query over the daily series a production cron "
        "(reference README.md:115-127) would alert on. Pre-aggregates to "
        "(day x type) before any window; window partitioned by type."
    ),
)
def events_daily_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    nd = F.col("n").cast("double")
    mean_n = F.avg(nd).over(w)
    std_n = F.stddev_samp(nd).over(w)
    return daily.select(
        "day",
        "event_type",
        "n",
        F.when(std_n > 0, F.floor(F.lit(100) * (nd - mean_n) / std_n))
        .cast("long")
        .alias("z_centi"),
        F.when((std_n > 0) & (F.abs(nd - mean_n) > 3 * std_n), 1)
        .otherwise(0)
        .cast("long")
        .alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# PMI collocations over adjacent word pairs (shared tokenization contract
# with corpus_top_bigrams).
# ---------------------------------------------------------------------------

_ORACLE_PMI = r"""
WITH toks AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents
  WHERE length(trim(text)) > 0
),
uni AS (
  SELECT u.tok, COUNT(*) AS c
  FROM toks, unnest(t) AS u(tok)
  GROUP BY u.tok
),
big AS (
  SELECT t[CAST(u.i AS INT)] AS w1, t[CAST(u.i AS INT) + 1] AS w2,
         COUNT(*) AS c_ab
  FROM toks, unnest(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
  GROUP BY 1, 2
),
tot AS (
  SELECT (SELECT SUM(c) FROM uni) AS n_uni,
         (SELECT SUM(c_ab) FROM big) AS n_big
)
SELECT b.w1, b.w2, b.c_ab,
       CAST(FLOOR(10000 * ln(
         (CAST(b.c_ab AS DOUBLE) * CAST(t.n_uni AS DOUBLE)
            * CAST(t.n_uni AS DOUBLE))
         / (CAST(t.n_big AS DOUBLE) * CAST(u1.c AS DOUBLE)
            * CAST(u2.c AS DOUBLE)))) AS BIGINT) AS pmi_bps
FROM big b
JOIN uni u1 ON b.w1 = u1.tok
JOIN uni u2 ON b.w2 = u2.tok
CROSS JOIN tot t
WHERE b.c_ab >= 5
"""


@register(
    "corpus_pmi_bigrams",
    oracle=_ORACLE_PMI,
    tags=("text", "training", "north-star"),
    doc=(
        "Pointwise mutual information of adjacent word pairs (collocation "
        "mining). Bigram/unigram counts are hash aggregates; the unigram "
        "vocabulary is broadcast onto the bigram stream; corpus totals "
        "ride in as a broadcast scalar."
    ),
)
def corpus_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim(F.col("text"))) > 0
    )
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    tok_df = docs.select(toks.alias("toks"))

    uni = (
        tok_df.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    big = (
        tok_df.where(F.size("toks") >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("toks"), 1, F.size("toks") - 1).alias("w1"),
                    F.slice(F.col("toks"), 2, F.size("toks") - 1).alias("w2"),
                )
            ).alias("p")
        )
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= 5)
    )
    tot = uni.agg(F.sum("c").alias("n_uni")).crossJoin(
        tok_df.where(F.size("toks") >= 2)
        .select((F.size("toks") - 1).alias("nb"))
        .agg(F.sum("nb").alias("n_big"))
    )
    # Expression tree written identically to the oracle so the double ops
    # are bit-for-bit the same before floor().
    pmi = F.floor(
        F.lit(10000)
        * F.log(
            (
                F.col("c_ab").cast("double")
                * F.col("n_uni").cast("double")
                * F.col("n_uni").cast("double")
            )
            / (
                F.col("n_big").cast("double")
                * F.col("c1").cast("double")
                * F.col("c2").cast("double")
            )
        )
    ).cast("long")
    return (
        big.join(F.broadcast(uni.withColumnRenamed("c", "c1")), big.w1 == F.col("tok"))
        .drop("tok")
        .join(
            F.broadcast(
                uni.withColumnRenamed("c", "c2").withColumnRenamed("tok", "tok2")
            ),
            F.col("w2") == F.col("tok2"),
        )
        .drop("tok2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "c_ab", pmi.alias("pmi_bps"))
    )


# -- Count-min sketch (mergeable frequency sketch, fully relational) -----------

_CMS_D = 4  # hash rows
_CMS_W = 256  # buckets per row

_ORACLE_CMS = rf"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
  FROM documents
),
hashed AS (
  SELECT tok, r.d,
         ((CAST(('0x' || substr(md5(CAST(r.d AS VARCHAR) || ':' || tok), 1, 8))
                AS BIGINT) % {_CMS_W}) + {_CMS_W}) % {_CMS_W} AS bucket
  FROM toks, unnest(range(0, {_CMS_D})) AS r(d)
),
sketch AS (
  SELECT d, bucket, COUNT(*) AS cell
  FROM hashed GROUP BY 1, 2
),
truth AS (
  SELECT tok, COUNT(*) AS true_count FROM toks GROUP BY tok
  ORDER BY true_count DESC, tok LIMIT 20
),
est AS (
  SELECT t.tok, t.true_count,
         MIN(s.cell) AS est_count
  FROM truth t,
       unnest(range(0, {_CMS_D})) AS r(d)
  JOIN sketch s
    ON s.d = r.d
   AND s.bucket = ((CAST(('0x' || substr(md5(CAST(r.d AS VARCHAR) || ':' || t.tok), 1, 8))
                         AS BIGINT) % {_CMS_W}) + {_CMS_W}) % {_CMS_W}
  GROUP BY t.tok, t.true_count
)
SELECT tok, CAST(true_count AS BIGINT) AS true_count,
       CAST(est_count AS BIGINT) AS est_count
FROM est
ORDER BY true_count DESC, tok
"""


@register(
    "corpus_countmin_sketch",
    oracle=_ORACLE_CMS,
    tags=("text", "sketch", "north-star"),
    doc=(
        f"Count-min sketch built fully relationally ({_CMS_D} md5 hash "
        f"rows x {_CMS_W} buckets, one hash aggregate — mergeable across "
        "partitions/batches by cell-wise addition like any sketch), then "
        "point queries for the 20 most frequent tokens: est = min over "
        "rows of the bucket cell, always >= truth (the one-sided CMS "
        "bound, pinned by test). md5 hash family makes the whole sketch "
        "bit-exact cross-engine."
    ),
)
def corpus_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = spread(docs, "doc_id")  # explicit width: see spread()
    toks = docs.select(
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok")
    )

    def bucket_expr(d_col, tok_col):
        h = md5_u32(F.concat_ws(":", d_col.cast("string"), tok_col))
        return ((h % _CMS_W) + _CMS_W) % _CMS_W

    hashed = toks.select(
        "tok", F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("d")
    ).withColumn("bucket", bucket_expr(F.col("d"), F.col("tok")))
    sketch = hashed.groupBy("d", "bucket").agg(
        F.count(F.lit(1)).alias("cell")
    )
    truth = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .orderBy(F.col("true_count").desc(), "tok")
        .limit(20)
    )
    probes = truth.select(
        "tok",
        "true_count",
        F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("d"),
    ).withColumn("bucket", bucket_expr(F.col("d"), F.col("tok")))
    est = (
        probes.join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("tok", "true_count")
        .agg(F.min("cell").alias("est_count"))
    )
    return est.select(
        "tok",
        F.col("true_count").cast("long").alias("true_count"),
        F.col("est_count").cast("long").alias("est_count"),
    ).orderBy(F.col("true_count").desc(), "tok")
