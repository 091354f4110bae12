"""Ranked retrieval and importance-based data selection.

Two operators a production pretraining pipeline runs between curation and
training:

* **BM25 ranked retrieval** (`corpus_bm25_search`): the lexical ranking
  function behind keyword search over a corpus — used both for serving
  search and for retrieval-based decontamination / nearest-neighbor text
  lookup.  Okapi BM25 with k1=1.2, b=0.75 (Robertson & Walker, SIGIR '94 —
  public literature).
* **DSIR importance selection** (`sample_dsir_importance`): Data Selection
  via Importance Resampling (Xie et al., NeurIPS 2023, arXiv:2302.03169 —
  public paper): fit hashed-unigram bag distributions on a small *target*
  corpus and on the *raw* pool, score every raw document by the
  log-likelihood ratio under the two distributions, and keep the raw
  documents that look most target-like.  The standard cheap alternative to
  model-based quality classifiers for domain-targeted pretraining mixes.

Cross-engine determinism: every floating-point score is computed by a
TEXTUALLY IDENTICAL arithmetic expression on both engines (same literal
constants, same association), then scaled to integer micro-units with
``floor(1e6 * x)`` *per term / per bucket* BEFORE any summation.  Sums are
therefore exact BIGINT arithmetic — no float-accumulation-order hazard — and
``floor`` avoids round()'s tie-breaking-mode differences.

Scale notes (100 TB): both operators reduce to (a) one or two scalar/tiny
aggregates broadcast into the plan (corpus size, average doc length, a
64-row log-ratio table) and (b) one token-explode feeding hash aggregates
keyed by (doc, term-or-bucket).  The explode never materializes corpus-wide
state; the only wide shuffles carry per-doc partial aggregates.  BM25's
query-term IN-list filter prunes at the scan, so only postings for the
query's terms ever shuffle.  Top-k is TakeOrderedAndProject — no global
sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.dedup import spread
from ..operators.text import md5_u32
from ..session import pin_query_session_conf
from .registry import register

# ---------------------------------------------------------------------------
# BM25 ranked retrieval
# ---------------------------------------------------------------------------

#: Conjunctive free-text query (mid-frequency corpus terms).
_BM25_TERMS = ("window", "merge", "stream")
_BM25_K1 = "1.2"
_BM25_K1P1 = "2.2"  # k1 + 1, pre-folded so both engines see one literal
_BM25_B = "0.75"
_BM25_TOPK = 10

#: Per-(doc, term) BM25 partial in integer micro-units.  The same text is
#: compiled by Spark SQL and DuckDB, so the double arithmetic agrees
#: bit-for-bit before the floor.
_BM25_TERM_MICRO = (
    "CAST(floor(1000000.0 * ("
    "ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))"
    f" * (tf * {_BM25_K1P1})"
    f" / (tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl))"
    ")) AS BIGINT)"
)

_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)

_ORACLE_BM25 = rf"""
WITH docs AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
),
lens AS (SELECT doc_id, len(toks) AS dl FROM docs),
stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM lens
),
tok AS (SELECT doc_id, unnest(toks) AS term FROM docs),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM tok WHERE term IN ({_BM25_TERMS_SQL})
  GROUP BY 1, 2
),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         {_BM25_TERM_MICRO} AS term_micro
  FROM tf
  JOIN df USING (term)
  JOIN lens ON lens.doc_id = tf.doc_id
  CROSS JOIN stats
),
ranked AS (
  SELECT doc_id, COUNT(*) AS n_terms,
         CAST(SUM(term_micro) AS BIGINT) AS bm25_micro
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_terms, bm25_micro FROM ranked
ORDER BY bm25_micro DESC, doc_id
LIMIT {_BM25_TOPK}
"""


@register(
    "corpus_bm25_search",
    oracle=_ORACLE_BM25,
    tags=("text", "corpus", "retrieval", "north-star"),
    doc=(
        "Okapi BM25 top-10 over the corpus for a 3-term query: doc lengths "
        "and corpus stats (N, avgdl) are one scalar aggregate broadcast "
        "into the plan; postings are pruned to the query terms AT THE "
        "EXPLODE (IN-list filter before any shuffle), then per-(doc,term) "
        "partials score via the classic k1=1.2/b=0.75 saturation formula "
        "and sum per doc. Scores are floored to integer micro-units per "
        "term before summing, so the cross-engine total is exact BIGINT "
        "math. Final top-k is TakeOrderedAndProject. At 100 TB: the only "
        "corpus-wide work is the length scan (one column) and the "
        "term-filtered explode; df/avgdl state is O(|query|) + O(1)."
    ),
)
def corpus_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = spread(docs, "doc_id")  # explicit width: see spread()
    toks = docs.select(
        "doc_id",
        F.split(F.trim(F.lower("text")), r"\s+").alias("toks"),
    )
    lens = toks.select("doc_id", F.size("toks").cast("long").alias("dl"))
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    tf = (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .where(F.col("term").isin(list(_BM25_TERMS)))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.expr(_BM25_TERM_MICRO).alias("term_micro"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("term_micro").alias("bm25_micro"),
        )
        .orderBy(F.col("bm25_micro").desc(), "doc_id")
        .limit(_BM25_TOPK)
    )


# ---------------------------------------------------------------------------
# DSIR importance selection
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 64
_DSIR_TOPK = 25
#: Deterministic proxy "target domain": every 17th document.
_DSIR_TARGET_MOD = 17

#: Laplace-smoothed log-likelihood ratio for one hashed feature bucket, in
#: integer micro-units (floored before any summation — see module docstring).
_DSIR_LR_MICRO = (
    "CAST(floor(1000000.0 * ("
    f"ln((ct + 1.0) / (tot_t + {_DSIR_BUCKETS}.0))"
    f" - ln((cr + 1.0) / (tot_r + {_DSIR_BUCKETS}.0))"
    ")) AS BIGINT)"
)

_DSIR_WEIGHTS_CTE = rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok,
         (doc_id % {_DSIR_TARGET_MOD} = 0) AS is_target
  FROM documents
),
hashed AS (
  SELECT doc_id, is_target,
         ((CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % {_DSIR_BUCKETS})
          + {_DSIR_BUCKETS}) % {_DSIR_BUCKETS} AS bucket
  FROM toks
),
spine AS (SELECT unnest(range({_DSIR_BUCKETS})) AS bucket),
tcounts AS (
  SELECT bucket, COUNT(*) AS ct FROM hashed WHERE is_target GROUP BY 1
),
rcounts AS (
  SELECT bucket, COUNT(*) AS cr FROM hashed WHERE NOT is_target GROUP BY 1
),
totals AS (
  SELECT SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS tot_t,
         SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS tot_r
  FROM hashed
),
lr AS (
  SELECT s.bucket, {_DSIR_LR_MICRO} AS lr_micro
  FROM (SELECT spine.bucket,
               COALESCE(tcounts.ct, 0) AS ct,
               COALESCE(rcounts.cr, 0) AS cr
        FROM spine
        LEFT JOIN tcounts ON spine.bucket = tcounts.bucket
        LEFT JOIN rcounts ON spine.bucket = rcounts.bucket) s
  CROSS JOIN totals
),
doc_tf AS (
  SELECT doc_id, bucket, COUNT(*) AS tf
  FROM hashed WHERE NOT is_target
  GROUP BY 1, 2
),
weighted AS (
  SELECT doc_tf.doc_id,
         CAST(SUM(doc_tf.tf) AS BIGINT) AS n_toks,
         CAST(SUM(doc_tf.tf * lr.lr_micro) AS BIGINT) AS weight_micro
  FROM doc_tf JOIN lr ON doc_tf.bucket = lr.bucket
  GROUP BY 1
)
"""

_ORACLE_DSIR = (
    _DSIR_WEIGHTS_CTE
    + f"""
SELECT doc_id, n_toks, weight_micro FROM weighted
ORDER BY weight_micro DESC, doc_id
LIMIT {_DSIR_TOPK}
"""
)

#: Deterministic Gumbel noise in integer micro-nats: u is the repo's
#: standard 52-bit md5 fixed-point uniform, g = -ln(-ln(u)).
_DSIR_GUMBEL_MICRO = (
    "CAST(floor(1000000.0 * (0.0 - ln(0.0 - ln("
    "(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':dsir'), 1, 13))"
    " AS BIGINT) + 0.5) / 4503599627370496.0"
    ")))) AS BIGINT)"
)

_ORACLE_DSIR_GUMBEL = (
    _DSIR_WEIGHTS_CTE
    + f"""
SELECT doc_id, n_toks, weight_micro,
       weight_micro + {_DSIR_GUMBEL_MICRO} AS key_micro
FROM weighted
ORDER BY key_micro DESC, doc_id
LIMIT {_DSIR_TOPK}
"""
)


@register(
    "sample_dsir_importance",
    oracle=_ORACLE_DSIR,
    tags=("sample", "training", "text", "north-star"),
    doc=(
        "DSIR (Data Selection via Importance Resampling, Xie et al. 2023, "
        "arXiv:2302.03169): hashed-unigram bag-of-words distributions are "
        "fit on a target subcorpus (every 17th doc, the deterministic "
        "fixture proxy for 'docs like my eval domain') and on the raw "
        "pool; each raw document scores by the sum of per-token "
        "Laplace-smoothed log-likelihood ratios, and the top-25 most "
        "target-like raw docs are kept. The log-ratio table is 64 rows "
        "(hashing trick — no vocabulary build), floored to integer "
        "micro-units so per-doc weights are exact BIGINT sums; selection "
        "is the deterministic top-k variant (the paper's Gumbel-noise "
        "resampling adds a per-row random key — same plan shape, one extra "
        "column). At 100 TB: two bounded 64-row aggregates broadcast into "
        "one (doc,bucket) hash-agg pass — the cheapest credible "
        "domain-targeting selector; md5 keeps buckets engine-portable."
    ),
)
def sample_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    return (
        _dsir_doc_weights(spark, sf_dir)
        .orderBy(F.col("weight_micro").desc(), "doc_id")
        .limit(_DSIR_TOPK)
    )


def _dsir_doc_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per raw-pool document: token count and exact integer-micro DSIR
    log-likelihood-ratio weight (shared by the top-k and Gumbel queries)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = spread(docs, "doc_id")  # explicit width: see spread()
    b = _DSIR_BUCKETS
    hashed = docs.select(
        "doc_id",
        (F.col("doc_id") % _DSIR_TARGET_MOD == 0).alias("is_target"),
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"),
    ).select(
        "doc_id",
        "is_target",
        (
            (md5_u32("tok") % b + b)
            % b
        ).alias("bucket"),
    )
    spine = spark.range(b).select(F.col("id").alias("bucket"))
    tcounts = (
        hashed.where("is_target").groupBy("bucket").agg(F.count(F.lit(1)).alias("ct"))
    )
    rcounts = (
        hashed.where(~F.col("is_target"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cr"))
    )
    totals = hashed.agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("tot_t"),
        F.sum(F.when(F.col("is_target"), 0).otherwise(1)).alias("tot_r"),
    )
    lr = (
        spine.join(tcounts, "bucket", "left")
        .join(rcounts, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("ct", F.lit(0)).alias("ct"),
            F.coalesce("cr", F.lit(0)).alias("cr"),
        )
        .crossJoin(F.broadcast(totals))
        .select("bucket", F.expr(_DSIR_LR_MICRO).alias("lr_micro"))
    )
    doc_tf = (
        hashed.where(~F.col("is_target"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return doc_tf.join(F.broadcast(lr), "bucket").groupBy("doc_id").agg(
        F.sum("tf").alias("n_toks"),
        F.sum(F.col("tf") * F.col("lr_micro")).alias("weight_micro"),
    )


@register(
    "sample_dsir_gumbel",
    oracle=_ORACLE_DSIR_GUMBEL,
    tags=("sample", "training", "text"),
    doc=(
        "DSIR with the paper's actual RESAMPLING step (Gumbel-max trick): "
        "each raw document's selection key is its log-likelihood-ratio "
        "weight plus Gumbel noise -ln(-ln(u)), so taking the top-k samples "
        "WITHOUT replacement with probability proportional to the "
        "importance weight (temperature 1) — unlike the deterministic "
        "top-k twin, low-weight documents retain a proportional chance, "
        "which is what keeps the resampled corpus diverse. The noise is "
        "derived from the repo's standard 52-bit md5 fixed-point uniform "
        "(RNG-free, reproducible under any partitioning); both weight and "
        "noise are integer micro-nats, summed exactly. Same plan as the "
        "top-k form plus one per-row expression; selection is still "
        "TakeOrderedAndProject."
    ),
)
def sample_dsir_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    w = _dsir_doc_weights(spark, sf_dir)
    # Same arithmetic as the oracle fragment; Spark spells the hex->int
    # step conv(...,16,10) where DuckDB casts a '0x...' literal.
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":dsir"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(4503599627370496.0)
    g_micro = F.floor(
        F.lit(1000000.0) * (F.lit(0.0) - F.log(F.lit(0.0) - F.log(u)))
    ).cast("long")
    key = F.col("weight_micro") + g_micro
    return (
        w.select("doc_id", "n_toks", "weight_micro", key.alias("key_micro"))
        .orderBy(F.col("key_micro").desc(), "doc_id")
        .limit(_DSIR_TOPK)
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of BM25 + dense cosine
# ---------------------------------------------------------------------------

_RRF_K = 60          # the standard RRF damping constant (Cormack 2009)
_RRF_DEPTH = 20      # per-retriever candidate depth
_RRF_TOPK = 10
_RRF_QVEC = 0        # dense query: embeddings row 0 (paired corpus ids)

_ORACLE_RRF = rf"""
WITH docs AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
),
lens AS (SELECT doc_id, len(toks) AS dl FROM docs),
stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM lens
),
tok AS (SELECT doc_id, unnest(toks) AS term FROM docs),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM tok WHERE term IN ({_BM25_TERMS_SQL})
  GROUP BY 1, 2
),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
lex_scored AS (
  SELECT tf.doc_id, {_BM25_TERM_MICRO} AS term_micro
  FROM tf JOIN df USING (term)
  JOIN lens ON lens.doc_id = tf.doc_id
  CROSS JOIN stats
),
lex_ranked AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (
           ORDER BY CAST(SUM(term_micro) AS BIGINT) DESC, doc_id) AS r
  FROM lex_scored GROUP BY doc_id
),
lex AS (SELECT doc_id, r FROM lex_ranked WHERE r <= {_RRF_DEPTH}),
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
      WHERE vec_id = {_RRF_QVEC}),
dense_scored AS (
  SELECT e.vec_id AS doc_id,
         round(list_dot_product(q.qv, CAST(e.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])))),
               6) AS cos_sim
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> {_RRF_QVEC}
),
dense AS (
  SELECT doc_id, r FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id) AS r
    FROM dense_scored
  ) WHERE r <= {_RRF_DEPTH}
),
fused AS (
  SELECT COALESCE(lex.doc_id, dense.doc_id) AS doc_id,
         CASE WHEN lex.doc_id IS NULL THEN 0 ELSE 1 END AS in_lex,
         CASE WHEN dense.doc_id IS NULL THEN 0 ELSE 1 END AS in_dense,
         COALESCE(CAST(floor(1000000.0 / ({_RRF_K} + lex.r)) AS BIGINT), 0)
         + COALESCE(CAST(floor(1000000.0 / ({_RRF_K} + dense.r)) AS BIGINT),
                    0) AS rrf_micro
  FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id
)
SELECT doc_id, in_lex, in_dense, rrf_micro
FROM fused ORDER BY rrf_micro DESC, doc_id LIMIT {_RRF_TOPK}
"""


@register(
    "retrieval_rrf_hybrid",
    oracle=_ORACLE_RRF,
    tags=("retrieval", "similarity", "north-star"),
    doc=(
        "Hybrid retrieval via reciprocal-rank fusion (RRF, k=60): BM25 "
        "top-20 (corpus_bm25_search's integer-micro scoring) and dense "
        "cosine top-20 for a query embedding fuse as "
        "sum(1/(k + rank)) — floored to integer micro-units per list so "
        "the fused score is exact BIGINT math, then full-outer-joined on "
        "doc_id (a doc missing from one list simply contributes nothing). "
        "This is the RAG retrieval shape (ES/vector-db hybrid): each "
        "retriever's candidate set is depth-bounded, so the fusion join "
        "touches at most 2*depth rows no matter the corpus size; the "
        "expensive parts reuse the BM25 pruned-postings plan and the "
        "broadcast dense scorer. Corpus ids are the documents/embeddings "
        "paired fixture ids."
    ),
)
def retrieval_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.similarity import dot

    pin_query_session_conf(spark)
    # ---- lexical arm: BM25 (same statistics pipeline as corpus_bm25_search)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = spread(docs, "doc_id")
    toks = docs.select(
        "doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("toks")
    )
    lens = toks.select("doc_id", F.size("toks").cast("long").alias("dl"))
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avgdl"
        ),
    )
    tf = (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .where(F.col("term").isin(list(_BM25_TERMS)))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    lex_scores = (
        tf.join(F.broadcast(dfreq), "term")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.expr(_BM25_TERM_MICRO).alias("term_micro"))
        .groupBy("doc_id")
        .agg(F.sum("term_micro").cast("long").alias("s"))
        .orderBy(F.col("s").desc(), "doc_id")
        .limit(_RRF_DEPTH)
    )
    lex = lex_scores.withColumn(
        "r", F.row_number().over(Window.orderBy(F.col("s").desc(), "doc_id"))
    ).select("doc_id", F.col("r").alias("lex_r"))
    # ---- dense arm: brute-force cosine for one query vector
    emb = load_table(spark, sf_dir, "embeddings")
    to_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    q = F.broadcast(
        emb.where(F.col("vec_id") == _RRF_QVEC).select(to_d.alias("qv"))
    )
    dense_scores = (
        emb.where(F.col("vec_id") != _RRF_QVEC)
        .select(F.col("vec_id").alias("doc_id"), to_d.alias("cv"))
        .crossJoin(q)
        .select(
            "doc_id",
            F.round(
                dot(F.col("qv"), F.col("cv"))
                / (
                    F.sqrt(dot(F.col("qv"), F.col("qv")))
                    * F.sqrt(dot(F.col("cv"), F.col("cv")))
                ),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "doc_id")
        .limit(_RRF_DEPTH)
    )
    dense = dense_scores.withColumn(
        "r",
        F.row_number().over(Window.orderBy(F.col("cos_sim").desc(), "doc_id")),
    ).select("doc_id", F.col("r").alias("dense_r"))
    # ---- fuse: exact integer micro-unit RRF
    contrib = lambda r: F.coalesce(  # noqa: E731
        F.floor(F.lit(1000000.0) / (F.lit(_RRF_K) + r)).cast("long"), F.lit(0)
    )
    return (
        lex.join(dense, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.when(F.col("lex_r").isNull(), 0).otherwise(1).alias("in_lex"),
            F.when(F.col("dense_r").isNull(), 0).otherwise(1).alias("in_dense"),
            (contrib(F.col("lex_r")) + contrib(F.col("dense_r"))).alias(
                "rrf_micro"
            ),
        )
        .orderBy(F.col("rrf_micro").desc(), "doc_id")
        .limit(_RRF_TOPK)
    )


# ---------------------------------------------------------------------------
# RAG retrieval funnel (flagship composition #3, round 6)
# ---------------------------------------------------------------------------

_RAG_C = 32   # chunk size (tokens)
_RAG_S = 24   # chunk stride (8-token overlap)
_RAG_DEPTH = 20
_RAG_TOP = 5

_ORACLE_RAG = rf"""
WITH docs AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
),
chunks AS (
  SELECT d.doc_id,
         CAST((t.s - 1) / {_RAG_S} AS BIGINT) AS chunk_idx,
         CAST(t.s AS BIGINT) AS start_tok,
         d.toks[t.s : least(t.s + {_RAG_C} - 1, len(d.toks))] AS ctoks
  FROM docs d, unnest(range(1, len(d.toks) + 1, {_RAG_S})) AS t(s)
),
lens AS (SELECT doc_id, chunk_idx, start_tok, ctoks,
                len(ctoks) AS dl FROM chunks),
stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM lens
),
tok AS (SELECT doc_id, chunk_idx, unnest(ctoks) AS term FROM lens),
tf AS (
  SELECT doc_id, chunk_idx, term, COUNT(*) AS tf
  FROM tok WHERE term IN ({_BM25_TERMS_SQL})
  GROUP BY 1, 2, 3
),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
lex_scored AS (
  SELECT tf.doc_id, tf.chunk_idx, {_BM25_TERM_MICRO} AS term_micro
  FROM tf JOIN df USING (term)
  JOIN lens ON lens.doc_id = tf.doc_id AND lens.chunk_idx = tf.chunk_idx
  CROSS JOIN stats
),
lex AS (
  SELECT doc_id, chunk_idx, r FROM (
    SELECT doc_id, chunk_idx,
           ROW_NUMBER() OVER (ORDER BY CAST(SUM(term_micro) AS BIGINT) DESC,
                              doc_id, chunk_idx) AS r
    FROM lex_scored GROUP BY doc_id, chunk_idx
  ) WHERE r <= {_RAG_DEPTH}
),
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
      WHERE vec_id = {_RRF_QVEC}),
dense AS (
  SELECT doc_id, r FROM (
    SELECT e.vec_id AS doc_id,
           ROW_NUMBER() OVER (ORDER BY
             round(list_dot_product(q.qv, CAST(e.embedding AS DOUBLE[]))
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))),
                   6) DESC, e.vec_id) AS r
    FROM embeddings e CROSS JOIN q
  ) WHERE r <= {_RAG_DEPTH}
),
cand AS (
  SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
         COALESCE(l.chunk_idx, 0) AS chunk_idx,  -- dense-only: head chunk
         CASE WHEN l.doc_id IS NULL THEN 0 ELSE 1 END AS in_lex,
         CASE WHEN d.doc_id IS NULL THEN 0 ELSE 1 END AS in_dense,
         COALESCE(CAST(floor(1000000.0 / (60 + l.r)) AS BIGINT), 0)
         + COALESCE(CAST(floor(1000000.0 / (60 + d.r)) AS BIGINT), 0)
           AS rrf_micro
  FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id
),
best_per_doc AS (
  SELECT doc_id,
         MAX(rrf_micro) AS rrf_micro,
         MIN(chunk_idx) FILTER (
           WHERE rrf_micro = (SELECT MAX(c2.rrf_micro) FROM cand c2
                              WHERE c2.doc_id = cand.doc_id)) AS chunk_idx,
         MAX(in_lex) AS in_lex, MAX(in_dense) AS in_dense
  FROM cand GROUP BY doc_id
),
top AS (
  SELECT * FROM best_per_doc
  ORDER BY rrf_micro DESC, doc_id LIMIT {_RAG_TOP}
)
SELECT t.doc_id, t.chunk_idx, l.start_tok,
       CAST(l.dl AS BIGINT) AS n_tok_chunk,
       t.rrf_micro, t.in_lex, t.in_dense,
       md5(array_to_string(l.ctoks, ' ')) AS chunk_md5
FROM top t JOIN lens l
  ON l.doc_id = t.doc_id AND l.chunk_idx = t.chunk_idx
ORDER BY t.rrf_micro DESC, t.doc_id
"""


@register(
    "pipeline_rag_funnel",
    oracle=_ORACLE_RAG,
    tags=("retrieval", "pipeline", "north-star"),
    doc=(
        "End-to-end RAG retrieval funnel (flagship composition #3, next "
        "to pipeline_training_funnel and pipeline_sft_funnel): (1) "
        "sliding-window chunking (32 tokens, stride 24 — the overlap "
        "indexers use so answers spanning a boundary survive); (2) BM25 "
        "over CHUNKS (chunk-level df/avgdl, integer micro scores), depth "
        "20; (3) dense cosine over PARENT-doc embeddings, depth 20; (4) "
        "reciprocal-rank fusion in exact BIGINT micro-units, dense-only "
        "hits falling back to the head chunk; (5) per-doc dedup keeping "
        "the best chunk (overlapping chunks of one doc must not crowd "
        "the context window); (6) top-5 contexts with provenance "
        "(start_tok, length, chunk md5). Scale: chunking is a pure "
        "array expression (no shuffle before the term-filtered explode), "
        "both retriever arms are depth-bounded before any join, and the "
        "fusion/dedup work is O(depth), corpus-size-independent."
    ),
)
def pipeline_rag_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.similarity import dot

    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = spread(docs, "doc_id")
    toks = docs.select(
        "doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("toks")
    )
    chunks = toks.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.size("toks"), F.lit(_RAG_S))
        ).alias("s"),
        "toks",
    ).select(
        "doc_id",
        ((F.col("s") - 1) / _RAG_S).cast("bigint").alias("chunk_idx"),
        F.col("s").cast("bigint").alias("start_tok"),
        F.slice("toks", F.col("s"), F.lit(_RAG_C)).alias("ctoks"),
    )
    lens = chunks.withColumn("dl", F.size("ctoks").cast("long"))
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avgdl"
        ),
    )
    tf = (
        lens.select("doc_id", "chunk_idx", F.explode("ctoks").alias("term"))
        .where(F.col("term").isin(list(_BM25_TERMS)))
        .groupBy("doc_id", "chunk_idx", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    lex_sum = (
        tf.join(F.broadcast(dfreq), "term")
        .join(lens.select("doc_id", "chunk_idx", "dl"), ["doc_id", "chunk_idx"])
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id", "chunk_idx", F.expr(_BM25_TERM_MICRO).alias("term_micro")
        )
        .groupBy("doc_id", "chunk_idx")
        .agg(F.sum("term_micro").cast("long").alias("score"))
        .orderBy(F.desc("score"), "doc_id", "chunk_idx")
        .limit(_RAG_DEPTH)
    )
    lex = lex_sum.withColumn(
        "lex_r",
        F.row_number().over(
            Window.orderBy(F.desc("score"), "doc_id", "chunk_idx")
        ),
    ).select("doc_id", "chunk_idx", "lex_r")
    emb = load_table(spark, sf_dir, "embeddings")
    to_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    q = F.broadcast(
        emb.where(F.col("vec_id") == _RRF_QVEC).select(to_d.alias("qv"))
    )
    dense_s = (
        emb.select(F.col("vec_id").alias("doc_id"), to_d.alias("cv"))
        .crossJoin(q)
        .select(
            "doc_id",
            F.round(
                dot(F.col("qv"), F.col("cv"))
                / (
                    F.sqrt(dot(F.col("qv"), F.col("qv")))
                    * F.sqrt(dot(F.col("cv"), F.col("cv")))
                ),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "doc_id")
        .limit(_RAG_DEPTH)
    )
    dense = dense_s.withColumn(
        "dense_r",
        F.row_number().over(Window.orderBy(F.desc("cos_sim"), "doc_id")),
    ).select("doc_id", "dense_r")
    contrib = lambda r: F.coalesce(  # noqa: E731
        F.floor(F.lit(1000000.0) / (F.lit(_RRF_K) + r)).cast("long"), F.lit(0)
    )
    cand = (
        lex.join(dense, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("chunk_idx", F.lit(0)).alias("chunk_idx"),
            F.when(F.col("lex_r").isNull(), 0).otherwise(1).alias("in_lex"),
            F.when(F.col("dense_r").isNull(), 0).otherwise(1).alias("in_dense"),
            (contrib(F.col("lex_r")) + contrib(F.col("dense_r"))).alias(
                "rrf_micro"
            ),
        )
    )
    best = cand.groupBy("doc_id").agg(
        F.max(
            F.struct(
                F.col("rrf_micro").alias("m"),
                (-F.col("chunk_idx")).alias("nc"),
            )
        ).alias("b"),
        F.max("in_lex").alias("in_lex"),
        F.max("in_dense").alias("in_dense"),
    ).select(
        "doc_id",
        (-F.col("b.nc")).cast("bigint").alias("chunk_idx"),
        F.col("b.m").alias("rrf_micro"),
        "in_lex",
        "in_dense",
    )
    top = best.orderBy(F.desc("rrf_micro"), "doc_id").limit(_RAG_TOP)
    return (
        top.join(lens, ["doc_id", "chunk_idx"])
        .select(
            "doc_id",
            "chunk_idx",
            "start_tok",
            F.col("dl").cast("bigint").alias("n_tok_chunk"),
            "rrf_micro",
            "in_lex",
            "in_dense",
            F.md5(F.concat_ws(" ", "ctoks")).alias("chunk_md5"),
        )
        .orderBy(F.desc("rrf_micro"), "doc_id")
    )


# The greedy MMR recursion unrolls into SQL because k=5 is a bounded
# constant: s_m picks the argmax of round(lam*rel - (1-lam)*max_sim, 6)
# (ties -> lowest doc_id), r_m relaxes every remaining candidate's
# max-sim-to-selected via greatest().  Scores are rounded to 6dp BEFORE
# the argmax on both engines, which absorbs the numpy-BLAS vs sequential
# float-association ulps in the pairwise cosines; constants are written
# CAST(... AS DOUBLE) so (1.0 - 0.7) is the same binary double as
# Python's 1 - lam.
_MMR_K = 5


def _mmr_oracle() -> str:
    lam = "CAST(0.7 AS DOUBLE)"
    one_minus = "(CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE))"
    steps = [f"""
s1 AS MATERIALIZED (
  SELECT doc_id, round({lam} * rel, 6) AS score, u
  FROM top ORDER BY score DESC, doc_id LIMIT 1
),
r1 AS MATERIALIZED (
  SELECT t.doc_id, t.rel, t.u,
         list_dot_product(t.u, (SELECT u FROM s1)) AS ms
  FROM top t WHERE t.doc_id <> (SELECT doc_id FROM s1)
)"""]
    for m in range(2, _MMR_K + 1):
        steps.append(f"""
s{m} AS MATERIALIZED (
  SELECT doc_id, round({lam} * rel - {one_minus} * ms, 6) AS score, u
  FROM r{m - 1} ORDER BY score DESC, doc_id LIMIT 1
)""")
        if m < _MMR_K:
            steps.append(f"""
r{m} AS MATERIALIZED (
  SELECT r.doc_id, r.rel, r.u,
         greatest(r.ms, list_dot_product(r.u, (SELECT u FROM s{m}))) AS ms
  FROM r{m - 1} r WHERE r.doc_id <> (SELECT doc_id FROM s{m})
)""")
    rows = "\n  UNION ALL\n  ".join(
        f"SELECT {m} AS rank, (SELECT doc_id FROM s{m}) AS doc_id, "
        f"(SELECT score FROM s{m}) AS mmr_score"
        for m in range(1, _MMR_K + 1)
    )
    return f"""
WITH q AS MATERIALIZED (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id = {_RRF_QVEC}
),
cand AS MATERIALIZED (
  SELECT vec_id AS doc_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         round(list_dot_product(q.qv,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)))
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(
                      list_transform(embedding, x -> CAST(x AS DOUBLE)),
                      list_transform(embedding, x -> CAST(x AS DOUBLE))))),
               6) AS rel
  FROM embeddings, q WHERE vec_id <> {_RRF_QVEC}
),
top AS MATERIALIZED (
  SELECT doc_id, rel,
         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
  FROM cand ORDER BY rel DESC, doc_id LIMIT {_RRF_DEPTH}
),{",".join(steps)}
SELECT CAST(rank AS INTEGER) AS rank, doc_id, mmr_score
FROM ({rows}) ORDER BY rank
"""


@register(
    "retrieval_mmr_rerank",
    oracle=_mmr_oracle(),
    tags=("retrieval", "similarity", "ml"),
    doc=(
        "Maximal Marginal Relevance rerank "
        "(operators/similarity.py: mmr_rerank, lambda=0.7, k=5) over the "
        "dense retriever's top-20: the diversity pass between retrieval "
        "and the context window — near-duplicate passages crowd out "
        "coverage, MMR trades a sliver of relevance to suppress them. "
        "The distributed part is the candidate scoring (the same "
        "broadcast cosine arm as retrieval_rrf_hybrid); the greedy "
        "quadratic selection runs on the DEPTH-BOUNDED candidate set "
        "(bounded collect, <= retriever depth by contract). The bounded "
        "k makes the greedy argmax unrollable in SQL (r6 verdict item "
        "4): scores 6dp-rounded before each argmax, ties to the lowest "
        "doc_id on both engines; diversity-vs-plain-top-k behavior "
        "pinned in tests/test_retrieval_extra.py."
    ),
)
def retrieval_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import dot, mmr_rerank

    pin_query_session_conf(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    to_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    q = F.broadcast(
        emb.where(F.col("vec_id") == _RRF_QVEC).select(to_d.alias("qv"))
    )
    cands = (
        emb.where(F.col("vec_id") != _RRF_QVEC)
        .select(F.col("vec_id").alias("doc_id"), to_d.alias("v"))
        .crossJoin(q)
        .select(
            "doc_id",
            "v",
            F.round(
                dot(F.col("qv"), F.col("v"))
                / (
                    F.sqrt(dot(F.col("qv"), F.col("qv")))
                    * F.sqrt(dot(F.col("v"), F.col("v")))
                ),
                6,
            ).alias("rel"),
        )
        .orderBy(F.desc("rel"), "doc_id")
        .limit(_RRF_DEPTH)
    )
    return mmr_rerank(cands, k=5, lam=0.7)


# -- ColBERT-style late interaction (MaxSim) ----------------------------------

_COLBERT_CHUNKS = 8   # token vectors per doc = 64-dim fixture / 8-dim chunks
_COLBERT_DIM = 8
_COLBERT_TOPK = 10


def _maxsim_sql() -> str:
    """MaxSim in DuckDB: score(q, d) = sum_i max_j cos(q_i, d_j) over the
    8x8 chunk grid, every float op written in the exact shape the Spark
    expression tree evaluates (dot = sequential fold, cos = dot/(qn*dn),
    greatest over j, left-associated sum over i)."""
    def sl(v: str, i: int) -> str:
        return f"{v}[{1 + _COLBERT_DIM * i}:{_COLBERT_DIM * (i + 1)}]"

    qn = [f"sqrt(list_dot_product({sl('q.qv', i)}, {sl('q.qv', i)}))" for i in range(_COLBERT_CHUNKS)]
    dn = [f"sqrt(list_dot_product({sl('c.dv', j)}, {sl('c.dv', j)}))" for j in range(_COLBERT_CHUNKS)]
    maxes = []
    for i in range(_COLBERT_CHUNKS):
        cos = [
            f"(list_dot_product({sl('q.qv', i)}, {sl('c.dv', j)}) / ({qn[i]} * {dn[j]}))"
            for j in range(_COLBERT_CHUNKS)
        ]
        maxes.append("greatest(" + ", ".join(cos) + ")")
    score = " + ".join(maxes)
    return f"""
WITH q AS MATERIALIZED (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id = {_RRF_QVEC}
),
cand AS MATERIALIZED (
  SELECT vec_id AS doc_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
  FROM embeddings WHERE vec_id <> {_RRF_QVEC}
),
scored AS (
  SELECT c.doc_id, round({score}, 6) AS maxsim_score
  FROM cand c, q
),
top AS (
  SELECT doc_id, maxsim_score
  FROM scored ORDER BY maxsim_score DESC, doc_id LIMIT {_COLBERT_TOPK}
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY maxsim_score DESC, doc_id) AS INTEGER)
         AS rank,
       doc_id, maxsim_score
FROM top ORDER BY rank
"""


@register(
    "retrieval_colbert_maxsim",
    oracle=_maxsim_sql(),
    tags=("retrieval", "similarity", "ml"),
    doc=(
        "ColBERT-style late-interaction scoring (Khattab & Zaharia 2020): "
        "docs and query are bags of token vectors (the 64-dim fixture "
        "embedding sliced into 8 chunks of 8 dims, the standard "
        "fixed-width packing for token-level vectors in a flat array "
        "column); score = sum over query tokens of the max cosine against "
        "any doc token.  All 64 chunk-pair cosines are built-in "
        "expressions (slice / zip_with / aggregate folds — one "
        "whole-stage-codegen projection, no UDF, no explode-shuffle: at "
        "100 TB this is a broadcast map-side scan like the brute-force "
        "ANN arm).  Scores rounded 6dp before the top-k argsort, ties to "
        "the lowest doc_id; the oracle mirrors every fold/divide/greatest "
        "in the same shape."
    ),
)
def retrieval_colbert_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    pin_query_session_conf(spark)
    emb = load_table(spark, sf_dir, "embeddings")

    def sl(col: str, i: int) -> str:
        return f"slice({col}, {1 + _COLBERT_DIM * i}, {_COLBERT_DIM})"

    def dot(a: str, b: str) -> str:
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )

    qn = [f"sqrt({dot(sl('qv', i), sl('qv', i))})" for i in range(_COLBERT_CHUNKS)]
    dn = [f"sqrt({dot(sl('dv', j), sl('dv', j))})" for j in range(_COLBERT_CHUNKS)]
    maxes = []
    for i in range(_COLBERT_CHUNKS):
        cos = [
            f"({dot(sl('qv', i), sl('dv', j))} / ({qn[i]} * {dn[j]}))"
            for j in range(_COLBERT_CHUNKS)
        ]
        maxes.append("greatest(" + ", ".join(cos) + ")")
    score = " + ".join(maxes)

    to_double = "transform(embedding, x -> CAST(x AS DOUBLE))"
    q = (
        emb.where(F.col("vec_id") == _RRF_QVEC)
        .select(F.expr(to_double).alias("qv"))
    )
    cand = (
        emb.where(F.col("vec_id") != _RRF_QVEC)
        .select(F.col("vec_id").alias("doc_id"), F.expr(to_double).alias("dv"))
        # 64 fold-dots per row is compute-bound: don't let byte-based input
        # splits cap the parallelism (x16 probe: 3 partitions for 32 cores)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    scored = cand.crossJoin(F.broadcast(q)).select(
        "doc_id", F.round(F.expr(score), 6).alias("maxsim_score")
    )
    top = scored.orderBy(
        F.col("maxsim_score").desc(), F.col("doc_id")
    ).limit(_COLBERT_TOPK)
    w = Window.orderBy(F.col("maxsim_score").desc(), F.col("doc_id"))
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "doc_id",
        "maxsim_score",
    ).orderBy("rank")


# -- Retrieval quality evals: MRR@10 and Recall@10 ------------------------------
#
# Same pinned-query cosine ranking as ml_eval_ndcg (5 query vectors, 6dp-
# rounded cosine, ties to lowest id, binary relevance = same label); these
# add the two other standard ranking metrics so a retrieval change can be
# evaluated on the full MRR/recall/nDCG triple in one engine.

_EVAL_QUERIES = 5
_EVAL_K = 10


def _retrieval_scored(spark: SparkSession, sf_dir: str):
    """Shared (qid, qlabel, did, dlabel, cos) candidate scoring — broadcast
    query side, one codegen cosine projection over all candidates."""
    emb = load_table(spark, sf_dir, "embeddings")
    to_d = "transform(embedding, x -> CAST(x AS DOUBLE))"
    dot = (
        "aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    q = emb.where(F.col("vec_id") < _EVAL_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.expr(to_d).alias("qv"),
    )
    c = emb.select(
        F.col("vec_id").alias("did"),
        F.col("label").alias("dlabel"),
        F.expr(to_d).alias("dv"),
    )
    cos = F.round(
        F.expr(dot.format(a="qv", b="dv"))
        / (
            F.sqrt(F.expr(dot.format(a="qv", b="qv")))
            * F.sqrt(F.expr(dot.format(a="dv", b="dv")))
        ),
        6,
    )
    return (
        c.crossJoin(F.broadcast(q))
        .where(F.col("qid") != F.col("did"))
        .select("qid", "qlabel", "did", "dlabel", cos.alias("cos"))
    )


_EVAL_SCORED_SQL = f"""
q AS MATERIALIZED (
  SELECT vec_id AS qid, label AS qlabel,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id < {_EVAL_QUERIES}
),
c AS MATERIALIZED (
  SELECT vec_id AS did, label AS dlabel,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
  FROM embeddings
),
ranked AS (
  SELECT qid, qlabel, did, dlabel,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
           round(list_dot_product(qv, dv)
                 / (sqrt(list_dot_product(qv, qv))
                    * sqrt(list_dot_product(dv, dv))), 6) DESC, did) AS r
  FROM q, c WHERE qid <> did
)"""

_ORACLE_MRR = f"""
WITH {_EVAL_SCORED_SQL}
SELECT q.qid AS query_id,
       (SELECT MIN(r) FROM ranked rr
        WHERE rr.qid = q.qid AND rr.dlabel = q.qlabel AND rr.r <= {_EVAL_K})
         AS first_rel_rank,
       COALESCE(round(1.0 / (SELECT MIN(r) FROM ranked rr
                             WHERE rr.qid = q.qid AND rr.dlabel = q.qlabel
                               AND rr.r <= {_EVAL_K}), 6), 0.0)
         AS reciprocal_rank
FROM q ORDER BY query_id
"""


@register(
    "retrieval_mrr_eval",
    oracle=_ORACLE_MRR,
    tags=("retrieval", "eval"),
    doc=(
        f"MRR@{_EVAL_K} retrieval evaluation over the same 5 pinned query "
        "vectors as ml_eval_ndcg: reciprocal rank of the first relevant "
        "(same-label) candidate within the top-10 of the 6dp-rounded "
        "cosine ranking, 0.0 when none lands in the window. The rank is "
        "an exact integer and 1/r a single rational, so the metric "
        "checks exactly. Plan: broadcast query side, one codegen cosine "
        "projection, per-query top-k window over the depth-bounded set."
    ),
)
def retrieval_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    pin_query_session_conf(spark)
    scored = _retrieval_scored(spark, sf_dir)
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("did"))
    ranked = scored.select(
        "qid", "qlabel", "dlabel", F.row_number().over(w).alias("r")
    ).where(F.col("r") <= _EVAL_K)
    first_rel = (
        ranked.where(F.col("dlabel") == F.col("qlabel"))
        .groupBy("qid")
        .agg(F.min("r").alias("first_rel_rank"))
    )
    qs = scored.select("qid").distinct()
    return (
        qs.join(first_rel, "qid", "left")
        .select(
            F.col("qid").alias("query_id"),
            "first_rel_rank",
            F.coalesce(
                F.round(F.lit(1.0) / F.col("first_rel_rank"), 6), F.lit(0.0)
            ).alias("reciprocal_rank"),
        )
        .orderBy("query_id")
    )


_ORACLE_RECALL_AT_K = f"""
WITH {_EVAL_SCORED_SQL}
SELECT q.qid AS query_id,
       CAST((SELECT COUNT(*) FROM ranked rr
             WHERE rr.qid = q.qid AND rr.dlabel = q.qlabel
               AND rr.r <= {_EVAL_K}) AS BIGINT) AS n_rel_topk,
       CAST((SELECT COUNT(*) FROM embeddings e
             WHERE e.label = q.qlabel AND e.vec_id <> q.qid) AS BIGINT)
         AS n_rel_total,
       CASE WHEN (SELECT COUNT(*) FROM embeddings e
                  WHERE e.label = q.qlabel AND e.vec_id <> q.qid) > 0
            THEN round(
              CAST((SELECT COUNT(*) FROM ranked rr
                    WHERE rr.qid = q.qid AND rr.dlabel = q.qlabel
                      AND rr.r <= {_EVAL_K}) AS DOUBLE)
              / least({_EVAL_K},
                      (SELECT COUNT(*) FROM embeddings e
                       WHERE e.label = q.qlabel AND e.vec_id <> q.qid)), 6)
       END AS recall_at_k
FROM q ORDER BY query_id
"""


@register(
    "retrieval_recall_at_k",
    oracle=_ORACLE_RECALL_AT_K,
    tags=("retrieval", "eval"),
    doc=(
        f"Recall@{_EVAL_K} (R-capped form: relevant-in-top-k over "
        f"min(k, total relevant), so a query with more than {_EVAL_K} "
        "relevant docs can still reach 1.0) over the same pinned-query "
        "cosine ranking as ml_eval_ndcg/retrieval_mrr_eval; NULL when a "
        "query's label has no other members (same guard as ml_eval_ndcg). "
        "Counts are exact integers; one rational per query."
    ),
)
def retrieval_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    pin_query_session_conf(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    scored = _retrieval_scored(spark, sf_dir)
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("did"))
    topk = (
        scored.select(
            "qid", "qlabel", "dlabel", F.row_number().over(w).alias("r")
        )
        .where(F.col("r") <= _EVAL_K)
        .groupBy("qid")
        .agg(
            F.sum(F.when(F.col("dlabel") == F.col("qlabel"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_rel_topk")
        )
    )
    q = emb.where(F.col("vec_id") < _EVAL_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("label").alias("qlabel")
    )
    pool = (
        q.join(
            emb.select(
                F.col("label").alias("plabel"), F.col("vec_id").alias("pid")
            ),
            (F.col("plabel") == F.col("qlabel"))
            & (F.col("pid") != F.col("qid")),
            "left",
        )
        .groupBy("qid")
        .agg(F.count("pid").cast("bigint").alias("n_rel_total"))
    )
    return (
        topk.join(pool, "qid")
        .select(
            F.col("qid").alias("query_id"),
            "n_rel_topk",
            "n_rel_total",
            F.when(
                F.col("n_rel_total") > 0,
                F.round(
                    F.col("n_rel_topk").cast("double")
                    / F.least(F.lit(_EVAL_K).cast("bigint"), F.col("n_rel_total")),
                    6,
                ),
            ).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


# -- TF-IDF cosine retrieval (r8) ----------------------------------------------------

_TFIDF_QUERY_DOC = 0
_TFIDF_TOPK = 10

_ORACLE_TFIDF_COSINE = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents WHERE trim(text) <> ''
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY term
),
nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM tok),
w AS (  -- e6-floored tf-idf weight per (doc, term): exact BIGINT
  SELECT t.doc_id, t.term,
         CAST(floor(1000000.0 * t.tf
                    * ln(CAST((SELECT n FROM nd) AS DOUBLE) / d.df))
              AS BIGINT) AS w_e6
  FROM tf t JOIN dfreq d ON d.term = t.term
),
norms AS (
  SELECT doc_id, CAST(SUM(w_e6 * w_e6) AS BIGINT) AS norm2 FROM w GROUP BY doc_id
),
q AS (SELECT term, w_e6 FROM w WHERE doc_id = {_TFIDF_QUERY_DOC}),
dots AS (
  SELECT d.doc_id, CAST(SUM(d.w_e6 * q.w_e6) AS BIGINT) AS dot
  FROM w d JOIN q ON q.term = d.term
  WHERE d.doc_id <> {_TFIDF_QUERY_DOC}
  GROUP BY d.doc_id
),
scored AS (
  SELECT dt.doc_id,
         round(CAST(dt.dot AS DOUBLE)
               / (sqrt(CAST(nq.norm2 AS DOUBLE)) * sqrt(CAST(nd2.norm2 AS DOUBLE))),
               6) AS cosine
  FROM dots dt
  JOIN norms nd2 ON nd2.doc_id = dt.doc_id
  CROSS JOIN (SELECT norm2 FROM norms WHERE doc_id = {_TFIDF_QUERY_DOC}) nq
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS INTEGER) AS rank,
       doc_id, cosine
FROM scored
ORDER BY cosine DESC, doc_id
LIMIT {_TFIDF_TOPK}
"""


@register(
    "corpus_tfidf_cosine_search",
    oracle=_ORACLE_TFIDF_COSINE,
    tags=("retrieval", "corpus"),
    doc=(
        f"TF-IDF cosine retrieval: top-{_TFIDF_TOPK} most similar "
        f"documents to a pinned query document (doc {_TFIDF_QUERY_DOC}) "
        "under the sparse vector-space model — the classical lexical "
        "ranking beside corpus_bm25_search's probabilistic one. Weights "
        "are e6-floored tf*ln(N/df) integers, so dot products and norms "
        "are exact BIGINT sums (no float-order hazard); the cosine is "
        "one rational per candidate, rounded 6dp, ties to lowest id. "
        "Plan: posting equi-join on term against the (tiny, broadcast) "
        "query vector — inverted-index retrieval, never all-pairs; the "
        "norm table is one per-doc aggregate reused across queries."
    ),
)
def corpus_tfidf_cosine_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    # tok feeds tf/dfreq/nd and w feeds norms/q/dots: persist both so the
    # corpus is tokenized once and weighted once (three downstream
    # aggregates each) — the dominant scan costs at 100 TB.
    tok = docs.where(F.trim("text") != "").select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term"),
    ).persist()
    tf = tok.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    dfreq = tok.groupBy("term").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )
    # N docs straight off the (row-per-doc) source table, not a global
    # countDistinct over the corpus-scale exploded token stream (r12):
    # doc_id is unique per row, so distinct-count == count over the same
    # non-empty filter, minus one full-stream distinct aggregate.
    nd = (
        docs.where(F.trim("text") != "")
        .agg(F.count("doc_id").cast("bigint").alias("n"))
    )
    w = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "term",
            F.floor(
                F.lit(1000000.0)
                * F.col("tf")
                * F.log(F.col("n").cast("double") / F.col("df"))
            )
            .cast("bigint")
            .alias("w_e6"),
        )
        .persist()
    )
    norms = w.groupBy("doc_id").agg(
        F.sum(F.col("w_e6") * F.col("w_e6")).cast("bigint").alias("norm2")
    )
    q = w.where(F.col("doc_id") == _TFIDF_QUERY_DOC).select(
        "term", F.col("w_e6").alias("qw_e6")
    )
    qnorm = norms.where(F.col("doc_id") == _TFIDF_QUERY_DOC).select(
        F.col("norm2").alias("qnorm2")
    )
    dots = (
        w.where(F.col("doc_id") != _TFIDF_QUERY_DOC)
        .join(F.broadcast(q), "term")
        .groupBy("doc_id")
        .agg(F.sum(F.col("w_e6") * F.col("qw_e6")).cast("bigint").alias("dot"))
    )
    scored = (
        dots.join(norms, "doc_id")
        .crossJoin(F.broadcast(qnorm))
        .select(
            "doc_id",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("qnorm2").cast("double"))
                    * F.sqrt(F.col("norm2").cast("double"))
                ),
                6,
            ).alias("cosine"),
        )
    )
    # TakeOrderedAndProject top-k (orderBy + limit), NOT a global
    # row_number window: the candidate set is corpus-scale (every doc
    # sharing a query term), so a single-partition rank window would
    # funnel it; the rank is assigned AFTER the k-row cut.
    top = scored.orderBy(F.col("cosine").desc(), F.col("doc_id")).limit(
        _TFIDF_TOPK
    )
    win = Window.orderBy(F.col("cosine").desc(), F.col("doc_id"))
    return top.select(
        F.row_number().over(win).cast("int").alias("rank"),
        "doc_id",
        "cosine",
    ).orderBy("rank")
