"""Corpus-cleaning operators: PII scrubbing and repetition-based quality.

Standard steps of an LLM training-data pipeline ahead of dedup/filtering:
redact personally-identifying strings (emails, URLs, phone numbers) and
score documents by internal repetition (near-boilerplate detector).

The fixture corpus is synthetic word-soup with no PII, so the scrub query
first APPENDS deterministic synthetic PII derived from ``doc_id`` and then
scrubs it — the operator does real regex work on every row and the DuckDB
oracle applies the identical augmentation + scrub, so semantics (not just
plumbing) are value-verified.

Scale notes: both queries are pure per-row JVM expression work — regex and
JVM array expressions (no Python), no UDF, no shuffle except the final
presentation sort. Cross-engine float hazards are avoided by emitting
ratios as basis points via ``floor(10000 * x)``: the IEEE division is
bit-identical on identical int inputs, and floor (unlike round) has no
tie-breaking mode to disagree on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.dedup import (
    MD5,
    MD5_BANDS,
    MD5_K,
    MD5_MIN_MATCH,
    MD5_ROWS,
    lsh_bands,
    minhash_signatures,
    signature_matches,
    spread,
)
from ..operators.text import md5_u32
from ..session import pin_query_session_conf
from .registry import register

#: Redaction patterns, applied in this order. Kept to regex features with
#: identical semantics in Java regex (Spark) and RE2 (DuckDB).
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
URL_RE = "https?://[^ ]+"
PHONE_RE = "\\+[0-9][0-9\\-]{4,}[0-9]"


def scrub_pii(col):
    """Chained global redaction: emails -> <EMAIL>, URLs -> <URL>, phone
    numbers -> <PHONE>. Order is part of the contract: an email inside a
    URL path is redacted by the email pass and then absorbed by the URL
    pass; phone runs last so digit runs inside URLs are already gone.
    """
    c = F.regexp_replace(col, EMAIL_RE, "<EMAIL>")
    c = F.regexp_replace(c, URL_RE, "<URL>")
    return F.regexp_replace(c, PHONE_RE, "<PHONE>")


_SCRUB_ORACLE = """
WITH augmented AS (
  SELECT doc_id,
         text || ' contact user' || doc_id ||
         '@mail.example.com via http://ex.com/d/' || doc_id ||
         ' or +1-555-0' || doc_id AS raw
  FROM documents
), scrubbed AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(raw,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             'https?://[^ ]+', '<URL>', 'g'),
           '\\+[0-9][0-9\\-]{4,}[0-9]', '<PHONE>', 'g') AS clean
  FROM augmented)
SELECT doc_id,
       md5(clean) AS scrub_hash,
       len(regexp_extract_all(clean, '<EMAIL>')) AS n_email,
       len(regexp_extract_all(clean, '<URL>')) AS n_url,
       len(regexp_extract_all(clean, '<PHONE>')) AS n_phone
FROM scrubbed
ORDER BY doc_id
"""


@register(
    "text_scrub_pii",
    oracle=_SCRUB_ORACLE,
    tags=("text", "cleaning"),
    doc=(
        "PII scrubbing over the corpus: deterministic synthetic "
        "email/URL/phone strings are appended per doc_id, then globally "
        "redacted by chained regexp_replace (JVM codegen, no UDF). Output "
        "is the md5 of the cleaned text plus per-kind redaction counts, "
        "value-checked against DuckDB running the same augment + scrub."
    ),
)
def text_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id"),
        F.lit("@mail.example.com via http://ex.com/d/"),
        F.col("doc_id"),
        F.lit(" or +1-555-0"),
        F.col("doc_id"),
    )
    clean = scrub_pii(raw)
    return (
        docs.select(F.col("doc_id"), clean.alias("clean"))
        .select(
            "doc_id",
            F.md5("clean").alias("scrub_hash"),
            F.size(F.expr("regexp_extract_all(clean, '<EMAIL>', 0)")).alias(
                "n_email"
            ),
            F.size(F.expr("regexp_extract_all(clean, '<URL>', 0)")).alias("n_url"),
            F.size(F.expr("regexp_extract_all(clean, '<PHONE>', 0)")).alias(
                "n_phone"
            ),
        )
        .orderBy("doc_id")
    )


_REPETITION_ORACLE = """
WITH words AS (
  SELECT doc_id,
         string_split(text, ' ') AS ws,
         length(replace(text, ' ', '')) AS n_chars_nospace
  FROM documents)
SELECT doc_id,
       len(ws) AS n_words,
       CAST(floor(10000 * (1.0 - CAST(len(list_distinct(ws)) AS DOUBLE)
                                 / len(ws))) AS BIGINT) AS repetition_bp,
       CAST(floor(10000 * (CAST(n_chars_nospace AS DOUBLE) / len(ws)))
         AS BIGINT) AS mean_word_len_bp
FROM words
ORDER BY doc_id
"""


@register(
    "text_repetition_quality",
    oracle=_REPETITION_ORACLE,
    tags=("text", "quality"),
    doc=(
        "Repetition-based quality signals (boilerplate detector): per doc, "
        "the duplicated-word fraction (1 - distinct/total) and mean word "
        "length, both as floor-basis-points so cross-engine float rounding "
        "cannot disagree. Pure JVM array expressions; no shuffle."
    ),
)
def text_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    n_words = F.size(ws)
    rep = 1.0 - F.size(F.array_distinct(ws)).cast("double") / n_words
    mean_len = (
        F.length(F.regexp_replace(F.col("text"), " ", "")).cast("double") / n_words
    )
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        F.floor(F.lit(10000) * rep).cast("long").alias("repetition_bp"),
        F.floor(F.lit(10000) * mean_len).cast("long").alias("mean_word_len_bp"),
    ).orderBy("doc_id")


_HEAVY_HITTERS_ORACLE = """
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
tot AS (SELECT count(*) AS n FROM words)
SELECT w AS word, count(*) AS n_occurrences
FROM words
GROUP BY w
HAVING count(*) * 50 > (SELECT n FROM tot)
ORDER BY n_occurrences DESC, word
"""


@register(
    "corpus_heavy_hitters",
    oracle=_HEAVY_HITTERS_ORACLE,
    tags=("text", "sketch", "agg"),
    doc=(
        "Words with frequency > n/50 via two phases: per-partition "
        "Misra-Gries summaries (bounded counters, guaranteed candidate "
        "superset, no token shuffle) -> exact recount of the broadcast "
        "candidate set with an integer-exact HAVING threshold. The oracle "
        "is the naive exact group-by, so the sketch path must be exactly "
        "right, not approximately."
    ),
)
def corpus_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import misra_gries_candidates

    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    k = 50
    candidates = misra_gries_candidates(docs, "text", k=k)
    words = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    total = words.agg(F.count(F.lit(1)).alias("n_total"))
    counts = (
        words.where(F.col("w").isin(candidates))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    return (
        counts.join(F.broadcast(total))
        .where(F.col("n_occurrences") * k > F.col("n_total"))
        .select(F.col("w").alias("word"), "n_occurrences")
        .orderBy(F.col("n_occurrences").desc(), "word")
    )


# -- Train/eval decontamination (word n-gram overlap) -------------------------

_ORACLE_DECONTAMINATE = """
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
idx AS (
  SELECT doc_id, w, unnest(range(1, len(w) - 2)) AS i
  FROM words WHERE len(w) >= 4
),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+3], ' ') AS g FROM idx
),
eval_grams AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0
),
tot AS (
  SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY 1
)
SELECT t.doc_id, count(*) AS n_overlap, any_value(tot.n_grams) AS n_grams
FROM grams t
JOIN eval_grams e USING (g)
JOIN tot USING (doc_id)
WHERE t.doc_id % 20 <> 0
GROUP BY t.doc_id
ORDER BY doc_id
"""


@register(
    "text_decontaminate_ngram",
    oracle=_ORACLE_DECONTAMINATE,
    tags=("text", "dedup", "training"),
    doc=(
        "Train/eval decontamination: flag training documents sharing any "
        "word 4-gram with a held-out eval split (doc_id % 20 = 0 stands in "
        "for the benchmark set). Gram expansion is a pure JVM array "
        "expression (split -> sequence -> slice -> array_join -> explode); "
        "the eval gram set is orders of magnitude smaller than the corpus, "
        "so it broadcasts and the training side never shuffles on the gram "
        "key — at 100 TB the per-doc distinct is the only wide exchange, "
        "and it combines map-side."
    ),
)
def text_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    # RAW gram stream — deliberately NOT pre-distinct'd: a global distinct
    # would shuffle every (doc, gram) pair before any filtering.  The
    # broadcast join filters map-side, and both per-doc counts use distinct
    # AGGREGATION (two-phase, partial per partition) so the only wide
    # exchanges carry post-filter / per-doc-reduced data.
    grams = (
        spread(docs, "doc_id")
        .select("doc_id", F.split("text", " ").alias("w"))
        .where(F.size("w") >= 4)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - 3),
                    lambda i: F.array_join(F.slice(F.col("w"), i, 4), " "),
                )
            ).alias("g"),
        )
    )
    eval_grams = (
        grams.where(F.col("doc_id") % 20 == 0).select("g").distinct()
    )
    tot = grams.groupBy("doc_id").agg(
        F.countDistinct("g").alias("n_grams")
    )
    return (
        grams.where(F.col("doc_id") % 20 != 0)
        .join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_overlap"))
        .join(tot, "doc_id")
        .select("doc_id", "n_overlap", "n_grams")
        .orderBy("doc_id")
    )


# -- Corpus-quantile quality gate ---------------------------------------------

_ORACLE_QUALITY_GATE = """
WITH scored AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_words FROM documents
),
thresh AS (
  SELECT quantile_cont(n_words, 0.75) AS p75 FROM scored
)
SELECT s.doc_id, s.n_words
FROM scored s, thresh t
WHERE s.n_words > t.p75
ORDER BY s.doc_id
"""


@register(
    "text_quality_filter_quantile",
    oracle=_ORACLE_QUALITY_GATE,
    tags=("text", "quality", "training"),
    doc=(
        "Corpus-relative quality gate: keep documents whose word count "
        "exceeds the corpus 75th percentile — thresholds in a data "
        "pipeline should adapt to the corpus, not be hard-coded. The "
        "exact interpolated percentile is one tiny scalar aggregate "
        "broadcast into the filter (a scalar-subquery join); at 100 TB "
        "swap percentile() for approx_percentile and the shape is "
        "unchanged. Integer scores + identical interpolation arithmetic "
        "on both engines keep the threshold bit-identical."
    ),
)
def text_quality_filter_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_words")
    )
    thresh = scored.agg(
        F.percentile("n_words", F.lit(0.75)).alias("p75")
    )
    return (
        scored.join(F.broadcast(thresh))
        .where(F.col("n_words") > F.col("p75"))
        .select("doc_id", "n_words")
        .orderBy("doc_id")
    )


# -- Inverted index (word -> posting list) ------------------------------------

_ORACLE_INVERTED = """
WITH w AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
  FROM documents
),
df AS (SELECT word, count(*) AS df FROM w GROUP BY 1),
pick AS (SELECT word, df FROM df ORDER BY df, word LIMIT 10)
SELECT p.word, p.df,
       string_agg(CAST(w.doc_id AS VARCHAR), ',' ORDER BY w.doc_id) AS postings
FROM pick p JOIN w ON p.word = w.word
GROUP BY p.word, p.df
ORDER BY p.word
"""


@register(
    "corpus_inverted_index",
    oracle=_ORACLE_INVERTED,
    tags=("text", "corpus", "agg"),
    doc=(
        "Inverted-index build for the 10 rarest terms: explode to distinct "
        "(word, doc) postings — the one wide shuffle, map-side combined — "
        "rank terms by document frequency, and materialize each picked "
        "term's posting list numerically sorted (rendered as CSV so the "
        "cross-engine hash is order-stable). The posting-list build behind "
        "keyword search and the gram->docs lookups the dedup ops use; at "
        "100 TB the df ranking prunes before any list materializes, and "
        "per-term lists shard by (term, bucket) when a term's postings "
        "outgrow a task."
    ),
)
def corpus_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).distinct()
    df = w.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    pick = df.orderBy("df", "word").limit(10)
    return (
        w.join(F.broadcast(pick), "word")
        .groupBy("word", "df")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings")
        )
        .orderBy("word")
    )


# -- Boolean keyword search (posting intersection) ----------------------------

_ORACLE_BOOL_SEARCH = """
WITH w AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
  FROM documents
)
SELECT doc_id
FROM w
WHERE word IN ('window', 'merge')
GROUP BY doc_id
HAVING count(DISTINCT word) = 2
ORDER BY doc_id
"""


@register(
    "corpus_boolean_search",
    oracle=_ORACLE_BOOL_SEARCH,
    tags=("text", "corpus", "agg"),
    doc=(
        "Conjunctive keyword search (docs containing ALL query terms) as "
        "posting-list intersection: filter the exploded postings to the "
        "query terms FIRST — the IN-list prunes at the scan, so only "
        "matching postings ever shuffle — then one count-distinct HAVING "
        "per doc. Generalizes to any term count without a join chain; "
        "the semi-join-per-term alternative costs one shuffle per term."
    ),
)
def corpus_boolean_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    terms = ["window", "merge"]
    return (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word").isin(terms))
        .groupBy("doc_id")
        .agg(F.countDistinct("word").alias("nt"))
        .where(F.col("nt") == len(terms))
        .select("doc_id")
        .orderBy("doc_id")
    )


# -- Feature hashing (the hashing-trick vectorizer) ----------------------------

_FH_BUCKETS = 64

_ORACLE_FEATURE_HASH = rf"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
  FROM documents
)
SELECT doc_id,
       CAST(((CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % {_FH_BUCKETS})
             + {_FH_BUCKETS}) % {_FH_BUCKETS} AS BIGINT) AS bucket,
       COUNT(*) AS tf
FROM toks
GROUP BY 1, 2
ORDER BY doc_id, bucket
"""


@register(
    "text_feature_hashing",
    oracle=_ORACLE_FEATURE_HASH,
    tags=("text", "ml", "north-star"),
    doc=(
        f"Hashing-trick vectorization: tokens -> md5-derived bucket in "
        f"[0, {_FH_BUCKETS}) -> per-doc term frequencies. The fixed-width, "
        "vocabulary-free featurizer a distributed classifier pipeline "
        "needs (no global vocab build, no fit step, reproducible under "
        "any partitioning — md5 is the cross-engine hash family). One "
        "explode + one hash aggregate; sparse output rows."
    ),
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = spread(docs, "doc_id")  # explicit width: see spread()
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"),
    )
    bucket = (
        md5_u32("tok")
        % _FH_BUCKETS
        + _FH_BUCKETS
    ) % _FH_BUCKETS
    return (
        toks.select("doc_id", bucket.cast("long").alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy("doc_id", "bucket")
    )


# -- Corpus token budget (scaling-law accounting) ------------------------------

_ORACLE_TOKEN_BUDGET = r"""
WITH per AS (
  SELECT source, lang,
         COUNT(*) AS n_docs,
         CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY 1, 2
),
tot AS (SELECT SUM(n_tokens) AS all_tokens FROM per)
SELECT p.source, p.lang, p.n_docs, p.n_tokens,
       CAST(p.n_tokens * 1000000 // t.all_tokens AS BIGINT) AS share_ppm,
       CAST(SUM(p.n_tokens) OVER (ORDER BY p.n_tokens DESC, p.source, p.lang
                                  ROWS UNBOUNDED PRECEDING)
            * 1000000 // t.all_tokens AS BIGINT) AS cum_share_ppm
FROM per p, tot t
ORDER BY p.n_tokens DESC, p.source, p.lang
"""


@register(
    "corpus_token_budget",
    oracle=_ORACLE_TOKEN_BUDGET,
    tags=("text", "training", "north-star"),
    doc=(
        "Corpus token-budget accounting per (source, lang): document and "
        "whitespace-token totals, floor-ppm share, and cumulative share "
        "down the size ranking — the mixture-planning report a training "
        "run starts from. Token counting is one map-side-combinable "
        "aggregate; the running share is a window over the tiny "
        "(source x lang) grid."
    ),
)
def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.trim("text"), r"\s+")))
        .cast("long")
        .alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_tokens").alias("all_tokens"))
    w = W.orderBy(F.col("n_tokens").desc(), "source", "lang").rowsBetween(
        W.unboundedPreceding, 0
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .select(
            "source",
            "lang",
            "n_docs",
            "n_tokens",
            F.expr("n_tokens * 1000000 div all_tokens").cast("long").alias(
                "share_ppm"
            ),
            F.expr("cum_tokens * 1000000 div all_tokens")
            .cast("long")
            .alias("cum_share_ppm"),
        )
        .orderBy(F.col("n_tokens").desc(), "source", "lang")
    )


# -- Unigram-LM surprisal (perplexity-proxy quality scoring) -------------------

_ORACLE_SURPRISAL = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
  FROM documents WHERE length(trim(text)) > 0
),
vocab AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
total AS (SELECT SUM(c) AS n FROM vocab)
SELECT t.doc_id,
       COUNT(*) AS n_toks,
       round(SUM(-ln(CAST(v.c AS DOUBLE) / tt.n)) / COUNT(*), 6)
         AS avg_surprisal
FROM toks t JOIN vocab v ON t.tok = v.tok CROSS JOIN total tt
GROUP BY t.doc_id
ORDER BY t.doc_id
"""


@register(
    "text_unigram_surprisal",
    oracle=_ORACLE_SURPRISAL,
    tags=("text", "quality", "north-star"),
    doc=(
        "Perplexity-proxy quality scoring: average per-token surprisal "
        "under the corpus unigram LM (-ln p, corpus-wide probabilities) — "
        "the language-model-based quality gate next to the doc-local "
        "entropy signal (text_word_entropy scores the doc's own "
        "distribution; this scores it against the corpus). Vocabulary "
        "aggregates map-side; the token->vocab join broadcasts when the "
        "vocab is small and shuffles on the token key otherwise (AQE "
        "decides); the corpus total is one scalar broadcast."
    ),
)
def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim("text")) > 0
    )
    docs = spread(docs, "doc_id")  # explicit width: see spread()
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("n"))
    return (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.round(
                F.sum(-F.log(F.col("c").cast("double") / F.col("n")))
                / F.count(F.lit(1)),
                6,
            ).alias("avg_surprisal"),
        )
        .orderBy("doc_id")
    )


# -- Bloom-gated decontamination (big-reference-set scale path) ---------------

_ORACLE_DECONTAMINATE_BLOOM = """
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
idx AS (
  SELECT doc_id, w, unnest(range(1, len(w) - 2)) AS i
  FROM words WHERE len(w) >= 4
),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+3], ' ') AS g FROM idx
),
eval_grams AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0
)
SELECT t.doc_id, count(*) AS n_overlap
FROM grams t
JOIN eval_grams e USING (g)
WHERE t.doc_id % 20 <> 0
GROUP BY t.doc_id
ORDER BY doc_id
"""


@register(
    "text_decontaminate_bloom",
    oracle=_ORACLE_DECONTAMINATE_BLOOM,
    tags=("text", "dedup", "training", "sketch"),
    doc=(
        "Decontamination for the regime where the benchmark gram set is too "
        "large to broadcast as a hash join side: a bloom filter over the "
        "eval grams (one map-side-combinable bit_or aggregate; <= m/64 rows "
        "shuffled, 16 KB of sketch state collected) gates the training gram "
        "stream with a pure-codegen membership test (literal bitset, "
        "xxhash64 probes — no join, no Python), and only the surviving "
        "~contaminated + FP-rate fraction reaches the exact verify join. "
        "The verify join keeps the result EXACT (bloom false positives are "
        "eliminated), so the query stays value-oracle-checkable while the "
        "wide gram-key exchange shrinks from the full corpus to the "
        "candidate sliver."
    ),
)
def text_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import bloom_build, bloom_might_contain

    pin_query_session_conf(spark)
    m_bits, k = 1 << 17, 4
    docs = load_table(spark, sf_dir, "documents")
    # RAW gram stream, no pre-distinct: the bloom gate must be the FIRST
    # thing the training grams meet — a global distinct would shuffle the
    # entire gram stream before any pruning, defeating the sketch.
    grams = (
        spread(docs, "doc_id")
        .select("doc_id", F.split("text", " ").alias("w"))
        .where(F.size("w") >= 4)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - 3),
                    lambda i: F.array_join(F.slice(F.col("w"), i, 4), " "),
                )
            ).alias("g"),
        )
    )
    # Materialized once (localCheckpoint: consumed twice — bloom build +
    # exact verify — and bloom_build collects at construction anyway, so
    # the eager checkpoint adds no job; unlike persist the blocks release
    # on GC instead of pinning shared-session storage, r12).  It is the
    # SMALL side — the big training gram stream is never materialized.
    eval_grams = (
        grams.where(F.col("doc_id") % 20 == 0)
        .select("g")
        .distinct()
        .localCheckpoint(eager=True)
    )
    bits = bloom_build(eval_grams, "g", m_bits, k)
    candidates = grams.where(F.col("doc_id") % 20 != 0).where(
        bloom_might_contain(bits, "g", m_bits, k)
    )
    return (
        candidates.join(eval_grams, "g")  # exact verify: kills bloom FPs
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_overlap"))
        .orderBy("doc_id")
    )


# -- Bigram-LM perplexity (sequence-aware quality gate) ------------------------

_ORACLE_BIGRAM_PPL = r"""
WITH words AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
  FROM documents WHERE length(trim(text)) > 0
),
big AS (
  SELECT doc_id, w[i] AS prev, w[i+1] AS cur
  FROM words, unnest(range(1, len(w))) AS t(i)
  WHERE len(w) >= 2
),
c2 AS (SELECT prev, cur, COUNT(*) AS c2 FROM big GROUP BY prev, cur),
c1 AS (SELECT prev, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY prev),
v AS (
  SELECT COUNT(DISTINCT tok) AS v FROM (
    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
    FROM documents WHERE length(trim(text)) > 0)
)
SELECT b.doc_id,
       COUNT(*) AS n_bigrams,
       round(exp(SUM(-ln((CAST(cc.c2 AS DOUBLE) + 1)
                         / (CAST(c1.c1 AS DOUBLE) + v.v))) / COUNT(*)), 6)
         AS ppl
FROM big b
JOIN c2 cc ON b.prev = cc.prev AND b.cur = cc.cur
JOIN c1 ON b.prev = c1.prev
CROSS JOIN v
GROUP BY b.doc_id
ORDER BY b.doc_id
"""


@register(
    "text_bigram_perplexity",
    oracle=_ORACLE_BIGRAM_PPL,
    tags=("text", "quality", "north-star"),
    doc=(
        "Sequence-aware LM quality gate: per-document perplexity under an "
        "add-one-smoothed corpus bigram model — catches word-salad documents "
        "whose unigram distribution looks normal (text_unigram_surprisal's "
        "blind spot). Bigrams come from a pure array expression (no "
        "self-join on position); bigram/context counts are two map-side-"
        "combinable aggregates; the scoring joins shuffle on token keys "
        "(AQE broadcasts when the model is small) and |V| is one scalar "
        "broadcast."
    ),
)
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim("text")) > 0
    )
    docs = spread(docs, "doc_id")
    words = docs.select(
        "doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("w")
    )
    big = (
        words.where(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w) - 2),"
                    " i -> struct(w[i] AS prev, w[i + 1] AS cur))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.prev", "b.cur")
    )
    c2 = big.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("prev").agg(F.sum("c2").cast("long").alias("c1"))
    vocab = (
        docs.select(
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok")
        )
        .agg(F.count_distinct("tok").alias("v"))
    )
    return (
        big.join(c2, ["prev", "cur"])
        .join(c1, "prev")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.exp(
                    F.sum(
                        -F.log(
                            (F.col("c2").cast("double") + 1)
                            / (F.col("c1").cast("double") + F.col("v"))
                        )
                    )
                    / F.count(F.lit(1))
                ),
                6,
            ).alias("ppl"),
        )
        .orderBy("doc_id")
    )


# -- Near-dup (LSH) train/eval decontamination --------------------------------

_ORACLE_DECONTAM_LSH = """
WITH sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i : i + 2], ' ') AS s
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        FROM documents),
       unnest(range(1, len(t) - 1)) AS r(i)
  WHERE len(t) >= 3
),
mh AS (
  SELECT doc_id, r.i AS hi,
         MIN(('0x' || substr(md5(CAST(r.i AS VARCHAR) || ':' || s), 1, 8))::BIGINT)
           AS h
  FROM sh, unnest(range(0, 16)) AS r(i)
  GROUP BY doc_id, r.i
),
sig AS (
  SELECT doc_id, list(h ORDER BY hi) AS sig FROM mh GROUP BY doc_id
),
band AS (
  SELECT doc_id, b.j AS band_id,
         md5(array_to_string(sig[b.j * 4 + 1 : b.j * 4 + 4], ':')) AS bh
  FROM sig, unnest(range(0, 4)) AS b(j)
),
cand AS (
  SELECT DISTINCT tr.doc_id, ev.doc_id AS eval_doc_id
  FROM band tr
  JOIN band ev ON tr.band_id = ev.band_id AND tr.bh = ev.bh
  WHERE tr.doc_id % 20 <> 0 AND ev.doc_id % 20 = 0
)
SELECT c.doc_id, c.eval_doc_id,
       CAST(len(list_filter(range(1, 17), k -> st.sig[k] = se.sig[k]))
            AS BIGINT) AS n_match
FROM cand c
JOIN sig st ON st.doc_id = c.doc_id
JOIN sig se ON se.doc_id = c.eval_doc_id
WHERE len(list_filter(range(1, 17), k -> st.sig[k] = se.sig[k])) >= 8
ORDER BY c.doc_id, c.eval_doc_id
"""


@register(
    "text_decontaminate_lsh",
    oracle=_ORACLE_DECONTAM_LSH,
    tags=("text", "dedup", "minhash", "training", "north-star"),
    doc=(
        "NEAR-DUP train/eval decontamination: flag training documents "
        "(doc_id % 20 <> 0) that are MinHash-LSH near-duplicates of any "
        "held-out eval document (doc_id % 20 = 0) — the paraphrase-level "
        "contamination that text_decontaminate_ngram's exact 4-gram match "
        "misses (a reworded benchmark item shares few exact 4-grams but "
        "most of its shingle set). md5 cross-engine family: 16-min "
        "signatures, 4x4 bands, candidates from the train-band x eval-band "
        "equi-join (never all-pairs; the eval side is tiny so its band "
        "table broadcasts at scale), verified at signature match >= 8/16 "
        "(est. Jaccard >= 0.5). Output = (train doc, eval doc, n_match) "
        "pairs, value-exact cross-engine."
    ),
)
def text_decontaminate_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, num_hashes=MD5_K, family=MD5).persist()
    bands = lsh_bands(sig, MD5_BANDS, MD5_ROWS, MD5)
    tr = bands.where(F.col("doc_id") % 20 != 0)
    ev = bands.where(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("eval_doc_id"), "band_id", "bh"
    )
    cand = (
        tr.join(F.broadcast(ev), ["band_id", "bh"])
        .select("doc_id", "eval_doc_id")
        .distinct()
    )
    st = sig.select("doc_id", F.col("sig").alias("sig_t"))
    se = sig.select(
        F.col("doc_id").alias("eval_doc_id"), F.col("sig").alias("sig_e")
    )
    n_match = signature_matches("sig_t", "sig_e").cast("long")
    return (
        cand.join(st, "doc_id")
        .join(F.broadcast(se), "eval_doc_id")
        .select("doc_id", "eval_doc_id", n_match.alias("n_match"))
        .where(F.col("n_match") >= MD5_MIN_MATCH)
        .orderBy("doc_id", "eval_doc_id")
    )


# ---------------------------------------------------------------------------
# Gopher-style rule battery (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", Appendix A1.1).
# ---------------------------------------------------------------------------

#: The published battery's stopword-presence rule uses a tiny fixed list;
#: thresholds below are config (the paper's 50..100k word bounds would
#: reject the entire ~30-word fixture corpus, so fixture-visible values are
#: pinned here — the STRUCTURE of the battery is the operator contract).
_GOPHER_STOPS = ("the", "a", "and", "of", "to", "in", "is", "on", "that", "with")
_GOPHER_MIN_WORDS = 10
_GOPHER_MAX_WORDS = 1000
_GOPHER_MIN_MWL_BP = 20_000  # mean word length >= 2.0 chars
_GOPHER_MAX_MWL_BP = 80_000  # mean word length <= 8.0 chars
_GOPHER_MIN_STOPS = 2
_GOPHER_MIN_DISTINCT_BP = 2_000  # >= 20% distinct words (repetition gate)

_ORACLE_GOPHER = f"""
WITH w AS (
  SELECT doc_id,
         string_split(text, ' ') AS words,
         length(replace(text, ' ', '')) AS n_chars_ns
  FROM documents
),
m AS (
  SELECT doc_id,
         len(words) AS n_words,
         (10000 * n_chars_ns) // greatest(len(words), 1) AS mean_wordlen_bp,
         len(list_filter(words,
             x -> list_contains({list(_GOPHER_STOPS)!r}, x))) AS stop_hits,
         (10000 * len(list_distinct(words)))
             // greatest(len(words), 1) AS distinct_ratio_bp
  FROM w
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(mean_wordlen_bp AS BIGINT) AS mean_wordlen_bp,
       CAST(stop_hits AS BIGINT) AS stop_hits,
       CAST(distinct_ratio_bp AS BIGINT) AS distinct_ratio_bp,
       CAST(CASE WHEN n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
                  AND mean_wordlen_bp
                      BETWEEN {_GOPHER_MIN_MWL_BP} AND {_GOPHER_MAX_MWL_BP}
                  AND stop_hits >= {_GOPHER_MIN_STOPS}
                  AND distinct_ratio_bp >= {_GOPHER_MIN_DISTINCT_BP}
            THEN 1 ELSE 0 END AS INT) AS keep
FROM m
ORDER BY doc_id
"""


@register(
    "text_gopher_quality_rules",
    oracle=_ORACLE_GOPHER,
    tags=("text", "quality", "north-star"),
    doc=(
        "Gopher-style quality rule battery (Rae et al. 2021 App. A1.1): "
        "word-count bounds, mean-word-length bounds, minimum stopword "
        "hits, and a distinct-word-ratio repetition gate, each emitted as "
        "an inspectable metric plus a combined keep flag. All ratios are "
        "integer basis points (floor division of exact int counts) so the "
        "flags are bit-identical cross-engine. Pure per-row JVM array "
        "expressions — no UDF, no shuffle except the presentation sort; "
        "at 100 TB this is a stateless map over the corpus scan."
    ),
)
def text_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    return gopher_metrics(docs).orderBy("doc_id")


def gopher_metrics(docs: DataFrame) -> DataFrame:
    """(doc_id, n_words, mean_wordlen_bp, stop_hits, distinct_ratio_bp,
    keep) Gopher rule metrics — shared by the standalone battery query and
    the end-to-end training funnel."""
    stops = F.array(*[F.lit(s) for s in _GOPHER_STOPS])
    words = F.split(F.col("text"), " ")
    base = docs.select(
        "doc_id",
        words.alias("words"),
        F.length(F.regexp_replace("text", " ", "")).alias("n_chars_ns"),
    )
    n_words = F.size("words").cast("long")
    mwl = F.expr("(10000 * n_chars_ns) div greatest(size(words), 1)")
    stop_hits = F.size(
        F.filter("words", lambda w: F.array_contains(stops, w))
    ).cast("long")
    distinct_bp = F.expr(
        "(10000 * size(array_distinct(words))) div greatest(size(words), 1)"
    )
    m = base.select(
        "doc_id",
        n_words.alias("n_words"),
        mwl.alias("mean_wordlen_bp"),
        stop_hits.alias("stop_hits"),
        distinct_bp.alias("distinct_ratio_bp"),
    )
    keep = (
        F.col("n_words").between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
        & F.col("mean_wordlen_bp").between(_GOPHER_MIN_MWL_BP, _GOPHER_MAX_MWL_BP)
        & (F.col("stop_hits") >= _GOPHER_MIN_STOPS)
        & (F.col("distinct_ratio_bp") >= _GOPHER_MIN_DISTINCT_BP)
    )
    return m.withColumn("keep", keep.cast("int"))


# ---------------------------------------------------------------------------
# URL canonicalization + per-URL dedup (the web-crawl ingestion step).
# ---------------------------------------------------------------------------

_ORACLE_URL_DEDUP = """
WITH u AS (
  -- synthetic raw URLs (corpus has none): case noise, default port, a
  -- dot-segment path, unsorted query params, and a unique fragment — the
  -- exact denormalizations the canonicalizer must erase
  SELECT doc_id,
         'HTTP://WWW.Site' || CAST(doc_id % 7 AS VARCHAR)
           || '.COM:80/a/./b' || CAST(doc_id % 13 AS VARCHAR)
           || '/skip/../c?z=1&a=' || CAST(doc_id % 3 AS VARCHAR)
           || '&m=2#frag' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
),
parts AS (
  SELECT doc_id,
         lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
         regexp_replace(
           regexp_replace(
             lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
             '^www\\.', ''),
           ':(80|443)$', '') AS host,
         regexp_replace(
           replace(regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),
                   '/./', '/'),
           '/[^/]+/\\.\\./', '/') AS path,
         array_to_string(
           list_sort(string_split(regexp_extract(url, '\\?([^#]*)', 1), '&')),
           '&') AS query
  FROM u
),
canon AS (
  SELECT doc_id,
         scheme || '://' || host || path || '?' || query AS canonical_url
  FROM parts
)
SELECT canonical_url,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS canonical_doc_id
FROM canon
GROUP BY canonical_url
ORDER BY canonical_url
"""


@register(
    "web_url_canonical_dedup",
    oracle=_ORACLE_URL_DEDUP,
    tags=("text", "dedup", "web", "north-star"),
    doc=(
        "URL canonicalization + per-URL dedup, the first dedup pass of "
        "every web-crawl pipeline (cheaper than any content hash): "
        "lowercase scheme/host, strip leading www. and default ports, "
        "resolve ./ and x/../ dot segments, sort query parameters, drop "
        "the fragment, then keep the min doc_id per canonical URL. The "
        "corpus has no URLs, so deterministic raw URLs are synthesized "
        "from doc_id (same augment-then-operate contract as "
        "text_scrub_pii) and the oracle applies the identical augmentation "
        "— the regex/normalize/dedup semantics are value-verified. "
        "Stateless per-row string expressions + one hash aggregate; "
        "group count is bounded by the canonical-URL space."
    ),
)
def web_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTP://WWW.Site"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".COM:80/a/./b"),
        (F.col("doc_id") % 13).cast("string"),
        F.lit("/skip/../c?z=1&a="),
        (F.col("doc_id") % 3).cast("string"),
        F.lit("&m=2#frag"),
        F.col("doc_id").cast("string"),
    )
    u = docs.select("doc_id", url.alias("url"))
    scheme = F.lower(F.regexp_extract("url", "^([A-Za-z]+)://", 1))
    host = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_extract("url", "^[A-Za-z]+://([^/?#]+)", 1)),
            "^www\\.",
            "",
        ),
        ":(80|443)$",
        "",
    )
    path = F.regexp_replace(
        F.regexp_replace(
            F.regexp_extract("url", "^[A-Za-z]+://[^/?#]+([^?#]*)", 1),
            "/\\./",
            "/",
        ),
        "/[^/]+/\\.\\./",
        "/",
    )
    query = F.array_join(
        F.array_sort(F.split(F.regexp_extract("url", "\\?([^#]*)", 1), "&")),
        "&",
    )
    canon = u.select(
        "doc_id",
        F.concat(scheme, F.lit("://"), host, path, F.lit("?"), query).alias(
            "canonical_url"
        ),
    )
    return (
        canon.groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .orderBy("canonical_url")
    )


# ---------------------------------------------------------------------------
# Consistent PII pseudonymization (referential-integrity-preserving redaction).
# ---------------------------------------------------------------------------

_ORACLE_PSEUDONYMIZE = """
WITH augmented AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id % 50 AS VARCHAR)
              || '@mail.example.com and user' || CAST(doc_id % 37 AS VARCHAR)
              || '@mail.example.com' AS raw
  FROM documents
),
ex AS (
  SELECT doc_id, raw,
         list_sort(list_distinct(regexp_extract_all(raw,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))) AS ems
  FROM augmented
),
ps AS (
  SELECT doc_id, ems,
         list_reduce(
           list_prepend(raw, ems),
           (acc, e) -> replace(acc, e,
             'u' || substr(md5(e), 1, 8) || '@redacted.example')) AS clean
  FROM ex
)
SELECT doc_id,
       CAST(len(ems) AS BIGINT) AS n_pii,
       'u' || substr(md5(ems[1]), 1, 8) AS first_token,
       md5(clean) AS clean_hash
FROM ps
ORDER BY doc_id
"""


@register(
    "text_pii_pseudonymize",
    oracle=_ORACLE_PSEUDONYMIZE,
    tags=("text", "cleaning", "north-star"),
    doc=(
        "Consistent PII pseudonymization: every email is replaced by a "
        "STABLE token derived from its md5 (u<md5[:8]>@redacted.example), "
        "so the same address maps to the same token in every document — "
        "unlike text_scrub_pii's <EMAIL> blanket, downstream joins and "
        "frequency analyses on the redacted corpus still work. The "
        "synthetic emails are shared across documents (doc_id % 50 / % 37 "
        "address pools) precisely so cross-document consistency is part "
        "of what the oracle verifies. Extraction is regexp_extract_all, "
        "replacement is a fold (aggregate) over the sorted distinct "
        "matches — pure JVM expressions, stateless per row, no shuffle "
        "except the presentation sort."
    ),
)
def text_pii_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit("@mail.example.com and user"),
        (F.col("doc_id") % 37).cast("string"),
        F.lit("@mail.example.com"),
    )
    ex = docs.select(
        "doc_id",
        raw.alias("raw"),
        F.array_sort(
            F.array_distinct(
                F.regexp_extract_all("raw", F.lit(EMAIL_RE), 0)
            )
        ).alias("ems"),
    )

    def _pseudo(e):
        return F.concat(
            F.lit("u"), F.substring(F.md5(e), 1, 8), F.lit("@redacted.example")
        )

    ps = ex.select(
        "doc_id",
        "ems",
        F.aggregate(
            "ems", F.col("raw"), lambda acc, e: F.replace(acc, e, _pseudo(e))
        ).alias("clean"),
    )
    return ps.select(
        "doc_id",
        F.size("ems").cast("long").alias("n_pii"),
        F.concat(
            F.lit("u"), F.substring(F.md5(F.element_at("ems", 1)), 1, 8)
        ).alias("first_token"),
        F.md5("clean").alias("clean_hash"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Hashed linear quality classifier (fastText-style scoring pass).
# ---------------------------------------------------------------------------

#: Hashing-trick dimensionality and the deterministic stand-in weights.
#: Real weights come out of training and arrive as a (bucket, w) table —
#: the stand-in derives them from the bucket id (Knuth multiplicative hash
#: onto [-1000, 1000]) so the oracle can rebuild the identical table.
_CLS_BUCKETS = 1024
_CLS_WEIGHT_EXPR = "(bucket * 2654435761) % 2147483648 % 2001 - 1000"

_ORACLE_QUALITY_CLASSIFIER = f"""
WITH weights AS (
  SELECT i AS bucket,
         (i * 2654435761) % 2147483648 % 2001 - 1000 AS w
  FROM unnest(range(0, {_CLS_BUCKETS})) AS r(i)
),
toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM documents WHERE length(trim(text)) > 0
),
bt AS (
  SELECT doc_id,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT % {_CLS_BUCKETS} AS bucket
  FROM toks
)
SELECT bt.doc_id,
       COUNT(*) AS n_toks,
       CAST(SUM(w.w) AS BIGINT) AS score,
       CAST(CASE WHEN SUM(w.w) > 0 THEN 1 ELSE 0 END AS INT) AS keep
FROM bt JOIN weights w USING (bucket)
GROUP BY bt.doc_id
ORDER BY bt.doc_id
"""


@register(
    "text_quality_classifier_linear",
    oracle=_ORACLE_QUALITY_CLASSIFIER,
    tags=("text", "quality", "ml", "north-star"),
    doc=(
        "fastText-style hashed linear quality classifier — the scoring "
        "pass CCNet/DCLM-class pipelines run with a trained model: tokens "
        f"hash into {_CLS_BUCKETS} buckets (hashing trick, md5 family), a "
        "(bucket, weight) table joins in BROADCAST (that is the real "
        "plumbing — learned weights arrive as a table, not code), and the "
        "per-document score is one map-side-combinable integer sum with a "
        "sign gate. Weights here are a deterministic stand-in derived "
        "from the bucket id so the oracle rebuilds the identical table; "
        "swapping in trained weights changes one DataFrame, not the "
        "plan. At 100 TB: stateless token map + broadcast join + hash "
        "aggregate — no shuffle wider than the per-doc reduce."
    ),
)
def text_quality_classifier_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim("text")) > 0
    )
    docs = spread(docs, "doc_id")  # explicit width: see spread()
    weights = (
        spark.range(_CLS_BUCKETS)
        .select(F.col("id").alias("bucket"))
        .select("bucket", F.expr(_CLS_WEIGHT_EXPR).cast("long").alias("w"))
    )
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"),
    )
    bt = toks.select(
        "doc_id", (md5_u32(F.col("tok")) % _CLS_BUCKETS).alias("bucket")
    )
    return (
        bt.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum("w").cast("long").alias("score"),
        )
        .select(
            "doc_id",
            "n_toks",
            "score",
            (F.col("score") > 0).cast("int").alias("keep"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Phrase-blocklist document filter (C4's "bad words" gate, phrase-aware).
# ---------------------------------------------------------------------------

#: Blocked phrases (word-boundary, 1-3 words). Multi-word entries are why
#: a LIKE/contains scan is the wrong shape: matching must respect word
#: boundaries and the list is consulted per N-GRAM, not per entry. The
#: gram lengths generated below are DERIVED from the longest entry (r4
#: verdict item 7) — hardcoded 1-2-gram generation silently never matched
#: a 3-word phrase.
_BAD_PHRASES = ("slow scan", "hash join", "dup", "sort merge join")

#: Longest blocked phrase in words — drives gram generation on BOTH engines.
_BAD_MAX_N = max(len(p.split()) for p in _BAD_PHRASES)


def _oracle_badwords() -> str:
    values = ", ".join(f"('{p}')" for p in _BAD_PHRASES)
    gram_selects = "\n  UNION ALL\n".join(
        f"""  SELECT doc_id,
         array_to_string(w[CAST(i AS INTEGER):CAST(i + {n - 1} AS INTEGER)],
                         ' ') AS g
  FROM toks, unnest(range(1, len(w) - {n} + 2)) AS t(i)"""
        for n in range(1, _BAD_MAX_N + 1)
    )
    return f"""
WITH bl AS (
  SELECT * FROM (VALUES {values}) AS t(phrase)
),
toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
  FROM documents
),
grams AS (
{gram_selects}
),
hits AS (
  SELECT doc_id, phrase FROM grams JOIN bl ON bl.phrase = grams.g
)
SELECT doc_id, COUNT(*) AS n_hits,
       array_to_string(list_sort(list(DISTINCT phrase)), ',') AS phrases
FROM hits GROUP BY doc_id ORDER BY doc_id
"""


@register(
    "text_badwords_filter",
    oracle=_oracle_badwords(),
    tags=("text", "quality", "cleaning", "north-star"),
    doc=(
        "Phrase-blocklist gate (C4's bad-words filter, phrase-aware): "
        "flag every document containing a blocked word or phrase on WORD "
        "boundaries — substring scans both over-match (a block entry "
        "inside a longer word) and cannot express multi-word phrases. "
        "Shape: each doc explodes into word 1..n-grams where n is DERIVED "
        "from the longest blocked phrase (NOT blocklist size), the phrase "
        "list joins as a broadcast equi-join on the gram, and one "
        "per-doc aggregate yields hit count + distinct offending "
        "phrases. Per-entry scanning (LIKE loops) is O(docs x entries); "
        "this is O(tokens) regardless of list size — the shape that "
        "holds with a 10k-entry list at 100 TB. Oracle builds the same "
        "grams in DuckDB."
    ),
)
def text_badwords_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("w")
    )
    # One sub-array of n-grams per n in 1.._BAD_MAX_N (derived from the
    # longest blocked phrase). The size guard matters: Spark's
    # sequence(1, stop) DESCENDS when stop < 1 instead of being empty.
    gram_arrays = [
        F.expr(
            f"if(size(w) >= {n},"
            f" transform(sequence(1, size(w) - {n} + 1),"
            f" i -> array_join(slice(w, i, {n}), ' ')),"
            " array())"
        )
        for n in range(1, _BAD_MAX_N + 1)
    ]
    grams = toks.select(
        "doc_id",
        F.explode(F.flatten(F.array(*gram_arrays))).alias("gram"),
    )
    bl = F.broadcast(
        docs.sparkSession.createDataFrame(
            [(p,) for p in _BAD_PHRASES], "phrase string"
        )
    )
    return (
        grams.join(bl, grams.gram == bl.phrase)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.array_join(F.array_sort(F.collect_set("phrase")), ",").alias(
                "phrases"
            ),
        )
        .orderBy("doc_id")
    )


# -- Multi-suite decontamination: every benchmark in ONE corpus scan ----------

_ORACLE_DECON_MULTISUITE = """
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
idx AS (
  SELECT doc_id, w, unnest(range(1, len(w) - 2)) AS i
  FROM words WHERE len(w) >= 4
),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+3], ' ') AS g FROM idx
),
ev AS (
  SELECT DISTINCT 's' || CAST(doc_id % 10 AS VARCHAR) AS suite, g
  FROM grams WHERE doc_id % 10 IN (0, 3, 7)
)
SELECT t.doc_id, e.suite, COUNT(DISTINCT t.g) AS n_overlap
FROM grams t JOIN ev e USING (g)
WHERE t.doc_id % 10 NOT IN (0, 3, 7)
GROUP BY t.doc_id, e.suite
ORDER BY doc_id, suite
"""


@register(
    "text_decontaminate_multisuite",
    oracle=_ORACLE_DECON_MULTISUITE,
    tags=("text", "dedup", "training", "north-star"),
    doc=(
        "Multi-benchmark decontamination in ONE corpus scan: production "
        "pipelines screen against MANY eval suites (MMLU, GSM8K, ...) at "
        "once, and the naive per-suite loop re-reads the 100 TB corpus k "
        "times. Here every suite's 4-gram set is tagged with its suite id "
        "and unioned into a single broadcast relation (doc_id % 10 in "
        "{0,3,7} stands in for three benchmarks); the training gram "
        "stream joins it ONCE map-side and a per-(doc, suite) distinct "
        "aggregate yields overlap counts per benchmark — corpus read "
        "cost is independent of the number of suites, and suites can be "
        "added by growing the broadcast, never by rescanning. Same "
        "scale shape as text_decontaminate_ngram (raw gram stream, "
        "broadcast filter before any wide exchange)."
    ),
)
def text_decontaminate_multisuite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    grams = (
        spread(docs, "doc_id")
        .select("doc_id", F.split("text", " ").alias("w"))
        .where(F.size("w") >= 4)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - 3),
                    lambda i: F.array_join(F.slice(F.col("w"), i, 4), " "),
                )
            ).alias("g"),
        )
    )
    is_eval = (F.col("doc_id") % 10).isin(0, 3, 7)
    eval_grams = (
        grams.where(is_eval)
        .select(
            F.concat(
                F.lit("s"), (F.col("doc_id") % 10).cast("string")
            ).alias("suite"),
            "g",
        )
        .distinct()
    )
    return (
        grams.where(~is_eval)
        .join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id", "suite")
        .agg(F.countDistinct("g").alias("n_overlap"))
        .orderBy("doc_id", "suite")
    )


# -- CCNet-style perplexity bucketing (head / middle / tail) -------------------

#: Per-(doc, token-type) surprisal contribution in integer micro-nats:
#: tf * floor(-1e6 * ln(p)). Floored per TYPE before the per-doc sum, so the
#: doc score is exact BIGINT arithmetic on both engines.
_CCNET_CONTRIB = (
    "tf * CAST(floor(-1000000.0 * ln(CAST(c AS DOUBLE) / n)) AS BIGINT)"
)

_ORACLE_CCNET = rf"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
  FROM documents WHERE length(trim(text)) > 0
),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
vocab AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
total AS (SELECT SUM(c) AS n FROM vocab),
scored AS (
  SELECT tf.doc_id,
         CAST(SUM(tf.tf) AS BIGINT) AS n_toks,
         SUM({_CCNET_CONTRIB}) // SUM(tf) AS mean_micro
  FROM tf JOIN vocab ON tf.tok = vocab.tok CROSS JOIN total
  GROUP BY tf.doc_id
),
cuts AS (
  SELECT quantile_cont(mean_micro, 1.0/3.0) AS t1,
         quantile_cont(mean_micro, 2.0/3.0) AS t2
  FROM scored
),
bucketed AS (
  SELECT CASE WHEN s.mean_micro <= c.t1 THEN 'head'
              WHEN s.mean_micro <= c.t2 THEN 'middle'
              ELSE 'tail' END AS ppl_bucket,
         s.n_toks, s.mean_micro
  FROM scored s CROSS JOIN cuts c
)
SELECT ppl_bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS total_toks,
       CAST(SUM(mean_micro) // COUNT(*) AS BIGINT) AS avg_mean_micro
FROM bucketed
GROUP BY 1 ORDER BY 1
"""


@register(
    "text_ccnet_perplexity_buckets",
    oracle=_ORACLE_CCNET,
    tags=("text", "quality", "training", "north-star"),
    doc=(
        "CCNet-style perplexity bucketing (Wenzek et al. 2020, "
        "arXiv:1911.00359 — public paper): score every document by mean "
        "per-token surprisal under the corpus unigram LM (the cheap "
        "stand-in for CCNet's KenLM; same plan shape — per-doc LM score, "
        "corpus-relative thresholds), cut the corpus at the exact "
        "interpolated tertiles, and report the head/middle/tail buckets "
        "CCNet keeps, reweights, or drops. Scores are tf-weighted "
        "integer micro-nats (floored per token TYPE before summation — "
        "exact BIGINT per-doc means); the tertile cut is a 2-value "
        "scalar-aggregate broadcast. At 100 TB: one (doc,token) hash agg "
        "+ one token-keyed model join (AQE-broadcast when the vocab is "
        "small), one percentile over per-doc scalars (swap "
        "approx_percentile at extreme doc counts — shape unchanged), one "
        "3-group rollup. Swapping a real KenLM scorer in means replacing "
        "the vocab join with a mapInPandas scorer; everything downstream "
        "is identical."
    ),
)
def text_ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim("text")) > 0
    )
    docs = spread(docs, "doc_id")  # explicit width: see spread()
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"),
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("n"))
    scored = (
        tf.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_toks"),
            F.expr(f"SUM({_CCNET_CONTRIB}) div SUM(tf)").alias("mean_micro"),
        )
    )
    cuts = scored.agg(
        F.percentile("mean_micro", F.lit(1.0 / 3.0)).alias("t1"),
        F.percentile("mean_micro", F.lit(2.0 / 3.0)).alias("t2"),
    )
    bucket = (
        F.when(F.col("mean_micro") <= F.col("t1"), "head")
        .when(F.col("mean_micro") <= F.col("t2"), "middle")
        .otherwise("tail")
    )
    return (
        scored.crossJoin(F.broadcast(cuts))
        .select(bucket.alias("ppl_bucket"), "n_toks", "mean_micro")
        .groupBy("ppl_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("total_toks"),
            F.expr("SUM(mean_micro) div COUNT(*)").alias("avg_mean_micro"),
        )
        .orderBy("ppl_bucket")
    )


_ORACLE_KNESER_NEY = r"""
WITH words AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
  FROM documents WHERE length(trim(text)) > 0
),
big AS (
  SELECT w[i] AS w1, w[i+1] AS w2
  FROM words, unnest(range(1, len(w))) AS t(i)
  WHERE len(w) >= 2
),
c2 AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2),
c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
              COUNT(*) AS n1p_fwd FROM c2 GROUP BY w1),
bwd AS (SELECT w2, COUNT(*) AS n1p_bwd FROM c2 GROUP BY w2),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM c2)
SELECT c2.w1, c2.w2, CAST(c2.c12 AS BIGINT) AS c12,
       round((CAST(c2.c12 AS DOUBLE) - 0.75) / CAST(c1.c1 AS DOUBLE)
             + 0.75 / CAST(c1.c1 AS DOUBLE) * CAST(c1.n1p_fwd AS DOUBLE)
               * (CAST(bwd.n1p_bwd AS DOUBLE) / CAST(t.n_types AS DOUBLE)),
             6) AS p_kn
FROM c2 JOIN c1 USING (w1) JOIN bwd USING (w2) CROSS JOIN t
ORDER BY c12 DESC, w1, w2 LIMIT 50
"""


@register(
    "text_kneser_ney_bigram",
    oracle=_ORACLE_KNESER_NEY,
    tags=("text", "lm", "north-star"),
    doc=(
        "Interpolated Kneser-Ney bigram model (discount 0.75) over the "
        "corpus — the smoothing KenLM-style n-gram quality filters "
        "(CCNet, Gopher pipelines) actually use, where add-one "
        "(text_bigram_perplexity) over-penalizes unseen continuations: "
        "P_KN(w2|w1) = max(c12-D,0)/c1 + D*N1+(w1,.)/c1 * Pcont(w2), "
        "Pcont(w2) = N1+(.,w2)/|bigram types|. Every statistic is an "
        "exact integer aggregate (bigram counts, per-context totals and "
        "continuation-type counts, backward-type counts, one scalar type "
        "total broadcast); the float formula is a single per-row "
        "expression, so the oracle matches bit-for-bit. Top-50 bigrams "
        "reported; max(c12-D,0) elided since c12 >= 1 > D on observed "
        "bigrams. Scale: three hash aggregations + token-key joins, AQE "
        "broadcasts the model sides when small."
    ),
)
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim("text")) > 0
    )
    words = docs.select(F.split(F.trim(F.lower("text")), r"\s+").alias("w"))
    big = (
        words.where(F.size("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w) - 2),"
                    " i -> struct(w[i] AS w1, w[i + 1] AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
    )
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = c2.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).alias("n1p_fwd"),
    )
    bwd = c2.groupBy("w2").agg(F.count(F.lit(1)).alias("n1p_bwd"))
    types = c2.agg(F.count(F.lit(1)).cast("long").alias("n_types"))
    d = F.lit(0.75)
    return (
        c2.join(c1, "w1")
        .join(bwd, "w2")
        .crossJoin(F.broadcast(types))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("bigint").alias("c12"),
            F.round(
                (F.col("c12").cast("double") - d) / F.col("c1").cast("double")
                + d / F.col("c1").cast("double")
                * F.col("n1p_fwd").cast("double")
                * (
                    F.col("n1p_bwd").cast("double")
                    / F.col("n_types").cast("double")
                ),
                6,
            ).alias("p_kn"),
        )
        .orderBy(F.desc("c12"), "w1", "w2")
        .limit(50)
    )


_ORACLE_READABILITY = r"""
WITH f AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n_words,
         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syll,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sent
  FROM documents WHERE length(trim(text)) > 0
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       CAST(n_syll AS BIGINT) AS n_syllables,
       CAST(n_sent AS BIGINT) AS n_sentences,
       round(206.835
             - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sent AS DOUBLE))
             - 84.6 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE)),
             4) AS flesch,
       round(0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sent AS DOUBLE))
             + 11.8 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE))
             - 15.59, 4) AS fk_grade
FROM f ORDER BY doc_id
"""


@register(
    "text_readability_scores",
    oracle=_ORACLE_READABILITY,
    tags=("text", "quality"),
    doc=(
        "Flesch reading-ease + Flesch-Kincaid grade per document — the "
        "readability band filter some curation recipes add next to the "
        "Gopher/C4 rules (too-low AND too-high readability both correlate "
        "with boilerplate). Syllables via the standard vowel-group "
        "heuristic (one regexp_extract_all count — the identical regex "
        "runs in both engines, so counts are exact integers), sentences "
        "via terminal-punctuation runs with a floor of 1; the two score "
        "formulas are single per-row float expressions over those exact "
        "integers. Pure expression layer: no shuffle at all before any "
        "downstream aggregate."
    ),
)
def text_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim("text")) > 0
    )
    n_words = F.size(F.split(F.trim(F.lower("text")), r"\s+"))
    n_syll = F.size(
        F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")
    )
    n_sent = F.greatest(
        F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1)
    )
    f = docs.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        n_syll.cast("bigint").alias("n_syllables"),
        n_sent.cast("bigint").alias("n_sentences"),
    )
    wps = F.col("n_words").cast("double") / F.col("n_sentences").cast("double")
    spw = F.col("n_syllables").cast("double") / F.col("n_words").cast("double")
    return f.select(
        "doc_id",
        "n_words",
        "n_syllables",
        "n_sentences",
        F.round(F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 4)
        .alias("flesch"),
        F.round(F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 4)
        .alias("fk_grade"),
    ).orderBy("doc_id")


_ORACLE_CROSSLINGUAL = r"""
WITH fp AS (
  SELECT doc_id, lang,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
           AS fingerprint
  FROM documents WHERE length(trim(text)) > 0
),
pairs AS (
  SELECT a.fingerprint,
         a.doc_id AS doc_a, a.lang AS lang_a,
         b.doc_id AS doc_b, b.lang AS lang_b
  FROM fp a JOIN fp b
    ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
  WHERE a.lang <> b.lang
)
SELECT lang_a, lang_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       MIN(doc_a) AS example_doc_a, MIN(doc_b) AS example_doc_b
FROM pairs GROUP BY lang_a, lang_b ORDER BY lang_a, lang_b
"""


@register(
    "text_crosslingual_contamination",
    oracle=_ORACLE_CROSSLINGUAL,
    tags=("text", "dedup", "quality"),
    doc=(
        "Cross-lingual contamination scan: documents whose normalized "
        "fingerprints collide ACROSS language labels — the signal for "
        "mislabeled language IDs, untranslated boilerplate leaking into "
        "every language bucket, or copy-through translation pairs (all "
        "three skew per-language mixture weights if unnoticed). One "
        "fingerprint hash aggregate + a self-equi-join on the "
        "fingerprint (pair work bounded per fingerprint by its "
        "duplicate-set size — the exact-dedup shape, never all-pairs), "
        "reported as a lang x lang collision matrix with example ids."
    ),
)
def text_crosslingual_contamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim("text")) > 0
    )
    fp = docs.select(
        "doc_id",
        "lang",
        F.md5(
            F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
        ).alias("fingerprint"),
    )
    a = fp.select(
        "fingerprint",
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
    )
    b = fp.select(
        "fingerprint",
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
    )
    return (
        a.join(b, "fingerprint")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("lang_a") != F.col("lang_b"))
        )
        .groupBy("lang_a", "lang_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.min("doc_a").alias("example_doc_a"),
            F.min("doc_b").alias("example_doc_b"),
        )
        .orderBy("lang_a", "lang_b")
    )


_ORACLE_QUALITY_ENSEMBLE = r"""
WITH sig AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n_words,
         len(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')))
           AS n_distinct,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS n_alpha
  FROM documents WHERE length(trim(text)) > 0
),
scored AS (
  SELECT doc_id,
         -- three orthogonal quality signals, each gated to [0, 1] in
         -- integer milli-units (exact): length band, lexical diversity,
         -- alphabetic purity
         CASE WHEN n_words BETWEEN 20 AND 1000 THEN 1000
              WHEN n_words BETWEEN 10 AND 2000 THEN 500
              ELSE 0 END AS len_score_m,
         least(CAST(2000 AS BIGINT) * n_distinct // n_words, 1000)
           AS div_score_m,
         CAST(1000 AS BIGINT) * n_alpha // n_chars AS alpha_score_m
  FROM sig
),
ens AS (
  SELECT doc_id,
         -- weighted ensemble (0.4 / 0.3 / 0.3) in exact integer units
         (4 * len_score_m + 3 * div_score_m + 3 * alpha_score_m) // 10
           AS ensemble_m
  FROM scored
)
SELECT CASE WHEN ensemble_m >= 900 THEN 'keep'
            WHEN ensemble_m >= 600 THEN 'review'
            ELSE 'drop' END AS verdict,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(ensemble_m) AS BIGINT) AS min_score_m,
       CAST(MAX(ensemble_m) AS BIGINT) AS max_score_m
FROM ens GROUP BY 1 ORDER BY 1
"""


@register(
    "text_quality_ensemble_gate",
    oracle=_ORACLE_QUALITY_ENSEMBLE,
    tags=("text", "quality", "north-star"),
    doc=(
        "Multi-signal quality ENSEMBLE gate (the DCLM-style practice of "
        "combining rule signals instead of trusting one): length band, "
        "lexical diversity (distinct/total), and alphabetic purity each "
        "score in integer milli-units, combine under 0.4/0.3/0.3 "
        "weights with INTEGER arithmetic (weights premultiplied by 10, "
        "floor division — no float ever appears), and the keep/review/"
        "drop verdict buckets summarize. All three signals come from "
        "ONE scan's expressions — composing more signals (Gopher rules, "
        "classifier margins, perplexity buckets, all present in this "
        "registry) extends the same single-scan shape."
    ),
)
def text_quality_ensemble_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim("text")) > 0
    )
    words = F.split(F.trim(F.lower("text")), r"\s+")
    sig = docs.select(
        "doc_id",
        F.size(words).cast("bigint").alias("n_words"),
        F.size(F.array_distinct(words)).cast("bigint").alias("n_distinct"),
        F.length("text").cast("bigint").alias("n_chars"),
        F.length(F.regexp_replace("text", "[^a-zA-Z ]", "")).cast("bigint")
        .alias("n_alpha"),
    )
    len_score = (
        F.when(F.col("n_words").between(20, 1000), 1000)
        .when(F.col("n_words").between(10, 2000), 500)
        .otherwise(0)
    ).cast("bigint")
    div_score = F.least(
        F.lit(2000).cast("bigint") * F.col("n_distinct") / F.col("n_words"),
        F.lit(1000).cast("bigint"),
    ).cast("bigint")
    alpha_score = (
        F.lit(1000).cast("bigint") * F.col("n_alpha") / F.col("n_chars")
    ).cast("bigint")
    scored = sig.select(
        "doc_id",
        len_score.alias("len_score_m"),
        div_score.alias("div_score_m"),
        alpha_score.alias("alpha_score_m"),
    )
    ens = scored.select(
        "doc_id",
        F.floor(
            (
                4 * F.col("len_score_m")
                + 3 * F.col("div_score_m")
                + 3 * F.col("alpha_score_m")
            )
            / 10
        ).cast("bigint").alias("ensemble_m"),
    )
    return (
        ens.select(
            F.when(F.col("ensemble_m") >= 900, "keep")
            .when(F.col("ensemble_m") >= 600, "review")
            .otherwise("drop")
            .alias("verdict"),
            "ensemble_m",
        )
        .groupBy("verdict")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("ensemble_m").cast("bigint").alias("min_score_m"),
            F.max("ensemble_m").cast("bigint").alias("max_score_m"),
        )
        .orderBy("verdict")
    )


# -- Model explanation: top-evidence attribution for the linear classifier ----

_ATTR_DOCS = 40  # deterministic explanation slice: doc_id < 40
_ATTR_TOPK = 3

_ORACLE_CLS_ATTRIBUTION = f"""
WITH weights AS (
  SELECT i AS bucket,
         (i * 2654435761) % 2147483648 % 2001 - 1000 AS w
  FROM unnest(range(0, {_CLS_BUCKETS})) AS r(i)
),
toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM documents
  WHERE length(trim(text)) > 0 AND doc_id < {_ATTR_DOCS}
),
bt AS (
  SELECT doc_id,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT % {_CLS_BUCKETS} AS bucket,
         COUNT(*) AS n
  FROM toks GROUP BY 1, 2
),
contrib AS (
  SELECT bt.doc_id, bt.bucket, CAST(bt.n AS BIGINT) AS n_toks,
         CAST(bt.n * w.w AS BIGINT) AS contribution
  FROM bt JOIN weights w USING (bucket)
),
doc AS (
  SELECT doc_id,
         CAST(SUM(contribution) AS BIGINT) AS score,
         CAST(SUM(abs(contribution)) AS BIGINT) AS abs_mass
  FROM contrib GROUP BY doc_id
),
ranked AS (
  SELECT c.*,
         ROW_NUMBER() OVER (PARTITION BY c.doc_id
                            ORDER BY abs(c.contribution) DESC, c.bucket)
           AS rnk
  FROM contrib c
)
SELECT r.doc_id, CAST(r.rnk AS BIGINT) AS rnk, r.bucket, r.n_toks,
       r.contribution, d.score,
       CAST(abs(r.contribution) * 1000000 // d.abs_mass AS BIGINT)
         AS share_ppm
FROM ranked r JOIN doc d USING (doc_id)
WHERE r.rnk <= {_ATTR_TOPK} AND d.abs_mass > 0
ORDER BY r.doc_id, r.rnk
"""


@register(
    "ml_classifier_attribution",
    oracle=_ORACLE_CLS_ATTRIBUTION,
    tags=("ml", "text", "eval"),
    doc=(
        "Model explanation for the hashed linear quality classifier "
        "(text_quality_classifier_linear): for each document in the "
        f"deterministic explanation slice (doc_id < {_ATTR_DOCS}), the "
        f"top-{_ATTR_TOPK} evidence buckets by |contribution| — for a "
        "linear model, per-feature contribution n_b * w_b IS the exact "
        "Shapley value, so this is exact SHAP with no sampling. Each "
        "row carries the bucket's token count, signed contribution, the "
        "document's total score, and the share of absolute evidence "
        "mass in floor-ppm — all exact BIGINTs. The audit surface every "
        "production quality gate needs ('WHY was this document "
        "dropped?'); the ranking window is per-DOCUMENT over its "
        "distinct buckets (<= 1024 rows by construction). Swapping in "
        "trained weights changes one DataFrame, not the plan."
    ),
)
def ml_classifier_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").where(
        (F.length(F.trim("text")) > 0) & (F.col("doc_id") < _ATTR_DOCS)
    )
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"),
    )
    bt = toks.select(
        "doc_id",
        (
            md5_u32("tok")
            % _CLS_BUCKETS
        ).alias("bucket"),
    ).groupBy("doc_id", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_toks")
    )
    weights = spark.range(_CLS_BUCKETS).select(
        F.col("id").alias("bucket"),
        F.expr(_CLS_WEIGHT_EXPR.replace("bucket", "id")).alias("w"),
    )
    contrib = bt.join(F.broadcast(weights), "bucket").select(
        "doc_id",
        "bucket",
        "n_toks",
        (F.col("n_toks") * F.col("w")).cast("bigint").alias("contribution"),
    )
    doc = contrib.groupBy("doc_id").agg(
        F.sum("contribution").cast("bigint").alias("score"),
        F.sum(F.abs("contribution")).cast("bigint").alias("abs_mass"),
    )
    wd = Window.partitionBy("doc_id").orderBy(
        F.abs(F.col("contribution")).desc(), "bucket"
    )
    ranked = contrib.withColumn("rnk", F.row_number().over(wd))
    return (
        ranked.where(F.col("rnk") <= _ATTR_TOPK)
        .join(doc.where(F.col("abs_mass") > 0), "doc_id")
        .select(
            "doc_id",
            F.col("rnk").cast("bigint").alias("rnk"),
            "bucket",
            "n_toks",
            "contribution",
            "score",
            F.expr(
                "CAST(abs(contribution) * 1000000 div abs_mass AS BIGINT)"
            ).alias("share_ppm"),
        )
        .orderBy("doc_id", "rnk")
    )
