"""Training-data pipeline operators (driver north star, beyond SURVEY §2).

Operations a large-scale LLM-data pipeline needs that the earlier modules do
not cover: deterministic hash-based dataset splits, document chunking with
overlap, corpus n-gram statistics, mergeable cardinality sketches, and a
stream-stream event join.

All are expressed in native Catalyst operators (no Python UDFs): at 100 TB
the split is a stateless per-row expression (no shuffle), chunking is a
per-row array expansion (no shuffle before the explode), bigram counting is
one partial+final hash aggregate, and HLL sketches merge associatively so
per-partition sketches combine without re-scanning.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.text import md5_u32
from ..session import pin_query_session_conf, stream_state_width
from ..streaming.windows import (
    clicks_purchases_join,
    read_events_stream,
    run_available_now,
)
from .registry import register

# ---------------------------------------------------------------------------
# Deterministic hash split: stable train/validation/test assignment.
# ---------------------------------------------------------------------------

_ORACLE_SPLIT = """
WITH b AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
           AS bucket
  FROM documents
)
SELECT doc_id, bucket,
       CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'validation'
            ELSE 'test' END AS split
FROM b
"""


@register(
    "sample_hash_split",
    oracle=_ORACLE_SPLIT,
    tags=("training", "north-star"),
    doc=(
        "Deterministic train/validation/test split (80/10/10) from the md5 "
        "of the document key: reproducible across runs, engines, and "
        "partitionings — unlike rng-based df.sample, a document never "
        "migrates between splits when the corpus grows. Pure per-row "
        "expression: no shuffle, no state, safe at any scale."
    ),
)
def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        md5_u32(F.col("doc_id").cast("string"))
        % 100
    )
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(F.col("bucket") < 80, "train")
        .when(F.col("bucket") < 90, "validation")
        .otherwise("test")
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# Document chunking with overlap (context-window preparation).
# ---------------------------------------------------------------------------

_CHUNK, _STRIDE = 200, 150

_ORACLE_CHUNKS = f"""
SELECT d.doc_id,
       CAST(u.i AS INT) AS chunk_id,
       substr(d.text, CAST(u.i AS INT) * {_STRIDE} + 1, {_CHUNK}) AS chunk_text,
       length(substr(d.text, CAST(u.i AS INT) * {_STRIDE} + 1, {_CHUNK}))
         AS chunk_len
FROM documents d,
     unnest(range(0, (length(d.text) - 1) // {_STRIDE} + 1)) AS u(i)
WHERE length(d.text) > 0
"""


@register(
    "text_chunk_overlap",
    oracle=_ORACLE_CHUNKS,
    tags=("text", "training", "north-star"),
    doc=(
        f"Document chunking: {_CHUNK}-char windows every {_STRIDE} chars "
        f"({_CHUNK - _STRIDE}-char overlap), the context-window prep step of "
        "an LLM data pipeline. Array-expression + posexplode (lateral-view "
        "shape): chunk generation is per-row with no shuffle; downstream "
        "ops see one row per chunk."
    ),
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    starts = F.sequence(
        F.lit(0), F.floor((F.length("text") - 1) / _STRIDE).cast("int")
    )
    chunks = F.transform(
        starts, lambda i: F.col("text").substr(i * _STRIDE + 1, F.lit(_CHUNK))
    )
    return docs.select(
        "doc_id", F.posexplode(chunks).alias("chunk_id", "chunk_text")
    ).withColumn("chunk_len", F.length("chunk_text"))


# ---------------------------------------------------------------------------
# Corpus n-gram statistics: global top bigrams.
# ---------------------------------------------------------------------------

_ORACLE_BIGRAMS = r"""
WITH toks AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents
  WHERE length(trim(text)) > 0
),
big AS (
  SELECT t[CAST(u.i AS INT)] || ' ' || t[CAST(u.i AS INT) + 1] AS bigram
  FROM toks, unnest(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
)
SELECT bigram, COUNT(*) AS n
FROM big
GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT 20
"""


@register(
    "corpus_top_bigrams",
    oracle=_ORACLE_BIGRAMS,
    tags=("text", "training", "north-star"),
    doc=(
        "Corpus-level n-gram statistics: top-20 bigrams across all "
        "documents — per-row tokenize + zip_with bigram build (no UDF), "
        "explode, one partial+final hash aggregate, deterministic top-k."
    ),
)
def corpus_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim(F.col("text"))) > 0
    )
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    return (
        docs.select(toks.alias("toks"))
        .where(F.size("toks") >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("toks"), 1, F.size("toks") - 1),
                    F.slice(F.col("toks"), 2, F.size("toks") - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            ).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Mergeable cardinality sketches (HLL): per-group + union rollup.
# ---------------------------------------------------------------------------


@register(
    "agg_hll_sketch_users",
    oracle=None,  # estimate is engine-specific; bounds pinned by unit test
    tags=("agg", "sketch", "training"),
    doc=(
        "Distinct-user cardinality via Apache DataSketches HLL: one sketch "
        "per event_type plus an 'ALL' row from hll_union_agg over the "
        "per-type sketches — demonstrating the associative merge that lets "
        "per-partition sketches combine at 100 TB without re-scanning. "
        "Rows-only check (estimates are engine-specific); the unit test "
        "pins estimates within 5% of exact counts."
    ),
)
def agg_hll_sketch_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    events = load_table(spark, sf_dir, "events")
    sketches = events.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    per_type = sketches.select(
        "event_type", F.hll_sketch_estimate("sk").alias("approx_users")
    )
    overall = sketches.agg(F.hll_union_agg("sk").alias("sk")).select(
        F.lit("ALL").alias("event_type"),
        F.hll_sketch_estimate("sk").alias("approx_users"),
    )
    return per_type.unionByName(overall).orderBy("event_type")


# ---------------------------------------------------------------------------
# Stratified seeded sampling (per-language rates).
# ---------------------------------------------------------------------------


@register(
    "sample_stratified_by_lang",
    oracle=None,  # sample membership is partitioning-dependent; bounds + rate
    # checks pinned by tests/test_training_ops.py
    tags=("training", "sampling"),
    doc=(
        "Stratified Bernoulli sampling with per-language fractions "
        "(df.sampleBy, seeded): the corpus-rebalancing step of a data "
        "pipeline (e.g. downsample the dominant language). Per-row "
        "coin-flips — no shuffle, no state. No SQL oracle: sampleBy "
        "membership depends on Spark's per-partition rng stream, which "
        "no other engine reproduces; rate/bounds pinned by "
        "tests/test_training_ops.py, and sample_stratified_md5 is the "
        "oracle-backed run-invariant twin."
    ),
)
def sample_stratified_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    fractions = {"en": 0.25, "zh": 1.0, "es": 1.0, "de": 1.0, "fr": 1.0}
    sampled = docs.sampleBy("lang", fractions=fractions, seed=42)
    return sampled.groupBy("lang").agg(F.count(F.lit(1)).alias("n_sampled"))


_ORACLE_STRATIFIED_MD5 = """
WITH b AS (
  SELECT lang,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000
           AS bucket
  FROM documents
)
SELECT lang, COUNT(*) AS n_sampled
FROM b
WHERE bucket < CASE WHEN lang = 'en' THEN 2500 ELSE 10000 END
GROUP BY lang
ORDER BY lang
"""


@register(
    "sample_stratified_md5",
    oracle=_ORACLE_STRATIFIED_MD5,
    tags=("training", "sampling"),
    doc=(
        "Oracle-backed TWIN of sample_stratified_by_lang (VERDICT r7 "
        "item 6): the same per-language downsampling (en at 25%, the "
        "rest kept) but with RUN-INVARIANT membership — admission is an "
        "md5 bucket of the document key (sample_hash_split's trick), not "
        "an rng coin-flip, so the selected set is identical across runs, "
        "engines, and partitionings and the per-language counts check "
        "exactly against SQL. This is also the form a production corpus "
        "rebalance should use: a document never migrates in/out of the "
        "sample when the corpus grows. Pure per-row expression + one "
        "map-side-combinable count — no shuffle of document rows."
    ),
)
def sample_stratified_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        md5_u32(F.col("doc_id").cast("string"))
        % 10000
    )
    keep = bucket < F.when(F.col("lang") == "en", 2500).otherwise(10000)
    return (
        docs.where(keep)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Global dense row ids without a single-partition window.
# ---------------------------------------------------------------------------

_ORACLE_DENSE_IDS = """
SELECT doc_id, lang,
       ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS row_id
FROM documents
"""


@register(
    "ids_global_dense",
    oracle=_ORACLE_DENSE_IDS,
    tags=("training", "indexing", "north-star"),
    doc=(
        "Contiguous 0..n-1 row ids in doc_id order via range repartition + "
        "per-partition offset prefix-sum (operators/indexing.py) — the "
        "scalable replacement for ROW_NUMBER() OVER (ORDER BY ...), which "
        "moves every row to one partition. Oracle IS that window function: "
        "same result, scalable plan."
    ),
)
def ids_global_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.indexing import global_dense_ids

    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return global_dense_ids(docs, "doc_id")


# ---------------------------------------------------------------------------
# Stream-stream join (clicks x purchases attribution).
# ---------------------------------------------------------------------------

_ORACLE_STREAM_JOIN = """
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.ts AS click_ts,
       p.ts AS purchase_ts
FROM events c
JOIN events p ON c.user_id = p.user_id
WHERE c.event_type = 'click'
  AND p.event_type = 'purchase'
  AND p.ts >= c.ts
  AND p.ts <= c.ts + INTERVAL '30 minutes'
"""


@register(
    "stream_stream_join_clicks",
    oracle=_ORACLE_STREAM_JOIN,
    tags=("streaming", "join"),
    doc=(
        "Stream-stream inner join with an event-time range condition "
        "(clicks attributed to same-user purchases within 30 min), "
        "watermarks bounding the join state on both sides — run to "
        "completion via Trigger.AvailableNow and oracle-checked against "
        "the equivalent batch range join (stream/batch parity)."
    ),
)
def stream_stream_join_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    # State partitions: see session.stream_state_width.  noDataMicroBatches
    # off (r12):
    # an INNER stream-stream join emits every match in the batch that
    # finds it, so the trailing zero-row watermark batch — measured at a
    # third of the query's wall time (state-store open/commit × partitions
    # × 4 join stores on 0 rows) — only evicts state the terminating
    # AvailableNow run never reuses.  Output is identical; outer-join
    # streams (which DO emit on watermark advance) keep the default.
    with stream_state_width(
        spark, **{"spark.sql.streaming.noDataMicroBatches.enabled": "false"}
    ):
        events = read_events_stream(spark, sf_dir)
        joined = clicks_purchases_join(events)
        with tempfile.TemporaryDirectory(prefix="ckpt_") as ckpt:
            return run_available_now(joined, ckpt, output_mode="append")


# -- Deterministic per-stratum top-k sample -----------------------------------

_ORACLE_TOPK_SAMPLE = """
WITH ranked AS (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
)
SELECT lang, doc_id, rk FROM ranked WHERE rk <= 10
ORDER BY lang, rk
"""


@register(
    "sample_topk_per_stratum",
    oracle=_ORACLE_TOPK_SAMPLE,
    tags=("sampling", "training", "window"),
    doc=(
        "Deterministic k-per-stratum sample: rank rows inside each lang "
        "stratum by md5(doc_id) and keep the first 10. Unlike sampleBy, "
        "the selected set is a pure function of the data — identical on "
        "any cluster size, partitioning, or execution order — which is "
        "what a reproducible training-data pipeline needs. The stratum "
        "key has only ~5 values, but the rn<=k filter triggers Spark's "
        "InferWindowGroupLimit rule: the physical plan carries a Partial "
        "WindowGroupLimit BEFORE the exchange (verified), so each map "
        "task forwards at most k rows per stratum and the per-stratum "
        "reducer sees k x n_map_partitions rows, not the full stratum."
    ),
)
def sample_topk_per_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("lang", "doc_id", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= 10)
        .orderBy("lang", "rk")
    )


# -- Weighted corpus mixture (per-source sampling rates) ----------------------

_ORACLE_MIXTURE = """
WITH r AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 8))::BIGINT
           % 10000 AS bucket,
         -- TRY_CAST: a source not named 'srcN' takes the ELSE rate
         -- instead of raising (Spark try_cast parity, r8 degenerate differ)
         CASE TRY_CAST(replace(source, 'src', '') AS BIGINT) % 4
              WHEN 0 THEN 10000 WHEN 1 THEN 5000
              WHEN 2 THEN 2500 ELSE 1250 END AS rate_bp
  FROM documents
)
SELECT source, any_value(rate_bp) AS rate_bp, count(*) AS n_total,
       CAST(sum(CASE WHEN bucket < rate_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM r
GROUP BY source
ORDER BY source
"""


@register(
    "sample_corpus_mixture",
    oracle=_ORACLE_MIXTURE,
    tags=("sampling", "training", "north-star"),
    doc=(
        "Weighted corpus mixing: each source gets a target sampling rate "
        "(here a deterministic function of the source id; in production a "
        "config map) and each document keeps or drops by comparing a salted "
        "md5 bucket against the rate — the standard way training mixtures "
        "(e.g. upweight curated sources, downweight crawl) are realized "
        "reproducibly. The salt decorrelates the mixture decision from the "
        "train/test split hash. Stateless per-row expression + one "
        "map-side-combining aggregate: no rng, no shuffle of the kept "
        "rows, identical selection at any scale or partitioning."
    ),
)
def sample_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        md5_u32(F.concat(F.col("doc_id").cast("string"), F.lit(":mix")))
        % 10000
    )
    srcnum = F.expr("try_cast(replace(source, 'src', '') AS BIGINT)")
    rate = (
        F.when(srcnum % 4 == 0, 10000)
        .when(srcnum % 4 == 1, 5000)
        .when(srcnum % 4 == 2, 2500)
        .otherwise(1250)
    )
    return (
        docs.select("source", bucket.alias("bucket"), rate.alias("rate_bp"))
        .groupBy("source")
        .agg(
            F.first("rate_bp").alias("rate_bp"),
            F.count(F.lit(1)).alias("n_total"),
            F.sum((F.col("bucket") < F.col("rate_bp")).cast("long")).alias(
                "n_kept"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Sequence packing: concat-then-chunk token budgeting for training shards.
# ---------------------------------------------------------------------------

_PACK_BUDGET = 512  # context-window token budget per packed chunk
_PACK_SHARDS = 8  # parallel packing shards (per-shard prefix sums)

_ORACLE_PACK = f"""
WITH t AS (
  SELECT doc_id,
         doc_id % {_PACK_SHARDS} AS shard,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
           AS n_tok
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_tok,
         COALESCE(SUM(n_tok) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM t
)
SELECT doc_id, shard, CAST(n_tok AS BIGINT) AS n_tok,
       CAST(cum_before AS BIGINT) AS cum_before,
       CAST(cum_before // {_PACK_BUDGET} AS BIGINT) AS chunk_start,
       CAST(cum_before % {_PACK_BUDGET} AS BIGINT) AS chunk_offset,
       CAST(CASE WHEN n_tok = 0 THEN cum_before // {_PACK_BUDGET}
                 ELSE (cum_before + n_tok - 1) // {_PACK_BUDGET} END
            AS BIGINT) AS chunk_end
FROM c
ORDER BY shard, doc_id
"""


@register(
    "pack_sequences_chunked",
    oracle=_ORACLE_PACK,
    tags=("training", "packing", "north-star"),
    doc=(
        "Sequence packing for training shards (concat-then-chunk, the GPT-"
        "style packing where documents are concatenated in deterministic "
        "order and sliced at fixed token budgets): per-shard running token "
        "offsets assign each document its starting chunk, offset within "
        "chunk, and ending chunk. Each shard packs independently, and the "
        "per-shard running offsets come from operators/indexing.py "
        "grouped_prefix_sums (range repartition + per-(partition, shard) "
        "prefix-summed token-mass offsets) rather than SUM() OVER "
        "(PARTITION BY shard), so parallelism does NOT degrade to the "
        "shard count: even a handful of shards over 100 TB pack without "
        "hot reducers. BPE-ish token counts (letter runs / digit runs / "
        "symbols)."
    ),
)
def pack_sequences_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.indexing import grouped_prefix_sums
    from ..operators.text import bpe_ish_token_count

    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        bpe_ish_token_count("text").cast("long").alias("n_tok"),
    )
    c = grouped_prefix_sums(
        t, "shard", ["doc_id"], "n_tok", out_col="cum_before"
    )
    budget = F.lit(_PACK_BUDGET)
    return c.select(
        "doc_id",
        "shard",
        "n_tok",
        "cum_before",
        F.expr(f"cum_before div {_PACK_BUDGET}").alias("chunk_start"),
        (F.col("cum_before") % budget).alias("chunk_offset"),
        F.when(
            F.col("n_tok") == 0, F.expr(f"cum_before div {_PACK_BUDGET}")
        )
        .otherwise(F.expr(f"(cum_before + n_tok - 1) div {_PACK_BUDGET}"))
        .alias("chunk_end"),
    ).orderBy("shard", "doc_id")


# -- End-to-end training-corpus manifest (capstone composite) ------------------

_ORACLE_CORPUS_MANIFEST = r"""
WITH fp AS (
  SELECT doc_id, lang,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
         len(list_distinct(regexp_split_to_array(trim(text), '\s+')))
           AS n_distinct
  FROM documents
),
deduped AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
    FROM fp) WHERE rn = 1
),
gated AS (
  SELECT * FROM deduped
  WHERE n_tokens >= 10 AND n_distinct * 2 >= n_tokens
)
SELECT lang,
       n_tokens // 64 AS bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       MIN(doc_id) AS first_doc
FROM gated
GROUP BY lang, n_tokens // 64
ORDER BY lang, bucket
"""


@register(
    "train_corpus_manifest",
    oracle=_ORACLE_CORPUS_MANIFEST,
    tags=("training", "pipeline", "north-star"),
    doc=(
        "End-to-end training-corpus preparation in one plan: exact dedup "
        "(md5 fingerprint, keep-lowest-id), an INTEGER-ONLY quality gate "
        "(>=10 tokens and type-token ratio >= 0.5 as the cross-multiplied "
        "integer compare 2*distinct >= tokens — no float crosses the "
        "hash), 64-token length bucketing, and the per-(lang, bucket) "
        "manifest a sharded training run consumes. One window for dedup "
        "(fingerprint-partitioned), everything else map-side-combinable "
        "aggregates — the whole pipeline is two shuffles."
    ),
)
def train_corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.text import fingerprint_md5

    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim("text"), r"\s+")
    fp = docs.select(
        "doc_id",
        "lang",
        fingerprint_md5("text").alias("fingerprint"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )
    w = W.partitionBy("fingerprint").orderBy("doc_id")
    deduped = fp.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    gated = deduped.where(
        (F.col("n_tokens") >= 10)
        & (F.col("n_distinct") * 2 >= F.col("n_tokens"))
    )
    return (
        gated.groupBy("lang", F.expr("n_tokens div 64").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("lang", "bucket")
    )


# ---------------------------------------------------------------------------
# Deterministic per-epoch corpus shuffle: training-order permutation.
# ---------------------------------------------------------------------------

_ORACLE_SHUFFLE = """
WITH k AS (
  SELECT doc_id, source, epoch,
         md5(CAST(doc_id AS VARCHAR) || ':epoch:' || CAST(epoch AS VARCHAR))
           AS sort_key
  FROM documents, unnest([0, 1]) AS e(epoch)
)
SELECT epoch, doc_id, source,
       CAST(ROW_NUMBER() OVER (PARTITION BY epoch
                               ORDER BY sort_key, doc_id) AS BIGINT)
         AS position
FROM k
ORDER BY epoch, position
"""


@register(
    "train_shuffle_epochs",
    oracle=_ORACLE_SHUFFLE,
    tags=("training", "north-star"),
    doc=(
        "Deterministic per-epoch corpus shuffle: every document's training "
        "position in epoch e is its rank under md5(doc_id:epoch:e) — a "
        "reproducible pseudo-random permutation that changes completely "
        "between epochs yet is identical across runs, engines and "
        "partitionings (rng-free, resume-safe: a restarted job recomputes "
        "the same order). Scale shape: positions come from "
        "operators/indexing.py grouped_dense_ids — range-repartition on "
        "(epoch, hash) + per-(partition, epoch) prefix-sum offsets — NOT "
        "row_number() OVER (PARTITION BY epoch), which would funnel each "
        "epoch's entire corpus through one reducer. Hash keys are uniform "
        "by construction, so range boundaries are balanced; at 100 TB you "
        "write the permuted shards directly from the partitioned sort, "
        "one pass."
    ),
)
def train_shuffle_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.indexing import grouped_dense_ids

    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    epochs = docs.crossJoin(
        F.broadcast(
            spark.range(2).select(F.col("id").cast("int").alias("epoch"))
        )
    )
    key = F.md5(
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit(":epoch:"),
            F.col("epoch").cast("string"),
        )
    )
    keyed = epochs.withColumn("sort_key", key)
    ids = grouped_dense_ids(
        keyed, "epoch", ["sort_key", "doc_id"], id_col="position"
    )
    return ids.select("epoch", "doc_id", "source", "position").orderBy(
        "epoch", "position"
    )


# ---------------------------------------------------------------------------
# Curriculum stages: per-language difficulty quartiles.
# ---------------------------------------------------------------------------

_ORACLE_CURRICULUM = r"""
WITH d AS (
  SELECT doc_id, lang,
         len(regexp_split_to_array(trim(text), '\s+')) AS difficulty
  FROM documents WHERE length(trim(text)) > 0
),
r AS (
  SELECT doc_id, lang, CAST(difficulty AS BIGINT) AS difficulty,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY difficulty, doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY lang) AS n_lang
  FROM d
)
SELECT doc_id, lang, difficulty,
       CAST(rk AS BIGINT) AS rank_in_lang,
       CAST(((rk - 1) * 4) // n_lang AS BIGINT) AS stage
FROM r
ORDER BY lang, rank_in_lang
"""


@register(
    "train_curriculum_stages",
    oracle=_ORACLE_CURRICULUM,
    tags=("training", "curriculum", "north-star"),
    doc=(
        "Curriculum scheduling: rank documents easy-to-hard inside each "
        "language (difficulty = token count, ties broken by doc_id — a "
        "total order, so stages are identical on any engine or "
        "partitioning) and cut each language into 4 equal-population "
        "stages with pure integer arithmetic ((rank-1)*4 div n). Ranks "
        "come from grouped_dense_ids and the per-language totals from a "
        "broadcast count aggregate — no PARTITION BY lang window funnel "
        "at corpus scale."
    ),
)
def train_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.indexing import grouped_dense_ids
    from ..operators.text import tokens

    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim("text")) > 0
    )
    d = docs.select(
        "doc_id",
        "lang",
        F.size(tokens("text")).cast("long").alias("difficulty"),
    )
    ranked = grouped_dense_ids(
        d, "lang", ["difficulty", "doc_id"], id_col="rank_in_lang"
    )
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    return (
        # null-safe join: a NULL lang is its own stratum (matches the
        # oracle's PARTITION BY semantics) — a plain equi-join would
        # silently drop those rows
        ranked.join(
            F.broadcast(counts.withColumnRenamed("lang", "_clang")),
            ranked["lang"].eqNullSafe(F.col("_clang")),
        )
        .select(
            "doc_id",
            "lang",
            "difficulty",
            "rank_in_lang",
            F.expr("((rank_in_lang - 1) * 4) div n_lang")
            .cast("long")
            .alias("stage"),
        )
        .orderBy("lang", "rank_in_lang")
    )


# ---------------------------------------------------------------------------
# Quality-weighted subsampling (deterministic importance reweighting).
# ---------------------------------------------------------------------------

_ORACLE_QUALITY_SAMPLE = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
  FROM documents WHERE length(trim(text)) > 0
)
SELECT doc_id,
       CAST(len(w) AS BIGINT) AS n_tokens,
       CAST((len(list_distinct(w)) * 10000) // len(w) AS BIGINT) AS q_bp,
       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
            % 10000 AS BIGINT) AS u_bp,
       CAST(CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                      % 10000
                      < (len(list_distinct(w)) * 10000) // len(w)
            THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM t
ORDER BY doc_id
"""


@register(
    "sample_quality_weighted",
    oracle=_ORACLE_QUALITY_SAMPLE,
    tags=("training", "sampling", "quality"),
    doc=(
        "Deterministic quality-weighted subsampling: each document's keep "
        "probability IS its quality score (type-token ratio in integer "
        "basis points), decided by comparing an md5-uniform draw against "
        "it — high-quality docs survive at ~their TTR rate, repetitive "
        "docs are thinned proportionally, and membership is a pure "
        "function of the data (identical across runs, engines and "
        "partitionings, unlike rng sampling). Stateless per-row "
        "expression; no shuffle at any scale. The per-source-rate analog "
        "is sample_corpus_mixture; this is the per-document continuous-"
        "weight form."
    ),
)
def sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import tokens

    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim("text")) > 0
    )
    d = docs.select("doc_id", tokens("text").alias("w"))
    u_bp = (
        md5_u32(F.col("doc_id").cast("string"))
        % 10000
    )
    scored = d.select(
        "doc_id",
        F.size("w").cast("long").alias("n_tokens"),
        F.expr(
            "CAST(size(array_distinct(w)) * 10000 AS BIGINT) div size(w)"
        ).alias("q_bp"),
        u_bp.alias("u_bp"),
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "q_bp",
        "u_bp",
        F.when(F.col("u_bp") < F.col("q_bp"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("kept"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Deterministic negative sampling (contrastive / recsys training pairs).
# ---------------------------------------------------------------------------

_NEG_PER_USER = 8

_ORACLE_NEG_SAMPLING = f"""
WITH pos AS (
  SELECT DISTINCT user_id,
         CAST(json_extract(props, '$.k') AS BIGINT) AS item
  FROM events
  WHERE event_type IN ('click', 'purchase')
    AND json_extract(props, '$.k') IS NOT NULL
),
items AS (
  SELECT item, ROW_NUMBER() OVER (ORDER BY item) - 1 AS idx
  FROM (SELECT DISTINCT item FROM pos)
),
n AS (SELECT COUNT(*) AS n_items FROM items),
cand AS (
  SELECT u.user_id, j.j,
         ('0x' || substr(md5(CAST(u.user_id AS VARCHAR) || ':'
                             || CAST(j.j AS VARCHAR)), 1, 8))::BIGINT
           % (SELECT n_items FROM n) AS idx
  FROM (SELECT DISTINCT user_id FROM pos) u,
       unnest(range(0, {_NEG_PER_USER})) AS j(j)
)
SELECT c.user_id, CAST(c.j AS BIGINT) AS sample_j, i.item AS neg_item
FROM cand c
JOIN items i ON c.idx = i.idx
LEFT JOIN pos p ON p.user_id = c.user_id AND p.item = i.item
WHERE p.user_id IS NULL
ORDER BY c.user_id, sample_j
"""


@register(
    "train_negative_sampling",
    oracle=_ORACLE_NEG_SAMPLING,
    tags=("training", "sampling", "north-star"),
    doc=(
        f"Deterministic uniform negative sampling for contrastive/recsys "
        f"training: positives = distinct (user, item) interactions (item = "
        f"props JSON key, the reference's field_data JSONB analog); each "
        f"user draws {_NEG_PER_USER} candidate negatives via the md5 "
        "cross-engine family (md5(user:j) mod |items|), and candidates "
        "that collide with a true positive are dropped (deterministic "
        "rejection — per-user counts may be < m, exactly as both engines "
        "compute it). 100 TB shape: the item index is vocabulary-bounded "
        "(ranking it is a bounded global window), candidate generation is "
        "a stateless per-row expression over the user spine, and the "
        "rejection is an equi-join on (user, item) — no RNG state, no "
        "driver sampling, rerun-stable across the cluster."
    ),
)
def train_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    pos = (
        ev.where(F.col("event_type").isin("click", "purchase"))
        .select(
            "user_id",
            F.get_json_object("props", "$.k").cast("long").alias("item"),
        )
        .where(F.col("item").isNotNull())
        .distinct()
    )
    # Item vocabulary with dense 0-based index — bounded global window
    # (|items| ~ O(100) here; at corpus scale swap for global_dense_ids).
    items = (
        pos.select("item")
        .distinct()
        .withColumn(
            "idx", F.row_number().over(W.orderBy("item")).cast("long") - 1
        )
    )
    n_items = items.agg(F.count(F.lit(1)).alias("n_items"))
    users = pos.select("user_id").distinct()
    cand = (
        users.crossJoin(F.broadcast(n_items))
        .select(
            "user_id",
            F.explode(
                F.sequence(F.lit(0), F.lit(_NEG_PER_USER - 1))
            ).alias("sample_j"),
            "n_items",
        )
        .select(
            "user_id",
            F.col("sample_j").cast("long").alias("sample_j"),
            (
                md5_u32(
                    F.concat_ws(
                        ":",
                        F.col("user_id").cast("string"),
                        F.col("sample_j").cast("string"),
                    )
                )
                % F.col("n_items")
            ).alias("idx"),
        )
    )
    return (
        cand.join(F.broadcast(items), "idx")
        .join(pos, ["user_id", "item"], "left_anti")
        .select("user_id", "sample_j", F.col("item").alias("neg_item"))
        .orderBy("user_id", "sample_j")
    )


# ---------------------------------------------------------------------------
# Leakage-safe train/test split (split by near-dup cluster, not document).
# ---------------------------------------------------------------------------

_ORACLE_LEAKAGE_SAFE_SPLIT = r"""
WITH RECURSIVE t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
           AS shingles
  FROM t
),
sizes AS (SELECT doc_id, len(shingles) AS n_shingles FROM sh),
posting AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM posting a JOIN posting b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE round(CAST(i.n_inter AS DOUBLE)
              / (sa.n_shingles + sb.n_shingles - i.n_inter), 6) >= 0.12
),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(n, m) AS (
  SELECT s, s FROM edges
  UNION
  SELECT r.n, e.d FROM reach r JOIN edges e ON r.m = e.s
),
comp AS (SELECT n AS doc_id, MIN(m) AS cluster_id FROM reach GROUP BY n),
g AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS group_id
  FROM documents d LEFT JOIN comp c USING (doc_id)
),
b AS (
  SELECT doc_id, group_id,
         ('0x' || substr(md5(CAST(group_id AS VARCHAR)), 1, 8))::BIGINT % 100
           AS bucket
  FROM g
)
SELECT doc_id, group_id, bucket,
       CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'validation'
            ELSE 'test' END AS split
FROM b
ORDER BY doc_id
"""


@register(
    "train_split_leakage_safe",
    oracle=_ORACLE_LEAKAGE_SAFE_SPLIT,
    tags=("training", "dedup", "north-star"),
    doc=(
        "LEAKAGE-SAFE train/validation/test split: documents are split by "
        "their near-dup CLUSTER (connected components over the "
        "Jaccard>=0.12 pair graph, singletons = themselves), hashed on the "
        "cluster's canonical min id — so two near-duplicate documents can "
        "NEVER land on opposite sides of the split (the eval-set "
        "contamination sample_hash_split's per-document hash cannot "
        "prevent). The standard protocol for honest held-out sets over "
        "crawled corpora. Same 80/10/10 md5 rule as sample_hash_split, "
        "applied to group_id; components via iterative min-label "
        "propagation (the dedup_cluster_components operator), oracle via "
        "recursive CTE. At 100 TB the pair graph comes from the LSH "
        "candidate path instead of the exact posting join; the grouping "
        "and hash stages are unchanged."
    ),
)
def train_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components, jaccard_pairs

    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        docs.select("doc_id", "text"), threshold=0.12
    ).select("doc_a", "doc_b")
    comp = connected_components(pairs)
    g = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("group_id"),
        )
    )
    bucket = (
        md5_u32(F.col("group_id").cast("string"))
        % 100
    )
    return g.select(
        "doc_id",
        "group_id",
        bucket.alias("bucket"),
        F.when(F.col("bucket") < 80, "train")
        .when(F.col("bucket") < 90, "validation")
        .otherwise("test")
        .alias("split"),
    ).orderBy("doc_id")


# -- Temperature-scaled mixture (multilingual-LM alpha sampling) -------------

_TEMP_TARGET = 2000  # target total sampled docs


_ORACLE_TEMP_MIX = f"""
WITH n AS (
  SELECT source, COUNT(*) AS n_total FROM documents GROUP BY source
),
w AS (
  -- alpha = 0.5 temperature: weight = floor(1e6 * n^alpha). sqrt is
  -- correctly rounded in IEEE 754, the 1e6 multiply and floor are exact,
  -- so the integer weights are bit-identical cross-engine; every later
  -- step is pure integer arithmetic.
  SELECT source, n_total,
         CAST(floor(1000000.0 * sqrt(CAST(n_total AS DOUBLE))) AS BIGINT)
           AS weight
  FROM n
),
t AS (SELECT SUM(weight) AS w_sum FROM w),
r AS (
  SELECT w.source, w.n_total, w.weight,
         least(10000, (10000 * {_TEMP_TARGET} * w.weight)
                        // (t.w_sum * w.n_total)) AS rate_bp
  FROM w, t
),
k AS (
  SELECT d.source,
         CAST(SUM(CASE WHEN ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
                                            || ':temp'), 1, 8))::BIGINT
                            % 10000 < r.rate_bp
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
  FROM documents d JOIN r ON d.source = r.source
  GROUP BY d.source
)
SELECT r.source, r.n_total, r.weight, CAST(r.rate_bp AS BIGINT) AS rate_bp,
       k.n_kept
FROM r JOIN k ON r.source = k.source
ORDER BY r.source
"""


@register(
    "corpus_temperature_mixture",
    oracle=_ORACLE_TEMP_MIX,
    tags=("sampling", "training", "north-star"),
    doc=(
        "Temperature-scaled corpus mixture (the multilingual-LM alpha-"
        "sampling scheme, alpha=0.5): per-source weights n^alpha flatten "
        "the source distribution so big crawls stop drowning small curated "
        "sources; weights become integer per-source keep rates targeting a "
        "fixed sampled-doc budget, and each document keeps/drops by a "
        "salted md5 bucket vs its source's rate. Unlike "
        "sample_corpus_mixture's static config rates, the rates here are "
        "DERIVED from the observed source counts. Everything after the "
        "correctly-rounded sqrt is integer arithmetic, so the plan is "
        "bit-exact at any partitioning: two hash aggregates plus a "
        "broadcast of the tiny per-source rate table — no rng, no wide "
        "shuffle at 100 TB."
    ),
)
def corpus_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    per_src = per_src.withColumn(
        "weight",
        F.floor(F.lit(1000000.0) * F.sqrt(F.col("n_total").cast("double"))).cast(
            "long"
        ),
    )
    # scalar total weight: broadcast one row, a no-shuffle cross join
    tot = per_src.agg(F.sum("weight").alias("w_sum"))
    rates = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_total",
        "weight",
        F.least(
            F.lit(10000),
            F.expr(
                f"(10000 * {_TEMP_TARGET} * weight) div (w_sum * n_total)"
            ),
        ).alias("rate_bp"),
    )
    bucket = (
        md5_u32(F.concat(F.col("doc_id").cast("string"), F.lit(":temp")))
        % 10000
    )
    kept = (
        docs.select("source", bucket.alias("bucket"))
        .join(F.broadcast(rates.select("source", "rate_bp")), "source")
        .groupBy("source")
        .agg(
            F.sum((F.col("bucket") < F.col("rate_bp")).cast("long")).alias(
                "n_kept"
            )
        )
    )
    return (
        rates.join(kept, "source")
        .select("source", "n_total", "weight", "rate_bp", "n_kept")
        .orderBy("source")
    )


# -- End-to-end training-data funnel -----------------------------------------


def _oracle_funnel() -> str:
    from ..operators.dedup import MD5_BANDS, MD5_K, MD5_MIN_MATCH, MD5_ROWS
    from .text_cleaning import (
        _GOPHER_MAX_MWL_BP,
        _GOPHER_MAX_WORDS,
        _GOPHER_MIN_DISTINCT_BP,
        _GOPHER_MIN_MWL_BP,
        _GOPHER_MIN_STOPS,
        _GOPHER_MIN_WORDS,
        _GOPHER_STOPS,
    )

    return f"""
WITH m AS (
  SELECT doc_id, text, string_split(text, ' ') AS words,
         length(replace(text, ' ', '')) AS nc
  FROM documents
),
k1 AS (
  SELECT doc_id, text FROM m
  WHERE len(words) BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
    AND (10000 * nc) // greatest(len(words), 1)
        BETWEEN {_GOPHER_MIN_MWL_BP} AND {_GOPHER_MAX_MWL_BP}
    AND len(list_filter(words,
        x -> list_contains({list(_GOPHER_STOPS)!r}, x))) >= {_GOPHER_MIN_STOPS}
    AND (10000 * len(list_distinct(words))) // greatest(len(words), 1)
        >= {_GOPHER_MIN_DISTINCT_BP}
),
k2 AS (SELECT MIN(doc_id) AS doc_id FROM k1 GROUP BY md5(text)),
tok AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
),
sh2base AS (SELECT tok.doc_id, t FROM tok JOIN k2 USING (doc_id)),
sh2 AS (
  SELECT DISTINCT doc_id, array_to_string(t[i : i + 2], ' ') AS s
  FROM sh2base, unnest(range(1, len(t) - 1)) AS r(i)
  WHERE len(t) >= 3
),
mh AS (
  SELECT doc_id, r.i AS hi,
         MIN(('0x' || substr(md5(CAST(r.i AS VARCHAR) || ':' || s), 1, 8))::BIGINT)
           AS h
  FROM sh2, unnest(range(0, {MD5_K})) AS r(i)
  GROUP BY doc_id, r.i
),
sig AS (SELECT doc_id, list(h ORDER BY hi) AS sig FROM mh GROUP BY doc_id),
band AS (
  SELECT doc_id, b.j AS band_id,
         md5(array_to_string(sig[b.j * {MD5_ROWS} + 1 : b.j * {MD5_ROWS} + {MD5_ROWS}],
                             ':')) AS bh
  FROM sig, unnest(range(0, {MD5_BANDS})) AS b(j)
),
dup AS (
  SELECT DISTINCT b2.doc_id
  FROM band a
  JOIN band b2 ON a.band_id = b2.band_id AND a.bh = b2.bh
              AND a.doc_id < b2.doc_id
  JOIN sig sa ON sa.doc_id = a.doc_id
  JOIN sig sb ON sb.doc_id = b2.doc_id
  WHERE len(list_filter(range(1, {MD5_K} + 1), k -> sa.sig[k] = sb.sig[k]))
        >= {MD5_MIN_MATCH}
),
k3 AS (SELECT doc_id FROM k2
       WHERE doc_id NOT IN (SELECT doc_id FROM dup)),
evsh AS (
  SELECT DISTINCT array_to_string(t[i : i + 2], ' ') AS s
  FROM (SELECT t FROM tok WHERE doc_id % 20 = 0) ev,
       unnest(range(1, len(ev.t) - 1)) AS r(i)
  WHERE len(t) >= 3
),
cont AS (
  SELECT DISTINCT sh2.doc_id
  FROM sh2 JOIN k3 USING (doc_id) JOIN evsh USING (s)
),
k4 AS (SELECT doc_id FROM k3
       WHERE doc_id % 20 <> 0
         AND doc_id NOT IN (SELECT doc_id FROM cont)),
k5 AS (SELECT doc_id FROM k4
       WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 100 < 80),
agg AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n0,
         (SELECT COUNT(*) FROM k1) AS n1,
         (SELECT COUNT(*) FROM k2) AS n2,
         (SELECT COUNT(*) FROM k3) AS n3,
         (SELECT COUNT(*) FROM k4) AS n4,
         (SELECT COUNT(*) FROM k5) AS n5
)
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS stage_id, 'quality' AS stage,
         n0 AS n_in, n1 AS n_out FROM agg
  UNION ALL SELECT 2, 'exact_dedup', n1, n2 FROM agg
  UNION ALL SELECT 3, 'near_dedup', n2, n3 FROM agg
  UNION ALL SELECT 4, 'decontaminate', n3, n4 FROM agg
  UNION ALL SELECT 5, 'train_split', n4, n5 FROM agg
) ORDER BY stage_id
"""


_FUNNEL_STAGES = (
    "quality",
    "exact_dedup",
    "near_dedup",
    "decontaminate",
    "train_split",
)


@register(
    "pipeline_training_funnel",
    oracle=_oracle_funnel(),
    tags=("training", "pipeline", "north-star"),
    doc=(
        "End-to-end training-data curation funnel, each stage feeding the "
        "next with per-stage survivor counts: Gopher quality rules -> "
        "exact text dedup (min-id per md5) -> MinHash-LSH near-dup "
        "suppression (md5 family, verified >= 8/16) -> n-gram "
        "decontamination against the held-out eval slice (doc_id%20==0) "
        "-> 80% deterministic hash train split. Composes five "
        "independently-verified operators into the pipeline a real "
        "pretraining corpus goes through; the funnel counts are the "
        "value-exact contract. Stage survivors are id-only DataFrames "
        "tagged and union-counted in one hash aggregate — no scalar "
        "cartesians, no global windows; at 100 TB the exact "
        "decontamination join swaps for the bloom-gated form "
        "(text_decontaminate_bloom) and everything else is already "
        "posting-list/banded."
    ),
)
def pipeline_training_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import md5_lsh_pairs, shingle_posting
    from .text_cleaning import gopher_metrics

    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    # each stage's id set is reused by the next stage AND the tagged
    # count union below; persisting the (tiny, id-only) sets keeps the
    # expensive LSH/shingle lineages from re-executing per branch.
    # localCheckpoint drops the lineage: on a cluster, losing an executor
    # that holds one of these blocks fails the query instead of
    # recomputing the block, so a run that loses an executor must be
    # re-run (the query writes nothing, so a re-run is safe).
    q_ids = (
        gopher_metrics(docs)
        .where(F.col("keep") == 1)
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    k1 = docs.join(q_ids, "doc_id")
    k2_ids = (
        k1.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    k2 = docs.join(k2_ids, "doc_id")
    # each stage re-shingles its own (shrinking) slice rather than sharing
    # one persisted corpus-wide posting: measured, materializing the
    # exploded 200x posting costs more than re-running the codegen'd
    # tokenize+slide fused into each stage's scan. md5_lsh_pairs is
    # unsorted — the pairs feed straight into a re-aggregating distinct.
    dup_ids = (
        md5_lsh_pairs(k2)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    k3_ids = k2_ids.join(dup_ids, "doc_id", "left_anti").localCheckpoint(
        eager=True
    )
    # no .distinct() on tr_sh: word_shingles is array_distinct per doc and
    # doc_id is unique, so (doc_id, s) is ALREADY distinct — the explicit
    # distinct was a full posting-stream shuffle deduping nothing (removed
    # r12, guide §2.4); cont_ids' final distinct handles join fan-out.
    # no size(tokens)>=3 pre-filter: explode of the (empty-below-3-tokens)
    # shingle array keeps exactly the same rows without a second per-row
    # tokenization (r12; same in ev_sh and the SFT funnel).
    tr_sh = shingle_posting(docs.join(k3_ids, "doc_id"))
    ev_sh = (
        shingle_posting(docs.where(F.col("doc_id") % 20 == 0))
        .select("shingle")
        .distinct()
    )
    cont_ids = tr_sh.join(ev_sh, "shingle").select("doc_id").distinct()
    k4_ids = (
        k3_ids.where(F.col("doc_id") % 20 != 0)
        .join(cont_ids, "doc_id", "left_anti")
        .localCheckpoint(eager=True)
    )
    bucket = (
        md5_u32(F.col("doc_id").cast("string"))
        % 100
    )
    k5_ids = k4_ids.where(bucket < 80)

    tagged = (
        docs.select(F.lit(0).alias("st"), "doc_id")
        .unionByName(q_ids.select(F.lit(1).alias("st"), "doc_id"))
        .unionByName(k2_ids.select(F.lit(2).alias("st"), "doc_id"))
        .unionByName(k3_ids.select(F.lit(3).alias("st"), "doc_id"))
        .unionByName(k4_ids.select(F.lit(4).alias("st"), "doc_id"))
        .unionByName(k5_ids.select(F.lit(5).alias("st"), "doc_id"))
    )
    counts = tagged.groupBy("st").agg(F.count(F.lit(1)).alias("n"))
    spine = spark.range(1, 6).select(F.col("id").cast("int").alias("st"))
    names = F.array(*[F.lit(s) for s in _FUNNEL_STAGES])
    n_in = counts.select((F.col("st") + 1).alias("st"), F.col("n").alias("n_in"))
    n_out = counts.select("st", F.col("n").alias("n_out"))
    return (
        spine.join(F.broadcast(n_in), "st", "left")
        .join(F.broadcast(n_out), "st", "left")
        .select(
            F.col("st").cast("long").alias("stage_id"),
            F.element_at(names, F.col("st")).alias("stage"),
            F.coalesce("n_in", F.lit(0)).alias("n_in"),
            F.coalesce("n_out", F.lit(0)).alias("n_out"),
        )
        .orderBy("stage_id")
    )


# ---------------------------------------------------------------------------
# SFT chat-format flattening (post-training data prep).
# ---------------------------------------------------------------------------

#: Words per synthesized chat turn (fixture corpus is unescaped word-soup,
#: so plain string-concat JSON synthesis is quote-safe; see docstring).
_SFT_TURN_WORDS = 12

_ORACLE_SFT = rf"""
WITH src AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
  FROM documents
),
turns AS (
  SELECT doc_id,
         array_to_string(w[1:{_SFT_TURN_WORDS}], ' ') AS u,
         array_to_string(w[{_SFT_TURN_WORDS + 1}:{2 * _SFT_TURN_WORDS}], ' ') AS a
  FROM src WHERE len(w) >= {2 * _SFT_TURN_WORDS}
),
chat AS (
  SELECT doc_id,
         '[{{"role":"user","content":"' || u ||
         '"}},{{"role":"assistant","content":"' || a || '"}}]' AS chat_json
  FROM turns
),
parsed AS (
  SELECT doc_id,
         json_extract_string(chat_json, '$[0].role') AS r0,
         json_extract_string(chat_json, '$[0].content') AS c0,
         json_extract_string(chat_json, '$[1].role') AS r1,
         json_extract_string(chat_json, '$[1].content') AS c1,
         CAST(json_array_length(chat_json) AS BIGINT) AS n_turns
  FROM chat
)
SELECT doc_id, n_turns,
       CAST(len(string_split(c0, ' ')) + len(string_split(c1, ' '))
            AS BIGINT) AS n_tokens,
       '<|' || r0 || '|>' || c0 || '<|end|>' || chr(10) ||
       '<|' || r1 || '|>' || c1 || '<|end|>' AS sft_text
FROM parsed
ORDER BY doc_id
"""


@register(
    "train_sft_chat_flatten",
    oracle=_ORACLE_SFT,
    tags=("train", "text", "north-star"),
    doc=(
        "Chat-format SFT flattening: conversation transcripts arrive as "
        "JSON message arrays [{role, content}, ...] and must be rendered "
        "into a single training string per example with role sentinels "
        "plus turn/token accounting. The fixture corpus has no chat data, "
        "so the query first SYNTHESIZES a deterministic 2-turn transcript "
        "per document from its own words (quote-safe by construction: the "
        "corpus is unescaped word-soup) — then does the real work: "
        "from_json with an explicit array<struct> schema, posexplode, "
        "order-preserving template render, and token counts. Pure JVM "
        "expression layer (JSON parse included) — no Python; per-row work, "
        "no shuffle except the presentation sort. At 100 TB this is the "
        "canonical map-only post-training prep stage; the same plan "
        "handles arbitrary turn counts because the explode/re-agg path "
        "never assumes 2 turns."
    ),
)
def train_sft_chat_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    k = _SFT_TURN_WORDS
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = docs.select("doc_id", F.split(F.trim("text"), r"\s+").alias("w")).where(
        F.size("w") >= 2 * k
    )
    turns = w.select(
        "doc_id",
        F.array_join(F.slice("w", 1, k), " ").alias("u"),
        F.array_join(F.slice("w", k + 1, k), " ").alias("a"),
    )
    chat = turns.select(
        "doc_id",
        F.concat(
            F.lit('[{"role":"user","content":"'),
            F.col("u"),
            F.lit('"},{"role":"assistant","content":"'),
            F.col("a"),
            F.lit('"}]'),
        ).alias("chat_json"),
    )
    return sft_flatten(chat, id_col="doc_id", chat_json_col="chat_json")


def sft_flatten(
    df: DataFrame, id_col: str = "doc_id", chat_json_col: str = "chat_json"
) -> DataFrame:
    """Flatten JSON chat transcripts (arbitrary turn count) into one
    role-sentinel training string per example with turn/token accounting.
    Pure JVM expression layer: from_json with an explicit array<struct>
    schema, posexplode, order-preserving re-aggregation.  No presentation
    sort: a global ORDER BY over rendered training strings was the one
    superlinear term in the x1-x64 probe (the map work itself is linear),
    and row order is immaterial to the consumer (training shuffles anyway)
    and to the order-insensitive oracle hash."""
    msgs = df.select(
        id_col,
        F.from_json(
            chat_json_col, "array<struct<role:string,content:string>>"
        ).alias("msgs"),
    )
    exploded = msgs.select(
        id_col,
        F.size("msgs").cast("long").alias("n_turns"),
        F.posexplode("msgs").alias("pos", "m"),
    )
    rendered = exploded.select(
        id_col,
        "n_turns",
        "pos",
        F.size(F.split(F.col("m.content"), " ")).cast("long").alias("toks"),
        F.concat(
            F.lit("<|"), F.col("m.role"), F.lit("|>"), F.col("m.content"),
            F.lit("<|end|>"),
        ).alias("piece"),
    )
    return (
        rendered.groupBy(id_col, "n_turns")
        .agg(
            F.sum("toks").alias("n_tokens"),
            F.array_join(
                F.array_sort(
                    F.collect_list(F.struct("pos", "piece"))
                ).piece,
                "\n",
            ).alias("sft_text"),
        )
        .select(id_col, "n_turns", "n_tokens", "sft_text")
    )


# ---------------------------------------------------------------------------
# Truncation-loss report (choosing max_seq_len from data, not folklore).
# ---------------------------------------------------------------------------

_TRUNC_MAX_LEN = 128
_TRUNC_BUCKET_W = 32

_ORACLE_TRUNC = f"""
WITH lens AS (
  SELECT doc_id, CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_toks
  FROM documents
),
bucketed AS (
  SELECT LEAST(n_toks // {_TRUNC_BUCKET_W}, 7) AS len_bucket,
         n_toks,
         LEAST(n_toks, {_TRUNC_MAX_LEN}) AS kept,
         GREATEST(n_toks - {_TRUNC_MAX_LEN}, 0) AS lost
  FROM lens
)
SELECT len_bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
       CAST(SUM(kept) AS BIGINT) AS kept_tokens,
       CAST(SUM(lost) AS BIGINT) AS lost_tokens,
       CAST((SUM(lost) * 10000) // SUM(n_toks) AS BIGINT) AS lost_bp
FROM bucketed
GROUP BY 1
ORDER BY 1
"""


@register(
    "train_truncation_loss_report",
    oracle=_ORACLE_TRUNC,
    tags=("train", "dq"),
    doc=(
        f"Truncation-loss accounting for a candidate max_seq_len "
        f"({_TRUNC_MAX_LEN} tokens): per length-bucket document counts and "
        "the exact token mass a hard truncation would discard, as integer "
        "basis points. The report that decides sequence length and packing "
        "strategy BEFORE a 100 TB tokenization run — one narrow column "
        "scan into a map-side-combined 8-group aggregate; no shuffle "
        "wider than 8 rows. Pairs with pack_sequences_chunked (the "
        "no-loss alternative whose cost this report justifies)."
    ),
)
def train_truncation_loss_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lens = docs.select(
        F.size(F.split(F.trim("text"), " ")).cast("long").alias("n_toks")
    )
    b = _TRUNC_BUCKET_W
    m = _TRUNC_MAX_LEN
    bucketed = lens.select(
        F.least(F.expr(f"n_toks div {b}"), F.lit(7)).alias("len_bucket"),
        "n_toks",
        F.least(F.col("n_toks"), F.lit(m)).cast("long").alias("kept"),
        F.greatest(F.col("n_toks") - m, F.lit(0)).cast("long").alias("lost"),
    )
    return (
        bucketed.groupBy("len_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
            F.sum("kept").alias("kept_tokens"),
            F.sum("lost").alias("lost_tokens"),
            F.expr("(SUM(lost) * 10000) div SUM(n_toks)").alias("lost_bp"),
        )
        .orderBy("len_bucket")
    )


# -- Stream-stream LEFT OUTER join (conversion verdict per click) --------------

_ORACLE_STREAM_LEFT_JOIN = """
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.ts AS click_ts,
       p.ts AS purchase_ts
FROM events c
LEFT JOIN events p
  ON c.user_id = p.user_id
 AND p.event_type = 'purchase'
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL '30 minutes'
WHERE c.event_type = 'click'
"""


@register(
    "stream_stream_join_left_outer",
    oracle=_ORACLE_STREAM_LEFT_JOIN,
    tags=("streaming", "join"),
    doc=(
        "Stream-stream LEFT OUTER join with an event-time range condition: "
        "every click gets a verdict — matched purchase rows stream out as "
        "found, and a click with NO same-user purchase within 30 min emits "
        "exactly one NULL-purchase row once the watermark proves no match "
        "can still arrive (the state-eviction semantics that distinguish "
        "outer from inner on unbounded streams; state stays bounded on "
        "both sides). The far-future sentinel row flushes the trailing "
        "clicks' verdicts under Trigger.AvailableNow, so the result is "
        "byte-equal to the batch LEFT JOIN oracle (stream/batch parity)."
    ),
)
def stream_stream_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    with stream_state_width(spark):
        events = read_events_stream(spark, sf_dir, sentinel=True)
        joined = clicks_purchases_join(events, how="left_outer")
        with tempfile.TemporaryDirectory(prefix="ckpt_") as ckpt:
            return run_available_now(joined, ckpt, output_mode="append")


_ORACLE_STREAM_FULL_JOIN = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT COALESCE(c.user_id, p.user_id) AS user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.ts AS click_ts,
       p.ts AS purchase_ts
FROM clicks c
FULL OUTER JOIN purchases p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL '30 minutes'
"""


@register(
    "stream_stream_join_full_outer",
    oracle=_ORACLE_STREAM_FULL_JOIN,
    tags=("streaming", "join"),
    doc=(
        "Stream-stream FULL OUTER join: both unmatched sides get verdicts "
        "— clicks that never converted AND purchases with no preceding "
        "click within the horizon each emit one NULL-padded row on state "
        "eviction (watermarks bound both state stores). The sentinel "
        "flushes both sides' verdicts under Trigger.AvailableNow, giving "
        "byte-exact parity with the batch FULL OUTER range join. The "
        "output's user_id coalesces whichever side is present."
    ),
)
def stream_stream_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    with stream_state_width(spark):
        events = read_events_stream(spark, sf_dir, sentinel=True)
        joined = clicks_purchases_join(events, how="full_outer")
        with tempfile.TemporaryDirectory(prefix="ckpt_") as ckpt:
            return run_available_now(joined, ckpt, output_mode="append")


# -- End-to-end SFT data funnel (post-training analog of the pretrain funnel) --

_ORACLE_SFT_FUNNEL = r"""
WITH raw AS (
  SELECT doc_id, trim(text) AS text,
         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_toks
  FROM documents
),
dedup AS (
  SELECT r.* FROM raw r
  JOIN (SELECT md5(text) AS h, MIN(doc_id) AS doc_id FROM raw GROUP BY 1) k
    ON r.doc_id = k.doc_id
),
gated AS (
  SELECT * FROM dedup WHERE n_toks BETWEEN 24 AND 512
),
tr_sh AS (
  SELECT DISTINCT g.doc_id,
         array_to_string(w[i:i+7], ' ') AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM gated) g,
       unnest(range(1, len(w) - 6)) AS t(i)
  WHERE len(w) >= 8
),
ev_sh AS (
  SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS s
  FROM (SELECT string_split(trim(text), ' ') AS w
        FROM documents WHERE doc_id % 20 = 0) e,
       unnest(range(1, len(w) - 6)) AS t(i)
  WHERE len(w) >= 8
),
cont AS (SELECT DISTINCT doc_id FROM tr_sh JOIN ev_sh USING (s)),
clean AS (
  SELECT g.* FROM gated g
  WHERE g.doc_id % 20 <> 0
    AND g.doc_id NOT IN (SELECT doc_id FROM cont)
)
SELECT 0 AS stage, COUNT(*) AS n_docs,
       CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) AS n_tokens FROM raw
UNION ALL
SELECT 1, COUNT(*), CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) FROM dedup
UNION ALL
SELECT 2, COUNT(*), CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) FROM gated
UNION ALL
SELECT 3, COUNT(*), CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) FROM clean
UNION ALL
SELECT 4, COUNT(*), CAST(COUNT(*) * 24 AS BIGINT) FROM clean
ORDER BY stage
"""


@register(
    "pipeline_sft_funnel",
    oracle=_ORACLE_SFT_FUNNEL,
    tags=("train", "pipeline", "north-star"),
    doc=(
        "End-to-end SFT data funnel (the post-training sibling of "
        "pipeline_training_funnel): exact dedup (min-doc per content md5) "
        "-> length gate (24..512 tokens — must fit the chat template, "
        "drop pathological lengths) -> 8-gram decontamination against the "
        "eval slice -> chat-format flattening (sft_flatten), with per-"
        "stage document AND token counts in one tagged union aggregate. "
        "Stage ids persist as tiny id-only sets; each stage re-derives "
        "its own shrinking slice (measured cheaper than materializing the "
        "exploded shingle posting corpus-wide). At 100 TB the exact "
        "decontamination join swaps for the bloom gate "
        "(text_decontaminate_bloom) and dedup/flatten are already hash-"
        "agg/map-only. Token accounting shifts meaning at stage 4 by "
        "design: raw-corpus tokens before, rendered SFT tokens (2 turns "
        "x 12 words) after — the number a training-budget plan consumes."
    ),
)
def pipeline_sft_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import shingle_posting

    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.trim("text").alias("text")
    )
    raw = docs.select(
        "doc_id",
        "text",
        F.size(F.split("text", " ")).cast("long").alias("n_toks"),
    ).persist()
    dedup_ids = (
        raw.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .persist()
    )
    gated = (
        raw.join(dedup_ids, "doc_id")
        .where(F.col("n_toks").between(24, 512))
        .persist()
    )
    # no .distinct(): (doc_id, s) is already unique (array_distinct per
    # doc, unique doc_id) — see pipeline_training_funnel (r12).
    tr_sh = shingle_posting(gated.select("doc_id", "text"), n=8)
    ev_sh = (
        shingle_posting(docs.where(F.col("doc_id") % 20 == 0), n=8)
        .select("shingle")
        .distinct()
    )
    cont_ids = tr_sh.join(ev_sh, "shingle").select("doc_id").distinct()
    clean = (
        gated.where(F.col("doc_id") % 20 != 0)
        .join(cont_ids, "doc_id", "left_anti")
        .persist()
    )
    flat = sft_flatten(
        clean.select(
            "doc_id",
            F.concat(
                F.lit('[{"role":"user","content":"'),
                F.array_join(F.slice(F.split("text", " "), 1, 12), " "),
                F.lit('"},{"role":"assistant","content":"'),
                F.array_join(F.slice(F.split("text", " "), 13, 12), " "),
                F.lit('"}]'),
            ).alias("chat_json"),
        )
    )
    tagged = (
        raw.select(F.lit(0).alias("stage"), "n_toks")
        .unionByName(
            raw.join(dedup_ids, "doc_id").select(
                F.lit(1).alias("stage"), "n_toks"
            )
        )
        .unionByName(gated.select(F.lit(2).alias("stage"), "n_toks"))
        .unionByName(clean.select(F.lit(3).alias("stage"), "n_toks"))
        .unionByName(
            flat.select(F.lit(4).alias("stage"), F.col("n_tokens").alias("n_toks"))
        )
    )
    spine = docs.sparkSession.range(5).select(
        F.col("id").cast("int").alias("stage")
    )
    counts = tagged.groupBy("stage").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
    )
    # spine join: a fully-emptied stage still reports (0, 0) — the funnel
    # report's row set must not depend on survivorship
    return (
        spine.join(counts, "stage", "left")
        .select(
            "stage",
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        )
        .orderBy("stage")
    )


# -- DPO preference-pair builder -----------------------------------------------

_ORACLE_DPO = r"""
WITH scored AS (
  SELECT doc_id, lang, source,
         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS score
  FROM documents
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY lang, source
                            ORDER BY score DESC, doc_id) AS rn_top,
         ROW_NUMBER() OVER (PARTITION BY lang, source
                            ORDER BY score ASC, doc_id) AS rn_bot,
         COUNT(*) OVER (PARTITION BY lang, source) AS grp_n
  FROM scored
)
SELECT t.lang, t.source,
       t.doc_id AS chosen_id, t.score AS chosen_score,
       b.doc_id AS rejected_id, b.score AS rejected_score,
       t.score - b.score AS margin
FROM ranked t
JOIN ranked b
  ON t.lang = b.lang AND t.source = b.source
 AND t.rn_top = b.rn_bot AND t.rn_top <= 3
WHERE t.grp_n >= 6 AND t.doc_id <> b.doc_id AND t.score > b.score
ORDER BY t.lang, t.source, chosen_id
"""


@register(
    "train_dpo_pair_builder",
    oracle=_ORACLE_DPO,
    tags=("train", "north-star"),
    doc=(
        "DPO preference-pair construction: within each (lang, source) "
        "group — the fixture proxy for 'responses to the same prompt "
        "family' — pair the k=3 highest-scored documents with the k=3 "
        "lowest (1st-best vs 1st-worst, 2nd vs 2nd, ...), emitting "
        "(chosen, rejected, margin) rows; groups too small for disjoint "
        "extremes (n<6), self-pairs and zero-margin ties are dropped — "
        "the standard construction for preference-optimization data from "
        "a scored pool. Deterministic integer score (token count stands "
        "in for a reward model — swapping in real scores is a column "
        "swap). Two ranking windows per group + one rank-aligned "
        "self-join; groups are numerous and small, so windows never "
        "funnel into one reducer; the rank filter triggers "
        "WindowGroupLimit pruning map-side."
    ),
)
def train_dpo_pair_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    pin_query_session_conf(spark)
    scored = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.size(F.split(F.trim("text"), " ")).cast("long").alias("score"),
    )
    grp = Window.partitionBy("lang", "source")
    ranked = scored.select(
        "*",
        F.row_number()
        .over(grp.orderBy(F.col("score").desc(), "doc_id"))
        .alias("rn_top"),
        F.row_number()
        .over(grp.orderBy(F.col("score").asc(), "doc_id"))
        .alias("rn_bot"),
        F.count(F.lit(1)).over(grp).alias("grp_n"),
    )
    top = ranked.where((F.col("rn_top") <= 3) & (F.col("grp_n") >= 6)).select(
        "lang", "source", "rn_top",
        F.col("doc_id").alias("chosen_id"),
        F.col("score").alias("chosen_score"),
    )
    bot = ranked.select(
        "lang", "source",
        F.col("rn_bot").alias("rn_top"),
        F.col("doc_id").alias("rejected_id"),
        F.col("score").alias("rejected_score"),
    )
    return (
        top.join(bot, ["lang", "source", "rn_top"])
        .where(
            (F.col("chosen_id") != F.col("rejected_id"))
            & (F.col("chosen_score") > F.col("rejected_score"))
        )
        .select(
            "lang", "source", "chosen_id", "chosen_score",
            "rejected_id", "rejected_score",
            (F.col("chosen_score") - F.col("rejected_score")).alias("margin"),
        )
        .orderBy("lang", "source", "chosen_id")
    )


@register(
    "train_pack_bestfit",
    oracle=None,
    tags=("training", "packing", "north-star"),
    doc=(
        "Best-fit-decreasing shard packing "
        "(operators/indexing.py: bestfit_pack): documents pack into "
        "fixed-budget bins per shard, each item into the fullest open bin "
        "that fits — the padding-waste recovery pass next to "
        "pack_sequences_chunked's concat-then-chunk (BFD is 11/9-OPT+1 "
        "vs next-fit's 2-OPT on skewed length mixes). The bin table is "
        "order-dependent sequential state, so each shard packs inside one "
        "Arrow-batched applyInPandas group — shards are the parallel "
        "unit, exactly how shard packing distributes at 100 TB. "
        "Rows-only: the greedy recursion is not SQL-expressible; packing "
        "is pinned against a pure-Python reference and a "
        "no-bin-over-budget/all-items-packed property in "
        "tests/test_training_ops.py, and utilization >= the chunked "
        "packer's padding floor."
    ),
)
def train_pack_bestfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.indexing import bestfit_pack
    from ..operators.text import bpe_ish_token_count

    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        bpe_ish_token_count("text").cast("long").alias("n_tok"),
    )
    return bestfit_pack(
        t, group_col="shard", id_col="doc_id", size_col="n_tok",
        budget=_PACK_BUDGET,
    ).orderBy("shard", "bin_id", "doc_id")


# -- DoReMi-style domain reweighting (one exponentiated-gradient step) --------

_DOREMI_ETA = "0.5"

_ORACLE_DOREMI = f"""
WITH stats AS (
  SELECT source,
         COUNT(*) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs FROM stats),
-- proxy excess loss per domain: long docs are "harder" — average chars
-- per doc normalized by the corpus-wide average (deterministic stand-in
-- for the DoReMi proxy/reference loss gap)
loss AS (
  SELECT s.source, s.n_docs,
         CAST(s.n_chars AS DOUBLE) / CAST(s.n_docs AS DOUBLE)
           / (SELECT CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(n_docs) AS
              DOUBLE) FROM stats) AS excess_loss
  FROM stats s
),
unnorm AS (
  SELECT source, n_docs, excess_loss,
         -- fixed-point BEFORE the normalizing sum: z is then an exact
         -- BIGINT total, so normalization is order-free in both engines
         CAST(floor(1000000000000.0 * (CAST(n_docs AS DOUBLE)
              / (SELECT CAST(total_docs AS DOUBLE) FROM tot))
              * exp({_DOREMI_ETA} * excess_loss)) AS BIGINT) AS u_e12
  FROM loss
),
z AS (SELECT CAST(SUM(u_e12) AS BIGINT) AS z FROM unnorm)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       round(excess_loss, 6) AS excess_loss,
       round(CAST(u_e12 AS DOUBLE) / CAST(z.z AS DOUBLE), 6) AS new_weight
FROM unnorm, z ORDER BY source
"""


@register(
    "sample_doremi_reweight",
    oracle=_ORACLE_DOREMI,
    tags=("sampling", "training", "north-star"),
    doc=(
        "DoReMi-style domain reweighting (arXiv:2305.10429), one "
        "exponentiated-gradient step: per-domain weights start at the "
        "corpus token share and multiply by exp(eta * excess_loss), then "
        "renormalize — the data-mixture optimization loop's inner step, "
        "run between training epochs. The excess-loss signal here is the "
        "deterministic chars-per-doc ratio stand-in (the real pipeline "
        "plugs per-domain proxy-model loss into the same shape). One "
        "hash aggregate per domain + two scalar broadcasts; domain count "
        "is tiny so the EG step is driver-trivial at any corpus size. "
        "Float math is a fixed per-row expression over exact integer "
        "aggregates (sum-order never varies), so round-6 values match "
        "the oracle bit-for-bit."
    ),
)
def sample_doremi_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )
    glob = stats.agg(
        F.sum("n_docs").cast("bigint").alias("total_docs"),
        (
            F.sum("n_chars").cast("double") / F.sum("n_docs").cast("double")
        ).alias("avg_chars"),
    )
    eta = float(_DOREMI_ETA)
    unnorm = (
        stats.crossJoin(F.broadcast(glob))
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            (
                F.col("n_chars").cast("double") / F.col("n_docs").cast("double")
                / F.col("avg_chars")
            ).alias("excess_loss"),
            F.floor(
                F.lit(1e12)
                * (F.col("n_docs").cast("double")
                   / F.col("total_docs").cast("double"))
                * F.exp(F.lit(eta) * (
                    F.col("n_chars").cast("double")
                    / F.col("n_docs").cast("double")
                    / F.col("avg_chars")
                ))
            ).cast("bigint").alias("u_e12"),
        )
    )
    z = unnorm.agg(F.sum("u_e12").cast("bigint").alias("z"))
    return (
        unnorm.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_docs",
            F.round("excess_loss", 6).alias("excess_loss"),
            F.round(
                F.col("u_e12").cast("double") / F.col("z").cast("double"), 6
            ).alias("new_weight"),
        )
        .orderBy("source")
    )


# -- Neyman-optimal stratified sample allocation -------------------------------

_NEYMAN_BUDGET = 1000

_ORACLE_NEYMAN = f"""
WITH m AS (
  SELECT source, COUNT(*) AS nh,
         CAST(SUM(n_chars) AS HUGEINT) AS s1,
         CAST(SUM(CAST(n_chars AS HUGEINT) * n_chars) AS HUGEINT) AS s2
  FROM documents GROUP BY source
),
w AS (
  SELECT source, nh,
         -- floor(1e6 * N_h * population-sd): sd from exact moments, one
         -- sqrt per stratum, fixed-pointed BEFORE the denominator sum
         CAST(floor(1000000.0 * nh * sqrt(
           CAST(nh * s2 - s1 * s1 AS DOUBLE)
           / CAST(nh AS DOUBLE) / CAST(nh AS DOUBLE))) AS BIGINT) AS wm
  FROM m
),
tot AS (SELECT CAST(SUM(wm) AS BIGINT) AS z FROM w),
shares AS (
  SELECT source, nh, wm,
         CAST({_NEYMAN_BUDGET} AS BIGINT) * wm AS share
  FROM w
),
alloc AS (
  SELECT s.source, s.nh, s.wm,
         share // t.z AS base,
         share % t.z AS rem,
         ROW_NUMBER() OVER (ORDER BY share % t.z DESC, s.source) AS rr
  FROM shares s, tot t
),
left_over AS (
  SELECT CAST({_NEYMAN_BUDGET} AS BIGINT) - SUM(base) AS k FROM alloc
)
SELECT a.source, CAST(a.nh AS BIGINT) AS n_docs, a.wm AS weight_micro,
       CAST(a.base + CASE WHEN a.rr <= l.k THEN 1 ELSE 0 END AS BIGINT)
         AS n_sampled
FROM alloc a, left_over l
ORDER BY a.source
"""


@register(
    "sample_neyman_allocation",
    oracle=_ORACLE_NEYMAN,
    tags=("sampling", "stats", "north-star"),
    doc=(
        "Neyman-optimal stratified sample allocation: each stratum "
        "(source) gets budget share proportional to N_h * sd_h (the "
        "variance-minimizing allocation for a fixed budget), with the "
        "integer seats assigned by the largest-remainder method. "
        "Determinism engineering: stddev comes from exact HUGEINT "
        "moments, per-stratum weights fix-point BEFORE the denominator "
        "sum, and the seat arithmetic (base = n*w div Z, remainder = "
        "n*w mod Z, top-k remainders rounded up) is pure BIGINT — the "
        "entire apportionment is order-free and engine-exact. One "
        "moments aggregate + a 20-row driver-free window; this is the "
        "front-door planner for sample_stratified_by_lang-style "
        "executors at any corpus size."
    ),
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    m = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum(F.col("n_chars").cast("decimal(38,0)")).alias("s1"),
        F.sum(
            F.col("n_chars").cast("decimal(38,0)") * F.col("n_chars")
        ).alias("s2"),
    )
    w = m.select(
        "source",
        "nh",
        F.floor(
            F.lit(1e6)
            * F.col("nh")
            * F.sqrt(
                (F.col("nh") * F.col("s2") - F.col("s1") * F.col("s1"))
                .cast("double")
                / F.col("nh").cast("double")
                / F.col("nh").cast("double")
            )
        )
        .cast("bigint")
        .alias("wm"),
    )
    tot = w.agg(F.sum("wm").cast("bigint").alias("z"))
    shares = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "nh",
        "wm",
        (F.lit(_NEYMAN_BUDGET).cast("bigint") * F.col("wm")).alias("share"),
        "z",
    )
    alloc = shares.select(
        "source",
        "nh",
        "wm",
        F.expr("share div z").alias("base"),
        (F.col("share") % F.col("z")).alias("rem"),
    ).withColumn(
        "rr", F.row_number().over(Window.orderBy(F.desc("rem"), "source"))
    )
    k = alloc.agg(
        (F.lit(_NEYMAN_BUDGET).cast("bigint") - F.sum("base")).alias("k")
    )
    return (
        alloc.crossJoin(F.broadcast(k))
        .select(
            "source",
            F.col("nh").cast("bigint").alias("n_docs"),
            F.col("wm").alias("weight_micro"),
            (
                F.col("base")
                + F.when(F.col("rr") <= F.col("k"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_sampled"),
        )
        .orderBy("source")
    )


_ORACLE_BALANCED_DOWNSAMPLE = """
WITH sized AS (
  SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label
),
floor_n AS (SELECT CAST(MIN(n) AS BIGINT) AS min_n FROM sized),
ranked AS (
  SELECT label, vec_id,
         ROW_NUMBER() OVER (PARTITION BY label
           ORDER BY md5('bal:' || CAST(vec_id AS VARCHAR)), vec_id) AS r
  FROM embeddings
)
SELECT r.label,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(r.vec_id) AS BIGINT) AS id_checksum
FROM ranked r, floor_n f
WHERE r.r <= f.min_n
GROUP BY r.label ORDER BY r.label
"""


@register(
    "sample_balanced_downsample",
    oracle=_ORACLE_BALANCED_DOWNSAMPLE,
    tags=("sampling", "training", "ml"),
    doc=(
        "Class-balanced downsampling: every label keeps exactly "
        "min-class-count examples, selected by md5 rank within the "
        "class — the majority-class undersampling step before training "
        "on skewed labels, made deterministic and engine-reproducible "
        "(the hash IS the shuffle, the same seeded-order trick as "
        "train_shuffle_epochs). One per-class count + one per-class "
        "window ordered by the hash; the id_checksum column pins the "
        "EXACT selected set, not just its size."
    ),
)
def sample_balanced_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    pin_query_session_conf(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    min_n = emb.groupBy("label").count().agg(
        F.min("count").cast("bigint").alias("min_n")
    )
    w = Window.partitionBy("label").orderBy(
        F.md5(F.concat(F.lit("bal:"), F.col("vec_id").cast("string"))),
        "vec_id",
    )
    ranked = emb.select("label", "vec_id").withColumn(
        "r", F.row_number().over(w)
    )
    return (
        ranked.crossJoin(F.broadcast(min_n))
        .where(F.col("r") <= F.col("min_n"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.sum("vec_id").cast("bigint").alias("id_checksum"),
        )
        .orderBy("label")
    )


# -- Systematic every-k sampling over stable ids (r8) ---------------------------------

_SYS_K = 7

_ORACLE_SYSTEMATIC = f"""
WITH ids AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS row_id
  FROM documents
)
SELECT doc_id, lang, row_id
FROM ids WHERE row_id % {_SYS_K} = 0
ORDER BY doc_id
"""


@register(
    "sample_systematic_every_k",
    oracle=_ORACLE_SYSTEMATIC,
    tags=("training", "sampling"),
    doc=(
        f"Systematic 1-in-{_SYS_K} sampling over the doc_id order: dense "
        "contiguous row ids from the scalable range-repartition prefix-sum "
        "path (operators/indexing.global_dense_ids — no single-partition "
        "ROW_NUMBER window), then a pure modulus filter. The evenly-"
        "spaced sampling design (deterministic, order-respecting) beside "
        "the Bernoulli (sample_stratified_md5) and reservoir "
        "(sample_weighted_reservoir) families; the oracle runs the "
        "window form the plan replaces."
    ),
)
def sample_systematic_every_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.indexing import global_dense_ids

    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    ids = global_dense_ids(docs, "doc_id")
    return (
        ids.where(F.col("row_id") % _SYS_K == 0)
        .select("doc_id", "lang", "row_id")
        .orderBy("doc_id")
    )


# -- Next-fit shard packing: the oracle-backed fold twin of bestfit (r9) -------

_ORACLE_PACK_NEXTFIT = f"""
WITH t AS (
  SELECT doc_id,
         doc_id % {_PACK_SHARDS} AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS h,
         least(CAST(len(regexp_extract_all(
                 text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT),
               {_PACK_BUDGET}) AS n_tok
  FROM documents
),
seq AS (
  SELECT shard,
         CAST(COUNT(*) AS BIGINT) AS n_items,
         CAST(SUM(n_tok) AS BIGINT) AS total_tok,
         list(n_tok ORDER BY h) AS lens
  FROM t GROUP BY shard
),
folded AS (
  SELECT shard, n_items, total_tok,
         list_reduce(
           list_prepend([CAST(1 AS BIGINT), CAST(0 AS BIGINT)],
                        list_transform(lens, x -> [x, CAST(0 AS BIGINT)])),
           (acc, e) -> CASE
             WHEN acc[2] + e[1] <= {_PACK_BUDGET}
               THEN [acc[1], acc[2] + e[1]]
             ELSE [acc[1] + 1, e[1]]
           END) AS st
  FROM seq
)
SELECT shard, n_items, CAST(st[1] AS BIGINT) AS n_bins, total_tok,
       CAST(total_tok * 1000000 // (st[1] * {_PACK_BUDGET}) AS BIGINT)
         AS fill_ppm
FROM folded ORDER BY shard
"""


@register(
    "train_pack_nextfit_md5",
    oracle=_ORACLE_PACK_NEXTFIT,
    tags=("training", "packing"),
    doc=(
        "Next-fit shard packing, the oracle-backed fold twin of the "
        "rows-only train_pack_bestfit (BFD's open-bin table is "
        "arbitrary-order sequential state; next-fit's single open bin "
        "makes the whole packing a two-cell [bins, current_fill] fold): "
        "docs shard by doc_id, arrive in md5 order (the deterministic "
        "stand-in for stream arrival), over-budget docs clip to the "
        "budget, and each shard folds its ordered length list JVM-side "
        "with aggregate() — bit-identical to DuckDB's list_reduce with "
        "a prepended init element (the events_cusum_changepoint "
        "pattern, integer state so exactness is trivial). Output is the "
        "per-shard packing report (bins opened, fill ppm); next-fit is "
        "2-OPT so this also pins the calibration floor the BFD packer "
        "must beat. Shards are the parallel unit, exactly as bestfit "
        "distributes; the fold input is one shard's lengths, bounded by "
        "the shard size the packer chooses at 100 TB."
    ),
)
def train_pack_nextfit_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import bpe_ish_token_count

    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
        F.least(
            bpe_ish_token_count("text").cast("long"), F.lit(_PACK_BUDGET)
        ).alias("n_tok"),
    )
    seq = t.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum("n_tok").cast("bigint").alias("total_tok"),
        F.expr(
            "transform(array_sort(collect_list(struct(h, n_tok))), "
            "s -> s.n_tok)"
        ).alias("lens"),
    )
    fold = f"""
aggregate(
  lens,
  array(1L, 0L),
  (acc, x) -> CASE
    WHEN acc[1] + x <= {_PACK_BUDGET} THEN array(acc[0], acc[1] + x)
    ELSE array(acc[0] + 1L, x)
  END)
"""
    folded = seq.withColumn("st", F.expr(fold))
    return folded.select(
        "shard",
        "n_items",
        F.expr("st[0]").cast("bigint").alias("n_bins"),
        "total_tok",
        F.expr(
            f"CAST(total_tok * 1000000 div (st[0] * {_PACK_BUDGET}) "
            "AS BIGINT)"
        ).alias("fill_ppm"),
    ).orderBy("shard")
