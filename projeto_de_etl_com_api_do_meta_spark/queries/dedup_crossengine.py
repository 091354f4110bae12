"""Oracle-verifiable MinHash-LSH and SimHash (md5 hash family).

The production dedup operators (operators/dedup.py) use murmur3 (``F.hash``)
— the cheapest JVM-codegen hash — which no other engine reproduces, so their
registry queries are rows-only.  These queries run the SAME pipeline shapes
(shingle → k-min signature → banded equi-join → signature verify; token →
±1 bit fold → pigeonhole blocks → Hamming verify) with an md5-derived hash
family that DuckDB evaluates bit-identically, turning full MinHash+LSH and
SimHash near-dup into value-checked contracts.

Hash family: ``h_i(x) = uint32(first 8 hex chars of md5(i ':' x))`` — the
same construction already used by ``embed_random_projection``'s ±1 matrix.
md5 is ~2-4x slower per call than murmur3, which is why the murmur3 forms
remain the headline/bench path; the shapes (and therefore the 100 TB
posture: posting-list joins, never all-pairs) are identical.

Determinism: every output column is an integer (ids, match counts, Hamming
distances, packed fingerprints) — no floats cross the compare.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.dedup import spread, word_shingles
from ..operators.text import tokens
from ..session import pin_query_session_conf
from .registry import register

_K = 16  # minhash signature length
_BANDS = 4  # 4 bands x 4 rows: P(candidate) = 1-(1-j^4)^4
_ROWS = _K // _BANDS
_MIN_MATCH = 8  # est Jaccard >= 8/16 = 0.5


def _md5_u32(col) -> F.Column:
    """uint32 from the first 8 hex chars of md5 — same value as DuckDB's
    ('0x' || substr(md5(x),1,8))::BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# MinHash + LSH, md5 family.
# ---------------------------------------------------------------------------

_ORACLE_MINHASH = f"""
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
  FROM sh, unnest(range(0, {_K})) AS r(i)
  GROUP BY doc_id, r.i
),
sig AS (
  SELECT doc_id, list(h ORDER BY hi) AS sig FROM mh GROUP BY doc_id
),
band AS (
  SELECT doc_id, b.j AS band_id,
         md5(array_to_string(sig[b.j * {_ROWS} + 1 : b.j * {_ROWS} + {_ROWS}],
                             ':')) AS bh
  FROM sig, unnest(range(0, {_BANDS})) AS b(j)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
  FROM band a
  JOIN band b2 ON a.band_id = b2.band_id AND a.bh = b2.bh
              AND a.doc_id < b2.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(len(list_filter(range(1, {_K} + 1), k -> sa.sig[k] = sb.sig[k]))
            AS BIGINT) AS n_match
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_a
JOIN sig sb ON sb.doc_id = c.doc_b
WHERE len(list_filter(range(1, {_K} + 1), k -> sa.sig[k] = sb.sig[k]))
      >= {_MIN_MATCH}
ORDER BY doc_a, doc_b
"""


def md5_lsh_signatures(
    docs: DataFrame, posting: DataFrame | None = None
) -> DataFrame:
    """(doc_id, sig[16]) md5-family minhash signatures — the cross-engine
    hash family shared by the batch near-dup query and the incremental
    streaming suppressor (docs with <3 tokens have no shingles and are
    absent from the result). Pass ``posting`` (doc_id, s shingle rows) to
    reuse an already-shingled stream — shingling dominates per-row cost,
    so callers that also need the exact side should shingle once."""
    if posting is None:
        # no size(tokens)>=3 pre-filter (r12): word_shingles already
        # yields an EMPTY array below 3 tokens and explode drops empty
        # arrays, so the filter selected exactly the rows the explode
        # keeps while paying a second whole-corpus tokenization per row.
        posting = (
            spread(docs, "doc_id")
            .select(
                "doc_id", F.explode(word_shingles("text", 3)).alias("s")
            )
        )
    mins = posting.groupBy("doc_id").agg(
        *[
            F.min(_md5_u32(F.concat(F.lit(f"{i}:"), F.col("s")))).alias(f"h{i}")
            for i in range(_K)
        ]
    )
    return mins.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(_K)]).alias("sig")
    )


def md5_lsh_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band_id, bh) LSH band buckets from md5 signatures."""
    return sig.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(_BANDS - 1)),
                lambda j: F.md5(
                    F.array_join(
                        F.transform(
                            F.slice(F.col("sig"), j * _ROWS + 1, _ROWS),
                            lambda v: v.cast("string"),
                        ),
                        ":",
                    )
                ),
            )
        ).alias("band_id", "bh"),
    )


@register(
    "dedup_minhash_md5_lsh",
    oracle=_ORACLE_MINHASH,
    tags=("dedup", "minhash", "lsh", "north-star"),
    doc=(
        "Full MinHash+LSH near-dup with a cross-engine md5 hash family: "
        "16-min signature per doc (one explode + one 16-column min "
        "aggregate, single shuffle), 4x4 banded equi-join candidates "
        "(posting-list join, never all-pairs), signature-match verify "
        ">= 8/16. Value-checked end to end against DuckDB — the oracle-"
        "backed twin of the murmur3 dedup_minhash_lsh."
    ),
)

def dedup_minhash_md5_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    return md5_lsh_pairs(docs)


def md5_lsh_pairs(
    docs: DataFrame,
    posting: DataFrame | None = None,
    sort: bool = True,
) -> DataFrame:
    """(doc_a, doc_b, n_match) MinHash-LSH near-dup pairs, md5 family:
    banded equi-join candidates verified by signature match >= 8/16.
    ``posting`` reuses an already-shingled (doc_id, s) stream (see
    md5_lsh_signatures); ``sort=False`` drops the presentation sort for
    callers that immediately re-aggregate the pairs (a funnel stage
    doesn't need a corpus-wide range-partition sort in the middle)."""
    sig = md5_lsh_signatures(docs, posting=posting).persist()

    banded = md5_lsh_bands(sig)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    n_match = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    ).cast("long")
    out = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", n_match.alias("n_match"))
        .where(F.col("n_match") >= _MIN_MATCH)
    )
    return out.orderBy("doc_a", "doc_b") if sort else out


# ---------------------------------------------------------------------------
# SimHash, md5 family (32-bit fingerprints + pigeonhole near-dup pairs).
# ---------------------------------------------------------------------------

_ORACLE_SIMHASH = """
WITH th AS (
  SELECT doc_id,
         ('0x' || substr(md5(unnest(regexp_split_to_array(trim(text), '\\s+'))),
                         1, 8))::BIGINT AS h
  FROM documents
),
bits AS (
  SELECT doc_id, b.i AS bit,
         SUM(CASE WHEN (h >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS acc
  FROM th, unnest(range(0, 32)) AS b(i)
  GROUP BY doc_id, b.i
)
SELECT doc_id,
       CAST(SUM(CASE WHEN acc > 0 THEN (1::BIGINT << bit) ELSE 0 END)
            AS BIGINT) AS fp
FROM bits GROUP BY doc_id ORDER BY doc_id
"""


def _simhash32_md5(text_col: str) -> F.Column:
    """32-bit md5-family SimHash packed into a long — per-row fold, no
    shuffle; token multiplicity counts (same as the murmur3 simhash64)."""
    toks = tokens(text_col)
    h = lambda t: _md5_u32(t)  # noqa: E731
    acc = F.aggregate(
        toks,
        F.array_repeat(F.lit(0), 32),
        lambda a, t: F.zip_with(
            a,
            F.transform(
                F.sequence(F.lit(0), F.lit(31)),
                lambda b: F.when(F.getbit(h(t), b) == 1, F.lit(1)).otherwise(
                    F.lit(-1)
                ),
            ),
            lambda x, y: x + y,
        ),
    )
    bit_str = F.array_join(
        F.reverse(
            F.transform(acc, lambda v: F.when(v > 0, F.lit("1")).otherwise(F.lit("0")))
        ),
        "",
    )
    return F.conv(bit_str, 2, 10).cast("long")


@register(
    "dedup_simhash_md5",
    oracle=_ORACLE_SIMHASH,
    tags=("dedup", "simhash", "north-star"),
    doc=(
        "32-bit SimHash fingerprints with a cross-engine md5 hash family: "
        "per-token ±1 bit votes folded per row (aggregate+zip_with, pure "
        "codegen, shuffle-free), sign bits packed into a long. Value-"
        "checked against DuckDB — the oracle-backed twin of dedup_simhash."
    ),
)
def dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    return (
        spread(docs, "doc_id")
        .select("doc_id", _simhash32_md5("text").alias("fp"))
        .orderBy("doc_id")
    )


_ORACLE_SIMHASH_PAIRS = """
WITH th AS (
  SELECT doc_id,
         ('0x' || substr(md5(unnest(regexp_split_to_array(trim(text), '\\s+'))),
                         1, 8))::BIGINT AS h
  FROM documents
),
bits AS (
  SELECT doc_id, b.i AS bit,
         SUM(CASE WHEN (h >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS acc
  FROM th, unnest(range(0, 32)) AS b(i)
  GROUP BY doc_id, b.i
),
fp AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN acc > 0 THEN (1::BIGINT << bit) ELSE 0 END)
              AS BIGINT) AS fp
  FROM bits GROUP BY doc_id
),
blocks AS (
  SELECT doc_id, fp, j.b AS block_id, (fp >> (8 * j.b)) & 255 AS block_val
  FROM fp, unnest(range(0, 4)) AS j(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.fp AS fp_a,
                  b2.doc_id AS doc_b, b2.fp AS fp_b
  FROM blocks a
  JOIN blocks b2 ON a.block_id = b2.block_id
                AND a.block_val = b2.block_val
                AND a.doc_id < b2.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(fp_a, fp_b)) <= 3
ORDER BY doc_a, doc_b
"""


@register(
    "dedup_simhash_md5_pairs",
    oracle=_ORACLE_SIMHASH_PAIRS,
    tags=("dedup", "simhash", "north-star"),
    doc=(
        "SimHash near-dup pairs (Hamming <= 3) over md5-family 32-bit "
        "fingerprints via pigeonhole blocking: 4 8-bit blocks, any pair "
        "within Hamming 3 agrees on >= 1 block, so candidates come from an "
        "equi-join on (block_id, block_val) — never all-pairs. Oracle-"
        "backed twin of dedup_simhash_pairs."
    ),
)
def dedup_simhash_md5_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    fp = (
        spread(docs, "doc_id")
        .select("doc_id", _simhash32_md5("text").alias("fp"))
        .persist()
    )
    blocks = fp.select(
        "doc_id",
        "fp",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("fp"), j * 8).bitwiseAND(F.lit(255))
                    for j in range(4)
                ]
            )
        ).alias("block_id", "block_val"),
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.block_id") == F.col("b.block_id"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.fp").alias("fp_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("long")
    return (
        cand.withColumn("hamming", hamming)
        .where(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# MinHash estimation error vs exact Jaccard (sketch calibration).
# ---------------------------------------------------------------------------

_ORACLE_MH_ERROR = f"""
WITH sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i : i + 2], ' ') AS s
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        FROM documents),
       unnest(range(1, len(t) - 1)) AS r(i)
  WHERE len(t) >= 3
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT i.doc_a, i.doc_b, i.n_inter,
         round(CAST(i.n_inter AS DOUBLE)
               / (sa.sz + sb.sz - i.n_inter), 6) AS j_exact
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
),
mh AS (
  SELECT doc_id, r.i AS hi,
         MIN(('0x' || substr(md5(CAST(r.i AS VARCHAR) || ':' || s), 1, 8))::BIGINT)
           AS h
  FROM sh, unnest(range(0, {_K})) AS r(i)
  GROUP BY doc_id, r.i
),
sig AS (
  SELECT doc_id, list(h ORDER BY hi) AS sig FROM mh GROUP BY doc_id
)
SELECT p.doc_a, p.doc_b, CAST(p.n_inter AS BIGINT) AS n_inter, p.j_exact,
       CAST(len(list_filter(range(1, {_K} + 1), k -> sa.sig[k] = sb.sig[k]))
            AS BIGINT) AS n_match,
       round(len(list_filter(range(1, {_K} + 1), k -> sa.sig[k] = sb.sig[k]))
             / {_K}.0, 6) AS j_est,
       round(abs(round(CAST(p.n_inter AS DOUBLE)
                       / (SELECT sa2.sz + sb2.sz - p.n_inter
                          FROM sizes sa2, sizes sb2
                          WHERE sa2.doc_id = p.doc_a
                            AND sb2.doc_id = p.doc_b), 6)
                 - len(list_filter(range(1, {_K} + 1),
                                   k -> sa.sig[k] = sb.sig[k])) / {_K}.0),
             6) AS abs_err
FROM pairs p
JOIN sig sa ON sa.doc_id = p.doc_a
JOIN sig sb ON sb.doc_id = p.doc_b
WHERE p.j_exact >= 0.3
ORDER BY p.doc_a, p.doc_b
"""


@register(
    "dedup_minhash_estimate_error",
    oracle=_ORACLE_MH_ERROR,
    tags=("dedup", "minhash", "eval", "north-star"),
    doc=(
        f"Sketch calibration: for every exact-Jaccard pair (J >= 0.3, "
        f"trigram shingles), the {_K}-component md5-MinHash estimate "
        "(matching-component fraction) next to the exact value and their "
        "absolute error — the measurement that tells you whether the "
        "signature length is adequate BEFORE trusting LSH at corpus "
        "scale. Exact side is the posting-list equi-join; sketch side is "
        "the map-side-combinable per-doc min aggregate; the error join "
        "touches only admitted pairs."
    ),
)
def dedup_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    # persist so the exact side (sizes + self-join) and the signature
    # aggregate physically share ONE shingling pass — an unpersisted df
    # would recompute the dominant per-row cost once per consumer.  No
    # size(tokens) >= 3 pre-filter: as in md5_lsh_signatures, explode
    # already drops the empty shingle array of a doc below 3 tokens.
    sh = spread(docs, "doc_id").select(
        "doc_id", F.explode(word_shingles("text", 3)).alias("s")
    ).persist()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("size_b"))
    union_sz = F.col("size_a") + F.col("size_b") - F.col("n_inter")
    pairs = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("n_inter").cast("long").alias("n_inter"),
            F.round(F.col("n_inter").cast("double") / union_sz, 6).alias(
                "j_exact"
            ),
        )
        .where(F.col("j_exact") >= 0.3)
    )
    sig = md5_lsh_signatures(docs, posting=sh)  # shingle once, use twice
    siga = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sigb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    n_match = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v
        )
    ).cast("long")
    return (
        pairs.join(siga, "doc_a")
        .join(sigb, "doc_b")
        .withColumn("n_match", n_match)
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            "j_exact",
            "n_match",
            F.round(F.col("n_match") / F.lit(float(_K)), 6).alias("j_est"),
            F.round(
                F.abs(F.col("j_exact") - F.col("n_match") / F.lit(float(_K))),
                6,
            ).alias("abs_err"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# LSH banding precision/recall evaluation (md5 family vs exact Jaccard).
# ---------------------------------------------------------------------------

_ORACLE_LSH_RECALL = rf"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
),
shl AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
           AS shingles
  FROM t
),
posting AS (SELECT doc_id, unnest(shingles) AS shingle FROM shl),
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM shl),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM posting a JOIN posting b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE round(CAST(i.n_inter AS DOUBLE)
              / (sa.n_sh + sb.n_sh - i.n_inter), 6) >= 0.5
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i : i + 2], ' ') AS s
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        FROM documents),
       unnest(range(1, len(t) - 1)) AS r(i)
  WHERE len(t) >= 3
),
mh AS (
  SELECT doc_id, r.i AS hi,
         MIN(('0x' || substr(md5(CAST(r.i AS VARCHAR) || ':' || s), 1, 8))::BIGINT)
           AS h
  FROM sh, unnest(range(0, {_K})) AS r(i)
  GROUP BY doc_id, r.i
),
sig AS (
  SELECT doc_id, list(h ORDER BY hi) AS sig FROM mh GROUP BY doc_id
),
band AS (
  SELECT doc_id, b.j AS band_id,
         md5(array_to_string(sig[b.j * {_ROWS} + 1 : b.j * {_ROWS} + {_ROWS}],
                             ':')) AS bh
  FROM sig, unnest(range(0, {_BANDS})) AS b(j)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
  FROM band a
  JOIN band b2 ON a.band_id = b2.band_id AND a.bh = b2.bh
              AND a.doc_id < b2.doc_id
),
lsh AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b
  WHERE len(list_filter(range(1, {_K} + 1), k -> sa.sig[k] = sb.sig[k]))
        >= {_MIN_MATCH}
)
SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
       (SELECT COUNT(*) FROM lsh) AS n_detected,
       (SELECT COUNT(*) FROM truth JOIN lsh USING (doc_a, doc_b)) AS n_hit,
       (SELECT COUNT(*) FROM truth JOIN lsh USING (doc_a, doc_b)) * 10000
         // greatest((SELECT COUNT(*) FROM lsh), 1) AS precision_bp,
       (SELECT COUNT(*) FROM truth JOIN lsh USING (doc_a, doc_b)) * 10000
         // greatest((SELECT COUNT(*) FROM truth), 1) AS recall_bp
"""


@register(
    "dedup_lsh_recall_eval",
    oracle=_ORACLE_LSH_RECALL,
    tags=("dedup", "minhash", "lsh", "eval", "north-star"),
    doc=(
        "LSH banding quality evaluation, value-exact cross-engine: ground "
        "truth = exact 3-gram Jaccard pairs >= 0.5 (posting join), "
        "detected = md5-family MinHash-LSH pairs (4x4 bands, signature "
        "verify >= 8/16), output = one summary row of n_truth/n_detected/"
        "n_hit plus integer basis-point precision and recall. This is the "
        "calibration artifact read before trusting the lossy path on a new "
        "corpus: dedup_minhash_estimate_error measures the SIGNATURE's "
        "Jaccard error, this measures the end-to-end PAIR retrieval. At "
        "100 TB the truth side runs on a sampled slice (the posting join "
        "is the audit path); both sides here are full-corpus so the "
        "numbers are exact."
    ),
)
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import jaccard_pairs

    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    truth = jaccard_pairs(docs, threshold=0.5).select("doc_a", "doc_b")
    lsh = md5_lsh_pairs(docs).select("doc_a", "doc_b")
    tr = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    de = lsh.agg(F.count(F.lit(1)).alias("n_detected"))
    hi = truth.join(lsh, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        tr.crossJoin(de)
        .crossJoin(hi)
        .select(
            "n_truth",
            "n_detected",
            "n_hit",
            F.expr("n_hit * 10000 div greatest(n_detected, 1)").alias(
                "precision_bp"
            ),
            F.expr("n_hit * 10000 div greatest(n_truth, 1)").alias(
                "recall_bp"
            ),
        )
    )
