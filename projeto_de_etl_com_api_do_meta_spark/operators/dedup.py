"""Deduplication operators for LLM-data pipelines (driver north star): the
one home of every near-duplicate step.  Queries compose these steps; none
writes its own copy.

Core steps:

- :func:`shingle_posting` — the (doc_id, shingle) posting of distinct word
  n-grams, the input of every shingle-based step.
- :func:`shingle_overlap` — the exact posting self-join on the shingle:
  (doc_a, doc_b, n_inter, size_a, size_b).  :func:`jaccard_pairs` and
  :func:`containment_pairs` add only their score and filter.
- MinHash-LSH — :func:`posting_signatures` (the k-min aggregate),
  :func:`lsh_bands` and :func:`lsh_candidate_pairs` (banding and the
  (band_id, bh) equi-join), :func:`signature_matches` /
  :func:`match_signatures` (the verify count).
- :func:`simhash_near_dup` — the pigeonhole block join with a Hamming filter.
- Prefix filtering — the md5-order prefix and the ``array_intersect`` verify
  shared by :func:`prefix_jaccard_pairs` and
  :func:`containment_prefix_pairs`.
- :func:`connected_components` / :func:`connected_components_star` — dedup
  clusters from near-dup pairs.

Hash families (:class:`HashFamily`, the one argument that switches a
pipeline between them):

- :data:`MURMUR3` — ``F.hash``, the cheapest JVM-codegen hash.  No other
  engine reproduces it, so its registry queries are rows-only.  The
  production and benchmark path.
- :data:`MD5` — built on ``text.md5_u32``, which DuckDB evaluates
  bit-identically, so the md5-family queries are value-checked against SQL
  oracles.  md5 is ~2-4x slower per call; the plan shapes are the same.
  Its LSH shape (``MD5_K``, ``MD5_BANDS``, ``MD5_ROWS``, ``MD5_MIN_MATCH``)
  is shared with those oracles.

Scale design: exact dedup is one hash-groupBy on a fingerprint.  Every pair
generator is an equi-join — on the shingle, the (band_id, bh) bucket, the
SimHash block or a prefix shingle — never an all-pairs product, quadratic
only within one key's list.  Hot-shingle mitigation is code:
:func:`jaccard_pairs_capped` drops df>cap shingles from every set before
pair generation (pair work per shingle bounded by cap²).
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import (
    fingerprint_md5,
    hamming64,
    md5_u32,
    simhash32_md5,
    simhash64,
    tokens,
)

_log = logging.getLogger(__name__)

#: ``spark.sql.shuffle.partitions``' built-in default
_DEFAULT_SHUFFLE_PARTITIONS = "200"


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-repartition before per-row-heavy compute.

    Fixture tables arrive as a single parquet file = one input partition, so
    expression-heavy operators (shingling, hashing) would otherwise run on
    one core.  At cluster scale the same repartition is the standard
    load-balancing step before CPU-bound per-doc work.

    The partition count is pinned to ``defaultParallelism`` explicitly: a
    count-less ``repartition(col)`` lets AQE re-pick the number from SHUFFLE
    BYTES, and a few MB of docs coalesces to ONE partition — byte-blind to
    the per-row shingle/hash CPU that follows (measured: the whole Jaccard
    posting join ran single-task).  An explicit count is exempt from AQE
    coalescing, and executors×cores is the right width for CPU-bound maps
    on any cluster size."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *[F.col(c) for c in cols])


def loop_shuffle_width(spark, n_rows: int, rows_per_partition: int = 1_000_000):
    """Scoped, SCALE-ADAPTIVE shuffle width for iterative loops.

    An iterative operator (CC, k-core) re-plans and re-launches the same
    few shuffles every round, so the per-round fixed cost — shuffle-file
    fan-out, AQE re-planning, task scheduling — is paid rounds× and is
    pure overhead once the edge set is small.  Derive the loop's
    ``spark.sql.shuffle.partitions`` from the MEASURED row count at loop
    entry (never above the session's configured width, so a large run is
    untouched): guide §2.2, fewer/larger partitions; AQE coalesces the
    reduce side anyway but the initial width still drives map-side
    shuffle-file count and per-round planning latency (measured r12,
    interleaved A/B on the 284-edge CC-star fixture: ~5-10% of loop wall
    — modest locally, and the map-side fan-out saving grows with rounds
    × executors at cluster scale).

    The width is set on the session conf for the loop's duration, so it
    assumes the session runs one query at a time.  A configured width that
    is not an integer (some platforms set ``auto``) is read as Spark's
    default of 200, with a warning.
    """
    from ..session import scoped_conf

    raw = spark.conf.get("spark.sql.shuffle.partitions", _DEFAULT_SHUFFLE_PARTITIONS)
    try:
        cur = int(raw)
    except ValueError:
        _log.warning(
            "spark.sql.shuffle.partitions=%r is not an integer; loop shuffle "
            "width is capped at Spark's default %s",
            raw,
            _DEFAULT_SHUFFLE_PARTITIONS,
        )
        cur = int(_DEFAULT_SHUFFLE_PARTITIONS)
    width = max(1, min(cur, n_rows // rows_per_partition + 1))
    return scoped_conf(
        spark, **{"spark.sql.shuffle.partitions": str(width)}
    )


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the lowest-id representative per identical (normalized) text.

    Deterministic distributed form of drop_duplicates (reference A2's
    correctness fix, SURVEY §7) as ``min(struct(id, ...))`` aggregation:
    unlike the window-sort formulation, this gets a map-side partial
    aggregate, so at 100 TB only one candidate row per (fingerprint,
    partition) reaches the shuffle — duplicates collapse before they move.
    Struct min compares fields in order; the unique id leads, so the
    comparison never falls through to later fields."""
    cols = df.columns
    fp = fingerprint_md5(text_col).alias("fingerprint")
    rest = [c for c in cols if c != id_col]
    keeper = F.min(F.struct(id_col, *rest)).alias("s")
    return (
        spread(df, id_col)
        .select("*", fp)
        .groupBy("fingerprint")
        .agg(keeper)
        .select(*[F.col(f"s.{c}").alias(c) for c in cols], "fingerprint")
    )


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles, computed per-row with slice/transform
    (no explode needed to *build* them)."""
    toks = tokens(text)
    k = F.size(toks) - (n - 1)
    return F.array_distinct(
        F.when(
            k > 0,
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )


# -- Shingles and exact overlap -----------------------------------------------


def shingle_posting(
    df: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, shingle) posting: one row per distinct word n-gram of each
    document, spread by id (a doc below ``n`` tokens has no rows).

    The explode takes the shingle EXPRESSION, never an aliased column: on a
    plain attribute, InferFiltersFromGenerate adds ``size(shingles) > 0``,
    and predicate pushdown substitutes the full shingle expression below
    spread()'s Exchange — the whole corpus gets shingled a second time on
    the ONE pre-repartition input partition (measured 10x on the posting
    materialization).  The rule skips expensive generator inputs
    (SPARK-36715), so the inline form keeps the Generate above the exchange
    with no inferred filter; tests/test_dedup_ops.py checks the plan."""
    return spread(df, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(text_col, n)).alias("shingle"),
    )


def _shingle_sets(df: DataFrame, n: int, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, shingles) — each document's distinct shingle array."""
    return spread(df, id_col).select(
        F.col(id_col).alias("doc_id"), word_shingles(text_col, n).alias("shingles")
    )


def _with_sizes(pairs: DataFrame, sizes: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_inter) pairs joined with both documents' shingle
    counts from ``sizes`` (doc_id, n_shingles)."""
    n = F.col("n_shingles")
    sa = sizes.select(F.col("doc_id").alias("doc_a"), n.alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), n.alias("size_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", "n_inter", "size_a", "size_b")
    )


def shingle_overlap(posting: DataFrame, sizes: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_inter, size_a, size_b) for every pair of documents
    that share a shingle, ``doc_a < doc_b``.

    ``posting`` is a (doc_id, shingle) posting (:func:`shingle_posting`),
    ``sizes`` holds (doc_id, n_shingles).  The posting self-join on the
    shingle counts |A∩B| per pair; the only row-scale shuffle is on the
    shingle key, never an all-pairs product.  Quadratic only within one
    shingle's posting list."""
    a, b = posting.alias("a"), posting.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return _with_sizes(inter, sizes)


def _overlap(df: DataFrame, n: int, id_col: str, text_col: str) -> DataFrame:
    """:func:`shingle_overlap` of ``df``'s documents, sized from their
    shingle arrays."""
    sizes = _shingle_sets(df, n, id_col, text_col).select(
        "doc_id", F.size("shingles").alias("n_shingles")
    )
    return shingle_overlap(shingle_posting(df, n, id_col, text_col), sizes)


def _jaccard(pairs: DataFrame, threshold: float) -> DataFrame:
    """Overlap pairs scored ``|A∩B| / (|A| + |B| - |A∩B|)`` (6 digits) and
    kept at ``jaccard >= threshold``."""
    jaccard = F.round(
        F.col("n_inter").cast("double")
        / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
        6,
    )
    return (
        pairs.withColumn("jaccard", jaccard)
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_inter", "size_a", "size_b", "jaccard")
    )


def _containment(pairs: DataFrame) -> DataFrame:
    """Overlap pairs with both containments ``|A∩B|/|A|`` and ``|A∩B|/|B|``
    (6 digits)."""
    n_inter = F.col("n_inter").cast("double")
    return pairs.select(
        "doc_a",
        "doc_b",
        "n_inter",
        "size_a",
        "size_b",
        F.round(n_inter / F.col("size_a"), 6).alias("cont_a"),
        F.round(n_inter / F.col("size_b"), 6).alias("cont_b"),
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join: all pairs with J >= threshold
    (:func:`shingle_overlap`, then |union| = |A| + |B| - |A∩B|)."""
    return _jaccard(_overlap(df, n, id_col, text_col), threshold)


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Asymmetric shingle-CONTAINMENT join: pairs where either side's
    shingle set is mostly inside the other (``|A∩B| / |A| >= t`` or the
    mirror).  Catches doc-in-doc duplication — quotations, boilerplate
    wrappers, near-supersets — that symmetric Jaccard misses: a 50-gram
    chunk fully embedded in a 5000-gram page scores J ~ 0.01 but
    containment 1.0.  Same posting-list equi-join as :func:`jaccard_pairs`.
    """
    return _containment(_overlap(df, n, id_col, text_col)).where(
        F.greatest("cont_a", "cont_b") >= threshold
    )


# -- Hash families ------------------------------------------------------------


class HashFamily(NamedTuple):
    """The hashes a near-dup pipeline runs on."""

    #: MinHash ``h_i(shingle)``: (shingle column, i) -> integer
    element: Callable[[Column, int], Column]
    #: LSH bucket of one signature band (an array slice)
    band: Callable[[Column], Column]
    #: SimHash fingerprint of a text column
    simhash: Callable[[Column], Column]
    #: the 4 pigeonhole blocks of a fingerprint
    blocks: Callable[[Column], list[Column]]
    #: Hamming distance of two fingerprints
    hamming: Callable[[Column, Column], Column]


#: murmur3 (``F.hash``): 64-bit SimHash as a 16-digit hex string, 16-bit blocks
MURMUR3 = HashFamily(
    element=lambda s, i: F.hash(s, F.lit(i)),
    band=F.hash,
    simhash=lambda text: F.lpad(simhash64(text), 16, "0"),
    blocks=lambda fp: [F.substring(fp, 1 + 4 * i, 4) for i in range(4)],
    hamming=hamming64,
)

#: md5 (``md5_u32``): ``h_i(x) = md5_u32(i ':' x)``, the band bucket is the md5
#: of the band's ':'-joined values, 32-bit SimHash as a long, 8-bit blocks
MD5 = HashFamily(
    element=lambda s, i: md5_u32(F.concat(F.lit(f"{i}:"), s)),
    band=lambda band: F.md5(
        F.array_join(F.transform(band, lambda v: v.cast("string")), ":")
    ),
    simhash=simhash32_md5,
    blocks=lambda fp: [
        F.shiftright(fp, 8 * j).bitwiseAND(F.lit(255)) for j in range(4)
    ],
    hamming=lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("long"),
)

#: the md5 family's LSH shape, shared with the DuckDB oracles: 16-min
#: signatures in 4 bands of 4 rows, P(candidate) = 1-(1-j^4)^4, verified at
#: >= 8/16 matching components (estimated Jaccard >= 0.5)
MD5_K = 16
MD5_BANDS = 4
MD5_ROWS = MD5_K // MD5_BANDS
MD5_MIN_MATCH = 8


# -- MinHash + LSH -------------------------------------------------------------


def posting_signatures(
    posting: DataFrame, num_hashes: int = 64, family: HashFamily = MURMUR3
) -> DataFrame:
    """(doc_id, sig) k-permutation MinHash signatures of a (doc_id, shingle)
    posting: one groupBy computing all k minima at once (k agg columns,
    single shuffle).  Deterministic across runs and cluster layouts."""
    mins = posting.groupBy("doc_id").agg(
        *[
            F.min(family.element(F.col("shingle"), i)).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    )
    return mins.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    family: HashFamily = MURMUR3,
) -> DataFrame:
    """(doc_id, sig) MinHash signature per document: one explode + one
    groupBy (docs with fewer than ``n`` tokens have no shingles and are
    absent)."""
    return posting_signatures(
        shingle_posting(df, n, id_col, text_col), num_hashes, family
    )


def lsh_bands(
    sig_df: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    family: HashFamily = MURMUR3,
) -> DataFrame:
    """(doc_id, band_id, bh) LSH band buckets of (doc_id, sig) signatures."""
    return sig_df.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: family.band(
                    F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)
                ),
            )
        ).alias("band_id", "bh"),
    )


def lsh_candidate_pairs(
    sig_df: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    family: HashFamily = MURMUR3,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs.

    Equi-join on (band_id, bh): candidate generation is a shuffle join,
    never an all-pairs comparison."""
    banded = lsh_bands(sig_df, bands, rows_per_band, family)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def signature_matches(sig_a: Column | str, sig_b: Column | str) -> Column:
    """Number of equal components of two MinHash signatures (an int)."""
    return F.size(
        F.filter(
            F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )


def match_signatures(pairs: DataFrame, sigs: DataFrame) -> DataFrame:
    """``pairs`` (doc_a, doc_b, ...) with ``n_match``, the
    :func:`signature_matches` count of the two documents' signatures."""
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(*pairs.columns, signature_matches("sig_a", "sig_b").alias("n_match"))
    )


def minhash_near_dup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """End-to-end murmur3 MinHash-LSH near-dup: signatures -> banded
    candidates -> signature-estimated Jaccard filter."""
    # Signatures feed candidate generation AND both sides of the verify
    # join — persist once instead of recomputing the shingle explode 4x.
    # (At cluster scale this is a small table: |docs| x k ints.)
    sigs = minhash_signatures(df, id_col, text_col, n, num_hashes).persist()
    cands = lsh_candidate_pairs(sigs, bands, num_hashes // bands)
    est = F.round(F.col("n_match").cast("double") / F.lit(num_hashes), 6)
    return (
        match_signatures(cands, sigs)
        .withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


def md5_lsh_pairs(df: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_match) md5-family MinHash-LSH near-dup pairs in the
    oracles' shape: ``MD5_K``-min signatures, ``MD5_BANDS`` x ``MD5_ROWS``
    banded candidates, verified at ``n_match >= MD5_MIN_MATCH``.  Unsorted."""
    sigs = minhash_signatures(df, num_hashes=MD5_K, family=MD5).persist()
    cands = lsh_candidate_pairs(sigs, MD5_BANDS, MD5_ROWS, MD5)
    return (
        match_signatures(cands, sigs)
        .select("doc_a", "doc_b", F.col("n_match").cast("long").alias("n_match"))
        .where(F.col("n_match") >= MD5_MIN_MATCH)
    )


# -- SimHash --------------------------------------------------------------------


def simhash_near_dup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    family: HashFamily = MURMUR3,
) -> DataFrame:
    """SimHash near-dup pairs (doc_a, doc_b, hamming) with Hamming distance
    <= ``max_hamming``.

    Pigeonhole blocking: split the fingerprint into 4 blocks; any pair
    within Hamming 3 must agree on at least one block, so candidate
    generation is an equi-join on (block_id, block_val) — never all-pairs.
    Exact for max_hamming <= 3 (4 blocks); use more blocks for larger radii.
    """
    # Persist: without it, projection collapse recomputes the (large) simhash
    # expression once per exploded block row on BOTH join sides (8x per doc).
    fps = (
        spread(df, id_col)
        .select(
            F.col(id_col).alias("doc_id"),
            family.simhash(F.col(text_col)).alias("fp"),
        )
        .persist()
    )
    blocks = fps.select(
        "doc_id",
        "fp",
        F.posexplode(F.array(*family.blocks(F.col("fp")))).alias(
            "block_id", "block_val"
        ),
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    cands = (
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
    return (
        cands.withColumn("hamming", family.hamming(F.col("fp_a"), F.col("fp_b")))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# -- Prefix filtering -------------------------------------------------------------


def _md5_prefix(length: Column) -> Column:
    """The first ``length`` elements of ``shingles`` under the global
    md5(shingle) order: sort (md5, shingle) structs and slice, all inside
    codegen — no posting-list explode before the slice."""
    by_hash = F.expr(
        "transform(array_sort(transform(shingles,"
        " x -> struct(md5(x) AS h, x AS s))), p -> p.s)"
    )
    return F.slice(by_hash, F.lit(1), length)


def _verify_intersect(cand: DataFrame, sets: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_inter, size_a, size_b) of candidate pairs, counted
    exactly with ``array_intersect`` over the (doc_id, shingles) ``sets``."""
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("n_inter"),
            F.size("sh_a").alias("size_a"),
            F.size("sh_b").alias("size_b"),
        )
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard similarity join via PREFIX FILTERING (ppjoin-style):
    same result set as :func:`jaccard_pairs`, far less shuffled volume.

    A pair with J >= t MUST share at least one shingle within each side's
    first ``|s| - ceil(t*|s|) + 1`` shingles under ANY fixed global shingle
    order, so only prefix tokens enter the candidate equi-join; candidates
    are then verified with an exact per-pair ``array_intersect`` —
    lossless by construction.

    The global order used is md5(shingle): order-by-hash makes prefix
    selection a PURE PER-ROW array expression (sort the shingle array by
    digest, slice the prefix — whole-stage codegen, zero shuffles, no
    vocabulary pass), where the classic rarest-first df order would cost a
    full posting-list aggregate + join before any pruning happened.
    Hash order also de-correlates prefix membership from token frequency,
    so hot shingles are diluted across prefixes instead of concentrated.

    Scale posture: the only row-scale shuffle is the candidate equi-join
    over ~(1-t) of each posting list; verification touches only surviving
    pairs.
    """
    # persist, NOT localCheckpoint (measured r12: the checkpoint swap cost
    # 2-3x — four consumers re-deserialize the heavy shingle-array rows
    # from row-serialized checkpoint blocks, where the InMemoryRelation
    # serves compressed COLUMNAR batches).  The pinned cache is released
    # by the bench/differ's clearCache between queries.
    sh = _shingle_sets(df, n, id_col, text_col).persist()
    s = F.size("shingles")
    prefix_len = (s - F.floor(F.lit(threshold) * s) + 1).cast("int")
    prefix = sh.select("doc_id", F.explode(_md5_prefix(prefix_len)).alias("shingle"))
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return _jaccard(_verify_intersect(cand, sh).where(F.col("n_inter") > 0), threshold)


def containment_prefix_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact containment join via PREFIX FILTERING — the same pair set as
    :func:`containment_pairs` up to threshold-boundary rounding (this
    variant admits on the UNROUNDED containment, while containment_pairs
    filters on the 6-digit-rounded value, so pairs sitting exactly on the
    rounding boundary can differ between the two), at a fraction of the
    shuffled volume.

    max-containment(A, B) = |A∩B| / min(|A|, |B|) >= t requires the SMALLER
    side S to have |S∩L| >= ceil(t·|S|), so at most |S| - ceil(t·|S|) =
    p - 1 of S's shingles miss L — by pigeonhole ANY p = |S| - ceil(t·|S|)
    + 1 shingles of S contain at least one hit.  Under the global md5 order
    (as in :func:`prefix_jaccard_pairs`) only S's p-prefix joins against the
    other side's FULL posting list; at t = 0.8 the prefix is ~20% of each
    doc's shingles.  Candidates where the prefix side is not actually the
    smaller side are discarded using carried sizes (the mirrored
    orientation finds those pairs), then exact ``array_intersect``
    verifies — lossless by construction.
    """
    # persist, NOT localCheckpoint: see prefix_jaccard_pairs (r12).
    sh = _shingle_sets(df, n, id_col, text_col).persist()
    s = F.size("shingles")
    prefix_len = (s - F.ceil(F.lit(threshold) * s) + 1).cast("int")
    prefix = sh.select(
        F.col("doc_id").alias("p_doc"),
        s.alias("p_size"),
        F.explode(_md5_prefix(prefix_len)).alias("shingle"),
    )
    full = sh.select(
        F.col("doc_id").alias("f_doc"),
        s.alias("f_size"),
        F.explode("shingles").alias("shingle"),
    )
    cand = (
        prefix.join(full, "shingle")
        .where(
            (F.col("p_doc") != F.col("f_doc"))
            # prefix side must be the smaller set (ties by id, so each
            # unordered pair is generated by exactly one orientation)
            & (
                (F.col("p_size") < F.col("f_size"))
                | (
                    (F.col("p_size") == F.col("f_size"))
                    & (F.col("p_doc") < F.col("f_doc"))
                )
            )
        )
        .select(
            F.least("p_doc", "f_doc").alias("doc_a"),
            F.greatest("p_doc", "f_doc").alias("doc_b"),
        )
        .distinct()
    )
    return (
        _containment(_verify_intersect(cand, sh))
        # UNROUNDED filter (n_inter >= t*min) so the admission criterion is
        # exactly the pigeonhole bound the prefix was sized for — a rounded
        # ratio could admit a pair the prefix never generated.
        .where(
            F.col("n_inter")
            >= F.lit(threshold) * F.least("size_a", "size_b").cast("double")
        )
    )


def resolve_jaccard_cap(
    posting: DataFrame,
    n_docs: int,
    cap_frac: float,
    cap_min: int,
) -> tuple[str, int]:
    """Pick the production cap regime from ONE cheap aggregate over the
    postings: when the estimated mean shingle document-frequency already
    exceeds the absolute floor ``cap_min``, the vocabulary is SATURATED
    (corpus growth no longer mints new shingles — the fixture-vocab regime
    of SCALE_PROBE_r08) and the fractional cap ``ceil(cap_frac*N)`` grows
    with N, letting candidate pair volume scale Θ((cap_frac·N)²·|vocab|).
    The right production setting there is the absolute cap.  On realistic
    Heaps-law corpora mean df stays ~1-2 « cap_min and the fraction cap is
    kept (value-identical to ``cap_mode='fraction'``).

    Returns ``(mode, cap)`` with mode in {'fraction', 'absolute'}.  The
    decision is deterministic: HLL distinct counts are partition-order
    independent, and the two regimes are far apart at the switch point.
    """
    import math

    stats = posting.agg(
        F.count(F.lit(1)).alias("postings"),
        F.approx_count_distinct("shingle").alias("vocab"),
    ).collect()[0]
    mean_df = stats["postings"] / max(int(stats["vocab"]), 1)
    frac_cap = max(cap_min, math.ceil(cap_frac * n_docs))
    if mean_df > cap_min:
        return "absolute", cap_min
    return "fraction", frac_cap


def jaccard_pairs_capped(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    cap_frac: float = 0.002,
    cap_min: int = 5,
    cap_mode: str = "fraction",
) -> DataFrame:
    """Frequency-capped n-gram Jaccard similarity join — the SCALE-SAFE
    pair generator (hot-shingle mitigation as code, SCALE.md).

    Shingles appearing in more than the cap documents (boilerplate, stop
    phrases) are dropped consistently from EVERY document's set before
    pair generation, so per-shingle pair work is bounded by cap² no matter
    how hot the phrase.  ``cap_mode`` selects the cap regime:

    - ``'fraction'`` (registry default, deterministic SQL-twin semantics):
      ``cap = max(cap_min, ceil(cap_frac * N))`` — a document-frequency
      FRACTION with a small-corpus floor.  Right for realistic Heaps-law
      corpora where the vocabulary keeps growing with N.
    - ``'absolute'``: ``cap = cap_min`` — per-shingle pair work is a
      CONSTANT independent of N.  Right for saturated vocabularies where
      the fraction cap's candidate volume scales Θ((cap_frac·N)²·|vocab|)
      (SCALE_PROBE_r08's fixture-vocab regime).
    - ``'auto'`` (the production default for unknown corpora): one cheap
      aggregate estimates mean shingle df and switches fraction→absolute
      when the typical shingle is already hotter than the absolute floor —
      see :func:`resolve_jaccard_cap`.  Value-identical to ``'fraction'``
      on unsaturated corpora.

    Pair generation aggregates each cold shingle's ≤cap posting list and
    expands i<j pairs locally — one shuffle of the postings, never a
    posting self-join, and no broadcast of the (possibly huge at 100 TB)
    hot set.

    Semantics are deterministic (similarity over the capped sets, sizes
    and intersections consistently capped), so results are value-exact
    against a SQL twin.  This is the generator the connected-components
    queries compose on: the naive :func:`jaccard_pairs` self-join OOMs at
    x64 corpus scale in pair generation (SCALE_PROBE_r07), while this
    form's shuffle volume is linear in posting size with a cap² local
    expansion.  Returns (doc_a, doc_b, n_inter, size_a, size_b, jaccard)
    with jaccard >= threshold over the capped sets.
    """
    posting = shingle_posting(df, n, id_col, text_col)
    dfc = posting.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("df")  # postings are distinct per doc
    )
    if cap_mode == "auto":
        _mode, cap_val = resolve_jaccard_cap(
            posting, df.count(), cap_frac, cap_min
        )
        cap_row = None
    elif cap_mode == "absolute":
        cap_val = cap_min
        cap_row = None
    elif cap_mode == "fraction":
        cap_val = None
        cap_row = df.agg(
            F.greatest(
                F.lit(cap_min).cast("long"),
                F.ceil(F.lit(cap_frac) * F.count(F.lit(1))),
            ).alias("cap")
        )
    else:
        raise ValueError(f"unknown cap_mode {cap_mode!r}")
    # Two passes so no unbounded per-shingle state ever materializes: pass 1
    # is a map-side-combinable df count; pass 2 keeps only cold shingles via
    # a shuffle equi-join (NOT a broadcast — at 100 TB either side of the
    # hot/cold split can exceed broadcast limits).
    if cap_row is not None:
        cold = (
            dfc.crossJoin(F.broadcast(cap_row))
            .where(F.col("df") <= F.col("cap"))
            .select("shingle")
        )
    else:
        cold = dfc.where(F.col("df") <= F.lit(cap_val)).select("shingle")
    # Aggregate the cold posting lists IN THE SAME PLAN as the join: the
    # join's shuffle on `shingle` is reused by the groupBy (no second
    # corpus-scale exchange), and collect_list is bounded because hot
    # shingles were already dropped (≤ cap entries per group).  Only the
    # VOCAB-scale list table is materialized (localCheckpoint, not
    # persist: blocks release when the plan is GC'd, so back-to-back
    # invocations in a long-lived session don't accumulate pinned cache)
    # — before r12 the corpus-scale postings were checkpointed instead
    # and re-shuffled by shingle on the far side of the checkpoint, and
    # per-doc sizes paid a second corpus-scale shuffle of (doc_id,
    # shingle) rows; sizes now re-derive from the lists, so that shuffle
    # carries bare doc_id longs (guide §2.3/§2.4).
    lists = (
        posting.join(cold, "shingle")
        .groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .localCheckpoint(eager=True)
    )
    sizes = (
        lists.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shingles"))
    )
    # Cold posting lists are ≤ cap entries, so the i<j expansion is local
    # per shingle — cap² pairs worst case.
    pair_expand = F.expr(
        "flatten(transform(docs, (a, i) -> "
        "transform(slice(docs, i + 2, size(docs)), "
        "b -> struct(a AS doc_a, b AS doc_b))))"
    )
    inter = (
        lists.select(F.explode(pair_expand).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return _jaccard(_with_sizes(inter, sizes), threshold)


# -- Connected components ------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs: label every node with the
    minimum id reachable from it (= canonical representative of its dedup
    cluster).  Iterative min-label propagation — each round is one
    edge-join + min-aggregate, the standard large-graph formulation (label
    propagation a la Pregel/GraphX, no driver-side graph).

    Converges in O(diameter) rounds; near-dup clusters are shallow, so a few
    rounds suffice.  Each round persists its labels and checks convergence
    with a count — an iterative algorithm, NOT expressible as one SQL query
    (the oracle uses a recursive CTE)."""
    # localCheckpoint, not persist: persist caches data but leaves the
    # logical plan uncut, so per-round lineage compounds and the driver
    # OOMs on plan strings alone once rounds outgrow shallow graphs
    # (surfaced by the 10k-chain micro-probe while benchmarking the
    # star variant; flagship near-dup graphs converge in ~3-5 rounds and
    # never tripped it).
    edges = (
        pairs.select(F.col(a_col).alias("s"), F.col(b_col).alias("d"))
        .unionByName(pairs.select(F.col(b_col).alias("s"), F.col(a_col).alias("d")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    # loop-scoped scale-adaptive shuffle width (see loop_shuffle_width).
    with loop_shuffle_width(pairs.sparkSession, edges.count()):
        for _ in range(max_iter):
            # Min label among each node's neighbors (one shuffle on dst).
            neighbor_min = (
                edges.join(labels, edges.s == labels.node)
                .groupBy(F.col("d").alias("node"))
                .agg(F.min("label").alias("nmin"))
            )
            new_labels = (
                labels.join(neighbor_min, "node", "left")
                .select(
                    "node",
                    F.least(
                        F.col("label"), F.coalesce("nmin", "label")
                    ).alias("label"),
                )
                # eager=False: the `changed` count below materializes the
                # blocks in its own job — one job round-trip per round,
                # not two (r12).
                .localCheckpoint(eager=False)
            )
            changed = (
                new_labels.join(labels.withColumnRenamed("label", "old"), "node")
                .where(F.col("label") != F.col("old"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge in max_iter={max_iter} "
                "rounds; its labels would be wrong"
            )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def connected_components_star(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 30,
) -> tuple[DataFrame, int]:
    """Connected components via alternating LARGE-STAR / SMALL-STAR rounds
    (Kiveris et al. 2014, "Connected Components in MapReduce and Beyond")
    — the O(log n)-round formulation that replaces min-label propagation's
    O(diameter) rounds at 100 TB (a 1M-long chain needs ~20 star rounds,
    not 1M propagation rounds):

    * large-star(u): every neighbor v > u re-links to m(u) = min of u's
      closed neighborhood — one groupBy(u) + min + re-emit;
    * small-star(u): every neighbor v <= u (edges oriented toward the
      larger endpoint) re-links to the minimum — same shape on the other
      orientation.

    Both rounds are a single shuffle each (hash on the grouping node);
    convergence is edge-set fixpoint, checked with an anti-join count.
    Returns (labels, rounds) — labels as (doc_id, cluster_id = component
    min), identical to :func:`connected_components`.
    """
    # localCheckpoint (not persist) per round: the star rewrites reference
    # the previous edge set several times, so an uncut logical plan grows
    # geometrically with rounds — round ~10 OOMs the driver on plan
    # strings alone. Checkpointing pins each round's edges as a leaf.
    e = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    rounds = 0
    # loop-scoped scale-adaptive shuffle width (see loop_shuffle_width):
    # e.count() is one tiny job over the just-checkpointed blocks.
    with loop_shuffle_width(pairs.sparkSession, e.count()):
        for _ in range(max_iter):
            rounds += 1
            # ---- large-star: group the full adjacency by u
            adj = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            m = adj.groupBy("u").agg(
                F.least(F.min("v"), F.first("u")).alias("m")
            )
            large = (
                adj.join(m, "u")
                .where(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .where(F.col("u") != F.col("v"))
            )
            # ---- small-star: orient toward the larger endpoint.  large's
            # rows are ALREADY oriented (m <= old u < old v, so u > v in every
            # emitted row).  NO intermediate distincts (r12): min-aggregates
            # are insensitive to duplicates and the round ends in
            # small.distinct() anyway, so the two pre-distincts that used to
            # sit here (on large and on oriented) were two full exchanges per
            # round deduping what the final distinct dedupes — removed; the
            # duplicate volume flowing through is bounded by the adjacency
            # size the round already shuffles.  Remaining exchanges per
            # round: adj-by-u (shared by m's groupBy and the join via
            # ReusedExchange), oriented-by-u (shared by m2 and its join),
            # and the final distinct — the 3-shuffle minimum for a
            # large-star + small-star round.
            oriented = large.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            m2 = oriented.groupBy("u").agg(F.min("v").alias("m"))
            small = (
                oriented.join(m2, "u")
                .select(F.col("v").alias("a"), F.col("m").alias("b"))
                .unionByName(
                    m2.select(F.col("u").alias("a"), F.col("m").alias("b"))
                )
                .where(F.col("a") != F.col("b"))
                .select(F.col("a").alias("u"), F.col("b").alias("v"))
                .distinct()
                # eager=False: the _fp() collect right below materializes the
                # checkpoint blocks inside ITS job, so each round pays one job
                # round-trip instead of two (checkpoint-then-fingerprint, r12).
                # AQE runs the upstream shuffle stages at construction either
                # way; only the final stage is deferred into _fp.
                .localCheckpoint(eager=False)
            )
            # fixpoint: same canonical edge set as last round.  Checked with a
            # single order-free aggregate fingerprint (count + xor-ish hash
            # sum) instead of two exceptAll set differences — the check is
            # per-round overhead, and at x16 corpus scale the exceptAll pair
            # cost dominated the whole operator (SCALE_PROBE_r07).
            def _fp(df: DataFrame):
                # pmod into 31 bits keeps the sum ANSI-overflow-safe up to
                # ~2^32 edges per fixpoint check (shard the check past that)
                h = F.pmod(
                    F.xxhash64(F.greatest("u", "v"), F.least("u", "v")),
                    F.lit(2147483647),
                )
                return df.select(
                    F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")
                ).collect()[0]
            if rounds == 1:
                old_fp = _fp(e)
            prev = e
            new_fp = _fp(small)
            e = small
            if (new_fp["n"], new_fp["h"]) == (old_fp["n"], old_fp["h"]):
                # The fingerprint is probabilistic — a collision between two
                # DIFFERENT consecutive edge sets would end the loop early and
                # silently mislabel.  Confirm the fixpoint EXACTLY once, paid
                # only at apparent convergence (never per round): counts are
                # already equal via the fingerprint, and both sets are
                # distinct, so one-sided anti-join emptiness == set equality.
                if (
                    small.join(prev, ["u", "v"], "left_anti").limit(1).count()
                    == 0
                ):
                    break
            old_fp = new_fp
        else:
            raise RuntimeError(
                f"connected_components_star did not converge in "
                f"max_iter={max_iter} rounds; its labels would be wrong"
            )
    # converged: e is a star forest pointing at component minima
    roots = e.select(
        F.greatest("u", "v").alias("node"), F.least("u", "v").alias("label")
    ).groupBy("node").agg(F.min("label").alias("label"))
    labels = (
        nodes.join(roots, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce("label", "node").alias("cluster_id"),
        )
    )
    return labels, rounds
