"""Deduplication operators for LLM-data pipelines (driver north star):
exact dedup, n-gram Jaccard near-dup, MinHash+LSH near-dup, SimHash near-dup.

Scale design:
- Exact dedup = hash-groupBy (or window keep-first) on a fingerprint — one
  shuffle on the fingerprint, no data movement of full texts needed beyond it.
- N-gram Jaccard = shingle explode + equi-join on shingle: fully relational,
  shuffles on the shingle key.  Quadratic only within a shingle's posting
  list — the classic positional-join formulation that survives scale-out.
  Hot-shingle mitigation is CODE: dedup_ngram_jaccard_capped drops df>cap
  shingles consistently from every set before the join (pair work per
  shingle bounded by cap²), value-exact against its SQL oracle.
- MinHash = one explode + one groupBy computing k mins simultaneously
  (k agg columns, single shuffle); LSH banding turns near-dup search into an
  equi-join on (band_id, band_hash) — never an all-pairs product.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import fingerprint_md5, tokens

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


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join: all pairs with J >= threshold.

    Relational formulation: explode distinct shingles, equi-join on shingle,
    count per pair = |intersection|, then |union| = |A| + |B| - |A∩B|.
    """
    sh = spread(df, id_col).select(
        F.col(id_col).alias("doc_id"), word_shingles(text_col, n).alias("shingles")
    )
    sizes = sh.select("doc_id", F.size("shingles").alias("n_shingles"))
    # explode the shingle EXPRESSION, not the aliased column: on a plain
    # attribute, InferFiltersFromGenerate adds `size(shingles) > 0`, and
    # predicate pushdown substitutes the full shingle expression below
    # spread()'s Exchange — the whole corpus gets shingled a second time
    # on the ONE pre-repartition input partition (measured 10x on the
    # posting materialization, r11 optimization round).  The rule skips
    # expensive generator inputs (SPARK-36715), so the inline form keeps
    # the Generate above the exchange with no inferred filter.
    posting = spread(df, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(text_col, n)).alias("shingle"),
    )
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
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b")
    )
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out.select("doc_a", "doc_b", "n_inter", "size_a", "size_b", "jaccard")


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
    containment 1.0.

    Same posting-list equi-join scale shape as :func:`jaccard_pairs` (the
    only row-scale shuffle is on the shingle key; no all-pairs product).
    """
    sh = spread(df, id_col).select(
        F.col(id_col).alias("doc_id"), word_shingles(text_col, n).alias("shingles")
    )
    sizes = sh.select("doc_id", F.size("shingles").alias("n_shingles"))
    # explode the shingle EXPRESSION, not the aliased column: on a plain
    # attribute, InferFiltersFromGenerate adds `size(shingles) > 0`, and
    # predicate pushdown substitutes the full shingle expression below
    # spread()'s Exchange — the whole corpus gets shingled a second time
    # on the ONE pre-repartition input partition (measured 10x on the
    # posting materialization, r11 optimization round).  The rule skips
    # expensive generator inputs (SPARK-36715), so the inline form keeps
    # the Generate above the exchange with no inferred filter.
    posting = spread(df, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(text_col, n)).alias("shingle"),
    )
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
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b")
    )
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "cont_a", F.round(F.col("n_inter").cast("double") / F.col("size_a"), 6)
        )
        .withColumn(
            "cont_b", F.round(F.col("n_inter").cast("double") / F.col("size_b"), 6)
        )
        .where(F.greatest("cont_a", "cont_b") >= threshold)
    )
    return out.select(
        "doc_a", "doc_b", "n_inter", "size_a", "size_b", "cont_a", "cont_b"
    )


# -- MinHash + LSH -------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
) -> DataFrame:
    """k-permutation MinHash signature per document.

    One explode + one groupBy computing all k minima at once (k agg columns,
    single shuffle).  Hash family: murmur3 of (shingle, i) — deterministic
    across runs and cluster layouts."""
    posting = spread(df, id_col).select(
        F.col(id_col).alias("doc_id"), F.explode(word_shingles(text_col, n)).alias("s")
    )
    mins = posting.groupBy("doc_id").agg(
        *[F.min(F.hash(F.col("s"), F.lit(i))).alias(f"h{i}") for i in range(num_hashes)]
    )
    return mins.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def lsh_candidate_pairs(
    sig_df: DataFrame, bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """LSH banding: docs sharing any band hash become candidate pairs.

    Equi-join on (band_id, band_hash): candidate generation is a shuffle
    join, never an all-pairs comparison."""
    banded = sig_df.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.hash(
                    F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                ),
            )
        ).alias("band_id", "band_hash"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def simhash_near_dup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance <= ``max_hamming``.

    Pigeonhole blocking: split the 64-bit fingerprint into 4 16-bit blocks;
    any pair within Hamming 3 must agree on at least one block, so candidate
    generation is an equi-join on (block_id, block_value) — never all-pairs.
    Exact for max_hamming <= 3 (4 blocks); use more blocks for larger radii.
    """
    from .text import hamming64, simhash64

    # Persist: without it, projection collapse recomputes the (large) simhash
    # expression once per exploded block row on BOTH join sides (8x per doc).
    sigs = (
        spread(df, id_col)
        .select(
            F.col(id_col).alias("doc_id"),
            F.lpad(simhash64(text_col), 16, "0").alias("sh"),
        )
        .persist()
    )
    blocks = sigs.select(
        "doc_id",
        "sh",
        F.posexplode(
            F.array(*[F.substring("sh", 1 + 4 * i, 4) for i in range(4)])
        ).alias("block_id", "block_val"),
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
            F.col("a.sh").alias("sh_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.sh").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cands.withColumn("hamming", hamming64(F.col("sh_a"), F.col("sh_b")))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
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
    """End-to-end MinHash-LSH near-dup: signatures -> banded candidates ->
    signature-estimated Jaccard filter."""
    # Signatures feed candidate generation AND both sides of the verify
    # join — persist once instead of recomputing the shingle explode 4x.
    # (At cluster scale this is a small table: |docs| x k ints.)
    sigs = minhash_signatures(df, id_col, text_col, n, num_hashes).persist()
    cands = lsh_candidate_pairs(sigs, bands, num_hashes // bands)
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    ).cast("double") / F.lit(num_hashes)
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("est_jaccard", F.round(est, 6))
        .where(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


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
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


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
    sh = spread(df, id_col).select(
        F.col(id_col).alias("doc_id"), word_shingles(text_col, n).alias("shingles")
    )
    # persist, NOT localCheckpoint (measured r12: the checkpoint swap cost
    # 2-3x — four consumers re-deserialize the heavy shingle-array rows
    # from row-serialized checkpoint blocks, where the InMemoryRelation
    # serves compressed COLUMNAR batches).  The pinned cache is released
    # by the bench/differ's clearCache between queries.
    sh = sh.persist()

    s = F.size("shingles")
    prefix_len = (s - F.floor(F.lit(threshold) * s) + 1).cast("int")
    # sort by (md5(shingle), shingle) structs -> take the lossless prefix,
    # all inside codegen; no posting-list explode before the slice.
    by_hash = F.expr(
        "transform(array_sort(transform(shingles,"
        " x -> struct(md5(x) AS h, x AS s))), p -> p.s)"
    )
    prefix = sh.select(
        "doc_id",
        F.explode(F.slice(by_hash, F.lit(1), prefix_len)).alias("shingle"),
    )
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
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    verified = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("n_inter"),
            F.size("sh_a").alias("size_a"),
            F.size("sh_b").alias("size_b"),
        )
        .where(F.col("n_inter") > 0)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return verified.select("doc_a", "doc_b", "n_inter", "size_a", "size_b", "jaccard")


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
    + 1 shingles of S contain at least one hit.  Under a fixed global
    order (md5, per-row codegen slice like the Jaccard prefix join) only
    S's p-prefix joins against the other side's FULL posting list; at
    t = 0.8 the prefix is ~20% of each doc's shingles.  Candidates where
    the prefix side is not actually the smaller side are discarded using
    carried sizes (the mirrored orientation finds those pairs), then
    exact ``array_intersect`` verifies — lossless by construction.
    """
    sh = spread(df, id_col).select(
        F.col(id_col).alias("doc_id"), word_shingles(text_col, n).alias("shingles")
    )
    # persist, NOT localCheckpoint: see prefix_jaccard_pairs (r12).
    sh = sh.persist()
    s = F.size("shingles")
    prefix_len = (s - F.ceil(F.lit(threshold) * s) + 1).cast("int")
    by_hash = F.expr(
        "transform(array_sort(transform(shingles,"
        " x -> struct(md5(x) AS h, x AS s))), p -> p.s)"
    )
    prefix = sh.select(
        F.col("doc_id").alias("p_doc"),
        s.alias("p_size"),
        F.explode(F.slice(by_hash, F.lit(1), prefix_len)).alias("shingle"),
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
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
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
        .withColumn(
            "cont_a", F.round(F.col("n_inter").cast("double") / F.col("size_a"), 6)
        )
        .withColumn(
            "cont_b", F.round(F.col("n_inter").cast("double") / F.col("size_b"), 6)
        )
        # UNROUNDED filter (n_inter >= t*min) so the admission criterion is
        # exactly the pigeonhole bound the prefix was sized for — a rounded
        # ratio could admit a pair the prefix never generated.
        .where(
            F.col("n_inter")
            >= F.lit(threshold) * F.least("size_a", "size_b").cast("double")
        )
        .select("doc_a", "doc_b", "n_inter", "size_a", "size_b", "cont_a", "cont_b")
    )


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
    # explode the shingle EXPRESSION, not an aliased column: the aliased
    # form lets InferFiltersFromGenerate push a `size(<full shingle
    # expr>) > 0` filter below spread()'s Exchange, re-shingling the whole
    # corpus on the ONE pre-repartition input partition (measured 10x on
    # the posting materialization, r11 optimization round; the rule skips
    # expensive generator inputs, SPARK-36715).
    posting = spread(df, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(text_col, n)).alias("shingle"),
    )
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
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_inter", "size_a", "size_b", "jaccard")
    )
