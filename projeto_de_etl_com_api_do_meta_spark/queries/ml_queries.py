"""ML-adjacent iterative + batching queries: k-means Lloyd rounds, graph
degree distribution, and sequence-length bucketed batch planning.

These extend the training-data-pipeline surface (driver north star) past the
reference's own operators (reference analog: the per-entity aggregation in
``src/transform.py:27-37`` is the closest shape — here generalized to
iterative centroid refinement and batch planning):

* ``embed_kmeans_lloyd`` — the clustering backbone behind IVF ANN and
  semantic dedup, run as 2 bit-exact Lloyd iterations.
* ``graph_degree_distribution`` — degree histogram of the purchase graph,
  the profiling step before any graph algorithm (and the skew detector for
  PageRank/components partitioning).
* ``train_length_bucket_batches`` — sequence-length bucketing, the batch
  planner that minimizes padding waste when packing documents for training.

Determinism contracts (cross-engine exactness):

* k-means works on shifted fixed-point values ``floor((v + 1) * 65536)``
  (65536 = 2^16, so the scale multiply is exponent-only and exact; the +1
  shift keeps everything non-negative so integer division truncation ==
  floor in both engines; distances are shift-invariant).  Argmin uses the
  combined-key trick ``min(dist * k + cid)`` so ties break to the lowest
  centroid id identically everywhere, independent of partitioning.
* degree distribution is pure integer counting.
* length bucketing orders by ``(bucket, n_tokens, doc_id)`` — a total order,
  so ``row_number`` is reproducible across engines and partitionings.

Scale posture: k-means joins each point-component against a broadcast k×dim
centroid table (k*dim rows — always tiny) and aggregates per (vec_id, cid)
then per vec_id: two map-side-combinable hash aggregates per iteration, no
all-pairs, no collect.  Degree distribution is two hash aggregates.  Length
bucketing's within-bucket ranks come from grouped_dense_ids (range
repartition + per-(partition, bucket) prefix-sum offsets), so a fixed
bucket count never concentrates a bucket's corpus slice on one reducer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.text import md5_u32
from ..session import pin_query_session_conf
from .registry import register

# --------------------------------------------------------------------------
# k-means: 2 Lloyd iterations, k=4, fixed-point bit-exact
# --------------------------------------------------------------------------

_K = 4
_ITERS = 2
_SCALE = 65536.0  # 2^16: exact in binary floating point


def _kmeans_ctes(k: str = str(_K)) -> list[str]:
    """Unrolled Lloyd-iteration CTE chain (fixed-point, bit-exact), shared
    by the k-means oracle and the SemDeDup oracles: ends with ``a{_ITERS}``
    holding each vec_id's final combined argmin key (``key % k`` = cid).

    ``k`` is a SQL expression, not necessarily a literal — the SemDeDup
    scale twin passes an uncorrelated scalar subquery so the oracle's k is
    derived from COUNT(*) exactly like the Spark side's."""
    assign = """
a{i} AS (
  SELECT vec_id, MIN(key) AS key FROM (
    SELECT p.vec_id,
           SUM((p.qv - c.cq) * (p.qv - c.cq)) * {k} + c.cid AS key
    FROM pts p JOIN c{j} c ON p.pos = c.pos
    GROUP BY p.vec_id, c.cid)
  GROUP BY vec_id
)"""
    update = """
c{i} AS (
  SELECT a.key % {k} AS cid, p.pos, SUM(p.qv) // COUNT(*) AS cq
  FROM pts p JOIN a{i} a ON p.vec_id = a.vec_id
  GROUP BY a.key % {k}, p.pos
)"""
    parts = [
        f"""pts AS (
  SELECT vec_id, CAST(i - 1 AS INTEGER) AS pos,
         CAST(floor((CAST(embedding[i] AS DOUBLE) + 1.0) * {_SCALE}) AS BIGINT)
           AS qv
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
),
c0 AS (SELECT vec_id AS cid, pos, qv AS cq FROM pts WHERE vec_id < {k})"""
    ]
    for i in range(1, _ITERS + 1):
        parts.append(assign.format(i=i, j=i - 1, k=k))
        if i < _ITERS:
            parts.append(update.format(i=i, k=k))
    return parts


def _oracle_kmeans() -> str:
    return (
        "WITH " + ",".join(_kmeans_ctes()) + f"""
SELECT vec_id,
       CAST(key % {_K} AS BIGINT) AS cid,
       CAST(key // {_K} AS BIGINT) AS dist_q
FROM a{_ITERS} ORDER BY vec_id"""
    )


@register(
    "embed_kmeans_lloyd",
    oracle=_oracle_kmeans(),
    tags=("embedding", "iterative", "north-star"),
    doc=(
        f"{_ITERS} Lloyd iterations of k-means (k={_K}) over the embeddings "
        "table in shifted 2^16 fixed point: assignment is a broadcast join "
        "against the k*dim centroid table + two hash aggregates; centroid "
        "update is one more hash aggregate with floor-division means. "
        "Combined-key argmin (dist*k+cid) makes ties and therefore every "
        "iteration bit-exact across engines and partitionings."
    ),
)
def embed_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "vec_id",
        "pos",
        F.floor((F.col("v").cast("double") + F.lit(1.0)) * F.lit(_SCALE))
        .cast("long")
        .alias("qv"),
    )
    pts = pts.persist()

    centroids = pts.where(F.col("vec_id") < _K).select(
        F.col("vec_id").alias("cid"), "pos", F.col("qv").alias("cq")
    )
    assign = None
    for i in range(_ITERS):
        diff = F.col("qv") - F.col("cq")
        assign = (
            pts.join(F.broadcast(centroids), "pos")
            .groupBy("vec_id", "cid")
            .agg(F.sum(diff * diff).alias("dist"))
            .groupBy("vec_id")
            .agg(F.min(F.col("dist") * _K + F.col("cid")).alias("key"))
        )
        if i < _ITERS - 1:
            centroids = (
                pts.join(assign, "vec_id")
                .groupBy((F.col("key") % _K).alias("cid"), "pos")
                .agg(F.expr("sum(qv) div count(*)").alias("cq"))
            )
    return assign.select(
        "vec_id",
        (F.col("key") % _K).cast("long").alias("cid"),
        (F.col("key") / F.lit(_K)).cast("long").alias("dist_q"),
    ).orderBy("vec_id")


# --------------------------------------------------------------------------
# Degree distribution of the bipartite purchase graph
# --------------------------------------------------------------------------

_ORACLE_DEGREE = """
WITH edges AS (
  SELECT DISTINCT o_custkey AS c, l_partkey AS p
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
deg AS (
  SELECT 'customer' AS side, c AS node, COUNT(*) AS degree
  FROM edges GROUP BY c
  UNION ALL
  SELECT 'part' AS side, p AS node, COUNT(*) AS degree
  FROM edges GROUP BY p
)
SELECT side, degree, COUNT(*) AS n_nodes,
       CAST(MIN(node) AS BIGINT) AS min_node
FROM deg GROUP BY side, degree
ORDER BY side, degree
"""


@register(
    "graph_degree_distribution",
    oracle=_ORACLE_DEGREE,
    tags=("graph", "agg"),
    doc=(
        "Degree histogram of the bipartite customer↔part purchase graph, "
        "both sides: the skew-profiling step before any distributed graph "
        "algorithm. Two map-side-combinable hash aggregates over the "
        "distinct edge list; no windows, no collect."
    ),
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    cust = edges.groupBy(F.col("c").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    ).select(F.lit("customer").alias("side"), "node", "degree")
    part = edges.groupBy(F.col("p").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    ).select(F.lit("part").alias("side"), "node", "degree")
    return (
        cust.unionAll(part)
        .groupBy("side", "degree")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("node").cast("long").alias("min_node"),
        )
        .orderBy("side", "degree")
    )


# --------------------------------------------------------------------------
# Sequence-length bucketed batch planning
# --------------------------------------------------------------------------

_BUCKET_W = 64  # tokens per length bucket
_BATCH = 16  # sequences per batch

_ORACLE_LENGTH_BUCKETS = rf"""
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
           AS n_tokens
  FROM documents
),
b AS (
  SELECT doc_id, n_tokens, n_tokens // {_BUCKET_W} AS bucket,
         ROW_NUMBER() OVER (PARTITION BY n_tokens // {_BUCKET_W}
                            ORDER BY n_tokens, doc_id) AS rn
  FROM t
)
SELECT bucket,
       CAST((rn - 1) // {_BATCH} AS BIGINT) AS batch_id,
       COUNT(*) AS n_seqs,
       MAX(n_tokens) AS max_tokens,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(MAX(n_tokens) * COUNT(*) - SUM(n_tokens) AS BIGINT) AS padding_waste
FROM b
GROUP BY bucket, (rn - 1) // {_BATCH}
ORDER BY bucket, batch_id
"""


@register(
    "train_length_bucket_batches",
    oracle=_ORACLE_LENGTH_BUCKETS,
    tags=("training", "window", "north-star"),
    doc=(
        f"Sequence-length bucketing for training batches: whitespace token "
        f"counts -> {_BUCKET_W}-token-wide length buckets -> row_number "
        f"within bucket (total order on (n_tokens, doc_id)) -> batches of "
        f"{_BATCH} -> per-batch padding-waste accounting. The within-bucket "
        "rank comes from operators/indexing.py grouped_dense_ids (range "
        "repartition + per-(partition, bucket) prefix-sum offsets), NOT "
        "row_number() OVER (PARTITION BY bucket): bucket count is fixed "
        "while rows grow, so the window form would funnel each bucket's "
        "full corpus slice through one reducer at 100 TB."
    ),
)
def train_length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.indexing import grouped_dense_ids

    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias(
            "n_tokens"
        ),
    )
    b = grouped_dense_ids(
        t.select(
            "doc_id",
            "n_tokens",
            F.expr(f"n_tokens div {_BUCKET_W}").alias("bucket"),
        ),
        "bucket",
        ["n_tokens", "doc_id"],
        id_col="rn",
    )
    return (
        b.groupBy(
            "bucket", F.expr(f"(rn - 1) div {_BATCH}").cast("long").alias("batch_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_seqs"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").alias("sum_tokens"),
            (F.max("n_tokens") * F.count(F.lit(1)) - F.sum("n_tokens")).alias(
                "padding_waste"
            ),
        )
        .orderBy("bucket", "batch_id")
    )


# --------------------------------------------------------------------------
# Power iteration: dominant singular direction of the embedding matrix
# --------------------------------------------------------------------------

_PD = 16  # leading dims used
_QS = 256.0  # 2^8 quantization scale (exact exponent shift)
_VS = 65536  # vector rescale target after each iteration

_ORACLE_POWER = f"""
WITH pts AS (
  SELECT vec_id, CAST(i - 1 AS INTEGER) AS pos,
         CAST(floor((CAST(embedding[i] AS DOUBLE) + 1.0) * {_QS}) AS BIGINT)
           AS qv
  FROM embeddings, unnest(range(1, {_PD} + 1)) AS t(i)
),
a AS (
  SELECT p1.pos AS i, p2.pos AS j, SUM(p1.qv * p2.qv) AS aij
  FROM pts p1 JOIN pts p2 ON p1.vec_id = p2.vec_id
  GROUP BY p1.pos, p2.pos
),
u1 AS (SELECT i, SUM(aij) AS u FROM a GROUP BY i),
s1 AS (SELECT MAX(u) // {_VS} + 1 AS s FROM u1),
v1 AS (SELECT i, u // s AS v FROM u1, s1),
u2 AS (
  SELECT a.i, SUM(a.aij * v1.v) AS u
  FROM a JOIN v1 ON a.j = v1.i
  GROUP BY a.i
),
s2 AS (SELECT MAX(u) // {_VS} + 1 AS s FROM u2)
SELECT i AS pos, CAST(u // s AS BIGINT) AS v
FROM u2, s2
ORDER BY pos
"""


@register(
    "embed_power_iteration",
    oracle=_ORACLE_POWER,
    tags=("embedding", "iterative", "north-star"),
    doc=(
        f"Two power-iteration rounds toward the dominant singular direction "
        f"of the (first {_PD} dims, shift-quantized non-negative) embedding "
        "matrix: Gram matrix A = X^T X via a pos-pair self-join on vec_id "
        f"({_PD}^2 entries — dimension-bounded, never row-bounded), then "
        "A·v twice with integer max-rescaling between rounds. Everything "
        "is BIGINT multiply/sum/floor-div on non-negative values, so the "
        "result is bit-exact across engines; the A matrix and v vectors "
        "are broadcast-sized at any corpus scale (the only row-scale pass "
        "is the one Gram-matrix aggregate, which is map-side combinable)."
    ),
)
def embed_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    pts = (
        emb.select("vec_id", F.posexplode("embedding").alias("pos", "val"))
        .where(F.col("pos") < _PD)
        .select(
            "vec_id",
            "pos",
            F.floor((F.col("val").cast("double") + F.lit(1.0)) * F.lit(_QS))
            .cast("long")
            .alias("qv"),
        )
    )
    p2 = pts.select(
        F.col("vec_id"), F.col("pos").alias("j"), F.col("qv").alias("qj")
    )
    a = (
        pts.join(p2, "vec_id")
        .groupBy(F.col("pos").alias("i"), "j")
        .agg(F.sum(F.col("qv") * F.col("qj")).alias("aij"))
        .persist()
    )
    u1 = a.groupBy("i").agg(F.sum("aij").alias("u"))
    s1 = u1.agg((F.expr(f"max(u) div {_VS}") + 1).alias("s"))
    v1 = u1.crossJoin(F.broadcast(s1)).select("i", F.expr("u div s").alias("v"))
    u2 = (
        a.join(F.broadcast(v1.withColumnRenamed("i", "j")), "j")
        .groupBy("i")
        .agg(F.sum(F.col("aij") * F.col("v")).alias("u"))
    )
    s2 = u2.agg((F.expr(f"max(u) div {_VS}") + 1).alias("s"))
    return (
        u2.crossJoin(F.broadcast(s2))
        .select(F.col("i").alias("pos"), F.expr("u div s").cast("long").alias("v"))
        .orderBy("pos")
    )


# --------------------------------------------------------------------------
# SemDeDup: semantic dedup restricted to k-means clusters
# --------------------------------------------------------------------------

_SD_SCALE = 1024  # 2^10 fixed point: |dot| <= 64 * 2^20, 400*dot^2 < 2^63
_SD_NUM = 49      # tau = 0.35 -> tau^2 = 49/400 (exact rational compare;
_SD_DEN = 400     # 0.35 is the fixture corpus's 99.9th pairwise percentile —
#                   the synthetic vectors have no true near-dups, so the
#                   production-style 0.9x threshold would select nothing)


def _semdedup_pair_sql_tail() -> str:
    """The pair-scoring SQL downstream of an ``asg(vec_id, cid)`` CTE —
    shared by every SemDeDup oracle (fixture-k, k ∝ N, two-level)."""
    return f""",
q AS (
  SELECT vec_id, CAST(i - 1 AS INTEGER) AS pos,
         CAST(round(CAST(embedding[i] AS DOUBLE) * {_SD_SCALE}) AS BIGINT)
           AS sv
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
),
nrm AS (SELECT vec_id, CAST(SUM(sv * sv) AS BIGINT) AS nrm
        FROM q GROUP BY vec_id),
cand AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib, a.cid
  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
),
dots AS (
  SELECT c.ia, c.ib, c.cid, CAST(SUM(qa.sv * qb.sv) AS BIGINT) AS dot
  FROM cand c
  JOIN q qa ON qa.vec_id = c.ia
  JOIN q qb ON qb.vec_id = c.ib AND qb.pos = qa.pos
  GROUP BY c.ia, c.ib, c.cid
),
dups AS (
  SELECT d.ia, d.ib, d.cid
  FROM dots d
  JOIN nrm na ON na.vec_id = d.ia
  JOIN nrm nb ON nb.vec_id = d.ib
  WHERE d.dot >= 0
    AND {_SD_DEN} * d.dot * d.dot >= {_SD_NUM} * na.nrm * nb.nrm
)
SELECT ib AS vec_id, CAST(cid AS BIGINT) AS cid,
       MIN(ia) AS canonical_id, COUNT(*) AS n_matches
FROM dups GROUP BY ib, cid ORDER BY vec_id"""


def _oracle_semdedup(k: str = str(_K), pre: str = "") -> str:
    return (
        "WITH " + pre + ",".join(_kmeans_ctes(k)) + f""",
asg AS (SELECT vec_id, key % {k} AS cid FROM a{_ITERS})"""
        + _semdedup_pair_sql_tail()
    )


@register(
    "dedup_semantic_clustered",
    oracle=_oracle_semdedup(),
    tags=("dedup", "embedding", "north-star", "scale-audit-only"),
    doc=(
        "SemDeDup (Abbas et al. 2023): semantic near-duplicate detection "
        "restricted to within-k-means-cluster pairs — the published trick "
        "that turns O(N^2) embedding dedup into sum-of-cluster-sizes^2, "
        "with k grown proportionally to N so cluster size stays bounded. "
        "SCALE-AUDIT-ONLY at the registered k: the oracle pins the "
        "fixture's k=4, so cluster size grows with N and the pair stage "
        "goes quadratic (measured 307 s at x64, SCALE_PROBE_r04.json). "
        "The SemDeDup-contract scale paths are the r5 twins "
        "dedup_semantic_clustered_scaled (k = max(4, N // 100), "
        "near-linear to x64) and dedup_semantic_twolevel_scaled "
        "(√k × √k, near-linear to x256) — same pair stage, same "
        "threshold, oracle-exact. "
        "Cluster ids come from the bit-exact fixed-point Lloyd rounds "
        "(embed_kmeans_lloyd); similarity is an exact integer comparison "
        "on 2^10 fixed-point vectors (tau^2 as a rational, no float in "
        "the decision), so dup/keep flags are identical at any "
        "partitioning and cross-engine. Duplicates report the min-id "
        "in-cluster match as canonical. The self-join is an equi-join on "
        "cid (never all-pairs across clusters); per-vector norms are "
        "precomputed in one hash aggregate."
    ),
)
def dedup_semantic_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    asg = embed_kmeans_lloyd(spark, sf_dir).select("vec_id", "cid")
    return _semdedup_pair_stage(spark, sf_dir, asg)


def _semdedup_pair_stage(
    spark: SparkSession, sf_dir: str, asg: DataFrame
) -> DataFrame:
    """Shared SemDeDup pair stage: given (vec_id, cid) assignments, score
    within-cluster pairs and report each duplicate's min-id canonical.

    Within-cluster pair scoring as ONE int64 GEMM per cluster (Arrow
    batch -> numpy), replacing a pair-exploded interpreted
    aggregate(zip_with(...)) dot that evaluated the HOF tree per pair
    (measured 9.1 s -> GEMM is milliseconds at sf0.1; same baked-in
    local[32] lesson as the LSH sign-GEMM). Exactness is preserved:
    numpy int64 products/sums are exact two's-complement at the same
    magnitudes the SQL long math used (|dot| <= 64*2^20 = 2^26, so
    400*dot^2 < 2^61 and 49*nrm_a*nrm_b < 2^58 — no overflow).
    Per-task memory is O(cluster^2) int64s; SemDeDup's contract (k grown
    with N) bounds cluster size, and the k-means stage is the enforcer.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * _SD_SCALE).cast("long"),
        ).alias("sv"),
    )
    qv = qv.withColumn(
        "nrm",
        F.aggregate(
            F.zip_with("sv", "sv", lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    v = qv.join(asg, "vec_id").select("vec_id", "sv", F.col("cid").cast("long"))

    import numpy as np
    import pandas as pd

    def _cluster_dedup(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "vec_id": pd.Series(dtype="int64"),
                "cid": pd.Series(dtype="int64"),
                "canonical_id": pd.Series(dtype="int64"),
                "n_matches": pd.Series(dtype="int64"),
            }
        )
        n = len(pdf)
        if n < 2:
            return empty
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        m = np.array(pdf["sv"].tolist(), dtype=np.int64)
        nrm = (m * m).sum(axis=1)
        # GEMM in float64 BLAS, not int64: numpy has no BLAS kernel for
        # integer matmul and falls back to a naive C loop (measured 78 s
        # at 32 k vectors vs seconds of dgemm). Exactness survives the
        # detour: every product |a*b| <= 2^26 and every dot |sum| <= 2^32
        # is an integer below 2^53, so float64 holds them exactly;
        # rint+cast recovers the exact int64 dot, and the threshold
        # comparison (operands up to 400*2^52 ~ 2^61) runs in int64.
        # Blocked over rows so per-task memory is O(block * cluster), not
        # O(cluster^2) — a fixture-k probe run grows clusters linearly
        # with the corpus and an unblocked Gram matrix with its square.
        mf = m.astype(np.float64)
        blk = 1024
        ia_parts, ib_parts = [], []
        for i0 in range(0, n, blk):
            i1 = min(i0 + blk, n)
            gb = np.rint(mf[i0:i1] @ mf.T).astype(np.int64)
            okb = (gb >= 0) & (
                _SD_DEN * gb * gb >= _SD_NUM * np.outer(nrm[i0:i1], nrm)
            )
            ri, ci = np.nonzero(okb)
            keep = ci > ri + i0  # strict upper triangle: ia < ib
            ia_parts.append(ids[ri[keep] + i0])
            ib_parts.append(ids[ci[keep]])
        ia = np.concatenate(ia_parts) if ia_parts else np.empty(0, np.int64)
        ib = np.concatenate(ib_parts) if ib_parts else np.empty(0, np.int64)
        if len(ib) == 0:
            return empty
        res = (
            pd.DataFrame({"ib": ib, "ia": ia})
            .groupby("ib", sort=False)
            .agg(canonical_id=("ia", "min"), n_matches=("ia", "count"))
            .reset_index()
        )
        return pd.DataFrame(
            {
                "vec_id": res["ib"].astype("int64"),
                "cid": np.int64(pdf["cid"].iloc[0]),
                "canonical_id": res["canonical_id"].astype("int64"),
                "n_matches": res["n_matches"].astype("int64"),
            }
        )

    return (
        v.groupBy("cid")
        .applyInPandas(
            _cluster_dedup,
            "vec_id long, cid long, canonical_id long, n_matches long",
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# SemDeDup scale twin: k grown with N (constant expected cluster size)
# --------------------------------------------------------------------------

_SD_TARGET = 100  # expected cluster size: k = max(4, N // _SD_TARGET)

_SD_KP_CTE = (
    f"kp AS (SELECT GREATEST(4, COUNT(*) // {_SD_TARGET}) AS k"
    " FROM embeddings),\n"
)
_SD_K_EXPR = "(SELECT k FROM kp)"


def _qarr(emb: DataFrame) -> DataFrame:
    """(vec_id, qa): the shifted 2^16 fixed-point component array — the
    array form of the oracle's ``pts`` CTE."""
    return emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor((x.cast("double") + F.lit(1.0)) * F.lit(_SCALE))
            .cast("long"),
        ).alias("qa"),
    )


def _kmeans_assign_gemm(
    spark: SparkSession, sf_dir: str, k: int, iters: int = _ITERS
) -> DataFrame:
    """``iters`` bit-exact Lloyd rounds with GEMM assignment, for k ∝ N.

    ``embed_kmeans_lloyd``'s join-based assignment streams N·dim·k rows
    through a hash aggregate — fine at fixed k=4, but k ∝ N makes that
    O(N²·dim) ROWS, which no aggregate survives. Here assignment is a
    blocked float64 GEMM inside mapInPandas against a broadcast centroid
    matrix: the same N·k·dim work becomes BLAS FLOPs (~10⁴× cheaper per
    distance) and never materializes as rows. The centroid update stays a
    Spark hash aggregate over the exploded fixed-point components
    (``sum(qv) div count(*)``), identical to the SQL oracle's update CTE.

    Exactness vs the SQL chain: qv = floor((v+1)·2^16) ∈ [0, 2^17], so
    dist = Σ(qv−cq)² ≤ 64·2^34 = 2^40; the expansion qn − 2·Q·Cᵀ + cn has
    every term an integer < 2^53, exact in float64 — rint recovers the
    exact int64 distance, and the combined key dist·k + cid (< 2^53 for
    k ≤ 2^12) min-reduces to the identical argmin-with-lowest-cid-ties the
    oracle's MIN(key) computes. Only centroids present after an update
    participate (empty clusters drop out), matching the SQL join.

    Driver state: the collected centroid table is k·dim int64 (k=1280 at
    the x64 probe → 0.7 MB), same bounded-index precedent as the IVF
    centroids (operators/similarity.py). At true 100 TB scale (k ~ 10⁸)
    a flat centroid broadcast no longer fits; the documented swap is
    two-level coarse-then-fine clustering (cluster √k coarse cells, then
    sub-cluster within each cell), which keeps both levels' centroid
    state ≤ √k·dim — the pair stage below is unchanged by that swap.
    """
    import numpy as np
    import pandas as pd

    qarr = _qarr(load_table(spark, sf_dir, "embeddings"))
    pts = qarr.select(
        "vec_id", F.posexplode("qa").alias("pos", "qv")
    ).persist()

    # seed: first k vectors, exactly like the oracle's c0 CTE
    seed = (
        qarr.where(F.col("vec_id") < k)
        .orderBy("vec_id")
        .select("vec_id", "qa")
        .collect()
    )
    cids = np.array([r["vec_id"] for r in seed], dtype=np.int64)
    cmat = np.array([r["qa"] for r in seed], dtype=np.int64)

    assign = None
    for it in range(iters):
        c_ids, c_f = cids, cmat.astype(np.float64)
        c_n = (c_f * c_f).sum(axis=1)  # exact: ints < 2^41

        def _assign(batches, _ids=c_ids, _cf=c_f, _cn=c_n, _k=k):
            for pdf in batches:
                q = np.array(pdf["qa"].tolist(), dtype=np.int64)
                qf = q.astype(np.float64)
                qn = (qf * qf).sum(axis=1)
                keys = np.empty(len(pdf), dtype=np.int64)
                blk = 1024
                for i0 in range(0, len(pdf), blk):
                    i1 = min(i0 + blk, len(pdf))
                    g = qf[i0:i1] @ _cf.T
                    dist = np.rint(
                        qn[i0:i1, None] - 2.0 * g + _cn[None, :]
                    ).astype(np.int64)
                    keys[i0:i1] = (dist * _k + _ids[None, :]).min(axis=1)
                yield pd.DataFrame(
                    {"vec_id": pdf["vec_id"], "key": keys}
                )

        assign = qarr.mapInPandas(_assign, "vec_id long, key long")
        if it < iters - 1:
            upd = (
                pts.join(assign, "vec_id")
                .groupBy((F.col("key") % k).alias("cid"), "pos")
                .agg(F.expr("sum(qv) div count(*)").alias("cq"))
                .groupBy("cid")
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "cq"))
                    ).alias("pc")
                )
                .select("cid", F.col("pc.cq").alias("cq"))
                .orderBy("cid")
                .collect()
            )
            cids = np.array([r["cid"] for r in upd], dtype=np.int64)
            cmat = np.array([r["cq"] for r in upd], dtype=np.int64)
    pts.unpersist()
    return assign


@register(
    "dedup_semantic_clustered_scaled",
    oracle=_oracle_semdedup(k=_SD_K_EXPR, pre=_SD_KP_CTE),
    tags=("dedup", "embedding", "scale-path", "north-star"),
    doc=(
        "SemDeDup scale path (r4 verdict item 2): identical pair stage to "
        "dedup_semantic_clustered, but k is derived from the corpus size "
        f"(k = max(4, N // {_SD_TARGET})) so expected cluster size stays "
        "constant as N grows and the sum-of-cluster-sizes² pair work is "
        "O(N·target) — linear — instead of the fixture-k twin's O(N²). "
        "Assignment runs as a blocked GEMM against broadcast centroids "
        "(_kmeans_assign_gemm) because join-based assignment is O(N·dim·k) "
        "rows when k ∝ N. The oracle computes k with the same formula via "
        "an uncorrelated scalar subquery (GREATEST(4, COUNT(*) // "
        f"{_SD_TARGET})), so both engines cluster and pair bit-exactly at "
        "any fixture scale."
    ),
)
def dedup_semantic_clustered_scaled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pin_query_session_conf(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()  # one driver-side scalar (table stats), not a collect
    k = max(4, n // _SD_TARGET)
    asg = _kmeans_assign_gemm(spark, sf_dir, k).select(
        "vec_id", (F.col("key") % k).cast("long").alias("cid")
    )
    return _semdedup_pair_stage(spark, sf_dir, asg)


# ---------------------------------------------------------------------------
# Entity resolution on structured records (block -> match -> cluster).
# ---------------------------------------------------------------------------

# --------------------------------------------------------------------------
# Two-level (coarse -> fine) k-means: the 100 TB swap for flat-k clustering
# --------------------------------------------------------------------------

_TL_K1 = 5  # coarse cells (level 1: GEMM vs broadcast centroids)
_TL_K2 = 4  # sub-clusters per cell (level 2: distributed, inside the cell)


def _twolevel_ctes(k1: int | str, k2: int | str) -> str:
    """CTE chain for two-level Lloyd, ending in ``tl(vec_id, cell, scid)``.

    Level 1 is the shared coarse chain (`_kmeans_ctes`); level 2 re-runs
    the identical assign/update recurrences PER CELL: seeds are each
    cell's ``k2`` lowest vec_ids (ROW_NUMBER ties impossible — vec_id is
    unique), assignment joins points only to their own cell's
    sub-centroids, and the combined key2 = dist·k2 + scid keeps the
    argmin bit-exact."""
    sub_assign = """
s_a{i} AS (
  SELECT vec_id, cell, MIN(key2) AS key2 FROM (
    SELECT p.vec_id, p.cell,
           SUM((p.qv - c.cq) * (p.qv - c.cq)) * {k2} + c.scid AS key2
    FROM pts2 p JOIN s_c{j} c ON p.cell = c.cell AND p.pos = c.pos
    GROUP BY p.vec_id, p.cell, c.scid)
  GROUP BY vec_id, cell
)"""
    sub_update = """
s_c{i} AS (
  SELECT p.cell, a.key2 % {k2} AS scid, p.pos, SUM(p.qv) // COUNT(*) AS cq
  FROM pts2 p JOIN s_a{i} a ON p.vec_id = a.vec_id
  GROUP BY p.cell, a.key2 % {k2}, p.pos
)"""
    lvl2 = [
        f"""
cellmap AS (SELECT vec_id, key % {k1} AS cell FROM a{_ITERS}),
pts2 AS (
  SELECT p.vec_id, c.cell, p.pos, p.qv
  FROM pts p JOIN cellmap c ON p.vec_id = c.vec_id
),
seeds AS (
  SELECT vec_id, cell,
         ROW_NUMBER() OVER (PARTITION BY cell ORDER BY vec_id) - 1 AS scid
  FROM cellmap
),
s_c0 AS (
  SELECT s.cell, s.scid, p.pos, p.qv AS cq
  FROM seeds s JOIN pts p ON p.vec_id = s.vec_id
  WHERE s.scid < {k2}
)"""
    ]
    for i in range(1, _ITERS + 1):
        lvl2.append(sub_assign.format(i=i, j=i - 1, k2=k2))
        if i < _ITERS:
            lvl2.append(sub_update.format(i=i, k2=k2))
    return (
        ",".join(_kmeans_ctes(str(k1)))
        + ","
        + ",".join(lvl2)
        + f""",
tl AS (SELECT vec_id, cell, key2 % {k2} AS scid FROM s_a{_ITERS})"""
    )


_ORACLE_TWOLEVEL = (
    "WITH "
    + _twolevel_ctes(_TL_K1, _TL_K2)
    + f"""
SELECT vec_id, CAST(cell AS BIGINT) AS cell, CAST(scid AS BIGINT) AS scid,
       CAST(cell * {_TL_K2} + scid AS BIGINT) AS cluster_id
FROM tl ORDER BY vec_id"""
)


def twolevel_kmeans_assign(
    spark: SparkSession, sf_dir: str, k1: int, k2: int
) -> DataFrame:
    """(vec_id, cell, scid) after coarse-then-fine Lloyd — the scale form
    of k ∝ N clustering whose TOTAL centroid count k1·k2 can exceed what
    any flat broadcast holds.

    Level 1 (`_kmeans_assign_gemm`) touches the driver with only k1·dim
    centroid state (pick k1 ≈ √k). Level 2 never touches the driver at
    all: each cell's sub-Lloyd runs INSIDE applyInPandas — seeds are the
    cell's k2 lowest vec_ids, the same integer recurrences run in numpy
    (float64 GEMM distances rint'd back to int64, combined key2 =
    dist·k2 + scid, floor-div centroid means), so every task holds only
    its own cell's k2·dim sub-centroids. Per-task work is
    O(cellsize·k2·dim·iters); cell size is bounded by the coarse level
    exactly as SemDeDup's k ∝ N contract bounds cluster size."""
    import numpy as np
    import pandas as pd

    coarse = _kmeans_assign_gemm(spark, sf_dir, k1).select(
        "vec_id", (F.col("key") % k1).cast("long").alias("cell")
    )
    cells = _qarr(load_table(spark, sf_dir, "embeddings")).join(
        coarse, "vec_id"
    )

    def _sub_lloyd(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        n = len(pdf)
        m = np.array(pdf["qa"].tolist(), dtype=np.int64)
        mf = m.astype(np.float64)
        qn = (mf * mf).sum(axis=1)
        # seeds: the cell's min(k2, n) lowest vec_ids, scid in vec_id order
        s = min(k2, n)
        scids = np.arange(s, dtype=np.int64)
        cmat = m[:s].copy()
        key2 = None
        for it in range(_ITERS):
            cf = cmat.astype(np.float64)
            cn = (cf * cf).sum(axis=1)
            dist = np.rint(qn[:, None] - 2.0 * (mf @ cf.T) + cn[None, :]).astype(
                np.int64
            )
            key2 = (dist * k2 + scids[None, :]).min(axis=1)
            if it < _ITERS - 1:
                assigned = key2 % k2
                present = np.unique(assigned)
                scids = present
                cmat = np.stack(
                    [
                        m[assigned == sc].sum(axis=0) // (assigned == sc).sum()
                        for sc in present
                    ]
                )
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"].astype("int64"),
                "cell": pdf["cell"].astype("int64"),
                "scid": (key2 % k2).astype("int64"),
            }
        )

    return cells.groupBy("cell").applyInPandas(
        _sub_lloyd, "vec_id long, cell long, scid long"
    )


@register(
    "embed_kmeans_twolevel",
    oracle=_ORACLE_TWOLEVEL,
    tags=("embedding", "iterative", "scale-path", "north-star"),
    doc=(
        "Two-level (coarse -> fine) k-means — the documented 100 TB swap "
        "for every flat-broadcast clustering in this repo, now "
        "implemented and oracle-checked rather than asserted: level 1 "
        f"clusters into k1={_TL_K1} cells with GEMM assignment (driver "
        "state k1·dim), level 2 sub-clusters EACH CELL independently "
        f"inside applyInPandas (k2={_TL_K2} seeds = the cell's lowest "
        "vec_ids; fine-centroid state lives only in the cell's task, "
        "never on the driver or in a broadcast). Total clusters k1·k2 "
        "with max(k1, k2)·dim centroid state — pick k1 ≈ k2 ≈ √k and a "
        "10⁸-cluster SemDeDup run holds ~10⁴ centroids per task. Both "
        "levels run the identical fixed-point Lloyd recurrences, so the "
        "unrolled two-level SQL oracle matches bit-exactly."
    ),
)
def embed_kmeans_twolevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    asg = twolevel_kmeans_assign(spark, sf_dir, _TL_K1, _TL_K2)
    return asg.select(
        "vec_id",
        "cell",
        "scid",
        (F.col("cell") * _TL_K2 + F.col("scid")).alias("cluster_id"),
    ).orderBy("vec_id")


_ORACLE_SD_TWOLEVEL = (
    "WITH "
    + _twolevel_ctes(_TL_K1, _TL_K2)
    + f""",
asg AS (SELECT vec_id, cell * {_TL_K2} + scid AS cid FROM tl)"""
    + _semdedup_pair_sql_tail()
)


@register(
    "dedup_semantic_twolevel",
    oracle=_ORACLE_SD_TWOLEVEL,
    tags=("dedup", "embedding", "scale-path", "north-star"),
    doc=(
        "SemDeDup over two-level cluster ids (cell·k2 + scid): the "
        "composition that closes the k ∝ N story end-to-end at 100 TB — "
        "dedup_semantic_clustered_scaled keeps cluster sizes constant "
        "but needs a flat k-centroid broadcast; this variant gets the "
        "same bounded-cluster pair stage from embed_kmeans_twolevel, "
        "whose fine centroids never leave their cell's task. Pair "
        "scoring is the shared _semdedup_pair_stage (per-cluster int64 "
        "GEMM, exact rational threshold); the oracle reuses the "
        "two-level chain plus the shared pair-SQL tail."
    ),
)
def dedup_semantic_twolevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    asg = twolevel_kmeans_assign(spark, sf_dir, _TL_K1, _TL_K2).select(
        "vec_id",
        (F.col("cell") * _TL_K2 + F.col("scid")).cast("long").alias("cid"),
    )
    return _semdedup_pair_stage(spark, sf_dir, asg)


def _tl_dims(n: int) -> tuple[int, int]:
    """(k1, k2) for N vectors: total clusters ≈ max(4, N // _SD_TARGET)
    split as k1 = max(2, isqrt(ktot)), k2 = ceil(ktot / k1) — both ≈ √k,
    so neither level's centroid state exceeds ~√k·dim anywhere."""
    import math

    kt = max(4, n // _SD_TARGET)
    k1 = max(2, math.isqrt(kt))
    return k1, (kt + k1 - 1) // k1


#: Exact integer sqrt in SQL: float sqrt can misround at perfect-square
#: boundaries, so the guess g is corrected by +-1 with pure integer
#: comparisons — bit-identical to Python's math.isqrt for every BIGINT.
_TL_KK_CTE = f"""kp AS (
  SELECT GREATEST(4, COUNT(*) // {_SD_TARGET}) AS kt FROM embeddings
),
g0 AS (
  SELECT kt, CAST(floor(sqrt(CAST(kt AS DOUBLE))) AS BIGINT) AS g FROM kp
),
kk AS (
  SELECT kt, GREATEST(2, CASE WHEN g * g > kt THEN g - 1
                              WHEN (g + 1) * (g + 1) <= kt THEN g + 1
                              ELSE g END) AS k1
  FROM g0
),
kk2 AS (SELECT kt, k1, (kt + k1 - 1) // k1 AS k2 FROM kk),
"""
_TL_K1_EXPR = "(SELECT k1 FROM kk2)"
_TL_K2_EXPR = "(SELECT k2 FROM kk2)"

_ORACLE_SD_TWOLEVEL_SCALED = (
    "WITH "
    + _TL_KK_CTE
    + _twolevel_ctes(_TL_K1_EXPR, _TL_K2_EXPR)
    + f""",
asg AS (SELECT vec_id, cell * {_TL_K2_EXPR} + scid AS cid FROM tl)"""
    + _semdedup_pair_sql_tail()
)


@register(
    "dedup_semantic_twolevel_scaled",
    oracle=_ORACLE_SD_TWOLEVEL_SCALED,
    tags=("dedup", "embedding", "scale-path", "north-star"),
    doc=(
        "The full 100 TB SemDeDup composition: total clusters grow with "
        f"the corpus (ktot = max(4, N // {_SD_TARGET}), constant expected "
        "cluster size) AND the clustering is two-level with k1 = "
        "max(2, isqrt(ktot)), k2 = ceil(ktot/k1) — both ≈ √ktot — so "
        "level-1 broadcast state is √k·dim and level-2 fine centroids "
        "live only inside their cell's applyInPandas task. This removes "
        "dedup_semantic_clustered_scaled's one remaining caveat (the "
        "flat k-centroid broadcast). The oracle derives ktot/k1/k2 from "
        "COUNT(*) with an exactly-corrected integer sqrt (float sqrt "
        "alone can misround at perfect squares), so Spark and DuckDB "
        "cluster and pair bit-exactly at any fixture scale."
    ),
)
def dedup_semantic_twolevel_scaled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pin_query_session_conf(spark)
    n = load_table(spark, sf_dir, "embeddings").count()
    k1, k2 = _tl_dims(n)
    asg = twolevel_kmeans_assign(spark, sf_dir, k1, k2).select(
        "vec_id",
        (F.col("cell") * k2 + F.col("scid")).cast("long").alias("cid"),
    )
    return _semdedup_pair_stage(spark, sf_dir, asg)


# ORACLE ASSUMPTION (ADVICE r4 #4): the 2-hop min closure below is exact
# only for components of diameter <= 2. That holds for THIS fixture family
# at any tested scale — every variant record differs from its base only by
# an inserted space / lowercased initial, so components are hub-stars
# around the base record — but it is NOT a general connected-components
# oracle: at ~1M+ custkeys, chance in-block edges between different
# custkeys (same last-4 digits, <= 2 differing leading digits) could chain
# longer components where this closure under-merges while the Spark side's
# true iterative connected_components (O(diameter) rounds) keeps going.
# The Spark operator is the general one; only the oracle carries the
# diameter bound.
_ORACLE_ER = """
WITH base AS (SELECT c_custkey AS rec_id, c_name AS name FROM customer),
va AS (
  SELECT c_custkey + 1000000 AS rec_id, replace(c_name, '#', '# ') AS name
  FROM customer WHERE c_custkey % 4 = 0
),
vb AS (
  SELECT c_custkey + 2000000 AS rec_id, 'c' || substr(c_name, 2) AS name
  FROM customer WHERE c_custkey % 8 = 0
),
dirty AS (
  SELECT * FROM base UNION ALL SELECT * FROM va UNION ALL SELECT * FROM vb
),
blocked AS (
  SELECT rec_id, name, right(name, 4) AS blk FROM dirty
),
pairs AS (
  SELECT a.rec_id AS ra, b.rec_id AS rb
  FROM blocked a JOIN blocked b
    ON a.blk = b.blk AND a.rec_id < b.rec_id
  WHERE levenshtein(a.name, b.name) <= 2
),
edges AS (
  SELECT ra AS s, rb AS d FROM pairs
  UNION SELECT rb AS s, ra AS d FROM pairs
),
n1 AS (SELECT s AS v, MIN(d) AS m FROM edges GROUP BY s),
n2 AS (
  SELECT e1.s AS v, MIN(e2.d) AS m
  FROM edges e1 JOIN edges e2 ON e1.d = e2.s GROUP BY e1.s
),
lab AS (
  SELECT d.rec_id,
         LEAST(d.rec_id, COALESCE(n1.m, d.rec_id), COALESCE(n2.m, d.rec_id))
           AS cluster_id
  FROM dirty d
  LEFT JOIN n1 ON n1.v = d.rec_id
  LEFT JOIN n2 ON n2.v = d.rec_id
)
SELECT cluster_id, COUNT(*) AS n_records,
       array_to_string(list_sort(list(rec_id)), ',') AS members
FROM lab GROUP BY cluster_id ORDER BY cluster_id
"""


@register(
    "er_customer_resolution",
    oracle=_ORACLE_ER,
    tags=("ml", "dedup", "join", "north-star"),
    doc=(
        "Entity resolution on STRUCTURED records — the block -> match -> "
        "cluster -> canonicalize pipeline (Fellegi-Sunter shape) the "
        "document dedup stack doesn't cover: deterministic dirty variants "
        "of the customer dimension (an inserted space for custkey % 4, a "
        "lowercased initial for % 8), blocking on the name's last 4 "
        "chars, within-block Levenshtein <= 2 matching, min-label "
        "connected components, one row per resolved entity with its "
        "member list. Scale shape: candidate pairs exist only WITHIN "
        "blocks (the all-pairs killer), the match predicate runs on the "
        "block equi-join's output, and clustering is the iterative "
        "propagation operator (O(diameter) rounds). The oracle builds "
        "the same dirty table and resolves components with a 2-hop min "
        "closure — exact because variant clusters are hub-stars of "
        "diameter <= 2 by construction."
    ),
)
def er_customer_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components

    pin_query_session_conf(spark)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("rec_id"), F.col("c_name").alias("name")
    )
    va = (
        cust.where(F.col("rec_id") % 4 == 0)
        .select(
            (F.col("rec_id") + 1000000).alias("rec_id"),
            F.regexp_replace("name", "#", "# ").alias("name"),
        )
    )
    vb = (
        cust.where(F.col("rec_id") % 8 == 0)
        .select(
            (F.col("rec_id") + 2000000).alias("rec_id"),
            F.concat(F.lit("c"), F.expr("substring(name, 2)")).alias("name"),
        )
    )
    dirty = cust.unionByName(va).unionByName(vb)
    blocked = dirty.withColumn("blk", F.expr("right(name, 4)"))
    a, b = blocked.alias("a"), blocked.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.rec_id") < F.col("b.rec_id")),
        )
        .where(F.levenshtein(F.col("a.name"), F.col("b.name")) <= 2)
        .select(F.col("a.rec_id").alias("ra"), F.col("b.rec_id").alias("rb"))
    )
    cc = connected_components(pairs, a_col="ra", b_col="rb")
    return (
        dirty.join(cc, dirty.rec_id == cc.doc_id, "left")
        .select(
            "rec_id",
            F.coalesce("cluster_id", "rec_id").alias("cluster_id"),
        )
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.array_join(
                F.array_sort(F.collect_list("rec_id")), ","
            ).alias("members"),
        )
        .orderBy("cluster_id")
    )


# -- distributed logistic-regression training (gradient descent) --------------

_GD_ITERS = 8
_GD_LR = 0.5
_GD_FP = 1_000_000.0  # per-row gradient fixed-point scale


def logreg_gd_train(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    iters: int = _GD_ITERS,
    lr: float = _GD_LR,
) -> DataFrame:
    """Full-batch logistic-regression GD, the iterative-optimizer shape on
    Spark: each iteration is ONE distributed aggregate — per-row gradient
    contributions (sigmoid(w.x) - y) * x_j are FIXED-POINTED (floor to
    1e-6 units) before summation, so the gradient is an exact BIGINT sum,
    order-free under any partitioning, and every run converges to
    bit-identical weights. Driver state is the weight vector (dim
    doubles); data never leaves executors. Same bounded-iteration pattern
    as Lloyd k-means / power iteration / k-center (a bounded driver loop
    over one-pass distributed aggregates), which is exactly how a 100 TB
    full-batch epoch runs; minibatch SGD swaps the full aggregate for a
    deterministic hash-sampled one.

    Returns (pos, weight, n_correct, n_rows): final weights to 6dp plus
    the training accuracy computed in one last exact counting pass.
    """
    dim = len(df.select(vec_col).first()[0])
    src = df.select(
        (F.col(label_col) % 2).cast("double").alias("y"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    src = src.cache()
    try:
        n = src.count()
        w = [0.0] * dim

        def margin(weights: list[float]):
            # one-parse literal vector (r11 optimization; lit_fast.py)
            from ..functions.lit_fast import sql_array

            lit = sql_array([float(x) for x in weights], "DOUBLE")
            return F.aggregate(
                F.zip_with(F.col("v"), lit, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )

        for _ in range(iters):
            resid = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin(w))) - F.col("y")
            grads = src.agg(
                *[
                    F.sum(
                        F.floor(
                            resid * F.element_at(F.col("v"), j + 1) * _GD_FP
                        ).cast("long")
                    ).alias(f"g{j}")
                    for j in range(dim)
                ]
            ).collect()[0]
            w = [
                w[j] - lr * (grads[f"g{j}"] / _GD_FP) / n
                for j in range(dim)
            ]
        correct = src.where(
            ((margin(w) >= 0).cast("int")) == F.col("y").cast("int")
        ).count()
    finally:
        src.unpersist()
    spark = df.sparkSession
    return spark.createDataFrame(
        [(j, round(w[j], 6), correct, n) for j in range(dim)],
        "pos int, weight double, n_correct long, n_rows long",
    )


# The optimizer recursion IS SQL-expressible once the iteration count is a
# bounded constant: unroll the 8 steps as CTE pairs (m_k = per-row residual
# against the previous weights, g_k = the fixed-point BIGINT gradient sum,
# w_k = the weight update).  Every float op mirrors the Spark side exactly —
# list_dot_product is the same sequential fold as F.aggregate(zip_with)
# (verified bit-for-bit), the per-row gradient is floored to 1e-6 units
# BEFORE summation on both engines, so the BIGINT gradients are order-free
# and identical, and the weight recurrence is the same left-associated
# double arithmetic.
_GD_DIM = 64  # embeddings fixture dimension (all SFs)


def _logreg_oracle() -> str:
    steps = []
    for k in range(2, _GD_ITERS + 1):
        steps.append(f"""
m{k} AS MATERIALIZED (
  SELECT y, v,
         1.0 / (1.0 + exp(-(list_dot_product(v,
             (SELECT list(w ORDER BY j) FROM w{k - 1}))))) - y AS resid
  FROM src
),
g{k} AS MATERIALIZED (
  SELECT j, SUM(CAST(floor(resid * v[j] * {_GD_FP}) AS BIGINT)) AS g
  FROM m{k}, range(1, {_GD_DIM + 1}) t(j) GROUP BY j
),
w{k} AS MATERIALIZED (
  SELECT a.j,
         a.w - {_GD_LR} * (CAST(b.g AS DOUBLE) / {_GD_FP})
             / (SELECT n FROM nn) AS w
  FROM w{k - 1} a JOIN g{k} b USING (j)
)""")
    last = f"w{_GD_ITERS}"
    return f"""
WITH src AS MATERIALIZED (
  SELECT CAST(label % 2 AS DOUBLE) AS y,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM src),
g1 AS MATERIALIZED (
  SELECT j, SUM(CAST(floor((0.5 - y) * v[j] * {_GD_FP}) AS BIGINT)) AS g
  FROM src, range(1, {_GD_DIM + 1}) t(j) GROUP BY j
),
w1 AS MATERIALIZED (
  SELECT j, 0.0 - {_GD_LR} * (CAST(g AS DOUBLE) / {_GD_FP})
              / (SELECT n FROM nn) AS w
  FROM g1
),{",".join(steps)},
acc AS (
  SELECT COUNT(*) FILTER (WHERE
           CAST(list_dot_product(v,
                (SELECT list(w ORDER BY j) FROM {last})) >= 0 AS INT)
           = CAST(y AS INT)) AS c,
         COUNT(*) AS nr
  FROM src
)
SELECT CAST(j - 1 AS INTEGER) AS pos,
       round(w, 6) AS weight,
       (SELECT CAST(c AS BIGINT) FROM acc) AS n_correct,
       (SELECT CAST(nr AS BIGINT) FROM acc) AS n_rows
FROM {last} ORDER BY pos
"""


@register(
    "ml_logreg_gd_train",
    oracle=_logreg_oracle(),
    tags=("ml", "training", "iterative"),
    doc=(
        "Distributed logistic-regression TRAINING (full-batch gradient "
        "descent, 8 iterations): the iterative-optimizer pattern next to "
        "Lloyd k-means and power iteration — per iteration one "
        "distributed aggregate computes the exact gradient (per-row "
        "contributions fixed-pointed to 1e-6 then summed as BIGINT, so "
        "the update is order-free and runs are bit-reproducible), weight "
        "vector lives on the driver (dim doubles, the bounded-state "
        "contract). Target is label%2 over the embeddings fixture (the "
        "mechanics demo; learnability on separable data is pinned in "
        "tests/test_ml_queries.py). The fixed-point gradients make the "
        "whole 8-step recursion reproducible in SQL — the oracle unrolls "
        "it as CTE pairs (r6 verdict item 4). Known boundary (r8 "
        "degenerate-fixture differ): on a pathological 8-row corpus the "
        "two engines' libm exp() can differ by 1 ulp exactly at an e6 "
        "floor boundary, and iterating amplifies that into a +-1e-6 "
        "weight difference — the residual risk the floor-before-sum "
        "contract accepts; real-scale fixtures (sf0.001-0.1) match "
        "exactly."
    ),
)
def ml_logreg_gd_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    return logreg_gd_train(emb)


# -- classifier evaluation: per-class precision / recall / F1 ------------------

_ORACLE_EVAL_METRICS = """
WITH labeled AS (
  SELECT vec_id, label, label % 3 AS pred   -- deterministic stand-in preds
  FROM embeddings
),
counts AS (
  SELECT label AS cls,
         COUNT(*) FILTER (WHERE pred = label) AS tp,
         COUNT(*) FILTER (WHERE pred <> label) AS fn
  FROM labeled GROUP BY label
),
pred_counts AS (
  SELECT pred AS cls, COUNT(*) FILTER (WHERE pred <> label) AS fp
  FROM labeled GROUP BY pred
)
SELECT c.cls,
       CAST(c.tp AS BIGINT) AS tp,
       CAST(COALESCE(p.fp, 0) AS BIGINT) AS fp,
       CAST(c.fn AS BIGINT) AS fn,
       CAST(floor(1000000.0 * c.tp
                  / greatest(c.tp + COALESCE(p.fp, 0), 1)) AS BIGINT)
         AS precision_ppm,
       CAST(floor(1000000.0 * c.tp / greatest(c.tp + c.fn, 1)) AS BIGINT)
         AS recall_ppm,
       CAST(floor(2000000.0 * c.tp
                  / greatest(2 * c.tp + COALESCE(p.fp, 0) + c.fn, 1))
            AS BIGINT) AS f1_ppm
FROM counts c LEFT JOIN pred_counts p USING (cls)
ORDER BY c.cls
"""


@register(
    "ml_eval_precision_recall",
    oracle=_ORACLE_EVAL_METRICS,
    tags=("ml", "eval"),
    doc=(
        "Per-class precision / recall / F1 from a predictions table — "
        "the evaluation aggregate that closes the classifier loop "
        "(embed_knn_classify / ml_logreg_gd_train produce predictions; "
        "this scores them). Predictions here are the deterministic "
        "label%3 stand-in so the confusion structure is fixture-stable; "
        "the metric algebra is the real thing: per-class TP from one "
        "grouped FILTER aggregate, FP from the prediction-side group, F1 "
        "as 2TP/(2TP+FP+FN) in floored integer ppm — two hash "
        "aggregates + one tiny join, no per-pair work, trivially "
        "map-side-combinable at any scale."
    ),
)
def ml_eval_precision_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    labeled = emb.select(
        "label", (F.col("label") % 3).alias("pred")
    )
    counts = labeled.groupBy(F.col("label").alias("cls")).agg(
        F.count(F.when(F.col("pred") == F.col("label"), 1)).alias("tp"),
        F.count(F.when(F.col("pred") != F.col("label"), 1)).alias("fn"),
    )
    pred_counts = labeled.groupBy(F.col("pred").alias("cls")).agg(
        F.count(F.when(F.col("pred") != F.col("label"), 1)).alias("fp")
    )
    j = counts.join(pred_counts, "cls", "left").select(
        "cls",
        F.col("tp").cast("bigint").alias("tp"),
        F.coalesce("fp", F.lit(0)).cast("bigint").alias("fp"),
        F.col("fn").cast("bigint").alias("fn"),
    )
    return j.select(
        "cls",
        "tp",
        "fp",
        "fn",
        F.floor(
            F.lit(1000000.0) * F.col("tp")
            / F.greatest(F.col("tp") + F.col("fp"), F.lit(1))
        ).cast("bigint").alias("precision_ppm"),
        F.floor(
            F.lit(1000000.0) * F.col("tp")
            / F.greatest(F.col("tp") + F.col("fn"), F.lit(1))
        ).cast("bigint").alias("recall_ppm"),
        F.floor(
            F.lit(2000000.0) * F.col("tp")
            / F.greatest(
                F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(1)
            )
        ).cast("bigint").alias("f1_ppm"),
    ).orderBy("cls")


# -- calibration: reliability bins + expected calibration error ----------------

_ORACLE_CALIBRATION = """
WITH scored AS (
  SELECT label % 2 AS y,
         -- deterministic pseudo-probability correlated with the label:
         -- hash noise blended toward the true label (stand-in for a
         -- model's softmax output; the binning/ECE algebra is the real op)
         round(0.7 * (label % 2)
               + 0.3 * (('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                        ::BIGINT % 1000) / 999.0, 6) AS p
  FROM embeddings
),
binned AS (
  SELECT least(CAST(floor(p * 10) AS INTEGER), 9) AS bin,
         COUNT(*) AS n,
         CAST(SUM(y) AS BIGINT) AS pos,
         CAST(SUM(CAST(round(p * 1000000, 0) AS BIGINT)) AS BIGINT)
           AS p_sum_e6
  FROM scored GROUP BY 1
)
SELECT bin, CAST(n AS BIGINT) AS n,
       round(CAST(p_sum_e6 AS DOUBLE) / n / 1000000.0, 6) AS mean_pred,
       round(CAST(pos AS DOUBLE) / n, 6) AS frac_pos,
       CAST(floor(abs(CAST(p_sum_e6 AS DOUBLE) / 1000000.0
                      - CAST(pos AS DOUBLE)) / n * 1000000.0
                  * n / (SELECT SUM(n) FROM binned)) AS BIGINT)
         AS ece_contrib_ppm
FROM binned ORDER BY bin
"""


@register(
    "ml_calibration_reliability",
    oracle=_ORACLE_CALIBRATION,
    tags=("ml", "eval"),
    doc=(
        "Reliability diagram + expected-calibration-error contributions "
        "per decile bin: mean predicted probability vs observed positive "
        "rate, ECE term = |sum(p) - sum(y)| / n weighted by bin mass — "
        "the calibration audit run on every production classifier (and "
        "on LLM-judge scores before thresholding them). Probabilities "
        "here are a deterministic md5-noise blend toward the true label "
        "so the fixture has real calibration structure; probability "
        "sums are fixed-pointed to 1e-6 before aggregation so no "
        "order-dependent float accumulation crosses the oracle. One "
        "hash aggregate over 10 bins + a scalar total."
    ),
)
def ml_calibration_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    noise = (
        md5_u32(F.col("vec_id").cast("string"))
        % 1000
    ) / F.lit(999.0)
    scored = emb.select(
        (F.col("label") % 2).alias("y"),
        F.round(F.lit(0.7) * (F.col("label") % 2) + F.lit(0.3) * noise, 6)
        .alias("p"),
    )
    binned = scored.groupBy(
        F.least(F.floor(F.col("p") * 10).cast("int"), F.lit(9)).alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").cast("bigint").alias("pos"),
        F.sum(F.round(F.col("p") * 1000000, 0).cast("bigint"))
        .cast("bigint")
        .alias("p_sum_e6"),
    )
    total = binned.agg(F.sum("n").alias("n_total"))
    return (
        binned.crossJoin(F.broadcast(total))
        .select(
            "bin",
            F.col("n").cast("bigint").alias("n"),
            F.round(
                F.col("p_sum_e6").cast("double") / F.col("n") / 1000000.0, 6
            ).alias("mean_pred"),
            F.round(F.col("pos").cast("double") / F.col("n"), 6).alias(
                "frac_pos"
            ),
            F.floor(
                F.abs(
                    F.col("p_sum_e6").cast("double") / 1000000.0
                    - F.col("pos").cast("double")
                )
                / F.col("n")
                * 1000000.0
                * F.col("n")
                / F.col("n_total")
            )
            .cast("bigint")
            .alias("ece_contrib_ppm"),
        )
        .orderBy("bin")
    )


# -- exact AUC-ROC via Mann-Whitney rank sums ----------------------------------

_ORACLE_AUC = """
WITH scored AS (
  SELECT label % 2 AS y,
         -- same deterministic pseudo-probability as the calibration query
         CAST(round((0.7 * (label % 2)
               + 0.3 * (('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                        ::BIGINT % 1000) / 999.0) * 1000000, 0) AS BIGINT)
           AS s_e6
  FROM embeddings
),
per_score AS (
  SELECT s_e6, COUNT(*) AS cnt, CAST(SUM(y) AS BIGINT) AS pos
  FROM scored GROUP BY s_e6
),
ranked AS (
  SELECT s_e6, cnt, pos,
         COALESCE(SUM(cnt) OVER (ORDER BY s_e6
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM per_score
),
agg AS (
  SELECT CAST(SUM(pos * (2 * cum_before + cnt + 1)) AS BIGINT) AS r1_half,
         CAST(SUM(pos) AS BIGINT) AS n1,
         CAST(SUM(cnt - pos) AS BIGINT) AS n0
  FROM ranked
)
SELECT n1, n0,
       round(CAST(r1_half - n1 * (n1 + 1) AS DOUBLE)
             / (2.0 * n1 * n0), 6) AS auc
FROM agg
"""


@register(
    "ml_auc_roc_exact",
    oracle=_ORACLE_AUC,
    tags=("ml", "eval"),
    doc=(
        "EXACT AUC-ROC via the Mann-Whitney rank-sum identity, with "
        "ties handled by average ranks kept in integer HALF-units: "
        "scores fixed-point to 1e-6, per-score (count, positives) is "
        "one hash aggregate, cumulative ranks one window over the "
        "DISTINCT-SCORE table (bounded by score resolution, not row "
        "count), and AUC = (R1_half - n1(n1+1)) / (2 n1 n0) is a single "
        "division of exact BIGINTs — no sampling, no trapezoid "
        "approximation, bit-reproducible at any scale. Completes the "
        "eval suite next to precision/recall/F1 and calibration ECE."
    ),
)
def ml_auc_roc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    pin_query_session_conf(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    noise = (
        md5_u32(F.col("vec_id").cast("string"))
        % 1000
    ) / F.lit(999.0)
    scored = emb.select(
        (F.col("label") % 2).alias("y"),
        F.round(
            (F.lit(0.7) * (F.col("label") % 2) + F.lit(0.3) * noise)
            * 1000000,
            0,
        )
        .cast("bigint")
        .alias("s_e6"),
    )
    per_score = scored.groupBy("s_e6").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").cast("bigint").alias("pos")
    )
    w = Window.orderBy("s_e6").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_score.withColumn(
        "cum_before", F.coalesce(F.sum("cnt").over(w), F.lit(0))
    )
    agg = ranked.agg(
        F.sum(
            F.col("pos") * (2 * F.col("cum_before") + F.col("cnt") + 1)
        )
        .cast("bigint")
        .alias("r1_half"),
        F.sum("pos").cast("bigint").alias("n1"),
        F.sum(F.col("cnt") - F.col("pos")).cast("bigint").alias("n0"),
    )
    return agg.select(
        "n1",
        "n0",
        F.round(
            (F.col("r1_half") - F.col("n1") * (F.col("n1") + 1)).cast("double")
            / (F.lit(2.0) * F.col("n1") * F.col("n0")),
            6,
        ).alias("auc"),
    )


# -- distribution drift: PSI + exact two-sample KS ------------------------------

_ORACLE_PSI = """
WITH halves AS (
  SELECT CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'ref' ELSE 'cur' END
           AS half,
         least(CAST(floor(value / 5.0) AS INTEGER), 9) AS bin
  FROM events
),
c AS (
  SELECT bin,
         CAST(SUM(CASE WHEN half = 'ref' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_ref,
         CAST(SUM(CASE WHEN half = 'cur' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_cur
  FROM halves GROUP BY bin
),
t AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS tr,
             CAST(SUM(n_cur) AS BIGINT) AS tc FROM c)
SELECT bin, n_ref, n_cur,
       round(((n_cur + 0.5) / (t.tc + 5.0) - (n_ref + 0.5) / (t.tr + 5.0))
             * ln(((n_cur + 0.5) / (t.tc + 5.0))
                  / ((n_ref + 0.5) / (t.tr + 5.0))), 8) AS psi_term
FROM c, t ORDER BY bin
"""


@register(
    "ml_psi_drift_report",
    oracle=_ORACLE_PSI,
    tags=("ml", "dq", "eval"),
    doc=(
        "Population Stability Index between the first and second half "
        "of the month over binned event values — the drift monitor "
        "production scoring pipelines run per batch (PSI > 0.2 = "
        "investigate): per-bin (actual% - expected%) * ln(actual%/"
        "expected%), smoothed +0.5/bin so empty bins stay finite. One "
        "conditional count aggregate over 10 fixed-width bins + one "
        "scalar totals broadcast; the per-bin float term is a single "
        "expression over exact integers (sum the terms downstream for "
        "the headline PSI). Same integer-division discipline as the "
        "rest of the registry: the bin id comes from floor()."
    ),
)
def ml_psi_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    halves = ev.select(
        F.when(
            F.col("ts") < F.lit("2024-01-16").cast("timestamp"), "ref"
        )
        .otherwise("cur")
        .alias("half"),
        F.least(
            F.floor(F.col("value") / 5.0).cast("int"), F.lit(9)
        ).alias("bin"),
    )
    c = halves.groupBy("bin").agg(
        F.sum(F.when(F.col("half") == "ref", 1).otherwise(0))
        .cast("bigint")
        .alias("n_ref"),
        F.sum(F.when(F.col("half") == "cur", 1).otherwise(0))
        .cast("bigint")
        .alias("n_cur"),
    )
    t = c.agg(
        F.sum("n_ref").cast("bigint").alias("tr"),
        F.sum("n_cur").cast("bigint").alias("tc"),
    )
    cur_p = (F.col("n_cur") + 0.5) / (F.col("tc") + 5.0)
    ref_p = (F.col("n_ref") + 0.5) / (F.col("tr") + 5.0)
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "bin",
            "n_ref",
            "n_cur",
            F.round((cur_p - ref_p) * F.log(cur_p / ref_p), 8).alias(
                "psi_term"
            ),
        )
        .orderBy("bin")
    )


_ORACLE_KS = """
WITH vals AS (
  SELECT CAST(round(CAST(value AS DECIMAL(18,4)) * 100, 0) AS BIGINT) AS v,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a
  FROM events
  -- value-less events have no place in an ECDF; without this filter the
  -- NULL group's position differs across engines (Spark sorts NULLs
  -- first ASC, DuckDB last), silently shifting D (r9 extreme fixture)
  WHERE event_type IN ('click', 'view') AND value IS NOT NULL
),
per_v AS (
  SELECT v,
         CAST(SUM(is_a) AS BIGINT) AS ca,
         CAST(SUM(1 - is_a) AS BIGINT) AS cb
  FROM vals GROUP BY v
),
t AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
             CAST(SUM(cb) AS BIGINT) AS nb FROM per_v),
cume AS (
  SELECT v,
         SUM(ca) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
         SUM(cb) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b
  FROM per_v
)
-- D = max |ECDF_a - ECDF_b| kept EXACT: |cum_a*nb - cum_b*na| / (na*nb)
SELECT t.na, t.nb,
       CAST(MAX(abs(cum_a * t.nb - cum_b * t.na)) AS BIGINT) AS d_num,
       CAST(t.na * t.nb AS BIGINT) AS d_den,
       round(CAST(MAX(abs(cum_a * t.nb - cum_b * t.na)) AS DOUBLE)
             / (CAST(t.na AS DOUBLE) * t.nb), 6) AS ks_d
FROM cume, t GROUP BY t.na, t.nb
"""


@register(
    "ml_ks_two_sample_exact",
    oracle=_ORACLE_KS,
    tags=("ml", "stats", "eval"),
    doc=(
        "EXACT two-sample Kolmogorov-Smirnov statistic between click and "
        "view value distributions: D = max |ECDF_a - ECDF_b| carried as "
        "the exact integer fraction |cum_a*nb - cum_b*na| / (na*nb) — "
        "no float ECDFs, so the supremum is bit-reproducible (values "
        "fixed-pointed to cents first, ties merged at the distinct-value "
        "grain like the AUC rank path). One value-grain aggregate, "
        "cumulative window over the bounded distinct-value table, one "
        "max. The drift TEST companion to ml_psi_drift_report's "
        "monitoring index."
    ),
)
def ml_ks_two_sample_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    pin_query_session_conf(spark)
    from ..functions.safe_math import dec

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "view")
        & F.col("value").isNotNull()  # NULLs shift the ECDF cross-engine
    )
    vals = ev.select(
        F.round(dec("value") * 100, 0).cast("bigint").alias("v"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("is_a"),
    )
    per_v = vals.groupBy("v").agg(
        F.sum("is_a").cast("bigint").alias("ca"),
        F.sum(F.lit(1) - F.col("is_a")).cast("bigint").alias("cb"),
    )
    t = per_v.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cume = per_v.select(
        "v",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
    )
    return (
        cume.crossJoin(F.broadcast(t))
        .groupBy("na", "nb")
        .agg(
            F.max(
                F.abs(
                    F.col("cum_a") * F.col("nb") - F.col("cum_b") * F.col("na")
                )
            )
            .cast("bigint")
            .alias("d_num"),
            (F.first("na") * F.first("nb")).cast("bigint").alias("d_den"),
            F.round(
                F.max(
                    F.abs(
                        F.col("cum_a") * F.col("nb")
                        - F.col("cum_b") * F.col("na")
                    )
                ).cast("double")
                / (F.first("na").cast("double") * F.first("nb")),
                6,
            ).alias("ks_d"),
        )
    )


# -- cumulative gains / lift table ---------------------------------------------

_ORACLE_GAINS = """
WITH scored AS (
  SELECT label % 2 AS y,
         CAST(round((0.7 * (label % 2)
               + 0.3 * (('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                        ::BIGINT % 1000) / 999.0) * 1000000, 0) AS BIGINT)
           AS s_e6,
         vec_id
  FROM embeddings
),
ranked AS (
  SELECT y, NTILE(10) OVER (ORDER BY s_e6 DESC, vec_id) AS decile
  FROM scored
),
d AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS pos
  FROM ranked GROUP BY decile
),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(pos) AS BIGINT) AS pt
      FROM d),
c AS (
  SELECT decile, n, pos,
         SUM(pos) OVER (ORDER BY decile
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
         SUM(n) OVER (ORDER BY decile
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
  FROM d
)
SELECT c.decile, c.n, c.pos,
       CAST(floor(1000000.0 * c.cum_pos / t.pt) AS BIGINT) AS gain_ppm,
       CAST(floor(1000000.0 * c.cum_pos * t.nt
                  / (CAST(c.cum_n AS DOUBLE) * t.pt)) AS BIGINT)
         AS lift_ppm
FROM c, t ORDER BY c.decile
"""


@register(
    "ml_gains_lift_table",
    oracle=_ORACLE_GAINS,
    tags=("ml", "eval", "scale-audit-only"),
    doc=(
        "Cumulative gains / lift table by score decile: what share of "
        "all positives the top-k% of scores captures (gain) and how "
        "much better than random that is (lift) — the targeting readout "
        "next to AUC/calibration (same deterministic md5-blend scores). "
        "Floored ppm over exact integers throughout. Tagged "
        "scale-audit-only for the same reason as the exact equi-depth "
        "histogram: NTILE over the full scored population is a total "
        "order by contract — the 100 TB swap is percentile_approx "
        "decile thresholds + a value-bucket join "
        "(agg_histogram_equidepth_approx's pattern)."
    ),
)
def ml_gains_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

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
        "vec_id",
    )
    ranked = scored.select(
        "y",
        F.ntile(10)
        .over(Window.orderBy(F.desc("s_e6"), "vec_id"))
        .alias("decile"),
    )
    d = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    t = d.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("pos").cast("bigint").alias("pt"),
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = d.select(
        "decile",
        "n",
        "pos",
        F.sum("pos").over(w).alias("cum_pos"),
        F.sum("n").over(w).alias("cum_n"),
    )
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "decile",
            "n",
            "pos",
            F.floor(F.lit(1000000.0) * F.col("cum_pos") / F.col("pt"))
            .cast("bigint")
            .alias("gain_ppm"),
            F.floor(
                F.lit(1000000.0) * F.col("cum_pos") * F.col("nt")
                / (F.col("cum_n").cast("double") * F.col("pt"))
            )
            .cast("bigint")
            .alias("lift_ppm"),
        )
        .orderBy("decile")
    )


_GAINS_ACC = 10_000_000  # GK accuracy: exact at test SFs, mergeable at scale

_ORACLE_GAINS_APPROX = """
WITH scored AS (
  SELECT label % 2 AS y,
         CAST(round((0.7 * (label % 2)
               + 0.3 * (('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                        ::BIGINT % 1000) / 999.0) * 1000000, 0) AS BIGINT)
           AS s_e6
  FROM embeddings
),
th AS (
  SELECT quantile_disc(s_e6,
           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS t
  FROM scored
),
b AS (
  SELECT y,
         10 - ((s_e6 > t[1])::INT + (s_e6 > t[2])::INT + (s_e6 > t[3])::INT
             + (s_e6 > t[4])::INT + (s_e6 > t[5])::INT + (s_e6 > t[6])::INT
             + (s_e6 > t[7])::INT + (s_e6 > t[8])::INT + (s_e6 > t[9])::INT)
           AS decile
  FROM scored, th
),
d AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos
  FROM b GROUP BY decile
),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(pos) AS BIGINT) AS pt
      FROM d),
c AS (
  SELECT decile, n, pos,
         SUM(pos) OVER (ORDER BY decile
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
         SUM(n) OVER (ORDER BY decile
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
  FROM d
)
SELECT c.decile, c.n, c.pos,
       CAST(floor(1000000.0 * c.cum_pos / t.pt) AS BIGINT) AS gain_ppm,
       CAST(floor(1000000.0 * c.cum_pos * t.nt
                  / (CAST(c.cum_n AS DOUBLE) * t.pt)) AS BIGINT)
         AS lift_ppm
FROM c, t ORDER BY c.decile
"""


@register(
    "ml_gains_lift_table_approx",
    oracle=_ORACLE_GAINS_APPROX,
    tags=("ml", "eval", "approx", "scale-path"),
    doc=(
        "Scale-path gains/lift (r8 verdict item 5): decile boundaries "
        "from ONE percentile_approx threshold vector (GK sketch, "
        "mergeable map-side; exact at test SFs at accuracy 1e7, matched "
        "by DuckDB quantile_disc — the events_rfm_segments_approx "
        "contract), broadcast back for a value-based decile assignment "
        "(decile 1 = scores above the 90th percentile), then the "
        "cumulative window runs over the 10-row decile table only.  No "
        "global NTILE sort anywhere — this is the plan that survives "
        "100 TB; the exact rank form (ml_gains_lift_table) stays as the "
        "calibration baseline.  Bucket populations deviate from exact "
        "tenths only by tie mass at the thresholds."
    ),
)
def ml_gains_lift_table_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

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
    qs = [i / 10 for i in range(1, 10)]
    th = scored.agg(F.percentile_approx("s_e6", qs, _GAINS_ACC).alias("t"))
    above = F.lit(0)
    for i in range(9):
        above = above + (F.col("s_e6") > F.col("t")[i]).cast("int")
    d = (
        scored.crossJoin(F.broadcast(th))
        .select("y", (F.lit(10) - above).alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("pos"),
        )
    )
    t = d.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("pos").cast("bigint").alias("pt"),
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = d.select(
        "decile",
        "n",
        "pos",
        F.sum("pos").over(w).alias("cum_pos"),
        F.sum("n").over(w).alias("cum_n"),
    )
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "decile",
            "n",
            "pos",
            F.floor(F.lit(1000000.0) * F.col("cum_pos") / F.col("pt"))
            .cast("bigint")
            .alias("gain_ppm"),
            F.floor(
                F.lit(1000000.0) * F.col("cum_pos") * F.col("nt")
                / (F.col("cum_n").cast("double") * F.col("pt"))
            )
            .cast("bigint")
            .alias("lift_ppm"),
        )
        .orderBy("decile")
    )


# -- isotonic calibration (PAVA) ------------------------------------------------

_ORACLE_ISOTONIC = """
WITH scored AS (
  SELECT label % 2 AS y,
         -- wider noise blend than the reliability query (0.4/0.6): the
         -- label bands OVERLAP on [0.4, 0.6], so mixed bins produce real
         -- monotonicity violators and PAVA actually pools
         round(0.4 * (label % 2)
               + 0.6 * (('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                        ::BIGINT % 1000) / 999.0, 6) AS p
  FROM embeddings
),
b AS (
  SELECT least(CAST(floor(p * 50) AS INTEGER), 49) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS pos
  FROM scored GROUP BY 1
),
pre AS (
  SELECT bin, n, pos,
         CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
         CAST(SUM(pos) OVER (ORDER BY bin) AS BIGINT) AS cp
  FROM b
),
-- the L2 isotonic fit has a closed minimax form (Barlow et al. 1972):
-- iso_i = max_{j<=i} min_{k>=i} mean(y_{j..k}); each candidate mean is ONE
-- correctly-rounded division of exact integer prefix-sum differences, so
-- the doubles (and their max/min ordering) match PAVA's pooled-block
-- averages bit-for-bit
pair AS (
  SELECT j.bin AS jb, k.bin AS kb,
         CAST(k.cp - (j.cp - j.pos) AS DOUBLE)
           / CAST(k.cn - (j.cn - j.n) AS DOUBLE) AS block_avg
  FROM pre j JOIN pre k ON j.bin <= k.bin
),
mins AS (
  SELECT i.bin AS bin, p.jb, MIN(p.block_avg) AS mn
  FROM b i JOIN pair p ON p.jb <= i.bin AND p.kb >= i.bin
  GROUP BY i.bin, p.jb
),
iso AS (SELECT bin, MAX(mn) AS iso_rate FROM mins GROUP BY bin)
SELECT b.bin, b.n, CAST(b.pos AS DOUBLE) / b.n AS frac_pos, iso.iso_rate
FROM b JOIN iso USING (bin)
ORDER BY bin
"""


@register(
    "ml_isotonic_calibration",
    oracle=_ORACLE_ISOTONIC,
    tags=("ml", "eval", "calibration"),
    doc=(
        "Isotonic-regression calibration map (pool-adjacent-violators) "
        "over 50 score bins — the standard non-parametric recalibration "
        "fitted on classifier/LLM-judge scores before thresholding "
        "(complements ml_calibration_reliability's diagnostic). "
        "Distributed part: one hash aggregate into <= 50 (bin, n, pos) "
        "cells; PAVA then runs on that bounded state driver-side with "
        "INTEGER accumulators (violation test by cross-multiplication, "
        "never float compare), so every fitted value is one correctly-"
        "rounded integer division. Oracle: the closed minimax form "
        "iso_i = max_{j<=i} min_{k>=i} mean(y_j..k) over integer prefix "
        "sums — provably equal to PAVA, and bit-equal in double because "
        "IEEE division is correctly rounded and max/min are monotone. "
        "Same md5-noise score fixture as the reliability query."
    ),
)
def ml_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    noise = (
        md5_u32(F.col("vec_id").cast("string"))
        % 1000
    ) / F.lit(999.0)
    scored = emb.select(
        (F.col("label") % 2).alias("y"),
        F.round(F.lit(0.4) * (F.col("label") % 2) + F.lit(0.6) * noise, 6)
        .alias("p"),
    )
    binned = (
        scored.groupBy(
            F.least(F.floor(F.col("p") * 50).cast("int"), F.lit(49)).alias(
                "bin"
            )
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("pos"),
        )
        .orderBy("bin")
    )
    rows = binned.collect()  # <= 50 rows: the bounded-state contract

    # weighted PAVA, integer accumulators: pool while prev block average >
    # current block average (cross-multiplied, exact)
    blocks: list[list] = []  # [pos, n, [bins...]]
    for r in rows:
        blocks.append([int(r["pos"]), int(r["n"]), [(int(r["bin"]), int(r["n"]), int(r["pos"]))]])
        while (
            len(blocks) > 1
            and blocks[-2][0] * blocks[-1][1] > blocks[-1][0] * blocks[-2][1]
        ):
            p2, n2, b2 = blocks.pop()
            p1, n1, b1 = blocks.pop()
            blocks.append([p1 + p2, n1 + n2, b1 + b2])

    out = []
    for pos, n, members in blocks:
        iso = float(pos) / float(n)
        for bin_id, bn, bpos in members:
            out.append((bin_id, bn, float(bpos) / float(bn), iso))
    out.sort()
    return spark.createDataFrame(
        out, "bin int, n bigint, frac_pos double, iso_rate double"
    )


# -- Poisson bootstrap confidence intervals ------------------------------------

#: Poisson(1) CDF thresholds for inverse-CDF sampling (repr'd doubles so
#: the Spark literal and the SQL CAST parse to the same binary64).
_POIS_CDF = (
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238463",
    "0.9963401531726563",
    "0.9994058151824183",
    "0.999916758850712",
    "0.9999897508033253",
)
_BOOT_REPS = 200
#: md5 digests are 128 bits = four independent 32-bit uniforms; hashing
#: once per GROUP of 4 replicates quarters the digest count — the probe
#: showed the md5 chain dominating the whole query (SCALE_PROBE_r07).
_BOOT_GRPS = _BOOT_REPS // 4
_BOOT_SPACE32 = "4294967296.0"  # 2^32, exact in double


def _pois_case(u: str) -> str:
    """CASE chain mapping a uniform in [0,1) to a Poisson(1) draw (shared
    SQL shape for Spark's F.expr and DuckDB)."""
    whens = "\n".join(
        f"WHEN {u} < CAST({t} AS DOUBLE) THEN {k}"
        for k, t in enumerate(_POIS_CDF)
    )
    return f"(CASE {whens} ELSE 8 END)"


def _bootstrap_oracle() -> str:
    u = f"(CAST(h AS DOUBLE) / {_BOOT_SPACE32})"
    return f"""
WITH base AS (
  SELECT event_type, event_id,
         CAST(round(value * 1000000.0, 0) AS BIGINT) AS v_e6
  FROM events WHERE value IS NOT NULL
),
fan AS (
  SELECT event_type, v_e6, g.grp,
         md5(CAST(event_id * {_BOOT_GRPS} + g.grp AS VARCHAR)) AS dg
  FROM base, range(0, {_BOOT_GRPS}) g(grp)
),
lanes AS (
  SELECT event_type, v_e6, grp * 4 + k.k AS rep,
         ('0x' || substr(dg, 1 + 8 * k.k, 8))::BIGINT AS h
  FROM fan, range(0, 4) k(k)
),
weighted AS (
  SELECT event_type, rep, {_pois_case(u)} AS w, v_e6 FROM lanes
),
reps AS (
  SELECT event_type, rep,
         CAST(SUM(CAST(w AS BIGINT) * v_e6) AS BIGINT) AS swv,
         CAST(SUM(CAST(w AS BIGINT)) AS BIGINT) AS sw
  FROM weighted GROUP BY event_type, rep
),
means AS (
  SELECT event_type,
         CAST(swv AS DOUBLE) / CAST(sw AS DOUBLE) / 1000000.0 AS m,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY CAST(swv AS DOUBLE) / CAST(sw AS DOUBLE)
                                     / 1000000.0, rep) AS r
  FROM reps
),
obs AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v_e6) AS BIGINT) AS sv
  FROM base GROUP BY event_type
)
SELECT o.event_type, o.n,
       CAST(o.sv AS DOUBLE) / CAST(o.n AS DOUBLE) / 1000000.0 AS mean_obs,
       lo.m AS ci_lo, hi.m AS ci_hi
FROM obs o
JOIN means lo ON lo.event_type = o.event_type AND lo.r = 6
JOIN means hi ON hi.event_type = o.event_type AND hi.r = 195
ORDER BY o.event_type
"""


@register(
    "ml_bootstrap_ci_poisson",
    oracle=_bootstrap_oracle(),
    tags=("ml", "eval", "sampling", "scale"),
    doc=(
        "Distributed 95% bootstrap confidence interval for the per-type "
        "mean metric via POISSON(1) resampling — the shuffle-free "
        "bootstrap used at cluster scale (Chamandy et al. 2012, 'Estimating "
        "uncertainty for massive data streams'; the trick behind bag-of-"
        "little-bootstraps): instead of materializing B resamples, each "
        "row gets a deterministic Poisson(1) weight per replicate "
        "(inverse-CDF on md5 fixed-point uniforms, four 32-bit lanes per "
        "digest so the hash count is reps/4 per row), so the whole thing "
        "is ONE scan fanned x200 with map-side combine into types x reps "
        "cells — no resampling shuffle, no driver loop. Values are "
        "fixed-pointed to 1e-6 so per-replicate sums are exact integers "
        "(order-free); CI bounds are the 6th/195th order statistics of "
        "the 200 replicate means (2.5%/97.5%). Exactly reproducible in "
        "SQL — a seeded-RNG bootstrap could only ever be rows-only."
    ),
)
def ml_bootstrap_ci_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    base = ev.select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 1000000.0, 0).cast("bigint").alias("v_e6"),
    )
    # the x200 fan-out is md5-CPU-bound: byte-based input splits undersize
    # it (x16 probe: 1.6M events arrived as 9 partitions), so spread the
    # narrow base across the cluster's parallelism before exploding
    base = base.repartition(spark.sparkContext.defaultParallelism)
    # one digest per 4-replicate lane group: md5 is the dominant cost
    # (SCALE_PROBE_r07), and its 128 bits carry four 32-bit uniforms
    fan = base.withColumn(
        "grp", F.explode(F.sequence(F.lit(0), F.lit(_BOOT_GRPS - 1)))
    ).withColumn(
        "dg",
        F.md5(
            (F.col("event_id") * _BOOT_GRPS + F.col("grp")).cast("string")
        ),
    )
    lanes = fan.withColumn("k", F.explode(F.sequence(F.lit(0), F.lit(3)))).select(
        "event_type",
        "v_e6",
        (F.col("grp") * 4 + F.col("k")).alias("rep"),
        F.conv(
            F.substring("dg", F.lit(1) + F.col("k") * 8, 8), 16, 10
        ).cast("long").alias("h"),
    )
    u = f"(CAST(h AS DOUBLE) / {_BOOT_SPACE32})"
    weighted = lanes.withColumn("w", F.expr(_pois_case(u)).cast("long"))
    reps = weighted.groupBy("event_type", "rep").agg(
        F.sum(F.col("w") * F.col("v_e6")).cast("bigint").alias("swv"),
        F.sum("w").cast("bigint").alias("sw"),
    )
    m = F.col("swv").cast("double") / F.col("sw").cast("double") / F.lit(
        1000000.0
    )
    means = reps.select(
        "event_type",
        m.alias("m"),
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy(m, F.col("rep")))
        .alias("r"),
    )
    obs = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v_e6").cast("bigint").alias("sv"),
    )
    lo = means.where(F.col("r") == 6).select(
        "event_type", F.col("m").alias("ci_lo")
    )
    hi = means.where(F.col("r") == 195).select(
        "event_type", F.col("m").alias("ci_hi")
    )
    return (
        obs.select(
            "event_type",
            "n",
            (
                F.col("sv").cast("double") / F.col("n").cast("double")
                / F.lit(1000000.0)
            ).alias("mean_obs"),
        )
        .join(lo, "event_type")
        .join(hi, "event_type")
        .orderBy("event_type")
    )


# -- retrieval eval: nDCG@k ------------------------------------------------------

_NDCG_K = 10
#: rank discounts floor(1e9 / log2(r+1)) precomputed in Python: neither
#: engine evaluates a log, so there is no cross-engine libm ULP exposure;
#: DCG/IDCG stay exact BIGINT sums.
_NDCG_DISC = tuple(
    int(1e9 // __import__("math").log2(r + 1)) for r in range(1, _NDCG_K + 1)
)
_NDCG_CUM = tuple(
    sum(_NDCG_DISC[: m + 1]) for m in range(_NDCG_K)
)
_NDCG_QUERIES = 5  # vec_id 0..4


def _ndcg_disc_case(rank: str) -> str:
    whens = "\n".join(
        f"WHEN {r + 1} THEN {d}" for r, d in enumerate(_NDCG_DISC)
    )
    return f"(CASE {rank} {whens} END)"


def _ndcg_cum_case(m: str) -> str:
    whens = "\n".join(
        f"WHEN {r + 1} THEN {c}" for r, c in enumerate(_NDCG_CUM)
    )
    return f"(CASE {m} {whens} END)"


def _ndcg_oracle() -> str:
    return f"""
WITH q AS MATERIALIZED (
  SELECT vec_id AS qid, label AS qlabel,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id < {_NDCG_QUERIES}
),
c AS MATERIALIZED (
  SELECT vec_id AS did, label AS dlabel,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
  FROM embeddings
),
scored AS (
  SELECT q.qid, q.qlabel, c.did, c.dlabel,
         round(list_dot_product(q.qv, c.dv)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(c.dv, c.dv))), 6) AS cos
  FROM q, c WHERE q.qid <> c.did
),
ranked AS (
  SELECT qid, qlabel, dlabel,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cos DESC, did) AS r
  FROM scored
),
dcg AS (
  SELECT qid, qlabel,
         CAST(SUM(CASE WHEN dlabel = qlabel
                       THEN {_ndcg_disc_case("r")} ELSE 0 END) AS BIGINT)
           AS dcg_e9,
         CAST(SUM(CASE WHEN dlabel = qlabel THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rel_topk
  FROM ranked WHERE r <= {_NDCG_K} GROUP BY qid, qlabel
),
pool AS (
  SELECT q.qid,
         CAST(least({_NDCG_K},
                    (SELECT COUNT(*) FROM embeddings e
                     WHERE e.label = q.qlabel
                       AND e.vec_id <> q.qid)) AS BIGINT) AS m
  FROM q
)
SELECT d.qid AS query_id, d.n_rel_topk, d.dcg_e9,
       CAST(d.dcg_e9 AS DOUBLE)
         / CAST({_ndcg_cum_case("CAST(p.m AS INTEGER)")} AS DOUBLE)
         AS ndcg
FROM dcg d JOIN pool p ON p.qid = d.qid
ORDER BY query_id
"""


@register(
    "ml_eval_ndcg",
    oracle=_ndcg_oracle(),
    tags=("ml", "eval", "retrieval"),
    doc=(
        "nDCG@10 retrieval evaluation over 5 pinned query vectors: rank "
        "all candidates by 6dp-rounded cosine (ties to lowest id), binary "
        "relevance = same label, DCG with the standard 1/log2(r+1) "
        "discounts and IDCG normalized to the true relevant-pool size. "
        "The rank discounts are PRECOMPUTED integer constants (floor of "
        "1e9/log2) baked into both engines' expressions, so no libm log "
        "crosses the oracle and DCG/IDCG remain exact BIGINT sums — the "
        "standard trick for reproducible ranking metrics. Plan: broadcast "
        "query side, one codegen cosine projection, per-query top-k "
        "window on the depth-bounded candidate set."
    ),
)
def ml_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    pin_query_session_conf(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    to_d = "transform(embedding, x -> CAST(x AS DOUBLE))"
    dot = (
        "aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    q = emb.where(F.col("vec_id") < _NDCG_QUERIES).select(
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
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("qid") != F.col("did"))
        .select("qid", "qlabel", "did", "dlabel", cos.alias("cos"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("did"))
    ranked = scored.select(
        "qid", "qlabel", "dlabel", F.row_number().over(w).alias("r")
    ).where(F.col("r") <= _NDCG_K)
    rel = F.when(F.col("dlabel") == F.col("qlabel"), 1).otherwise(0)
    dcg = ranked.groupBy("qid", "qlabel").agg(
        F.sum(
            F.when(
                F.col("dlabel") == F.col("qlabel"),
                F.expr(_ndcg_disc_case("r")),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("dcg_e9"),
        F.sum(rel).cast("bigint").alias("n_rel_topk"),
    )
    pool = (
        q.alias("q")
        .join(
            emb.select(
                F.col("label").alias("plabel"), F.col("vec_id").alias("pid")
            ),
            (F.col("plabel") == F.col("qlabel"))
            & (F.col("pid") != F.col("qid")),
        )
        .groupBy("qid")
        .agg(
            F.least(F.lit(_NDCG_K), F.count(F.lit(1)))
            .cast("bigint")
            .alias("m")
        )
    )
    # LEFT join + m>0 guard (ADVICE r7 item 3): a pinned query whose label
    # has no other members must keep its row with NULL ndcg — the inner
    # join dropped it while the DuckDB oracle (whose CASE has no arm for
    # m=0) kept it.  Not triggerable by current fixtures, but a latent
    # row-count parity break on real data.
    return (
        dcg.join(pool, "qid", "left")
        .select(
            F.col("qid").alias("query_id"),
            "n_rel_topk",
            "dcg_e9",
            F.when(
                F.col("m") > 0,
                F.col("dcg_e9").cast("double")
                / F.expr(
                    _ndcg_cum_case("CAST(m AS INT)")
                ).cast("double"),
            ).alias("ndcg"),
        )
        .orderBy("query_id")
    )
