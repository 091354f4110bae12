"""Mergeable distinct-count sketches: KMV (k minimum values / bottom-k).

The KMV sketch keeps the k smallest values of a uniform hash of the set's
elements; the k-th smallest order statistic U_(k) of n uniform draws on
[0, 1) concentrates at k/(n+1), so D-hat = (k-1)/U_(k) is the classic
unbiased distinct-count estimator (Bar-Yossef et al. 2002, "Counting
distinct elements in a data stream").

Why this shape at 100 TB:
- the sketch is a BOTTOM-K: Spark computes it as per-partition bottom-k
  followed by a k-row merge (exactly the TakeOrderedAndProject physical
  plan), so the full-table pass is one map-side scan and the merged state
  is k rows, never the distinct set itself;
- sketches MERGE: union(A, B) = bottom-k of the concatenated sketches,
  which is how per-partition / per-day sketches roll up without rescanning
  history (the property HLL is usually bought for — KMV adds exact-SQL
  reproducibility because the state is just hash values);
- set operations come from the same state: with K = bottom-k of A union B,
  rho = |K that appear in both A and B| / k estimates the Jaccard of the
  union, so |A intersect B| ~= rho * D-hat(A union B) (the KMV
  intersection estimator).

Hashing is md5-prefix fixed-point (deterministic across engines — same
trick as the md5 hash family, operators/text.py: md5_u32), so every
number here is bit-reproducible in DuckDB SQL: these sketches are
oracle-checkable EXACTLY, unlike approx_count_distinct's opaque HLL state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: Hash domain: 15 hex chars = 60 bits, exact in BIGINT and DOUBLE.
HASH_SPACE = float(16**15)


def kmv_hash(col: Column | str) -> Column:
    """Uniform 60-bit fixed-point hash: ('0x'||substr(md5(x),1,15))::BIGINT
    in DuckDB; F.conv here. 60 bits keeps the value exact in both engines'
    integer AND double arithmetic (doubles hold 53 bits of mantissa, but
    the ESTIMATE divides two exact integers, which is fine)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast(
        "long"
    )


def kmv_sketch(df: DataFrame, col: str, k: int) -> DataFrame:
    """The sketch: k smallest DISTINCT hash values of ``df[col]``.

    Plan shape: hash project -> hash-distinct (map-side partial) ->
    TakeOrderedAndProject(k) — per-partition bottom-k, k-row driver merge.
    Returns a DataFrame with a single ``h`` column (k rows)."""
    return (
        df.select(kmv_hash(col).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )


def kmv_estimate(kth_hash: Column, k: int) -> Column:
    """D-hat = (k-1) / U_(k) with U_(k) = kth_hash / HASH_SPACE."""
    return F.lit(float(k - 1)) * F.lit(HASH_SPACE) / kth_hash.cast("double")


def kmv_distinct(df: DataFrame, col: str, k: int) -> DataFrame:
    """One-row summary: (k, kth_hash, est_distinct, exact_distinct).

    ``exact_distinct`` is included for calibration at fixture scale; at
    100 TB you keep only the sketch. Falls back to the exact count when
    the table has fewer than k distinct values (the sketch IS the set)."""
    sk = kmv_sketch(df, col, k).agg(
        F.max("h").alias("kth_hash"), F.count("h").alias("n_in_sketch")
    )
    exact = df.select(col).distinct().count()
    return (
        sk.select(
            F.lit(k).alias("k"),
            "kth_hash",
            F.when(
                F.col("n_in_sketch") < k, F.col("n_in_sketch").cast("double")
            )
            .otherwise(F.round(kmv_estimate(F.col("kth_hash"), k), 4))
            .alias("est_distinct"),
        )
        .withColumn("exact_distinct", F.lit(exact).cast("long"))
    )


def kmv_set_ops(
    left: DataFrame, right: DataFrame, col: str, k: int
) -> DataFrame:
    """Union / intersection estimates from two KMV sketches (one row).

    union sketch = bottom-k of the two sketches' union (re-take-k: the
    merge rule that makes KMV associative across partitions and days);
    rho = fraction of the union sketch's hashes present in BOTH input
    sketches estimates Jaccard; intersection = rho * D-hat(union).
    """
    a = kmv_sketch(left, col, k)
    b = kmv_sketch(right, col, k)
    u = a.unionByName(b).distinct().orderBy("h").limit(k)
    both = a.intersect(b)  # hash values seen in both sketches
    in_both = u.join(both, "h", "left_semi").count()
    stats = u.agg(
        F.max("h").alias("kth_hash"), F.count("h").alias("n_in_sketch")
    )
    est_union = (
        F.when(F.col("n_in_sketch") < k, F.col("n_in_sketch").cast("double"))
        .otherwise(F.round(kmv_estimate(F.col("kth_hash"), k), 4))
    )
    return stats.select(
        F.lit(k).alias("k"),
        "kth_hash",
        est_union.alias("est_union"),
        F.lit(in_both).cast("long").alias("sketch_overlap"),
        F.round(
            F.lit(float(in_both)) / F.col("n_in_sketch").cast("double")
            * est_union,
            4,
        ).alias("est_intersection"),
    )


# ---------------------------------------------------------------------------
# HyperLogLog (Flajolet et al. 2007) with cross-engine-exact registers.
# ---------------------------------------------------------------------------

#: Register count m = 2^P_BITS.  64 registers keeps the register table
#: trivially broadcastable (any group's state is <= 64 rows) while being the
#: real algorithm: alpha correction, small-range LinearCounting switch.
HLL_P_BITS = 6
HLL_M = 1 << HLL_P_BITS  # 64
#: alpha_64 from the HLL paper (m = 64 uses the tabulated 0.709; the
#: 0.7213/(1+1.079/m) formula is for m >= 128).
HLL_ALPHA = 0.709
_W_BITS = 60 - HLL_P_BITS  # 54 usable bits below the register index
_W_MASK = (1 << _W_BITS) - 1


def hll_rank_cols(col: Column | str) -> tuple[Column, Column]:
    """(register index, rank) for one element.

    Same md5 60-bit fixed-point hash as KMV, so DuckDB reproduces every
    register EXACTLY: idx is the top P_BITS, rank is the number of leading
    zeros of the remaining 54 bits plus one — computed as
    ``55 - length(bin(w))``, which both engines evaluate identically
    because bin() strips leading zeros in both (w = 0 -> rank 55).
    """
    h = kmv_hash(col)
    idx = F.shiftright(h, _W_BITS)
    w = h.bitwiseAND(F.lit(_W_MASK))
    rank = F.when(w == 0, F.lit(55)).otherwise(
        F.lit(55) - F.length(F.bin(w))
    ).cast("int")
    return idx.cast("int").alias("reg_idx"), rank.alias("rank")


def hll_registers(df: DataFrame, col: str, group_cols: list[str]) -> DataFrame:
    """The sketch: per (group, register) max rank.

    Plan shape at 100 TB: one scan, map-side partial MAX into at most
    |groups| x 64 cells — the classic mergeable-state aggregation.  No
    distinct, no shuffle of raw values; duplicates are absorbed by MAX.
    """
    idx, rank = hll_rank_cols(col)
    return (
        df.select(*group_cols, idx, rank)
        .groupBy(*group_cols, "reg_idx")
        .agg(F.max("rank").alias("max_rank"))
    )


def hll_estimate(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Estimate from register state; returns one row per group with the
    EXACT integer harmonic sum (the cross-engine invariant) beside the
    float estimate.

    ``sum_inv`` is sum(2^(55 - rank)) scaled by 2^55 so it stays an exact
    BIGINT (missing registers contribute the full 2^55): float summation
    of 2^-rank terms would be order-dependent past 53 bits of spread, an
    integer sum is associative.  raw = alpha * m^2 / (sum_inv / 2^55);
    LinearCounting (m * ln(m / V)) below the 2.5m small-range threshold
    when any register is empty, per the paper.
    """
    two55 = 1 << 55
    per_group = registers.groupBy(*group_cols).agg(
        (
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 55 - max_rank)"))
            + (F.lit(HLL_M) - F.count("*")) * F.lit(two55)
        ).alias("sum_inv"),
        (F.lit(HLL_M) - F.count("*")).cast("int").alias("n_zero"),
    )
    raw = (
        F.lit(HLL_ALPHA)
        * F.lit(float(HLL_M * HLL_M))
        * F.lit(float(two55))
        / F.col("sum_inv").cast("double")
    )
    linear = F.lit(float(HLL_M)) * F.log(
        F.lit(float(HLL_M)) / F.col("n_zero").cast("double")
    )
    est = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (F.col("n_zero") > 0), linear
    ).otherwise(raw)
    return per_group.select(
        *group_cols,
        "sum_inv",
        "n_zero",
        F.round(est, 6).alias("est_distinct"),
    )


def hll_merge(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge sketches across groups: element-wise register MAX — the
    associative rollup that lets per-day / per-partition sketches combine
    into any coarser scope without rescanning history."""
    return registers.groupBy(*group_cols, "reg_idx").agg(
        F.max("max_rank").alias("max_rank")
    )
