"""Spatial blocking, phonetic entity resolution, robust model fitting, and
storage-layout profiling (round 9b).

* ``join_geo_grid_knn`` — grid-bucketed nearest-neighbor join: the spatial
  sibling of ``join_spatial_grid_neighbors``.  Entities get deterministic
  integer micro-degree coordinates; candidate generation is a 3x3
  grid-cell equi-join (never all-pairs) and the argmin is a partitioned
  window.  Exact BIGINT squared-distance metric so both engines agree
  bit-for-bit.
* ``dedup_soundex_blocking`` — phonetic blocking for entity resolution:
  Spark's builtin ``soundex`` buckets the corpus vocabulary, and
  within-block Levenshtein<=2 pairs are counted — the classic
  blocking+verify ER pattern at vocabulary scale.  The DuckDB oracle
  re-implements American Soundex (the exact algorithm Spark uses:
  H/W transparent, vowels break duplicates, 4-char zero-padded) as a
  translate + per-digit run-collapse chain, because RE2 has no
  backreferences.
* ``ml_ransac_line_md5`` — deterministic RANSAC line fit over the daily
  revenue series: 64 md5-seeded candidate pairs, exact integer inlier
  test |dy*(x-xi) - dx*(y-yi)| <= eps*dx (cross-multiplied so no float
  enters the consensus count), best model by (inliers DESC, k ASC).
  The 50%-breakdown companion of ml_theil_sen_daily for gross outliers.
* ``layout_encoding_efficiency`` — storage-layout advisor: per-column
  run counts (neighbor equi-join on the contiguous event_id spine — an
  equi-join, NOT a global window, so it scales), distinct counts, and
  exact integer byte estimates for PLAIN / DICT / RLE encodings, with
  the winning encoding per column.  What a columnar writer's encoding
  chooser does, surfaced as a query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.text import md5_u32
from ..session import pin_query_session_conf
from .registry import register

# ---------------------------------------------------------------------------
# Grid-bucketed nearest-neighbor geo join
# ---------------------------------------------------------------------------

_ORACLE_GEO_KNN = """
WITH cust AS (
  SELECT c_custkey,
         (c_custkey * 48271) % 160000001 - 80000000 AS lat,
         (c_custkey * 69621) % 360000001 - 180000000 AS lon
  FROM customer
),
supp AS (
  SELECT s_suppkey,
         (s_suppkey * 40503) % 160000001 - 80000000 AS lat,
         (s_suppkey * 69069) % 360000001 - 180000000 AS lon
  FROM supplier
),
cgrid AS (
  SELECT *, (lat + 80000000) // 20000000 AS cx,
            (lon + 180000000) // 20000000 AS cy
  FROM cust
),
sgrid AS (
  SELECT *, (lat + 80000000) // 20000000 AS cx,
            (lon + 180000000) // 20000000 AS cy
  FROM supp
),
offs(dx, dy) AS (
  SELECT a.x - 1, b.x - 1 FROM range(0, 3) a(x), range(0, 3) b(x)
),
cand AS (
  SELECT c.c_custkey, s.s_suppkey,
         (c.lat - s.lat) * (c.lat - s.lat)
           + (c.lon - s.lon) * (c.lon - s.lon) AS d2
  FROM cgrid c
  JOIN offs o ON TRUE
  JOIN sgrid s ON s.cx = c.cx + o.dx AND s.cy = c.cy + o.dy
),
best AS (
  SELECT c_custkey, s_suppkey, d2
  FROM cand
  QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY d2, s_suppkey) = 1
)
SELECT c.c_custkey,
       b.s_suppkey AS nearest_suppkey,
       b.d2 AS d2_microdeg,
       b.s_suppkey IS NOT NULL AS matched
FROM cust c LEFT JOIN best b USING (c_custkey)
ORDER BY c_custkey
"""


@register(
    "join_geo_grid_knn",
    oracle=_ORACLE_GEO_KNN,
    tags=("join", "spatial", "scale"),
    doc=(
        "Grid-bucketed spatial nearest-neighbor join: customers and "
        "suppliers get deterministic integer micro-degree coordinates "
        "(pure-arithmetic functions of their keys), are bucketed into "
        "20-degree grid cells, and each customer's nearest supplier is "
        "found among the 3x3 neighboring cells via a cell equi-join — "
        "candidate volume is |customers| x cell-density, never the "
        "all-pairs product.  The metric is exact BIGINT squared "
        "micro-degree distance (no trig floats cross the engine "
        "boundary; longitude wrap at the +-180 seam is out of contract "
        "and documented), argmin by a PARTITIONED (d2, suppkey) window, "
        "unmatched neighborhoods kept via left join.  At 100 TB the "
        "cell size is the knob: size cells so density ~ k candidates "
        "and skewed cells salt-split, exactly like the binned range "
        "join (join_range_binned)."
    ),
)
def join_geo_grid_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 48271) % 160000001 - 80000000).alias("lat"),
        ((F.col("c_custkey") * 69621) % 360000001 - 180000000).alias("lon"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 40503) % 160000001 - 80000000).alias("lat"),
        ((F.col("s_suppkey") * 69069) % 360000001 - 180000000).alias("lon"),
    )
    cgrid = cust.select(
        "*",
        F.floor((F.col("lat") + 80000000) / 20000000).alias("cx"),
        F.floor((F.col("lon") + 180000000) / 20000000).alias("cy"),
    )
    sgrid = supp.select(
        F.col("s_suppkey"),
        F.col("lat").alias("s_lat"),
        F.col("lon").alias("s_lon"),
        F.floor((F.col("lat") + 80000000) / 20000000).alias("scx"),
        F.floor((F.col("lon") + 180000000) / 20000000).alias("scy"),
    )
    offs = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)], "dx int, dy int"
    )
    cand = (
        cgrid.crossJoin(F.broadcast(offs))
        .join(
            sgrid,
            (F.col("cx") + F.col("dx") == F.col("scx"))
            & (F.col("cy") + F.col("dy") == F.col("scy")),
        )
        .select(
            "c_custkey",
            "s_suppkey",
            (
                (F.col("lat") - F.col("s_lat")) * (F.col("lat") - F.col("s_lat"))
                + (F.col("lon") - F.col("s_lon")) * (F.col("lon") - F.col("s_lon"))
            ).alias("d2"),
        )
    )
    w = Window.partitionBy("c_custkey").orderBy("d2", "s_suppkey")
    best = cand.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return (
        cust.select("c_custkey")
        .join(best.select("c_custkey", "s_suppkey", "d2"), "c_custkey", "left")
        .select(
            "c_custkey",
            F.col("s_suppkey").alias("nearest_suppkey"),
            F.col("d2").alias("d2_microdeg"),
            F.col("s_suppkey").isNotNull().alias("matched"),
        )
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Auto cell-size grid kNN (the r9c probe lesson encoded as code)
# ---------------------------------------------------------------------------

#: ~candidates per 3x3 probe neighborhood the auto picker targets.  The r9c
#: probe drove the FIXED 20-degree grid to disk-spill death at x100 supplier
#: density and recovered the x10 wall-clock by shrinking cells with density
#: (SCALE.md r9c); this constant is that lesson as a default.
_GEO_TARGET_CAND = 32.0
_GEO_LAT_SPAN = 160000001.0
_GEO_LON_SPAN = 360000001.0


def auto_cell_microdeg(n_points: int, target: float = _GEO_TARGET_CAND) -> int:
    """Density-scaled grid cell size: pick cell so a 3x3 neighborhood holds
    ~``target`` points under a uniform-density estimate —
    cell = floor(sqrt(target * area / (9 n))).

    Every operation here (mul, div, sqrt, floor) is correctly-rounded
    IEEE-754, so the Python value is bit-identical to the same expression
    evaluated in DuckDB SQL — the oracle recomputes it and the differ stays
    exact (the no-transcendentals-across-the-boundary rule: sqrt is NOT a
    transcendental, it is exactly rounded).  Same auto-regime pattern as
    ``jaccard_pairs_capped(cap_mode='auto')``: one cheap aggregate buys the
    regime decision."""
    import math

    n = max(1, int(n_points))
    cell = math.floor(
        math.sqrt(target * _GEO_LAT_SPAN * _GEO_LON_SPAN / (9.0 * n))
    )
    return max(1, int(cell))


_ORACLE_GEO_KNN_AUTO = """
WITH cust AS (
  SELECT c_custkey,
         (c_custkey * 48271) % 160000001 - 80000000 AS lat,
         (c_custkey * 69621) % 360000001 - 180000000 AS lon
  FROM customer
),
supp AS (
  SELECT s_suppkey,
         (s_suppkey * 40503) % 160000001 - 80000000 AS lat,
         (s_suppkey * 69069) % 360000001 - 180000000 AS lon
  FROM supplier
),
cellsz AS (
  SELECT GREATEST(CAST(floor(sqrt(32e0 * 160000001e0 * 360000001e0
                              / (9e0 * GREATEST(COUNT(*), 1)))) AS BIGINT),
                  1) AS cell
  FROM supp
),
cgrid AS (
  SELECT c.*, (lat + 80000000) // z.cell AS cx,
              (lon + 180000000) // z.cell AS cy
  FROM cust c, cellsz z
),
sgrid AS (
  SELECT s.*, (lat + 80000000) // z.cell AS cx,
              (lon + 180000000) // z.cell AS cy
  FROM supp s, cellsz z
),
offs(dx, dy) AS (
  SELECT a.x - 1, b.x - 1 FROM range(0, 3) a(x), range(0, 3) b(x)
),
cand AS (
  SELECT c.c_custkey, s.s_suppkey,
         (c.lat - s.lat) * (c.lat - s.lat)
           + (c.lon - s.lon) * (c.lon - s.lon) AS d2
  FROM cgrid c
  JOIN offs o ON TRUE
  JOIN sgrid s ON s.cx = c.cx + o.dx AND s.cy = c.cy + o.dy
),
best AS (
  SELECT c_custkey, s_suppkey, d2
  FROM cand
  QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY d2, s_suppkey) = 1
)
SELECT c.c_custkey,
       b.s_suppkey AS nearest_suppkey,
       b.d2 AS d2_microdeg,
       b.s_suppkey IS NOT NULL AS matched,
       (SELECT cell FROM cellsz) AS cell_microdeg
FROM cust c LEFT JOIN best b USING (c_custkey)
ORDER BY c_custkey
"""


@register(
    "join_geo_grid_knn_auto",
    oracle=_ORACLE_GEO_KNN_AUTO,
    tags=("join", "spatial", "scale"),
    doc=(
        "Grid kNN with the DENSITY-SCALED cell size chosen by code, not by "
        "hand (VERDICT r9 item 6): one cheap COUNT over the build side "
        "picks cell = floor(sqrt(target_cand * area / (9 n))) so a 3x3 "
        "probe neighborhood holds ~32 candidates at ANY scale — the exact "
        "knob the r9c probe had to turn manually after driving the fixed "
        "20-degree grid to disk-spill death at x100 density.  The picker "
        "is pure correctly-rounded IEEE arithmetic (sqrt is not a "
        "transcendental), so the oracle recomputes the identical cell and "
        "the differ stays value-exact; the chosen cell is emitted as a "
        "column so the regime decision itself is verified cross-engine."
    ),
)
def join_geo_grid_knn_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 48271) % 160000001 - 80000000).alias("lat"),
        ((F.col("c_custkey") * 69621) % 360000001 - 180000000).alias("lon"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 40503) % 160000001 - 80000000).alias("lat"),
        ((F.col("s_suppkey") * 69069) % 360000001 - 180000000).alias("lon"),
    )
    # One cheap count picks the regime (bounded driver state: a single int).
    cell = auto_cell_microdeg(supp.count())
    cgrid = cust.select(
        "*",
        F.floor((F.col("lat") + 80000000) / cell).alias("cx"),
        F.floor((F.col("lon") + 180000000) / cell).alias("cy"),
    )
    sgrid = supp.select(
        F.col("s_suppkey"),
        F.col("lat").alias("s_lat"),
        F.col("lon").alias("s_lon"),
        F.floor((F.col("lat") + 80000000) / cell).alias("scx"),
        F.floor((F.col("lon") + 180000000) / cell).alias("scy"),
    )
    offs = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)], "dx int, dy int"
    )
    cand = (
        cgrid.crossJoin(F.broadcast(offs))
        .join(
            sgrid,
            (F.col("cx") + F.col("dx") == F.col("scx"))
            & (F.col("cy") + F.col("dy") == F.col("scy")),
        )
        .select(
            "c_custkey",
            "s_suppkey",
            (
                (F.col("lat") - F.col("s_lat")) * (F.col("lat") - F.col("s_lat"))
                + (F.col("lon") - F.col("s_lon")) * (F.col("lon") - F.col("s_lon"))
            ).alias("d2"),
        )
    )
    w = Window.partitionBy("c_custkey").orderBy("d2", "s_suppkey")
    best = cand.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return (
        cust.select("c_custkey")
        .join(best.select("c_custkey", "s_suppkey", "d2"), "c_custkey", "left")
        .select(
            "c_custkey",
            F.col("s_suppkey").alias("nearest_suppkey"),
            F.col("d2").alias("d2_microdeg"),
            F.col("s_suppkey").isNotNull().alias("matched"),
            F.lit(cell).cast("bigint").alias("cell_microdeg"),
        )
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Phonetic (Soundex) blocking for entity resolution
# ---------------------------------------------------------------------------

# American Soundex in RE2-safe SQL: Spark's algorithm is (1) keep the first
# letter; (2) H/W are transparent (skipped without breaking a duplicate
# run); (3) map consonants to digits 1-6, vowels+Y to 0; (4) a digit equal
# to the previous emitted-or-suppressed code is dropped (run collapse);
# (5) drop 0s, take first letter + 3 digits, right-pad with 0.
# Without backreferences the run collapse is 7 chained per-digit
# regexp_replace calls ('00+'->'0' ... '66+'->'6').
def _soundex_sql(col: str) -> str:
    first_code = (
        f"translate(substr(upper({col}), 1, 1), "
        "'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '01230127022455012623017202')"
    )
    tail = (
        f"translate(translate(substr(upper({col}), 2), 'HW', ''), "
        "'ABCDEFGIJKLMNOPQRSTUVXYZ', '012301202245501262301202')"
    )
    collapsed = f"({first_code} || {tail})"
    for d in "0123456":
        collapsed = f"regexp_replace({collapsed}, '{d}{d}+', '{d}', 'g')"
    return (
        f"rpad(substr(upper({col}), 1, 1) || "
        f"replace(substr({collapsed}, 2), '0', ''), 4, '0')"
    )


_ORACLE_SOUNDEX = f"""
WITH words AS (
  SELECT DISTINCT w
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE regexp_matches(w, '^[a-z]+$')
),
occ AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS df
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE regexp_matches(w, '^[a-z]+$')
  GROUP BY w
),
coded AS (
  SELECT o.w, o.df, {_soundex_sql('o.w')} AS code FROM occ o
),
pairs AS (
  SELECT a.code, CAST(COUNT(*) AS BIGINT) AS n_near_pairs
  FROM coded a JOIN coded b ON a.code = b.code AND a.w < b.w
  WHERE levenshtein(a.w, b.w) <= 2
  GROUP BY a.code
)
SELECT c.code,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       string_agg(c.w, ',' ORDER BY c.w) AS words_csv,
       CAST(SUM(c.df) AS BIGINT) AS total_occurrences,
       COALESCE(ANY_VALUE(p.n_near_pairs), 0) AS n_near_pairs
FROM coded c LEFT JOIN pairs p ON c.code = p.code
GROUP BY c.code
ORDER BY c.code
"""


@register(
    "dedup_soundex_blocking",
    oracle=_ORACLE_SOUNDEX,
    tags=("dedup", "er", "text"),
    doc=(
        "Phonetic blocking for entity resolution: the corpus vocabulary "
        "is bucketed by Spark's builtin soundex() (American Soundex — "
        "H/W transparent, vowels break duplicate runs, 4-char "
        "zero-padded) and within-block Levenshtein<=2 near-pairs are "
        "counted — blocking+verify, the ER pattern that replaces the "
        "quadratic all-pairs name comparison with per-block work "
        "(the dedup_sorted_neighborhood / er_customer_resolution "
        "family).  The DuckDB oracle re-implements the exact algorithm "
        "as translate + 7 per-digit run-collapse regexp_replace calls "
        "(RE2 has no backreferences), pinned by a unit-test parity "
        "sweep over the vocabulary plus the classic spec vectors "
        "(Robert/Rupert/Ashcraft/Tymczak/Pfister).  Blocks and pairs "
        "are vocabulary-scale; the token df aggregate is the only "
        "document-scale pass."
    ),
)
def dedup_soundex_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    occ = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    )
    coded = occ.select("w", "df", F.soundex("w").alias("code"))
    a, b = coded.alias("a"), coded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.code") == F.col("b.code")) & (F.col("a.w") < F.col("b.w")),
        )
        .where(F.levenshtein(F.col("a.w"), F.col("b.w")) <= 2)
        .groupBy(F.col("a.code").alias("code"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_near_pairs"))
    )
    blocks = coded.groupBy("code").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.array_join(F.sort_array(F.collect_list("w")), ",").alias("words_csv"),
        F.sum("df").cast("bigint").alias("total_occurrences"),
    )
    return (
        blocks.join(pairs, "code", "left")
        .select(
            "code",
            "n_words",
            "words_csv",
            "total_occurrences",
            F.coalesce("n_near_pairs", F.lit(0)).cast("bigint").alias(
                "n_near_pairs"
            ),
        )
        .orderBy("code")
    )


# ---------------------------------------------------------------------------
# Deterministic RANSAC line fit (md5-seeded consensus)
# ---------------------------------------------------------------------------

_RANSAC_K = 64
_RANSAC_EPS_E2 = 25000  # inlier band: |residual| <= $250 in cents

_ORACLE_RANSAC = f"""
WITH daily AS (
  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
         CAST(SUM(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL AND event_type = 'purchase'
  GROUP BY 1
),
pts AS (
  SELECT x, y, row_number() OVER (ORDER BY x) AS idx,
         COUNT(*) OVER () AS n
  FROM daily
),
cand AS (
  SELECT k.x AS k,
         1 + ('0x' || substr(md5(CAST(k.x AS VARCHAR) || ':i'), 1, 8))::BIGINT
             % ANY_VALUE(p.n) AS i,
         1 + ('0x' || substr(md5(CAST(k.x AS VARCHAR) || ':j'), 1, 8))::BIGINT
             % ANY_VALUE(p.n) AS j
  FROM range(0, {_RANSAC_K}) k(x), pts p
  GROUP BY k.x
),
models AS (
  SELECT c.k, pi.x AS xi, pi.y AS yi,
         pj.x - pi.x AS dx, pj.y - pi.y AS dy
  FROM cand c
  JOIN pts pi ON pi.idx = c.i
  JOIN pts pj ON pj.idx = c.j
  WHERE c.i <> c.j
),
scored AS (
  SELECT m.k, m.xi, m.yi, m.dx, m.dy,
         CAST(SUM(CASE WHEN abs((p.y - m.yi) * m.dx - (p.x - m.xi) * m.dy)
                            <= {_RANSAC_EPS_E2} * abs(m.dx)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_inliers
  FROM models m, pts p
  GROUP BY m.k, m.xi, m.yi, m.dx, m.dy
)
SELECT CAST(k AS BIGINT) AS k, n_inliers,
       CAST(dy AS BIGINT) AS slope_num, CAST(dx AS BIGINT) AS slope_den,
       round(CAST(dy AS DOUBLE) / CAST(dx AS DOUBLE), 6) AS slope_e2_per_day
FROM scored
QUALIFY row_number() OVER (ORDER BY n_inliers DESC, k) <= 5
ORDER BY n_inliers DESC, k
"""


@register(
    "ml_ransac_line_md5",
    oracle=_ORACLE_RANSAC,
    tags=("ml", "robust", "stats"),
    doc=(
        "Deterministic RANSAC line fit over the daily revenue series: 64 "
        "md5-seeded candidate point pairs (the seeded-replicate pattern "
        "of ml_permutation_test_md5), each scored by an EXACT integer "
        "consensus test — |（y-yi)*dx - (x-xi)*dy| <= eps*|dx|, "
        "cross-multiplied so no float division enters the inlier count — "
        "and the top-5 models reported by (inliers DESC, k ASC).  The "
        "gross-outlier-robust companion of ml_theil_sen_daily (median "
        "of slopes) and agg_regr_battery (OLS): RANSAC survives >50% "
        "contamination when the consensus band is right.  Candidate "
        "spine is a fixed 64-row broadcast; scoring is spine x "
        "calendar-bounded daily table — never data-scale quadratic."
    ),
)
def ml_ransac_line_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("value").isNotNull() & (F.col("event_type") == "purchase"))
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("d"))
        .agg(
            F.sum(F.round(F.col("value") * 100.0, 0).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
        .select(
            F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
            .cast("bigint")
            .alias("x"),
            "y",
        )
    )
    w_idx = Window.orderBy("x")
    pts = daily.select(
        "x", "y", F.row_number().over(w_idx).cast("bigint").alias("idx")
    )
    ks = spark.range(0, _RANSAC_K).select(F.col("id").alias("k"))
    lane = lambda tag: md5_u32(  # noqa: E731
        F.concat(F.col("k").cast("string"), F.lit(tag))
    )
    n_row = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    # n > 0 guard: on an empty series the oracle's spine x points cross
    # join is empty, so the Spark side must not evaluate lane % 0 either.
    cand = ks.crossJoin(F.broadcast(n_row)).where(F.col("n") > 0).select(
        "k",
        (1 + lane(":i") % F.col("n")).alias("i"),
        (1 + lane(":j") % F.col("n")).alias("j"),
    )
    pi = pts.select(
        F.col("idx").alias("i"), F.col("x").alias("xi"), F.col("y").alias("yi")
    )
    pj = pts.select(
        F.col("idx").alias("j"), F.col("x").alias("xj"), F.col("y").alias("yj")
    )
    models = (
        cand.where(F.col("i") != F.col("j"))
        .join(F.broadcast(pi), "i")
        .join(F.broadcast(pj), "j")
        .select(
            "k",
            "xi",
            "yi",
            (F.col("xj") - F.col("xi")).alias("dx"),
            (F.col("yj") - F.col("yi")).alias("dy"),
        )
    )
    scored = (
        models.crossJoin(pts.select("x", "y"))
        .groupBy("k", "xi", "yi", "dx", "dy")
        .agg(
            F.sum(
                F.when(
                    F.abs(
                        (F.col("y") - F.col("yi")) * F.col("dx")
                        - (F.col("x") - F.col("xi")) * F.col("dy")
                    )
                    <= _RANSAC_EPS_E2 * F.abs(F.col("dx")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_inliers")
        )
    )
    w_rk = Window.orderBy(F.col("n_inliers").desc(), "k")
    return (
        scored.withColumn("rk", F.row_number().over(w_rk))
        .where(F.col("rk") <= 5)
        .select(
            F.col("k").cast("bigint").alias("k"),
            "n_inliers",
            F.col("dy").cast("bigint").alias("slope_num"),
            F.col("dx").cast("bigint").alias("slope_den"),
            F.round(F.col("dy").cast("double") / F.col("dx").cast("double"), 6)
            .alias("slope_e2_per_day"),
        )
        .orderBy(F.col("n_inliers").desc(), "k")
    )


# ---------------------------------------------------------------------------
# Storage-layout encoding advisor
# ---------------------------------------------------------------------------

_ORACLE_LAYOUT = """
WITH ev AS (
  SELECT event_id, event_type,
         user_id,
         CAST(round(value * 100.0, 0) AS BIGINT) AS v_e2,
         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
  FROM events
),
pairs AS (
  SELECT a.event_type AS t1, b.event_type AS t2,
         a.user_id AS u1, b.user_id AS u2,
         a.v_e2 AS v1, b.v_e2 AS v2,
         a.day AS d1, b.day AS d2
  FROM ev a JOIN ev b ON b.event_id = a.event_id + 1
),
runstats AS (
  SELECT
    CAST(1 + COALESCE(SUM(CASE WHEN t1 IS DISTINCT FROM t2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS runs_type,
    CAST(1 + COALESCE(SUM(CASE WHEN u1 IS DISTINCT FROM u2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS runs_user,
    CAST(1 + COALESCE(SUM(CASE WHEN v1 IS DISTINCT FROM v2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS runs_val,
    CAST(1 + COALESCE(SUM(CASE WHEN d1 IS DISTINCT FROM d2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS runs_day
  FROM pairs
),
colstats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT event_type) AS BIGINT) AS nd_type,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nd_user,
         CAST(COUNT(DISTINCT v_e2) AS BIGINT) AS nd_val,
         CAST(COUNT(DISTINCT day) AS BIGINT) AS nd_day,
         CAST(COALESCE(SUM(length(event_type)), 0) AS BIGINT) AS strbytes
  FROM ev
),
percol AS (
  SELECT 'event_type' AS col, c.n, c.nd_type AS n_distinct, r.runs_type AS n_runs,
         c.strbytes AS plain_bytes,
         c.nd_type * 8 + (c.n * length(printf('%b', greatest(c.nd_type - 1, 0))) + 7) // 8 AS dict_bytes,
         r.runs_type * 12 AS rle_bytes
  FROM colstats c, runstats r
  UNION ALL
  SELECT 'user_id', c.n, c.nd_user, r.runs_user,
         c.n * 8,
         c.nd_user * 8 + (c.n * length(printf('%b', greatest(c.nd_user - 1, 0))) + 7) // 8,
         r.runs_user * 12
  FROM colstats c, runstats r
  UNION ALL
  SELECT 'v_e2', c.n, c.nd_val, r.runs_val,
         c.n * 8,
         c.nd_val * 8 + (c.n * length(printf('%b', greatest(c.nd_val - 1, 0))) + 7) // 8,
         r.runs_val * 12
  FROM colstats c, runstats r
  UNION ALL
  SELECT 'day', c.n, c.nd_day, r.runs_day,
         c.n * 8,
         c.nd_day * 8 + (c.n * length(printf('%b', greatest(c.nd_day - 1, 0))) + 7) // 8,
         r.runs_day * 12
  FROM colstats c, runstats r
)
SELECT col, n, n_distinct, n_runs,
       CAST(plain_bytes AS BIGINT) AS plain_bytes,
       CAST(dict_bytes AS BIGINT) AS dict_bytes,
       CAST(rle_bytes AS BIGINT) AS rle_bytes,
       CASE WHEN rle_bytes <= dict_bytes AND rle_bytes <= plain_bytes THEN 'rle'
            WHEN dict_bytes <= plain_bytes THEN 'dict'
            ELSE 'plain' END AS best_encoding
FROM percol ORDER BY col
"""


@register(
    "layout_encoding_efficiency",
    oracle=_ORACLE_LAYOUT,
    tags=("layout", "scale"),
    doc=(
        "Storage-layout encoding advisor — what a columnar writer's "
        "encoding chooser computes, surfaced as a query: per column "
        "(event_type, user_id, cent-value, day) the exact run count in "
        "event_id order (a NEIGHBOR EQUI-JOIN on the contiguous id "
        "spine — b.event_id = a.event_id + 1 — which shuffles by key "
        "and scales, deliberately NOT a data-scale global lag window), "
        "the distinct count, and exact integer byte estimates for "
        "PLAIN (n*width), DICT (dict + ceil(n*bits/8) with bit width "
        "from the binary-string-length trick), and RLE (runs * "
        "(width+4)), plus the winning encoding.  Mirrors how "
        "lakehouse_stats_pruned_scan and layout_zorder_roundtrip treat "
        "layout as a first-class query subject; at 100 TB the same "
        "plan runs per row-group instead of globally."
    ),
)
def layout_encoding_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "user_id",
        F.round(F.col("value") * 100.0, 0).cast("bigint").alias("v_e2"),
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("day"),
    )
    a = ev.alias("a")
    b = ev.alias("b")
    pairs = a.join(b, F.col("b.event_id") == F.col("a.event_id") + 1)

    def runs(col: str):
        return (
            1
            + F.coalesce(
                F.sum(
                    F.when(
                        ~F.col(f"a.{col}").eqNullSafe(F.col(f"b.{col}")), 1
                    ).otherwise(0)
                ),
                F.lit(0),
            )
        ).cast("bigint")

    runstats = pairs.agg(
        runs("event_type").alias("runs_type"),
        runs("user_id").alias("runs_user"),
        runs("v_e2").alias("runs_val"),
        runs("day").alias("runs_day"),
    )
    colstats = ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.countDistinct("event_type").cast("bigint").alias("nd_type"),
        F.countDistinct("user_id").cast("bigint").alias("nd_user"),
        F.countDistinct("v_e2").cast("bigint").alias("nd_val"),
        F.countDistinct("day").cast("bigint").alias("nd_day"),
        F.coalesce(F.sum(F.length("event_type")), F.lit(0))
        .cast("bigint")
        .alias("strbytes"),
    )
    # two 1-row aggregate scalars cross joined (bounded by construction)
    stats = colstats.crossJoin(F.broadcast(runstats))

    def bits(nd: str):
        # greatest(nd-1, 0): a zero-row column must not feed conv(-1)
        # (64-char two's-complement) — both engines then agree on 1 bit.
        return F.length(
            F.conv(F.greatest(F.col(nd) - 1, F.lit(0)), 10, 2)
        ).cast("bigint")

    def percol(name: str, nd: str, rn: str, plain):
        return stats.select(
            F.lit(name).alias("col"),
            F.col("n"),
            F.col(nd).alias("n_distinct"),
            F.col(rn).alias("n_runs"),
            plain.cast("bigint").alias("plain_bytes"),
            (
                F.col(nd) * 8
                + F.floor((F.col("n") * bits(nd) + 7) / 8).cast("bigint")
            )
            .cast("bigint")
            .alias("dict_bytes"),
            (F.col(rn) * 12).cast("bigint").alias("rle_bytes"),
        )

    out = (
        percol("event_type", "nd_type", "runs_type", F.col("strbytes"))
        .unionByName(percol("user_id", "nd_user", "runs_user", F.col("n") * 8))
        .unionByName(percol("v_e2", "nd_val", "runs_val", F.col("n") * 8))
        .unionByName(percol("day", "nd_day", "runs_day", F.col("n") * 8))
    )
    best = (
        F.when(
            (F.col("rle_bytes") <= F.col("dict_bytes"))
            & (F.col("rle_bytes") <= F.col("plain_bytes")),
            "rle",
        )
        .when(F.col("dict_bytes") <= F.col("plain_bytes"), "dict")
        .otherwise("plain")
    )
    return out.withColumn("best_encoding", best).orderBy("col")
