"""Round-11 batch 6: link analysis, time-series structure, and sketches.

* ``graph_hits_hubs`` — HITS hubs & authorities (Kleinberg 1999) over
  the bipartite customer-part purchase graph: 4 alternating
  sum-then-L1-normalize rounds in e9 FIXED-POINT integers (the
  graph_pagerank_purchases contract), top-15 per role.
* ``ml_pacf_durbin_levinson`` — partial autocorrelation at lags 1..5 of
  the daily event-count series: exact integer ACF (the n*x - S residual
  trick of ml_ljung_box), each rho e9-fixed, then the Durbin-Levinson
  recursion unrolled as a template-generated chain of double
  expressions identical in both engines.
* ``events_hidden_periodicity`` — hidden-periodicity scan: for every
  candidate period p the day series folds by t mod p and the
  between-residue sum of squares over the total sum of squares
  (ANOVA-style variance explained) is computed from exact e6-fixed
  BIGINTs; the peak row is the dominant cycle.
* ``agg_count_min_sketch`` — Count-Min sketch (Cormode & Muthukrishnan
  2005), d=4 x w=64 md5 rows over the event stream, point-queried at
  the top-10 exact heavy hitters; the overestimate column is the
  sketch's signed error, provably >= 0.

Determinism contract as the rest of r11: integer mass arithmetic; float
readouts are single textually-shared expressions.  Scale: HITS is the
textbook iterate-join-aggregate shape (edges persisted once, one shuffle
per half-round); PACF/periodicity fold the raw stream to the
calendar-bounded daily spine first; the CMS is 4 map-combinable hash
aggregates into 256 cells of state.  Reference scope: [EXT] SURVEY §6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..session import pin_query_session_conf
from .registry import register

# ---------------------------------------------------------------------------
# HITS hubs & authorities
# ---------------------------------------------------------------------------

_HITS_ROUNDS = 4
_HITS_TOPK = 15
_E9 = 1_000_000_000

_HITS_EDGES_SQL = """
  SELECT DISTINCT o_custkey AS c, l_partkey AS p
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
"""


def _oracle_hits() -> str:
    # Every CTE is MATERIALIZED: each round references its predecessor
    # twice (main relation + normalization scalar), so DuckDB's default
    # CTE inlining re-evaluates the whole chain exponentially (2^rounds)
    # without it.
    ctes = [
        f"edges AS MATERIALIZED ({_HITS_EDGES_SQL})",
        "custs AS MATERIALIZED (SELECT DISTINCT c FROM edges)",
        "h0 AS MATERIALIZED (SELECT c, CAST(1 AS BIGINT) AS h FROM custs)",
    ]
    prev_h = "h0"
    for i in range(1, _HITS_ROUNDS + 1):
        ctes.append(
            f"""araw{i} AS MATERIALIZED (
  SELECT e.p, CAST(SUM(h.h) AS BIGINT) AS a
  FROM edges e JOIN {prev_h} h ON h.c = e.c GROUP BY e.p
)"""
        )
        ctes.append(
            f"a{i} AS MATERIALIZED (SELECT p,"
            f" ({_E9} * a) // (SELECT SUM(a) FROM araw{i})"
            f" AS a FROM araw{i})"
        )
        ctes.append(
            f"""hraw{i} AS MATERIALIZED (
  SELECT e.c, CAST(SUM(a.a) AS BIGINT) AS h
  FROM edges e JOIN a{i} a ON a.p = e.p GROUP BY e.c
)"""
        )
        ctes.append(
            f"h{i} AS MATERIALIZED (SELECT c,"
            f" ({_E9} * h) // (SELECT SUM(h) FROM hraw{i})"
            f" AS h FROM hraw{i})"
        )
        prev_h = f"h{i}"
    chain = ",\n".join(ctes)
    return f"""
WITH {chain}
SELECT * FROM (
  SELECT 'authority' AS role, CAST(p AS BIGINT) AS node_key,
         CAST(a AS BIGINT) AS score_e9
  FROM a{_HITS_ROUNDS} ORDER BY score_e9 DESC, node_key LIMIT {_HITS_TOPK}
)
UNION ALL
SELECT * FROM (
  SELECT 'hub' AS role, CAST(c AS BIGINT) AS node_key,
         CAST(h AS BIGINT) AS score_e9
  FROM h{_HITS_ROUNDS} ORDER BY score_e9 DESC, node_key LIMIT {_HITS_TOPK}
)
ORDER BY role, score_e9 DESC, node_key
"""


@register(
    "graph_hits_hubs",
    oracle=_oracle_hits(),
    tags=("graph", "iterative"),
    doc=(
        f"HITS hubs & authorities (Kleinberg 1999) over the bipartite "
        f"customer-part purchase graph: {_HITS_ROUNDS} alternating rounds "
        "of authority = sum of neighbor hub scores, hub = sum of neighbor "
        "authority scores, each half-round L1-normalized to 1e9 total "
        "integer mass (score' = floor(1e9*score/sum), init h = 1 so the "
        "first raw pass is the exact in-degree and no product ever "
        "leaves BIGINT at any node count; non-negative "
        "operands so Spark div == DuckDB //) — bit-identical across "
        "engines and partitionings, the graph_pagerank_purchases "
        "contract.  PageRank ranks by random-surfer mass; HITS separates "
        "WHO AGGREGATES (hub customers with broad baskets) from WHAT IS "
        "AGGREGATED (authority parts in many strong baskets).  Each "
        "half-round is one edges-scores shuffle join + one hash "
        f"aggregate; edges persisted once; top-{_HITS_TOPK} per role via "
        "TakeOrdered."
    ),
)
def graph_hits_hubs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .persist()
    )
    h = edges.select("c").distinct().withColumn("h", F.lit(1).cast("long"))
    a = None
    for _ in range(_HITS_ROUNDS):
        araw = (
            edges.join(h, "c")
            .groupBy("p")
            .agg(F.sum("h").cast("bigint").alias("a"))
        )
        asum = araw.agg(F.sum("a").alias("asum"))
        a = araw.crossJoin(F.broadcast(asum)).select(
            "p", F.expr(f"({_E9} * a) div asum").alias("a")
        )
        hraw = (
            edges.join(a, "p")
            .groupBy("c")
            .agg(F.sum("a").cast("bigint").alias("h"))
        )
        hsum = hraw.agg(F.sum("h").alias("hsum"))
        h = (
            hraw.crossJoin(F.broadcast(hsum))
            .select("c", F.expr(f"({_E9} * h) div hsum").alias("h"))
            .localCheckpoint(eager=True)  # lineage cut per round
        )
    top_a = (
        a.select(
            F.lit("authority").alias("role"),
            F.col("p").cast("bigint").alias("node_key"),
            F.col("a").cast("bigint").alias("score_e9"),
        )
        .orderBy(F.col("score_e9").desc(), "node_key")
        .limit(_HITS_TOPK)
    )
    top_h = (
        h.select(
            F.lit("hub").alias("role"),
            F.col("c").cast("bigint").alias("node_key"),
            F.col("h").cast("bigint").alias("score_e9"),
        )
        .orderBy(F.col("score_e9").desc(), "node_key")
        .limit(_HITS_TOPK)
    )
    return top_a.unionAll(top_h).orderBy(
        "role", F.col("score_e9").desc(), "node_key"
    )


# ---------------------------------------------------------------------------
# PACF via Durbin-Levinson
# ---------------------------------------------------------------------------

_PACF_MAX_LAG = 5


def _dl_layers() -> list[list[str]]:
    """The Durbin-Levinson recursion as layered expression lists.

    Each inner list is one SELECT layer's new columns (texts shared
    verbatim between the DuckDB CTE chain and Spark selectExpr layers, so
    the double arithmetic is bit-identical).  phi[k][j] columns are named
    f{k}{j}; rho1..rho{max} must exist in the base relation.
    """
    layers: list[list[str]] = [["rho1 AS f11"]]
    for k in range(2, _PACF_MAX_LAG + 1):
        num = f"rho{k} - (" + " + ".join(
            f"f{k - 1}{j} * rho{k - j}" for j in range(1, k)
        ) + ")"
        den = "1.0 - (" + " + ".join(
            f"f{k - 1}{j} * rho{j}" for j in range(1, k)
        ) + ")"
        layers.append(
            [
                f"CASE WHEN ({den}) = 0.0 THEN 0.0"
                f" ELSE ({num}) / ({den}) END AS f{k}{k}"
            ]
        )
        if k < _PACF_MAX_LAG:
            layers.append(
                [
                    f"f{k - 1}{j} - f{k}{k} * f{k - 1}{k - j} AS f{k}{j}"
                    for j in range(1, k)
                ]
            )
    return layers


_DL_LAYERS = _dl_layers()
_DL_PHI = {k: f"f{k}{k}" for k in range(1, _PACF_MAX_LAG + 1)}


def _dl_chain_sql(from_cte: str) -> str:
    prev, ctes = from_cte, []
    for i, exprs in enumerate(_DL_LAYERS):
        name = f"dl{i}"
        ctes.append(f"{name} AS (SELECT *, {', '.join(exprs)} FROM {prev})")
        prev = name
    ctes.append(f"dlfin AS (SELECT * FROM {prev})")
    return ",\n".join(ctes)


_DL_CHAIN = _dl_chain_sql("base")

#: CAST AS DOUBLE is load-bearing: Spark parses the 1e9 literal as DECIMAL
#: and would otherwise run the whole Durbin-Levinson chain in decimal(38,6)
#: arithmetic while DuckDB runs double (observed: f33 -0.001498 vs -0.0014988).
_PACF_RHO_COLS = ", ".join(
    f"CAST(COALESCE(MAX(CASE WHEN lag = {k} THEN r_e9 END), 0) AS DOUBLE)"
    f" / 1000000000.0 AS rho{k}"
    for k in range(1, _PACF_MAX_LAG + 1)
)

_ORACLE_PACF = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY CAST(ts AS DATE)
),
idx AS (SELECT ROW_NUMBER() OVER (ORDER BY d) AS t, x FROM daily),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
  FROM idx
),
cent AS (
  SELECT t, CAST(tot.n * x - tot.s AS BIGINT) AS r, tot.n
  FROM idx CROSS JOIN tot
),
den AS (SELECT CAST(SUM(r * r) AS BIGINT) AS d2 FROM cent),
lags AS (
  SELECT l.lag, CAST(SUM(a.r * b.r) AS BIGINT) AS num
  FROM (SELECT unnest(range(1, {_PACF_MAX_LAG} + 1)) AS lag) l
  JOIN cent a ON TRUE
  JOIN cent b ON b.t = a.t + l.lag
  GROUP BY l.lag
),
rk AS (
  SELECT lags.lag,
         CASE WHEN den.d2 = 0 THEN 0
              ELSE CAST(round(CAST(num AS DOUBLE) * 1000000000.0 / den.d2)
                        AS BIGINT) END AS r_e9
  FROM lags CROSS JOIN den
),
base AS (
  SELECT (SELECT n FROM tot) AS n_days, {_PACF_RHO_COLS}
  FROM rk
  HAVING COUNT(*) > 0
),
{_DL_CHAIN}
SELECT lag, n_days,
       CAST(floor((CASE lag {" ".join(f"WHEN {k} THEN {c}" for k, c in _DL_PHI.items())} END)
                  * 1000000.0 + 0.5) AS BIGINT) AS pacf_e6,
       CAST(CAST(floor((CASE lag {" ".join(f"WHEN {k} THEN {c}" for k, c in _DL_PHI.items())} END)
                  * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS pacf
FROM dlfin, (SELECT unnest(range(1, {_PACF_MAX_LAG} + 1)) AS lag) lg
ORDER BY lag
"""


@register(
    "ml_pacf_durbin_levinson",
    oracle=_ORACLE_PACF,
    tags=("ml", "stats", "timeseries"),
    doc=(
        f"Partial autocorrelation at lags 1..{_PACF_MAX_LAG} of the daily "
        "event-count series via the Durbin-Levinson recursion: ACF "
        "numerators/denominator are exact BIGINTs (the n*x - S residual "
        "trick shared with ml_ljung_box), each rho_k is e9-FIXED, and "
        "the recursion is unrolled as a template-generated chain of "
        "double expressions — the SAME text in both engines, so every "
        "phi_kj intermediate is bit-identical.  PACF is what identifies "
        "AR order where the ACF tails off; the lag-pair work is bounded "
        "by the calendar spine, never by event volume."
    ),
)
def ml_pacf_durbin_levinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    # calendar-bounded global window (plan-audit: day spine)
    idx = daily.select(
        F.row_number().over(Window.orderBy("d")).alias("t"), "x"
    )
    tot = idx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    cent = idx.crossJoin(F.broadcast(tot)).select(
        "t", (F.col("n") * F.col("x") - F.col("s")).cast("bigint").alias("r"), "n"
    )
    den = cent.agg(F.sum(F.col("r") * F.col("r")).cast("bigint").alias("d2"))
    lag_spine = spark.range(1, _PACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    b = cent.select(F.col("t").alias("bt"), F.col("r").alias("br"))
    lags = (
        lag_spine.join(cent, F.lit(True))
        .join(b, F.col("bt") == F.col("t") + F.col("lag"))
        .groupBy("lag")
        .agg(F.sum(F.col("r") * F.col("br")).cast("bigint").alias("num"))
    )
    rk = lags.crossJoin(F.broadcast(den)).select(
        "lag",
        F.expr(
            "CASE WHEN d2 = 0 THEN 0"
            " ELSE CAST(round(CAST(num AS DOUBLE) * 1000000000.0 / d2)"
            " AS BIGINT) END"
        ).alias("r_e9"),
    )
    n_days = tot.select(F.col("n").alias("n_days"))
    base = (
        rk.agg(
            F.count(F.lit(1)).alias("_nl"),
            *[
                F.expr(
                    f"CAST(COALESCE(MAX(CASE WHEN lag = {k} THEN r_e9 END),"
                    " 0) AS DOUBLE) / 1000000000.0"
                ).alias(f"rho{k}")
                for k in range(1, _PACF_MAX_LAG + 1)
            ],
        )
        .where(F.col("_nl") > 0)
        .drop("_nl")
        .crossJoin(F.broadcast(n_days))
    )
    cur = base
    for exprs in _DL_LAYERS:
        cur = cur.selectExpr("*", *exprs)
    out = cur.selectExpr(
        f"explode(sequence(1, {_PACF_MAX_LAG})) AS lag",
        "n_days",
        *[f"{c} AS _phi{k}" for k, c in _DL_PHI.items()],
    )
    phi_case = (
        "(CASE lag "
        + " ".join(f"WHEN {k} THEN _phi{k}" for k in _DL_PHI)
        + " END)"
    )
    # floor(x*1e6 + 0.5) is pure IEEE multiply/add/floor — bit-identical in
    # both engines, unlike round(x, 6) whose implementations diverge at
    # representation boundaries (Spark exact-decimal HALF_UP vs DuckDB
    # float-multiply; observed 1-ulp flip at lag 3 on the r11 data).
    return out.select(
        "lag",
        "n_days",
        F.expr(
            f"CAST(floor({phi_case} * 1000000.0 + 0.5) AS BIGINT)"
        ).alias("pacf_e6"),
        F.expr(
            f"CAST(CAST(floor({phi_case} * 1000000.0 + 0.5) AS BIGINT)"
            " AS DOUBLE) / 1000000.0"
        ).alias("pacf"),
    ).orderBy("lag")


# ---------------------------------------------------------------------------
# Hidden periodicity scan
# ---------------------------------------------------------------------------

_HP_MIN_P, _HP_MAX_P = 2, 10

_ORACLE_PERIODICITY = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY CAST(ts AS DATE)
),
idx AS (SELECT ROW_NUMBER() OVER (ORDER BY d) - 1 AS t, x FROM daily),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM idx
),
res AS (
  SELECT pr.p, idx.t % pr.p AS r,
         CAST(SUM(x) AS BIGINT) AS sr, CAST(COUNT(*) AS BIGINT) AS nr
  FROM idx
  JOIN (SELECT unnest(range({_HP_MIN_P}, {_HP_MAX_P} + 1)) AS p) pr ON TRUE
  GROUP BY pr.p, idx.t % pr.p
),
ssb AS (
  SELECT p, CAST(SUM((1000000 * sr * sr) // nr) AS BIGINT) AS fold_e6
  FROM res GROUP BY p
)
SELECT CAST(ssb.p AS BIGINT) AS period, tot.n AS n_days,
       CAST(fold_e6 - (1000000 * tot.s * tot.s) // tot.n AS BIGINT)
         AS ssb_e6,
       CAST(1000000 * tot.sxx - (1000000 * tot.s * tot.s) // tot.n
            AS BIGINT) AS sst_e6,
       round(CASE WHEN 1000000 * tot.sxx
                       - (1000000 * tot.s * tot.s) // tot.n = 0 THEN 0.0
                  ELSE CAST(fold_e6 - (1000000 * tot.s * tot.s) // tot.n
                            AS DOUBLE)
                       / (1000000 * tot.sxx
                          - (1000000 * tot.s * tot.s) // tot.n)
             END, 6) AS strength
FROM ssb CROSS JOIN tot
ORDER BY period
"""


@register(
    "events_hidden_periodicity",
    oracle=_ORACLE_PERIODICITY,
    tags=("events", "timeseries", "stats"),
    doc=(
        f"Hidden-periodicity scan over the daily event-count series: for "
        f"every candidate period p in {_HP_MIN_P}..{_HP_MAX_P} the day "
        "index folds by t mod p and the variance explained by the "
        "residue-class means — between-group sum of squares over total "
        "sum of squares, the ANOVA decomposition behind Fisher's test "
        "for hidden periodicities — is computed from exact e6-fixed "
        "BIGINTs (fold term floor(1e6*Sr^2/nr), all operands "
        "non-negative).  The weekly-cycle detector for traffic series; "
        "corpus-scale work is ONE daily hash aggregate, the p-fold "
        "algebra lives on the calendar x period spine."
    ),
)
def events_hidden_periodicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    idx = daily.select(
        (F.row_number().over(Window.orderBy("d")) - 1).alias("t"), "x"
    )
    tot = idx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    periods = spark.range(_HP_MIN_P, _HP_MAX_P + 1).select(
        F.col("id").cast("int").alias("p")
    )
    res = (
        idx.join(F.broadcast(periods), F.lit(True))
        .groupBy("p", (F.col("t") % F.col("p")).alias("r"))
        .agg(
            F.sum("x").cast("bigint").alias("sr"),
            F.count(F.lit(1)).cast("bigint").alias("nr"),
        )
    )
    ssb = res.groupBy("p").agg(
        F.expr("CAST(SUM((1000000 * sr * sr) div nr) AS BIGINT)").alias(
            "fold_e6"
        )
    )
    sst = "1000000 * sxx - (1000000 * s * s) div n"
    return (
        ssb.crossJoin(F.broadcast(tot))
        .select(
            F.col("p").cast("bigint").alias("period"),
            F.col("n").alias("n_days"),
            F.expr(
                "CAST(fold_e6 - (1000000 * s * s) div n AS BIGINT)"
            ).alias("ssb_e6"),
            F.expr(f"CAST({sst} AS BIGINT)").alias("sst_e6"),
            F.expr(
                f"round(CASE WHEN {sst} = 0 THEN 0.0"
                f" ELSE CAST(fold_e6 - (1000000 * s * s) div n AS DOUBLE)"
                f" / ({sst}) END, 6)"
            ).alias("strength"),
        )
        .orderBy("period")
    )


# ---------------------------------------------------------------------------
# Count-Min sketch
# ---------------------------------------------------------------------------

_CMS_D = 4
_CMS_W = 64
_CMS_PROBES = 10

#: Shared hash text: uint32 of md5("<row>:<key>") mod w.  Spark's
#: conv(substr(md5 ..),16,10) equals DuckDB's ('0x'||substr(..))::BIGINT
#: (the ``operators/text.py: md5_u32`` contract).
_CMS_BUCKET_SPARK = (
    "CAST(conv(substring(md5(concat(CAST(j AS STRING), ':',"
    " CAST(user_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % {w}"
)
_CMS_BUCKET_DUCK = (
    "(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' ||"
    " CAST(user_id AS VARCHAR)), 1, 8))::BIGINT) % {w}"
)

_ORACLE_CMS = f"""
WITH rows_spine AS (SELECT unnest(range({_CMS_D})) AS j),
cells AS (
  SELECT j, {_CMS_BUCKET_DUCK.format(w=_CMS_W)} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events CROSS JOIN rows_spine
  GROUP BY 1, 2
),
truec AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_n
  FROM events GROUP BY user_id
),
probes AS (
  SELECT user_id, true_n FROM truec
  ORDER BY true_n DESC, user_id LIMIT {_CMS_PROBES}
),
est AS (
  SELECT p.user_id, p.true_n,
         CAST(MIN(c.cnt) AS BIGINT) AS cms_est
  FROM probes p
  CROSS JOIN rows_spine r
  JOIN cells c ON c.j = r.j
             AND c.bucket = {_CMS_BUCKET_DUCK.format(w=_CMS_W).replace('user_id', 'p.user_id').replace('CAST(j AS VARCHAR)', 'CAST(r.j AS VARCHAR)')}
  GROUP BY p.user_id, p.true_n
)
SELECT user_id, true_n, cms_est,
       CAST(cms_est - true_n AS BIGINT) AS overestimate
FROM est
ORDER BY true_n DESC, user_id
"""


@register(
    "agg_count_min_sketch",
    oracle=_ORACLE_CMS,
    tags=("agg", "sketch", "scale-path"),
    doc=(
        f"Count-Min sketch (Cormode & Muthukrishnan 2005): d={_CMS_D} "
        f"md5-salted hash rows x w={_CMS_W} buckets over the event "
        "stream's user_id frequencies — 256 BIGINT cells of state "
        "regardless of volume, built by one map-combinable hash "
        f"aggregate; point queries at the top-{_CMS_PROBES} exact heavy "
        "hitters read min over the d cells, and the overestimate column "
        "(cms_est - true_n, provably >= 0 since CMS errors are "
        "one-sided) quantifies collision noise at this w.  The "
        "bounded-memory frequency sketch beside the repo's Misra-Gries "
        "and KMV families; every count is an exact integer in both "
        "engines (shared md5 bucket text)."
    ),
)
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events").select("user_id")
    rows_spine = spark.range(_CMS_D).select(F.col("id").cast("int").alias("j"))
    cells = (
        ev.join(F.broadcast(rows_spine), F.lit(True))
        .groupBy(
            "j",
            F.expr(_CMS_BUCKET_SPARK.format(w=_CMS_W)).alias("bucket"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    truec = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_n")
    )
    probes = truec.orderBy(F.col("true_n").desc(), "user_id").limit(
        _CMS_PROBES
    )
    probe_hash = (
        _CMS_BUCKET_SPARK.format(w=_CMS_W)
        .replace("CAST(j AS STRING)", "CAST(pj AS STRING)")
    )
    probed = (
        probes.join(
            F.broadcast(rows_spine.select(F.col("j").alias("pj"))), F.lit(True)
        )
        .select("user_id", "true_n", "pj", F.expr(probe_hash).alias("pbucket"))
    )
    est = (
        probed.join(
            cells,
            (F.col("j") == F.col("pj")) & (F.col("bucket") == F.col("pbucket")),
        )
        .groupBy("user_id", "true_n")
        .agg(F.min("cnt").cast("bigint").alias("cms_est"))
    )
    return est.select(
        "user_id",
        "true_n",
        "cms_est",
        (F.col("cms_est") - F.col("true_n")).cast("bigint").alias(
            "overestimate"
        ),
    ).orderBy(F.col("true_n").desc(), "user_id")
