"""Warehouse-maintenance operator family: SCD2 point-in-time joins and
incremental partition-overwrite rollups.

These are the two patterns a daily-cron relational ETL (the reference's
Jenkins re-run + ON CONFLICT merge, reference README.md:115-127 +
load.py:94-116) grows into at warehouse scale:

- **SCD2 / point-in-time join**: the reference keeps only the latest
  dimension row per ad (keep-last dedup, reference transform.py:97).  The
  scale-out generalization keeps *every* version with a validity interval
  and joins facts to the version in effect at fact time.
- **Incremental partition rollup**: the reference recomputes a sliding
  "today" window and merges it over the target (load.py:94-116).  The
  lakehouse analog rewrites only the affected date partitions via dynamic
  partition overwrite — the whole-table history is never touched.

Scale notes (100 TB posture):
- The SCD2 join is an equi-join on the entity key with interval predicates
  as residual filters: versions-per-entity is small and bounded, so the
  shuffle moves each user's version list next to its facts — never a
  broadcast of the full history, never a cross product.
- The rollup writes with ``partitionOverwriteMode=dynamic`` so a re-run of
  an N-day window issues N partition replacements regardless of table
  history size; re-running the same window is idempotent (same input ->
  same partition contents), which is the exactly-once story the
  reference's ON CONFLICT merge provides row-wise.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.safe_math import dec
from ..io import load_table
from ..operators.text import md5_u32
from ..session import pin_query_session_conf
from .registry import register

# ---------------------------------------------------------------------------
# SCD2 point-in-time join.
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
WITH versions AS (
  SELECT user_id,
         ts AS valid_from,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS version_no
  FROM events
  WHERE event_type = 'purchase')
SELECT c.event_id, c.user_id, v.version_no
FROM events c
JOIN versions v
  ON c.user_id = v.user_id
 AND c.ts >= v.valid_from
 AND (v.valid_to IS NULL OR c.ts < v.valid_to)
WHERE c.event_type = 'click'
ORDER BY c.event_id
"""


@register(
    "join_scd2_point_in_time",
    oracle=_SCD2_ORACLE,
    tags=("join", "temporal", "warehouse"),
    doc=(
        "SCD2 point-in-time join: purchase events define per-user dimension "
        "versions ([valid_from, valid_to) via LEAD over event time); each "
        "click fact joins to the version in effect at its timestamp. "
        "Equi-join on user_id with the interval test as a residual "
        "predicate — per-user version lists are bounded, so this is a "
        "plain shuffled join, no broadcast of history, no range explosion."
    ),
)
def join_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    versions = (
        events.where(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id")
        .withColumn("valid_to", F.lead("ts").over(w))
        .withColumn("version_no", F.row_number().over(w))
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("valid_from"),
            "valid_to",
            "version_no",
        )
    )
    clicks = events.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    in_effect = (
        (clicks.user_id == versions.v_user_id)
        & (clicks.ts >= versions.valid_from)
        & (versions.valid_to.isNull() | (clicks.ts < versions.valid_to))
    )
    return (
        clicks.join(versions, in_effect)
        .select("event_id", "user_id", "version_no")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Incremental rollup via dynamic partition overwrite.
# ---------------------------------------------------------------------------

_ROLLUP_ORACLE = """
SELECT CAST(ts AS DATE) AS event_date,
       event_type,
       COUNT(*) AS n_events,
       CAST(round(SUM(CAST(value AS DECIMAL(18,4))) * 100, 0) AS BIGINT)
         AS value_cents
FROM events
GROUP BY CAST(ts AS DATE), event_type
ORDER BY event_date, event_type
"""

#: The incremental run re-processes this sliding window (the reference's
#: HOURS_TO_PULL/today analog, reference extract.py:34-47).
_CUTOFF = "2024-01-25"
_REPROCESS_FROM = "2024-01-20"


def _daily_rollup(events: DataFrame) -> DataFrame:
    return events.groupBy(
        F.to_date("ts").alias("event_date"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(dec("value")) * 100, 0).cast("long").alias("value_cents"),
    )


@register(
    "events_incremental_rollup",
    oracle=_ROLLUP_ORACLE,
    tags=("sink", "incremental", "warehouse"),
    doc=(
        "Incremental daily rollup maintained by dynamic partition "
        "overwrite: an initial load covers days < 2024-01-25, then an "
        "incremental re-run of the sliding window >= 2024-01-20 "
        "(overlapping 5 days, like the reference's daily re-scan) replaces "
        "ONLY the window's date partitions. The read-back equals a full "
        "recompute — proving the overlap overwrite is idempotent and "
        "untouched history survives (static overwrite mode would have "
        "dropped it)."
    ),
)
def events_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    events = load_table(spark, sf_dir, "events")
    target = tempfile.mkdtemp(prefix="incr_rollup_") + "/daily"

    old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # Initial load: everything before the cutoff (as of a past run).
        _daily_rollup(
            events.where(F.to_date("ts") < F.lit(_CUTOFF))
        ).write.mode("overwrite").partitionBy("event_date").parquet(target)
        # Incremental run: sliding window, overlapping already-loaded days.
        # Dynamic mode replaces only the window's partitions.
        _daily_rollup(
            events.where(F.to_date("ts") >= F.lit(_REPROCESS_FROM))
        ).write.mode("overwrite").partitionBy("event_date").parquet(target)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)

    return (
        spark.read.parquet(target)
        .select("event_date", "event_type", "n_events", "value_cents")
        .orderBy("event_date", "event_type")
    )


@register(
    "layout_zorder_roundtrip",
    oracle="SELECT event_id, user_id, event_type FROM events ORDER BY event_id",
    tags=("layout", "warehouse"),
    doc=(
        "Z-order layout rewrite of events along (user_id, ts): rows are "
        "range-partitioned and sorted by a codegen'd Morton key so 2-d box "
        "predicates skip files via parquet min/max stats (the OPTIMIZE "
        "ZORDER analog; skipping measured in tests/test_training_ops.py). "
        "Layout ops must not change content — the oracle checks identity."
    ),
)
def layout_zorder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.indexing import zorder_layout

    pin_query_session_conf(spark)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.col("ts").cast("long").alias("ts_l")
    )
    out = tempfile.mkdtemp(prefix="zorder_") + "/events_z"
    zorder_layout(events, ["user_id", "ts_l"], out, num_files=8)
    return (
        spark.read.parquet(out)
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# SCD2 dimension BUILD with change suppression.
# ---------------------------------------------------------------------------

_SCD2_BUILD_ORACLE = """
WITH src AS (
  SELECT user_id, ts, event_id,
         CAST(round(CAST(value AS DECIMAL(18,4)) * 100, 0) AS BIGINT)
           AS attr_cents
  FROM events WHERE event_type = 'purchase'
),
flagged AS (
  SELECT user_id, ts, event_id, attr_cents,
         CASE WHEN LAG(attr_cents) OVER w IS NULL
                OR attr_cents <> LAG(attr_cents) OVER w
              THEN 1 ELSE 0 END AS chg
  FROM src
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
changes AS (SELECT user_id, ts, event_id, attr_cents FROM flagged WHERE chg = 1)
SELECT user_id,
       ROW_NUMBER() OVER w2 AS version_no,
       ts AS valid_from,
       LEAD(ts) OVER w2 AS valid_to,
       CASE WHEN LEAD(ts) OVER w2 IS NULL THEN 1 ELSE 0 END AS is_current,
       attr_cents
FROM changes
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, version_no
"""


@register(
    "warehouse_scd2_build",
    oracle=_SCD2_BUILD_ORACLE,
    tags=("warehouse", "temporal", "window"),
    doc=(
        "SCD2 dimension BUILD from a changelog with change suppression: "
        "consecutive versions with an unchanged tracked attribute are "
        "collapsed (lag-compare), survivors get [valid_from, valid_to) "
        "intervals via LEAD plus an is_current flag. This is the "
        "keep-every-version generalization of the reference's keep-latest "
        "upsert (reference load.py:94-119, transform.py:97): two window "
        "passes over the same user_id partitioning — one shuffle total, "
        "change detection never leaves the partition."
    ),
)
def warehouse_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    src = events.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.round(dec("value") * 100, 0).cast("long").alias("attr_cents"),
    )
    changes = (
        src.withColumn("prev", F.lag("attr_cents").over(w))
        .where(F.col("prev").isNull() | (F.col("attr_cents") != F.col("prev")))
        .drop("prev")
    )
    return (
        changes.withColumn("version_no", F.row_number().over(w))
        .withColumn("valid_to", F.lead("ts").over(w))
        .select(
            "user_id",
            "version_no",
            F.col("ts").alias("valid_from"),
            "valid_to",
            F.when(F.col("valid_to").isNull(), 1).otherwise(0).alias("is_current"),
            "attr_cents",
        )
        .orderBy("user_id", "version_no")
    )


# ---------------------------------------------------------------------------
# Data-quality expectations audit (one pass per table, unioned summary).
# ---------------------------------------------------------------------------

_DQ_ORACLE = """
SELECT 'orders_fk_customer' AS check_name,
       (SELECT COUNT(*) FROM orders o LEFT JOIN customer c
          ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)
         AS violations,
       (SELECT COUNT(*) FROM orders) AS total
UNION ALL
SELECT 'lineitem_fk_orders',
       (SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o
          ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL),
       (SELECT COUNT(*) FROM lineitem)
UNION ALL
SELECT 'customer_pk_unique',
       (SELECT CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) FROM
         (SELECT COUNT(*) AS n FROM customer GROUP BY c_custkey) t
        WHERE n > 1),
       (SELECT COUNT(*) FROM customer)
UNION ALL
SELECT 'events_value_null_or_negative',
       (SELECT COUNT(*) FROM events WHERE value IS NULL OR value < 0),
       (SELECT COUNT(*) FROM events)
UNION ALL
SELECT 'documents_text_empty',
       (SELECT COUNT(*) FROM documents WHERE text IS NULL
          OR length(trim(text)) = 0),
       (SELECT COUNT(*) FROM documents)
ORDER BY check_name
"""


@register(
    "dq_expectations_summary",
    oracle=_DQ_ORACLE,
    tags=("warehouse", "quality", "reference-parity"),
    doc=(
        "Data-quality expectations audit — the validation gate the "
        "reference's load step implies but never codifies (staging insert + "
        "merge, reference load.py:30-119): FK orphan counts via LEFT "
        "anti-join shape, PK duplicate mass, null/negative measures, empty "
        "documents; one summary row per check. Each check is an "
        "independent aggregate the optimizer can run in parallel; FK "
        "checks broadcast the dim-side key set when small."
    ),
)
def dq_expectations_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")
    documents = load_table(spark, sf_dir, "documents")

    def summary(name: str, violations: DataFrame, total: DataFrame) -> DataFrame:
        v = violations.agg(F.count(F.lit(1)).alias("violations"))
        t = total.agg(F.count(F.lit(1)).alias("total"))
        return v.crossJoin(t).select(
            F.lit(name).alias("check_name"), "violations", "total"
        )

    fk_orders = summary(
        "orders_fk_customer",
        orders.join(
            customer, orders.o_custkey == customer.c_custkey, "left_anti"
        ),
        orders,
    )
    fk_lineitem = summary(
        "lineitem_fk_orders",
        lineitem.join(
            orders, lineitem.l_orderkey == orders.o_orderkey, "left_anti"
        ),
        lineitem,
    )
    pk_dups = (
        customer.groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .agg(F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).alias("violations"))
        .crossJoin(customer.agg(F.count(F.lit(1)).alias("total")))
        .select(F.lit("customer_pk_unique").alias("check_name"), "violations", "total")
    )
    ev_bad = summary(
        "events_value_null_or_negative",
        events.where(F.col("value").isNull() | (F.col("value") < 0)),
        events,
    )
    doc_empty = summary(
        "documents_text_empty",
        documents.where(
            F.col("text").isNull() | (F.length(F.trim("text")) == 0)
        ),
        documents,
    )
    return (
        fk_orders.unionAll(fk_lineitem)
        .unionAll(pk_dups)
        .unionAll(ev_bad)
        .unionAll(doc_empty)
        .orderBy("check_name")
    )


# ---------------------------------------------------------------------------
# Date-partitioned layout + partition-pruned read roundtrip.
# ---------------------------------------------------------------------------

_PRUNE_LO, _PRUNE_HI = "2024-01-08", "2024-01-14"

_ORACLE_PARTITION_PRUNE = f"""
SELECT event_id, user_id, event_type, CAST(ts AS DATE) AS event_date
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '{_PRUNE_LO}' AND DATE '{_PRUNE_HI}'
ORDER BY event_id
"""


@register(
    "layout_partition_prune_roundtrip",
    oracle=_ORACLE_PARTITION_PRUNE,
    tags=("layout", "warehouse", "scale"),
    doc=(
        "Hive-style date-partitioned layout roundtrip: events written "
        "partitionBy(event_date), read back with a date-range predicate "
        "that resolves at PLANNING time as PartitionFilters (directory "
        "pruning — zero data files outside the window are opened; asserted "
        "in tests/test_io_formats.py). The foundational 100 TB layout: "
        "time-range queries and incremental jobs touch O(window) storage, "
        "not O(history). Oracle checks the pruned read returns exactly the "
        "predicate's rows."
    ),
)
def layout_partition_prune_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.col("ts").cast("date").alias("event_date")
    )
    out = tempfile.mkdtemp(prefix="datepart_") + "/events_by_date"
    events.write.mode("overwrite").partitionBy("event_date").parquet(out)
    lo = F.lit(_PRUNE_LO).cast("date")
    hi = F.lit(_PRUNE_HI).cast("date")
    return (
        spark.read.parquet(out)
        .where(F.col("event_date").between(lo, hi))
        .select("event_id", "user_id", "event_type", "event_date")
        .orderBy("event_id")
    )


@register(
    "layout_compact_roundtrip",
    oracle=(
        "SELECT event_id, user_id, event_type FROM events ORDER BY event_id"
    ),
    tags=("layout", "warehouse"),
    doc=(
        "Small-file compaction roundtrip: events fragmented into 64 tiny "
        "files, then compacted to ~target-size files "
        "(compact_to_target_files — the lakehouse OPTIMIZE analog that "
        "keeps scan task counts sane at 100 TB). Layout ops must not "
        "change content: the oracle checks row identity."
    ),
)
def layout_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.indexing import compact_to_target_files

    pin_query_session_conf(spark)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    base = tempfile.mkdtemp(prefix="compact_")
    frag, compacted = f"{base}/frag", f"{base}/compacted"
    events.repartition(64).write.mode("overwrite").parquet(frag)
    compact_to_target_files(spark.read.parquet(frag), compacted, target_mb=64)
    return (
        spark.read.parquet(compacted)
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Incremental aggregate-view maintenance (algebraic merge).
# ---------------------------------------------------------------------------

_IVM_CUTOFF = "2024-01-20"

_ORACLE_IVM = f"""
WITH base AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(round(SUM(CAST(value AS DECIMAL(18,4))) * 100, 0) AS BIGINT)
           AS cents
  FROM events WHERE CAST(ts AS DATE) < DATE '{_IVM_CUTOFF}'
  GROUP BY 1
),
delta AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(round(SUM(CAST(value AS DECIMAL(18,4))) * 100, 0) AS BIGINT)
           AS cents
  FROM events WHERE CAST(ts AS DATE) >= DATE '{_IVM_CUTOFF}'
  GROUP BY 1
)
SELECT COALESCE(b.event_type, d.event_type) AS event_type,
       COALESCE(b.n, 0) + COALESCE(d.n, 0) AS n_events,
       COALESCE(b.cents, 0) + COALESCE(d.cents, 0) AS total_cents
FROM base b FULL OUTER JOIN delta d ON b.event_type = d.event_type
ORDER BY event_type
"""


@register(
    "warehouse_incremental_agg_merge",
    oracle=_ORACLE_IVM,
    tags=("warehouse", "incremental"),
    doc=(
        "Incremental view maintenance by ALGEBRAIC MERGE: the materialized "
        "aggregate over history merges with the new batch's partial "
        "aggregate via full-outer join + additive combine — never "
        "re-scanning history (the O(delta) nightly refresh; the reference "
        "re-aggregates its sliding window then upserts, load.py:94-116 — "
        "same algebra, file-grain). Works for any commutative-monoid "
        "aggregate (count/sum here; min/max/HLL merge identically). The "
        "oracle proves merge == full recompute."
    ),
)
def warehouse_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_IVM_CUTOFF).cast("date")

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(dec("value")) * 100, 0).cast("long").alias("cents"),
        )

    base = agg(ev.where(F.col("ts").cast("date") < cutoff))
    delta = agg(ev.where(F.col("ts").cast("date") >= cutoff))
    b, d = base.alias("b"), delta.alias("d")
    return (
        b.join(d, F.col("b.event_type") == F.col("d.event_type"), "full_outer")
        .select(
            F.coalesce(F.col("b.event_type"), F.col("d.event_type")).alias(
                "event_type"
            ),
            (
                F.coalesce(F.col("b.n"), F.lit(0))
                + F.coalesce(F.col("d.n"), F.lit(0))
            ).alias("n_events"),
            (
                F.coalesce(F.col("b.cents"), F.lit(0))
                + F.coalesce(F.col("d.cents"), F.lit(0))
            ).alias("total_cents"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Corrupt-tolerant JSONL ingestion (PERMISSIVE + quarantine).
# ---------------------------------------------------------------------------

_JSONL_QUARANTINE_ORACLE = """
SELECT lang, COUNT(*) AS n
FROM documents WHERE doc_id % 37 <> 0 GROUP BY lang
UNION ALL
SELECT '__corrupt__' AS lang, COUNT(*) AS n
FROM documents WHERE doc_id % 37 = 0
ORDER BY lang
"""


@register(
    "io_jsonl_quarantine_roundtrip",
    oracle=_JSONL_QUARANTINE_ORACLE,
    tags=("io", "ingestion", "north-star"),
    doc=(
        "Corrupt-tolerant JSONL ingestion: documents are serialized to "
        "JSON lines with every doc_id % 37 == 0 line deterministically "
        "mangled (unclosed-brace prefix), read back PERMISSIVE with a "
        "_corrupt_record quarantine column, and summarized as per-lang "
        "good counts plus a __corrupt__ bucket. A 100 TB crawl batch WILL "
        "contain truncated lines; the contract is one quarantined row per "
        "bad line — never a failed job (FAILFAST) or a silent drop "
        "(DROPMALFORMED). The oracle recomputes the expected split from "
        "the mangling rule, so the parse/quarantine boundary itself is "
        "value-verified."
    ),
)
def io_jsonl_quarantine_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io import read_jsonl_quarantine

    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    payload = F.to_json(F.struct("doc_id", "lang", "source"))
    line = F.when(
        F.col("doc_id") % 37 == 0, F.concat(F.lit('{"broken'), payload)
    ).otherwise(payload)
    target = tempfile.mkdtemp(prefix="jsonl_q_") + "/docs_jsonl"
    docs.select(line.alias("value")).write.mode("overwrite").text(target)

    parsed = read_jsonl_quarantine(
        spark, target, "doc_id long, lang string, source string"
    )
    return (
        parsed.select(
            F.when(F.col("_corrupt_record").isNotNull(), "__corrupt__")
            .otherwise(F.col("lang"))
            .alias("lang")
        )
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Manifest-based snapshot versioning (time travel without table-format jars).
# ---------------------------------------------------------------------------

_TIME_TRAVEL_ORACLE = """
SELECT 'changed' AS status, COUNT(*) AS n
FROM documents WHERE doc_id % 5 <> 0 AND doc_id % 7 = 0
UNION ALL
SELECT 'deleted' AS status, COUNT(*) AS n
FROM documents WHERE doc_id % 5 = 0
UNION ALL
SELECT 'unchanged' AS status, COUNT(*) AS n
FROM documents WHERE doc_id % 5 <> 0 AND doc_id % 7 <> 0
ORDER BY status
"""


@register(
    "lakehouse_time_travel_diff",
    oracle=_TIME_TRAVEL_ORACLE,
    tags=("warehouse", "lakehouse", "north-star"),
    doc=(
        "Snapshot versioning + time travel on plain parquet "
        "(operators/lakehouse.py): commit v1 of the documents dimension, "
        "commit v2 with deterministic deletes (doc_id % 5 == 0) and "
        "updates (lang rewritten where doc_id % 7 == 0), then read BOTH "
        "snapshots back through their manifests and diff them — the "
        "deleted/changed/unchanged audit a table format gives you, built "
        "from a manifest-rename commit protocol (no delta/iceberg jars in "
        "this environment; the manifest IS the mechanism theirs use). "
        "Reading v1 after v2's commit is the snapshot-isolation check. "
        "The oracle recomputes the expected split from the same modulo "
        "rules. Manifests carry file paths only — megabytes at 100 TB."
    ),
)
def lakehouse_time_travel_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.lakehouse import commit_version, read_version

    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    table = tempfile.mkdtemp(prefix="lakehouse_tt_") + "/dim_documents"

    commit_version(docs, table)
    v2_df = docs.where(F.col("doc_id") % 5 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.lit("xx"))
        .otherwise(F.col("lang"))
        .alias("lang"),
    )
    commit_version(v2_df, table)

    v1 = read_version(spark, table, 1).select(
        "doc_id", F.col("lang").alias("lang_v1")
    )
    v2 = read_version(spark, table, 2).select(
        "doc_id", F.col("lang").alias("lang_v2")
    )
    status = (
        F.when(F.col("lang_v2").isNull(), "deleted")
        .when(F.col("lang_v1") != F.col("lang_v2"), "changed")
        .otherwise("unchanged")
    )
    # fixed 3-status spine: the audit must report a zero count rather
    # than dropping a status row entirely (the oracle's COUNT(*) form
    # always emits all three; found by the r8 degenerate-fixture differ
    # where no doc changed)
    spine = spark.createDataFrame(
        [("changed",), ("deleted",), ("unchanged",)], "status string"
    )
    counts = (
        v1.join(v2, "doc_id", "left")
        .select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        spine.join(counts, "status", "left")
        .select("status", F.coalesce("n", F.lit(0)).cast("long").alias("n"))
        .orderBy("status")
    )


_INCREMENTAL_SCAN_ORACLE = """
SELECT lang, COUNT(*) AS n,
       CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS chars
FROM documents WHERE doc_id % 3 = 2
GROUP BY lang ORDER BY lang
"""


@register(
    "lakehouse_incremental_scan",
    oracle=_INCREMENTAL_SCAN_ORACLE,
    tags=("warehouse", "lakehouse", "incremental", "north-star"),
    doc=(
        "Incremental consumption off append commits "
        "(operators/lakehouse.py: commit_append/read_changes): the "
        "documents corpus arrives as three append batches (doc_id % 3); a "
        "downstream job that checkpointed after batch 2 reads ONLY the "
        "files batch 3 added — never rescanning the table — and "
        "aggregates the delta. Append commits reference the previous "
        "manifest's files instead of rewriting them, so ingest cost is "
        "O(new data) on a table of any size, and the change set between "
        "two versions is an exact file-list difference, not a "
        "timestamp-column guess. Oracle recomputes the batch-3 aggregate "
        "from the same modulo rule."
    ),
)
def lakehouse_incremental_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.lakehouse import commit_append, read_changes

    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    table = tempfile.mkdtemp(prefix="lakehouse_incr_") + "/documents"
    for batch in range(3):
        commit_append(docs.where(F.col("doc_id") % 3 == batch), table)
    delta = read_changes(spark, table, from_version=2, to_version=3)
    return (
        delta.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("n_chars").cast("long")).alias("chars"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Retraction-aware incremental aggregation (changelog / +I -D maintenance).
# ---------------------------------------------------------------------------

def changelog_agg_merge(
    view: DataFrame, delta: DataFrame, key: str, count_col: str
) -> DataFrame:
    """Merge a signed delta partial aggregate into a maintained view:
    full-outer join on ``key``, add every non-key column positionally,
    drop groups whose maintained ``count_col`` reached zero. Both inputs
    must share the schema ``(key, count_col, addends...)``."""
    cols = [c for c in view.columns if c != key]
    v, d = view.alias("v"), delta.alias("d")
    merged = v.join(d, F.col(f"v.{key}") == F.col(f"d.{key}"), "full_outer").select(
        F.coalesce(F.col(f"v.{key}"), F.col(f"d.{key}")).alias(key),
        *[
            (
                F.coalesce(F.col(f"v.{c}"), F.lit(0))
                + F.coalesce(F.col(f"d.{c}"), F.lit(0))
            ).alias(c)
            for c in cols
        ],
    )
    return merged.where(F.col(count_col) > 0)


_ORACLE_IVM_RETRACT = """
WITH final_rows AS (
  SELECT CASE WHEN o_orderkey % 10 = 0 THEN 'X' ELSE o_orderstatus END
           AS o_orderstatus,
         o_totalprice
  FROM orders
  WHERE o_orderkey % 17 <> 0
)
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38, 10))) * 100, 0)
            AS BIGINT) AS total_cents
FROM final_rows
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@register(
    "warehouse_incremental_agg_retract",
    oracle=_ORACLE_IVM_RETRACT,
    tags=("warehouse", "incremental", "cdc", "north-star"),
    doc=(
        "RETRACTION-aware incremental view maintenance (the Flink "
        "changelog model): the materialized aggregate absorbs a +I/-D "
        "changelog batch — deletes retract (-D old), updates retract-"
        "then-insert (-D old, +I new) — via one SIGNED partial aggregate "
        "over the delta merged into the view with a full-outer additive "
        "combine; groups whose maintained count reaches zero drop out of "
        "the view entirely. Insert-only maintenance "
        "(warehouse_incremental_agg_merge) cannot express updates or "
        "deletes; this is the general form, still O(delta) — history is "
        "never rescanned. Fixture changelog from modulo rules: "
        "o_orderkey % 17 == 0 deleted, else % 10 == 0 status -> 'X'. "
        "Oracle recomputes the final state directly from the same rules, "
        "proving maintained == recomputed."
    ),
)
def warehouse_incremental_agg_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )

    # Materialized view state: aggregate over the full base (built once;
    # in production this is the stored view, not a recompute).
    def signed_agg(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.sum("sign").cast("long").alias("n_orders"),
            F.round(F.sum(dec("o_totalprice") * F.col("sign")) * 100, 0)
            .cast("long")
            .alias("total_cents"),
        )

    view = signed_agg(orders.withColumn("sign", F.lit(1)))

    deleted = F.col("o_orderkey") % 17 == 0
    updated = F.col("o_orderkey") % 10 == 0
    retract = orders.where(deleted | updated).withColumn("sign", F.lit(-1))
    insert = (
        orders.where(~deleted & updated)
        .withColumn("o_orderstatus", F.lit("X"))
        .withColumn("sign", F.lit(1))
    )
    delta = signed_agg(retract.unionByName(insert))
    return changelog_agg_merge(
        view, delta, key="o_orderstatus", count_col="n_orders"
    ).orderBy("o_orderstatus")


# ---------------------------------------------------------------------------
# Bucketed at-rest layout: the recurring-join shuffle paid once, at write.
# ---------------------------------------------------------------------------

_ORACLE_BUCKETED_JOIN = """
SELECT c.c_mktsegment,
       COUNT(*) AS n_orders,
       CAST(round(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) * 100, 0)
            AS BIGINT) AS total_cents
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1
ORDER BY 1
"""


@register(
    "layout_bucketed_join_roundtrip",
    oracle=_ORACLE_BUCKETED_JOIN,
    tags=("layout", "warehouse", "join", "scale"),
    doc=(
        "Bucketed-table co-located join: orders and customer are written "
        "bucketBy(8, custkey) + sortBy (Spark's at-rest hash-partitioned "
        "layout), then joined via a sort-merge hint so the join consumes "
        "the bucket layout directly — ZERO Exchange on either side "
        "(asserted in tests/test_bucketing.py). This is how a recurring "
        "100 TB fact<->dim join amortizes its shuffle: pay the "
        "partitioning once at ingest, and every subsequent join/agg on "
        "the bucket key is shuffle-free. Results must be layout-invariant "
        "— the oracle runs the naive join; money sums go through exact "
        "DECIMAL->cents, never float."
    ),
)
def layout_bucketed_join_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    base = tempfile.mkdtemp(prefix="bucketed_join_")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    spark.sql("DROP TABLE IF EXISTS bj_orders")
    spark.sql("DROP TABLE IF EXISTS bj_customer")
    (
        orders.write.mode("overwrite")
        .option("path", f"{base}/orders")
        .bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .saveAsTable("bj_orders")
    )
    (
        customer.write.mode("overwrite")
        .option("path", f"{base}/customer")
        .bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .saveAsTable("bj_customer")
    )
    ob, cb = spark.table("bj_orders"), spark.table("bj_customer")
    # merge hint: force SMJ (not broadcast) so the join actually exercises
    # the bucket co-location; the hint is plan-local, no session conf touched.
    joined = ob.join(cb.hint("merge"), ob.o_custkey == cb.c_custkey)
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.round(F.sum(dec("o_totalprice")) * 100, 0))
            .cast("bigint")
            .alias("total_cents"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Manifest-level data skipping (per-file min/max stats).
# ---------------------------------------------------------------------------

_SKIP_LO, _SKIP_HI = "2024-01-08", "2024-01-14"

_ORACLE_STATS_PRUNED = f"""
SELECT event_type, COUNT(*) AS n,
       CAST(round(SUM(CAST(value AS DECIMAL(18,4))) * 100, 0) AS BIGINT)
         AS value_cents
FROM events
WHERE strftime(ts, '%Y-%m-%d') BETWEEN '{_SKIP_LO}' AND '{_SKIP_HI}'
GROUP BY 1 ORDER BY 1
"""


@register(
    "lakehouse_stats_pruned_scan",
    oracle=_ORACLE_STATS_PRUNED,
    tags=("warehouse", "lakehouse", "layout", "scale"),
    doc=(
        "File-level data skipping off manifest column stats "
        "(operators/lakehouse.py: commit_append(stats_cols)/"
        "read_version_pruned — the Delta/Iceberg per-file min/max "
        "analog): events are ingested as 5 weekly append commits, each "
        "recording its files' min/max ingest date in the manifest; a "
        "one-week query then consults the stats FIRST and opens only the "
        "files whose range can overlap — the other weeks' files never "
        "reach the parquet scan (skip count asserted in "
        "tests/test_lakehouse.py). The exact predicate is re-applied to "
        "the surviving rows, so the stats are purely an optimization and "
        "the oracle (plain filtered aggregate over the whole table) "
        "proves it. On a time-ordered 100 TB table this is the difference "
        "between an O(window) and an O(history) scan, before partition "
        "pruning or row-group skipping even start."
    ),
)
def lakehouse_stats_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.lakehouse import commit_append, read_version_pruned

    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.date_format("ts", "yyyy-MM-dd").alias("d"),
    )
    table = tempfile.mkdtemp(prefix="lakehouse_skip_") + "/events"
    # weekly time-ordered ingest: each commit's files carry a tight d-range
    for lo, hi in (
        ("2024-01-01", "2024-01-07"),
        ("2024-01-08", "2024-01-14"),
        ("2024-01-15", "2024-01-21"),
        ("2024-01-22", "2024-01-28"),
        ("2024-01-29", "2024-02-04"),
    ):
        commit_append(
            ev.where(F.col("d").between(lo, hi)), table, stats_cols=("d",)
        )
    pruned = read_version_pruned(spark, table, "d", _SKIP_LO, _SKIP_HI)
    return (
        pruned.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.round(F.sum(dec("value")) * 100, 0))
            .cast("bigint")
            .alias("value_cents"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Change data feed between committed versions (Delta CDF analog).
# ---------------------------------------------------------------------------

_ORACLE_CDF = """
WITH v1 AS (SELECT doc_id, lang FROM documents),
v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 7 THEN lang || 'x' ELSE lang END AS lang
  FROM documents WHERE doc_id % 10 <> 3
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, 'new' AS lang
  FROM documents WHERE doc_id % 10 = 0
),
j AS (
  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
         a.lang AS lang_v1, b.lang AS lang_v2
  FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
)
SELECT doc_id, lang_v1 AS lang, 'delete' AS change_type
  FROM j WHERE lang_v2 IS NULL
UNION ALL
SELECT doc_id, lang_v2 AS lang, 'insert' AS change_type
  FROM j WHERE lang_v1 IS NULL
UNION ALL
SELECT doc_id, lang_v1 AS lang, 'update_preimage' AS change_type
  FROM j WHERE lang_v1 IS NOT NULL AND lang_v2 IS NOT NULL
             AND lang_v1 <> lang_v2
UNION ALL
SELECT doc_id, lang_v2 AS lang, 'update_postimage' AS change_type
  FROM j WHERE lang_v1 IS NOT NULL AND lang_v2 IS NOT NULL
             AND lang_v1 <> lang_v2
ORDER BY change_type, doc_id
"""


@register(
    "lakehouse_change_data_feed",
    oracle=_ORACLE_CDF,
    tags=("warehouse", "lakehouse", "incremental"),
    doc=(
        "Change data feed between two committed snapshots (the Delta CDF "
        "analog on the manifest protocol): v2 applies deletes (doc_id%10=3), "
        "updates (%10=7 lang rewrite) and inserts (%10=0 new ids) over v1; "
        "the feed classifies every changed row as delete / insert / "
        "update_preimage / update_postimage via one full-outer join of the "
        "two snapshot reads — the row-level diff a downstream incremental "
        "consumer replays instead of re-deriving state from full snapshots "
        "(and the input shape warehouse_cdc_apply/_retract consume). "
        "Unchanged rows never appear: at 100 TB the feed is O(changed "
        "rows) after the join, and the join itself shuffles both snapshots "
        "once on the key — the unavoidable cost of DIFFING snapshots; "
        "ingest-time CDF capture (writer emits changes as it commits, "
        "like Delta) is the zero-extra-scan path this query's output "
        "contract is compatible with."
    ),
)
def lakehouse_change_data_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.lakehouse import commit_version, read_version

    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    table = tempfile.mkdtemp(prefix="lakehouse_cdf_") + "/documents"
    v2 = (
        docs.where(F.col("doc_id") % 10 != 3)
        .withColumn(
            "lang",
            F.when(
                F.col("doc_id") % 10 == 7, F.concat("lang", F.lit("x"))
            ).otherwise(F.col("lang")),
        )
        .unionByName(
            docs.where(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.lit("new").alias("lang"),
            )
        )
    )
    commit_version(docs, table)
    commit_version(v2, table)
    a = read_version(spark, table, 1).select(
        "doc_id", F.col("lang").alias("lang_v1")
    )
    b = read_version(spark, table, 2).select(
        "doc_id", F.col("lang").alias("lang_v2")
    )
    j = a.join(b, "doc_id", "full_outer")
    changes = j.select(
        "doc_id",
        F.explode(
            F.when(
                F.col("lang_v2").isNull(),
                F.array(F.struct(F.col("lang_v1").alias("lang"),
                                 F.lit("delete").alias("change_type"))),
            )
            .when(
                F.col("lang_v1").isNull(),
                F.array(F.struct(F.col("lang_v2").alias("lang"),
                                 F.lit("insert").alias("change_type"))),
            )
            .when(
                F.col("lang_v1") != F.col("lang_v2"),
                F.array(
                    F.struct(F.col("lang_v1").alias("lang"),
                             F.lit("update_preimage").alias("change_type")),
                    F.struct(F.col("lang_v2").alias("lang"),
                             F.lit("update_postimage").alias("change_type")),
                ),
            )
            .otherwise(F.array().cast(
                "array<struct<lang:string,change_type:string>>"
            ))
        ).alias("c"),
    )
    return changes.select(
        "doc_id", "c.lang", "c.change_type"
    ).orderBy("change_type", "doc_id")


# ---------------------------------------------------------------------------
# Copy-on-write DELETE bounded by manifest stats.
# ---------------------------------------------------------------------------

_DEL_LO, _DEL_HI = "2024-01-08", "2024-01-14"

_ORACLE_DELETE_REWRITE = f"""
SELECT event_type, COUNT(*) AS n,
       CAST(round(SUM(CAST(value AS DECIMAL(18,4))) * 100, 0) AS BIGINT)
         AS value_cents
FROM events
WHERE strftime(ts, '%Y-%m-%d') NOT BETWEEN '{_DEL_LO}' AND '{_DEL_HI}'
GROUP BY 1 ORDER BY 1
"""


@register(
    "lakehouse_delete_rewrite",
    oracle=_ORACLE_DELETE_REWRITE,
    tags=("warehouse", "lakehouse", "scale"),
    doc=(
        "Copy-on-write DELETE (operators/lakehouse.py: delete_where — the "
        "Delta/Iceberg delete mechanic, and the GDPR-erasure primitive): "
        "events land as 5 weekly append commits with per-file date stats; "
        "deleting one week consults the stats FIRST, rewrites ONLY the "
        "files whose range overlaps the predicate, and publishes a "
        "manifest that shares every untouched file with the previous "
        "version byte-for-byte (file sharing + O(matching files) write "
        "amplification asserted in tests/test_lakehouse.py). The "
        "pre-delete snapshot stays time-travelable until vacuum — which "
        "is exactly when an erasure becomes physically complete. Oracle: "
        "the post-delete aggregate equals a plain NOT-BETWEEN filter over "
        "the source."
    ),
)
def lakehouse_delete_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.lakehouse import commit_append, delete_where, read_version

    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.date_format("ts", "yyyy-MM-dd").alias("d"),
    )
    table = tempfile.mkdtemp(prefix="lakehouse_del_") + "/events"
    for lo, hi in (
        ("2024-01-01", "2024-01-07"),
        ("2024-01-08", "2024-01-14"),
        ("2024-01-15", "2024-01-21"),
        ("2024-01-22", "2024-01-28"),
        ("2024-01-29", "2024-02-04"),
    ):
        commit_append(
            ev.where(F.col("d").between(lo, hi)), table, stats_cols=("d",)
        )
    delete_where(spark, table, "d", _DEL_LO, _DEL_HI, stats_cols=("d",))
    return (
        read_version(spark, table)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.round(F.sum(dec("value")) * 100, 0))
            .cast("bigint")
            .alias("value_cents"),
        )
        .orderBy("event_type")
    )


_ORACLE_UPDATE_REWRITE = f"""
SELECT CASE WHEN strftime(ts, '%Y-%m-%d') BETWEEN '{_DEL_LO}' AND '{_DEL_HI}'
            THEN event_type || '_adj' ELSE event_type END AS event_type,
       COUNT(*) AS n,
       CAST(round(SUM(CAST(value AS DECIMAL(18,4))) * 100, 0) AS BIGINT)
         AS value_cents
FROM events
GROUP BY 1 ORDER BY 1
"""


@register(
    "lakehouse_update_rewrite",
    oracle=_ORACLE_UPDATE_REWRITE,
    tags=("warehouse", "lakehouse", "scale"),
    doc=(
        "Copy-on-write UPDATE (operators/lakehouse.py: update_where): a "
        "backfill correction re-tags one ingest week's event_type, "
        "rewriting ONLY the stats-overlapping files (non-matching rows in "
        "a candidate file pass through verbatim; untouched files carry "
        "over by reference). With delete_where and the parquet_upsert "
        "MERGE composition this completes the lakehouse DML trio — "
        "UPDATE/DELETE/MERGE — all with stats-bounded write amplification "
        "and time-travelable history. Oracle: the post-update aggregate "
        "equals a CASE-WHEN rewrite over the source."
    ),
)
def lakehouse_update_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.lakehouse import commit_append, read_version, update_where

    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.date_format("ts", "yyyy-MM-dd").alias("d"),
    )
    table = tempfile.mkdtemp(prefix="lakehouse_upd_") + "/events"
    for lo, hi in (
        ("2024-01-01", "2024-01-07"),
        ("2024-01-08", "2024-01-14"),
        ("2024-01-15", "2024-01-21"),
        ("2024-01-22", "2024-01-28"),
        ("2024-01-29", "2024-02-04"),
    ):
        commit_append(
            ev.where(F.col("d").between(lo, hi)), table, stats_cols=("d",)
        )
    update_where(
        spark,
        table,
        "d",
        _DEL_LO,
        _DEL_HI,
        set_exprs={"event_type": "concat(event_type, '_adj')"},
        stats_cols=("d",),
    )
    return (
        read_version(spark, table)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.round(F.sum(dec("value")) * 100, 0))
            .cast("bigint")
            .alias("value_cents"),
        )
        .orderBy("event_type")
    )


_ORACLE_OPTIMIZE = """
SELECT event_type, COUNT(*) AS n,
       CAST(round(SUM(CAST(value AS DECIMAL(18,4))) * 100, 0) AS BIGINT)
         AS value_cents
FROM events
GROUP BY 1 ORDER BY 1
"""


@register(
    "lakehouse_optimize_roundtrip",
    oracle=_ORACLE_OPTIMIZE,
    tags=("warehouse", "lakehouse", "layout"),
    doc=(
        "OPTIMIZE as a committed version (operators/lakehouse.py: "
        "optimize_table): five fragmented weekly append commits are "
        "collapsed into a date-clustered compact rewrite published as the "
        "next snapshot — content identical (the oracle is the plain "
        "whole-table aggregate), fewer files (asserted in "
        "tests/test_lakehouse.py), tighter per-file date stats for "
        "downstream skipping, and the fragmented history still "
        "time-travelable until vacuum. Completes the table-maintenance "
        "pair (OPTIMIZE + VACUUM) on the manifest protocol."
    ),
)
def lakehouse_optimize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.lakehouse import commit_append, optimize_table, read_version

    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.date_format("ts", "yyyy-MM-dd").alias("d"),
    )
    table = tempfile.mkdtemp(prefix="lakehouse_opt_") + "/events"
    for lo, hi in (
        ("2024-01-01", "2024-01-07"),
        ("2024-01-08", "2024-01-14"),
        ("2024-01-15", "2024-01-21"),
        ("2024-01-22", "2024-01-28"),
        ("2024-01-29", "2024-02-04"),
    ):
        commit_append(
            ev.where(F.col("d").between(lo, hi)), table, stats_cols=("d",)
        )
    optimize_table(
        spark, table, target_files=2, order_by=("d",), stats_cols=("d",)
    )
    return (
        read_version(spark, table)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.round(F.sum(dec("value")) * 100, 0))
            .cast("bigint")
            .alias("value_cents"),
        )
        .orderBy("event_type")
    )


_ORACLE_MERGE_UPSERT = """
WITH t AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         CAST(round(CAST(o_totalprice AS DECIMAL(18,4)) * 100, 0) AS BIGINT)
           AS cents
  FROM orders WHERE o_orderkey < 10000
),
merged AS (
  SELECT k, st, cents FROM t WHERE k NOT BETWEEN 2000 AND 3499
  UNION ALL
  SELECT k, 'M' AS st, 2 * cents FROM t WHERE k BETWEEN 2000 AND 2999
  UNION ALL
  SELECT o_orderkey AS k, o_orderstatus AS st,
         CAST(round(CAST(o_totalprice AS DECIMAL(18,4)) * 100, 0) AS BIGINT)
  FROM orders WHERE o_orderkey BETWEEN 12000 AND 12499
)
SELECT st AS o_orderstatus, COUNT(*) AS n,
       CAST(SUM(cents) AS BIGINT) AS total_cents
FROM merged GROUP BY 1 ORDER BY 1
"""


@register(
    "lakehouse_merge_upsert",
    oracle=_ORACLE_MERGE_UPSERT,
    tags=("warehouse", "lakehouse", "scale"),
    doc=(
        "MERGE INTO by copy-on-write (operators/lakehouse.py: merge_into) "
        "— the fourth lakehouse DML verb, Delta's whenMatchedUpdateAll / "
        "whenMatchedDelete / whenNotMatchedInsertAll: orders < 10000 land "
        "as four key-ranged append commits with per-file key stats; one "
        "CDC batch then updates keys 2000-2999 (status 'M', price x2), "
        "tombstones keys 3000-3499, and inserts keys 12000-12499. The "
        "source's key range bounds the rewrite to the overlapping files "
        "(file sharing asserted in tests/test_lakehouse.py); the rewrite "
        "is one left-anti join + union, and the retry loop re-merges "
        "against the winner's snapshot on commit conflicts. Oracle: the "
        "post-merge aggregate as a plain CASE/UNION over the source rows."
    ),
)
def lakehouse_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.lakehouse import commit_append, merge_into, read_version

    pin_query_session_conf(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        (F.round(dec("o_totalprice") * 100, 0)).cast("bigint").alias("cents"),
    )
    table = tempfile.mkdtemp(prefix="lakehouse_merge_") + "/orders"
    for lo, hi in ((0, 2499), (2500, 4999), (5000, 7499), (7500, 9999)):
        commit_append(
            orders.where(F.col("k").between(lo, hi)), table, stats_cols=("k",)
        )
    updates = (
        orders.where(F.col("k").between(2000, 2999))
        .withColumn("st", F.lit("M"))
        .withColumn("cents", F.col("cents") * 2)
        .withColumn("is_del", F.lit(False))
    )
    deletes = (
        orders.where(F.col("k").between(3000, 3499))
        .withColumn("is_del", F.lit(True))
    )
    inserts = orders.where(F.col("k").between(12000, 12499)).withColumn(
        "is_del", F.lit(False)
    )
    src = updates.unionByName(deletes).unionByName(inserts)
    merge_into(spark, table, src, keys=["k"], delete_col="is_del",
               stats_cols=("k",))
    return (
        read_version(spark, table)
        .groupBy(F.col("st").alias("o_orderstatus"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
        .orderBy("o_orderstatus")
    )


_SCD2_CUTOFF = "2024-01-25"


@register(
    "warehouse_scd2_incremental_apply",
    oracle=_SCD2_BUILD_ORACLE,
    tags=("warehouse", "temporal", "cdc", "north-star"),
    doc=(
        "Incremental SCD2 APPLY: the dimension is first built from the "
        "changelog BEFORE the cutoff, then the late changes apply "
        "incrementally — per affected key the CURRENT row becomes the "
        "anchor of a tail rebuild (anchor + late rows, one window pass: "
        "change suppression against the anchor's value, version numbers "
        "offset by the anchor's version_no, the anchor's open interval "
        "closes at the first surviving new change), while historical "
        "rows and untouched keys carry over UNTOUCHED. The anchor "
        "comparator is sound because suppression preserves value runs "
        "(the last raw pre-cutoff value always equals the current row's "
        "value). Work is O(affected keys + late rows), never O(dim). "
        "The oracle is the FULL-changelog SCD2 rebuild — value equality "
        "IS the incremental==batch invariant, the property every "
        "incremental warehouse pipeline must prove."
    ),
)
def warehouse_scd2_incremental_apply(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pin_query_session_conf(spark)
    events = load_table(spark, sf_dir, "events")
    src = events.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.round(dec("value") * 100, 0).cast("long").alias("attr_cents"),
    )
    cutoff = F.lit(_SCD2_CUTOFF).cast("timestamp")
    early, late = src.where(F.col("ts") < cutoff), src.where(
        F.col("ts") >= cutoff
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")

    def build(ch: DataFrame) -> DataFrame:  # SCD2 core, event_id retained
        changes = (
            ch.withColumn("prev", F.lag("attr_cents").over(w))
            .where(
                F.col("prev").isNull()
                | (F.col("attr_cents") != F.col("prev"))
            )
            .drop("prev")
        )
        return (
            changes.withColumn("version_no", F.row_number().over(w))
            .withColumn("valid_to", F.lead("ts").over(w))
            .select(
                "user_id",
                "version_no",
                F.col("ts").alias("valid_from"),
                "valid_to",
                F.when(F.col("valid_to").isNull(), 1)
                .otherwise(0)
                .alias("is_current"),
                "attr_cents",
                "event_id",
            )
        )

    base = build(early)
    affected = late.select("user_id").distinct()
    untouched = base.join(affected, "user_id", "left_anti")
    hist = base.join(affected, "user_id").where(F.col("is_current") == 0)
    anchors = (
        base.join(affected, "user_id")
        .where(F.col("is_current") == 1)
        .select(
            "user_id",
            F.col("valid_from").alias("ts"),
            "event_id",
            "attr_cents",
            (F.col("version_no") - 1).alias("voffset"),
            F.lit(True).alias("is_anchor"),
        )
    )
    tail_src = anchors.unionByName(
        late.select(
            "user_id",
            "ts",
            "event_id",
            "attr_cents",
            F.lit(0).alias("voffset"),
            F.lit(False).alias("is_anchor"),
        )
    )
    surv = (
        tail_src.withColumn("prev", F.lag("attr_cents").over(w))
        .where(
            F.col("is_anchor")
            | F.col("prev").isNull()
            | (F.col("attr_cents") != F.col("prev"))
        )
        .drop("prev")
    )
    woff = Window.partitionBy("user_id")
    tail = (
        surv.withColumn("voffset", F.max("voffset").over(woff))
        .withColumn("version_no", F.row_number().over(w) + F.col("voffset"))
        .withColumn("valid_to", F.lead("ts").over(w))
        .select(
            "user_id",
            "version_no",
            F.col("ts").alias("valid_from"),
            "valid_to",
            F.when(F.col("valid_to").isNull(), 1)
            .otherwise(0)
            .alias("is_current"),
            "attr_cents",
        )
    )
    drop_eid = ["user_id", "version_no", "valid_from", "valid_to",
                "is_current", "attr_cents"]
    return (
        untouched.select(*drop_eid)
        .unionByName(hist.select(*drop_eid))
        .unionByName(tail)
        .orderBy("user_id", "version_no")
    )


_ORACLE_DYNAMIC_OVERWRITE = """
WITH corrected AS (
  SELECT event_id, user_id,
         CASE WHEN CAST(ts AS DATE) BETWEEN DATE '2024-01-08'
                                        AND DATE '2024-01-14'
              THEN event_type || '_fixed' ELSE event_type END AS event_type,
         CAST(ts AS DATE) AS event_date
  FROM events
)
SELECT event_date, event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM corrected GROUP BY 1, 2 ORDER BY 1, 2
"""


@register(
    "layout_dynamic_partition_overwrite",
    oracle=_ORACLE_DYNAMIC_OVERWRITE,
    tags=("layout", "warehouse", "scale"),
    doc=(
        "DYNAMIC partition overwrite (partitionOverwriteMode=dynamic), "
        "the backfill mechanic on a Hive layout: the whole events table "
        "lands partitioned by date, then a one-week correction batch "
        "(event_type re-tagged) is written with mode('overwrite') — in "
        "dynamic mode Spark replaces ONLY the partitions present in the "
        "batch, in static mode the same call would have truncated the "
        "whole table. The read-back aggregate proves untouched "
        "partitions survived byte-for-byte while the week was replaced "
        "— the O(corrected window) backfill every dated 100 TB table "
        "relies on (the non-lakehouse counterpart of update_where's "
        "stats-bounded COW). Conf is scoped to the write, not leaked to "
        "the session."
    ),
)
def layout_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..session import scoped_conf

    pin_query_session_conf(spark)
    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.col("ts").cast("date").alias("event_date"),
    )
    out = tempfile.mkdtemp(prefix="dynpart_") + "/events_by_date"
    events.write.mode("overwrite").partitionBy("event_date").parquet(out)
    lo, hi = F.lit(_PRUNE_LO).cast("date"), F.lit(_PRUNE_HI).cast("date")
    correction = events.where(
        F.col("event_date").between(lo, hi)
    ).withColumn("event_type", F.concat("event_type", F.lit("_fixed")))
    with scoped_conf(
        spark, **{"spark.sql.sources.partitionOverwriteMode": "dynamic"}
    ):
        correction.write.mode("overwrite").partitionBy(
            "event_date"
        ).parquet(out)
    return (
        spark.read.parquet(out)
        .groupBy("event_date", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("event_date", "event_type")
    )


_ORACLE_LATE_DIM = """
WITH seg AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 <> 3 THEN c_mktsegment          -- on time
              WHEN c_custkey % 2 = 0 THEN c_mktsegment           -- repaired
              ELSE 'UNKNOWN' END AS segment                      -- still late
  FROM customer
)
SELECT s.segment, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(round(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) * 100, 0)
            AS BIGINT) AS total_cents
FROM orders o JOIN seg s ON o.o_custkey = s.c_custkey
GROUP BY s.segment ORDER BY s.segment
"""


@register(
    "warehouse_late_arriving_dimension",
    oracle=_ORACLE_LATE_DIM,
    tags=("warehouse", "join", "cdc"),
    doc=(
        "Late-arriving dimension handling (the inferred-member pattern): "
        "facts whose dimension row has not landed yet join to a "
        "generated UNKNOWN member instead of being dropped or stalling "
        "the load; when the real rows arrive, a REPAIR pass re-joins "
        "exactly the inferred-member facts (a keyed anti-set, never the "
        "fact table) and replaces the placeholder. Fixture: members "
        "with custkey%7==3 are late, the even half of them arrives in "
        "the repair batch, the odd half stays UNKNOWN — so the output "
        "exercises on-time, repaired, and still-unknown paths. Both "
        "joins broadcast the dimension side; the repair cost is "
        "O(inferred facts). Oracle: the equivalent one-shot CASE join."
    ),
)
def warehouse_late_arriving_dimension(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pin_query_session_conf(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    on_time = cust.where(F.col("c_custkey") % 7 != 3)
    late_arrivals = cust.where(
        (F.col("c_custkey") % 7 == 3) & (F.col("c_custkey") % 2 == 0)
    )
    # load pass: join what exists, infer UNKNOWN members for the rest
    loaded = orders.join(
        F.broadcast(on_time), orders.o_custkey == on_time.c_custkey, "left"
    ).select(
        "o_custkey",
        "o_totalprice",
        F.col("c_mktsegment").alias("segment"),
    )
    known = loaded.where(F.col("segment").isNotNull())
    inferred = loaded.where(F.col("segment").isNull()).drop("segment")
    # repair pass: ONLY inferred-member facts re-join the arrived rows
    repaired = inferred.join(
        F.broadcast(late_arrivals),
        inferred.o_custkey == late_arrivals.c_custkey,
        "left",
    ).select(
        "o_custkey",
        "o_totalprice",
        F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment"),
    )
    return (
        known.unionByName(repaired)
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum(dec("o_totalprice")) * 100, 0)
            .cast("bigint")
            .alias("total_cents"),
        )
        .orderBy("segment")
    )


_ORACLE_ACCUMULATING = """
WITH li AS (
  SELECT l_orderkey,
         MIN(l_shipdate) AS first_ship,
         MAX(l_shipdate) AS last_ship,
         COUNT(*) AS n_lines
  FROM lineitem GROUP BY l_orderkey
)
SELECT o.o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN li.l_orderkey IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_not_shipped,
       CAST(SUM(CASE WHEN li.first_ship IS NOT NULL
                 THEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                CAST(li.first_ship AS DATE)) END)
            AS BIGINT) AS sum_days_to_ship,
       CAST(SUM(CASE WHEN li.last_ship IS NOT NULL
                 THEN date_diff('day', CAST(li.first_ship AS DATE),
                                CAST(li.last_ship AS DATE)) END)
            AS BIGINT) AS sum_fulfillment_span
FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey
GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus
"""


@register(
    "warehouse_accumulating_snapshot",
    oracle=_ORACLE_ACCUMULATING,
    tags=("warehouse", "temporal", "analytics"),
    doc=(
        "Accumulating-snapshot fact table — the third Kimball fact "
        "grain next to the transaction facts (lineitem) and periodic "
        "snapshots (perf_daily_fact): one row per order pipeline "
        "carrying its milestone dates (order -> first ship -> last "
        "ship, fulfillment complete) with NULL milestones for stages not yet reached, "
        "summarized as lag-day totals per status. Milestones collapse "
        "from the transaction grain in ONE hash aggregate; the "
        "milestone join is the orders-lineitem equi-join. At 100 TB "
        "the accumulating fact is maintained incrementally by "
        "merge_into keyed on the pipeline id — each milestone batch "
        "touches O(its orders)."
    ),
)
def warehouse_accumulating_snapshot(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pin_query_session_conf(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderdate"
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.min("l_shipdate").alias("first_ship"),
            F.max("l_shipdate").alias("last_ship"),
        )
    )
    j = orders.join(li, orders.o_orderkey == li.l_orderkey, "left")
    return (
        j.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(
                F.when(F.col("l_orderkey").isNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_not_shipped"),
            F.sum(
                F.when(
                    F.col("first_ship").isNotNull(),
                    F.datediff(
                        F.col("first_ship").cast("date"),
                        F.col("o_orderdate").cast("date"),
                    ),
                )
            )
            .cast("bigint")
            .alias("sum_days_to_ship"),
            F.sum(
                F.when(
                    F.col("last_ship").isNotNull(),
                    F.datediff(
                        F.col("last_ship").cast("date"),
                        F.col("first_ship").cast("date"),
                    ),
                )
            )
            .cast("bigint")
            .alias("sum_fulfillment_span"),
        )
        .orderBy("o_orderstatus")
    )


_ORACLE_GZIP_ROUNDTRIP = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_even_ids
FROM documents GROUP BY lang ORDER BY lang
"""


@register(
    "io_gzip_jsonl_roundtrip",
    oracle=_ORACLE_GZIP_ROUNDTRIP,
    tags=("io", "scale"),
    doc=(
        "Compressed text ingestion (SURVEY S9 extension): documents "
        "written as GZIP-compressed JSONL (spark codec option), read back "
        "through spark.read.json's transparent .gz decompression, and "
        "audited per-lang against the source — the web-crawl delivery "
        "format (WET/WARC-derived corpora ship gzipped). Scale note "
        "encoded in the round-trip: gzip is NOT splittable, so one .gz "
        "file = one input task; the write side therefore controls "
        "parallelism by partition count BEFORE the codec (32 files here), "
        "which is exactly how a 100 TB gzipped corpus must arrive — many "
        "files, not one."
    ),
)
def io_gzip_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    target = tempfile.mkdtemp(prefix="gzip_rt_") + "/docs_gz"
    (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite")
        .option("compression", "gzip")
        .json(target)
    )
    back = spark.read.schema("doc_id long, lang string, n_chars long").json(
        target
    )
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.sum(F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_even_ids"),
        )
        .orderBy("lang")
    )


# -- CSV quoting / embedded-delimiter round-trip (r8) --------------------------------

_ORACLE_CSV_QUOTED = """
WITH payloads AS (
  SELECT doc_id,
         substr(text, 1, 24) || ',"' || chr(10) || 'tail;' || lang AS payload
  FROM documents
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_ok,
       CAST(SUM(('0x' || substr(md5(payload), 1, 8))::BIGINT) AS BIGINT)
         AS payload_checksum
FROM payloads
"""


@register(
    "io_csv_quoted_roundtrip",
    oracle=_ORACLE_CSV_QUOTED,
    tags=("io", "warehouse"),
    doc=(
        "CSV round-trip with ADVERSARIAL field content — embedded commas, "
        "double quotes, and newlines in every payload: write with RFC-4180 "
        "quoting (escape = doubled quote, not backslash) and read back "
        "with multiLine enabled, then verify bit-exact payload fidelity "
        "row-by-row against the in-memory source (n_ok) plus an md5 "
        "checksum the oracle recomputes from the same payload expression. "
        "A quoting/escape regression shows up as n_ok < n_rows or a "
        "checksum mismatch — this pins the CSV source/sink edge cases "
        "that silently corrupt text corpora (S9 family)."
    ),
)
def io_csv_quoted_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 24),
            F.lit(',"'),
            F.lit("\n"),
            F.lit("tail;"),
            F.col("lang"),
        ).alias("payload"),
    )
    target = tempfile.mkdtemp(prefix="csv_rt_") + "/docs_csv"
    (
        payloads.repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite")
        .option("header", "true")
        .option("quote", '"')
        .option("escape", '"')  # RFC-4180 doubled quotes, not backslash
        # Spark's CSV WRITER trims leading/trailing whitespace by DEFAULT
        # (ignore*WhiteSpace=true) — silently corrupting space-padded
        # fields; found by the r8 degenerate-fixture differ
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(target)
    )
    back = (
        spark.read.schema("doc_id long, payload string")
        .option("header", "true")
        .option("quote", '"')
        .option("escape", '"')
        .option("multiLine", "true")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(target)
    )
    joined = payloads.withColumnRenamed("payload", "orig").join(back, "doc_id")
    checksum = (
        md5_u32("orig")
    )
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("orig") == F.col("payload"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_ok"),
        F.sum(checksum).cast("bigint").alias("payload_checksum"),
    )


# -- Semi-additive balance fact (r8) --------------------------------------------------

_ORACLE_SEMI_ADDITIVE = """
WITH flows AS (
  SELECT user_id,
         date_trunc('week', CAST(ts AS DATE)) AS wk,
         CAST(SUM(CASE WHEN event_type = 'refund'
                       THEN -CAST(round(value * 10000) AS BIGINT)
                       ELSE CAST(round(value * 10000) AS BIGINT) END)
              AS BIGINT) AS flow_e4
  FROM events GROUP BY 1, 2
),
weeks AS (SELECT DISTINCT wk FROM flows),
first_wk AS (SELECT user_id, MIN(wk) AS w0 FROM flows GROUP BY user_id),
grid AS (
  SELECT f.user_id, w.wk, COALESCE(fl.flow_e4, 0) AS flow_e4
  FROM first_wk f JOIN weeks w ON w.wk >= f.w0
  LEFT JOIN flows fl ON fl.user_id = f.user_id AND fl.wk = w.wk
),
bal AS (
  SELECT user_id, wk,
         CAST(SUM(flow_e4) OVER (PARTITION BY user_id ORDER BY wk
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS balance_e4
  FROM grid
)
SELECT wk AS week_start,
       CAST(COUNT(*) AS BIGINT) AS n_accounts,
       CAST(SUM(balance_e4) AS BIGINT) AS total_balance_e4,
       round(CAST(SUM(balance_e4) AS DOUBLE) / COUNT(*) / 10000.0, 6)
         AS avg_balance
FROM bal GROUP BY wk ORDER BY wk
"""


@register(
    "warehouse_semi_additive_balance",
    oracle=_ORACLE_SEMI_ADDITIVE,
    tags=("warehouse", "analytics"),
    doc=(
        "Semi-additive balance fact: per-account running balances "
        "(purchases credit, refunds debit, exact e4 integers) carried "
        "FORWARD through inactive weeks via the account x week spine "
        "(bounded at |accounts| x |periods| — linear, the standard "
        "balance-fact densification), then period-end totals/averages "
        "that are additive across ACCOUNTS but not across TIME — the "
        "textbook semi-additive measure a naive SUM over weeks gets "
        "wrong. The running sum is an account-partitioned window "
        "(co-partitioned with the grid's shuffle, no global funnel); "
        "completes the periodic-snapshot family beside "
        "warehouse_accumulating_snapshot."
    ),
)
def warehouse_semi_additive_balance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    pin_query_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    signed = F.when(
        F.col("event_type") == "refund",
        -F.round(F.col("value") * 10000).cast("bigint"),
    ).otherwise(F.round(F.col("value") * 10000).cast("bigint"))
    flows = ev.groupBy(
        "user_id",
        # cast back to date: Spark's date_trunc returns timestamp while
        # DuckDB's returns date — the value hash compares the rendered type
        F.date_trunc("week", F.col("ts").cast("date")).cast("date").alias("wk"),
    ).agg(F.sum(signed).cast("bigint").alias("flow_e4"))
    weeks = flows.select("wk").distinct()
    first_wk = flows.groupBy("user_id").agg(F.min("wk").alias("w0"))
    grid = (
        first_wk.join(F.broadcast(weeks), F.col("wk") >= F.col("w0"))
        .join(flows, ["user_id", "wk"], "left")
        .select(
            "user_id",
            "wk",
            F.coalesce("flow_e4", F.lit(0)).alias("flow_e4"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("wk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bal = grid.select(
        "wk", F.sum("flow_e4").over(w).cast("bigint").alias("balance_e4")
    )
    return (
        bal.groupBy(F.col("wk").alias("week_start"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_accounts"),
            F.sum("balance_e4").cast("bigint").alias("total_balance_e4"),
            F.round(
                F.sum("balance_e4").cast("double")
                / F.count(F.lit(1))
                / 10000.0,
                6,
            ).alias("avg_balance"),
        )
        .orderBy("week_start")
    )


# -- XML entity-escaping round-trip (r9) ---------------------------------------------

_ORACLE_XML_ROUNDTRIP = """
WITH payloads AS (
  SELECT doc_id,
         '<b>' || substr(text, 1, 24) || '</b> & "quoted" ' || chr(10)
           || '''tail'' <' || lang AS payload
  FROM documents
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_ok,
       CAST(SUM(('0x' || substr(md5(payload), 1, 8))::BIGINT) AS BIGINT)
         AS payload_checksum
FROM payloads
"""


@register(
    "io_xml_roundtrip",
    oracle=_ORACLE_XML_ROUNDTRIP,
    tags=("io", "warehouse"),
    doc=(
        "XML round-trip through Spark 4's NATIVE xml source (S9 family "
        "completion: parquet/csv/json/orc/xml) with ADVERSARIAL field "
        "content — literal angle brackets, ampersands, double and single "
        "quotes, and newlines in every payload, the characters XML must "
        "entity-escape (&lt; &amp; &quot;): write with rowTag rows, read "
        "back, verify bit-exact payload fidelity row-by-row (n_ok) plus "
        "an md5 checksum the oracle recomputes from the same payload "
        "expression over the source table. An escaping/unescaping "
        "regression shows up as n_ok < n_rows or a checksum mismatch — "
        "the same fidelity pin io_csv_quoted_roundtrip gives RFC-4180 "
        "quoting."
    ),
)
def io_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id",
        F.concat(
            F.lit("<b>"),
            F.substring("text", 1, 24),
            F.lit('</b> & "quoted" '),
            F.lit("\n"),
            F.lit("'tail' <"),
            F.col("lang"),
        ).alias("payload"),
    )
    target = tempfile.mkdtemp(prefix="xml_rt_") + "/docs_xml"
    (
        payloads.repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite")
        .format("xml")
        .option("rootTag", "docs")
        .option("rowTag", "doc")
        .save(target)
    )
    back = (
        spark.read.schema("doc_id long, payload string")
        .format("xml")
        .option("rowTag", "doc")
        .load(target)
    )
    joined = payloads.withColumnRenamed("payload", "orig").join(back, "doc_id")
    checksum = md5_u32("orig")
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("orig") == F.col("payload"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_ok"),
        F.sum(checksum).cast("bigint").alias("payload_checksum"),
    )


# ---------------------------------------------------------------------------
# Bitemporal as-of query (valid time x transaction time)
# ---------------------------------------------------------------------------

_ORACLE_BITEMPORAL = """
WITH revs AS (
  SELECT o.o_orderkey, o.o_orderstatus, r.x AS rev,
         CAST(o.o_orderdate AS DATE) + CAST(r.x AS INTEGER) AS valid_from,
         CAST(o.o_orderdate AS DATE) + CAST(2 * r.x AS INTEGER) AS recorded_at,
         CAST(round(o.o_totalprice * 100.0, 0) AS BIGINT) + 700 * r.x
           AS price_e2
  FROM orders o, range(0, 3) r(x)
  WHERE r.x < 1 + o.o_orderkey % 3
),
known AS (
  SELECT * FROM revs
  WHERE recorded_at <= DATE '1997-06-17' AND valid_from <= DATE '1997-06-15'
),
as_of AS (
  SELECT * FROM known
  QUALIFY row_number() OVER (PARTITION BY o_orderkey
                             ORDER BY valid_from DESC, recorded_at DESC) = 1
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(price_e2) AS BIGINT) AS sum_price_e2,
       CAST(SUM(rev) AS BIGINT) AS sum_rev_applied
FROM as_of GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@register(
    "warehouse_bitemporal_asof",
    oracle=_ORACLE_BITEMPORAL,
    tags=("warehouse",),
    doc=(
        "Bitemporal as-of point query — the two-dimensional time-travel "
        "the SCD2 family cannot answer: every order carries 1-3 "
        "deterministic revisions with SEPARATE valid-time (when the fact "
        "became true: o_orderdate + rev days) and transaction-time (when "
        "the warehouse learned it: o_orderdate + 2*rev days) axes, and "
        "the query asks 'what was valid on V, as known by T' — filter "
        "recorded_at <= T (knowledge horizon) then valid_from <= V, then "
        "one PARTITIONED (valid_from, recorded_at) DESC row_number per "
        "order.  Complements warehouse_scd2_build (valid time only) and "
        "lakehouse_time_travel_diff (transaction time only); late-"
        "arriving corrections are exactly the rows with recorded_at >> "
        "valid_from, and re-running with an older T reproduces the "
        "report as it WOULD have been printed — the audit contract.  "
        "Revision fan-out is explode(sequence(...)), bounded x3; the "
        "window is per-order, so the whole plan shuffles once on "
        "o_orderkey."
    ),
)
def warehouse_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    orders = load_table(spark, sf_dir, "orders")
    revs = (
        orders.select(
            "o_orderkey",
            "o_orderstatus",
            F.col("o_orderdate").cast("date").alias("d0"),
            F.round(F.col("o_totalprice") * 100.0, 0)
            .cast("bigint")
            .alias("base_e2"),
            F.explode(
                F.sequence(F.lit(0), (F.col("o_orderkey") % 3).cast("int"))
            ).alias("rev"),
        )
        .select(
            "o_orderkey",
            "o_orderstatus",
            "rev",
            F.date_add(F.col("d0"), F.col("rev")).alias("valid_from"),
            F.date_add(F.col("d0"), 2 * F.col("rev")).alias("recorded_at"),
            (F.col("base_e2") + 700 * F.col("rev")).alias("price_e2"),
        )
    )
    known = revs.where(
        (F.col("recorded_at") <= F.lit("1997-06-17").cast("date"))
        & (F.col("valid_from") <= F.lit("1997-06-15").cast("date"))
    )
    w = Window.partitionBy("o_orderkey").orderBy(
        F.col("valid_from").desc(), F.col("recorded_at").desc()
    )
    asof = known.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return (
        asof.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("price_e2").cast("bigint").alias("sum_price_e2"),
            F.sum("rev").cast("bigint").alias("sum_rev_applied"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Currency conversion with as-of rates and USD triangulation
# ---------------------------------------------------------------------------

_ORACLE_FX = """
WITH days AS (
  SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders
),
rates AS (
  SELECT d AS rate_date,
         CAST(1000000 + (CAST(d - DATE '1970-01-01' AS BIGINT) % 97) * 1000
              AS BIGINT) AS eur_usd_e6,
         CAST(180000 + (CAST(d - DATE '1970-01-01' AS BIGINT) % 53) * 500
              AS BIGINT) AS usd_brl_e6
  FROM days WHERE day(d) % 3 = 1
),
priced AS (
  SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS od,
         year(o.o_orderdate) AS yr,
         CAST(round(o.o_totalprice * 100.0, 0) AS BIGINT) AS eur_e2
  FROM orders o
),
as_of AS (
  SELECT p.*, r.eur_usd_e6, r.usd_brl_e6
  FROM priced p JOIN rates r ON r.rate_date <= p.od
  QUALIFY row_number() OVER (PARTITION BY p.o_orderkey
                             ORDER BY r.rate_date DESC) = 1
),
conv AS (
  SELECT yr,
         eur_e2,
         (eur_e2 * eur_usd_e6) // 1000000 AS usd_e2,
         (((eur_e2 * eur_usd_e6) // 1000000) * usd_brl_e6) // 1000000
           AS brl_e2
  FROM as_of
)
SELECT CAST(yr AS BIGINT) AS yr,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(eur_e2) AS BIGINT) AS sum_eur_e2,
       CAST(SUM(usd_e2) AS BIGINT) AS sum_usd_e2,
       CAST(SUM(brl_e2) AS BIGINT) AS sum_brl_e2
FROM conv GROUP BY yr ORDER BY yr
"""


@register(
    "warehouse_fx_triangulation_asof",
    oracle=_ORACLE_FX,
    tags=("warehouse",),
    doc=(
        "Currency conversion with AS-OF rates and USD triangulation — the "
        "finance-warehouse pattern the as-of family was missing: a "
        "deterministic rate table publishes EUR->USD and USD->BRL every "
        "third calendar day, every order converts at the LATEST rate on "
        "or before its order date (backward as-of via a per-order "
        "rate-date window), and BRL is reached by TRIANGULATING through "
        "USD with per-leg e6 fixed-point floor division — two sequential "
        "integer legs so no BIGINT product ever exceeds price*1e6 "
        "(chaining both rates first would overflow at 1e19).  The "
        "rate-spine inequality join fans out per order by the bounded "
        "publication calendar, exactly the join_range_binned contract; "
        "yearly totals in three currencies are exact cents."
    ),
)
def warehouse_fx_triangulation_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_query_session_conf(spark)
    orders = load_table(spark, sf_dir, "orders")
    days = orders.select(
        F.col("o_orderdate").cast("date").alias("d")
    ).distinct()
    epoch = F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")).cast("bigint")
    rates = days.where(F.dayofmonth("d") % 3 == 1).select(
        F.col("d").alias("rate_date"),
        (1000000 + (epoch % 97) * 1000).cast("bigint").alias("eur_usd_e6"),
        (180000 + (epoch % 53) * 500).cast("bigint").alias("usd_brl_e6"),
    )
    priced = orders.select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("od"),
        F.year("o_orderdate").alias("yr"),
        F.round(F.col("o_totalprice") * 100.0, 0).cast("bigint").alias("eur_e2"),
    )
    joined = priced.join(
        F.broadcast(rates), F.col("rate_date") <= F.col("od")
    )
    w = Window.partitionBy("o_orderkey").orderBy(F.col("rate_date").desc())
    asof = joined.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    conv = asof.select(
        "yr",
        "eur_e2",
        "usd_brl_e6",
        F.expr("(eur_e2 * eur_usd_e6) DIV 1000000").alias("usd_e2"),
    ).select(
        "yr",
        "eur_e2",
        "usd_e2",
        F.expr("(usd_e2 * usd_brl_e6) DIV 1000000").alias("brl_e2"),
    )
    return (
        conv.groupBy(F.col("yr").cast("bigint").alias("yr"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("eur_e2").cast("bigint").alias("sum_eur_e2"),
            F.sum("usd_e2").cast("bigint").alias("sum_usd_e2"),
            F.sum("brl_e2").cast("bigint").alias("sum_brl_e2"),
        )
        .orderBy("yr")
    )
