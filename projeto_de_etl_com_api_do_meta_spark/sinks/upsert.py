"""Upsert (MERGE) sinks (SURVEY §2.1 S5-S8).

The reference loads via staging-table + one set-based
``INSERT ... SELECT ... ON CONFLICT DO UPDATE`` executed inside PostgreSQL
(load.py:42-133).  Two Spark-side equivalents:

- ``JdbcUpsertWriter`` — same architecture for JDBC targets: stage with
  ``df.write.jdbc`` (batched), run the generated merge SQL over a JDBC
  connection, drop staging in a finally-block.  SQL generation is pure and
  unit-tested; execution requires a live database (none in this
  environment), so ``write`` is import/connection-gated.
- ``parquet_upsert`` — lakehouse variant: key-based merge into a parquet
  target.  The batch is deduplicated per key and, when a target exists,
  materialized once (``localCheckpoint``); then target ∖ batch keys
  (null-safe anti-join) ∪ batch is written and swapped in atomically.  The
  batch plan — and the API fetch behind it — runs once per upsert, as
  Delta's MERGE materializes its source.  Idempotent: re-running the same
  batch is a no-op, and an empty batch does not rewrite the target; used
  by the streaming foreachBatch sink.  At scale the same call-shape maps
  onto Delta ``MERGE INTO``.

Conflict keys per table follow load.py:49-63 (schemas.UPSERT_KEYS); JSONB
casts follow load.py:77-91.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..schemas import JSONB_COLUMNS, UPSERT_KEYS


def merge_sql(
    table: str,
    columns: list[str],
    keys: list[str] | None = None,
    staging_table: str | None = None,
    jsonb_columns: list[str] | None = None,
) -> tuple[str, str, str]:
    """Generate (merge, drop, drop_if_exists) SQL for a staged upsert.

    Mirrors the reference's set-based merge shape (load.py:94-122): one
    INSERT..SELECT..ON CONFLICT per batch, JSONB casts applied both in the
    SELECT and the EXCLUDED update side."""
    keys = keys or UPSERT_KEYS[table]
    staging = staging_table or f"temp_{table}"
    jsonb = set(jsonb_columns if jsonb_columns is not None else JSONB_COLUMNS.get(table, []))

    def sel(c: str) -> str:
        return f'"{c}"::JSONB' if c in jsonb else f'"{c}"'

    col_list = ", ".join(f'"{c}"' for c in columns)
    sel_list = ", ".join(sel(c) for c in columns)
    key_list = ", ".join(f'"{c}"' for c in keys)
    updates = ", ".join(
        f'"{c}" = EXCLUDED.{sel(c)}' for c in columns if c not in keys
    )
    merge = (
        f'INSERT INTO {table} ({col_list}) SELECT {sel_list} FROM {staging} '
        f"ON CONFLICT ({key_list}) DO UPDATE SET {updates}"
    )
    return merge, f"DROP TABLE {staging}", f"DROP TABLE IF EXISTS {staging}"


class JdbcUpsertWriter:
    """Staging + merge upsert over JDBC (Postgres dialect).

    Scale posture: the staging write is executor-parallel batched JDBC
    (numPartitions × batchsize); only the merge DDL runs on the driver
    connection — identical to the reference's one-statement set-based merge,
    never row-by-row."""

    def __init__(
        self,
        url: str,
        properties: dict[str, str] | None = None,
        batchsize: int = 5000,
    ) -> None:
        self.url = url
        self.properties = properties or {}
        self.batchsize = batchsize

    def write(self, df: DataFrame, table: str, keys: list[str] | None = None) -> None:
        staging = f"temp_{table}_{uuid.uuid4().hex[:8]}"
        merge, drop, drop_safe = merge_sql(
            table, df.columns, keys, staging_table=staging
        )
        props = {**self.properties, "batchsize": str(self.batchsize)}
        spark = df.sparkSession
        df.write.mode("overwrite").options(**props).jdbc(self.url, staging)
        conn = None
        try:
            jvm = spark._sc._jvm
            jprops = jvm.java.util.Properties()
            for k, v in self.properties.items():
                jprops.setProperty(k, v)
            conn = jvm.java.sql.DriverManager.getConnection(self.url, jprops)
            stmt = conn.createStatement()
            try:
                conn.setAutoCommit(False)
                stmt.execute(merge)
                stmt.execute(drop)
                conn.commit()
            finally:
                stmt.close()
        except Exception:
            # best-effort staging cleanup (load.py:121-133)
            if conn is not None:
                try:
                    cleanup = conn.createStatement()
                    cleanup.execute(drop_safe)
                    cleanup.close()
                    conn.commit()
                except Exception:
                    pass
            raise
        finally:
            if conn is not None:
                conn.close()


def _dedup_batch(
    batch: DataFrame, keys: list[str], order_col: str | None
) -> DataFrame:
    """Per-key batch dedup (Delta MERGE's multi-match rule; keep-last by
    ``order_col`` when given, matching the reference's last-write-wins)."""
    if order_col:
        w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
        return (
            batch.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
    return batch.dropDuplicates(keys)


def parquet_upsert(
    spark: SparkSession,
    batch: DataFrame,
    target_path: str,
    keys: list[str],
    order_col: str | None = None,
) -> None:
    """Key-based MERGE into a parquet table with an atomic directory swap.

    Batch is deduplicated per key first (Delta MERGE's multi-match rule;
    keep-last by ``order_col`` when given, matching the reference's
    last-write-wins upsert).  Keys match null-safely (``<=>``): a batch row
    whose key has a NULL replaces the target row with the same key.

    Against an existing target the deduplicated batch is read once: it is
    materialized with ``localCheckpoint`` and both the anti-join's key side
    and the inserted rows come from that one copy.  So a batch plan (and a
    live API behind it) runs once per upsert, and the keys removed from the
    target are exactly the keys of the rows inserted.  An empty batch leaves
    the target untouched.

    ``localCheckpoint`` keeps the batch only in executor block storage,
    without lineage: losing an executor that holds a block fails the upsert
    instead of recomputing it.  The failure comes before the directory
    swap, so the old table stays whole and a retry (the upsert is
    idempotent) converges."""
    batch = _dedup_batch(batch, keys, order_col)

    if os.path.exists(target_path):
        target = spark.read.parquet(target_path)
        missing = [c for c in target.columns if c not in batch.columns]
        if missing:
            raise ValueError(f"batch missing target columns: {missing}")
        batch = batch.localCheckpoint(eager=True)
        if batch.isEmpty():
            return
        # the deduplicated batch has one row per key (NULLs equal), so its
        # key column set is already distinct
        batch_keys = batch.select(*keys)
        kept = target.join(
            batch_keys,
            on=[target[k].eqNullSafe(batch_keys[k]) for k in keys],
            how="left_anti",
        )
        merged = kept.select(*target.columns).unionByName(
            batch.select(*target.columns)
        )
    else:
        merged = batch

    tmp = tempfile.mkdtemp(prefix="upsert_", dir=os.path.dirname(target_path) or ".")
    out = os.path.join(tmp, "data")
    merged.write.mode("overwrite").parquet(out)
    old = target_path + ".old"
    if os.path.exists(target_path):
        os.rename(target_path, old)
    os.rename(out, target_path)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)


# ---------------------------------------------------------------------------
# Delta Lake MERGE variant (import-gated: delta-spark jars absent in this
# container — COVERAGE.md gap #2). Mirrors sources/meta_sdk.py's SDK gate:
# the interface and merge-building logic are pinned by tests now, and the
# execution path lights up the moment the jars exist.
# ---------------------------------------------------------------------------


def delta_available() -> bool:
    """True when the delta-spark Python bindings are importable."""
    try:
        import delta  # noqa: F401
    except ImportError:
        return False
    return True


def delta_merge_condition(keys: list[str]) -> str:
    """The MERGE ON condition for a keyed upsert (pure; unit-tested
    without jars). Null-safe equality (``<=>``) so NULL key components
    match themselves — the same key match parquet_upsert's anti-join
    uses."""
    if not keys:
        raise ValueError("delta upsert requires at least one key column")
    return " AND ".join(f"t.`{k}` <=> s.`{k}`" for k in keys)


def delta_upsert(
    spark: SparkSession,
    batch: DataFrame,
    target_path: str,
    keys: list[str],
    order_col: str | None = None,
) -> None:
    """Keyed MERGE INTO a Delta table — the scale path parquet_upsert's
    directory swap approximates. Same call shape and batch-dedup rule, so
    foreachBatch sinks swap implementations with one name change.

    Unlike the swap (which rewrites the whole target), Delta MERGE
    rewrites only the files containing matched keys and commits a
    transaction-log entry — O(touched data) on a table of any size.
    """
    if not delta_available():
        raise ImportError(
            "delta-spark is not installed; use parquet_upsert (same "
            "semantics via atomic directory swap) or add the delta jars"
        )
    from delta.tables import DeltaTable

    batch = _dedup_batch(batch, keys, order_col)
    if DeltaTable.isDeltaTable(spark, target_path):
        (
            DeltaTable.forPath(spark, target_path)
            .alias("t")
            .merge(batch.alias("s"), delta_merge_condition(keys))
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )
    else:
        batch.write.format("delta").mode("errorifexists").save(target_path)
