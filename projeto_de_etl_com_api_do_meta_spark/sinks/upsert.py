"""Upsert (MERGE) sinks (SURVEY §2.1 S5-S8).

The reference loads via staging-table + one set-based
``INSERT ... SELECT ... ON CONFLICT DO UPDATE`` executed inside PostgreSQL
(load.py:42-133).  Two Spark-side equivalents:

- ``JdbcUpsertWriter`` — same architecture for JDBC targets: stage with
  ``df.write.jdbc`` (batched), run the generated merge SQL over a JDBC
  connection, drop staging in a finally-block.  SQL generation is pure and
  unit-tested; execution requires a live database (none in this
  environment), so ``write`` is import/connection-gated.
- ``parquet_upsert`` — key-based merge into a flat parquet directory,
  swapped in atomically.  Idempotent: re-running the same batch is a
  no-op, and an empty batch does not rewrite the target; used by the
  streaming foreachBatch sink.

The row-level merge of ``parquet_upsert`` is ``keyed_merge``, which
``operators/lakehouse.py: merge_into`` (the versioned, O(touched files)
MERGE with tombstones and time travel) shares, so both sinks match
composite keys null-safely.

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




def keyed_merge(
    target: DataFrame | None,
    batch: DataFrame,
    keys: list[str],
    delete_col: str | None = None,
) -> DataFrame:
    """The keyed MERGE both sinks share: ``target ∖ batch keys ∪ live batch
    rows``, in the target's column order.

    ``batch`` must be key-unique.  Keys may be composite and match
    null-safely (``<=>``), so a batch row with a NULL key component replaces
    the target row with the same key instead of adding a second one.  A
    batch row whose ``delete_col`` is true is a tombstone: it removes the
    matching target row and is not inserted.  With no ``target`` the result
    is the live batch rows."""
    live = (
        batch.where(~F.coalesce(F.col(delete_col), F.lit(False))).drop(delete_col)
        if delete_col is not None
        else batch
    )
    if target is None:
        return live
    batch_keys = batch.select(*keys)
    kept = target.join(
        batch_keys,
        on=[target[k].eqNullSafe(batch_keys[k]) for k in keys],
        how="left_anti",
    )
    return kept.select(*target.columns).unionByName(live.select(*target.columns))


def recover_dir(path: str) -> bool:
    """Whether the parquet directory ``path`` exists, after renaming back
    ``<path>.old`` when a crash between ``swap_dir``'s two renames left only
    that.  Every reader of a directory that ``swap_dir`` rewrites checks
    through here, so no reader mistakes an interrupted swap for no table."""
    old = path + ".old"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
    return os.path.exists(path)


def swap_dir(spark: SparkSession, target_path: str, rewrite) -> None:
    """Replace the parquet directory ``target_path`` with
    ``rewrite(current)``, where ``current`` reads the directory (``None``
    when there is none).  A ``rewrite`` that returns ``None`` leaves the
    directory as it is.

    The new rows are written to a temporary directory beside the target,
    which is removed whatever happens.  Then two renames swap it in: the
    target moves to ``<target>.old`` and the new directory takes its name.
    A crash between the two renames leaves only ``.old``; the next call
    renames it back before reading (``recover_dir``), so the table is never
    lost.  A leftover ``.old`` next to a live target is from a crash after
    the swap and is deleted."""
    old = target_path + ".old"
    current = spark.read.parquet(target_path) if recover_dir(target_path) else None
    df = rewrite(current)
    if df is None:
        return
    tmp = tempfile.mkdtemp(prefix="upsert_", dir=os.path.dirname(target_path) or ".")
    try:
        out = os.path.join(tmp, "data")
        df.write.mode("overwrite").parquet(out)
        shutil.rmtree(old, ignore_errors=True)
        if current is not None:
            os.rename(target_path, old)
        os.rename(out, target_path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)


def parquet_upsert(
    spark: SparkSession,
    batch: DataFrame,
    target_path: str,
    keys: list[str],
    order_col: str | None = None,
) -> None:
    """Key-based MERGE into a flat parquet directory (``keyed_merge``,
    swapped in by ``swap_dir``).

    Batch is deduplicated per key first (Delta MERGE's multi-match rule;
    keep-last by ``order_col`` when given, matching the reference's
    last-write-wins upsert).  Keys match null-safely (``<=>``).

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

    def merge(target: DataFrame | None) -> DataFrame | None:
        if target is None:
            return batch
        missing = [c for c in target.columns if c not in batch.columns]
        if missing:
            raise ValueError(f"batch missing target columns: {missing}")
        pinned = batch.localCheckpoint(eager=True)
        if pinned.isEmpty():
            return None
        return keyed_merge(target, pinned, keys)

    swap_dir(spark, target_path, merge)
