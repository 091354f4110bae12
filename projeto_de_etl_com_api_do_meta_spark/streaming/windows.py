"""Structured Streaming surface (SURVEY §2.8).

The reference's incremental model — daily cron re-scan of a sliding window +
idempotent upsert merge (README.md:115-127, extract.py:34-47,
load.py:94-116) — is exactly Structured Streaming's contract:

- ``Trigger.AvailableNow``            <- the cron re-run
- tumbling window agg                  <- time_increment=1 daily buckets
- watermark + late-data tolerance      <- re-delivered rows absorbed by merge
- ``dropDuplicatesWithinWatermark``    <- key-based ON CONFLICT dedup
- ``foreachBatch`` -> upsert sink      <- staging + merge per batch

File-source streaming over the driver fixtures; every query is also runnable
as a plain batch plan (stream/batch parity pinned by the oracle-checked
``stream_tumbling_daily`` registry query).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.safe_math import dec_sum
from ..io import table_path


def _stream_dir(sf_dir: str) -> str:
    """The file stream source needs a *directory*; expose the single events
    parquet file through a stable symlinked dir (fixtures are read-only)."""
    import hashlib
    import os
    import tempfile

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = os.path.join(tempfile.gettempdir(), f"events_stream_{key}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    if not os.path.exists(link):
        os.symlink(table_path(sf_dir, "events"), link)
    return d


#: Sentinel event time: far enough in the future that the watermark it
#: advances flushes every real window out of append-mode state.
_SENTINEL_TS_US = 4_102_444_800_000_000  # 2100-01-01T00:00:00Z in micros
SENTINEL_CUTOFF = "2099-01-01"


def _add_sentinel(d: str, sf_dir: str) -> None:
    """Write a one-row far-future sentinel parquet (exact fixture schema)
    into the stream dir.  Append-mode streaming aggregations only emit a
    window once the watermark passes its end; under Trigger.AvailableNow
    the watermark stops at max-event-time - delay, which would hold back
    the trailing window(s) forever.  The sentinel advances the watermark
    past every real window; its own output rows are filtered downstream
    (>= SENTINEL_CUTOFF)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(d, "zz_sentinel.parquet")
    if os.path.exists(path):
        return
    schema = pq.read_schema(table_path(sf_dir, "events"))
    ts_type = schema.field("ts").type
    if pa.types.is_timestamp(ts_type):
        unit = ts_type.unit
        scale = {"s": 1_000_000, "ms": 1_000, "us": 1, "ns": 1 / 1000}[unit]
        ts_val = pa.scalar(
            int(_SENTINEL_TS_US / scale) if unit != "ns"
            else _SENTINEL_TS_US * 1000,
            type=ts_type,
        )
    else:  # nanos-as-long fixtures store int64
        ts_val = pa.scalar(_SENTINEL_TS_US * 1000, type=ts_type)
    cols = {}
    for f in schema:
        if f.name == "ts":
            cols[f.name] = pa.array([ts_val.as_py()], type=f.type)
        elif f.name == "event_type":
            cols[f.name] = pa.array(["__sentinel__"], type=f.type)
        elif pa.types.is_string(f.type):
            cols[f.name] = pa.array([""], type=f.type)
        elif pa.types.is_floating(f.type):
            cols[f.name] = pa.array([0.0], type=f.type)
        else:
            cols[f.name] = pa.array([-1], type=f.type)
    pq.write_table(pa.table(cols, schema=schema), path)


def read_events_stream(
    spark: SparkSession, sf_dir: str, sentinel: bool = False
) -> DataFrame:
    """File-source stream over the events fixture, ``ts`` normalized exactly
    as in batch io (``io._load_events``): nanos-as-long → truncate to micros;
    TIMESTAMP_NTZ (no-TZ micros parquet) → session-TZ TIMESTAMP, which
    ``withWatermark`` requires.  Session TZ is pinned UTC, so values match
    the batch oracles.  ``sentinel=True`` adds the far-future watermark
    flusher (see ``_add_sentinel``) for append-mode window queries."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch_schema = spark.read.parquet(table_path(sf_dir, "events")).schema
    d = _stream_dir(sf_dir)
    if sentinel:
        sd = d + "_sentinel"
        if not os.path.exists(sd):
            os.makedirs(sd, exist_ok=True)
            link = os.path.join(sd, "events.parquet")
            if not os.path.exists(link):
                os.symlink(table_path(sf_dir, "events"), link)
            _add_sentinel(sd, sf_dir)
        d = sd
    stream = spark.readStream.schema(batch_schema).parquet(d)
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":
        stream = stream.withColumn("ts", F.to_timestamp("ts"))
    return stream


def tumbling_daily(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Daily tumbling-window aggregation with late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").cast("date").alias("day"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_hourly(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """1-hour windows sliding every 15 minutes (SURVEY §2.8 sliding row)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows keyed by user with an inactivity gap."""
    return (
        events.withWatermark("ts", "1 day")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Stateful dedup on event_id within the watermark horizon — the
    streaming analog of the key-based ON CONFLICT (load.py:49-63)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_available_now(
    streaming_df: DataFrame, checkpoint_dir: str, output_mode: str = "complete"
) -> DataFrame:
    """Execute a streaming plan to completion over all available input (the
    cron-run analog) and return the result as a batch DataFrame."""
    name = f"avail_now_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", f"{checkpoint_dir}/{name}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return streaming_df.sparkSession.table(name)


def foreach_batch_upsert(
    streaming_df: DataFrame,
    target_path: str,
    keys: list[str],
    checkpoint_dir: str,
):
    """Streaming sink: per micro-batch key-merge into a parquet target —
    the reference's staging+merge load as a foreachBatch (SURVEY §2.8)."""
    from ..sinks.upsert import parquet_upsert

    spark = streaming_df.sparkSession

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        # an empty micro-batch leaves an existing target as it is
        parquet_upsert(spark, batch_df, target_path, keys)

    return (
        streaming_df.writeStream.foreachBatch(_merge)
        .outputMode("update")
        .option("checkpointLocation", f"{checkpoint_dir}/upsert")
        .trigger(availableNow=True)
        .start()
    )


def clicks_purchases_join(
    events: DataFrame, horizon: str = "30 minutes", how: str = "inner"
) -> DataFrame:
    """Stream-stream join with an event-time range condition: each click
    matched to the same user's purchases within ``horizon`` after it.

    Both sides carry watermarks so the join state is bounded (Spark drops
    buffered rows once the other side's watermark passes the range bound) —
    the property that makes this run indefinitely at scale.  Inner-join
    matches are emitted as soon as they are found, so append mode returns
    every match under Trigger.AvailableNow.

    ``how="left_outer"`` additionally emits every UNMATCHED click with NULL
    purchase columns — but only once the watermark proves no in-horizon
    purchase can still arrive (that is the outer-join contract that makes
    attribution "click converted / did not convert" decidable on an
    unbounded stream).  Under Trigger.AvailableNow the watermark stops at
    max-event-time - delay, which would hold the trailing clicks' NULL
    verdicts forever — pair it with ``read_events_stream(sentinel=True)``
    so the far-future sentinel flushes every real click's verdict.
    """
    # For the outer mode the far-future sentinel must flow INTO the join
    # inputs: each side's watermark node sits downstream of these filters,
    # so a sentinel dropped here could never advance the (min-of-inputs)
    # global watermark and the trailing clicks' NULL verdicts would be held
    # back forever.  Its own rows are removed after the join.
    outer = how in ("left_outer", "full_outer")
    c_types = ["click", "__sentinel__"] if outer else ["click"]
    p_types = ["purchase", "__sentinel__"] if outer else ["purchase"]
    clicks = (
        events.where(F.col("event_type").isin(c_types))
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 day")
    )
    purchases = (
        events.where(F.col("event_type").isin(p_types))
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 day")
    )
    out = clicks.join(
        purchases,
        (F.col("c_user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")),
        how,
    ).select(
        # coalesce: under full_outer an unmatched purchase has no click side
        F.coalesce(F.col("c_user_id"), F.col("p_user_id")).alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
    )
    if outer:
        cutoff = F.lit(SENTINEL_CUTOFF).cast("timestamp")
        out = out.where(
            F.coalesce(F.col("click_ts"), F.col("purchase_ts")) < cutoff
        )
    return out


def stateful_user_counters(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` (SURVEY §2.8):
    per-user running counters (event count, value sum in cents, last-seen ts)
    carried in explicit group state across micro-batches — the escape hatch
    for aggregations Spark's built-in stateful operators can't express."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id long, n_events long, total_value_cents long, last_ts timestamp"
    )
    state_schema = "n long, cents long, last_us long"

    def update(key, pdfs, state: GroupState):
        import numpy as np

        n, cents, last_us = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # Per-EVENT integer cents (floor(x*100 + 0.5) == SQL round for
            # the positive values here), so the accumulated total is
            # independent of micro-batch partitioning.  Rounding the batch
            # SUM instead drifts by up to half a cent per batch — exposed
            # by the r11 sf0.01 refresh whose values carry full double
            # precision rather than 2dp.
            v = pdf["value"].astype("float64").to_numpy()
            cents += int(np.floor(v * 100.0 + 0.5).astype("int64").sum())
            mx = pdf["ts"].max()
            last_us = max(last_us, int(mx.value // 1000))
        state.update((n, cents, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value_cents": [cents],
                "last_ts": [pd.Timestamp(last_us * 1000)],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def enrich_with_static_dim(stream: DataFrame, user_dim: DataFrame) -> DataFrame:
    """Stream-static join: each streaming event is enriched against a
    broadcast batch dimension (here a user-level first-seen table), then
    aggregated.  The static side is planned once and shipped to every
    micro-batch — the streaming analog of the engine's broadcast dim joins
    (SURVEY §2.3 J4); no state store is involved for the join itself.
    """
    enriched = stream.join(F.broadcast(user_dim), "user_id")
    return enriched.withColumn(
        "is_first", (F.col("ts") == F.col("first_ts")).cast("int")
    ).groupBy("event_type", "is_first").agg(F.count(F.lit(1)).alias("n_events"))


def stateful_user_profile_tws(events: DataFrame) -> DataFrame:
    """Per-user profile via ``transformWithStateInPandas`` — Spark 4's typed
    successor to ``applyInPandasWithState`` (SURVEY §2.8 custom stateful row).
    Demonstrates the new composable state primitives: a ``ValueState`` for
    running scalars plus a ``MapState`` keyed by event_type whose key count
    gives the distinct-type cardinality without holding raw rows. State is
    per-key in RocksDB-backed stores at scale; emissions are monotone so
    update-mode output reduces to the final state per user.

    Environment gate: the transformWithState protocol talks to the JVM state
    server over protobuf; containers without ``google.protobuf`` cannot run
    it (tests importorskip), so the registry exposes the equivalent
    ``stateful_user_counters`` (applyInPandasWithState) as the driver-checked
    stateful operator instead."""
    import math

    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class UserProfile(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", "n long, maxc long")
            self._types = handle.getMapState("type_counts", "t string", "n long")

        def handleInputRows(self, key, rows, timer_values):
            n, maxc = self._totals.get() if self._totals.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                cents = [
                    math.floor(v * 100 + 0.5)
                    for v in pdf["value"].astype("float64")
                ]
                if cents:
                    maxc = max(maxc, max(cents))
                for t, c in pdf.groupby("event_type").size().items():
                    prev = (
                        self._types.getValue((t,))[0]
                        if self._types.containsKey((t,))
                        else 0
                    )
                    self._types.updateValue((t,), (prev + int(c),))
            self._totals.update((n, maxc))
            n_types = sum(1 for _ in self._types.keys())
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "n_event_types": [n_types],
                    "max_value_cents": [maxc],
                }
            )

        def close(self) -> None:
            pass

    out_schema = (
        "user_id long, n_events long, n_event_types long, max_value_cents long"
    )
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserProfile(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def chained_hourly_to_daily(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """TWO chained stateful window aggregations in ONE streaming query
    (multiple-stateful-operator support, Spark 3.4+): hourly tumbling counts
    re-aggregated into daily totals + active-hour counts.  The watermark
    propagates through the first aggregate so the second can finalize its
    daily windows; state for both operators is bounded by the watermark
    horizon.  At scale this halves the shuffled volume of a naive
    raw-events daily agg: the second stage only sees one row per hour."""
    hourly = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w1"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        hourly.groupBy(F.window(F.window_time("w1"), "1 day").alias("w2"))
        .agg(
            F.sum("n").alias("n_events"),
            F.count(F.lit(1)).alias("n_active_hours"),
        )
        .select(
            F.col("w2.start").cast("date").alias("day"),
            F.col("n_events").cast("long").alias("n_events"),
            F.col("n_active_hours").cast("long").alias("n_active_hours"),
        )
        # drop the sentinel's own window (stateless filter after the aggs)
        .where(F.col("day") < F.lit(SENTINEL_CUTOFF).cast("date"))
    )


# -- Multi-batch incremental exact dedup (first-seen-wins fingerprint store) --

def chunked_docs_stream_dir(spark, sf_dir: str, n_chunks: int = 5) -> str:
    """Stage the documents table as ``n_chunks`` parquet files with
    doc_id-monotone ranges and strictly increasing mtimes, so a file
    stream with ``maxFilesPerTrigger=1`` replays the corpus as an ordered
    sequence of real micro-batches (the cron-rescan arrival order the
    reference's daily ingest sees).  Written once per (sf_dir, n_chunks);
    deterministic content."""
    import glob
    import hashlib
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ..io import load_table

    from ..io import table_path as _tp

    # Key includes the source file's identity (size + mtime), so regenerated
    # fixture data at the same path can never silently reuse stale chunks.
    st = os.stat(_tp(sf_dir, "documents"))
    key = hashlib.md5(
        f"{sf_dir}:{n_chunks}:{st.st_size}:{st.st_mtime_ns}".encode()
    ).hexdigest()[:8]
    d = os.path.join(tempfile.gettempdir(), f"docs_chunks_{key}")
    if os.path.exists(d):
        return d
    # Stage into a private dir and atomically rename into place, so a
    # concurrent caller can never observe a half-staged directory.
    build = tempfile.mkdtemp(prefix=f"docs_chunks_{key}_build_")
    docs = load_table(spark, sf_dir, "documents")
    hi = docs.agg(F.max("doc_id")).first()[0] + 1
    stage = os.path.join(build, "_stage")
    for k in range(n_chunks):
        chunk = docs.where(
            (F.col("doc_id") * n_chunks >= k * hi)
            & (F.col("doc_id") * n_chunks < (k + 1) * hi)
        )
        chunk.coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dst = os.path.join(build, f"chunk-{k:05d}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1_700_000_000 + k, 1_700_000_000 + k))
    shutil.rmtree(stage, ignore_errors=True)
    try:
        os.rename(build, d)
    except OSError:  # lost the race: another process renamed first
        shutil.rmtree(build, ignore_errors=True)
    return d


def incremental_exact_dedup(
    spark,
    stream_dir: str,
    store_path: str,
    checkpoint_dir: str,
    compact_every: int = 8,
):
    """First-seen-wins exact dedup across micro-batches: each batch
    fingerprints its documents, collapses within-batch duplicates
    (min doc_id per fingerprint — map-side-combinable), anti-joins the
    PERSISTENT fingerprint store, and appends only never-seen fingerprints
    — the reference's ``ON CONFLICT DO NOTHING`` ingest (load.py:94-119)
    as an incremental streaming pipeline.  State is the store itself:
    O(distinct fingerprints), independent of replay length; each batch's
    shuffle is the batch, never the history (the anti-join probes the
    store by fingerprint — at scale a bucketed/bloom-fronted lookup).

    Returns the started streaming query (AvailableNow)."""
    from pyspark.sql import functions as F

    from ..operators.text import fingerprint_md5
    from ..sinks.upsert import recover_dir

    docs_schema = (
        "doc_id long, text string, lang string, source string, n_chars long"
    )
    stream = (
        spark.readStream.schema(docs_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    fp = stream.select(
        "doc_id", fingerprint_md5("text").alias("fingerprint")
    )

    def _merge(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch = batch_df.groupBy("fingerprint").agg(
            F.min("doc_id").alias("doc_id")
        )
        if recover_dir(store_path):
            seen = spark.read.parquet(store_path).select("fingerprint")
            batch = batch.join(seen, "fingerprint", "left_anti")
        batch.select("doc_id", "fingerprint").write.mode("append").parquet(
            store_path
        )
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_store(spark, store_path)

    return (
        fp.writeStream.foreachBatch(_merge)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# -- Multi-batch incremental NEAR-dup suppression (MinHash-LSH band store) ----

def compact_store(
    spark, store_path: str, keep_predicate=None, target_files: int = 4
) -> None:
    """Rewrite a parquet state store in place: optional row filter (TTL),
    coalesce to ``target_files`` files, directory swap.

    The per-batch ``mode("append")`` pattern the incremental operators use
    adds one file set per micro-batch, so after B batches every store probe
    reads B file footers — compaction resets that to ``target_files``.
    Runs driver-side between batches (foreachBatch is serialized per query),
    so no concurrent reader exists during the swap.  The swap is
    ``sinks/upsert.py: swap_dir``, the one ``parquet_upsert`` uses: a crash
    between its two renames leaves the store at ``<path>.old``, which the
    next read of the store (``recover_dir``) renames back."""
    from ..sinks.upsert import swap_dir

    def compact(df):
        if df is None:
            return None
        if keep_predicate is not None:
            df = df.where(keep_predicate)
        return df.coalesce(target_files)

    swap_dir(spark, store_path, compact)


def incremental_neardup_suppress(
    spark,
    stream_dir: str,
    store_path: str,
    results_path: str,
    checkpoint_dir: str,
    compact_every: int = 8,
    ttl_batches: int | None = None,
):
    """Streaming near-dup suppression: per micro-batch, each document's
    MinHash-LSH band buckets (md5 cross-engine family) probe a PERSISTENT
    first-seen bucket store; a document is suppressed when ANY of its bands
    was seen before — by an earlier batch (store hit) or by a smaller-id
    document in the same batch.  The suppressor recorded is the smallest
    earlier doc_id sharing a bucket, so the output is fully deterministic
    and (with doc_id-monotone chunk replay) equals the batch SQL rule
    "suppressed by min earlier doc sharing any band".

    Scale shape: the store is O(distinct buckets) with one (band, bh)
    first-write-wins append per batch; each batch shuffles only its own
    bands plus store probes on the bucket key — history is never
    rescanned.  Every batch document (including shingle-less ones, which
    have no bands and are trivially kept) lands in ``results_path``.

    Long-run contract (r4): every ``compact_every`` batches the store is
    rewritten to a bounded file count (semantics-preserving — per-batch
    cost otherwise degrades linearly in batch count from parquet footer
    reads alone).  ``ttl_batches`` additionally drops buckets not REGISTERED
    in the last N batches, bounding store ROWS for infinite streams — that
    is the windowed-suppression contract (a dup of a long-gone document is
    readmitted), so it is None in the oracle-verified registry query and an
    explicit opt-in for production retention policies."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..operators.dedup import (
        MD5,
        MD5_BANDS,
        MD5_K,
        MD5_ROWS,
        lsh_bands,
        minhash_signatures,
    )
    from ..sinks.upsert import recover_dir

    docs_schema = (
        "doc_id long, text string, lang string, source string, n_chars long"
    )
    stream = (
        spark.readStream.schema(docs_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )

    def _suppress(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sigs = minhash_signatures(batch_df, num_hashes=MD5_K, family=MD5)
        bands = lsh_bands(sigs, MD5_BANDS, MD5_ROWS, MD5).persist()
        # Within-batch suppressor: smallest doc_id in each bucket.
        w = Window.partitionBy("band_id", "bh")
        intra = bands.withColumn("bucket_min", F.min("doc_id").over(w))
        sup_intra = (
            intra.where(F.col("bucket_min") < F.col("doc_id"))
            .groupBy("doc_id")
            .agg(F.min("bucket_min").alias("sup"))
        )
        if recover_dir(store_path):
            store = spark.read.parquet(store_path)
            sup_store = (
                bands.join(store, ["band_id", "bh"])
                .groupBy("doc_id")
                .agg(F.min("first_doc").alias("sup"))
            )
            sup = sup_intra.unionByName(sup_store)
        else:
            sup = sup_intra
        suppressor = sup.groupBy("doc_id").agg(
            F.min("sup").alias("suppressor")
        )
        out = (
            batch_df.select("doc_id")
            .join(suppressor, "doc_id", "left_outer")
            .select(
                "doc_id",
                F.col("suppressor").isNull().alias("is_kept"),
                "suppressor",
            )
        )
        # foreachBatch is at-least-once: partition by batch_id and overwrite
        # only this batch's partition, so a replay after a crash between the
        # results write and the checkpoint commit is idempotent (the store
        # appends below are already retry-safe via their anti-joins).
        (
            out.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(results_path)
        )
        # First-write-wins bucket registration (monotone replay => the
        # batch min IS the global first doc for a new bucket).
        new_buckets = bands.groupBy("band_id", "bh").agg(
            F.min("doc_id").alias("first_doc"),
            F.lit(int(batch_id)).alias("batch_seen"),
        )
        if recover_dir(store_path):
            new_buckets = new_buckets.join(
                spark.read.parquet(store_path).select("band_id", "bh"),
                ["band_id", "bh"],
                "left_anti",
            )
        new_buckets.write.mode("append").parquet(store_path)
        bands.unpersist()
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            pred = (
                F.col("batch_seen") >= int(batch_id) - ttl_batches
                if ttl_batches is not None
                else None
            )
            compact_store(spark, store_path, keep_predicate=pred)

    return (
        stream.writeStream.foreachBatch(_suppress)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
