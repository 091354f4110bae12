"""Streaming surface: stream/batch parity, session windows, stateful dedup,
foreachBatch upsert sink."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from projeto_de_etl_com_api_do_meta_spark.io import load_table
from projeto_de_etl_com_api_do_meta_spark.streaming.windows import (
    dedup_within_watermark,
    foreach_batch_upsert,
    read_events_stream,
    run_available_now,
    session_windows,
    sliding_hourly,
    tumbling_daily,
)


def test_tumbling_daily_matches_batch(spark, sf_dir, tmp_path):
    got = run_available_now(
        tumbling_daily(read_events_stream(spark, sf_dir)), str(tmp_path)
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    s = {(str(r.day), r.event_type): r.n_events for r in got.collect()}
    b = {(str(r.day), r.event_type): r.n_events for r in batch.collect()}
    assert s == b


def test_sliding_windows_run(spark, sf_dir, tmp_path):
    got = run_available_now(
        sliding_hourly(read_events_stream(spark, sf_dir)), str(tmp_path)
    )
    rows = got.collect()
    assert rows
    # every event lands in 4 sliding windows (1h window / 15m slide)
    total = sum(r.n_events for r in rows)
    assert total == 4 * load_table(spark, sf_dir, "events").count()


def test_session_windows_run(spark, sf_dir, tmp_path):
    got = run_available_now(
        session_windows(read_events_stream(spark, sf_dir)), str(tmp_path)
    )
    rows = got.collect()
    assert rows
    assert all(r.session_end > r.session_start for r in rows)


def test_dedup_within_watermark(spark, sf_dir, tmp_path):
    stream = dedup_within_watermark(read_events_stream(spark, sf_dir))
    got = run_available_now(stream, str(tmp_path), output_mode="append")
    n = load_table(spark, sf_dir, "events").select("event_id").distinct().count()
    assert got.count() == n


def test_foreach_batch_upsert_sink(spark, sf_dir, tmp_path):
    target = os.path.join(str(tmp_path), "daily")
    stream = tumbling_daily(read_events_stream(spark, sf_dir))
    q = foreach_batch_upsert(
        stream, target, keys=["day", "event_type"], checkpoint_dir=str(tmp_path)
    )
    q.awaitTermination()
    merged = spark.read.parquet(target)
    batch_groups = (
        load_table(spark, sf_dir, "events")
        .select(F.date_trunc("day", "ts").cast("date").alias("day"), "event_type")
        .distinct()
        .count()
    )
    assert merged.count() == batch_groups


def test_stateful_counters_carry_state_across_batches(spark, tmp_path):
    import datetime as dt

    from projeto_de_etl_com_api_do_meta_spark.streaming.windows import (
        run_available_now,
        stateful_user_counters,
    )

    src = tmp_path / "stream_src"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1)

    def batch(path, rows):
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, value double"
        ).coalesce(1).write.mode("overwrite").parquet(str(path))

    batch(src / "b1.parquet", [(1, t0, 7, 1.25), (2, t0, 7, 2.50)])
    batch(src / "b2.parquet", [(3, t0 + dt.timedelta(hours=1), 7, 0.25)])

    schema = spark.read.parquet(str(src / "b1.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # force one micro-batch per file
        .parquet(str(src) + "/*.parquet")
    )
    out = run_available_now(
        stateful_user_counters(stream), str(tmp_path / "ckpt"), output_mode="update"
    )
    rows = sorted(out.collect(), key=lambda r: r.n_events)
    # One emission per micro-batch containing user 7; state accumulates.
    assert [r.n_events for r in rows] == [2, 3]
    assert rows[-1].total_value_cents == 400  # 1.25+2.50+0.25 in cents


def test_transform_with_state_profile_matches_batch(spark, sf_dir):
    """Spark 4 transformWithStateInPandas operator (ValueState + MapState)
    agrees with the batch aggregate. Requires google.protobuf (the tws
    state-server wire protocol); skipped where the container lacks it."""
    import pytest

    pytest.importorskip("google.protobuf")
    import tempfile

    from pyspark.sql import functions as F

    from projeto_de_etl_com_api_do_meta_spark.streaming.windows import (
        read_events_stream,
        run_available_now,
        stateful_user_profile_tws,
    )

    stream = stateful_user_profile_tws(read_events_stream(spark, sf_dir))
    with tempfile.TemporaryDirectory(prefix="ckpt_") as ckpt:
        out = run_available_now(stream, ckpt, output_mode="update")
    got = {
        r["user_id"]: (r["n_events"], r["n_event_types"], r["max_value_cents"])
        for r in out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("n_event_types").alias("n_event_types"),
            F.max("max_value_cents").alias("max_value_cents"),
        )
        .collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    want = {
        r["user_id"]: (r["n_events"], r["n_event_types"], r["max_value_cents"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_event_types"),
            F.max(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
                "max_value_cents"
            ),
        )
        .collect()
    }
    assert got == want


def test_incremental_dedup_runs_multiple_batches(spark, sf_dir, tmp_path):
    """The incremental dedup stream must process the corpus as MULTIPLE
    ordered micro-batches (one per staged chunk) and its final store must
    equal first-seen-wins dedup."""
    from pyspark.sql import functions as F

    from projeto_de_etl_com_api_do_meta_spark.operators.text import (
        fingerprint_md5,
    )
    from projeto_de_etl_com_api_do_meta_spark.streaming.windows import (
        chunked_docs_stream_dir,
        incremental_exact_dedup,
    )

    stream_dir = chunked_docs_stream_dir(spark, sf_dir, n_chunks=5)
    store = str(tmp_path / "store.parquet")
    q = incremental_exact_dedup(
        spark, stream_dir, store, str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    n_batches = sum(
        1 for p in q.recentProgress if p["numInputRows"] > 0
    )
    assert n_batches == 5, f"expected 5 micro-batches, saw {n_batches}"

    got = {
        (r.doc_id, r.fingerprint)
        for r in spark.read.parquet(store).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    want = {
        (r.doc_id, r.fingerprint)
        for r in docs.select(
            "doc_id", fingerprint_md5("text").alias("fingerprint")
        )
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "fingerprint")
        .collect()
    }
    assert got == want


def test_incremental_neardup_multiple_batches_and_store_bounded(
    spark, sf_dir, tmp_path
):
    """Near-dup suppression stream: 5 real micro-batches; the bucket store
    holds one first-seen row per distinct (band_id, bh); every corpus doc
    appears exactly once in the results."""
    from projeto_de_etl_com_api_do_meta_spark.streaming.windows import (
        chunked_docs_stream_dir,
        incremental_neardup_suppress,
    )

    stream_dir = chunked_docs_stream_dir(spark, sf_dir, n_chunks=5)
    store = str(tmp_path / "buckets.parquet")
    results = str(tmp_path / "results.parquet")
    q = incremental_neardup_suppress(
        spark, stream_dir, store, results, str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    assert sum(1 for p in q.recentProgress if p["numInputRows"] > 0) == 5

    buckets = spark.read.parquet(store)
    assert buckets.count() == buckets.select("band_id", "bh").distinct().count()

    res = spark.read.parquet(results)
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert res.count() == n_docs
    assert res.select("doc_id").distinct().count() == n_docs
    # Suppressors point strictly backwards.
    assert res.where("suppressor >= doc_id").count() == 0


def test_compact_store_preserves_content_and_bounds_files(spark, tmp_path):
    """compact_store: identical rows after the rewrite, file count capped,
    and the TTL predicate drops exactly the filtered rows."""
    from pyspark.sql import functions as F

    from projeto_de_etl_com_api_do_meta_spark.streaming.windows import (
        compact_store,
    )

    store = str(tmp_path / "store.parquet")
    # Simulate 10 per-batch appends (the incremental operators' pattern).
    for b in range(10):
        spark.range(b * 100, (b + 1) * 100).select(
            F.col("id").alias("k"), F.lit(b).alias("batch_seen")
        ).write.mode("append").parquet(store)
    import glob

    assert len(glob.glob(f"{store}/part-*.parquet")) >= 10
    before = sorted(r.k for r in spark.read.parquet(store).collect())

    compact_store(spark, store, target_files=3)
    assert len(glob.glob(f"{store}/part-*.parquet")) <= 3
    after = sorted(r.k for r in spark.read.parquet(store).collect())
    assert after == before  # semantics-preserving

    compact_store(spark, store, keep_predicate=F.col("batch_seen") >= 7)
    kept = spark.read.parquet(store)
    assert kept.count() == 300
    assert kept.agg(F.min("batch_seen")).first()[0] == 7


def test_incremental_neardup_with_compaction_matches_uncompacted(
    spark, sf_dir, tmp_path
):
    """Compaction every 2 batches must not change a single suppression
    decision (it only rewrites files) — run the 5-batch replay both ways
    and compare the full results."""
    from projeto_de_etl_com_api_do_meta_spark.streaming.windows import (
        chunked_docs_stream_dir,
        incremental_neardup_suppress,
    )

    stream_dir = chunked_docs_stream_dir(spark, sf_dir, n_chunks=5)

    def run(tag, compact_every):
        store = str(tmp_path / f"buckets_{tag}.parquet")
        results = str(tmp_path / f"results_{tag}.parquet")
        q = incremental_neardup_suppress(
            spark,
            stream_dir,
            store,
            results,
            str(tmp_path / f"ckpt_{tag}"),
            compact_every=compact_every,
        )
        q.awaitTermination()
        return sorted(
            (r.doc_id, r.is_kept, r.suppressor)
            for r in spark.read.parquet(results).collect()
        )

    assert run("compacted", 2) == run("plain", 0)


def test_left_outer_stream_join_emits_null_verdicts(spark, sf_dir):
    """Every click gets exactly one verdict row set: matched clicks their
    match rows, unmatched clicks one NULL-purchase row; no sentinel rows
    leak into the output."""
    from projeto_de_etl_com_api_do_meta_spark.queries.registry import (
        QUERIES,
        _load_all,
    )

    _load_all()
    out = QUERIES["stream_stream_join_left_outer"].fn(spark, sf_dir)
    rows = out.collect()
    clicks = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .count()
    )
    unmatched = [r for r in rows if r.purchase_id is None]
    matched_clicks = {r.click_id for r in rows if r.purchase_id is not None}
    assert len(unmatched) + len(matched_clicks) == clicks
    assert all(r.purchase_ts is None for r in unmatched)
    assert all(r.click_ts.year < 2099 for r in rows)


def test_available_now_resumes_from_checkpoint(spark, tmp_path):
    """The cron-rerun contract: a second AvailableNow run over the SAME
    checkpoint reads only files that arrived since the first run (source
    offsets persist), while the stateful aggregate still reflects the full
    history — restart-safe incremental ingestion."""
    import uuid as _uuid

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    schema = "id long, v long"

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        agg = stream.agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
        )
        name = f"resume_{_uuid.uuid4().hex[:8]}"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        row = spark.table(name).first()
        n_input = sum(p["numInputRows"] for p in q.recentProgress)
        return row, n_input

    write_batch([(1, 10), (2, 20), (3, 30)])
    row1, in1 = run_once()
    assert (row1.n, row1.s) == (3, 60)
    assert in1 == 3

    write_batch([(4, 40), (5, 50)])
    row2, in2 = run_once()
    assert (row2.n, row2.s) == (5, 150)  # state covers full history
    assert in2 == 2  # ...but only the NEW files were read


def test_incremental_stores_recover_an_interrupted_swap(spark, tmp_path):
    """A crash between ``compact_store``'s two renames leaves each store at
    ``<store>.old``.  The next batch must read it back: a document that
    repeats an earlier one stays suppressed and the store keeps its rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from projeto_de_etl_com_api_do_meta_spark.streaming.windows import (
        incremental_exact_dedup,
        incremental_neardup_suppress,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"
    stream_dir = tmp_path / "docs"
    stream_dir.mkdir()

    def add_chunk(k, docs):
        pq.write_table(
            pa.table({
                "doc_id": pa.array([d for d, _ in docs], pa.int64()),
                "text": [t for _, t in docs],
                "lang": ["en"] * len(docs),
                "source": ["web"] * len(docs),
                "n_chars": pa.array([len(t) for _, t in docs], pa.int64()),
            }),
            str(stream_dir / f"chunk-{k}.parquet"),
        )

    exact, near = str(tmp_path / "fp_store"), str(tmp_path / "band_store")
    results = str(tmp_path / "results")

    def run_both():
        for q in (
            incremental_exact_dedup(
                spark, str(stream_dir), exact, str(tmp_path / "ckpt_exact")
            ),
            incremental_neardup_suppress(
                spark, str(stream_dir), near, results, str(tmp_path / "ckpt_near")
            ),
        ):
            q.awaitTermination()

    add_chunk(0, [(1, text), (2, "an entirely different sentence about other things")])
    run_both()
    before = {p: sorted(map(str, spark.read.parquet(p).collect())) for p in (exact, near)}
    for p in (exact, near):
        os.rename(p, p + ".old")

    add_chunk(1, [(3, text)])
    run_both()
    for p in (exact, near):
        assert not os.path.exists(p + ".old")
        after = sorted(map(str, spark.read.parquet(p).collect()))
        assert after == before[p], p  # doc 3 added nothing new
    verdict = spark.read.parquet(results).where("doc_id = 3").first()
    assert (verdict.is_kept, verdict.suppressor) == (False, 1)
