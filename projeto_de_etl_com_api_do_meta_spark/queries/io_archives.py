"""Archive-shard ingestion: WebDataset-style tar shards.

Large multimodal / text training corpora ship as TAR SHARDS (WebDataset,
tarfiles of sample members named ``{key}.{ext}``) because tar preserves
sample locality — all members of one sample sit contiguously, so a reader
streams samples sequentially with zero seeks, and a shard is the natural
unit of distribution (one shard = one input task, shuffling is done at the
shard level).  This module implements both halves Spark-first:

* WRITE: ``applyInPandas`` grouped by a deterministic shard key — each
  group builds ONE tar via stdlib ``tarfile`` with pinned metadata
  (mtime=0, uid/gid=0).  Shard bytes are bit-reproducible only for a
  fixed shard count, and that count is ``max(8, defaultParallelism)``:
  a session with another parallelism assigns documents to different
  shards.
* READ: ``spark.read.format("binaryFile")`` over the shard files, then an
  Arrow-batched ``mapInPandas`` unpacks members back into (doc_id, text,
  metadata) rows — one task per shard, exactly the WebDataset access
  pattern.

Scale notes: the shard count is the parallelism knob (100 TB corpora are
delivered as 10k-100k shards of ~1 GB); members stream through the
kernel without materializing the full shard row set; binaryFile caps
partition size via maxPartitionBytes so a giant shard cannot blow an
executor.  The oracle recomputes the per-lang audit straight from the
source table, so a pass certifies the bytes survived the tar round-trip
member-for-member.
"""

from __future__ import annotations

import io as _io
import json
import os
import shutil
import tarfile
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..session import pin_query_session_conf
from .registry import register

_N_SHARDS = 8

_ORACLE_TAR_SHARDS = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars_meta,
       CAST(SUM(length(text)) AS BIGINT) AS sum_text_chars,
       CAST(SUM(CASE WHEN length(text) = n_chars THEN 1 ELSE 0 END)
            AS BIGINT) AS n_len_consistent
FROM documents GROUP BY lang ORDER BY lang
"""


@register(
    "io_tar_shard_roundtrip",
    oracle=_ORACLE_TAR_SHARDS,
    tags=("io", "scale", "north-star"),
    doc=(
        "WebDataset-style tar-shard round-trip: documents are packed into "
        "max(8, defaultParallelism) deterministic tar shards "
        "(doc_id-keyed member pairs "
        "{key}.txt + {key}.json, stdlib tarfile, pinned mtime/uid, so "
        "shard bytes are reproducible for a fixed shard count, i.e. a "
        "fixed defaultParallelism) by ONE applyInPandas group per "
        "shard, read back through binaryFile + an Arrow-batched "
        "mapInPandas member walk, and audited per-lang against the "
        "source table (doc counts, metadata char sums, DECODED text "
        "char sums, and a text-vs-metadata consistency count) — a pass "
        "certifies every member's bytes survived the archive round-trip. "
        "This is the training-data delivery format: shard count is the "
        "parallelism knob, samples stay byte-contiguous inside a shard, "
        "and the read side is one sequential stream per task with zero "
        "row-level seeks.  NOTE: the shard directory is driver-created "
        "tempfile space, so executor-side writes reaching it assumes a "
        "shared filesystem (true in local mode; on a real cluster point "
        "the target at shared storage, e.g. an object-store path) — and "
        "it is removed after the audit aggregate is materialized."
    ),
)
def io_tar_shard_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import types as T

    pin_query_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    # Shard count IS the parallelism knob (doc above): a fixed 8 leaves
    # 24 of 32 cores idle through both the Python tar pack and the
    # binaryFile read-back.  Scale it with the session's parallelism
    # (floor 8 keeps the multi-member-per-shard shape at tiny SF); the
    # per-lang audit is shard-count-invariant, so results are unchanged
    # (r12, guide §2.6 stragglers/idle capacity).
    n_shards = max(_N_SHARDS, spark.sparkContext.defaultParallelism)
    target = tempfile.mkdtemp(prefix="tar_shards_")

    write_schema = T.StructType(
        [
            T.StructField("shard", T.IntegerType()),
            T.StructField("n_members", T.LongType()),
            T.StructField("tar_bytes", T.LongType()),
        ]
    )

    def write_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["shard"].iloc[0])
        pdf = pdf.sort_values("doc_id")  # member order pinned for reproducibility
        path = os.path.join(target, f"shard-{shard:05d}.tar")
        with tarfile.open(path, "w") as tf:
            for row in pdf.itertuples(index=False):
                key = f"{int(row.doc_id):012d}"
                txt = (row.text or "").encode("utf-8")
                meta = json.dumps(
                    {
                        "doc_id": int(row.doc_id),
                        "lang": row.lang,
                        "source": row.source,
                        "n_chars": int(row.n_chars),
                    },
                    sort_keys=True,
                ).encode("utf-8")
                for ext, payload in ((".txt", txt), (".json", meta)):
                    info = tarfile.TarInfo(name=key + ext)
                    info.size = len(payload)
                    info.mtime = 0
                    info.uid = info.gid = 0
                    info.uname = info.gname = ""
                    tf.addfile(info, _io.BytesIO(payload))
        return pd.DataFrame(
            [(shard, 2 * len(pdf), os.path.getsize(path))],
            columns=["shard", "n_members", "tar_bytes"],
        )

    sharded = docs.withColumn(
        "shard", (F.col("doc_id") % n_shards).cast("int")
    )
    manifest = (
        sharded.groupBy("shard").applyInPandas(write_shard, schema=write_schema)
    )
    # Force the shard write; the manifest is bounded by construction
    # (n_shards rows — shard-level state, never row-level).
    n_written = sum(r.n_members for r in manifest.collect())
    if n_written == 0:  # empty corpus -> no shards; binaryFile needs >=1 path
        return spark.createDataFrame(
            [],
            "lang string, n_docs long, sum_chars_meta long, "
            "sum_text_chars long, n_len_consistent long",
        )

    read_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars_meta", T.LongType()),
            T.StructField("text_chars", T.LongType()),
        ]
    )

    def unpack(batches):
        for batch in batches:
            out = []
            for content in batch["content"]:
                with tarfile.open(fileobj=_io.BytesIO(bytes(content))) as tf:
                    texts: dict[str, int] = {}
                    metas: dict[str, dict] = {}
                    for member in tf:
                        payload = tf.extractfile(member).read()
                        key, ext = os.path.splitext(member.name)
                        if ext == ".txt":
                            texts[key] = len(payload.decode("utf-8"))
                        else:
                            metas[key] = json.loads(payload)
                    for key, meta in metas.items():
                        out.append(
                            (
                                int(meta["doc_id"]),
                                meta["lang"],
                                int(meta["n_chars"]),
                                texts[key],
                            )
                        )
            yield pd.DataFrame(
                out, columns=["doc_id", "lang", "n_chars_meta", "text_chars"]
            )

    shards = spark.read.format("binaryFile").load(os.path.join(target, "*.tar"))
    rows = shards.select("content").mapInPandas(unpack, schema=read_schema)
    audit = (
        rows.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars_meta").cast("bigint").alias("sum_chars_meta"),
            F.sum("text_chars").cast("bigint").alias("sum_text_chars"),
            F.sum(
                F.when(F.col("text_chars") == F.col("n_chars_meta"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_len_consistent"),
        )
        .orderBy("lang")
    )
    # Materialize the audit (bounded: one row per lang) so the shard temp
    # directory can be removed NOW instead of leaking on every run (ADVICE
    # r9); the returned DataFrame no longer references the tar paths, so
    # lazy re-evaluation by the caller stays valid after cleanup.
    audit_rows = audit.collect()
    shutil.rmtree(target, ignore_errors=True)
    return spark.createDataFrame(audit_rows, audit.schema)
