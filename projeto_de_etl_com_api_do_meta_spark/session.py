"""SparkSession builder tuned for the engine.

Scale posture (100 TB / 1000-executor design, tested on local[32]):
- AQE on: runtime coalescing of post-shuffle partitions + skew-join splitting
  replace hand-tuned ``spark.sql.shuffle.partitions`` at scale.
- Arrow on: every pandas interop (mapInPandas / applyInPandas / pandas_udf)
  moves columnar batches, never rows.
- ANSI off in *our* sessions: the reference's coercion semantics are
  "errors='coerce'" (bad cast -> null -> 0-backfill, see reference
  transform.py:51-61); non-ANSI cast gives that for free.  All registry
  queries are nevertheless written ANSI-safe (try_cast / guarded division)
  because the verification driver owns its own session config.
- Generated-code cache sized to the working set
  (``spark.sql.codegen.cache.maxEntries`` = ``CODEGEN_CACHE_ENTRIES``,
  Spark's default is 100).  Spark keeps the classes it compiles for
  whole-stage codegen and expression evaluation in an LRU keyed by the
  generated source.  The daily ETL job needs ~170 of them (108 for the
  history build's plans, 62 more on the merge path) and touches them in the
  same cyclic order every run, so a 100-entry LRU misses on every lookup:
  each daily run recompiled ~167 classes with Janino, and the JIT then
  compiled the fresh bytecode again.  With 1000 entries a daily run compiles
  3-6.  ``llm_curation``'s working set is 84 classes, and a full registry
  sweep does not repeat queries, so neither needs more.  JVM Metaspace used
  after the ETL set-up was the same with 100 and 1000 entries (148 MiB), so
  the larger cache costs no measurable memory here.  The conf is STATIC: it
  acts only in sessions this builder creates; a session a driver built
  before calling in keeps Spark's 100.  ``extra_conf`` overrides it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
#: generated-code cache size; see the module doc
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "projeto-etl-meta-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    # One BLAS thread per task: parallelism belongs to Spark's task
    # scheduler, not to numpy's thread pool.  Without this, every Python
    # worker doing a GEMM (embedding cosine / IVF) spawns one BLAS thread
    # per core -> n_workers × n_cores runnable threads and multi-×
    # run-to-run variance.  Set in the driver env (local-mode Python
    # workers inherit it) AND as executorEnv for real clusters.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- optimizer / runtime ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # --- python interop ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python DataSource V2 filter pushdown (sources/meta_dsv2.py)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # --- semantics ---
        # SPARK_GRAFT_ANSI=true builds a hostile ANSI-on session to prove
        # the per-query pin_query_session_conf pin holds (driver parity).
        .config(
            "spark.sql.ansi.enabled", os.environ.get("SPARK_GRAFT_ANSI", "false")
        )
        .config("spark.sql.session.timeZone", "UTC")
        # --- local-mode hygiene ---
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


from contextlib import contextmanager


@contextmanager
def scoped_conf(spark: SparkSession, **confs: str):
    """Temporarily set runtime-mutable session confs, restoring on exit.
    Results are unaffected; ``stream_state_width`` is the streaming
    queries' use of it."""
    keys = {k.replace("__", "."): v for k, v in confs.items()}
    old: dict[str, str | None] = {}
    for k, v in keys.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001 - unset key
            old[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def stream_state_width(spark: SparkSession, **confs: str):
    """``scoped_conf`` for a registry streaming query: 8 shuffle partitions,
    plus any other ``confs``.

    A stateful stream's state-store partition count is
    ``spark.sql.shuffle.partitions`` at its FIRST start, and it is fixed in
    the checkpoint from then on: a restarted query keeps it whatever the
    session says.  So this is a once-per-checkpoint choice.  8 suits the
    registry's fixture-size streams (each partition's state store has a
    fixed setup cost); a production stream would size it from its volume.
    """
    return scoped_conf(spark, **{"spark.sql.shuffle.partitions": "8"}, **confs)


def pin_query_session_conf(spark: SparkSession) -> None:
    """Runtime-settable conf pins applied at the top of every registry query.

    The correctness driver owns its own SparkSession; these pins make query
    results independent of whatever defaults it chose.  Only runtime-mutable
    keys belong here.

    ANSI is pinned OFF because the engine's semantic contract is the
    reference's coercion behavior (bad cast -> null -> 0-backfill,
    reference transform.py:51-61); queries are nevertheless written
    ANSI-safe, and the pin is validated by running the full differ under
    an ANSI-on session (SPARK_GRAFT_ANSI=true python tools/check_oracle.py).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    _ship_package(spark)


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on EXECUTOR Python workers regardless
    of the driver's working directory.

    mapInPandas/applyInPandas kernels reference package functions (codecs,
    fixtures); cloudpickle serializes those as module imports, so a foreign
    SparkSession started outside the repo root fails in the worker with
    ModuleNotFoundError (found by the hostile-session smoke, cwd=/tmp).
    Shipping a one-time zip of the package via addPyFile puts it on every
    worker's import path — the standard dependency mechanism, and a no-op
    for sessions already rooted here."""
    sc = spark.sparkContext
    if getattr(sc, "_pkg_shipped", False):
        return
    import hashlib
    import os
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    # Content-hash the sources first: the digest names the zip, so a stale
    # or partial file from a crashed earlier write (or a pid-reuse
    # collision in a shared tmpdir) can never be picked up — a foreign
    # file simply has a different name, and a matching name implies the
    # exact bytes we would have written anyway.
    sources: list[tuple[str, str]] = []
    digest = hashlib.sha256()
    for root, _dirs, files in os.walk(pkg_dir):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            full = os.path.join(root, f)
            rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
            sources.append((full, rel))
            digest.update(rel.encode())
            with open(full, "rb") as fh:
                digest.update(fh.read())
    zip_path = os.path.join(
        tempfile.gettempdir(),
        f"{pkg_name}_pyfiles_{digest.hexdigest()[:16]}.zip",
    )
    if not os.path.exists(zip_path):
        # mkstemp + os.replace: the published name only ever points at a
        # COMPLETE zip (rename is atomic on POSIX), so concurrent sessions
        # racing on the same digest each publish identical bytes.
        fd, tmp_path = tempfile.mkstemp(
            suffix=".zip", dir=tempfile.gettempdir()
        )
        try:
            with os.fdopen(fd, "wb") as raw, zipfile.ZipFile(
                raw, "w", zipfile.ZIP_STORED
            ) as zf:
                for full, rel in sources:
                    zf.write(full, rel)
            os.replace(tmp_path, zip_path)
        except BaseException:
            try:
                os.unlink(tmp_path)
            except OSError:
                pass
            raise
    try:
        sc.addPyFile(zip_path)
    except Exception:  # noqa: BLE001 — e.g. a stopped context; kernels on
        pass  # a repo-rooted session still import via cwd
    sc._pkg_shipped = True
