"""Manifest-based table versioning: snapshot isolation + time travel on
plain parquet, no table-format jars required.

The container has no delta-spark/iceberg jars (COVERAGE.md gap #2), but
the two mechanics those formats provide for batch ETL — atomic snapshot
commits and time travel — are a manifest protocol, not a file format:

- every commit writes its parquet files under a fresh ``data/v{N}/``
  prefix, then atomically publishes ``_manifests/v{N}.json`` listing
  exactly those files;
- readers resolve a manifest FIRST and read only the files it lists, so
  a reader of v1 never sees v2's files (snapshot isolation) and any
  historical version stays readable forever (time travel);
- the manifest publish is CREATE-IF-ABSENT (``os.link`` of a temp file
  onto the final name, which fails with EEXIST if the version already
  exists) — the same put-if-absent contract delta's _delta_log relies
  on. Two concurrent writers racing for version N cannot overwrite
  each other: the loser sees the conflict and retries at N+1.

On top of it sit the write verbs: ``commit_version`` (overwrite) and
``commit_append`` (with an idempotent ``txn_id``) share one write-once /
publish-retry loop; the copy-on-write verbs ``delete_where``,
``update_where``, ``optimize_table`` and ``merge_into`` share another
(``_rewrite_files``), which rewrites only the files the manifest stats
cannot rule out and carries the rest over by reference.  Each verb
supplies only its row rewrite.  ``merge_into``'s rows come from
``sinks/upsert.py: keyed_merge``, the keyed MERGE core ``parquet_upsert``
also calls, so both sinks match composite keys null-safely.

Scale notes: manifests hold file PATHS (one JSON line per file, ~100
bytes), never data; a 100 TB table's manifest is megabytes. Readers pass
the explicit file list to the parquet scan, so partition pruning and
row-group skipping work unchanged on the listed files.
"""

from __future__ import annotations

import json
import logging
import math
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_log = logging.getLogger(__name__)


def _manifest_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_manifests")


def versions(table_dir: str) -> list[int]:
    """Committed version numbers, ascending. Uncommitted data dirs
    (crashed writers) are invisible — only a published manifest counts."""
    md = _manifest_dir(table_dir)
    if not os.path.isdir(md):
        return []
    out = []
    for f in os.listdir(md):
        if f.startswith("v") and f.endswith(".json"):
            try:
                out.append(int(f[1:-5]))
            except ValueError:
                continue
    return sorted(out)


#: column types whose min/max are JSON numbers or strings in a manifest
_STATS_TYPES = (
    T.StringType, T.BooleanType, T.ByteType, T.ShortType, T.IntegerType,
    T.LongType, T.FloatType, T.DoubleType,
)


def _check_stats_cols(df: DataFrame, stats_cols: tuple[str, ...]) -> None:
    """Reject, before any file is written, a stats column whose bounds a
    manifest cannot hold (a date, timestamp, decimal or binary column)."""
    if not stats_cols:
        return
    types = {f.name: f.dataType for f in df.schema.fields}
    for c in stats_cols:
        t = types.get(c)
        if t is not None and not isinstance(t, _STATS_TYPES):
            raise ValueError(
                f"stats column {c!r} is {t.simpleString()}: its bounds are not "
                "JSON; use a string date or an epoch column for temporal stats"
            )


def _write_files(df: DataFrame, table_dir: str, n: int) -> tuple[str, list[str]]:
    """Write ``df`` under a fresh ``data/v{n}-*`` dir; returns the dir and
    its parquet files.  A failed write leaves no dir behind."""
    data_dir = os.path.join(table_dir, "data", f"v{n}-{uuid.uuid4().hex[:8]}")
    try:
        df.write.mode("error").parquet(data_dir)
    except BaseException:
        shutil.rmtree(data_dir, ignore_errors=True)
        raise
    return data_dir, sorted(
        os.path.join(data_dir, f)
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    )


def _bounds(lo, hi) -> list | None:
    """``[lo, hi]`` as a manifest entry, or ``None`` (no bound: the file is
    always kept) when a bound is NaN or infinite, which JSON cannot hold."""
    for b in (lo, hi):
        if isinstance(b, float) and not math.isfinite(b):
            return None
    return [lo, hi]


def _footer_stats(
    files: list[str], cols: tuple[str, ...]
) -> dict[str, dict[str, list]]:
    """Per-file min/max for ``cols`` from the parquet footers alone.

    Raises ``_FooterStatsUnusable`` naming the file and column when a
    footer cannot be read or lacks exact, JSON-clean bounds for a column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out: dict[str, dict[str, list]] = {}
    for f in files:
        try:
            out[f] = _file_footer_stats(f, pq.ParquetFile(f).metadata, cols)
        except (OSError, pa.ArrowException) as e:  # unreadable/corrupt footer
            raise _FooterStatsUnusable(f, ", ".join(cols), repr(e)) from e
    return out


def _file_footer_stats(f: str, md, cols: tuple[str, ...]) -> dict[str, list]:
    names = {md.schema.column(i).name: i for i in range(md.num_columns)}
    fstats: dict[str, list] = {}
    for c in cols:
        idx = names.get(c)
        if idx is None or md.num_rows == 0:
            continue  # no stats: the file is always kept
        lo = hi = None
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(idx)
            st = col.statistics
            if col.num_values == 0 or (
                st is not None
                and st.has_null_count
                and st.null_count == col.num_values
            ):
                continue  # no values, or only NULLs: nothing to bound
            if st is None or not st.has_min_max:
                raise _FooterStatsUnusable(f, c, "no min/max")
            mn, mx = st.min, st.max
            if not (
                isinstance(mn, (str, int, float))
                and isinstance(mx, (str, int, float))
            ):
                raise _FooterStatsUnusable(
                    f, c, f"{type(mn).__name__} bounds are not JSON-clean"
                )
            # A row group holding a NaN records it as a bound, and a Python
            # min/max fold over NaN depends on the order, so the file's
            # range could come out too narrow: such a file gets no bound.
            if _bounds(mn, mx) is None:
                break
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
        else:
            fstats[c] = [lo, hi]
    return fstats


def _column_stats(
    spark: SparkSession, files: list[str], cols: tuple[str, ...]
) -> dict[str, dict[str, list]]:
    """Per-file min/max for ``cols`` over ``files``.

    Fast path (r12): read the just-written parquet FOOTERS on the driver —
    the writer already recorded chunk-level min/max, so no Spark job runs
    at all (a commit used to pay a full read-back scan job per version;
    the bench's 4-append + merge query ran five of them).  Footer bounds
    are always VALID bounds even when a writer stores truncated values
    (parquet truncation keeps min' <= min and max' >= max), and every
    consumer (``pruned_files`` skipping, DELETE/MERGE candidate splits)
    re-applies the exact predicate to surviving files, so looser bounds
    can only reduce skipping, never change results.  Values must be
    JSON-representable (string/int/float); use a string date or epoch
    column for temporal stats.

    A file whose column holds a NaN or an infinity gets no bound for it
    (JSON has no such numbers), so it is always kept.

    Fallback: any file/column whose footer lacks usable stats (older
    writer, exotic type) logs a warning naming it and falls back to the
    original grouped read-back scan for ALL files — one Spark job, exact,
    keyed by ``input_file_name``."""
    try:
        return _footer_stats(files, cols)
    except _FooterStatsUnusable as e:
        _log.warning(
            "footer stats unusable (%s); computing min/max of %d file(s) "
            "with an exact scan",
            e,
            len(files),
        )
    aggs = [F.min(c).alias(f"min_{c}") for c in cols] + [
        F.max(c).alias(f"max_{c}") for c in cols
    ]
    rows = (
        spark.read.parquet(*files)
        .groupBy(F.input_file_name().alias("_f"))
        .agg(*aggs)
        .collect()
    )
    by_path: dict[str, dict[str, list]] = {}
    for r in rows:
        path = r["_f"]
        if path.startswith("file:"):
            path = path[len("file:") :]
            while path.startswith("//"):
                path = path[1:]
        by_path[path] = {
            c: rng
            for c in cols
            if (rng := _bounds(r[f"min_{c}"], r[f"max_{c}"])) is not None
        }
    # keys must match the manifest's file paths exactly
    return {f: by_path.get(f, {}) for f in files}


class _FooterStatsUnusable(Exception):
    """A footer lacked exact, JSON-clean min/max for a requested column."""

    def __init__(self, path: str, column: str, reason: str):
        super().__init__(f"{path}, column {column}: {reason}")


class CommitConflict(Exception):
    """Another writer published this version number first; retry with the
    next number."""


def _publish(
    table_dir: str,
    n: int,
    files: list[str],
    txn_id: str | None = None,
    stats: dict[str, dict[str, list]] | None = None,
) -> int:
    md = _manifest_dir(table_dir)
    os.makedirs(md, exist_ok=True)
    manifest = {"version": n, "files": files}
    if txn_id is not None:
        manifest["txn_id"] = txn_id
    if stats:
        manifest["stats"] = stats
    fd, tmp = tempfile.mkstemp(dir=md, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, allow_nan=False)
        try:
            # The commit point: hard-link is create-if-absent (EEXIST when
            # the name is taken), unlike os.rename's last-writer-wins
            # overwrite — a concurrent writer racing for the same version
            # loses visibly instead of silently erasing this manifest.
            os.link(tmp, os.path.join(md, f"v{n}.json"))
        except FileExistsError as e:
            raise CommitConflict(f"v{n} already committed") from e
    finally:
        # nothing may raise once the link exists: callers delete the data
        # of a commit that raised, and a stray .tmp is never read
        try:
            os.unlink(tmp)
        except OSError:
            pass
    return n


def _manifest(table_dir: str, version: int) -> dict:
    with open(os.path.join(_manifest_dir(table_dir), f"v{version}.json")) as f:
        return json.load(f)


def manifest_files(table_dir: str, version: int) -> list[str]:
    """File list of a committed version's manifest."""
    vs = versions(table_dir)
    if version not in vs:
        raise FileNotFoundError(f"version {version} not in {vs}")
    return _manifest(table_dir, version)["files"]


def _commit_new_files(
    df: DataFrame,
    table_dir: str,
    stats_cols: tuple[str, ...],
    append: bool,
    txn_id: str | None = None,
) -> int:
    """Write ``df`` once and publish it as the next version, retrying the
    publish at the next number after a lost race.  An ``append`` lists the
    previous version's files (and carries their stats) before the new ones;
    a ``txn_id`` already in the log makes the call a no-op.  Both are
    re-read on every attempt, against the winner's manifest."""
    _check_stats_cols(df, stats_cols)
    data_dir = None
    new_stats: dict[str, dict[str, list]] = {}
    try:
        while True:
            vs = versions(table_dir)
            if txn_id is not None:
                if txn_id in _retired_txns(table_dir):
                    return vs[-1] if vs else 0
                for v in vs:
                    if _manifest(table_dir, v).get("txn_id") == txn_id:
                        return v
            n = (vs[-1] + 1) if vs else 1
            if data_dir is None:
                data_dir, new_files = _write_files(df, table_dir, n)
                if stats_cols:
                    new_stats = _column_stats(
                        df.sparkSession, new_files, stats_cols
                    )
            prev = _manifest(table_dir, vs[-1]) if append and vs else {}
            stats = {**prev.get("stats", {}), **new_stats} or None
            files = prev.get("files", []) + new_files
            try:
                return _publish(table_dir, n, files, txn_id=txn_id, stats=stats)
            except CommitConflict:
                continue
    except BaseException:
        if data_dir is not None:
            shutil.rmtree(data_dir, ignore_errors=True)
        raise


def commit_version(
    df: DataFrame, table_dir: str, stats_cols: tuple[str, ...] = ()
) -> int:
    """Write ``df`` as the next table version (full overwrite semantics)
    and publish its manifest.

    The data lands under ``data/v{N}-{uuid}/`` (unique prefix, so a
    concurrent or crashed writer can never collide with published files),
    then the manifest is linked into place create-if-absent as the commit
    point; losing a version race retries publication at the next number
    (the already-written data files stay valid — only the manifest moves).

    ``stats_cols`` records per-file min/max for those columns in the
    manifest (data skipping via ``read_version_pruned``), same contract as
    ``commit_append``.  A stats column of a type whose bounds JSON cannot
    hold raises ``ValueError`` before anything is written, and a commit that
    fails for any reason but a lost race deletes the files it wrote.
    """
    return _commit_new_files(df, table_dir, stats_cols, append=False)


def commit_append(
    df: DataFrame,
    table_dir: str,
    txn_id: str | None = None,
    stats_cols: tuple[str, ...] = (),
) -> int:
    """Append ``df`` as the next version: the new manifest lists the
    previous version's files PLUS the newly-written ones. Old files are
    never rewritten — an append commit costs O(new data), regardless of
    table size, which is what makes hourly ingest into a 100 TB table
    viable.

    ``txn_id`` makes the commit IDEMPOTENT (the exactly-once sink
    contract for streaming foreachBatch, where a failed micro-batch is
    re-run with the same batch id): if any committed manifest already
    records this ``txn_id``, the call is a no-op returning that version
    — the retried batch can never double-append. Same mechanism as
    Delta's txn appId/version and Iceberg's snapshot dedup. Vacuumed-away
    manifests' txn_ids survive in ``_manifests/retired_txns.json`` (see
    vacuum), so a retry arriving after retention cleanup still no-ops.

    ``stats_cols`` records per-file min/max for those columns in the
    manifest (file-level data skipping, the Delta/Iceberg stats analog):
    stats for the NEW files are computed once (O(new data)); the previous
    manifest's stats carry forward untouched.

    Losing a concurrent-version race retries the whole read-check-publish
    round: the base file list and the txn_id scan are recomputed against
    the winner's manifest before publishing at the next number.
    ``stats_cols`` are checked, and a failed commit cleaned up, as in
    ``commit_version``."""
    return _commit_new_files(df, table_dir, stats_cols, append=True, txn_id=txn_id)


def pruned_files(
    table_dir: str, version: int, col: str, lo, hi
) -> tuple[list[str], list[str]]:
    """Split a version's file list into (kept, skipped) for the predicate
    ``col BETWEEN lo AND hi`` using the manifest's per-file min/max stats.
    A file is skipped ONLY when its recorded range provably cannot overlap
    [lo, hi]; files without stats for ``col`` (or with a NULL bound) are
    conservatively kept — skipping is an optimization, never a filter."""
    manifest = _manifest(table_dir, version)
    stats = manifest.get("stats", {})
    kept, skipped = [], []
    for f in manifest["files"]:
        rng = stats.get(f, {}).get(col)
        if (
            rng is not None
            and rng[0] is not None
            and rng[1] is not None
            and (rng[1] < lo or rng[0] > hi)
        ):
            skipped.append(f)
        else:
            kept.append(f)
    return kept, skipped


def read_version_pruned(
    spark: SparkSession,
    table_dir: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> DataFrame:
    """Snapshot read with manifest-level FILE SKIPPING: only files whose
    recorded [min, max] for ``col`` can overlap [lo, hi] reach the parquet
    scan, and the exact predicate is re-applied to the survivors (stats
    prune files, the filter prunes rows — correctness never depends on the
    stats). On a 100 TB table ingested in time order this turns a
    one-week query into an O(one week of files) plan before Spark's own
    partition pruning / row-group skipping even start."""
    vs = versions(table_dir)
    if not vs:
        raise FileNotFoundError(f"no committed versions in {table_dir}")
    n = vs[-1] if version is None else version
    kept, _ = pruned_files(table_dir, n, col, lo, hi)
    if not kept:
        # Stats pruned every file: an empty RESULT is a legitimate outcome
        # ("skipping is an optimization, never a filter" — ADVICE r5 #4),
        # so return an empty DataFrame with the table schema instead of
        # raising.  F.lit(False) folds to an empty LocalRelation at
        # planning time — no file is actually scanned.
        return (
            spark.read.parquet(*manifest_files(table_dir, n))
            .where(F.lit(False))
        )
    return spark.read.parquet(*kept).where(F.col(col).between(F.lit(lo), F.lit(hi)))


def _retired_txns_path(table_dir: str) -> str:
    return os.path.join(_manifest_dir(table_dir), "retired_txns.json")


def _retired_txns(table_dir: str) -> set[str]:
    """txn_ids whose manifests were vacuumed away — kept so idempotent
    append retries outlive retention cleanup."""
    try:
        with open(_retired_txns_path(table_dir)) as f:
            return set(json.load(f))
    except FileNotFoundError:
        return set()


def added_files(table_dir: str, from_version: int, to_version: int) -> list[str]:
    """Files present in ``to_version``'s manifest but not
    ``from_version``'s — the change set an incremental consumer reads."""
    base = set(manifest_files(table_dir, from_version))
    return [f for f in manifest_files(table_dir, to_version) if f not in base]


def read_changes(
    spark: SparkSession, table_dir: str, from_version: int, to_version: int
) -> DataFrame:
    """Read ONLY the rows appended between two versions (the files added
    by append commits in that range). This is the incremental-consumption
    primitive: a downstream job that checkpointed ``from_version`` scans
    the delta, never the table. Only meaningful across append commits —
    an overwrite commit replaces the file set, so its delta is the whole
    new version."""
    new = added_files(table_dir, from_version, to_version)
    if not new:
        raise FileNotFoundError(
            f"no files added between v{from_version} and v{to_version}"
        )
    return spark.read.parquet(*new)


def vacuum(table_dir: str, keep_last: int = 1) -> list[str]:
    """Retention cleanup: keep the newest ``keep_last`` versions, delete
    every data file referenced ONLY by older manifests, then drop the old
    manifests. Returns the deleted file paths. Files shared with a
    retained version (append lineage) survive. Time travel to vacuumed
    versions is gone — that is the retention trade every table format
    makes; run with the widest retention storage allows.

    Deleted manifests' txn_ids are folded into
    ``_manifests/retired_txns.json`` FIRST, so commit_append's
    exactly-once scan still recognizes a late retry of a vacuumed-past
    micro-batch (otherwise retention would reopen the double-append
    window). Vacuum is a single-writer maintenance operation — run one at
    a time, like every table format's retention job."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    vs = versions(table_dir)
    retained = set(vs[-keep_last:])
    doomed = [v for v in vs if v not in retained]
    retiring = {
        t
        for v in doomed
        if (t := _manifest(table_dir, v).get("txn_id")) is not None
    }
    if retiring:
        merged = sorted(_retired_txns(table_dir) | retiring)
        fd, tmp = tempfile.mkstemp(dir=_manifest_dir(table_dir), suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(merged, f)
        os.rename(tmp, _retired_txns_path(table_dir))  # before manifest drop
    keep_files = {f for v in retained for f in manifest_files(table_dir, v)}
    deleted = []
    for v in doomed:
        for f in manifest_files(table_dir, v):
            if f not in keep_files and os.path.exists(f):
                os.remove(f)
                deleted.append(f)
        os.remove(os.path.join(_manifest_dir(table_dir), f"v{v}.json"))
    return deleted


def read_version(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Read a committed snapshot (default: latest). Only the manifest's
    files reach the scan — concurrently-written newer versions are
    invisible to this reader. ``merge_schema=True`` unions the schemas of
    the listed files (schema evolution across append batches: files
    missing a column yield NULLs), at the cost of a footer read per file
    at planning time — leave it off when the schema is known stable."""
    vs = versions(table_dir)
    if not vs:
        raise FileNotFoundError(f"no committed versions in {table_dir}")
    n = vs[-1] if version is None else version
    if n not in vs:
        raise FileNotFoundError(f"version {n} not in {vs}")
    with open(os.path.join(_manifest_dir(table_dir), f"v{n}.json")) as f:
        manifest = json.load(f)
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*manifest["files"])


def _rewrite_files(
    spark: SparkSession,
    table_dir: str,
    prune: tuple | None,
    rewrite,
    stats_cols: tuple[str, ...],
    inserts: bool = False,
) -> int:
    """The copy-on-write commit loop of DELETE, UPDATE, OPTIMIZE and MERGE.

    Each attempt splits the latest version's files into candidates and
    untouched files, by the manifest stats for ``prune`` = ``(col, lo,
    hi)`` (``pruned_files``), or with every file a candidate when ``prune``
    is ``None``.  ``rewrite`` gets the candidates' rows as one frame and
    returns the rows that replace them; these are committed next to the
    untouched files, which carry over by reference with their stats.  With
    no candidates the verb is a no-op returning the current version, unless
    it ``inserts`` rows of its own (MERGE): then ``rewrite`` gets ``None``.

    Losing a commit race deletes the attempt's files and re-runs it against
    the winner's snapshot: re-publishing a rewrite of a stale snapshot would
    silently drop the concurrent writer's rows.  Any other failure deletes
    the attempt's files and raises."""
    if not versions(table_dir):
        raise FileNotFoundError(f"no committed versions in {table_dir}")
    while True:
        base = versions(table_dir)[-1]
        if prune is None:
            candidates, untouched = manifest_files(table_dir, base), []
        else:
            candidates, untouched = pruned_files(table_dir, base, *prune)
        if not candidates and not inserts:
            return base
        df = rewrite(spark.read.parquet(*candidates) if candidates else None)
        _check_stats_cols(df, stats_cols)
        prev_stats = _manifest(table_dir, base).get("stats", {})
        stats = {f: prev_stats[f] for f in untouched if f in prev_stats}
        data_dir, new_files = _write_files(df, table_dir, base + 1)
        try:
            if stats_cols:
                stats.update(_column_stats(spark, new_files, stats_cols))
            return _publish(
                table_dir, base + 1, untouched + new_files, stats=stats or None
            )
        except BaseException as e:
            shutil.rmtree(data_dir, ignore_errors=True)
            if not isinstance(e, CommitConflict):
                raise


def delete_where(
    spark: SparkSession,
    table_dir: str,
    col: str,
    lo,
    hi,
    stats_cols: tuple[str, ...] = (),
) -> int:
    """DELETE rows with ``col BETWEEN lo AND hi`` from the latest snapshot
    by COPY-ON-WRITE, the Delta/Iceberg delete mechanic: manifest stats
    first split the file list into candidates (range overlaps) and
    untouched files; only candidates are read, filtered to the survivors,
    and rewritten; the new manifest lists untouched files UNCHANGED plus
    the rewritten ones.  Write amplification is bounded by the stats'
    selectivity — on a time-ordered table a targeted delete rewrites
    O(matching files), never O(table) — and history stays intact: the
    pre-delete version remains time-travelable until vacuumed (which is
    also the compliance note: a GDPR erasure is complete only after
    ``vacuum`` drops the old files).

    Returns the new version number.  Candidate files without stats are
    conservatively rewritten (skipping is an optimization, never a
    filter); ``stats_cols`` re-records stats for the rewritten files.

    NULL semantics follow SQL/Delta DELETE: only rows where the predicate
    is TRUE are deleted, so rows with a NULL ``col`` are always kept — a
    bare ``~between`` would evaluate to NULL for them and drop NULL rows
    from rewritten files while NULL rows in stats-skipped files survived,
    a layout-dependent data loss (ADVICE r5 #1).  A delete whose range
    overlaps no files is a no-op and returns the CURRENT version.
    """
    match = F.col(col).between(F.lit(lo), F.lit(hi))
    keep_pred = ~match | F.col(col).isNull()
    return _rewrite_files(
        spark, table_dir, (col, lo, hi), lambda c: c.where(keep_pred), stats_cols
    )


def update_where(
    spark: SparkSession,
    table_dir: str,
    col: str,
    lo,
    hi,
    set_exprs: dict[str, str],
    stats_cols: tuple[str, ...] = (),
) -> int:
    """UPDATE rows with ``col BETWEEN lo AND hi`` by copy-on-write:
    stats-pruned candidate files are rewritten with ``set_exprs`` (column
    -> SQL expression) applied ONLY to matching rows — non-matching rows
    in a candidate file are rewritten verbatim, untouched files carry over
    by reference. Same O(matching files) write-amplification bound and
    history semantics as ``delete_where``.  SQL UPDATE NULL semantics hold
    for free here: ``F.when`` only fires on a TRUE match, so NULL-``col``
    rows rewrite verbatim.  An update whose range overlaps no files is a
    no-op returning the current version (ADVICE r5 #3)."""
    match = F.col(col).between(F.lit(lo), F.lit(hi))

    def update(cand: DataFrame) -> DataFrame:
        return cand.select(
            *[
                F.when(match, F.expr(set_exprs[c])).otherwise(F.col(c)).alias(c)
                if c in set_exprs
                else F.col(c)
                for c in cand.columns
            ]
        )

    return _rewrite_files(spark, table_dir, (col, lo, hi), update, stats_cols)


def optimize_table(
    spark: SparkSession,
    table_dir: str,
    target_files: int = 1,
    order_by: tuple[str, ...] = (),
    stats_cols: tuple[str, ...] = (),
) -> int:
    """OPTIMIZE: rewrite the latest snapshot into ``target_files`` files
    (optionally range-clustered by ``order_by`` — the Z-ORDER-lite that
    tightens per-file min/max stats so later reads skip harder), committed
    as a new content-identical version. The maintenance counterpart to
    ``vacuum``: appends fragment a table into per-batch files; OPTIMIZE
    periodically collapses them so scan task counts and footer overhead
    stay sane. History is preserved (the fragmented version remains
    time-travelable until vacuum). At 100 TB this runs per partition/
    bucket of the table, never globally — the registry query's whole-table
    form is the fixture-scale demonstration.  A commit race re-compacts
    the WINNER's snapshot (ADVICE r5 #2); a version with no files is left
    as it is."""

    def compact(df: DataFrame) -> DataFrame:
        if order_by:
            return df.repartitionByRange(
                target_files, *[F.col(c) for c in order_by]
            )
        return df.repartition(target_files)

    return _rewrite_files(spark, table_dir, None, compact, stats_cols)


def merge_into(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    keys: list[str],
    delete_col: str | None = None,
    stats_cols: tuple[str, ...] = (),
) -> int:
    """MERGE INTO by copy-on-write — the fourth verb of the lakehouse DML
    quartet (append / DELETE / UPDATE / MERGE), Delta's
    ``whenMatchedUpdateAll / whenMatchedDelete / whenNotMatchedInsertAll``
    on the manifest protocol, and the versioned form of the reference's
    keyed upsert (reference load.py:94-119).  The rows are
    ``sinks/upsert.py: keyed_merge``, the core ``parquet_upsert`` uses:

    - target rows whose ``keys`` match a source row null-safely are
      REPLACED by the source row (upsert), or DELETED when the source row's
      ``delete_col`` is true (CDC tombstone);
    - source rows matching no target row are INSERTED (tombstones for
      absent keys are ignored, like Delta's unmatched whenMatchedDelete).

    ``source`` must be key-unique (dedup keep-last upstream — Delta raises
    on multiple matches too; enforced here with a cheap count check) and
    share the target schema (minus ``delete_col``).  An empty source is a
    no-op returning the current version.

    Scale shape: one aggregate counts the source's rows and computes the
    [min, max] of its FIRST key; manifest stats then bound the rewrite to the files whose
    range of that key can overlap it, so a trickle of late rows against a
    100 TB key-ordered table rewrites O(touched files), never O(table).
    Stats cannot show where NULL keys are, so a source with a NULL first
    key makes every file a candidate.  Untouched files carry over by
    reference; a commit race re-merges against the winner's snapshot.
    """
    from ..sinks.upsert import keyed_merge

    if not versions(table_dir):
        raise FileNotFoundError(f"no committed versions in {table_dir}")
    # Pin the source ONCE before any of its consumers (dup check, key
    # bounds, anti-join/union per publish attempt): a non-deterministic or
    # mutable-input source re-evaluated per consumer could pass the
    # uniqueness check yet merge different rows, silently breaking the
    # key-unique contract — and each commit-conflict retry would recompute
    # the full source lineage (r6 ADVICE).
    source = source.localCheckpoint(eager=True)
    k = keys[0]
    b = source.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count_if(F.col(k).isNull()).alias("nulls"),
        F.min(k).alias("lo"),
        F.max(k).alias("hi"),
    ).collect()[0]
    if not b["rows"]:
        return versions(table_dir)[-1]
    dup = source.groupBy(*keys).count().where(F.col("count") > 1).limit(1)
    if dup.count():
        raise ValueError("merge source must be key-unique; dedup upstream")
    prune = None if b["nulls"] else (k, b["lo"], b["hi"])
    return _rewrite_files(
        spark,
        table_dir,
        prune,
        lambda cand: keyed_merge(cand, source, keys, delete_col),
        stats_cols,
        inserts=True,
    )
