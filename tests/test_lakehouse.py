"""Manifest-versioning semantics: snapshot isolation, time travel, and
crash invisibility — each against hand-built tables."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from projeto_de_etl_com_api_do_meta_spark.operators.lakehouse import (
    added_files,
    commit_append,
    commit_version,
    manifest_files,
    read_changes,
    read_version,
    vacuum,
    versions,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def test_commit_read_latest_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "t")
    assert commit_version(_df(spark, [(1, "a"), (2, "b")]), t) == 1
    assert commit_version(_df(spark, [(1, "a2")]), t) == 2
    assert versions(t) == [1, 2]
    latest = {(r.k, r.v) for r in read_version(spark, t).collect()}
    assert latest == {(1, "a2")}
    v1 = {(r.k, r.v) for r in read_version(spark, t, 1).collect()}
    assert v1 == {(1, "a"), (2, "b")}


def test_snapshot_isolation_under_later_commit(spark, tmp_path):
    t = str(tmp_path / "t")
    commit_version(_df(spark, [(1, "a")]), t)
    v1 = read_version(spark, t, 1)  # resolve the snapshot FIRST
    commit_version(_df(spark, [(9, "z")]), t)
    # the already-resolved v1 reader must not see v2's files
    assert {(r.k, r.v) for r in v1.collect()} == {(1, "a")}


def test_uncommitted_data_is_invisible(spark, tmp_path):
    t = str(tmp_path / "t")
    commit_version(_df(spark, [(1, "a")]), t)
    # simulate a crashed writer: data files exist, manifest never published
    orphan = os.path.join(t, "data", "v2-deadbeef")
    _df(spark, [(666, "boom")]).write.parquet(orphan)
    assert versions(t) == [1]
    assert {(r.k, r.v) for r in read_version(spark, t).collect()} == {(1, "a")}


def test_missing_version_raises(spark, tmp_path):
    t = str(tmp_path / "t")
    with pytest.raises(FileNotFoundError):
        read_version(spark, t)
    commit_version(_df(spark, [(1, "a")]), t)
    with pytest.raises(FileNotFoundError):
        read_version(spark, t, 7)


def test_manifest_lists_exactly_the_files(spark, tmp_path):
    t = str(tmp_path / "t")
    commit_version(_df(spark, [(i, "x") for i in range(100)]).repartition(4), t)
    with open(os.path.join(t, "_manifests", "v1.json")) as f:
        m = json.load(f)
    assert m["version"] == 1
    assert len(m["files"]) == 4
    assert all(p.endswith(".parquet") and os.path.exists(p) for p in m["files"])


def test_append_shares_previous_files(spark, tmp_path):
    t = str(tmp_path / "t")
    commit_version(_df(spark, [(1, "a")]), t)
    commit_append(_df(spark, [(2, "b")]), t)
    commit_append(_df(spark, [(3, "c")]), t)
    v1, v2, v3 = (set(manifest_files(t, v)) for v in (1, 2, 3))
    assert v1 < v2 < v3  # append = strict superset lineage, no rewrites
    latest = {(r.k, r.v) for r in read_version(spark, t).collect()}
    assert latest == {(1, "a"), (2, "b"), (3, "c")}


def test_read_changes_sees_only_the_delta(spark, tmp_path):
    t = str(tmp_path / "t")
    commit_append(_df(spark, [(1, "a"), (2, "b")]), t)
    commit_append(_df(spark, [(3, "c")]), t)
    delta = {(r.k, r.v) for r in read_changes(spark, t, 1, 2).collect()}
    assert delta == {(3, "c")}
    assert added_files(t, 2, 2) == []
    with pytest.raises(FileNotFoundError):
        read_changes(spark, t, 2, 2)


def test_vacuum_drops_old_overwrite_keeps_latest(spark, tmp_path):
    t = str(tmp_path / "t")
    commit_version(_df(spark, [(1, "a")]), t)
    old_files = manifest_files(t, 1)
    commit_version(_df(spark, [(2, "b")]), t)  # overwrite: disjoint files
    deleted = vacuum(t, keep_last=1)
    assert set(deleted) == set(old_files)
    assert all(not os.path.exists(f) for f in old_files)
    assert versions(t) == [2]
    assert {(r.k, r.v) for r in read_version(spark, t).collect()} == {(2, "b")}


def test_vacuum_preserves_files_shared_via_append_lineage(spark, tmp_path):
    t = str(tmp_path / "t")
    commit_append(_df(spark, [(1, "a")]), t)
    commit_append(_df(spark, [(2, "b")]), t)
    deleted = vacuum(t, keep_last=1)
    # v2's manifest still references v1's files: nothing may be deleted
    assert deleted == []
    assert versions(t) == [2]
    assert {(r.k, r.v) for r in read_version(spark, t).collect()} == {
        (1, "a"),
        (2, "b"),
    }


def test_schema_evolution_across_append_versions(spark, tmp_path):
    """An append batch may ADD columns: readers of the merged table see
    the union schema with NULL backfill for old files (mergeSchema)."""
    t = str(tmp_path / "t")
    commit_append(_df(spark, [(1, "a")]), t)
    wide = spark.createDataFrame([(2, "b", 99)], "k long, v string, extra long")
    commit_append(wide, t)
    out = read_version(spark, t, merge_schema=True)
    assert set(out.columns) == {"k", "v", "extra"}
    rows = {(r.k, r.v, r.extra) for r in out.collect()}
    assert rows == {(1, "a", None), (2, "b", 99)}
    # narrow read of v1 is unchanged
    assert set(read_version(spark, t, 1).columns) == {"k", "v"}


def test_txn_id_makes_append_idempotent(spark, tmp_path):
    """Retrying a failed micro-batch with the same txn_id must be a
    no-op returning the already-committed version (exactly-once sink)."""
    t = str(tmp_path / "t")
    v1 = commit_append(_df(spark, [(1, "a")]), t, txn_id="batch-0")
    v_retry = commit_append(_df(spark, [(1, "a")]), t, txn_id="batch-0")
    assert v1 == v_retry == 1
    assert versions(t) == [1]
    assert {(r.k, r.v) for r in read_version(spark, t).collect()} == {(1, "a")}
    # a NEW batch id commits normally
    assert commit_append(_df(spark, [(2, "b")]), t, txn_id="batch-1") == 2
    assert {(r.k, r.v) for r in read_version(spark, t).collect()} == {
        (1, "a"),
        (2, "b"),
    }


def test_publish_is_create_if_absent_and_commit_retries(spark, tmp_path):
    """Two writers racing for the same version number must not silently
    overwrite each other (ADVICE r4 #1): _publish is put-if-absent, and
    commit_version retries at the next number instead of clobbering."""
    from projeto_de_etl_com_api_do_meta_spark.operators.lakehouse import (
        CommitConflict,
        _publish,
    )

    t = str(tmp_path / "t")
    commit_version(_df(spark, [(1, "a")]), t)
    # a straggler that computed n=1 before our commit landed loses visibly
    with pytest.raises(CommitConflict):
        _publish(t, 1, ["bogus.parquet"])
    # v1's manifest is untouched by the failed publish
    assert manifest_files(t, 1) != ["bogus.parquet"]
    # the public API path retries past the conflict: simulate the race by
    # pre-claiming the version number commit_version will compute next
    _publish(t, 2, manifest_files(t, 1))
    assert commit_version(_df(spark, [(2, "b")]), t) == 3
    assert {(r.k, r.v) for r in read_version(spark, t, 3).collect()} == {(2, "b")}


def test_vacuum_preserves_txn_ids_for_late_retries(spark, tmp_path):
    """A retry of an already-committed micro-batch arriving AFTER vacuum
    dropped its manifest must still no-op (ADVICE r4 #2): vacuum folds
    retired txn_ids into _manifests/retired_txns.json."""
    t = str(tmp_path / "t")
    commit_append(_df(spark, [(1, "a")]), t, txn_id="batch-0")
    commit_append(_df(spark, [(2, "b")]), t, txn_id="batch-1")
    commit_append(_df(spark, [(3, "c")]), t, txn_id="batch-2")
    vacuum(t, keep_last=1)
    assert versions(t) == [3]
    # late retry of the vacuumed-past batch-0: must NOT double-append
    v = commit_append(_df(spark, [(1, "a")]), t, txn_id="batch-0")
    assert v == 3 and versions(t) == [3]
    rows = {(r.k, r.v) for r in read_version(spark, t).collect()}
    assert rows == {(1, "a"), (2, "b"), (3, "c")}
    # and a genuinely new batch still commits
    assert commit_append(_df(spark, [(4, "d")]), t, txn_id="batch-3") == 4


def test_stats_pruned_scan_skips_files(spark, tmp_path):
    from projeto_de_etl_com_api_do_meta_spark.operators.lakehouse import (
        commit_append,
        pruned_files,
        read_version_pruned,
    )

    table = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"2024-01-{d:02d}") for d in (1, 2, 10, 11, 20, 21) for i in (d, d + 100)],
        "id long, d string",
    )
    for lo, hi in (("2024-01-01", "2024-01-05"), ("2024-01-10", "2024-01-15"),
                   ("2024-01-20", "2024-01-25")):
        commit_append(df.where(F.col("d").between(lo, hi)), table, stats_cols=("d",))
    kept, skipped = pruned_files(table, 3, "d", "2024-01-10", "2024-01-15")
    assert skipped, "out-of-range commits' files must be skipped"
    # every kept file belongs to the middle commit's range; none lost
    rows = read_version_pruned(spark, table, "d", "2024-01-10", "2024-01-15")
    got = sorted(r.id for r in rows.collect())
    assert got == [10, 11, 110, 111]


def test_stats_pruning_is_only_an_optimization(spark, tmp_path):
    """Files lacking stats are conservatively kept — stats prune, the
    residual filter decides."""
    from projeto_de_etl_com_api_do_meta_spark.operators.lakehouse import (
        commit_append,
        pruned_files,
    )

    table = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "2024-01-01")], "id long, d string")
    commit_append(df, table)  # no stats recorded
    kept, skipped = pruned_files(table, 1, "d", "2099-01-01", "2099-12-31")
    assert not skipped and kept


def test_commit_version_records_stats_too(spark, tmp_path):
    from projeto_de_etl_com_api_do_meta_spark.operators.lakehouse import (
        commit_version,
        pruned_files,
    )

    table = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-31")], "id long, d string"
    ).repartition(2, "id")
    commit_version(df, table, stats_cols=("d",))
    kept, skipped = pruned_files(table, 1, "d", "2099-01-01", "2099-12-31")
    # nothing overlaps 2099 -> every file (all carry stats) is skipped
    assert skipped and not kept


def test_delete_where_rewrites_only_matching_files(spark, tmp_path):
    from projeto_de_etl_com_api_do_meta_spark.operators.lakehouse import (
        delete_where,
        manifest_files,
        read_version,
    )
    from projeto_de_etl_com_api_do_meta_spark.operators.lakehouse import (
        commit_append,
    )

    table = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"2024-01-{d:02d}") for d in (1, 2, 10, 11, 20, 21) for i in (d, d + 100)],
        "id long, d string",
    )
    for lo, hi in (("2024-01-01", "2024-01-05"), ("2024-01-10", "2024-01-15"),
                   ("2024-01-20", "2024-01-25")):
        commit_append(df.where(F.col("d").between(lo, hi)), table, stats_cols=("d",))
    before = set(manifest_files(table, 3))
    v = delete_where(spark, table, "d", "2024-01-10", "2024-01-15", stats_cols=("d",))
    after = set(manifest_files(table, v))
    # untouched weeks' files are SHARED byte-for-byte (same paths)
    shared = before & after
    assert shared, "untouched files must carry over unrewritten"
    # the deleted week's files are gone from the new manifest
    assert not any("v2-" in f for f in after)
    # content: deleted rows absent, everything else intact
    got = sorted(r.id for r in read_version(spark, table).collect())
    assert got == [1, 2, 20, 21, 101, 102, 120, 121]
    # pre-delete snapshot still time-travels
    old = sorted(r.id for r in read_version(spark, table, 3).collect())
    assert old == [1, 2, 10, 11, 20, 21, 101, 102, 110, 111, 120, 121]


def test_update_where_rewrites_only_matching_files(spark, tmp_path):
    from projeto_de_etl_com_api_do_meta_spark.operators.lakehouse import (
        commit_append,
        manifest_files,
        read_version,
        update_where,
    )

    table = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "2024-01-01", "x"), (2, "2024-01-10", "x"), (3, "2024-01-20", "x")],
        "id long, d string, tag string",
    )
    for lo, hi in (("2024-01-01", "2024-01-05"), ("2024-01-10", "2024-01-15"),
                   ("2024-01-20", "2024-01-25")):
        commit_append(df.where(F.col("d").between(lo, hi)), table, stats_cols=("d",))
    before = set(manifest_files(table, 3))
    v = update_where(
        spark, table, "d", "2024-01-10", "2024-01-15",
        set_exprs={"tag": "concat(tag, '!')"}, stats_cols=("d",),
    )
    after = set(manifest_files(table, v))
    assert before & after, "untouched files must carry over by reference"
    got = {(r.id, r.tag) for r in read_version(spark, table).collect()}
    assert got == {(1, "x"), (2, "x!"), (3, "x")}
    # pre-update snapshot unchanged
    old = {(r.id, r.tag) for r in read_version(spark, table, 3).collect()}
    assert old == {(1, "x"), (2, "x"), (3, "x")}


def test_optimize_compacts_preserving_content_and_history(spark, tmp_path):
    from projeto_de_etl_com_api_do_meta_spark.operators.lakehouse import (
        commit_append,
        manifest_files,
        optimize_table,
        read_version,
    )

    table = str(tmp_path / "t")
    for i in range(4):
        commit_append(
            spark.createDataFrame([(i, f"2024-01-{i+1:02d}")], "id long, d string")
            .repartition(2),
            table,
            stats_cols=("d",),
        )
    frag_files = manifest_files(table, 4)
    v = optimize_table(spark, table, target_files=1, order_by=("d",),
                       stats_cols=("d",))
    opt_files = manifest_files(table, v)
    assert len(opt_files) < len(frag_files)
    got = sorted(r.id for r in read_version(spark, table).collect())
    assert got == [0, 1, 2, 3]  # content identical
    old = sorted(r.id for r in read_version(spark, table, 4).collect())
    assert old == got  # fragmented history still time-travels


# ---- ADVICE r5: DML edge semantics ---------------------------------------


def test_delete_where_keeps_null_predicate_rows(spark, tmp_path):
    """SQL/Delta DELETE removes only rows where the predicate is TRUE;
    rows with a NULL stats column must survive regardless of whether their
    file was rewritten or stats-skipped (ADVICE r5 #1)."""
    from projeto_de_etl_com_api_do_meta_spark.operators.lakehouse import (
        commit_append,
        delete_where,
        read_version,
    )

    table = str(tmp_path / "t")
    # file 1: in-range rows + a NULL row (will be REWRITTEN)
    commit_append(
        spark.createDataFrame(
            [(1, "2024-01-10"), (2, "2024-01-11"), (3, None)],
            "id long, d string",
        ),
        table,
        stats_cols=("d",),
    )
    # file 2: out-of-range rows + a NULL row (min/max ignore NULLs, so its
    # stats range ["2024-02-01","2024-02-02"] lets it be SKIPPED)
    commit_append(
        spark.createDataFrame(
            [(4, "2024-02-01"), (5, "2024-02-02"), (6, None)],
            "id long, d string",
        ),
        table,
        stats_cols=("d",),
    )
    v = delete_where(spark, table, "d", "2024-01-01", "2024-01-31",
                     stats_cols=("d",))
    got = sorted(r.id for r in read_version(spark, table, v).collect())
    # 1,2 deleted; BOTH NULL rows (3 rewritten-file, 6 skipped-file) kept
    assert got == [3, 4, 5, 6]


def test_delete_update_matching_nothing_is_a_noop(spark, tmp_path):
    """A DELETE/UPDATE whose range overlaps no file must no-op and return
    the current version, not crash on an empty read (ADVICE r5 #3)."""
    from projeto_de_etl_com_api_do_meta_spark.operators.lakehouse import (
        commit_append,
        delete_where,
        read_version,
        update_where,
        versions,
    )

    table = str(tmp_path / "t")
    commit_append(
        spark.createDataFrame([(1, "2024-01-10", "x")],
                              "id long, d string, tag string")
        .coalesce(1),  # one data file, so stats cover every file
        table,
        stats_cols=("d",),
    )
    assert delete_where(spark, table, "d", "2030-01-01", "2030-12-31",
                        stats_cols=("d",)) == 1
    assert update_where(spark, table, "d", "2030-01-01", "2030-12-31",
                        set_exprs={"tag": "'boom'"}, stats_cols=("d",)) == 1
    assert versions(table) == [1]  # no new version published
    got = {(r.id, r.tag) for r in read_version(spark, table).collect()}
    assert got == {(1, "x")}


def test_read_version_pruned_all_files_skipped_is_empty_not_error(
    spark, tmp_path
):
    """Stats pruning every file is a legitimate empty result — return an
    empty DataFrame with the table schema (ADVICE r5 #4)."""
    from projeto_de_etl_com_api_do_meta_spark.operators.lakehouse import (
        commit_append,
        read_version_pruned,
    )

    table = str(tmp_path / "t")
    commit_append(
        spark.createDataFrame([(1, "2024-01-10")], "id long, d string"),
        table,
        stats_cols=("d",),
    )
    out = read_version_pruned(spark, table, "d", "2030-01-01", "2030-12-31")
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id", "d"]


def test_optimize_retry_compacts_the_winners_snapshot(spark, tmp_path):
    """After losing a commit race, OPTIMIZE must re-read the WINNER's
    snapshot and compact that — not re-publish its stale pre-race read,
    which would silently drop the concurrent writer's rows (ADVICE r5 #2)."""
    from projeto_de_etl_com_api_do_meta_spark.operators import lakehouse as lh

    table = str(tmp_path / "t")
    lh.commit_append(
        spark.createDataFrame([(1, "a")], "id long, v string"), table
    )
    real_publish = lh._publish
    state = {"raced": False}

    def racing_publish(table_dir, n, files, txn_id=None, stats=None):
        if not state["raced"]:
            state["raced"] = True
            lh._publish = real_publish  # the concurrent writer commits...
            lh.commit_append(
                spark.createDataFrame([(2, "b")], "id long, v string"), table
            )
            raise lh.CommitConflict("concurrent append won v2")
        return real_publish(table_dir, n, files, txn_id=txn_id, stats=stats)

    lh._publish = racing_publish
    try:
        v = lh.optimize_table(spark, table, target_files=1)
    finally:
        lh._publish = real_publish
    assert state["raced"]
    got = sorted(r.id for r in lh.read_version(spark, table, v).collect())
    assert got == [1, 2], "compaction must carry the concurrent commit's rows"


def test_merge_into_upsert_delete_insert_with_file_sharing(spark, tmp_path):
    from projeto_de_etl_com_api_do_meta_spark.operators.lakehouse import (
        commit_append,
        manifest_files,
        merge_into,
        read_version,
    )

    table = str(tmp_path / "t")
    # two key-ranged files: [1..3] and [100..102]
    for lo in (1, 100):
        commit_append(
            spark.createDataFrame(
                [(lo + i, f"v{lo + i}") for i in range(3)], "k long, v string"
            ).coalesce(1),
            table,
            stats_cols=("k",),
        )
    before = set(manifest_files(table, 2))
    src = spark.createDataFrame(
        [
            (2, "v2_new", False),   # matched -> update
            (3, None, True),        # matched -> delete
            (5, "v5", False),       # unmatched -> insert
            (7, None, True),        # unmatched tombstone -> ignored
        ],
        "k long, v string, is_del boolean",
    )
    v = merge_into(spark, table, src, key="k", delete_col="is_del",
                   stats_cols=("k",))
    after = set(manifest_files(table, v))
    # the [100..102] file is outside the source key range: shared by ref
    assert before & after, "untouched file must carry over by reference"
    got = {(r.k, r.v) for r in read_version(spark, table, v).collect()}
    assert got == {
        (1, "v1"), (2, "v2_new"), (5, "v5"),
        (100, "v100"), (101, "v101"), (102, "v102"),
    }
    # pre-merge snapshot still time-travels
    old = {r.k for r in read_version(spark, table, 2).collect()}
    assert old == {1, 2, 3, 100, 101, 102}


def test_merge_into_rejects_duplicate_source_keys(spark, tmp_path):
    from projeto_de_etl_com_api_do_meta_spark.operators.lakehouse import (
        commit_append,
        merge_into,
    )

    table = str(tmp_path / "t")
    commit_append(
        spark.createDataFrame([(1, "a")], "k long, v string"), table,
        stats_cols=("k",),
    )
    src = spark.createDataFrame([(1, "x"), (1, "y")], "k long, v string")
    with pytest.raises(ValueError, match="key-unique"):
        merge_into(spark, table, src, key="k")


def test_merge_into_empty_source_is_noop(spark, tmp_path):
    from projeto_de_etl_com_api_do_meta_spark.operators.lakehouse import (
        commit_append,
        merge_into,
        versions,
    )

    table = str(tmp_path / "t")
    commit_append(
        spark.createDataFrame([(1, "a")], "k long, v string"), table,
        stats_cols=("k",),
    )
    src = spark.createDataFrame([], "k long, v string")
    assert merge_into(spark, table, src, key="k") == 1
    assert versions(table) == [1]


def test_merge_into_retry_merges_against_winners_snapshot(spark, tmp_path):
    from projeto_de_etl_com_api_do_meta_spark.operators import lakehouse as lh

    table = str(tmp_path / "t")
    lh.commit_append(
        spark.createDataFrame([(1, "a")], "k long, v string"), table,
        stats_cols=("k",),
    )
    real_publish = lh._publish
    state = {"raced": False}

    def racing_publish(table_dir, n, files, txn_id=None, stats=None):
        if not state["raced"]:
            state["raced"] = True
            lh._publish = real_publish
            lh.commit_append(
                spark.createDataFrame([(9, "z")], "k long, v string"), table,
                stats_cols=("k",),
            )
            raise lh.CommitConflict("concurrent append won")
        return real_publish(table_dir, n, files, txn_id=txn_id, stats=stats)

    lh._publish = racing_publish
    try:
        src = spark.createDataFrame([(1, "a2")], "k long, v string")
        v = lh.merge_into(spark, table, src, key="k", stats_cols=("k",))
    finally:
        lh._publish = real_publish
    got = {(r.k, r.v) for r in lh.read_version(spark, table, v).collect()}
    assert got == {(1, "a2"), (9, "z")}, "winner's rows must survive the merge"


def test_nan_footer_bound_does_not_prune_matching_rows(spark, tmp_path):
    """A row group holding a NaN records max=NaN in its footer; the file's
    range must not be folded down to an earlier row group's max."""
    from projeto_de_etl_com_api_do_meta_spark.operators.lakehouse import (
        read_version_pruned,
    )

    table = str(tmp_path / "t")
    df = spark.range(40001).selectExpr(
        "IF(id < 40000, CAST(id AS DOUBLE), CAST('NaN' AS DOUBLE)) AS x"
    ).coalesce(1)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old = hconf.get("parquet.block.size")
    hconf.set("parquet.block.size", "4096")  # many small row groups
    try:
        commit_version(df, table, stats_cols=("x",))
    finally:
        if old is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", old)
    got = read_version_pruned(spark, table, "x", 39900.0, 39998.0).count()
    exact = read_version(spark, table).where(F.col("x").between(39900.0, 39998.0))
    assert got == exact.count() == 99


def test_unusable_footer_stats_fall_back_with_a_warning(spark, tmp_path, caplog):
    """A date column's footer bounds are not JSON-clean: the exact scan
    takes over, and the fallback is logged with the file and column."""
    import datetime
    import logging

    from projeto_de_etl_com_api_do_meta_spark.operators.lakehouse import (
        _column_stats,
    )

    out = str(tmp_path / "d")
    spark.createDataFrame(
        [(datetime.date(2024, 1, 3),), (datetime.date(2024, 1, 1),)], "d date"
    ).coalesce(1).write.parquet(out)
    (path,) = [
        os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")
    ]
    with caplog.at_level(logging.WARNING):
        stats = _column_stats(spark, [path], ("d",))
    assert stats == {path: {"d": [datetime.date(2024, 1, 1), datetime.date(2024, 1, 3)]}}
    assert f"{path}, column d" in caplog.text


def test_non_json_stats_column_is_rejected_before_any_write(spark, tmp_path):
    """A date stats column cannot go into a manifest: the commit raises a
    ValueError naming the column, and leaves no version and no data dir."""
    import datetime

    table = str(tmp_path / "t")
    df = spark.createDataFrame([(1, datetime.date(2024, 1, 1))], "k long, d date")
    commit_version(df.select("k"), table)
    for commit in (commit_version, commit_append):
        with pytest.raises(ValueError, match="'d'"):
            commit(df, table, stats_cols=("d",))
        assert versions(table) == [1]
        assert [d[:3] for d in os.listdir(os.path.join(table, "data"))] == ["v1-"]


def test_failed_publish_removes_the_written_files(spark, tmp_path):
    """A commit whose publish fails (here: the manifest dir is a file)
    deletes the data it wrote instead of leaving an orphan ``data/v*``."""
    table = str(tmp_path / "t")
    os.makedirs(table)
    open(os.path.join(table, "_manifests"), "w").close()
    with pytest.raises(OSError):
        commit_version(_df(spark, [(1, "a")]), table)
    assert os.listdir(os.path.join(table, "data")) == []


def test_nan_and_infinite_bounds_keep_the_manifest_strict_json(spark, tmp_path):
    """A file whose stats column holds a NaN or an infinity records no bound
    for it (so it is always kept); the manifest stays valid JSON, on the
    footer path and on the exact-scan fallback alike."""
    from projeto_de_etl_com_api_do_meta_spark.operators.lakehouse import (
        _column_stats,
        read_version_pruned,
    )

    def strict(text):
        def no_constant(c):
            raise ValueError(f"not JSON: {c}")

        return json.loads(text, parse_constant=no_constant)

    table = str(tmp_path / "t")
    schema = "x double, d date"
    rows = [(float(i), None) for i in range(10)]
    commit_append(spark.createDataFrame(rows, schema).select("x").coalesce(1),
                  table, stats_cols=("x",))
    special = [(float("nan"), None), (4.0, None), (float("inf"), None)]
    commit_append(spark.createDataFrame(special, schema).select("x").coalesce(1),
                  table, stats_cols=("x",))
    with open(os.path.join(table, "_manifests", "v2.json")) as f:
        stats = strict(f.read())["stats"]
    assert sorted(len(s) for s in stats.values()) == [0, 1]
    for lo, hi in ((3.0, 5.0), (100.0, 200.0)):
        got = sorted(r.x for r in read_version_pruned(spark, table, "x", lo, hi).collect())
        exact = read_version(spark, table).where(F.col("x").between(lo, hi))
        assert got == sorted(r.x for r in exact.collect())
    # the exact scan (forced by the date column's footer) drops them too
    out = str(tmp_path / "raw")
    spark.createDataFrame(special, schema).coalesce(1).write.parquet(out)
    (path,) = [os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")]
    assert "x" not in _column_stats(spark, [path], ("x", "d"))[path]
