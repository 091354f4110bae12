"""Upsert sink semantics (reference load.py:42-133 parity): merge SQL
generation, parquet-merge insert/update/idempotency."""

from __future__ import annotations

import os

import pytest

from projeto_de_etl_com_api_do_meta_spark.sinks.upsert import (
    merge_sql,
    parquet_upsert,
)


def test_merge_sql_shape():
    merge, drop, drop_safe = merge_sql(
        "ads_campaign_performance",
        ["date_start", "ad_id", "total_spend"],
    )
    assert merge.startswith('INSERT INTO ads_campaign_performance ("date_start", "ad_id", "total_spend")')
    assert 'ON CONFLICT ("date_start", "ad_id") DO UPDATE SET' in merge
    assert '"total_spend" = EXCLUDED."total_spend"' in merge
    assert '"ad_id" = EXCLUDED' not in merge  # keys never updated
    assert drop == "DROP TABLE temp_ads_campaign_performance"
    assert drop_safe.endswith("IF EXISTS temp_ads_campaign_performance")


def test_merge_sql_jsonb_casts():
    merge, _, _ = merge_sql(
        "ads_raw_leads", ["lead_id", "field_data"], staging_table="t"
    )
    assert 'SELECT "lead_id", "field_data"::JSONB FROM t' in merge
    assert '"field_data" = EXCLUDED."field_data"::JSONB' in merge


def _read(spark, path):
    rows = spark.read.parquet(path).collect()
    keys = [r.k for r in rows]
    assert len(keys) == len(set(keys)), f"duplicate keys: {sorted(map(str, keys))}"
    return {(r.k,): (r.v, r.ts) for r in rows}


def test_parquet_upsert_insert_update_idempotent(spark, tmp_path):
    target = os.path.join(str(tmp_path), "t")
    b1 = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (None, "n", 1)], "k int, v string, ts int"
    )
    parquet_upsert(spark, b1, target, keys=["k"])
    assert _read(spark, target) == {(1,): ("a", 1), (2,): ("b", 1), (None,): ("n", 1)}

    # update 2 and the NULL key (keys match null-safely), insert 3
    b2 = spark.createDataFrame(
        [(2, "B", 2), (3, "c", 2), (None, "N", 2)], "k int, v string, ts int"
    )
    parquet_upsert(spark, b2, target, keys=["k"])
    want = {(1,): ("a", 1), (2,): ("B", 2), (3,): ("c", 2), (None,): ("N", 2)}
    assert _read(spark, target) == want

    # idempotency: merge(merge(T, d), d) == merge(T, d)
    parquet_upsert(spark, b2, target, keys=["k"])
    assert _read(spark, target) == want


def test_parquet_upsert_empty_batch_leaves_target_untouched(spark, tmp_path):
    target = os.path.join(str(tmp_path), "t")
    schema = "k int, v string, ts int"
    parquet_upsert(spark, spark.createDataFrame([(1, "a", 1)], schema), target, ["k"])

    def files():
        return {
            name: (st.st_ino, st.st_mtime_ns)
            for name in os.listdir(target)
            for st in [os.stat(os.path.join(target, name))]
        }

    before = (os.stat(target).st_ino, files())
    parquet_upsert(spark, spark.createDataFrame([], schema), target, ["k"])
    assert (os.stat(target).st_ino, files()) == before
    assert _read(spark, target) == {(1,): ("a", 1)}


def test_parquet_upsert_fetches_each_lead_form_once(spark, tmp_path):
    """One upsert evaluates its batch once: the correlated leads scan calls
    the API once per form, with or without an existing target."""
    from projeto_de_etl_com_api_do_meta_spark.plans.pipelines import run_raw_leads
    from projeto_de_etl_com_api_do_meta_spark.schemas import UPSERT_KEYS
    from projeto_de_etl_com_api_do_meta_spark.sources.meta_rest import (
        FakeMetaTransport,
        MetaRestSource,
    )

    log = str(tmp_path / "get_leads.log")

    # defined locally so it is pickled by value to the executors' Python
    # workers; the calls are counted in a file because each worker holds
    # its own copy of the transport
    class CountingTransport(FakeMetaTransport):
        def get_leads(self, form_id, fields, params):
            with open(log, "a") as fh:
                fh.write(form_id + "\n")
            return super().get_leads(form_id, fields, params)

    source = MetaRestSource(spark, CountingTransport())
    forms = sorted(
        r["id"] for page in source.transport.get_lead_gen_forms(["id"], {}) for r in page
    )
    target = str(tmp_path / "ads_raw_leads")
    for _ in range(2):  # insert into a new target, then merge into it
        open(log, "w").close()
        parquet_upsert(spark, run_raw_leads(source), target, UPSERT_KEYS["ads_raw_leads"])
        with open(log) as fh:
            assert sorted(fh.read().split()) == forms


def test_parquet_upsert_batch_dedup_keep_last(spark, tmp_path):
    target = os.path.join(str(tmp_path), "t2")
    batch = spark.createDataFrame(
        [(1, "old", 1), (1, "new", 2)], "k int, v string, ts int"
    )
    parquet_upsert(spark, batch, target, keys=["k"], order_col="ts")
    assert _read(spark, target) == {(1,): ("new", 2)}


def test_crash_between_swap_renames_keeps_the_table(spark, tmp_path, monkeypatch):
    """A crash after the target moved to ``.old`` but before the new data
    took its name: the next upsert restores ``.old`` and merges into it."""
    target = os.path.join(str(tmp_path), "t")
    schema = "k int, v string, ts int"
    parquet_upsert(spark, spark.createDataFrame([(1, "a", 1), (2, "b", 1)], schema), target, ["k"])

    real_rename = os.rename
    calls = []

    def crash_on_second(src, dst):
        calls.append(src)
        if len(calls) == 2:
            raise RuntimeError("crash between the renames")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_second)
    with pytest.raises(RuntimeError, match="between the renames"):
        parquet_upsert(spark, spark.createDataFrame([(2, "B", 2)], schema), target, ["k"])
    monkeypatch.setattr(os, "rename", real_rename)
    assert not os.path.exists(target) and os.path.exists(target + ".old")

    parquet_upsert(spark, spark.createDataFrame([(3, "c", 3)], schema), target, ["k"])
    assert _read(spark, target) == {(1,): ("a", 1), (2,): ("b", 1), (3,): ("c", 3)}
    assert sorted(os.listdir(tmp_path)) == ["t"]


def test_failed_upsert_write_leaves_no_temp_dir(spark, tmp_path):
    """A batch that fails while it is written leaves no table and no temp
    dir behind."""
    bad = spark.range(3).selectExpr(
        "CAST(IF(id = 2, raise_error('boom'), id) AS INT) AS k", "'x' AS v", "0 AS ts"
    )
    with pytest.raises(Exception, match="boom"):
        parquet_upsert(spark, bad, os.path.join(str(tmp_path), "t"), ["k"])
    assert os.listdir(tmp_path) == []


def test_postgres_on_conflict_roundtrip_when_available():
    """Environment-gated LIVE Postgres round-trip of the generated merge
    SQL (r6 verdict item 6): skipped where psycopg2 or a reachable server
    is absent, so the full S5-S8 path lights up without code changes the
    moment the environment gains them.  DSN via SPARK_GRAFT_PG_DSN
    (defaults to a local socket connection)."""
    import os

    import pytest as _pytest

    psycopg2 = _pytest.importorskip("psycopg2")
    dsn = os.environ.get("SPARK_GRAFT_PG_DSN", "dbname=postgres")
    try:
        conn = psycopg2.connect(dsn, connect_timeout=3)
    except Exception as exc:  # pragma: no cover - environment-dependent
        _pytest.skip(f"no reachable Postgres: {exc}")
    from projeto_de_etl_com_api_do_meta_spark.sinks.upsert import merge_sql

    tbl, stg = "sg_merge_target", "temp_sg_merge_target"
    cols = ["ad_id", "date_start", "spend", "payload"]
    merge, drop, drop_safe = merge_sql(
        tbl, cols, keys=["ad_id", "date_start"], staging_table=stg,
        jsonb_columns=["payload"],
    )
    try:
        with conn, conn.cursor() as cur:
            cur.execute(f"DROP TABLE IF EXISTS {tbl}")
            cur.execute(drop_safe)
            cur.execute(
                f"CREATE TABLE {tbl} (ad_id TEXT, date_start TEXT, "
                "spend DOUBLE PRECISION, payload JSONB, "
                "PRIMARY KEY (ad_id, date_start))"
            )
            cur.execute(
                f"CREATE TABLE {stg} (ad_id TEXT, date_start TEXT, "
                "spend DOUBLE PRECISION, payload TEXT)"
            )
            cur.execute(
                f"INSERT INTO {stg} VALUES "
                "('a1','2024-01-01',1.5,'{\"k\": 1}'), "
                "('a2','2024-01-01',2.0,'{\"k\": 2}')"
            )
        with conn, conn.cursor() as cur:
            cur.execute(merge)   # initial insert via staging
            cur.execute(drop)
        with conn, conn.cursor() as cur:  # conflicting second batch
            cur.execute(
                f"CREATE TABLE {stg} (ad_id TEXT, date_start TEXT, "
                "spend DOUBLE PRECISION, payload TEXT)"
            )
            cur.execute(
                f"INSERT INTO {stg} VALUES "
                "('a1','2024-01-01',9.0,'{\"k\": 9}'), "
                "('a3','2024-01-02',3.0,NULL)"
            )
            cur.execute(merge)   # ON CONFLICT DO UPDATE path
            cur.execute(drop)
        with conn, conn.cursor() as cur:
            cur.execute(
                f"SELECT ad_id, spend, payload->>'k' FROM {tbl} ORDER BY ad_id"
            )
            rows = cur.fetchall()
        assert rows == [("a1", 9.0, "9"), ("a2", 2.0, "2"), ("a3", 3.0, None)]
    finally:
        with conn, conn.cursor() as cur:
            cur.execute(f"DROP TABLE IF EXISTS {tbl}")
            cur.execute(drop_safe)
        conn.close()
