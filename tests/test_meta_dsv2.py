"""Python DataSource V2 Meta source (sources/meta_dsv2.py): partitioned
paging, filter pushdown, pruning, and parity with Spark-side filtering.

Pushdown evidence: ``pushFilters`` runs in Spark's planning worker process,
so acceptance is asserted from the PLAN — an accepted filter leaves no
Filter node above the BatchScan; a rejected one stays in the plan for Spark
to evaluate — plus value parity against an unpushed scan.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from projeto_de_etl_com_api_do_meta_spark import schemas
from projeto_de_etl_com_api_do_meta_spark.sources.meta_dsv2 import (
    MetaEdgeReader,
    register_meta_source,
)
from projeto_de_etl_com_api_do_meta_spark.sources.meta_rest import FakeMetaTransport


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register_meta_source(spark)


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_ads_scan_full(spark):
    df = spark.read.format("meta_ads").load()
    assert df.count() == 70  # fixture row count (meta_fixtures.gen_ads)
    assert [f.name for f in df.schema.fields][:2] == ["id", "name"]


def test_ads_scan_is_partitioned_by_page(spark):
    df = spark.read.format("meta_ads").option("pagesize", "25").load()
    assert df.rdd.getNumPartitions() == 3  # ceil(70/25)


def test_status_filter_pushed_and_correct(spark):
    df = (
        spark.read.format("meta_ads")
        .load()
        .where(F.col("effective_status").isin("ACTIVE", "PAUSED"))
    )
    # accepted by the source -> no Filter node survives above the scan
    assert "Filter" not in _physical_plan(df).replace("RuntimeFilters: []", "")
    rows = df.collect()
    assert rows and {r.effective_status for r in rows} <= {"ACTIVE", "PAUSED"}
    # parity with an unpushed scan filtered by Spark
    all_rows = spark.read.format("meta_ads").load().collect()
    manual = [r for r in all_rows if r.effective_status in ("ACTIVE", "PAUSED")]
    assert sorted(r.id for r in rows) == sorted(r.id for r in manual)


def test_unpushable_filter_stays_in_plan(spark):
    df = spark.read.format("meta_ads").load().where(F.col("name").like("%v0%"))
    assert "Filter" in _physical_plan(df).replace("RuntimeFilters: []", "")
    got = df.collect()
    assert got and all("v0" in r.name for r in got)


def test_insights_time_range_pushdown(spark):
    base = spark.read.format("meta_ads").option("edge", "insights").load()
    lo, hi = "2024-03-02", "2024-03-03"
    bounded = base.where((F.col("date_start") >= lo) & (F.col("date_start") <= hi))
    assert "Filter" not in _physical_plan(bounded).replace("RuntimeFilters: []", "")
    pushed = bounded.collect()
    assert pushed, "time-range scan returned nothing"
    assert all(lo <= r.date_start <= hi for r in pushed)
    manual = [r for r in base.collect() if lo <= r.date_start <= hi]
    assert len(pushed) == len(manual)


# (edge, filters applied one .where() after another, the same predicate in
# Python).  Strict date bounds are not the endpoint's inclusive time_range,
# and a repeated predicate narrows the earlier one.
_PUSHDOWN_CASES = {
    "date_gt": (
        "insights",
        [lambda c: c("date_start") > "2024-03-10"],
        lambda r: r.date_start > "2024-03-10",
    ),
    "date_lt": (
        "insights",
        [lambda c: c("date_start") < "2024-03-03"],
        lambda r: r.date_start < "2024-03-03",
    ),
    "date_ge_twice": (
        "insights",
        [lambda c: c("date_start") >= "2024-03-10",
         lambda c: c("date_start") >= "2024-03-02"],
        lambda r: r.date_start >= "2024-03-10" and r.date_start >= "2024-03-02",
    ),
    "status_in_then_eq": (
        "ads",
        [lambda c: c("effective_status").isin("ACTIVE", "PAUSED"),
         lambda c: c("effective_status") == "ARCHIVED"],
        lambda r: r.effective_status in ("ACTIVE", "PAUSED")
        and r.effective_status == "ARCHIVED",
    ),
    "status_eq_then_in": (
        "ads",
        [lambda c: c("effective_status") == "ARCHIVED",
         lambda c: c("effective_status").isin("ACTIVE", "PAUSED")],
        lambda r: r.effective_status == "ARCHIVED"
        and r.effective_status in ("ACTIVE", "PAUSED"),
    ),
}


@pytest.mark.parametrize("case", sorted(_PUSHDOWN_CASES))
def test_pushed_scan_equals_spark_side_filter(spark, case):
    edge, filters, keep = _PUSHDOWN_CASES[case]
    base = spark.read.format("meta_ads").option("edge", edge).load()
    pushed = base
    for f in filters:
        pushed = pushed.where(f(F.col))
    manual = [r for r in base.collect() if keep(r)]
    assert sorted(map(str, pushed.collect())) == sorted(map(str, manual))


def test_scan_calls_the_transport_once(monkeypatch):
    """Pages are fetched once, at planning; ``read`` only encodes a page."""
    calls = []
    get_ads = FakeMetaTransport.get_ads

    def counting(self, fields, params):
        calls.append(params)
        return get_ads(self, fields, params)

    monkeypatch.setattr(FakeMetaTransport, "get_ads", counting)
    reader = MetaEdgeReader(schemas.RAW_ADS, {"pagesize": "25"})
    parts = reader.partitions()
    n_rows = sum(
        getattr(out, "num_rows", 1) for p in parts for out in reader.read(p)
    )
    assert (len(parts), n_rows) == (3, 70)
    assert len(calls) == 1


def test_insights_breakdown_schema(spark):
    df = (
        spark.read.format("meta_ads")
        .option("edge", "insights")
        .option("breakdowns", "age,gender")
        .load()
    )
    names = [f.name for f in df.schema.fields]
    assert "age" in names and "gender" in names
    assert df.count() > 0


def test_nested_structs_and_actions_arrays(spark):
    df = spark.read.format("meta_ads").load()
    flat = df.select(
        "id", F.col("adset.name").alias("adset_name")
    ).where(F.col("adset_name").isNotNull())
    assert flat.count() > 0
    ins = spark.read.format("meta_ads").option("edge", "insights").load()
    acted = ins.select(F.explode("actions").alias("a")).select("a.action_type")
    assert acted.count() > 0


def test_stream_source_parity_and_batching(spark, tmp_path):
    from projeto_de_etl_com_api_do_meta_spark.sources.meta_dsv2 import (
        register_meta_stream_source,
    )

    register_meta_stream_source(spark)
    out = str(tmp_path / "ingested")

    def run_once():
        q = (
            spark.readStream.format("meta_insights_stream")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    got = spark.read.parquet(out)
    batch = spark.read.format("meta_ads").option("edge", "insights").load()
    assert got.count() == batch.count()
    # value parity at the day grain
    a = got.groupBy("date_start").count().collect()
    b = batch.groupBy("date_start").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    # restart on the same checkpoint: no new days -> no duplicate ingestion
    run_once()
    assert spark.read.parquet(out).count() == batch.count()
