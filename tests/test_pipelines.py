"""Reference-parity pipeline semantics over the fake REST transport
(SURVEY §3 entry points; golden invariants from FIXTURES.md A6)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from projeto_de_etl_com_api_do_meta_spark.plans.pipelines import (
    run_campaign_performance,
    run_dimension,
    run_lead_insights,
)
from projeto_de_etl_com_api_do_meta_spark.sources import meta_fixtures
from projeto_de_etl_com_api_do_meta_spark.sources.meta_rest import (
    FakeMetaTransport,
    MetaRestSource,
)


@pytest.fixture(scope="module")
def source(spark):
    return MetaRestSource(spark, FakeMetaTransport())


def test_dimension_schema_and_dedup(source):
    dim = run_dimension(source)
    assert dim.columns == [
        "ad_id", "ad_name", "adset_id", "adset_name", "campaign_id", "campaign_name",
    ]
    # keep-last: every ad_id unique, and duplicated ids keep the LATER name
    assert dim.count() == dim.select("ad_id").distinct().count()
    dup = dim.where(F.col("ad_id") == f"12{0:013d}").first()
    assert dup.ad_name == "Ad 0 v1"  # arrival index 60 beats index 0


def test_dimension_status_filter_pushdown(source):
    # ARCHIVED/DELETED ads filtered at the source (extract.py:125-128)
    raw = source.read_ads(statuses=("ACTIVE",))
    statuses = {r.effective_status for r in raw.select("effective_status").collect()}
    assert statuses <= {"ACTIVE"}


def test_dimension_null_struct_flatten(source):
    dim = run_dimension(source)
    # null adset/campaign structs -> null names, never an error
    assert dim.where(F.col("adset_name").isNull()).count() >= 0


def test_performance_grain_and_metrics(source):
    perf = run_campaign_performance(source)
    assert perf.columns == [
        "date_start", "ad_id", "adset_id", "campaign_id",
        "total_impressions", "total_clicks", "total_spend", "total_leads",
        "total_successes", "cpc", "ctr", "cpl",
    ]
    keys = ["date_start", "ad_id", "adset_id", "campaign_id"]
    assert perf.count() == perf.select(*keys).distinct().count()
    # safe ratios: never null/inf, 0-denominator -> 0
    bad = perf.where(
        F.col("cpc").isNull()
        | F.isnan("cpc")
        | ((F.col("total_clicks") == 0) & (F.col("cpc") != 0.0))
    )
    assert bad.count() == 0
    assert dict(perf.dtypes)["date_start"] == "date"
    assert dict(perf.dtypes)["total_impressions"] == "bigint"
    # total_successes placeholder is constant 0 (transform.py:78-79)
    assert perf.agg(F.max("total_successes")).first()[0] == 0


def test_performance_first_nonnull_grain_dedup(source):
    """Duplicate (date, ad) rows with nulled metrics collapse to the first
    non-null value per column (pandas groupby().first() parity)."""
    raw = source.read_insights(())
    n_raw_keys = raw.select("date_start", "ad_id", "adset_id", "campaign_id").distinct().count()
    perf = run_campaign_performance(source)
    assert perf.count() == n_raw_keys


def test_leads_fanout_and_zero_fill(source):
    leads = run_lead_insights(source)
    head = ["date_start", "ad_id", "adset_id", "campaign_id", "age", "gender",
            "region", "total_spend", "total_leads"]
    assert leads.columns[: len(head)] == head
    # fan-out: demo rows replicate per region => more rows than demo grain
    demo_rows = source.read_insights(("age", "gender")).count()
    assert leads.count() > demo_rows * 0.5  # demo-only keys may collapse
    # pandas fillna(0) quirk: unmatched string dims carry literal '0'
    zeros = leads.where((F.col("age") == "0") | (F.col("region") == "0"))
    assert zeros.count() > 0
    # numeric 0-fill on unmatched side
    assert leads.where(F.col("total_spend").isNull()).count() == 0


def test_leads_whitelist_projection(source):
    leads = run_lead_insights(source)
    # 'lead' was renamed total_leads; no raw whitelist name may survive
    assert "lead" not in leads.columns
    # non-whitelisted action types never appear
    assert "not_whitelisted_action" not in leads.columns
    assert "another_ignored_type" not in leads.columns


def test_correlated_leads_scan(source):
    raw = source.read_leads()
    assert raw.count() > 0
    assert raw.select("form_id").distinct().count() == 5
    # time-range pushdown reaches the per-form inner scan
    windowed = source.read_leads(
        time_range={"since": "2024-03-01", "until": "2024-03-03"}
    )
    dates = [r[0][:10] for r in windowed.select("created_time").collect()]
    assert dates and all("2024-03-01" <= d <= "2024-03-03" for d in dates)


def test_source_frames_scan_without_python_workers(source):
    """The ads and insights frames hold their rows in the JVM (Arrow batches
    shipped once): scanning them starts no Python worker, so their RDD
    lineage has no PythonRDD."""
    for df in (source.read_ads(), source.read_insights(("region",))):
        lineage = df._jdf.queryExecution().toRdd().toDebugString()
        assert "PythonRDD" not in lineage, lineage


def test_source_sends_the_transport_the_same_calls(spark, tmp_path):
    """``(method, fields, params)`` of every transport call each reader
    makes.  The leads fan-out calls from executors, so calls are logged to a
    file rather than kept in memory."""
    import json

    log = str(tmp_path / "calls.jsonl")

    class Recording(FakeMetaTransport):
        def _record(self, *call):
            with open(log, "a") as fh:
                fh.write(json.dumps(call) + "\n")

        def get_ads(self, fields, params):
            self._record("get_ads", fields, params)
            return super().get_ads(fields, params)

        def get_insights(self, fields, params):
            self._record("get_insights", fields, params)
            return super().get_insights(fields, params)

        def get_lead_gen_forms(self, fields, params):
            self._record("get_lead_gen_forms", fields, params)
            return super().get_lead_gen_forms(fields, params)

        def get_leads(self, form_id, fields, params):
            self._record("get_leads", form_id, fields, params)
            return super().get_leads(form_id, fields, params)

    def calls(read) -> list:
        open(log, "w").close()
        read().collect()
        with open(log) as fh:
            return sorted((json.loads(line) for line in fh), key=json.dumps)

    src = MetaRestSource(spark, Recording())
    ins = ["ad_id", "adset_id", "campaign_id", "impressions", "clicks", "spend",
           "actions", "action_values"]
    daily = {"level": "ad", "time_increment": 1, "limit": 1000}
    tr = {"since": "2024-03-02", "until": "2024-03-04"}
    assert calls(src.read_ads) == [[
        "get_ads",
        ["id", "name", "adset_id", "adset", "campaign_id", "campaign",
         "effective_status"],
        {"limit": 1000, "filtering": [{
            "field": "ad.effective_status", "operator": "IN",
            "value": ["ACTIVE", "PAUSED", "PENDING_REVIEW"]}]},
    ]]
    assert calls(lambda: src.read_insights(())) == [
        ["get_insights", ins, {**daily, "breakdowns": []}]]
    assert calls(lambda: src.read_insights(("age", "gender"))) == [
        ["get_insights", ins, {**daily, "breakdowns": ["age", "gender"]}]]
    assert calls(lambda: src.read_insights(("region",), tr)) == [
        ["get_insights", ins, {**daily, "breakdowns": ["region"], "time_range": tr}]]
    leads = ["lead_id", "created_time", "ad_id", "campaign_id", "adset_id",
             "form_id", "field_data", "ad_platform_data"]
    forms = [r["id"] for r in meta_fixtures.gen_forms()]
    assert calls(lambda: src.read_leads(tr)) == sorted(
        [["get_lead_gen_forms", ["id"], {"limit": 100}]]
        + [["get_leads", f, leads, {"limit": 100, "time_range": tr}] for f in forms],
        key=json.dumps,
    )


def test_fake_transport_generates_only_the_edge_it_reads(monkeypatch):
    """Reading the ads edge builds no insights fixture: each edge is
    generated on first use, not when the transport is constructed."""
    calls = []
    real = meta_fixtures.gen_insights
    monkeypatch.setattr(
        meta_fixtures, "gen_insights", lambda *a: calls.append(a) or real(*a)
    )
    pages = list(FakeMetaTransport().get_ads(["id"], {"limit": 25}))
    assert sum(map(len, pages)) == 70
    assert calls == []
