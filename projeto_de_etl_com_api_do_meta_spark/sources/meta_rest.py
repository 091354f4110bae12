"""Meta-shaped REST source (SURVEY §2.1 S1-S4, §4 pushdown glue).

Phase-1 architecture (sufficient at the reference's scale, SURVEY §7 M5):
driver-side paginated fetch -> an Arrow table built against the explicit
schema contract -> ``spark.createDataFrame(table)``.  The rows are shipped
to the JVM once as Arrow record batches, so every later scan of the frame
runs in the JVM; a frame built from Python rows would start Python workers
on each scan only to re-serialize rows the driver already holds.  The
*query spec* — fields (column pruning), filtering (predicate pushdown),
time_range (partition pruning), level/breakdowns (aggregate pushdown) — is
executed by the endpoint, exactly as the reference pushes it to Meta's
servers (extract.py:125-128,199-207).

Every reader of the three edges goes through this module: ``edge_params``
is the one spec -> request-params mapping and ``fetch_pages`` the one page
loop every transport call runs through (the place for ROADMAP item 2's
retry/backoff and cursor resume).  Rows are dicts keyed by field name,
encoded against the schema contract by name (``to_arrow_schema`` +
``from_pylist``; absent keys are NULL).  ``sources/meta_dsv2.py`` is a thin
Spark adapter over the same path.

The correlated per-form leads scan (S3) runs as ``mapInArrow`` over a
DataFrame of form ids: each partition issues its own transport calls, so at
scale the fan-out is executor-parallel with no driver materialization
(reference: a serial driver loop, extract.py:76-93).  Each evaluation of
the frame calls the API again; ``sinks.upsert.parquet_upsert`` reads its
batch once, so one upsert makes one fetch per form.

Transport is injectable: ``FakeMetaTransport`` serves deterministic fixture
pages; a real facebook_business-backed transport would plug in the same
interface (the SDK is not installed in this environment — import-gated).
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from .. import schemas
from . import meta_fixtures


class FakeMetaTransport:
    """Deterministic in-memory stand-in for the Meta Graph API: paginated
    edge reads with server-side fields/filtering/time_range/breakdowns.

    Each edge's rows are generated on first use by the (memoized)
    ``meta_fixtures`` generators, so a transport reads only the edges it is
    asked for and keeps no fixture state of its own."""

    @staticmethod
    def _paginate(rows: list[dict], limit: int) -> Iterator[list[dict]]:
        for page in range(max(1, math.ceil(len(rows) / limit))):
            yield rows[page * limit : (page + 1) * limit]

    def get_ads(self, fields: list[str], params: dict) -> Iterator[list[dict]]:
        rows = meta_fixtures.gen_ads()
        for flt in params.get("filtering", []):
            if flt.get("operator") == "IN":
                field, allowed = flt["field"].split(".")[-1], set(flt["value"])
                rows = [r for r in rows if r.get(field) in allowed]
        rows = [{k: r.get(k) for k in fields} for r in rows]
        return self._paginate(rows, params.get("limit", 1000))

    def get_insights(self, fields: list[str], params: dict) -> Iterator[list[dict]]:
        breakdowns = tuple(params.get("breakdowns", []))
        if breakdowns not in INSIGHTS_SCHEMAS:
            raise KeyError(breakdowns)
        rows = meta_fixtures.gen_insights(breakdowns)
        tr = params.get("time_range")
        if tr:
            rows = [
                r
                for r in rows
                if tr["since"] <= r["date_start"] <= tr["until"]
            ]
        keep = list(fields) + list(breakdowns) + ["date_start", "date_stop"]
        rows = [{k: r.get(k) for k in keep} for r in rows]
        return self._paginate(rows, params.get("limit", 1000))

    def get_lead_gen_forms(self, fields: list[str], params: dict) -> Iterator[list[dict]]:
        return self._paginate(meta_fixtures.gen_forms(), params.get("limit", 100))

    def get_leads(self, form_id: str, fields: list[str], params: dict) -> Iterator[list[dict]]:
        rows = meta_fixtures.gen_leads(form_id)
        tr = params.get("time_range")
        if tr:
            rows = [
                r
                for r in rows
                if tr["since"] <= r["created_time"][:10] <= tr["until"]
            ]
        return self._paginate(rows, params.get("limit", 100))


INSIGHT_FIELDS = [
    "ad_id",
    "adset_id",
    "campaign_id",
    "impressions",
    "clicks",
    "spend",
    "actions",
    "action_values",
]

AD_FIELDS = ["id", "name", "adset_id", "adset", "campaign_id", "campaign", "effective_status"]

LEAD_FIELDS = [
    "lead_id",
    "created_time",
    "ad_id",
    "campaign_id",
    "adset_id",
    "form_id",
    "field_data",
    "ad_platform_data",
]

INSIGHTS_SCHEMAS = {
    (): schemas.RAW_INSIGHTS_DAILY,
    ("age", "gender"): schemas.RAW_INSIGHTS_DEMO,
    ("region",): schemas.RAW_INSIGHTS_GEO,
}

_FORMS = StructType().add("form_id", "string")


def edge_params(
    limit: int,
    statuses: Iterable[str] | None = None,
    breakdowns: Iterable[str] | None = None,
    time_range: dict | None = None,
) -> dict:
    """Request params of one edge scan: the page size, the status IN-filter
    (ads edge, extract.py:125-128), the per-ad daily aggregation with its
    breakdowns (insights edge, extract.py:199-207) and the time_range."""
    params: dict = {"limit": limit}
    if statuses is not None:
        params["filtering"] = [
            {"field": "ad.effective_status", "operator": "IN", "value": list(statuses)}
        ]
    if breakdowns is not None:
        params.update(level="ad", time_increment=1, breakdowns=list(breakdowns))
    if time_range:
        params["time_range"] = time_range
    return params


def fetch_pages(get: Callable[..., Iterable[list[dict]]], *args) -> list[list[dict]]:
    """Every page of the paged transport call ``get(*args)``, in order.

    The one page loop: every transport call in ``sources/`` runs through
    here, so retry/backoff and resume-from-cursor belong here."""
    return list(get(*args))


def drain(get: Callable[..., Iterable[list[dict]]], *args) -> list[dict]:
    """Every row of ``fetch_pages(get, *args)``, in page order."""
    return [r for page in fetch_pages(get, *args) for r in page]


def _rows_frame(spark: SparkSession, rows: list[dict], schema: StructType) -> DataFrame:
    """Rows (dicts keyed by field name; absent keys are NULL) as a DataFrame
    whose data lives in the JVM: one Arrow table built against ``schema``
    and shipped once, partitions in row order."""
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema=schema)


class MetaRestSource:
    """Reads Meta-shaped edges into DataFrames with fixed schema contracts."""

    def __init__(self, spark: SparkSession, transport=None) -> None:
        self.spark = spark
        self.transport = transport or FakeMetaTransport()

    # -- S1: entity scan with IN-filter pushdown (extract.py:116-136) --------
    def read_ads(
        self,
        statuses: tuple[str, ...] = ("ACTIVE", "PAUSED", "PENDING_REVIEW"),
    ) -> DataFrame:
        params = edge_params(1000, statuses=statuses)
        rows = drain(self.transport.get_ads, AD_FIELDS, params)
        return _rows_frame(self.spark, rows, schemas.RAW_ADS)

    # -- S2: aggregated scan (extract.py:190-229) ----------------------------
    def read_insights(
        self,
        breakdowns: tuple[str, ...] = (),
        time_range: dict | None = None,
    ) -> DataFrame:
        params = edge_params(1000, breakdowns=breakdowns, time_range=time_range)
        rows = drain(self.transport.get_insights, INSIGHT_FIELDS, params)
        return _rows_frame(self.spark, rows, INSIGHTS_SCHEMAS[breakdowns])

    # -- S3: correlated per-form scan, executor-parallel (extract.py:60-100) -
    def read_leads(self, time_range: dict | None = None) -> DataFrame:
        forms = drain(self.transport.get_lead_gen_forms, ["id"], edge_params(100))
        forms_df = _rows_frame(
            self.spark, [{"form_id": r["id"]} for r in forms], _FORMS
        ).repartition(max(1, min(len(forms), 8)), "form_id")

        transport = self.transport
        params = edge_params(100, time_range=time_range)
        leads_schema = to_arrow_schema(schemas.RAW_LEADS)

        def fetch(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for batch in batches:
                for form_id in batch.column("form_id").to_pylist():
                    rows = drain(transport.get_leads, form_id, LEAD_FIELDS, params)
                    if rows:
                        yield pa.RecordBatch.from_pylist(rows, schema=leads_schema)

        return forms_df.mapInArrow(fetch, schema=schemas.RAW_LEADS)
