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

The correlated per-form leads scan (S3) runs as ``mapInPandas`` over a
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
from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from .. import schemas
from . import meta_fixtures


class FakeMetaTransport:
    """Deterministic in-memory stand-in for the Meta Graph API: paginated
    edge reads with server-side fields/filtering/time_range/breakdowns."""

    def __init__(self) -> None:
        self._insights = {
            (): meta_fixtures.gen_insights(()),
            ("age", "gender"): meta_fixtures.gen_insights(("age", "gender")),
            ("region",): meta_fixtures.gen_insights(("region",)),
        }
        self._ads = meta_fixtures.gen_ads()
        self._forms = meta_fixtures.gen_forms()

    @staticmethod
    def _paginate(rows: list[dict], limit: int) -> Iterator[list[dict]]:
        for page in range(max(1, math.ceil(len(rows) / limit))):
            yield rows[page * limit : (page + 1) * limit]

    def get_ads(self, fields: list[str], params: dict) -> Iterator[list[dict]]:
        rows = self._ads
        for flt in params.get("filtering", []):
            if flt.get("operator") == "IN":
                field, allowed = flt["field"].split(".")[-1], set(flt["value"])
                rows = [r for r in rows if r.get(field) in allowed]
        rows = [{k: r.get(k) for k in fields} for r in rows]
        return self._paginate(rows, params.get("limit", 1000))

    def get_insights(self, fields: list[str], params: dict) -> Iterator[list[dict]]:
        breakdowns = tuple(params.get("breakdowns", []))
        rows = self._insights[breakdowns]
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
        return self._paginate(list(self._forms), params.get("limit", 100))

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

_BREAKDOWN_SCHEMAS = {
    (): schemas.RAW_INSIGHTS_DAILY,
    ("age", "gender"): schemas.RAW_INSIGHTS_DEMO,
    ("region",): schemas.RAW_INSIGHTS_GEO,
}

_FORMS = StructType().add("form_id", "string")


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
        params = {
            "limit": 1000,
            "filtering": [
                {
                    "field": "ad.effective_status",
                    "operator": "IN",
                    "value": list(statuses),
                }
            ],
        }
        rows = [r for page in self.transport.get_ads(AD_FIELDS, params) for r in page]
        return _rows_frame(self.spark, rows, schemas.RAW_ADS)

    # -- S2: aggregated scan (extract.py:190-229) ----------------------------
    def read_insights(
        self,
        breakdowns: tuple[str, ...] = (),
        time_range: dict | None = None,
    ) -> DataFrame:
        params: dict = {
            "level": "ad",
            "time_increment": 1,
            "limit": 1000,
            "breakdowns": list(breakdowns),
        }
        if time_range:
            params["time_range"] = time_range
        pages = self.transport.get_insights(INSIGHT_FIELDS, params)
        rows = [r for page in pages for r in page]
        return _rows_frame(self.spark, rows, _BREAKDOWN_SCHEMAS[breakdowns])

    # -- S3: correlated per-form scan, executor-parallel (extract.py:60-100) -
    def read_leads(self, time_range: dict | None = None) -> DataFrame:
        form_pages = self.transport.get_lead_gen_forms(["id"], {"limit": 100})
        form_ids = [r["id"] for page in form_pages for r in page]
        forms_df = _rows_frame(
            self.spark, [{"form_id": f} for f in form_ids], _FORMS
        ).repartition(max(1, min(len(form_ids), 8)), "form_id")

        transport = self.transport
        lead_cols = list(LEAD_FIELDS)

        def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            params: dict = {"limit": 100}
            if time_range:
                params["time_range"] = time_range
            for batch in batches:
                for form_id in batch["form_id"]:
                    rows = [
                        r
                        for page in transport.get_leads(form_id, lead_cols, params)
                        for r in page
                    ]
                    if rows:
                        yield pd.DataFrame(rows, columns=lead_cols)

        return forms_df.mapInPandas(fetch, schema=schemas.RAW_LEADS)
