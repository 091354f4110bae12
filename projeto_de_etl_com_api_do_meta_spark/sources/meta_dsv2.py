"""Meta-shaped DataSource V2 (Python data source API) — SURVEY §7 M5 phase 2.

Thin Spark adapters over ``meta_rest``'s one read path (``edge_params`` ->
``fetch_pages`` -> the schema contract's Arrow encoding), exposing the
edges as ``spark.read.format(...)`` / ``spark.readStream.format(...)``:

- **Partitioned scan**: each API *page* is an ``InputPartition``.  The pages
  are fetched once, at planning (``partitions()``), and each partition
  carries its page's rows; executors only encode them as Arrow record
  batches (the reference pages serially in-process, extract.py:209-215).
- **Filter pushdown** (``pushFilters``): IN/= on ``effective_status`` maps
  to the endpoint's ``filtering`` param (reference extract.py:125-128);
  >=/<= on ``date_start`` map to the inclusive ``time_range``
  (extract.py:199-205).  Repeated predicates intersect: the status sets,
  the max of the lower and the min of the upper date bounds.  Accepted
  filters are executed by the (fake) server; everything else — strict
  ``>``/``<`` bounds included — is returned to Spark to evaluate, so a
  partially-pushable predicate stays correct.
- **Column pruning**: the engine's fixed schema contracts are the
  ``fields`` projection; Spark's required-schema pruning composes on top.

Registered under the short name ``meta_ads``; ``edge`` option selects
``ads`` (default) or ``insights`` (+ optional ``breakdowns=age,gender`` /
``region``); ``pagesize`` is the page (= partition) size.  Transport is the
deterministic in-memory fake.

``meta_insights_stream`` is the streaming leg:
a ``SimpleDataSourceStreamReader`` with day-indexed offsets — the
reference's daily cron re-scan as a checkpointed streaming source.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator, Sequence

import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from .. import schemas
from .meta_rest import (
    AD_FIELDS,
    INSIGHT_FIELDS,
    INSIGHTS_SCHEMAS,
    FakeMetaTransport,
    drain,
    edge_params,
    fetch_pages,
)


def _attr(f: Filter) -> str:
    return ".".join(f.attribute)


def _breakdowns(options: dict) -> tuple[str, ...]:
    return tuple(b for b in options.get("breakdowns", "").split(",") if b)


class MetaAdsDataSource(DataSource):
    """``spark.read.format("meta_ads")`` — Meta Graph-shaped edges."""

    @classmethod
    def name(cls) -> str:
        return "meta_ads"

    def schema(self) -> StructType:
        if self.options.get("edge", "ads") == "insights":
            return INSIGHTS_SCHEMAS[_breakdowns(self.options)]
        return schemas.RAW_ADS

    def reader(self, schema: StructType) -> "MetaEdgeReader":
        return MetaEdgeReader(schema, dict(self.options))


class MetaEdgeReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict) -> None:
        self.user_schema = schema
        self.edge = options.get("edge", "ads")
        self.breakdowns = _breakdowns(options)
        self.page_size = int(options.get("pagesize", "1000" if self.edge != "ads" else "25"))
        self.statuses: set[str] | None = None
        self.since: str | None = None
        self.until: str | None = None
        self.drop_null_dates = False

    # -- pushdown -----------------------------------------------------------
    def pushFilters(self, filters: list[Filter]) -> Iterable[Filter]:
        # Eager (not a generator): acceptance side effects must happen at
        # planning time even if Spark never iterates the rejected list.
        # NOTE: runs in Spark's planning *worker process* — acceptance is
        # observable from the plan (no Filter node survives), not from
        # driver-side module state.
        rejected: list[Filter] = []
        for f in filters:
            on_date = self.edge == "insights" and _attr(f) == "date_start"
            if (
                self.edge == "ads"
                and isinstance(f, (In, EqualTo))
                and _attr(f) == "effective_status"
            ):
                vals = {str(v) for v in (f.value if isinstance(f, In) else [f.value])}
                self.statuses = vals if self.statuses is None else self.statuses & vals
            elif on_date and isinstance(f, GreaterThanOrEqual):
                self.since = max(self.since or "", str(f.value))
            elif on_date and isinstance(f, LessThanOrEqual):
                self.until = min(self.until or "9999-12-31", str(f.value))
            elif on_date and isinstance(f, IsNotNull):
                # Spark emits IsNotNull alongside range predicates; the
                # endpoint's time_range never returns null dates, and we
                # enforce it below for the pushed-alone case.
                self.drop_null_dates = True
            else:
                rejected.append(f)  # not pushable -> Spark evaluates it
        return rejected

    # -- planning: the one fetch of the scan ---------------------------------
    def partitions(self) -> Sequence[InputPartition]:
        t = FakeMetaTransport()
        if self.edge == "ads":
            statuses = None if self.statuses is None else sorted(self.statuses)
            params = edge_params(self.page_size, statuses=statuses)
            pages = fetch_pages(t.get_ads, AD_FIELDS, params)
        else:
            time_range = None
            if self.since or self.until:
                time_range = {
                    "since": self.since or "0000-01-01",
                    "until": self.until or "9999-12-31",
                }
            params = edge_params(
                self.page_size, breakdowns=self.breakdowns, time_range=time_range
            )
            pages = fetch_pages(t.get_insights, INSIGHT_FIELDS, params)
        if self.drop_null_dates:
            pages = [[r for r in p if r.get("date_start") is not None] for p in pages]
        return [InputPartition(page) for page in pages]

    # -- execution (runs on executors): encode the partition's page ---------
    def read(self, partition: InputPartition) -> Iterator[pa.RecordBatch]:
        yield pa.RecordBatch.from_pylist(
            partition.value, schema=to_arrow_schema(self.user_schema)
        )


def register_meta_source(spark) -> None:
    """Idempotently register the short name with a session."""
    spark.dataSource.register(MetaAdsDataSource)


class MetaInsightsStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch incremental reader over the insights edge.

    Offsets are day indexes into the edge's date domain: ``read`` ingests
    every complete day past the last committed offset (the API contract is
    "all available data", so batching happens across trigger runs, not
    within one) — the streaming-native form of the reference's daily cron
    re-scan (reference README.md:115-127 + extract.py:34-47, where
    "incremental" means re-fetching a sliding date window).
    ``readBetweenOffsets`` replays a committed range deterministically,
    which is what makes the source exactly-once under checkpoint recovery.
    """

    def __init__(self, schema: StructType, options: dict) -> None:
        self.user_schema = schema
        self.breakdowns = _breakdowns(options)

    def _rows_by_day(self) -> list[tuple[str, list[dict]]]:
        params = edge_params(1000, breakdowns=self.breakdowns)
        by_day: dict[str, list[dict]] = {}
        for r in drain(FakeMetaTransport().get_insights, INSIGHT_FIELDS, params):
            by_day.setdefault(r["date_start"], []).append(r)
        return sorted(by_day.items())

    def initialOffset(self) -> dict:
        return {"day": 0}

    def _emit(self, days: list[tuple[str, list[dict]]]) -> list[tuple]:
        # Materialized list, not a generator: Spark's simple-stream wrapper
        # copy.copy()s the returned iterator to support replay.  Nested
        # struct values stay dicts; Spark's row converter takes them by name.
        names = self.user_schema.names
        return [tuple(r.get(n) for n in names) for _, rows in days for r in rows]

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        days = self._rows_by_day()
        lo = start["day"]
        # iter() over a materialized list: the wrapper needs a true
        # iterator (next()) that copy.copy() can snapshot for replay.
        return iter(self._emit(days[lo:])), {"day": len(days)}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        days = self._rows_by_day()
        return iter(self._emit(days[start["day"] : end["day"]]))

    def commit(self, end: dict) -> None:
        pass  # nothing to clean up: the fake endpoint keeps full history


class MetaInsightsStreamSource(DataSource):
    """``spark.readStream.format("meta_insights_stream")``."""

    @classmethod
    def name(cls) -> str:
        return "meta_insights_stream"

    def schema(self) -> StructType:
        return INSIGHTS_SCHEMAS[_breakdowns(self.options)]

    def simpleStreamReader(self, schema: StructType) -> MetaInsightsStreamReader:
        return MetaInsightsStreamReader(schema, dict(self.options))


def register_meta_stream_source(spark) -> None:
    """Idempotently register the streaming short name with a session."""
    spark.dataSource.register(MetaInsightsStreamSource)
