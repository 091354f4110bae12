"""The benchmark workloads.

Each is a closed loop with one client: the next op starts when the previous
one has returned.  A workload builds its inputs from the seed in ``setup``,
exposes a fixed op sequence (one "pass") for the timed window, a different
one for warm-up, and checks every op's output after the window closes.

``ads_etl_incremental``  the reference's daily job: pull a restated 3-day
    window from a Meta-shaped API, pivot/derive with ``plans``, upsert into
    the star tables with ``sinks.parquet_upsert`` and merge the day's ad
    events with ``streaming.foreach_batch_upsert``.  Small batches against
    growing tables: driver-side extract, Catalyst and whole-table rewrites.
``llm_curation``  the LLM-data curation families (MinHash near-dup, bloom
    decontamination, embedding near-dup, JPEG round trip) over a generated
    corpus; Python-worker kernels and shuffles dominate.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
from dataclasses import dataclass, field
from typing import Any, Callable

import inputs


@dataclass
class Op:
    name: str
    run: Callable[[], Any]
    #: called after the timed window with ``run``'s return value
    check: Callable[[Any], bool] | None = None
    #: layers whose ``<layer>.s`` the op's wall time counts towards
    layers: tuple[str, ...] = ()
    result: Any = field(default=None, repr=False)


class Workload:
    name = ""
    #: warm passes before timing, chosen from the measured per-pass curve
    warm_passes = 1
    #: timed passes to run even when ``--seconds`` has passed; the metrics
    #: are medians over them
    min_passes = 2

    def __init__(self, spark, root: str, seed: int, tracer) -> None:
        self.spark, self.root, self.seed, self.tr = spark, root, seed, tracer

    def setup(self) -> None:
        """Inputs (and history) for the timed ops, under ``self.root``."""
        raise NotImplementedError

    def timed_pass(self) -> list[Op] | None:
        """The ops of the next timed pass; ``None`` when inputs ran out."""
        raise NotImplementedError

    def warm_pass(self) -> list[Op]:
        return self.timed_pass()

    def finish(self) -> bool:
        """Whole-run check after the window (besides per-op checks)."""
        return True


# ---------------------------------------------------------------------------
# ads_etl_incremental
# ---------------------------------------------------------------------------

#: star table -> its date column (``None``: not date-keyed)
STAR = {
    "ads_dimension": None,
    "ads_campaign_performance": "date_start",
    "ads_lead_insights": "date_start",
    "ads_raw_leads": "created_time",
}


class AdsEtlIncremental(Workload):
    name = "ads_etl_incremental"
    history_days = 20
    window = 3  # days pulled per daily run (restated window)
    #: one warm daily run (the day after the history): the history build
    #: has already run every plan once, but not the merge into an existing
    #: table or the stream; the first daily run was measured ~15% slower
    #: than the next ones
    warm_passes = 1

    def setup(self) -> None:
        """The account and a star schema with ``history_days`` of history,
        built by the program in one shot over the API state of its last
        day."""
        from pyspark.sql.pandas.types import from_arrow_schema

        self.acc = inputs.MetaAccount(self.seed)
        self.tables = os.path.join(self.root, "star")
        self.history = os.path.join(self.root, "history")
        self.stream_in = os.path.join(self.root, "events_in")
        self.ckpt = os.path.join(self.root, "ckpt")
        os.makedirs(self.stream_in)
        last = self.history_days - 1
        self._build(self.tables, 0, last)
        shutil.copytree(self.tables, self.history)
        self._seed_events(last)
        self.day = self.history_days
        self.events_schema = from_arrow_schema(self.acc.events_table(0).schema)

    def _pipelines(self, source):
        from projeto_de_etl_com_api_do_meta_spark.plans import pipelines as p

        return {
            "ads_dimension": p.run_dimension(source),
            "ads_campaign_performance": p.run_campaign_performance(source),
            "ads_lead_insights": p.run_lead_insights(source),
            "ads_raw_leads": p.run_raw_leads(source),
        }

    def _upsert_all(self, frames: dict, out_dir: str) -> None:
        from projeto_de_etl_com_api_do_meta_spark.schemas import UPSERT_KEYS
        from projeto_de_etl_com_api_do_meta_spark.sinks import upsert

        for table, df in frames.items():
            upsert.parquet_upsert(self.spark, df, os.path.join(out_dir, table),
                                  UPSERT_KEYS[table])

    def _source(self, lo: int, hi: int, as_of: int):
        from projeto_de_etl_com_api_do_meta_spark.sources.meta_rest import (
            MetaRestSource,
        )

        transport = inputs.AccountTransport(self.acc, lo, hi, as_of)
        return MetaRestSource(self.spark, transport), transport

    def _build(self, out_dir: str, first: int, last: int) -> None:
        """One-shot build of days ``first..last`` as reported on ``last``."""
        os.makedirs(out_dir, exist_ok=True)
        source, _ = self._source(first, last, last)
        self._upsert_all(self._pipelines(source), out_dir)

    def _seed_events(self, last: int) -> None:
        """History of the ad-event table: written as input, not by the
        program, so the stream starts at the first daily run."""
        import pyarrow.parquet as pq

        os.makedirs(os.path.join(self.tables, "ad_events"))
        pq.write_table(self._expected_events(last),
                       os.path.join(self.tables, "ad_events", "part-0.parquet"))

    def _expected_events(self, last: int):
        """Latest delivery of every event up to day ``last``."""
        import pyarrow as pa

        latest: dict[int, tuple[int, int]] = {}
        tables = [self.acc.events_table(d) for d in range(last + 1)]
        for d, t in enumerate(tables):
            for row, eid in enumerate(t.column("event_id").to_pylist()):
                latest[eid] = (d, row)
        picks = sorted(latest.items())
        by_day: dict[int, list[int]] = {}
        for _eid, (d, row) in picks:
            by_day.setdefault(d, []).append(row)
        parts = [tables[d].take(pa.array(rows)) for d, rows in sorted(by_day.items())]
        return pa.concat_tables(parts).sort_by("event_id")

    def _daily(self, t: int) -> None:
        import pyarrow.parquet as pq

        from projeto_de_etl_com_api_do_meta_spark.streaming import windows

        source, transport = self._source(t - self.window + 1, t, t)
        with self.tr.planning("plans.plan_s"):
            self._upsert_all(self._pipelines(source), self.tables)
        self.tr.add("sources.pages", transport.pages)
        self.tr.add("sources.rows", transport.rows)
        # that day's ad-event file lands; the stream merges it by event_id
        pq.write_table(self.acc.events_table(t),
                       os.path.join(self.stream_in, f"events_{t:04d}.parquet"))
        stream = self.spark.readStream.schema(self.events_schema).parquet(
            self.stream_in)
        with self.tr.span("streaming", "await_available_now"):
            q = windows.foreach_batch_upsert(
                stream, os.path.join(self.tables, "ad_events"), ["event_id"],
                self.ckpt)
            if self.tr.enabled:
                self.tr.stream_groups.add(str(q.runId))
            q.awaitTermination()
        for p in q.recentProgress:
            self.tr.add("streaming.batches", 1)
            self.tr.add("streaming.trigger_s",
                        p["durationMs"].get("triggerExecution", 0) / 1e3)
            self.tr.add("sinks.batch_rows", p["numInputRows"])

    def timed_pass(self) -> list[Op] | None:
        """One daily run."""
        t = self.day
        if t >= self.acc.n_days:
            return None
        self.day += 1
        return [Op(f"day{t:03d}", lambda: self._daily(t))]

    def finish(self) -> bool:
        """Incremental == batch: every star table equals a one-shot rebuild
        over the final API state, and the event table equals the latest
        delivery of every event (order-insensitive row hashes).

        Days the history build saw as settled are the same in any later API
        state, so the rebuild covers only the days after them; their rows
        come from the history snapshot taken at set-up."""
        last = self.day - 1
        first = self.history_days - inputs.RESTATE_DAYS
        rebuild = os.path.join(self.root, "rebuild")
        self._build(rebuild, first, last)
        cutoff = inputs.day_iso(first)
        ok = True
        for table, date_col in STAR.items():
            a = _table_digest([os.path.join(self.tables, table)])
            parts = [os.path.join(rebuild, table)]
            if date_col:
                parts.append((os.path.join(self.history, table),
                              f"{date_col} < DATE '{cutoff}'"))
            b = _table_digest(parts)
            if a != b:
                print(f"[check] {table}: incremental {a} != rebuild {b}",
                      file=sys.stderr)
                ok = False
        import pyarrow.parquet as pq

        exp = os.path.join(self.root, "expected_events")
        os.makedirs(exp)
        pq.write_table(self._expected_events(last),
                       os.path.join(exp, "part-0.parquet"))
        cols = ("event_id, ad_id, epoch_us(ts) AS ts, event_type, value, "
                "delivery_day")
        a = _table_digest([os.path.join(self.tables, "ad_events")], cols)
        b = _table_digest([exp], cols)
        if a != b:
            print(f"[check] ad_events: {a} != expected {b}", file=sys.stderr)
            ok = False
        return ok


def _table_digest(parts: list, cols: str = "*") -> tuple:
    """(row count, order-insensitive sum of row hashes) of the union of
    parquet dirs, each a path or a ``(path, where)`` pair."""
    import duckdb

    selects = []
    for part in parts:
        path, where = part if isinstance(part, tuple) else (part, "true")
        selects.append(f"SELECT {cols} FROM read_parquet('{path}/**/*.parquet') "
                       f"WHERE {where}")
    con = duckdb.connect()
    try:
        return con.execute(
            "SELECT count(*), sum(hash(t)::HUGEINT) FROM ("
            + " UNION ALL ".join(selects) + ") t"
        ).fetchone()
    finally:
        con.close()


# ---------------------------------------------------------------------------
# llm_curation
# ---------------------------------------------------------------------------


class LlmCuration(Workload):
    """Ops are registry queries of the curation families, run to completion
    with ``collect()``; each output is checked against its DuckDB oracle, or
    a stated property when the query has none, on the same inputs."""

    name = "llm_curation"
    #: measured per-pass curve (full-size corpus, 4 vCPU): a 24-36 s cold
    #: pass, then 14.0, 11.6, 10.4, 10.4 s.  One warm pass and two timed
    #: passes are what the run budget allows (see README.md).  A warm pass
    #: over a quarter of the corpus saved 2-3 s a run but left the first
    #: timed pass 10-40% slower than the second, and the spread grew
    warm_passes = 1
    #: query -> the layers it loads (its plan calls into their operators)
    queries = {
        "dedup_minhash_lsh": ("queries", "dedup"),
        "text_decontaminate_bloom": ("queries", "text"),
        "dedup_embedding_cosine": ("queries", "similarity"),
        "multimodal_jpeg_roundtrip": ("queries", "multimodal"),
    }

    def setup(self) -> None:
        from projeto_de_etl_com_api_do_meta_spark.queries.registry import (
            QUERIES,
            _load_all,
        )

        _load_all()
        self.registry = QUERIES
        # warm passes read another seed's corpus of the same size: nothing
        # the timed ops read was read or cached before
        self.warm_data = os.path.join(self.root, "warm")
        inputs.write_corpus(self.warm_data, self.seed + 1_000_003)
        self.data = os.path.join(self.root, "data")
        inputs.write_corpus(self.data, self.seed)
        self.order = list(self.queries)
        random.Random(self.seed).shuffle(self.order)
        self._duck = None
        self._verified: dict[str, int] = {}

    def _query(self, name: str, sf_dir: str):
        with self.tr.span("queries", name), self.tr.planning("queries.plan_s"):
            df = self.registry[name].fn(self.spark, sf_dir)
            rows = df.collect()
        self.spark.catalog.clearCache()
        return list(df.columns), [tuple(r) for r in rows]

    def _ops(self, sf_dir: str, check: bool) -> list[Op]:
        return [
            Op(n, lambda n=n: self._query(n, sf_dir),
               (lambda res, n=n: self.check(n, res)) if check else None,
               self.queries[n])
            for n in self.order
        ]

    def warm_pass(self) -> list[Op]:
        return self._ops(self.warm_data, check=False)

    def timed_pass(self) -> list[Op]:
        return self._ops(self.data, check=True)

    # -- checks --------------------------------------------------------------
    def _oracle(self, name: str):
        import duckdb

        if self._duck is None:
            self._duck = duckdb.connect()
            for f in sorted(os.listdir(self.data)):
                if f.endswith(".parquet"):
                    self._duck.execute(
                        f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.data, f)}')")
        res = self._duck.execute(self.registry[name].oracle)
        return [d[0] for d in res.description], res.fetchall()

    def check(self, name: str, res) -> bool:
        from tools.check_oracle import _normalize

        cols, rows = res
        # a result equal to one already verified for this query passes as
        # it did: the full check runs once per distinct result, not per pass
        digest = hash((tuple(cols), tuple(sorted(map(repr, rows)))))
        if self._verified.get(name) == digest:
            return True
        if self.registry[name].oracle is None:
            ok = self.property_check(name, cols, rows)
        else:
            dcols, drows = self._oracle(name)
            ok = _normalize(cols, rows) == _normalize(dcols, drows)
        if ok:
            self._verified[name] = digest
        else:
            print(f"[check] {name}: wrong result", file=sys.stderr)
        return ok

    def property_check(self, name: str, cols: list[str], rows: list) -> bool:
        import pyarrow.parquet as pq

        if name == "dedup_minhash_lsh":
            # every pair clears the threshold, and every planted exact
            # duplicate (identical text, so identical signatures) is found
            docs = pq.read_table(os.path.join(self.data, "documents.parquet"))
            first: dict[str, int] = {}
            exact = set()
            for i, t in zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()):
                if t in first:
                    exact.add((first[t], i))
                else:
                    first[t] = i
            ia, ib, ij = (cols.index(c) for c in ("doc_a", "doc_b", "est_jaccard"))
            found = {(r[ia], r[ib]) for r in rows}
            return all(r[ij] >= 0.3 for r in rows) and exact <= found
        raise ValueError(f"{name} has no oracle and no property check")


WORKLOADS = {w.name: w for w in (AdsEtlIncremental, LlmCuration)}
