"""Reference-parity pipelines (SURVEY §3): dimension / campaign-performance /
lead-insights, re-expressed as single Catalyst plans over the REST source.

Each stage chain — conform -> pivot -> coerce -> dedup/agg -> derive ->
project — is lazy; Spark fuses it into one optimized plan per pipeline
(versus the reference's eager pandas step-by-step, main.py:17-34).

Determinism: the reference relies on pandas row order for ``first()`` and
``keep='last'``; distributed equivalents use an explicit ``_arrival`` index
(monotonically_increasing_id over the source's row order) as the total order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.conform import (
    backfill,
    coerce_dates,
    coerce_numeric,
    conform_select,
    quote_ident,
)
from ..functions.safe_math import safe_div
from ..operators.actions_pivot import (
    ALLOWED_ACTION_COLUMNS,
    NON_COUNT_COLS,
    REQUIRED_METRICS,
    normalize_actions_fixed,
)
from ..sources.meta_rest import MetaRestSource

_KEYS = ["date_start", "ad_id", "adset_id", "campaign_id"]


def _with_arrival(df: DataFrame) -> DataFrame:
    return df.withColumn("_arrival", F.monotonically_increasing_id())


def _normalize(df: DataFrame) -> DataFrame:
    """Pivot actions + coerce numerics (reference _normalize_actions,
    transform.py:22-63): monetary stays double, everything else long, 0-fill."""
    wide = normalize_actions_fixed(df.drop("action_values"))
    wide = backfill(wide, {m: ("long", 0) for m in REQUIRED_METRICS if m != "spend"})
    wide = backfill(wide, {"spend": ("double", 0.0)})
    count_cols = [c for c in wide.columns if c not in NON_COUNT_COLS and c != "_arrival"]
    return coerce_numeric(wide, monetary_cols=["spend"], count_cols=count_cols)


def _recalculate_metrics(df: DataFrame) -> DataFrame:
    """Rename to total_*, add total_successes, safe-div ratios
    (reference _recalculate_metrics, transform.py:68-88: x/0 and 0/0 -> 0)."""
    renames = {
        "impressions": "total_impressions",
        "clicks": "total_clicks",
        "spend": "total_spend",
        "lead": "total_leads",
    }
    derived = (
        {} if "total_successes" in df.columns else {"total_successes": F.lit(0).cast("long")}
    )
    # withColumnsRenamed skips names the frame does not have
    return df.withColumnsRenamed(renames).withColumns(
        {
            **derived,
            "cpc": safe_div("total_spend", "total_clicks"),
            "cpl": safe_div("total_spend", "total_leads"),
            "ctr": safe_div("total_clicks", "total_impressions"),
        }
    )


def run_dimension(source: MetaRestSource) -> DataFrame:
    """ads_dimension (transform.py:92-98 + extract.py:106-169): entity scan
    with status IN-filter, null-safe struct flatten, backfill, keep-LAST
    dedup on ad_id, fixed 6-column projection."""
    raw = _with_arrival(source.read_ads())
    flat = raw.select(
        F.col("id").alias("ad_id"),
        F.col("name").alias("ad_name"),
        "adset_id",
        F.col("adset.name").alias("adset_name"),  # null-safe (extract.py:144-156)
        "campaign_id",
        F.col("campaign.name").alias("campaign_name"),
        "_arrival",
    )
    flat = backfill(
        flat,
        {
            c: ("string", None)
            for c in ("ad_name", "adset_id", "adset_name", "campaign_id", "campaign_name")
        },
    )
    w = Window.partitionBy("ad_id").orderBy(F.col("_arrival").desc())
    deduped = flat.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
    return conform_select(
        deduped,
        ["ad_id", "ad_name", "adset_id", "adset_name", "campaign_id", "campaign_name"],
    )


def run_campaign_performance(source: MetaRestSource) -> DataFrame:
    """ads_campaign_performance (transform.py:101-117): daily ad-grain fact.

    groupby(keys).first() parity: pandas first() = first NON-NULL per column
    in row order -> first(ignorenulls) over the _arrival-ordered window."""
    norm = _normalize(_with_arrival(source.read_insights(())))
    value_cols = [c for c in norm.columns if c not in _KEYS + ["_arrival"]]
    w = (
        f"PARTITION BY {', '.join(_KEYS)} ORDER BY _arrival "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
    )
    # one selectExpr: a Column-API window per value column costs py4j
    # round trips per column at plan-build time
    firsts = norm.selectExpr(
        *_KEYS,
        "_arrival",
        *[
            f"first({quote_ident(c)}, true) OVER ({w}) AS {quote_ident(c)}"
            for c in value_cols
        ],
    )
    wmin = Window.partitionBy(*_KEYS).orderBy("_arrival")
    agg = (
        firsts.withColumn("_rn", F.row_number().over(wmin))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_arrival")
    )
    final = _recalculate_metrics(agg)
    final = conform_select(
        final,
        [
            "date_start",
            "ad_id",
            "adset_id",
            "campaign_id",
            "total_impressions",
            "total_clicks",
            "total_spend",
            "total_leads",
            "total_successes",
            "cpc",
            "ctr",
            "cpl",
        ],
    )
    return coerce_dates(final, ["date_start"])


def run_lead_insights(source: MetaRestSource) -> DataFrame:
    """ads_lead_insights (transform.py:120-155): demographic x geographic
    full-outer merge with intentional fan-out.

    Faithful quirks: geo side reduced to distinct region+keys; unmatched
    sides 0-filled — including *string* dims (pandas fillna(0) drops int 0
    into object columns; here the literal string '0')."""
    demo = _normalize(source.read_insights(("age", "gender")))
    geo = _normalize(source.read_insights(("region",)))

    geo_subset = conform_select(geo, ["region"] + _KEYS).distinct()
    joined = demo.join(geo_subset, on=_KEYS, how="full_outer")

    fields = joined.schema.fields
    numeric_cols = [
        f.name for f in fields if f.dataType.typeName() in ("long", "double", "integer")
    ]
    string_cols = [
        f.name
        for f in fields
        if f.dataType.typeName() == "string" and f.name not in _KEYS
    ]
    filled = joined.na.fill(0, numeric_cols).na.fill("0", string_cols)

    final = _recalculate_metrics(filled)
    group_keys = _KEYS + ["age", "gender", "region"]
    final = conform_select(
        final, group_keys + ["total_spend", "total_leads", *ALLOWED_ACTION_COLUMNS]
    )
    return coerce_dates(final, ["date_start"])


def run_raw_leads(source: MetaRestSource) -> DataFrame:
    """ads_raw_leads — the reference's latent 4th path (extract.py:60-100 ->
    load.py:58-100, wired but never called from main.py:17-31): correlated
    per-form lead fetch (S3, executor-parallel mapInArrow), id rename,
    created_time day coercion (load.py:37-40), JSON field_data carried as a
    string for the sink's ::JSONB cast (S7), keep-first dedup per lead_id."""
    raw = source.read_leads()
    dated = coerce_dates(raw, ["created_time"])
    w = Window.partitionBy("lead_id").orderBy(F.col("created_time").asc_nulls_last(), "form_id")
    return (
        dated.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
