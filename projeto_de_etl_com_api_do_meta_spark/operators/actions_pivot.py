"""Actions pivot (SURVEY §2.5 R1): list<struct<action_type,value>> -> wide
numeric columns, replacing the reference's per-row ``iterrows`` loop
(transform.py:22-39) with JVM-side array expressions.

Two variants:
- ``normalize_actions_fixed``   : fixed whitelist schema — per-column
  ``element_at(filter(...), -1)`` extraction (last occurrence wins, matching
  the reference's dict-overwrite order).  Shuffle-free, codegen-friendly,
  schema known at plan time — the 100 TB default.
- ``normalize_actions_dynamic`` : explode + pivot — column set discovered
  from the data (costs an extra values-scan job), kept for parity with the
  reference's data-dependent schema (SURVEY §1.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.conform import count_sql, quote_ident

#: Whitelisted action columns (already '.'-sanitized), mirroring the
#: reference's ALLOWED_ACTION_COLUMNS contract (transform.py:7-18).
ALLOWED_ACTION_COLUMNS: tuple[str, ...] = (
    "lead",
    "purchase",
    "link_click",
    "page_engagement",
    "post_engagement",
    "video_view",
    "comment",
    "offsite_complete_registration_add_meta_leads",
    "onsite_conversion_lead_grouped",
    "offsite_search_add_meta_leads",
    "offsite_content_view_add_meta_leads",
    "onsite_conversion_messaging_first_reply",
    "onsite_conversion_messaging_conversation_started_7d",
    "onsite_conversion_total_messaging_connection",
    "onsite_conversion_messaging_conversation_replied_7d",
    "offsite_conversion_fb_pixel_lead",
    "offsite_conversion_fb_pixel_purchase",
    "onsite_conversion_messaging_block",
)

#: Required metric columns backfilled with 0 when absent (transform.py:45-49).
REQUIRED_METRICS: tuple[str, ...] = ("spend", "clicks", "impressions", "lead", "purchase")

#: Key/dimension columns never numerically coerced (transform.py:42).
NON_COUNT_COLS: tuple[str, ...] = (
    "date_start",
    "date_stop",
    "ad_id",
    "adset_id",
    "campaign_id",
    "age",
    "gender",
    "region",
    "spend",
)


def _sql_str(value: str) -> str:
    """``value`` as a SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def action_value_sql(actions_sql: str, sanitized_name: str) -> str:
    """SQL for the value of the LAST list entry whose sanitized type matches
    (the reference's later-entries-overwrite semantics), as a raw string.

    The '.' -> '_' sanitize is a literal ``replace`` (pandas
    ``str.replace('.', '_')``, transform.py:35).  Built as SQL text so the
    whole pivot is one ``selectExpr`` call: a Python lambda for ``filter``
    costs ~11 ms of py4j round trips per column at plan-build time."""
    return (
        f"element_at(filter({actions_sql}, a -> "
        f"replace(a.action_type, '.', '_') = {_sql_str(sanitized_name)}), -1).value"
    )


def normalize_actions_fixed(
    df: DataFrame,
    whitelist: tuple[str, ...] = ALLOWED_ACTION_COLUMNS,
    actions_col: str = "actions",
) -> DataFrame:
    """Fixed-schema pivot: one numeric column per whitelisted action type,
    absent/unparseable -> 0 (coerce semantics, transform.py:51-61).

    Non-whitelisted action types are dropped — the whitelist projection the
    reference applies at final-column selection (transform.py:152)."""
    acts = (
        f"coalesce({quote_ident(actions_col)}, "
        "CAST(array() AS array<struct<action_type:string,value:string>>))"
    )
    wide = df.selectExpr(
        "*",
        *[
            f"{count_sql(action_value_sql(acts, name))} AS {quote_ident(name)}"
            for name in whitelist
        ],
    )
    return wide.drop(actions_col)


def normalize_actions_dynamic(
    df: DataFrame,
    keys: list[str],
    actions_col: str = "actions",
) -> DataFrame:
    """Dynamic pivot: column set = distinct sanitized action types present in
    the data (two jobs: values scan + pivot).  Matches the reference's
    inferred, data-dependent schema; null cells -> 0."""
    exploded = df.select(
        *keys, F.explode_outer(actions_col).alias("_a")
    ).select(
        *keys,
        F.when(
            F.col("_a").isNotNull(), F.regexp_replace(F.col("_a")["action_type"], r"\.", "_")
        ).alias("_type"),
        F.col("_a")["value"].alias("_value"),
    )
    pivoted = (
        exploded.groupBy(*keys)
        .pivot("_type")
        .agg(
            F.coalesce(
                F.floor(F.last("_value").try_cast("double")).cast("long"), F.lit(0)
            )
        )
    )
    dropped = pivoted.drop("null")  # rows with empty/NULL actions lists
    value_cols = [c for c in dropped.columns if c not in keys]
    return dropped.select(
        *keys, *[F.coalesce(F.col(f"`{c}`"), F.lit(0)).alias(c) for c in value_cols]
    )
