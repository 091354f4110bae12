"""Deterministic (seed=42) generator of Meta-API-shaped raw rows, per
FIXTURES.md group A.  Feeds the fake REST transport for tests and pipeline
golden runs.  Pure Python — no Spark dependency — so the transport can serve
"API pages" without a session.

Shapes mirror the reference's raw frames (extract.py:70-82,116-136,177-229):
string ids, numeric-as-string metrics with ~2% junk, dotted action types,
duplicate keys with partial nulls (to exercise groupby().first()), duplicate
ad ids (keep-last dedup), null structs (null-safe extraction).

Each generator is memoized: it is deterministic, so one process builds each
edge once.  Callers share the returned rows and must not mutate them.
"""

from __future__ import annotations

import functools
import json
import random
import zlib
from datetime import date, timedelta

ACTION_TYPES = [
    "lead",
    "purchase",
    "link_click",
    "page_engagement",
    "post_engagement",
    "video_view",
    "comment",
    "offsite_conversion.fb_pixel_lead",
    "offsite_conversion.fb_pixel_purchase",
    "onsite_conversion.lead_grouped",
    "onsite_conversion.messaging_first_reply",
    "not_whitelisted_action",
    "another.ignored.type",
]

STATUSES = ["ACTIVE", "PAUSED", "PENDING_REVIEW", "ARCHIVED", "DELETED"]
AGES = ["18-24", "25-34", "35-44", "45-54", "55-64", "65+"]
GENDERS = ["male", "female", "unknown"]
REGIONS = ["Sao Paulo", "Parana", "Bahia", "Minas Gerais", "Ceara", "Goias"]

N_ADS, N_ADSETS, N_CAMPAIGNS, N_DAYS = 50, 20, 8, 14
START = date(2024, 3, 1)


def _hierarchy(rng: random.Random):
    ads = []
    for i in range(N_ADS):
        ads.append(
            {
                "ad_id": f"12{i:013d}",
                "adset_id": f"23{i % N_ADSETS:013d}",
                "campaign_id": f"34{i % N_CAMPAIGNS:013d}",
            }
        )
    return ads


def _metric(rng: random.Random, hi: int) -> str:
    r = rng.random()
    if r < 0.01:
        return ""
    if r < 0.02:
        return "N/A"
    return str(rng.randint(0, hi))


def _actions(rng: random.Random):
    if rng.random() < 0.1:
        return None if rng.random() < 0.5 else []
    picks = rng.sample(ACTION_TYPES, rng.randint(1, 8))
    return [
        {"action_type": t, "value": str(rng.randint(0, 500))} for t in picks
    ]


@functools.cache
def gen_insights(breakdown: tuple[str, ...] = ()) -> list[dict]:
    """Raw insight rows for the given breakdown combo (A1/A2/A3)."""
    rng = random.Random(42 + len(breakdown))
    ads = _hierarchy(rng)
    rows: list[dict] = []
    for d in range(N_DAYS):
        day = (START + timedelta(days=d)).isoformat()
        for ad in ads:
            cells: list[dict]
            if breakdown == ("age", "gender"):
                cells = [
                    {"age": a, "gender": g}
                    for a in AGES
                    for g in GENDERS
                    if rng.random() < 0.35
                ]
            elif breakdown == ("region",):
                cells = [{"region": r} for r in REGIONS if rng.random() < 0.5]
            else:
                cells = [{}]
            for cell in cells:
                imp = _metric(rng, 100000)
                row = {
                    **ad,
                    "date_start": day,
                    "date_stop": day,
                    "impressions": imp,
                    "clicks": _metric(rng, 5000),
                    "spend": f"{rng.uniform(0, 5000):.2f}",
                    "actions": _actions(rng),
                    "action_values": _actions(rng),
                    **cell,
                }
                rows.append(row)
                # ~5% duplicate-key rows carrying partial nulls (A1 quirk)
                if not breakdown and rng.random() < 0.05:
                    dup = dict(row)
                    dup["impressions"] = None
                    dup["clicks"] = None
                    dup["spend"] = None
                    rows.append(dup)
    return rows


@functools.cache
def gen_ads() -> list[dict]:
    """Raw ads entity rows (A4): dup ids w/ different names, null structs."""
    rng = random.Random(4242)
    rows: list[dict] = []
    for i in range(70):
        k = i % 60  # ~10 duplicated ids
        adset_id = f"23{k % N_ADSETS:013d}"
        campaign_id = f"34{k % N_CAMPAIGNS:013d}"
        rows.append(
            {
                "id": f"12{k:013d}",
                "name": f"Ad {k} v{i // 60}",
                "adset_id": adset_id,
                "adset": None
                if rng.random() < 0.05
                else {"id": adset_id, "name": f"AdSet {k % N_ADSETS}"},
                "campaign_id": campaign_id,
                "campaign": None
                if rng.random() < 0.05
                else {"id": campaign_id, "name": f"Campaign {k % N_CAMPAIGNS}"},
                "effective_status": rng.choice(STATUSES),
            }
        )
    return rows


@functools.cache
def gen_forms() -> list[dict]:
    return [{"id": f"45{i:013d}"} for i in range(5)]


@functools.cache
def gen_leads(form_id: str) -> list[dict]:
    """Raw leads for one form (A5) — the correlated inner scan."""
    # crc32, not hash(): Python string hashing is salted per process
    # (PYTHONHASHSEED), so hash() would serve different "API rows" to
    # executors vs the driver vs the oracle builder.
    rng = random.Random(zlib.crc32(form_id.encode()) % (2**31))
    rows = []
    for i in range(rng.randint(20, 60)):
        rows.append(
            {
                "lead_id": f"56{form_id[-4:]}{i:09d}",
                "created_time": f"2024-03-{rng.randint(1, 14):02d}T"
                f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:00+0000",
                "ad_id": f"12{rng.randint(0, N_ADS - 1):013d}",
                "campaign_id": f"34{rng.randint(0, N_CAMPAIGNS - 1):013d}",
                "adset_id": f"23{rng.randint(0, N_ADSETS - 1):013d}",
                "form_id": form_id,
                "field_data": None
                if rng.random() < 0.05
                else json.dumps(
                    [
                        {"name": "email", "values": [f"user{i}@example.com"]},
                        {"name": "full_name", "values": [f"User {i}"]},
                    ]
                ),
                "ad_platform_data": None,
            }
        )
    return rows
