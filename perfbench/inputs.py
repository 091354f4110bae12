"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical files and rows, a different seed gives different ones.  The
program under test only ever sees what these produce.

- ``MetaAccount``: a Meta-Ads-shaped account (FIXTURES.md A1-A5 shapes) with
  400 ads over 35 days, served through ``AccountTransport``, the
  same paginated interface as the program's ``FakeMetaTransport``.  Values of
  the two most recent days are restated (revised) by the API, so a daily run
  that pulls a 3-day window updates most keys and inserts the rest.
- ``write_corpus``: the LLM-curation corpus, from the repo's own
  ``tools/scale_probe.gen_corpus(realistic_vocab=True)``.
"""

from __future__ import annotations

import json
import math
import os
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
AGES = ["18-24", "25-34", "35-44", "45-54", "55-64", "65+"]
GENDERS = ["male", "female", "unknown"]
REGIONS = ["Sao Paulo", "Parana", "Bahia", "Minas Gerais", "Ceara", "Goias"]
EVENT_TYPES = ["impression", "click", "lead", "purchase"]
START = date(2024, 1, 1)

#: A day's values keep being revised for this many days after it (lag 0 and
#: 1 are provisional); a 3-day pull window therefore always ends on a
#: settled day, which is what makes incremental == one-shot rebuild hold.
RESTATE_DAYS = 2
AD_LIFETIME = 25


def _rng(*parts) -> random.Random:
    # crc32 of the repr, not hash(): str hashing is salted per process.
    return random.Random(zlib.crc32(repr(parts).encode()))


def day_iso(d: int) -> str:
    return (START + timedelta(days=d)).isoformat()


class MetaAccount:
    """A seeded ad account: hierarchy, ad lifetimes, insights, leads and ad
    events, each a deterministic function of ``(seed, day)``."""

    def __init__(self, seed: int, n_ads: int = 400, n_days: int = 35,
                 events_per_day: int = 2000) -> None:
        self.seed = seed
        self.n_ads = n_ads
        self.n_days = n_days
        self.events_per_day = events_per_day
        rng = _rng(seed, "ads")
        # evenly spread start days, shuffled by the seed: every day has the
        # same number of live ads whatever the seed, so the work per daily
        # run does not depend on it
        starts = [-AD_LIFETIME + (i * (n_days + AD_LIFETIME)) // n_ads
                  for i in range(n_ads)]
        rng.shuffle(starts)
        self.ads = []
        for i, start in enumerate(starts):
            self.ads.append(
                {
                    "ad_id": f"12{seed % 1000:03d}{i:010d}",
                    "adset_id": f"23{seed % 1000:03d}{i // 8:010d}",
                    "campaign_id": f"34{seed % 1000:03d}{i // 80:010d}",
                    "start": start,
                    "end": start + AD_LIFETIME,
                    # status never changes, so the entity scan's IN-filter
                    # selects the same ads on every run
                    "status": rng.choice(
                        ["ACTIVE", "ACTIVE", "PAUSED", "PENDING_REVIEW",
                         "ARCHIVED"]
                    ),
                    "rename_day": rng.randrange(0, n_days * 2),
                    "null_adset": rng.random() < 0.05,
                    "null_campaign": rng.random() < 0.05,
                }
            )
        self.forms = [f"45{seed % 1000:03d}{i:010d}" for i in range(6)]

    # -- entity scan (A4) --------------------------------------------------
    def ads_rows(self, as_of: int) -> list[dict]:
        rows = []
        for i, ad in enumerate(self.ads):
            if ad["start"] > as_of:
                continue
            version = 1 if as_of >= ad["rename_day"] else 0
            rows.append(
                {
                    "id": ad["ad_id"],
                    "name": f"Ad {i} v{version}",
                    "adset_id": ad["adset_id"],
                    "adset": None if ad["null_adset"] else
                    {"id": ad["adset_id"], "name": f"AdSet {ad['adset_id'][-6:]}"},
                    "campaign_id": ad["campaign_id"],
                    "campaign": None if ad["null_campaign"] else
                    {"id": ad["campaign_id"],
                     "name": f"Campaign {ad['campaign_id'][-4:]}"},
                    "effective_status": ad["status"],
                }
            )
            # ~3% of ads come back twice with an older name: keep-last dedup
            if i % 37 == 0:
                rows.insert(len(rows) - 1, dict(rows[-1], name=f"Ad {i} old"))
        return rows

    # -- insights (A1-A3) --------------------------------------------------
    def _active(self, d: int) -> list[dict]:
        return [a for a in self.ads if a["start"] <= d < a["end"]]

    def insights_rows(self, breakdown: tuple[str, ...], d: int,
                      as_of: int) -> list[dict]:
        """Rows for day ``d`` as the API reports them on day ``as_of``."""
        lag = as_of - d
        scale = 1.0 if lag >= RESTATE_DAYS else (0.7, 0.9)[lag]
        rng = _rng(self.seed, "ins", breakdown, d)
        day = day_iso(d)
        rows: list[dict] = []
        for ad in self._active(d):
            if breakdown == ("age", "gender"):
                cells = [{"age": a, "gender": g} for a in AGES for g in GENDERS
                         if rng.random() < 0.15]
            elif breakdown == ("region",):
                cells = [{"region": r} for r in REGIONS if rng.random() < 0.35]
            else:
                cells = [{}]
            for cell in cells:
                imp = rng.randint(0, 100000)
                clicks = rng.randint(0, max(1, imp // 20))
                spend = rng.uniform(0, 5000)
                junk = rng.random()
                acts = None
                if rng.random() >= 0.1:
                    acts = [
                        {"action_type": t,
                         "value": str(int(rng.randint(0, 500) * scale))}
                        for t in rng.sample(ACTION_TYPES, rng.randint(1, 6))
                    ]
                row = {
                    "ad_id": ad["ad_id"],
                    "adset_id": ad["adset_id"],
                    "campaign_id": ad["campaign_id"],
                    "date_start": day,
                    "date_stop": day,
                    "impressions": "N/A" if junk < 0.01 else str(int(imp * scale)),
                    "clicks": "" if 0.01 <= junk < 0.02 else str(int(clicks * scale)),
                    "spend": f"{spend * scale:.2f}",
                    "actions": acts,
                    "action_values": None,
                    **cell,
                }
                rows.append(row)
                if not breakdown and rng.random() < 0.05:
                    # duplicate key carrying partial nulls (A1 quirk)
                    rows.append(dict(row, impressions=None, clicks=None,
                                     spend=None))
        return rows

    # -- leads (A5) --------------------------------------------------------
    def leads_rows(self, form_id: str, lo: int, hi: int) -> list[dict]:
        rows = []
        for d in range(max(lo, 0), hi + 1):
            rng = _rng(self.seed, "leads", form_id, d)
            active = self._active(d)
            for i in range(rng.randint(5, 25) if active else 0):
                ad = active[rng.randrange(len(active))]
                rows.append(
                    {
                        "lead_id": f"56{form_id[-5:]}{d:04d}{i:05d}",
                        "created_time": f"{day_iso(d)}T{rng.randint(0, 23):02d}:"
                        f"{rng.randint(0, 59):02d}:00+0000",
                        "ad_id": ad["ad_id"],
                        "campaign_id": ad["campaign_id"],
                        "adset_id": ad["adset_id"],
                        "form_id": form_id,
                        "field_data": None if rng.random() < 0.05 else json.dumps(
                            [{"name": "email", "values": [f"u{d}x{i}@example.com"]},
                             {"name": "full_name", "values": [f"User {d} {i}"]}]
                        ),
                        "ad_platform_data": None,
                    }
                )
        return rows

    # -- ad events (stream input) -----------------------------------------
    def events_table(self, d: int):
        """Day ``d``'s ad-event file: new events plus ~5% re-deliveries of
        day ``d-1`` events with a corrected value (merged by ``event_id``)."""
        import numpy as np
        import pyarrow as pa

        rng = np.random.default_rng([self.seed, d])
        n = self.events_per_day
        ids = np.arange(d * n, (d + 1) * n, dtype=np.int64)
        if d > 0:
            redo = rng.choice(np.arange((d - 1) * n, d * n), n // 20,
                              replace=False)
            ids = np.concatenate([ids, np.sort(redo)])
        day_us = int((START - date(1970, 1, 1)).days + d) * 86_400_000_000
        m = len(ids)
        return pa.table(
            {
                "event_id": pa.array(ids, pa.int64()),
                "ad_id": pa.array(
                    [self.ads[int(k)]["ad_id"]
                     for k in rng.integers(0, self.n_ads, size=m)], pa.string()),
                "ts": pa.array(day_us + rng.integers(0, 86_400_000_000, size=m),
                               pa.timestamp("us", tz="UTC")),
                "event_type": pa.array(
                    [EVENT_TYPES[int(k)] for k in rng.integers(0, 4, size=m)],
                    pa.string()),
                "value": pa.array(np.round(rng.uniform(0, 50, size=m), 2),
                                  pa.float64()),
                "delivery_day": pa.array(np.full(m, d, dtype=np.int32), pa.int32()),
            }
        )


class AccountTransport:
    """``FakeMetaTransport``'s interface over a ``MetaAccount`` window: the
    API state as seen on day ``as_of`` for report days ``lo..hi``.

    Counts pages and rows served, for the traced run's ``sources`` layer.
    Picklable: ``read_leads`` ships it to executor Python workers."""

    def __init__(self, account: MetaAccount, lo: int, hi: int, as_of: int) -> None:
        self.account, self.lo, self.hi, self.as_of = account, lo, hi, as_of
        self.pages = 0
        self.rows = 0

    def _paginate(self, rows: list[dict], limit: int):
        for page in range(max(1, math.ceil(len(rows) / limit))):
            chunk = rows[page * limit: (page + 1) * limit]
            self.pages += 1
            self.rows += len(chunk)
            yield chunk

    def get_ads(self, fields: list[str], params: dict):
        rows = self.account.ads_rows(self.as_of)
        for flt in params.get("filtering", []):
            if flt.get("operator") == "IN":
                field, allowed = flt["field"].split(".")[-1], set(flt["value"])
                rows = [r for r in rows if r.get(field) in allowed]
        rows = [{k: r.get(k) for k in fields} for r in rows]
        return self._paginate(rows, params.get("limit", 1000))

    def get_insights(self, fields: list[str], params: dict):
        breakdowns = tuple(params.get("breakdowns", []))
        rows = [
            r
            for d in range(max(self.lo, 0), self.hi + 1)
            for r in self.account.insights_rows(breakdowns, d, self.as_of)
        ]
        keep = list(fields) + list(breakdowns) + ["date_start", "date_stop"]
        rows = [{k: r.get(k) for k in keep} for r in rows]
        return self._paginate(rows, params.get("limit", 1000))

    def get_lead_gen_forms(self, fields: list[str], params: dict):
        return self._paginate([{"id": f} for f in self.account.forms],
                              params.get("limit", 100))

    def get_leads(self, form_id: str, fields: list[str], params: dict):
        rows = self.account.leads_rows(form_id, self.lo, self.hi)
        return self._paginate(rows, params.get("limit", 100))


def write_corpus(out_dir: str, seed: int) -> None:
    """documents / embeddings / events at sf0.1 size from the repo's
    ``tools/scale_probe.gen_corpus(realistic_vocab=True)``: zipf vocabulary,
    hot boilerplate shingles, ~0.2% exact and ~2% near duplicates, planted
    embedding clusters.  Its fixture-table symlinks are pointed at an empty
    directory, so nothing outside ``out_dir`` is read."""
    from tools import scale_probe

    empty = os.path.join(out_dir, ".no_base_tables")
    os.makedirs(empty, exist_ok=True)
    scale_probe.BASE_SF = empty
    scale_probe.gen_corpus(out_dir, 1, seed=seed, realistic_vocab=True)
    os.rmdir(empty)
