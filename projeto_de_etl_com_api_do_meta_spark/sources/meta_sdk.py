"""Real Meta Graph API transport, import-gated on ``facebook_business``.

Implements the exact transport interface ``MetaRestSource`` consumes
(``get_ads`` / ``get_insights`` / ``get_lead_gen_forms`` / ``get_leads``,
each yielding pages of plain dicts), backed by the official Business SDK —
the same SDK the reference drives (reference src/extract.py:7-10,30-31
``FacebookAdsApi.init`` + ``AdAccount``; extract.py:70-93 forms→leads
cursors; extract.py:132-136 ``account.get_ads``; extract.py:208-213
``account.get_insights``).

The SDK is not installed in this environment, so everything SDK-touching
lives behind ``sdk_available()`` / lazy imports; constructing
``RealMetaTransport`` without the SDK raises a clear ImportError and the
rest of the package never imports this module implicitly.  Credentials come
from the same env-var names the reference reads from ``.env``
(extract.py:15-18): APP_ID, APP_SECRET, ACCESS_TOKEN, AD_ACCOUNT_ID.

Scale posture: the transport yields one *page* (cursor batch) at a time;
every caller drains it through ``meta_rest.fetch_pages``, the one page loop.
The executor-parallel leads fan-out in ``MetaRestSource.read_leads``
(mapInArrow over form ids) holds one form's leads at a time, never the
whole edge.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

#: Transport method names MetaRestSource requires — the interface contract
#: shared by FakeMetaTransport and RealMetaTransport (pinned by test).
TRANSPORT_METHODS = ("get_ads", "get_insights", "get_lead_gen_forms", "get_leads")


def sdk_available() -> bool:
    """True if the facebook_business SDK can be imported."""
    try:
        import facebook_business  # noqa: F401

        return True
    except ImportError:
        return False


def _cursor_pages(cursor, limit: int) -> Iterator[list[dict]]:
    """Drain an SDK cursor into pages of plain dicts.

    The SDK cursor transparently follows ``paging.next`` URLs; we re-chunk
    into ``limit``-sized lists so callers see the same page shape as the
    fake transport (and as the raw HTTP pagination)."""
    page: list[dict] = []
    for obj in cursor:
        page.append(obj.export_all_data())
        if len(page) >= limit:
            yield page
            page = []
    if page:
        yield page


class RealMetaTransport:
    """facebook_business-backed transport (same interface as
    ``meta_rest.FakeMetaTransport``).

    Parameters mirror the reference's env contract (extract.py:15-18); any
    omitted credential falls back to the corresponding environment variable.
    """

    def __init__(
        self,
        app_id: str | None = None,
        app_secret: str | None = None,
        access_token: str | None = None,
        ad_account_id: str | None = None,
    ) -> None:
        if not sdk_available():
            raise ImportError(
                "facebook_business is not installed; install the Meta "
                "Business SDK or use FakeMetaTransport"
            )
        from facebook_business.adobjects.adaccount import AdAccount
        from facebook_business.api import FacebookAdsApi

        app_id = app_id or os.getenv("APP_ID")
        app_secret = app_secret or os.getenv("APP_SECRET")
        access_token = access_token or os.getenv("ACCESS_TOKEN")
        ad_account_id = ad_account_id or os.getenv("AD_ACCOUNT_ID")
        missing = [
            n
            for n, v in (
                ("APP_ID", app_id),
                ("APP_SECRET", app_secret),
                ("ACCESS_TOKEN", access_token),
                ("AD_ACCOUNT_ID", ad_account_id),
            )
            if not v
        ]
        if missing:
            raise ValueError(f"missing Meta credentials: {', '.join(missing)}")

        FacebookAdsApi.init(app_id, app_secret, access_token)
        self._api = FacebookAdsApi.get_default_api()
        # act_-prefix normalization as in reference extract.py:50-52.
        account_id = f"act_{ad_account_id.replace('act_', '')}"
        self._account = AdAccount(account_id, api=self._api)

    # -- entity scan with server-side filtering (extract.py:116-136) ---------
    def get_ads(self, fields: list[str], params: dict) -> Iterator[list[dict]]:
        cursor = self._account.get_ads(fields=fields, params=params)
        return _cursor_pages(cursor, params.get("limit", 1000))

    # -- aggregated insights scan (extract.py:190-229) -----------------------
    def get_insights(self, fields: list[str], params: dict) -> Iterator[list[dict]]:
        cursor = self._account.get_insights(fields=fields, params=params)
        return _cursor_pages(cursor, params.get("limit", 1000))

    # -- forms edge (extract.py:70-74) ---------------------------------------
    def get_lead_gen_forms(self, fields: list[str], params: dict) -> Iterator[list[dict]]:
        cursor = self._account.get_lead_gen_forms(fields=fields, params=params)
        return _cursor_pages(cursor, params.get("limit", 100))

    # -- correlated per-form leads scan (extract.py:85-93) -------------------
    def get_leads(self, form_id: str, fields: list[str], params: dict) -> Iterator[list[dict]]:
        from facebook_business.adobjects.leadgenform import LeadgenForm

        cursor = LeadgenForm(form_id, api=self._api).get_leads(
            fields=fields, params=params
        )
        # Reference renames id -> lead_id post-hoc (extract.py:92-94); do the
        # same here so both transports emit identical row shapes.
        limit = params.get("limit", 100)
        page: list[dict] = []
        for lead in cursor:
            row = lead.export_all_data()
            row["lead_id"] = row.pop("id", None)
            page.append(row)
            if len(page) >= limit:
                yield page
                page = []
        if page:
            yield page


def make_transport(prefer_real: bool | None = None):
    """Factory: the real SDK transport when available (or when forced via
    ``prefer_real=True``), else the deterministic fake.  ``prefer_real=None``
    auto-detects — mirroring the reference's behavior of failing over to an
    empty extraction when credentials are absent (extract.py:26-28)."""
    from .meta_rest import FakeMetaTransport

    if prefer_real is None:
        prefer_real = sdk_available() and bool(os.getenv("ACCESS_TOKEN"))
    if prefer_real:
        return RealMetaTransport()
    return FakeMetaTransport()
