"""``tools/check_oracle.py`` keeps counting when the JVM dies mid-run."""

from __future__ import annotations

import os
import sys
from types import SimpleNamespace

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)

from tools import check_oracle  # noqa: E402


class _DyingSession:
    """Serves one query, then behaves like a session whose JVM is gone:
    ``clearCache`` (the call after every query) refuses the connection."""

    def __init__(self):
        self.queries_run = 0
        self.catalog = SimpleNamespace(clearCache=self._clear_cache)

    def _clear_cache(self):
        if self.queries_run > 1:
            raise ConnectionRefusedError(111, "Connection refused")


def _spec(session):
    def fn(spark, sf_dir):
        session.queries_run += 1
        return SimpleNamespace(columns=["x"], collect=lambda: [(1,)])

    return SimpleNamespace(fn=fn, oracle="SELECT 1 AS x")


def test_jvm_loss_fails_the_query_and_lists_the_rest(monkeypatch, capsys, sf_dir):
    session = _DyingSession()
    monkeypatch.setattr(check_oracle, "get_spark", lambda **kw: session)
    monkeypatch.setattr(check_oracle, "_load_all", lambda: None)
    monkeypatch.setattr(
        check_oracle, "QUERIES", {n: _spec(session) for n in ("qa", "qb", "qc", "qd")}
    )
    rc = check_oracle.check(["qa", "qb", "qc", "qd"], sf_dir)
    out = capsys.readouterr().out
    assert rc != 0
    assert "PASS qa" in out
    assert "FAIL qb: JVM lost (ConnectionRefusedError" in out
    assert "UNCHECKED qc" in out and "UNCHECKED qd" in out
    assert "1 pass, 0 rows-only, 1 fail, 2 unchecked out of 4" in out
    assert session.queries_run == 2
