"""Local driver-mimic: run every registry query on Spark AND its DuckDB
oracle, compare row count + sorted-column schema + order-insensitive values.

Stricter than the driver (exact value equality, not hash), so a PASS here
implies a PASS under any sane hash.  If the Spark JVM dies mid-run, the
query that hit it counts as FAIL, every query after it is listed as
UNCHECKED in the summary, and the exit code is non-zero.

Usage:
    python tools/check_oracle.py [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import datetime as dt
import math
import os
import sys
import time
from decimal import Decimal

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)

import duckdb  # noqa: E402
from py4j.protocol import Py4JNetworkError  # noqa: E402

from projeto_de_etl_com_api_do_meta_spark.io import TABLES, table_path  # noqa: E402
from projeto_de_etl_com_api_do_meta_spark.queries.registry import (  # noqa: E402
    QUERIES,
    _load_all,
)
from projeto_de_etl_com_api_do_meta_spark.session import get_spark  # noqa: E402


def _canon(v):
    """Canonicalize a cell value for cross-engine comparison."""
    if v is None:
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return 0.0  # -0.0 == 0.0
        return v
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _normalize(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    sorted_cols = [cols[i] for i in order]
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return sorted_cols, out


#: what a call into a dead JVM raises: every later query would raise it too
_JVM_LOST = (ConnectionError, Py4JNetworkError)


def check(names: list[str] | None, sf_dir: str) -> int:
    _load_all()
    spark = get_spark(app_name="check-oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )

    todo = names or sorted(QUERIES)
    counts = {"pass": 0, "rows-only": 0, "fail": 0}
    unchecked: list[str] = []
    for i, name in enumerate(todo):
        try:
            counts[_check_one(spark, con, name, sf_dir)] += 1
        except _JVM_LOST as e:
            # the session is gone: the rest cannot run, and must not
            # vanish from the summary either
            print(f"FAIL {name}: JVM lost ({type(e).__name__}: {e})")
            counts["fail"] += 1
            unchecked = todo[i + 1 :]
            break
    for name in unchecked:
        print(f"UNCHECKED {name}")
    print(
        f"\n{counts['pass']} pass, {counts['rows-only']} rows-only, "
        f"{counts['fail']} fail"
        + (f", {len(unchecked)} unchecked" if unchecked else "")
        + f" out of {len(todo)} (sf_dir={sf_dir})"
    )
    return 1 if counts["fail"] or unchecked else 0


def _check_one(spark, con, name: str, sf_dir: str) -> str:
    """Run one query on both engines, print its line and return its
    outcome.  A lost JVM raises out of here instead of counting as a fail
    of this query alone."""
    spec = QUERIES[name]
    t0 = time.time()
    try:
        sdf = spec.fn(spark, sf_dir)
        scols = list(sdf.columns)
        srows = [tuple(r) for r in sdf.collect()]
    except _JVM_LOST:
        raise
    except Exception as e:  # noqa: BLE001
        print(f"FAIL {name}: spark raised {type(e).__name__}: {e}")
        return "fail"
    finally:
        # release per-query persisted intermediates so a full-registry
        # sweep doesn't accumulate 47 queries' pinned caches in one
        # shared session (VERDICT r11 item 5); same hygiene as
        # bench.py's between-query clearCache.
        spark.catalog.clearCache()
    if spec.oracle is None:
        print(f"ROWS-ONLY {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
        return "rows-only"
    try:
        res = con.execute(spec.oracle)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
    except Exception as e:  # noqa: BLE001
        print(f"FAIL {name}: duckdb raised {type(e).__name__}: {e}")
        return "fail"

    s_cols, s_norm = _normalize(scols, srows)
    d_cols, d_norm = _normalize(dcols, drows)
    errs = []
    if s_cols != d_cols:
        errs.append(f"columns spark={s_cols} duck={d_cols}")
    if len(s_norm) != len(d_norm):
        errs.append(f"rowcount spark={len(s_norm)} duck={len(d_norm)}")
    if not errs and s_norm != d_norm:
        diffs = [
            (i, a, b) for i, (a, b) in enumerate(zip(s_norm, d_norm)) if a != b
        ]
        errs.append(
            f"{len(diffs)} differing rows; first: spark={diffs[0][1]} duck={diffs[0][2]}"
        )
    if errs:
        print(f"FAIL {name}: " + " | ".join(errs))
        return "fail"
    print(f"PASS {name}: {len(s_norm)} rows ({time.time()-t0:.1f}s)")
    return "pass"


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    a = ap.parse_args()
    sys.exit(check(a.names or None, a.sf))
