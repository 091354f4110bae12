"""Schema-conform operators (SURVEY §2.2 P4/P7, §2.5 R2/R3).

The reference repairs inferred schemas toward fixed contracts with pandas
idioms; these are the declarative Spark equivalents:

- ``backfill``       : add missing columns with typed defaults
  (extract.py:159-162, transform.py:45-49,78-79).
- ``conform_select`` : fixed final column list, existence-guarded, ordered
  dedup of the list (transform.py:98,111-117,150-155).
- ``coerce_numeric`` : pd.to_numeric(errors='coerce').fillna(0) equivalent —
  ANSI-safe try_cast, null -> 0 (transform.py:51-61).
- ``coerce_dates``   : pd.to_datetime(errors='coerce').dt.date equivalent
  (load.py:37-40).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def backfill(df: DataFrame, defaults: dict[str, tuple[str, object]]) -> DataFrame:
    """Add each missing column as a typed literal default.

    ``defaults`` maps column -> (spark type name, default value); default
    None produces a typed null (ids/names), 0 the metric backfill."""
    cols = set(df.columns)
    missing = {
        name: F.lit(value).cast(typ)
        for name, (typ, value) in defaults.items()
        if name not in cols
    }
    return df.withColumns(missing) if missing else df


def conform_select(df: DataFrame, wanted: list[str]) -> DataFrame:
    """Select the fixed column list, keeping only columns present, dropping
    extras, de-duplicating the list while preserving first-seen order."""
    cols = set(df.columns)
    return df.select(*dict.fromkeys(c for c in wanted if c in cols))


def quote_ident(name: str) -> str:
    """``name`` as a backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def count_sql(expr: str) -> str:
    """SQL: ``expr`` floored to a bigint, unparseable/NULL -> 0."""
    return f"coalesce(CAST(floor(try_cast({expr} AS double)) AS bigint), 0)"


def _replace_sql(df: DataFrame, exprs: dict[str, str]) -> DataFrame:
    """Replace the named columns with SQL expressions in one ``selectExpr``
    (one py4j call however many columns; column order kept)."""
    if not exprs:
        return df
    return df.selectExpr(
        *[
            f"{exprs[c]} AS {quote_ident(c)}" if c in exprs else quote_ident(c)
            for c in df.columns
        ]
    )


def coerce_numeric(
    df: DataFrame,
    monetary_cols: list[str],
    count_cols: list[str],
) -> DataFrame:
    """errors='coerce' semantics, ANSI-safe: unparseable -> null -> 0.

    Monetary columns stay DoubleType (reference accepts FP money,
    SURVEY §7); count columns become LongType (pandas nullable Int64
    analog, 0-backfilled).  A column in both lists is coerced as money
    first, then as a count."""
    cols = set(df.columns)
    exprs: dict[str, str] = {}
    for c in monetary_cols:
        if c in cols:
            exprs[c] = f"coalesce(try_cast({exprs.get(c, quote_ident(c))} AS double), 0.0D)"
    for c in count_cols:
        if c in cols:
            exprs[c] = count_sql(exprs.get(c, quote_ident(c)))
    return _replace_sql(df, exprs)


def coerce_dates(df: DataFrame, cols: list[str]) -> DataFrame:
    """to_datetime(errors='coerce').dt.date equivalent: bad values -> null."""
    present = set(df.columns)
    return _replace_sql(
        df,
        {
            c: f"try_cast(CAST({quote_ident(c)} AS string) AS date)"
            for c in cols
            if c in present
        },
    )
