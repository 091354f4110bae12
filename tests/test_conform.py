"""Conform/coercion semantics (reference P4/P7/R2/R3 parity)."""

from __future__ import annotations

from projeto_de_etl_com_api_do_meta_spark.functions.conform import (
    backfill,
    coerce_dates,
    coerce_numeric,
    conform_select,
)


def test_backfill_adds_only_missing(spark):
    df = spark.createDataFrame([("x", 1)], "a string, b int")
    out = backfill(df, {"a": ("string", None), "c": ("long", 0), "d": ("string", None)})
    assert out.columns == ["a", "b", "c", "d"]
    row = out.first()
    assert row.a == "x" and row.c == 0 and row.d is None


def test_conform_select_existence_guard_and_ordered_dedup(spark):
    df = spark.createDataFrame([(1, 2, 3)], "a int, b int, c int")
    out = conform_select(df, ["c", "missing", "a", "c", "a"])
    assert out.columns == ["c", "a"]


def test_coerce_numeric_errors_coerce_semantics(spark):
    df = spark.createDataFrame(
        [("12", "3.50"), ("N/A", ""), (None, "junk")], "cnt string, money string"
    )
    out = coerce_numeric(df, monetary_cols=["money"], count_cols=["cnt"]).collect()
    assert [(r.cnt, r.money) for r in out] == [(12, 3.5), (0, 0.0), (0, 0.0)]
    types = dict(coerce_numeric(df, ["money"], ["cnt"]).dtypes)
    assert types == {"cnt": "bigint", "money": "double"}


def test_coerce_numeric_column_in_both_lists_is_money_then_count(spark):
    df = spark.createDataFrame([("2.7",), ("junk",)], "x string")
    out = coerce_numeric(df, monetary_cols=["x"], count_cols=["x"])
    assert dict(out.dtypes) == {"x": "bigint"}
    assert [r.x for r in out.collect()] == [2, 0]


def test_coerce_numeric_under_ansi(spark):
    prev = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "true")
        df = spark.createDataFrame([("oops",)], "cnt string")
        assert coerce_numeric(df, [], ["cnt"]).first().cnt == 0
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_coerce_dates(spark):
    df = spark.createDataFrame(
        [("2024-03-01",), ("not-a-date",), (None,)], "d string"
    )
    vals = [r.d for r in coerce_dates(df, ["d"]).collect()]
    assert str(vals[0]) == "2024-03-01" and vals[1] is None and vals[2] is None


def test_uniqueness_violations_finds_dups(spark):
    from projeto_de_etl_com_api_do_meta_spark.operators.quality import (
        uniqueness_violations,
    )

    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "k long, v string"
    )
    got = uniqueness_violations(df, ["k"]).collect()
    assert [(r.k, r.n_rows) for r in got] == [(1, 2)]
