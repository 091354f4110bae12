"""Property-based tests (SURVEY §5.4): totality and algebraic laws that must
hold for ANY input, not just fixtures — driven by hypothesis."""

from __future__ import annotations

import math

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from projeto_de_etl_com_api_do_meta_spark.functions.safe_math import safe_div
from projeto_de_etl_com_api_do_meta_spark.sinks.upsert import parquet_upsert

_finite = st.one_of(
    st.none(),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.integers(min_value=-(2**31), max_value=2**31).map(float),
)

_SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(pairs=st.lists(st.tuples(_finite, _finite), min_size=1, max_size=20))
@_SLOW
def test_safe_div_total_and_finite(spark, pairs):
    df = spark.createDataFrame(pairs, "num double, den double")
    rows = df.select(safe_div("num", "den").alias("q")).collect()
    for (num, den), row in zip(pairs, rows):
        assert row.q is not None and math.isfinite(row.q)
        if num is None or den is None or den == 0:
            assert row.q == 0.0
        else:
            assert row.q == num / den


@given(
    base=st.dictionaries(
        st.integers(0, 6), st.integers(-100, 100), min_size=1, max_size=6
    ),
    delta=st.dictionaries(
        st.integers(0, 6), st.integers(-100, 100), min_size=1, max_size=6
    ),
)
@_SLOW
def test_parquet_upsert_idempotent_and_last_write_wins(spark, tmp_path_factory, base, delta):
    target = str(tmp_path_factory.mktemp("upsert") / "t.parquet")

    def write(d):
        df = spark.createDataFrame(list(d.items()), "k long, v long")
        parquet_upsert(spark, df, target, keys=["k"])

    def snapshot():
        return {
            r.k: r.v for r in spark.read.parquet(target).collect()
        }

    write(base)
    write(delta)
    once = snapshot()
    write(delta)  # re-applying the same batch must change nothing
    assert snapshot() == once
    assert once == {**base, **delta}  # delta overwrites, base survives


_KEY = st.tuples(st.sampled_from([None, 0, 1, 2]), st.sampled_from([None, "a", "b"]))


@given(
    target=st.dictionaries(_KEY, st.integers(-9, 9), min_size=1, max_size=8),
    batch=st.dictionaries(_KEY, st.integers(-9, 9), max_size=6),
)
@example(
    target={(None, None): 1, (0, "a"): 2, (None, "b"): 3, (2, None): 4},
    batch={(None, None): 5, (0, "a"): 6, (1, None): 7},
)
@example(target={(1, "a"): 1, (None, "a"): 2}, batch={(None, "a"): 3})
@_SLOW
def test_flat_and_manifest_sinks_merge_alike(spark, tmp_path_factory, target, batch):
    """``parquet_upsert`` into a flat directory and ``merge_into`` into a
    versioned table apply one keyed MERGE: composite keys, NULL key
    components matching themselves, and a re-run that changes nothing."""
    from collections import Counter

    from projeto_de_etl_com_api_do_meta_spark.operators.lakehouse import (
        commit_version,
        merge_into,
        read_version,
    )

    schema = "k1 long, k2 string, v long"
    keys = ["k1", "k2"]
    root = tmp_path_factory.mktemp("merge")
    flat, table = str(root / "flat"), str(root / "table")

    def frame(d):
        return spark.createDataFrame([(*k, v) for k, v in d.items()], schema)

    def rows(df):
        return Counter(tuple(r) for r in df.collect())

    parquet_upsert(spark, frame(target), flat, keys)
    commit_version(
        frame(target).repartitionByRange(2, "k1"), table, stats_cols=("k1",)
    )
    want = Counter((*k, v) for k, v in {**target, **batch}.items())
    for _ in range(2):
        parquet_upsert(spark, frame(batch), flat, keys)
        merge_into(spark, table, frame(batch), keys, stats_cols=("k1",))
        assert rows(spark.read.parquet(flat)) == want
        assert rows(read_version(spark, table)) == want


@given(rows=st.lists(st.tuples(st.integers(0, 5), st.text(max_size=3)), max_size=10))
@_SLOW
def test_union_by_name_column_order_invariance(spark, rows):
    a = spark.createDataFrame(rows or [(0, "")], "k long, s string")
    b = a.select("s", "k")  # shuffled column order
    u1 = a.unionByName(b).collect()
    u2 = b.unionByName(a).select("k", "s").collect()
    assert sorted(map(tuple, u1)) == sorted(map(tuple, u2))


#: action types as the API sends them: plain, dotted (sanitized to a
#: whitelisted name), two spellings of one sanitized name, not whitelisted
_ACTION_TYPES = [
    "lead",
    "link_click",
    "link.click",
    "comment",
    "offsite_conversion.fb_pixel_lead",
    "onsite_conversion.messaging_block",
    "video.view.extra",
]
_PIVOT_WHITELIST = (
    "lead",
    "link_click",
    "comment",
    "offsite_conversion_fb_pixel_lead",
    "onsite_conversion_messaging_block",
)
_action_value = st.one_of(
    st.integers(-999, 999).map(str),
    st.sampled_from(["N/A", "", "abc", "1x"]),
    st.none(),
)


def _reference_pivot(acts):
    """The reference's per-row loop (transform.py:22-39): sanitize '.' ->
    '_', later entries overwrite earlier ones, then coerce (unparseable or
    absent -> 0) and keep the whitelist."""
    wide = {}
    for action_type, value in acts or []:
        wide[action_type.replace(".", "_")] = value
    out = {}
    for name in _PIVOT_WHITELIST:
        try:
            out[name] = int(wide.get(name))
        except (TypeError, ValueError):
            out[name] = 0
    return out


@given(
    rows=st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.tuples(st.sampled_from(_ACTION_TYPES), _action_value),
                max_size=5,
            ),
        ),
        min_size=1,
        max_size=8,
    )
)
@example(
    rows=[
        None,
        [],
        [("offsite_conversion.fb_pixel_lead", "3"), ("lead", "1"), ("lead", "5")],
        [("link_click", "2"), ("link.click", "N/A"), ("comment", None)],
        [("link.click", "7"), ("video.view.extra", "9"), ("comment", "")],
    ]
)
@_SLOW
def test_pivot_unpivot_round_trip(spark, rows):
    from projeto_de_etl_com_api_do_meta_spark.operators.actions_pivot import (
        normalize_actions_fixed,
    )

    data = [
        (rid, None if acts is None else [{"action_type": t, "value": v} for t, v in acts])
        for rid, acts in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data,
        "row_id long, actions array<struct<action_type:string,value:string>>",
    )
    wide = normalize_actions_fixed(df, whitelist=_PIVOT_WHITELIST)
    # Unpivot the widened metrics back to long form and compare with the
    # reference's pivot of the same lists — pivot must lose nothing
    # whitelisted.
    stack_args = ", ".join(f"'{c}', {c}" for c in _PIVOT_WHITELIST)
    long = wide.select(
        "row_id",
        F.expr(f"stack({len(_PIVOT_WHITELIST)}, {stack_args}) AS (action_type, value)"),
    )
    got = {}
    for r in long.collect():
        got.setdefault(r.row_id, {})[r.action_type] = r.value
    assert got == {rid: _reference_pivot(acts) for rid, acts in enumerate(rows)}
