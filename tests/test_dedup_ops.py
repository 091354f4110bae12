"""Dedup operator semantics: exact dedup, n-gram Jaccard, MinHash+LSH."""

from __future__ import annotations

from pyspark.sql import functions as F

from projeto_de_etl_com_api_do_meta_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_near_dup,
    minhash_signatures,
    shingle_posting,
    word_shingles,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_lowest_id(spark):
    df = _docs(
        spark,
        [(3, "Same Text"), (1, "same   text"), (2, "other text")],
    )
    kept = sorted(r.doc_id for r in exact_dedup(df).collect())
    assert kept == [1, 2]  # doc 3 is a normalized dup of doc 1


def test_word_shingles(spark):
    df = _docs(spark, [(1, "a b c d")])
    sh = df.select(word_shingles("text", 3).alias("s")).first().s
    assert sorted(sh) == ["a b c", "b c d"]


def test_word_shingles_short_doc_empty(spark):
    df = _docs(spark, [(1, "a b")])
    assert df.select(word_shingles("text", 3).alias("s")).first().s == []


def test_shingle_posting_plan_shingles_once(spark):
    """The posting explodes the shingle expression itself: exploding an
    aliased column lets InferFiltersFromGenerate push a second and third
    copy of the shingle expression below the repartition exchange, which
    shingles the whole corpus again on its unsplit input."""
    df = _docs(spark, [(1, "a b c d"), (2, "b c d e")])
    posting = shingle_posting(df)
    plan = posting._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("array_distinct(") == 1, plan
    assert sorted(map(tuple, posting.collect())) == [
        (1, "a b c"), (1, "b c d"), (2, "b c d"), (2, "c d e")
    ]


def test_connected_components_raise_when_rounds_run_out(spark):
    """A chain longer than the round budget must fail loudly: labels from
    an unconverged last round are wrong."""
    import pytest

    from projeto_de_etl_com_api_do_meta_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="max_iter=3"):
        connected_components(chain, max_iter=3)
    with pytest.raises(RuntimeError, match="max_iter=2"):
        connected_components_star(chain, max_iter=2)


def test_jaccard_pairs_hand_computed(spark):
    # doc1: shingles {a b c, b c d}; doc2: {a b c, b c e} -> J = 1/3
    df = _docs(spark, [(1, "a b c d"), (2, "a b c e")])
    rows = jaccard_pairs(df, threshold=0.0).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_a, r.doc_b, r.n_inter) == (1, 2, 1)
    assert abs(r.jaccard - 1 / 3) < 1e-6


def test_minhash_estimates_jaccard(spark):
    base = "w%d " * 50
    a = base % tuple(range(50))
    b = base % tuple(list(range(45)) + [990, 991, 992, 993, 994])  # ~45/55 overlap
    df = _docs(spark, [(1, a.strip()), (2, b.strip())])
    exact = jaccard_pairs(df, threshold=0.0).first().jaccard
    sigs = minhash_signatures(df, num_hashes=128)
    sa, sb = [r.sig for r in sigs.orderBy("doc_id").collect()]
    est = sum(1 for x, y in zip(sa, sb) if x == y) / 128
    assert abs(est - exact) < 0.15  # 128 hashes -> stderr ~ 0.044


def test_lsh_candidates_catch_near_dups(spark):
    words = " ".join(f"w{i}" for i in range(60))
    near = " ".join(f"w{i}" for i in range(59)) + " z0"
    far = " ".join(f"x{i}" for i in range(60))
    df = _docs(spark, [(1, words), (2, near), (3, far)])
    sigs = minhash_signatures(df)
    cands = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(sigs).collect()}
    assert (1, 2) in cands
    assert (1, 3) not in cands and (2, 3) not in cands


def test_minhash_near_dup_end_to_end(spark):
    words = " ".join(f"w{i}" for i in range(60))
    near = " ".join(f"w{i}" for i in range(59)) + " z0"
    far = " ".join(f"x{i}" for i in range(60))
    df = _docs(spark, [(1, words), (2, near), (3, far)])
    out = minhash_near_dup(df, threshold=0.5).collect()
    assert [(r.doc_a, r.doc_b) for r in out] == [(1, 2)]
    assert out[0].est_jaccard > 0.8


def test_simhash_near_dup_finds_close_pairs_only(spark):
    from projeto_de_etl_com_api_do_meta_spark.operators.dedup import (
        simhash_near_dup,
    )

    base = " ".join(f"tok{i}" for i in range(60))
    near = base.replace("tok30", "tok30x")  # tiny perturbation
    far = " ".join(f"other{i}" for i in range(60))
    df = spark.createDataFrame(
        [(0, base), (1, base), (2, near), (3, far)],
        "doc_id long, text string",
    )
    got = {(r.doc_a, r.doc_b): r.hamming for r in simhash_near_dup(df).collect()}
    assert got[(0, 1)] == 0          # identical -> hamming 0
    assert (0, 3) not in got and (1, 3) not in got and (2, 3) not in got


def test_salted_join_equals_plain_join(spark, sf_dir):
    from projeto_de_etl_com_api_do_meta_spark.io import load_table
    from projeto_de_etl_com_api_do_meta_spark.operators.skew import salted_join

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("c_custkey")
    )
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    plain = orders.join(customer, "c_custkey").select("o_orderkey", "c_name")
    salted = salted_join(orders, customer, "c_custkey", num_salts=4).select(
        "o_orderkey", "c_name"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_connected_components_chain_and_islands(spark):
    from projeto_de_etl_com_api_do_meta_spark.operators.dedup import (
        connected_components,
    )

    # Chain 1-2-3-4 (diameter 3, needs multiple rounds), pair {10,11},
    # and pair {20,21} sharing nothing with the chain.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)], "doc_a long, doc_b long"
    )
    got = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_prefix_filter_jaccard_equals_naive(spark):
    """Prefix filtering is lossless: identical result set to the naive
    posting-list join on crafted near-dup and disjoint docs."""
    from projeto_de_etl_com_api_do_meta_spark.operators.dedup import (
        jaccard_pairs,
        prefix_jaccard_pairs,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),  # near-dup of 1
        (3, "completely different words appear in this document body"),
        (4, "another unrelated text with its own vocabulary entirely"),
        (5, "the quick brown fox jumps over the lazy dog today"),  # exact dup of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.3, 0.6, 0.9):
        naive = sorted(map(tuple, jaccard_pairs(df, threshold=t).collect()))
        fast = sorted(map(tuple, prefix_jaccard_pairs(df, threshold=t).collect()))
        assert fast == naive, f"threshold {t}"
    assert (1, 5) in {(a, b) for a, b, *_ in
                      prefix_jaccard_pairs(df, threshold=0.9).collect()}


def test_containment_dominates_jaccard(spark, sf_dir):
    """Containment >= Jaccard for every pair: any pair emitted by the
    Jaccard join at threshold t must be emitted by the containment join at
    the same t, with max(cont_a, cont_b) >= its jaccard."""
    from projeto_de_etl_com_api_do_meta_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
    )

    docs = (
        __import__(
            "projeto_de_etl_com_api_do_meta_spark.io", fromlist=["load_table"]
        )
        .load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
    )
    t = 0.12
    jac = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(docs, threshold=t).collect()
    }
    cont = {
        (r.doc_a, r.doc_b): max(r.cont_a, r.cont_b)
        for r in containment_pairs(docs, threshold=t).collect()
    }
    assert jac, "fixture should produce at least one near-dup pair"
    for pair, j in jac.items():
        assert pair in cont and cont[pair] >= j - 1e-9


def test_containment_prefix_filter_lossless(spark, sf_dir):
    """Prefix-filtered containment join returns exactly the naive join's
    result set at the same threshold (losslessness of the pigeonhole
    prefix)."""
    from projeto_de_etl_com_api_do_meta_spark.io import load_table
    from projeto_de_etl_com_api_do_meta_spark.operators.dedup import (
        containment_pairs,
        containment_prefix_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = 0.8
    naive = {
        (r.doc_a, r.doc_b, r.n_inter)
        for r in containment_pairs(docs, threshold=t).collect()
        if r.n_inter >= t * min(r.size_a, r.size_b)  # align filter forms
    }
    pref = {
        (r.doc_a, r.doc_b, r.n_inter)
        for r in containment_prefix_pairs(docs, threshold=t).collect()
    }
    assert pref == naive and pref


def test_key_skew_report_flags_planted_hot_key(spark):
    from projeto_de_etl_com_api_do_meta_spark.operators.skew import (
        key_skew_report,
    )

    # 1000 rows on key 1, one row each on keys 2..101 -> mean ~ 10.9
    rows = [(1,)] * 1000 + [(k,) for k in range(2, 102)]
    df = spark.createDataFrame(rows, "k long")
    top = key_skew_report(df, "k", top_k=3).collect()
    assert top[0].k == 1 and top[0].cnt == 1000
    # hot key holds 1000/1100 rows = 9090 bp; ~92x the mean key
    assert top[0].share_bp == 1000 * 10000 // 1100
    assert top[0].vs_mean_bp == 1000 * 101 * 10000 // 1100
    assert top[0].vs_mean_bp > 10 * 10000  # unmistakably "salt this"
    assert top[1].vs_mean_bp < 10000  # the cold keys sit below the mean


def test_star_components_match_unionfind_and_converge_logarithmically(spark):
    """Large-star/small-star CC equals a union-find ground truth on
    adversarial shapes, and a 64-chain converges in far fewer rounds than
    its diameter (the O(log n) property that motivates the variant)."""
    import random

    from projeto_de_etl_com_api_do_meta_spark.operators.dedup import (
        connected_components_star,
    )

    def uf(edges, nodes):
        p = {n: n for n in nodes}

        def find(x):
            while p[x] != x:
                p[x] = p[p[x]]
                x = p[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                p[max(ra, rb)] = min(ra, rb)
        comp: dict = {}
        for n in nodes:
            comp.setdefault(find(n), []).append(n)
        return {n: min(ns) for ns in comp.values() for n in ns}

    rng = random.Random(3)
    cases = [
        ("chain64", [(i, i + 1) for i in range(63)]),
        ("two-comps", [(0, 1), (1, 2), (10, 11), (12, 11)]),
        ("rand", [(rng.randrange(40), rng.randrange(40)) for _ in range(50)]),
    ]
    for name, edges in cases:
        edges = [(a, b) for a, b in edges if a != b]
        nodes = sorted({x for e in edges for x in e})
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        labels, rounds = connected_components_star(df)
        got = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
        assert got == uf(edges, nodes), name
        if name == "chain64":
            assert rounds <= 12, rounds  # diameter is 63


def test_jaccard_cap_auto_switch_point(spark):
    """The auto heuristic picks the absolute cap on a saturated vocabulary
    (mean shingle df > cap_min) and the fraction cap on a diverse one —
    and in the diverse regime auto is value-identical to fraction mode."""
    from projeto_de_etl_com_api_do_meta_spark.operators.dedup import (
        jaccard_pairs_capped,
        resolve_jaccard_cap,
        word_shingles,
    )

    # saturated: 40 docs all drawing 3-grams from the SAME tiny phrase pool
    sat = _docs(
        spark,
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(40)],
    )
    posting = sat.select(
        "doc_id", F.explode(word_shingles("text", 3)).alias("shingle")
    )
    mode, cap = resolve_jaccard_cap(posting, 40, cap_frac=0.25, cap_min=5)
    assert mode == "absolute" and cap == 5  # mean df = 40 > cap_min

    # diverse: every doc has its own vocabulary (mean df == 1)
    div = _docs(
        spark,
        [(i, f"w{i}a w{i}b w{i}c w{i}d w{i}e w{i}f") for i in range(40)],
    )
    posting_d = div.select(
        "doc_id", F.explode(word_shingles("text", 3)).alias("shingle")
    )
    mode_d, cap_d = resolve_jaccard_cap(posting_d, 40, cap_frac=0.25, cap_min=5)
    assert mode_d == "fraction" and cap_d == 10  # ceil(0.25*40)

    # auto == fraction on the diverse corpus, row for row
    a = jaccard_pairs_capped(div, threshold=0.0, cap_frac=0.25, cap_min=5,
                             cap_mode="auto").collect()
    f = jaccard_pairs_capped(div, threshold=0.0, cap_frac=0.25, cap_min=5,
                             cap_mode="fraction").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, f))

    # absolute mode on the saturated corpus: every shingle df=40 > 5, all
    # dropped, no candidate pairs — constant work regardless of N
    sat_pairs = jaccard_pairs_capped(
        sat, threshold=0.0, cap_mode="absolute", cap_min=5
    )
    assert sat_pairs.count() == 0


def test_loop_shuffle_width_tolerates_non_integer_conf(caplog):
    """A platform-set ``auto`` width does not crash the loop helper: the
    cap falls back to Spark's default 200 with a warning, and the conf is
    restored on exit.  (A real session rejects ``auto`` for this conf, so
    a stand-in session holds it.)"""
    import logging
    from types import SimpleNamespace

    from projeto_de_etl_com_api_do_meta_spark.operators.dedup import (
        loop_shuffle_width,
    )

    class Conf(dict):
        def set(self, key, value):
            self[key] = value

        def unset(self, key):
            self.pop(key, None)

    conf = Conf({"spark.sql.shuffle.partitions": "auto"})
    spark = SimpleNamespace(conf=conf)
    key = "spark.sql.shuffle.partitions"
    with caplog.at_level(logging.WARNING):
        with loop_shuffle_width(spark, n_rows=2_500_000):
            assert conf[key] == "3"
        with loop_shuffle_width(spark, n_rows=10**12):
            assert conf[key] == "200"
    assert conf[key] == "auto"
    assert "not an integer" in caplog.text
