"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion (count + a cheap checksum collect) so
the full plan runs; session is built once and reused (JVM/session startup is
excluded from per-query timings).

Methodology pin (r4): the shared session keeps total bench time bounded, but
it makes individual per-query timings noisy at the ±30-70% level when the
headline set changes between rounds (measured: five TPC-H entries "regressed"
in BENCH_r03 purely from 9 added queries sharing the JVM, and re-measured at
or below their r02 numbers in isolation — ISOLATED_BENCH_r04.json). Treat
the TOTAL and large same-set deltas as signal; since r5, any cross-round
per-query regression >25% vs the latest BENCH_r*.json is AUTOMATICALLY
re-measured in isolation (fresh JVM per query, 3 warm reps) and recorded in
the artifact's "isolated" section — read that, not the shared timing.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO_ROOT)

from projeto_de_etl_com_api_do_meta_spark.queries.registry import (  # noqa: E402
    QUERIES,
    _load_all,
)
from projeto_de_etl_com_api_do_meta_spark.session import get_spark  # noqa: E402

#: Headline queries: the heaviest representative of each operator family.
#: The set stays small so the one stdout JSON line fits the consumer's
#: ~2000-char parse window (``main`` fails the run above 1800 chars).  Why
#: each entry joined or left the set is recorded in SCALE.md.
HEADLINE: tuple[str, ...] = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q10_returned_items",
    "perf_daily_fact",
    "q5_local_supplier_revenue",
    "q8_market_share",
    "q9_product_profit",
    "q18_large_volume_customers",
    "q21_waiting_suppliers",
    "join_full_outer_fanout",
    "events_incremental_rollup",
    "agg_udaf_pandas",  # first pandas-exec query: absorbs Python worker spin-up
    "dedup_containment_pairs",
    "text_decontaminate_bloom",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "embed_knn_bruteforce",
    "embed_ann_ivf",
    "embed_power_iteration",
    "dedup_jaccard_prefix_filter",
    "stream_tumbling_daily",
    "stream_stream_join_clicks",
    "stream_chained_windows",
    "dedup_ngram_jaccard_capped",
    "dedup_containment_prefix_filter",
    "embed_ann_lsh_md5",
    "embed_ann_srp_md5",
    "text_bigram_perplexity",
    "pipeline_training_funnel",
    "dedup_semantic_clustered",
    "dedup_semantic_clustered_scaled",
    "dedup_semantic_twolevel_scaled",
    "sample_dsir_importance",
    "lakehouse_merge_upsert",
    "pipeline_rag_funnel",
    "multimodal_jpeg_roundtrip",
    "ml_bootstrap_ci_poisson",
    "dedup_cluster_components_star",
    "ml_naive_bayes_lang",
    "corpus_tfidf_cosine_search",
    "graph_kcore_peel",
    "multimodal_flac_roundtrip",
    "io_tar_shard_roundtrip",
    "corpus_cooc_svd_embedding",
    "corpus_misra_gries_sharded",
    "dedup_tf_cosine_pairs",
    "er_jaro_winkler_pairs",
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    _load_all()
    # showConsoleProgress=false: the JVM's progress-bar repaints share the
    # consumer's pipe with our one stdout JSON line; an interleaved '\r'
    # chunk can corrupt the line in a merged capture (BENCH_r05 arrived
    # unparseable at the driver while BENCH_r04's identical flow parsed —
    # the only delta was more stderr traffic). Quiet stderr entirely.
    spark = get_spark(
        app_name="bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    names = [n for n in HEADLINE if n in QUERIES]
    # Warm the session (JVM init, parquet footer reads) outside timings.
    try:
        QUERIES[names[0]].fn(spark, sf_dir).count()
    except Exception as exc:  # warm-up failure must not kill the bench
        print(f"warmup failed: {exc}", file=sys.stderr)

    # Two reps per query, report the min: rep 1 absorbs first-run Catalyst
    # analysis + codegen, rep 2 is steady state; min-of-2 also damps shared-
    # host noise.  clearCache() between queries drops intermediates some
    # operators persist (e.g. IVF centroid assignments) so queries can't
    # degrade each other through executor memory pressure.  A query that
    # raises is recorded in "errors" instead of zeroing the whole artifact.
    # Each rep's generated classes compiled (and their compile ms) go to
    # the side artifact: a rep 2 that still compiles means the session's
    # code cache did not keep the query's classes.
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    codegen: dict[str, list[dict]] = {}
    compiled = _codegen_counter(spark)
    for name in names:
        best = float("inf")
        try:
            for _ in range(2):
                spark.catalog.clearCache()
                n0, ms0 = compiled()
                t0 = time.time()
                df = QUERIES[name].fn(spark, sf_dir)
                df.count()
                best = min(best, time.time() - t0)
                n1, ms1 = compiled()
                codegen.setdefault(name, []).append(
                    {"classes": n1 - n0, "compile_ms": round(ms1 - ms0, 1)}
                )
            timings[name] = round(best, 3)
        except Exception as exc:
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"query {name} failed: {errors[name]}", file=sys.stderr)
        finally:
            spark.catalog.clearCache()

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if errors:
        out["errors"] = errors
    out["codegen"] = codegen

    # r4 verdict item 5: auto-confirm flagged cross-round regressions in
    # ISOLATION inside this round's own artifact. Any query >25% slower
    # than the latest BENCH_r*.json gets a fresh-JVM re-measure
    # (tools/bench_isolated.py); shared-session noise then shows up as
    # isolated ≈ previous, a real regression as isolated ≈ shared. Capped
    # at the 8 largest absolute deltas (each isolated run costs a JVM
    # start); anything past the cap is listed, never silently dropped.
    prev = _latest_prev_bench()
    if prev:
        flagged = sorted(
            (
                (name, t, prev["queries"][name])
                for name, t in timings.items()
                if name in prev.get("queries", {})
                and prev["queries"][name] > 0.1
                and t > prev["queries"][name] * 1.25
            ),
            key=lambda x: x[2] - x[1],
        )
        if not flagged:
            # record explicitly that the regression check RAN and found
            # nothing (r6 shipped with the machinery silently no-opped;
            # an absent key is indistinguishable from that failure mode)
            out["isolated"] = {}
        else:
            cap = 8
            head, overflow = flagged[:cap], flagged[cap:]
            from tools.bench_isolated import measure_isolated

            iso = measure_isolated(
                [n for n, _, _ in head], sf_dir, reps=3, quiet=True
            )
            # Full isolated detail goes to the side artifact (see below);
            # the stdout line carries only the isolated MEDIANS so it stays
            # within the driver's parse window.
            out["isolated"] = {
                n: iso.get(n, {}).get("median") for n, _, _ in head
            }
            out["isolated_detail"] = {
                n: {
                    **iso.get(n, {"error": True}),
                    "shared": t,
                    "prev_shared": p,
                }
                for n, t, p in head
            }
            if overflow:
                out["isolated_skipped_over_cap"] = [n for n, _, _ in overflow]
            # An isolated crash is a first-class failure, not noise: fold it
            # into the top-level "errors" key so the driver artifact (and
            # test_bench_recovery's gate) can never show a silent
            # {"error": true} again (VERDICT r9 item 3 — embed_ann_ivf's
            # fresh-session crash shipped unseen in BENCH_r09).
            iso_errors = {
                n: d.get("exception", "isolated run failed")
                for n, d in iso.items()
                if d.get("error")
            }
            if iso_errors:
                out.setdefault("errors", {}).update(
                    {f"isolated:{n}": e for n, e in iso_errors.items()}
                )
    # The driver extracts the metric JSON from the last ~2000 chars of
    # captured output (BENCH_r05 exceeded that and arrived unparsed while
    # the shorter BENCH_r04 parsed), so the stdout line must stay well
    # under 2000 chars AND be the final output: full detail is written to
    # BENCH_LOCAL.json, the stdout line is compact-encoded, stderr is
    # drained first, and the line is emitted as one atomic os.write.
    with open(os.path.join(_REPO_ROOT, "BENCH_LOCAL.json"), "w") as f:
        f.write(json.dumps(out, indent=1) + "\n")
    slim = {
        k: v for k, v in out.items() if k not in ("isolated_detail", "codegen")
    }
    # 2dp per-query on stdout (3dp lives in BENCH_LOCAL.json): sub-10ms
    # precision is run-to-run noise, and the chars matter here.
    slim["queries"] = {k: round(v, 2) for k, v in slim["queries"].items()}
    line = json.dumps(slim, separators=(",", ":"))
    if len(line) > 1800:  # last resort: shave optional sections
        slim.pop("isolated_skipped_over_cap", None)
        slim.pop("isolated", None)
        line = json.dumps(slim, separators=(",", ":"))
    # HARD guard (r7 verdict item 4): a line the driver can't parse costs a
    # whole round of regression tracking (BENCH_r05).  If even the shaved
    # line exceeds the window the headline set has outgrown its budget —
    # fail the run loudly so the overflow is fixed at commit time, never
    # discovered one round later in an unparsed artifact.
    if len(line) > 1800:
        raise SystemExit(
            f"bench stdout line is {len(line)} chars (> 1800): prune the "
            "HEADLINE set — the driver's ~2000-char parse window would "
            "silently drop this artifact"
        )
    sys.stderr.flush()
    time.sleep(0.2)  # let the JVM's async stderr writers finish
    sys.stdout.flush()
    os.write(sys.stdout.fileno(), (line + "\n").encode())


def _codegen_counter(spark):
    """A reader of (classes compiled, Janino compile ms) so far in the
    session's JVM, from Spark's ``CodegenMetrics`` and ``CodeGenerator``."""
    jvm = spark._jvm
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    gen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return lambda: (hist.getCount(), gen.compileTime() / 1e6)


def _latest_prev_bench() -> dict | None:
    """Newest BENCH_r*.json in the repo root (the driver's per-round
    artifacts), or None on the first round."""
    import glob
    import re

    best, best_n = None, -1
    for path in glob.glob(os.path.join(_REPO_ROOT, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if not m:
            continue
        n = int(m.group(1))
        if n > best_n:
            best, best_n = path, n
    if best is None:
        return None
    try:
        with open(best) as f:
            d = json.load(f)
        if not isinstance(d, dict):
            return None
        # the driver wraps bench.py's JSON line under "parsed" — but when
        # the stdout line overflowed the driver's ~2000-char window the key
        # is present-and-null (BENCH_r05), so `.get(key, default)` never
        # falls back and the r6 auto-isolation silently no-opped (r6
        # verdict item 2).  Recover the queries map from the raw "tail"
        # string, then from the previous round's committed BENCH_LOCAL.json.
        parsed = d.get("parsed") if "parsed" in d else d
        if isinstance(parsed, dict) and parsed.get("queries"):
            return parsed
        recovered = _parse_tail(d.get("tail", ""))
        if recovered is not None:
            return recovered
        local = os.path.join(_REPO_ROOT, "BENCH_LOCAL.json")
        if os.path.exists(local):
            with open(local) as f:
                prev = json.load(f)
            if isinstance(prev, dict) and prev.get("queries"):
                return prev
        return None
    except Exception:
        return None


def _parse_tail(tail: str) -> dict | None:
    """Best-effort: pull bench.py's one-line metric JSON out of a raw
    stdout-tail capture.  The line is the last '{'-prefixed line that
    parses; a tail truncated mid-line is recovered via the outermost
    "queries" object if it survived whole."""
    import re

    for line in reversed(tail.splitlines()):
        line = line.strip()
        if line.startswith("{"):
            try:
                d = json.loads(line)
                if isinstance(d, dict) and d.get("queries"):
                    return d
            except Exception:
                pass
    # truncated mid-line (BENCH_r05: 2000-char window cut the head off, so
    # even the "queries" key is gone): scrape the flat "name": number pairs
    # directly — query names are the only keys besides a small fixed set of
    # envelope/isolation fields.
    skip = {
        "metric", "value", "sf", "n", "rc", "cpus",
        "cold", "min", "median", "reps", "shared", "prev_shared",
    }
    q: dict[str, float] = {}
    for m in re.finditer(r'"([A-Za-z0-9_]+)"\s*:\s*(-?\d+(?:\.\d+)?)', tail):
        k = m.group(1)
        if k not in skip:
            q[k] = float(m.group(2))
    return {"queries": q} if q else None


if __name__ == "__main__":
    main()
