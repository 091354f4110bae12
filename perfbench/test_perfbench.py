"""Tests of the benchmark's own helpers.

    python3 -m pytest perfbench -q -p no:cacheprovider

The last test starts a short traced run of each workload (one to two
minutes each) and checks that the layers a workload bypasses read zero.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
import measure  # noqa: E402
import tracing  # noqa: E402


# -- seeded generators --------------------------------------------------------


def digest_dir(path: str) -> str:
    """sha256 over the names and bytes of every file under ``path``."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            full = os.path.join(root, f)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_corpus_same_seed_same_bytes_other_seed_differs(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    inputs.write_corpus(a, 3)
    inputs.write_corpus(b, 3)
    inputs.write_corpus(c, 4)
    assert sorted(os.listdir(a)) == [
        "documents.parquet", "embeddings.parquet", "events.parquet"]
    assert digest_dir(a) == digest_dir(b)
    assert digest_dir(a) != digest_dir(c)


def _account_dump(seed: int) -> str:
    acc = inputs.MetaAccount(seed, n_ads=200, n_days=20, events_per_day=50)
    t = inputs.AccountTransport(acc, 5, 7, 7)
    pages = [
        list(t.get_ads(["id", "name", "effective_status"], {})),
        list(t.get_insights(["ad_id", "spend", "actions"], {"breakdowns": []})),
        list(t.get_insights(["ad_id"], {"breakdowns": ["age", "gender"]})),
        [list(t.get_leads(f, [], {})) for f in acc.forms],
    ]
    events = acc.events_table(7).to_pylist()
    return json.dumps([pages, events], default=str, sort_keys=True)


def test_meta_account_is_a_function_of_the_seed():
    assert _account_dump(5) == _account_dump(5)
    assert _account_dump(5) != _account_dump(6)


def test_restated_days_settle_inside_the_pull_window():
    """A day's last pull by a daily run (as of day + RESTATE_DAYS) equals
    the final API state: what makes incremental == one-shot rebuild."""
    acc = inputs.MetaAccount(1, n_ads=200, n_days=30)
    d = 10
    for bd in [(), ("age", "gender"), ("region",)]:
        settled = acc.insights_rows(bd, d, d + inputs.RESTATE_DAYS)
        assert settled == acc.insights_rows(bd, d, 29)
        assert acc.insights_rows(bd, d, d) != settled  # restated meanwhile


def test_daily_work_does_not_depend_on_the_seed():
    """The account at the size the benchmark runs: the same number of live
    ads every day, whatever the seed."""
    accounts = {s: inputs.MetaAccount(s) for s in (1, 2)}
    live = {s: [len(acc._active(d)) for d in range(acc.n_days)]
            for s, acc in accounts.items()}
    assert live[1] == live[2]
    assert max(live[1]) - min(live[1]) <= 1


# -- measurement helpers ------------------------------------------------------


_BURN = "import time\nt=time.process_time()\nwhile time.process_time()-t<{s}: pass\n"


def test_tree_cpu_counts_live_and_reaped_descendants():
    before = measure.tree_cpu_s()
    # a reaped child, and a live child whose own child (a grandchild) burns
    subprocess.run([sys.executable, "-c", _BURN.format(s=0.4)], check=True)
    inner = f"import subprocess,sys\nsubprocess.run([sys.executable,'-c',{_BURN.format(s=0.4)!r}])\nimport time\ntime.sleep(30)\n"
    live = subprocess.Popen([sys.executable, "-c", inner])
    try:
        deadline = time.time() + 20
        while measure.tree_cpu_s() - before < 0.75 and time.time() < deadline:
            time.sleep(0.05)
        spent = measure.tree_cpu_s() - before
    finally:
        live.kill()
        live.wait(timeout=10)
    assert 0.75 <= spent < 3.0


def test_median_pass_takes_each_op_at_its_median():
    # op 0 had a slow spell in pass 1, op 1 in pass 2
    assert measure.median_pass([[1.0, 5.0, 2.0], [3.0, 3.0, 100.0]]) == 5.0
    # with two passes the median is their mean
    assert measure.median_pass([[1.0, 2.0]]) == 1.5


def test_self_time_subtracts_children():
    spans = [
        {"start": 0.0, "end": 10.0, "parent": None},
        {"start": 1.0, "end": 4.0, "parent": 0},
        {"start": 3.0, "end": 6.0, "parent": 0},  # overlaps its sibling
        {"start": 2.0, "end": 3.0, "parent": 1},
    ]
    assert tracing.self_times(spans) == [5.0, 2.0, 3.0, 1.0]


# -- traced run ---------------------------------------------------------------


@pytest.mark.skipif(not os.path.isdir(os.path.join(ROOT, "tools")),
                    reason="needs a checkout of the program")
def test_instrument_wraps_each_function_once():
    """A module that imports a wrapped function by name gets the same
    single wrapper, not a wrapper of the wrapper."""
    import importlib

    tracing.Tracer().instrument()
    for module, attr, _layer in tracing.WRAPPED:
        fn = importlib.import_module(f"{tracing.PKG}.{module}")
        for part in attr.split("."):
            fn = getattr(fn, part)
        assert hasattr(fn, "__wrapped__"), attr
        assert not hasattr(fn.__wrapped__, "__wrapped__"), attr


#: per workload: the layers it bypasses (must read 0) and ones it loads
LAYERS = {
    "llm_curation": (
        ("sources.fetch_s", "sources.pages", "sources.rows", "plans.plan_s",
         "plans.exec_s", "sinks.upsert_s", "sinks.rows_written",
         "sinks.bytes_written", "streaming.trigger_s", "streaming.batches"),
        ("queries.plan_s", "queries.exec_s", "dedup.s", "dedup.candidate_pairs",
         "dedup.confirmed_pairs", "text.s", "similarity.s",
         "similarity.pairs_scored", "multimodal.s", "jvm.executor_run_s"),
    ),
    "ads_etl_incremental": (
        ("queries.plan_s", "queries.exec_s", "dedup.s", "dedup.candidate_pairs",
         "text.s", "similarity.s", "similarity.pairs_scored", "multimodal.s"),
        ("sources.fetch_s", "sources.pages", "sources.rows", "plans.plan_s",
         "plans.exec_s", "sinks.upsert_s", "sinks.rows_written",
         "sinks.rewrite_ratio", "streaming.trigger_s", "streaming.batches",
         "jvm.executor_run_s"),
    ),
}


@pytest.mark.skipif(not os.path.isdir(os.path.join(ROOT, "tools")),
                    reason="needs a checkout of the program")
@pytest.mark.parametrize("workload", sorted(LAYERS))
def test_traced_run_reads_bypassed_layers_as_zero(workload):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "11", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=180)
    assert out.returncode == 0, out.stderr[-2000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert set(m) == set(tracing.PER_LAYER)
    idle, busy = LAYERS[workload]
    for key in idle:
        assert m[key] == 0, key
    for key in busy:
        assert m[key] > 0, key
    assert m["dedup.precision"] <= 1
