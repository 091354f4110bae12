"""The daily job reuses its generated code.

Spark caches the classes it compiles for whole-stage codegen and expression
evaluation in an LRU of ``spark.sql.codegen.cache.maxEntries`` entries.  The
daily run touches its ~170 classes in the same cyclic order every time, so a
cache smaller than that working set misses on every lookup and the run
recompiles all of them (Janino, then the JIT) each day.  ``get_spark`` sizes
the cache; this test fails when a working set outgrows it again.

The conf is static, so the check runs in a SUBPROCESS: a fresh JVM whose
cache no earlier test has filled.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_DAILY_RUNS = r"""
import json, os, sys
from projeto_de_etl_com_api_do_meta_spark.plans import pipelines as p
from projeto_de_etl_com_api_do_meta_spark.schemas import UPSERT_KEYS
from projeto_de_etl_com_api_do_meta_spark.session import get_spark
from projeto_de_etl_com_api_do_meta_spark.sinks.upsert import parquet_upsert
from projeto_de_etl_com_api_do_meta_spark.sources.meta_rest import (
    FakeMetaTransport, MetaRestSource)

spark = get_spark(app_name="codegen-reuse", master="local[2]")
spark.sparkContext.setLogLevel("ERROR")
jvm = spark._jvm
compiled = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
star = sys.argv[1]
os.makedirs(star)

def daily():
    source = MetaRestSource(spark, FakeMetaTransport())
    frames = {
        "ads_dimension": p.run_dimension(source),
        "ads_campaign_performance": p.run_campaign_performance(source),
        "ads_lead_insights": p.run_lead_insights(source),
        "ads_raw_leads": p.run_raw_leads(source),
    }
    for table, df in frames.items():
        parquet_upsert(spark, df, os.path.join(star, table), UPSERT_KEYS[table])

counts = []
for _ in range(3):
    before = compiled.getCount()
    daily()
    counts.append(compiled.getCount() - before)
print(json.dumps({
    "compiled": counts,
    "max_entries": spark.conf.get("spark.sql.codegen.cache.maxEntries"),
}))
"""


def test_daily_run_reuses_generated_code(tmp_path):
    """Build the star schema, then run the daily job twice against it: the
    first merge compiles the merge path's classes, the second must find
    every class of the build and the merge still cached."""
    # PYTHONPATH: the leads scan imports the package in executor workers
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g", "PYTHONPATH": _REPO_ROOT}
    proc = subprocess.run(
        [sys.executable, "-c", _DAILY_RUNS, str(tmp_path / "star")],
        capture_output=True, text=True, timeout=600, env=env, cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    build, first, second = out["compiled"]
    assert build > 0, out  # the counter is live
    assert second <= 10, (
        f"the second daily run compiled {second} classes (build {build}, "
        f"first merge {first}, cache {out['max_entries']} entries): its "
        "working set no longer fits spark.sql.codegen.cache.maxEntries"
    )
