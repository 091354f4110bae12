"""One benchmark run in a fresh process; started by ``run.py``.

Set-up (session start, imports, input generation, history build, warm
passes) is timed from process start to the first timed op.  The timed
window then runs whole passes of the workload's
fixed op sequence until ``--seconds`` have elapsed (at least the workload's
minimum number of passes); each op's wall and CPU time count at its median
over the passes.  Every output is checked after the window closes.  The
last stdout line is the result JSON.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import statistics
import sys
import time
import traceback

import measure
import tracing
from workloads import WORKLOADS

def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _traced_pass(i: int) -> bool:
    # T U U T T U U T ...: alternating in pairs cancels a linear drift
    # (JIT warm-up) out of the traced-minus-untraced difference
    return i % 4 in (0, 3)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--t0", type=float, required=True,
                    help="wall clock at which the launcher started the run")
    ap.add_argument("--root", required=True, help="scratch dir of this run")
    ap.add_argument("--record", required=True, help="run record JSON path")
    a = ap.parse_args()

    nproc = os.cpu_count() or 1
    master = f"local[{nproc}]"
    tracer = tracing.Tracer()
    if a.trace:
        tracer.instrument()
    tracer.enabled = False  # spans only inside timed ops
    from projeto_de_etl_com_api_do_meta_spark import session

    t = time.time()
    spark = session.get_spark(
        app_name=f"perfbench-{a.workload}", master=master,
        extra_conf={"spark.ui.showConsoleProgress": "false"})
    session_s = time.time() - t
    spark.sparkContext.setLogLevel("ERROR")
    tracer.spark = spark
    if a.trace:
        tracer.listen()
    env = {
        "workload": a.workload, "seed": a.seed, "nproc": nproc,
        "master": master, "spark": spark.version,
        "python": platform.python_version(),
        "java": spark._jvm.System.getProperty("java.version"),
    }
    log(json.dumps(env))

    wl = WORKLOADS[a.workload](spark, a.root, a.seed, tracer)
    t = time.time()
    wl.setup()
    log(f"inputs and history: {time.time() - t:.2f}s")
    for i in range(wl.warm_passes):
        t = time.time()
        for op in wl.warm_pass():
            op.run()
        log(f"warm pass {i}: {time.time() - t:.2f}s")
    # start every timed window from the same heap state on both sides of
    # py4j
    gc.collect()
    spark._jvm.System.gc()
    setup_s = time.time() - a.t0

    # -- timed window ------------------------------------------------------
    done: list = []
    per_op: list[list[tuple[float, float]]] = []  # [position][pass] (wall, cpu)
    passes: list[tuple[bool, float, float]] = []  # (traced, wall, cpu)
    failed = 0
    start = time.time()
    i = 0
    while True:
        ops = wl.timed_pass()
        if ops is None:
            break
        traced = bool(a.trace) and _traced_pass(i)
        tracer.enabled = traced
        wall = cpu = 0.0
        for j, op in enumerate(ops):
            cpu0 = measure.tree_cpu_s()
            with tracer.op(f"{op.name}#{i}", op.layers):
                t = time.perf_counter()
                try:
                    op.result = op.run()
                except Exception:  # noqa: BLE001 - a failed op is counted
                    failed += 1
                    op.check = None
                    log(f"op {op.name} failed:\n{traceback.format_exc()}")
                dt = time.perf_counter() - t
            dc = measure.tree_cpu_s() - cpu0
            wall += dt
            cpu += dc
            if j == len(per_op):
                per_op.append([])
            per_op[j].append((dt, dc))
            done.append(op)
        passes.append((traced, wall, cpu))
        log(f"pass {i}{' traced' if traced else ''}: {wall:.3f}s")
        i += 1
        # a traced run needs a traced and an untraced pass
        need = max(wl.min_passes, 2 if a.trace else 1)
        if time.time() - start >= a.seconds and i >= need:
            break
    tracer.enabled = False

    # -- checks (outside the window) ---------------------------------------
    t = time.time()
    for op in done:
        if op.check is not None and not op.check(op.result):
            failed += 1
    if not wl.finish():
        failed = len(done)
    log(f"checks: {time.time() - t:.2f}s")
    attempted = len(done)

    if a.trace:
        overhead = (statistics.median(p[1] for p in passes if p[0])
                    - statistics.median(p[1] for p in passes if not p[0]))
        metrics = tracer.metrics(session_s, overhead)
        tracer.dump(a.record.replace(".json", "-spans.json"))
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": measure.median_pass(
                [[w for w, _ in runs] for runs in per_op]), "unit": "s"},
            "cpu_s": {"value": measure.median_pass(
                [[c for _, c in runs] for runs in per_op]), "unit": "s"},
        }
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    os.makedirs(os.path.dirname(a.record), exist_ok=True)
    with open(a.record, "w") as fh:
        json.dump({"env": env, "session_s": session_s, "passes": passes,
                   "per_op": per_op, "result": result}, fh, indent=1)
    spark.stop()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
