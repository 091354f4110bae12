"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Each run starts one fresh worker process
(``worker.py``) with the run shape pinned: ``local[nproc]``, one client, and
a fresh ``TMPDIR`` and ``SPARK_LOCAL_DIRS`` under ``.perfbench_run/`` so no
run inherits stream directories, shipped package zips or shuffle files from
the one before.  The launcher stops the worker's whole process group (JVM
and Python workers) and deletes the scratch directory before it exits.  The
last line of its stdout is the worker's result JSON.  Run records (and the
spans of a traced run) are kept under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

from workloads import WORKLOADS

#: the program files the benchmark drives; absent means "not a checkout"
REQUIRED = (
    "projeto_de_etl_com_api_do_meta_spark/session.py",
    "projeto_de_etl_com_api_do_meta_spark/queries/registry.py",
    "tools/scale_probe.py",
    "tools/check_oracle.py",
)
#: the worker's time besides ``--seconds``: set-up, the minimum timed
#: passes and the checks.  The slowest run measured took 86 s in all on
#: 4 vCPU; the margin allows a machine about twice as slow
MARGIN_S = 160
#: the launcher itself has to end within 180 s
MAX_S = 175


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(b")") + 2:].split()
        if int(fields[2]) == pgid and fields[0] != b"Z":
            return True
    return False


def _stop_group(pgid: int) -> None:
    """SIGKILL whatever is left of the worker's process group and wait
    (bounded) until none of it runs."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + 15
    while _group_alive(pgid) and time.time() < deadline:
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t0 = time.time()
    timeout = min(MAX_S, MARGIN_S + a.seconds)

    root = os.getcwd()
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"perfbench: not a checkout of the program (missing {missing[0]})",
              file=sys.stderr)
        return 2

    here = os.path.dirname(os.path.abspath(__file__))
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    scratch = os.path.join(root, ".perfbench_run", f"{tag}-{os.getpid()}")
    record = os.path.join(root, ".perfbench_out", f"{tag}.json")
    for d in ("tmp", "local", "work"):
        os.makedirs(os.path.join(scratch, d))
    env = dict(os.environ)
    env.update(
        TMPDIR=os.path.join(scratch, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(scratch, "local"),
        PYTHONPATH=os.pathsep.join(
            [root, here] + [p for p in [env.get("PYTHONPATH")] if p]),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    cmd = [sys.executable, os.path.join(here, "worker.py"),
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--t0", repr(t0), "--root", os.path.join(scratch, "work"),
           "--record", record]
    proc = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=subprocess.PIPE,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
        code = proc.returncode
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {timeout:.0f}s", file=sys.stderr)
        out, code = b"", 1
    finally:
        _stop_group(proc.pid)
        proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)

    lines = out.decode(errors="replace").splitlines()
    results = [ln for ln in lines if ln.startswith('{"correct"')]
    for ln in lines:
        if ln not in results:
            print(ln, file=sys.stderr)
    if code != 0 or not results:
        print(f"perfbench: worker exited with {code}", file=sys.stderr)
        return code or 1
    print(results[-1], flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
