#!/usr/bin/env python3
"""The engine's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads and metrics are declared in
``BENCHMARK.json``; their contents are fixed in ``perfbench/workloads.py``.
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; the line before it is a
summary (fail_frac, probe_s, serving tail latency). The full record of the
run goes to ``.perfbench_results/<workload>-seed<N>-trace<T>.json``.

Each run gets a fresh directory under ``.perfbench_runs/`` (inputs, TMPDIR,
Spark scratch, warehouse), removed when the run ends. The measured program
runs in its own process group; every process left in it is killed and
reaped before this script exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "public_projet_data_engineering_tarification_electrique_spark"
#: the measured program is killed after this long (the run limit is 180 s)
TIMEOUT_S = 170
#: the driver-side JVM heap; the inputs are a few MB
DRIVER_MEMORY = "2g"


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False


def _reap_group(pgid: int) -> None:
    """Kill whatever is left of the process group and wait until it is gone."""
    if _group_alive(pgid):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
    deadline = time.monotonic() + 10
    while _group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    with open(spec) as fh:
        names = [w["name"] for w in json.load(fh)["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; one of {names}",
              file=sys.stderr)
        return 2

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{tag}-{os.getpid()}")
    results = os.path.join(ROOT, ".perfbench_results")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(results, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        SPARK_GRAFT_CPUS=cpus,
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_GRAFT_STREAM_SLICES="4",
        PYSPARK_PYTHON=sys.executable,
        PYTHONHASHSEED="0",
        # no hsperfdata files in the system temp directory
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
        PYTHONPATH=ROOT,
    )
    env.pop("OMP_NUM_THREADS", None)
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--spec", spec, "--artifact", os.path.join(results, f"{tag}.json"),
    ]
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    # a terminated benchmark still reaps the run's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        _reap_group(proc.pid)
        proc.wait()
        print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        _reap_group(proc.pid)
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        print(f"perfbench: run failed (exit {proc.returncode})", file=sys.stderr)
        return proc.returncode or 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
