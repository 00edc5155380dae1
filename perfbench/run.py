"""Benchmark of pybabe_spark: one command per run of one workload.

    python3 perfbench/run.py --workload {etl_csv,dedup_scale}
        --seed N --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from ``--seed`` under
``.perfbench_data/`` in that root (base tables once, per-seed inputs and
DuckDB expected results cached beside them); see ``workloads.py`` for the
workloads, their inputs and what the seed changes.

Each run starts a fresh worker process (``perfbench/worker.py``) with the
root on ``PYTHONPATH``, ``SPARK_GRAFT_CPUS`` set to the usable cores and
the driver heap capped at 2 GB, waits for it and everything it started,
prints every figure with its unit, and ends with one JSON line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the per-layer ones, the spans are written to
``.perfbench_data/traces/`` and the tracing overhead is stated. Exits
non-zero without a result line when the program is missing or the
worker fails.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKER_TIMEOUT_S = 160
#: cap on the driver heap; the JVM grows the heap up to it as needed
DRIVER_MEM = "2g"


def _usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _wait_group(pgid: int, seconds: float) -> None:
    deadline = time.monotonic() + seconds
    while _group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.1)


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop the worker and everything it started (its process group: the
    JVM and the Python workers), and wait until all of them have ended."""
    if proc.poll() is None:
        proc.kill()
    proc.wait()
    _wait_group(proc.pid, 3)  # the JVM exits by itself once the worker is gone
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not _group_alive(proc.pid):
            return
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        _wait_group(proc.pid, 5)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "pybabe_spark", "__init__.py")):
        print(f"perfbench: no pybabe_spark package under {ROOT}", file=sys.stderr)
        return 2
    data_root = os.path.join(ROOT, ".perfbench_data")
    os.makedirs(data_root, exist_ok=True)
    # runs in one checkout share its data directory: one run at a time
    with open(os.path.join(data_root, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return run(a, data_root)


def run(a, data_root: str) -> int:
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    inputs = workloads.prepare(a.workload, data_root, a.seed)

    tmp = os.path.join(data_root, "tmp")
    local = os.path.join(data_root, "spark-local")
    traces = os.path.join(data_root, "traces")
    for d in (tmp, local):  # leftovers of an earlier, interrupted run
        shutil.rmtree(d, ignore_errors=True)
    for d in (tmp, local, traces):
        os.makedirs(d, exist_ok=True)
    result_path = os.path.join(tmp, f"result-{os.getpid()}.json")
    cores = _usable_cores()
    env = dict(os.environ, PYTHONPATH=ROOT, SPARK_GRAFT_CPUS=str(cores),
               SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM, SPARK_LOCAL_DIRS=local,
               TMPDIR=tmp)
    args = {
        "inputs": inputs, "seconds": a.seconds, "trace": bool(a.trace),
        "result_path": result_path,
        "trace_path": os.path.join(traces, f"{a.workload}-seed{a.seed}.json"),
        "spark_conf": {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(data_root, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp}",
        },
    }
    args["spawned_at"] = time.time()
    proc = subprocess.Popen(
        [sys.executable, "-m", "perfbench.worker", json.dumps(args)],
        cwd=ROOT, env=env, start_new_session=True,
        stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True)
    try:
        _, err = proc.communicate(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        _stop_group(proc)
        print(f"perfbench: worker exceeded {WORKER_TIMEOUT_S}s", file=sys.stderr)
        return 3
    _stop_group(proc)
    if proc.returncode != 0 or not os.path.exists(result_path):
        sys.stderr.write(err[-4000:])
        print(f"perfbench: worker exited {proc.returncode}", file=sys.stderr)
        return 4
    with open(result_path) as f:
        res = json.load(f)
    os.remove(result_path)
    untraced = os.path.join(data_root, f"untraced-{a.workload}.json")
    if not a.trace:
        with open(untraced, "w") as f:
            json.dump({"seed": a.seed, "wall_s": res["end_to_end"]["wall_s"][0]},
                      f)
    elif os.path.exists(untraced):
        with open(untraced) as f:
            res["untraced"] = json.load(f)
    return report(a, res)


def report(a, res) -> int:
    env = res["env"]
    print(f"workload={a.workload} seed={a.seed} cpus={env['cpus']} "
          f"master={env['master']} defaultParallelism={env['defaultParallelism']} "
          f"passes={res['passes']} trace={a.trace}")
    print("  phases: " + ", ".join(f"{k} {v:.1f}s" for k, v in res["phases_s"].items()))
    print("  warm pass: " + ", ".join(f"{k} {v:.2f}s" for k, v in res["warm_ops_s"].items()))
    print("  operations: " + ", ".join(
        f"{r['op']}#{r['pass']} {r['latency_s']:.2f}s" for r in res["per_op"]))
    print("  live_mem_mb after the first pass: JVM heap {:.1f} + Python {:.1f}"
          .format(*res["live_mem_mb_parts"]))
    share = res["failed"] / res["attempted"]
    print(f"  failed_share = {share:.4f} ratio "
          f"({res['failed']} failed of {res['attempted']} attempted)")
    for f in res["failures"]:
        print(f"  FAILED {f['op']} (pass {f['pass']}): {f['problem']}")
    metrics = res["per_layer"] if a.trace else res["end_to_end"]
    for name, (value, unit) in metrics.items():
        print(f"  {name} = {value:.6g} {unit}")
    if a.trace:
        per_op = ", ".join(f"{r['op']}:{r['cached_rdds_after']}"
                           for r in res["per_op"] if r["pass"] == 0)
        print(f"  cached_rdds_after per operation (pass 0): {per_op}")
        traced = res["end_to_end"]["wall_s"][0]
        if "untraced" in res:
            base = res["untraced"]
            print(f"  tracing overhead: wall_s {traced:.4g} s traced vs "
                  f"{base['wall_s']:.4g} s in the last untraced run "
                  f"(seed {base['seed']}): {traced / base['wall_s'] - 1:+.1%}")
        else:
            print("  tracing overhead: no untraced run of this workload yet")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
