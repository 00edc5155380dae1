"""One benchmark run, in a fresh process: start the session, warm up,
run timed passes over a workload's operations, check every output and
write the run's figures as JSON.

Started by ``perfbench/run.py``; not meant to be run by hand.
"""

from __future__ import annotations

import json
import os
import resource
import statistics
import sys
import time

from perfbench import workloads
from perfbench.trace import STAGE_FIELDS, Recorder, settle_heaps

ACTION_SPANS = ("operators.action", "sources.push")


def peak_rss_mb(spark) -> float:
    """Driver JVM high-water RSS plus this Python process's, in MB. The
    JVM's part mostly follows how far the collector has grown the heap."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


def live_mem_mb(spark) -> tuple[float, float]:
    """Driver JVM heap in use once nothing more can be collected, and this
    Python process's high-water RSS, in MB: memory the program holds on to
    (cached blocks, broadcasts, plans, results), not the heap the
    collector happened to grow to."""
    heap = settle_heaps(spark)
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return heap, py_kb / 1024


def job_floor_s(spark, rec: Recorder) -> float:
    """Per-job time of a fixed trivial probe whose plan never changes:
    it moves with host contention, not with the program under test."""
    cores = spark.sparkContext.defaultParallelism
    samples = []
    for _ in range(5):
        with rec.span("host.floor_probe", spark_work=True) as s:
            spark.range(0, 4096, 1, cores).selectExpr("sum(id)").collect()
        samples.append(s["dur_s"] / max(1, s["jobs"]))
    return statistics.median(samples)


def run_pass(ops, rec: Recorder, index: int, trace: bool,
             results: list) -> list:
    """One timed pass. Returns its output checks, to be run after it: they
    are not timed, and the memory they use is not the program's."""
    checks = []
    for name, fn in ops:
        row = {"op": name, "pass": index, "problem": None}
        with rec.span("op", op=name, index=index) as s:
            try:
                checks.append((row, fn(rec)))
            except Exception as exc:  # counted as failed, run goes on
                row["problem"] = f"{type(exc).__name__}: {exc}"[:400]
        row["latency_s"] = s["dur_s"]
        if trace:
            row["cached_rdds_after"] = s["cached_rdds_after"] = (
                rec.persistent_rdds())
        results.append(row)
    return checks


def run_checks(checks) -> None:
    for row, verify in checks:
        try:
            row["problem"] = verify()
        except Exception as exc:
            row["problem"] = f"check: {type(exc).__name__}: {exc}"[:400]


def layer_metrics(rec: Recorder, inputs, passes, wall_s, floor_s, cores):
    timed = [s for s in rec.spans if s.get("timed") and "jobs" in s]

    def total(names, field="dur_s"):
        return sum(s.get(field, 0) for s in timed if s["name"] in names) / passes

    jobs_all = sum(s["jobs"] for s in timed) / passes
    work = {f: sum(s[f] for s in timed) / passes for f in STAGE_FIELDS}
    bytes_written = total(("sources.push",), "bytes_written")
    run_s = work["executor_run_ms"] / 1000
    action_s = total(ACTION_SPANS)
    action_run_s = total(ACTION_SPANS, "executor_run_ms") / 1000
    first_pass_ops = [s for s in rec.spans if s["name"] == "op"
                      and s["index"] == 0]
    return {
        "sources.pull_s": (total(("sources.pull",)), "s"),
        "sources.push_s": (total(("sources.push",)), "s"),
        "sources.bytes_written": (bytes_written, "bytes"),
        "sources.files_written": (total(("sources.push",), "files_written"),
                                  "count"),
        "sources.write_amp": (bytes_written / inputs["input_bytes"], "ratio"),
        "functions.typedetect_s": (total(("functions.typedetect",)), "s"),
        "functions.typedetect_jobs": (
            total(("functions.typedetect",), "jobs"), "count"),
        "plans.build_s": (total(("plans.build",)), "s"),
        "plans.build_jobs": (total(("plans.build",), "jobs"), "count"),
        "operators.action_s": (action_s, "s"),
        "operators.jobs": (total(ACTION_SPANS, "jobs"), "count"),
        "operators.stages": (sum(s["stages"] for s in timed) / passes, "count"),
        "operators.tasks": (sum(s["tasks"] for s in timed) / passes, "count"),
        "operators.floor_share": (jobs_all * floor_s / wall_s, "ratio"),
        "operators.executor_run_s": (run_s, "s"),
        "operators.executor_cpu_s": (work["executor_cpu_ns"] / 1e9, "s"),
        "operators.core_busy_share": (action_run_s / (action_s * cores),
                                      "ratio"),
        "operators.shuffle_write_bytes": (work["shuffle_write_bytes"], "bytes"),
        "operators.shuffle_read_bytes": (work["shuffle_read_bytes"], "bytes"),
        "operators.spill_bytes": (
            work["memory_spill_bytes"] + work["disk_spill_bytes"], "bytes"),
        "operators.cached_rdds_after": (
            first_pass_ops[-1]["cached_rdds_after"], "count"),
        "host.job_floor_s": (floor_s, "s"),
    }


def main() -> None:
    args = json.loads(sys.argv[1])
    inputs, trace = args["inputs"], args["trace"]
    from pybabe_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=args["spark_conf"])
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    session_start_s = time.perf_counter() - t0
    setup_s = time.time() - args["spawned_at"]

    sc = spark.sparkContext
    cores = sc.defaultParallelism
    env = {"cpus": int(os.environ["SPARK_GRAFT_CPUS"]), "master": sc.master,
           "defaultParallelism": cores}

    t_warm = time.perf_counter()
    warm = Recorder(spark, trace=False)
    warm_ops = {}
    for name, fn in workloads.operations(spark.newSession(), inputs["warm"]):
        t = time.perf_counter()
        try:
            fn(warm)
        except Exception:  # the timed passes count and report it
            pass
        warm_ops[name] = time.perf_counter() - t
    warm_s = time.perf_counter() - t_warm

    rec = Recorder(spark, trace)
    floor_s = job_floor_s(spark, rec) if trace else None
    n_before = len(rec.spans)
    results: list[dict] = []
    pass_walls: list[float] = []
    measured = 0.0
    while measured < args["seconds"] or not pass_walls:
        n = len(results)
        # a fresh session per pass: session memos start empty, so every
        # pass fills and reuses them alike
        ops = workloads.operations(spark.newSession(), inputs)
        checks = run_pass(ops, rec, len(pass_walls), trace, results)
        pass_walls.append(sum(r["latency_s"] for r in results[n:]))
        measured += pass_walls[-1]
        if len(pass_walls) == 1:
            # untimed, after the first pass only: a later reading would
            # also hold the status store's entries of the extra passes
            live_mem = live_mem_mb(spark)
        run_checks(checks)  # before the next pass overwrites the outputs
    for s in rec.spans[n_before:]:
        s["timed"] = True

    lat = [r["latency_s"] for r in results]
    failed = [r for r in results if r["problem"]]
    wall_s = statistics.median(pass_walls)
    out = {
        "env": env,
        "attempted": len(results),
        "failed": len(failed),
        "failures": [{"op": r["op"], "pass": r["pass"], "problem": r["problem"]}
                     for r in failed],
        "passes": len(pass_walls),
        "live_mem_mb_parts": live_mem,
        "per_op": results,
        "warm_ops_s": warm_ops,
        "phases_s": {"setup": setup_s, "warm": warm_s,
                     "timed": time.perf_counter() - t_warm - warm_s},
        "end_to_end": {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall_s, "s"),
            "rows_per_s": (inputs["input_rows"] / wall_s, "rows/s"),
            "op_p50_s": (statistics.median(lat), "s"),
            "live_mem_mb": (sum(live_mem), "MB"),
        },
    }
    if trace:
        layers = layer_metrics(rec, inputs, len(pass_walls), wall_s, floor_s,
                               cores)
        layers["session.start_s"] = (session_start_s, "s")
        layers["host.peak_rss_mb"] = (peak_rss_mb(spark), "MB")
        layers["trace.overhead_share"] = (rec.overhead_s / measured, "ratio")
        out["per_layer"] = layers
        rec.write(args["trace_path"], env=env, per_op=results,
                  warm_ops_s=warm_ops)
    spark.stop()
    with open(args["result_path"], "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
