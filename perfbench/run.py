#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload vacancy_backfill --seed 1 --seconds 5 --trace 0

Each workload is a closed loop with one client: one batch job at a time on
``local[nproc]``. A run makes the workload's inputs from ``--seed``, starts
the session, warms up until job times settle (both charged to ``setup_s``),
then runs jobs for ``--seconds`` and reports medians. Every job's output is
checked against ground truth, untimed.

``--trace 0`` prints the end-to-end metrics: setup_s, job_s, rows_per_s and
dedup_recall_pct. ``--trace 1`` runs the same untraced jobs,
then traced jobs with spans around each layer, and prints the per-layer
metrics, including the tracing overhead; the spans are written to
``.perfbench_work/traces/``. The last line of stdout is the result object;
the line before it is a report with every metric the workload defines.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: warm-up: at least the workload's ``min_warm`` jobs, then until two
#: successive jobs are within SETTLE of each other, up to EXTRA_WARM more
SETTLE, EXTRA_WARM = 0.15, 4


def _machine_env(work: str) -> dict:
    """Size the session to this machine and keep every file in ``work``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    mem_gb = mem_kb / 2**20
    heap_gb = max(1, min(4, int(mem_gb // 4)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_gb}g",
        # python workers import the package and the benchmark from here
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
    )
    return {"cpus": cpus, "mem_gb": round(mem_gb, 1), "jvm_heap": f"{heap_gb}g"}


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far: steal is time the
    hypervisor gave this VM's CPUs to others, the main noise on shared
    hosts."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        kb = next(line for line in f if line.startswith("VmHWM")).split()[1]
    return int(kb) / 1024


class Runner:
    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.check_s = 0.0

    def job(self, **kw) -> dict | None:
        """One timed job plus its untimed check; None if either failed."""
        self.attempted += 1
        try:
            timings = self.wl.iterate(**kw)
            t0 = time.perf_counter()
            timings.update(self.wl.check())
            self.check_s += time.perf_counter() - t0
            return timings
        except Exception:  # noqa: BLE001 - a failed job is counted, not fatal
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None

    def warm_up(self) -> float:
        times: list[float] = []
        while len(times) < self.wl.min_warm + EXTRA_WARM:
            r = self.job()
            if r is None:
                break
            times.append(r["job_s"])
            if len(times) >= self.wl.min_warm and abs(times[-1] - times[-2]) <= SETTLE * times[-2]:
                break
        print(f"[perfbench] warm-up jobs: {[round(t, 3) for t in times]}", file=sys.stderr)
        return sum(times)

    def measure(self, seconds: float, **kw) -> list[dict]:
        results: list[dict] = []
        t_end = time.perf_counter() + seconds
        while not results or time.perf_counter() < t_end:
            r = self.job(**kw)
            if r is None:
                break
            results.append(r)
        print(
            f"[perfbench] jobs: {[round(r['job_s'], 3) for r in results]}",
            file=sys.stderr,
        )
        return results


def _preflight() -> str | None:
    sys.path.insert(0, ROOT)
    try:
        import bench_scale  # noqa: F401
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401
        import vacancy_gpt_etl_pipeline_spark  # noqa: F401
    except ImportError as exc:
        return f"cannot import the program or its dependencies: {exc}"
    return None


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    err = _preflight()
    if err:
        print(f"[perfbench] {err}", file=sys.stderr)
        return 2
    from perfbench import metrics
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"[perfbench] unknown workload {args.workload!r}: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", "runs", f"{args.workload}-s{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    machine = _machine_env(work)

    wl = WORKLOADS[args.workload](work, args.seed)
    t0 = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t0

    from pyspark import SparkContext
    from vacancy_gpt_etl_pipeline_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark(app_name=f"perfbench-{args.workload}")
    get_spark_s = time.perf_counter() - t0
    gateway = SparkContext._gateway
    machine.update(
        java=spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        spark=spark.version,
        python=sys.version.split()[0],
    )
    runner = Runner(wl)
    ticks0 = _cpu_ticks()
    try:
        wl.start(spark)
        warm_s = runner.warm_up()
        ctx = metrics.RunContext(
            workload=args.workload,
            seed=args.seed,
            machine=machine,
            get_spark_s=get_spark_s,
            setup_s=get_spark_s + warm_s,
            input_units=wl.input_units,
            truth=wl.truth,
        )
        if args.trace:
            result = metrics.traced_run(spark, wl, runner, args.seconds, ctx)
        else:
            result = metrics.untraced_run(spark, wl, runner, args.seconds, ctx)
        result["peak_rss_mb"] = _jvm_peak_rss_mb(spark)
        ticks1 = _cpu_ticks()
    finally:
        t0 = time.perf_counter()
        wl.stop()
        spark.stop()
        gateway.shutdown()
        if gateway.proc is not None:
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=120)
        stop_s = time.perf_counter() - t0
    shutil.rmtree(work, ignore_errors=True)

    report, contract = metrics.render(result, ctx, trace=bool(args.trace))
    report["attempted"], report["failed"] = runner.attempted, runner.failed
    report["steal_pct"] = 100.0 * (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    report["phases_s"] = {
        "generate": gen_s,
        "get_spark": get_spark_s,
        "warm_up": warm_s,
        "checks": runner.check_s,
        "stop": stop_s,
        "total": time.perf_counter() - T_START,
    }
    print(json.dumps(report, ensure_ascii=False))
    print(
        json.dumps(
            {
                "correct": runner.failed == 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": contract,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
