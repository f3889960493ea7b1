"""Workload benchmark for the cfs-engine package.

    python3 perfbench/run.py --workload cfs_daily_etl --seed 1 --seconds 10 --trace 0

Runs one seeded workload (see BENCHMARK.json and perfbench/README.md)
on ``local[nproc]`` from this process with one closed-loop client,
checks the engine's outputs, prints a human-readable summary and, as
the last line of stdout, one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` all jobs but the
second are traced, a workload with a serve phase runs it once, and the
metrics are the per-layer ones, including the tracing overhead.

Generated inputs and job outputs live in a scratch directory under
``.perfbench_tmp/`` in the checkout, which is also the process's
working directory; it is removed on exit. A traced run leaves its spans
in ``.perfbench_tmp/spans-<workload>-seed<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "cincinnati_police_calls_for_service_etl_using_python_dask_spark"
SETUP_REPS = 3
MIN_JOBS = 2  # measured jobs per untraced run
MIN_TRACED = 3  # traced jobs per traced run, for real per-layer medians
# past this many seconds since the process started (less the serve
# phase's reserve, in a traced run that serves), a run measures no
# further job once it has one of each kind it needs: the run must end
# well within 180 s on a slow host
RUN_BUDGET_S = 110.0
T_START = time.perf_counter()
END_TO_END = [
    ("setup_s", "s"),
    ("job_s", "s"),
    ("rows_per_s", "rows/s"),
    ("peak_rss_mb", "MB"),
]


def _hwm_mb(pid) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def tail_percentile(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; (max, 100) when there are ten samples or fewer."""
    s = sorted(xs)
    if len(s) <= 10:
        return s[-1], 100.0
    j = len(s) - 11
    return s[j], 100.0 * (j + 1) / len(s)


def _start_spark(scratch: str):
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.session import (
        get_spark,
    )

    cpus = len(os.sched_getaffinity(0))
    jtmp = os.path.join(scratch, "jvm-tmp")
    os.makedirs(jtmp)
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,
        extra_conf={
            "spark.local.dir": os.path.join(scratch, "spark-local"),
            # a fixed young generation: G1's adaptive sizing otherwise
            # swings the JVM's resident set ±15% from run to run
            "spark.driver.extraJavaOptions": f"-Xmn512m -Djava.io.tmpdir={jtmp}",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit: it exits when its
    stdin pipe closes (and its Python workers with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def measure(args, scratch: str) -> tuple[dict, list[str]]:
    t0 = time.perf_counter()
    spark = _start_spark(scratch)
    session_s = time.perf_counter() - t0
    try:
        return _measure(spark, session_s, args, scratch)
    finally:
        _stop_spark(spark)


def _measure(spark, session_s: float, args, scratch: str) -> tuple[dict, list[str]]:
    from perfbench.trace import Tracer
    from perfbench.workloads import LAYER_METRICS, WORKLOADS

    tr = Tracer(spark, capture=bool(args.trace))
    wl = WORKLOADS[args.workload](spark, args.seed, tr)

    # set-up: input generation, repeated into fresh directories; the
    # last one is used
    setups = []
    for r in range(SETUP_REPS):
        work = os.path.join(scratch, f"setup{r}")
        os.makedirs(work)
        t = time.perf_counter()
        wl.setup(work)
        setups.append(time.perf_counter() - t)
        if r:
            shutil.rmtree(os.path.join(scratch, f"setup{r - 1}"))

    # warm-up: one job on part of the input pays the cold JVM's compile
    # costs at a fraction of a cold full job. In an untraced run one full
    # job then settles the JIT (without it the first measured job runs
    # 20-40% slower); in a traced run the first job's prefixes do.
    t = time.perf_counter()
    wl.op(0, warmup=True)
    if not args.trace:
        wl.op(1)
    warmup_s = time.perf_counter() - t

    jobs: list[float] = []
    traced_jobs: list[float] = []
    attempted = failed = 0
    errors: list[str] = []
    budget = RUN_BUDGET_S - (wl.SERVE_RESERVE_S if args.trace else 0.0)
    start = time.perf_counter()
    while True:
        if args.trace:
            # the second job runs untraced, for the tracing overhead;
            # every other job is traced
            need = len(traced_jobs) < MIN_TRACED or not jobs
            have = traced_jobs and jobs
        else:
            need = len(jobs) < MIN_JOBS
            have = jobs
        if not need and time.perf_counter() - start >= args.seconds:
            break
        if have and time.perf_counter() - T_START > budget:
            break
        if attempted >= 2 * MIN_TRACED + 2 and not have:
            break  # every job fails
        traced = bool(args.trace) and attempted != 1
        tr.enabled = traced
        tr.op += 1
        attempted += 1
        try:
            dt = wl.op(1 + attempted)
            (traced_jobs if traced else jobs).append(dt)
        except Exception:
            failed += 1
            errors.append(traceback.format_exc(limit=3))
    wall = time.perf_counter() - start

    # a traced run then runs the workload's serve phase, if any, once
    serve_s = serve_wall = 0.0
    if wl.SERVES and args.trace:
        tr.enabled = True
        tr.op += 1
        attempted += 1
        t = time.perf_counter()
        try:
            serve_s = wl.serve()
        except Exception:
            failed += 1
            errors.append(traceback.format_exc(limit=3))
        serve_wall = time.perf_counter() - t
        tr.enabled = False

    t = time.perf_counter()
    try:
        ok, detail = wl.check()
    except Exception:
        ok, detail = False, traceback.format_exc(limit=3)
    check_s = time.perf_counter() - t
    if not ok:
        failed += 1
    attempted += 1  # the output check counts as one attempt

    if not jobs:
        raise RuntimeError("no measured job completed:\n" + "\n".join(errors[:3]))
    med = statistics.median
    job_s = med(jobs)
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    values = {
        "setup_s": session_s + med(setups),
        "job_s": job_s,
        "rows_per_s": wl.input_rows / job_s,
        "peak_rss_mb": _hwm_mb("self") + _hwm_mb(jvm_pid),
    }
    lines = [
        f"workload {args.workload} seed {args.seed}: {attempted} attempted, "
        f"{failed} failed, check {'ok' if ok else 'FAILED'}: {detail}",
        f"setup: session {session_s:.3f} s, generation reps "
        + ", ".join(f"{s:.3f}" for s in setups) + " s",
        f"phases: warm-up {warmup_s:.1f} s, measured {wall:.1f} s, "
        + (f"serve {serve_wall:.1f} s (change batch and reads {serve_s:.1f} s), "
           if serve_wall else "")
        + f"check {check_s:.1f} s",
        f"input: {wl.input_rows} {wl.rows_name}, {wl.input_bytes} parquet bytes per job",
        f"failed_ratio {failed / attempted:.4f} ratio",
    ]
    tail, pct = tail_percentile(jobs)
    lines.append(
        f"job: n={len(jobs)} p50 {job_s:.3f} s, p{pct:.0f} {tail:.3f} s "
        f"(in order: {', '.join(f'{x:.3f}' for x in jobs)})"
    )
    lines += [e.rstrip() for e in errors[:3]]

    if not args.trace:
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
    else:
        layer, blocking = wl.layer_metrics()
        # session counters per traced job, over its non-prefix spans
        per_job: dict[int, dict[str, int]] = {}
        for s in tr.spans:
            if not s.name.startswith("prefix:"):
                acc = per_job.setdefault(s.op, {"jobs": 0, "tasks": 0, "gc_ms": 0})
                for k in acc:
                    acc[k] += s.counts.get(k, 0)
        accs = list(per_job.values()) or [{"jobs": 0, "tasks": 0, "gc_ms": 0}]
        trace_job_s = med(traced_jobs) if traced_jobs else 0.0
        layer.update({
            "session.jobs_per_op": med([a["jobs"] for a in accs]),
            "session.tasks_per_op": med([a["tasks"] for a in accs]),
            "session.gc_s": med([a["gc_ms"] for a in accs]) / 1e3,
            "trace.job_s": trace_job_s,
            "trace.overhead_s": trace_job_s - job_s if traced_jobs else 0.0,
            "trace.self_coverage": blocking / trace_job_s if trace_job_s else 0.0,
        })
        metrics = {
            n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u in LAYER_METRICS
        }
        spans = os.path.join(
            os.path.dirname(scratch), f"spans-{args.workload}-seed{args.seed}.jsonl"
        )
        tr.dump(spans)
        lines.append(
            f"traced jobs: n={len(traced_jobs)} "
            f"({', '.join(f'{x:.3f}' for x in traced_jobs)}); "
            f"spans: {os.path.relpath(spans, ROOT)}"
        )
    lines += [f"{n} {m['value']:.4f} {m['unit']}" for n, m in metrics.items()]
    result = {
        "correct": bool(ok) and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return result, lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_tmp")
    scratch = os.path.join(base, f"{args.workload}-{os.getpid()}")
    os.makedirs(scratch)
    # Python workers must import the package and the benchmark's own
    # modules; every temp file stays inside the scratch directory
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = scratch
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.chdir(scratch)
    try:
        result, lines = measure(args, scratch)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(scratch, ignore_errors=True)
        if os.path.isdir(base) and not os.listdir(base):
            os.rmdir(base)
    for line in lines:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
