"""The engine's benchmark: one closed-loop client, one op at a time.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  A run builds its inputs from ``--seed``,
starts the session with the program's own defaults (``local[nproc]``, its
shipped driver memory), warms up, measures passes of ops for at least
``--seconds``, checks every output outside the timed region, and prints one
JSON object as its last stdout line.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json: the CPU
seconds of set-up (session start plus warm-up) and of a pass, the Spark
jobs of a pass, the share of ops that succeeded with correct output, and
the JVM heap left in use after a full GC between ops and after each pass.  ``--trace 1``
runs one traced pass, then the per-layer probes and, for headline, the
medallion pipeline, and reports the per-layer metrics; its spans go to
``.perfbench_out/``.  Tracing overhead is ``client.wall_s`` of a traced
run minus that of an untraced one; ``trace.overhead_s`` is the part the
tracer measured on itself.

The line before the last is the run record: every op's wall and CPU time,
``user_metrics`` (the wall-clock ones, peak RSS and the fail rate, with
units; the tail with its percentile and sample count), the resolved
master, parallelism and driver memory, nproc, CPU steal during the run,
and every failed op with its reason.
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
PACKAGE = "end_to_end_datapipeline_project_spark"
#: a run that has not finished by then is abandoned; runs must end in 180 s
DEADLINE_S = 170

#: end-to-end metrics.  Wall-clock ones and peak RSS are in the run record
#: instead: on a shared 4-core host with CPU steal, their spread between
#: runs was 0.2-0.9 (wall) and 0.10-0.35 (RSS) of the median over three
#: sets of ten runs, against 0.05-0.23 for CPU seconds, and set-up wall
#: medians moved 28-33% between two sets where pass CPU moved 6-9%
E2E_UNITS = {
    "setup_s": "s",
    "cpu_s": "s",
    "spark_jobs": "count",
    "ok_rate": "ratio",
    "live_heap_mb": "MB",
}


def layer_unit(name: str) -> str:
    if name.endswith("rows_per_s"):
        return "1/s"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_amp"):
        return "ratio"
    return "count"


def _environment(work: str) -> None:
    """The tier-1 environment and nothing else: cores from the host,
    scratch space inside the checkout, the checkout on the workers' path.
    Settings that would override the program's own defaults are dropped."""
    for key in ("SPARK_GRAFT_MASTER", "SPARK_DRIVER_MEMORY", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(key, None)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # JVM temp files and perf counters would otherwise land in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TZ"] = "UTC"
    time.tzset()


def _stop(spark) -> None:
    """Stop the session, then end the driver JVM and wait for it: the JVM
    exits when its stdin closes, and its Python workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="perfbench")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")) or not os.path.isfile(
        os.path.join(ROOT, "bench.py")
    ):
        print(f"perfbench: {PACKAGE}/ and bench.py not found under {ROOT}", file=sys.stderr)
        return 2

    sys.path[:0] = [HERE, ROOT]
    from measure import SparkProbe, Tracer, cpu_steal_s, median, tail, thread_cpu_s, vm_hwm_mb
    from workloads import LAYER_KEYS, WORKLOADS, Medallion, cpu_now

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    _environment(work)
    wl = WORKLOADS[args.workload](ROOT, work, args.seed)
    spark = None
    phases = {}  # where the run's own time went, for sizing the workloads
    t_run = time.perf_counter()
    try:
        wl.make_inputs()
        phases["inputs_s"] = time.perf_counter() - t_run
        steal0 = cpu_steal_s()

        t0, c0 = time.perf_counter(), cpu_now()
        from end_to_end_datapipeline_project_spark.session import get_spark

        spark = get_spark("perfbench")
        probe = SparkProbe(spark)
        tracer = Tracer(bool(args.trace), probe)
        wl.bind(spark, probe, tracer)
        wl.warm()
        setup_s, setup_cpu_s = time.perf_counter() - t0, cpu_now() - c0

        ops, walls, cpus, jobs, kinds = [], [], [], [], []
        jvm_pid = probe.jvm_pid()
        m0 = time.perf_counter()
        gc0 = probe.gc_s()
        # traced runs make one pass; untraced ones repeat passes until
        # --seconds have gone by
        while not walls or (not args.trace and time.perf_counter() - m0 < args.seconds):
            c0, j0, k0 = cpu_now(), probe.jobs_so_far(), thread_cpu_s(jvm_pid)
            pass_ops, wall = wl.run_pass(len(walls))
            cpus.append(cpu_now() - c0)
            kinds.append({k: v - k0.get(k, 0.0) for k, v in thread_cpu_s(jvm_pid).items()})
            jobs.append(probe.jobs_so_far() - j0)
            walls.append(wall)
            ops += pass_ops
            probe.full_gc()  # untimed: reads the heap the pass left live
        phases["measure_s"] = time.perf_counter() - m0

        t_check = time.perf_counter()
        problems = wl.check()
        phases["check_s"] = time.perf_counter() - t_check

        good = [o for o in ops if o.ok]
        wall_s, cpu_s = median(walls), median(cpus)
        tl = tail([o.seconds for o in good]) if good else {"value": 0.0}
        tl_cpu = tail([o.cpu_s for o in good]) if good else {"value": 0.0}
        client = {
            "wall_s": wall_s,
            "op_p50_s": median([o.seconds for o in good]) if good else 0.0,
            "op_tail_s": tl["value"],
            "op_cpu_p50_s": median([o.cpu_s for o in good]) if good else 0.0,
            "op_cpu_tail_s": tl_cpu["value"],
            "rows_per_s": wl.input_rows / wall_s if wall_s > 0 else 0.0,
        }
        layer_vals: dict[str, float] = {}
        if args.trace:
            gc_s = probe.gc_s() - gc0
            pass_spans = list(tracer.spans)
            layer_vals = wl.layers()
            layer_vals["spark.jobs"] = sum(s.get("jobs", 0) for s in pass_spans) + layer_vals.pop(
                "_stream_jobs", 0
            )
            layer_vals["jvm.gc_s"] = gc_s
            layer_vals["jvm.jit_cpu_s"] = kinds[0]["jit"]
            layer_vals["spark.task_cpu_s"] = kinds[0]["task"]
            layer_vals["trace.overhead_s"] = tracer.self_s
            layer_vals.update({f"client.{k}": v for k, v in client.items()})
            if args.workload == "headline":  # medallion's layers ride on traced headline runs
                med = Medallion(ROOT, os.path.join(work, "medallion"), args.seed)
                med.make_inputs()
                med.bind(spark, probe, tracer)
                med.warm()
                med_ops, _ = med.run_pass(0)
                ops += med_ops
                problems.update({f"medallion:{k}": v for k, v in med.check().items()})
                layer_vals.update(med.layers())
                wl.info.update(med.info)

        failed_keys = {k: v for k, v in problems.items() if v}
        failed_ops = [
            {"op": o.name, "error": o.error}
            for o in ops
            if not o.ok
            or any(k.rsplit(":", 1)[-1] in (o.name, "clusters") for k in failed_keys)
        ]
        attempted, failed = len(ops), len(failed_ops)
        rss = vm_hwm_mb(probe.jvm_pid()) + vm_hwm_mb(os.getpid())
        sc = spark.sparkContext
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "passes": len(walls),
            "walls_s": walls,
            "cpus_s": cpus,
            "jobs": jobs,
            "jvm_cpu_s": kinds,
            # the measured pass is the first run of each query's code paths,
            # so JIT compilation lands in cpu_s, not in setup_s
            "jit_share": [k["jit"] / c for k, c in zip(kinds, cpus) if c > 0],
            "op_s": {f"{i}:{o.name}": [o.seconds, o.cpu_s] for i, o in enumerate(ops)},
            "tail": tl,
            "tail_cpu": tl_cpu,
            "user_metrics": {
                "setup_wall_s": {"value": setup_s, "unit": "s"},
                "wall_s": {"value": wall_s, "unit": "s"},
                "op_p50_s": {"value": client["op_p50_s"], "unit": "s"},
                "op_tail_s": {"value": tl["value"], "unit": "s"},
                "rows_per_s": {"value": client["rows_per_s"], "unit": "1/s"},
                "fail_rate": {"value": failed / attempted, "unit": "ratio"},
                "peak_rss_mb": {"value": rss, "unit": "MB"},
            },
            "client": client,
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "driver_memory": spark.conf.get("spark.driver.memory", None),
            "nproc": len(os.sched_getaffinity(0)),
            "steal_s": cpu_steal_s() - steal0,
            "inputs": wl.info,
            "check_problems": failed_keys,
            "failed_ops": failed_ops,
            "phases": phases,
        }
        if args.trace:
            metrics = {k: layer_vals.get(k, 0.0) for k in LAYER_KEYS}
            units = {k: layer_unit(k) for k in metrics}
            os.makedirs(out_dir, exist_ok=True)
            with open(f"{out_dir}/trace-{args.workload}-{args.seed}.json", "w") as f:
                json.dump({"run": record, "spans": tracer.spans}, f)
        else:
            metrics = {
                "setup_s": setup_cpu_s,
                "cpu_s": cpu_s,
                "spark_jobs": median(jobs),
                "ok_rate": (attempted - failed) / attempted,
                "live_heap_mb": probe.live_heap_mb,
            }
            units = E2E_UNITS
        close = getattr(wl, "close", None)
        if close:
            close()
    finally:
        if spark is not None:
            _stop(spark)
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
    phases["total_s"] = time.perf_counter() - t_run

    print(json.dumps({"perfbench_run": record}))
    print(
        json.dumps(
            {
                "correct": failed == 0 and not failed_keys,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
