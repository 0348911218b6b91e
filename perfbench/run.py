"""plan -> apply -> run benchmark of sqlmesh_spark.

    python3 perfbench/run.py --workload view_dag --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One process, one client, Spark
``local[nproc]``. Set-up (JVM start, seeded inputs, project files and the
untimed warm-up iterations) is reported as ``setup_s``; then the closed
loop of ``loop.py`` repeats deploy -> tick -> noop_tick -> change on
fresh, identical state, starting an iteration only while it should end
within ``--seconds`` (but at least ``MIN_ITERATIONS``). Each op's value is
the lower quartile of its warm samples: noise on a shared host only adds
time, and the JIT is still speeding the loop up, so a low-order statistic
is the steady one; across runs it spread less than the minimum. After
the loop the env views are compared with a DuckDB oracle (``oracle.py``),
outside every timing.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced iterations and prints the per-layer metrics of the
traced ones, their coverage of op wall time and the traced - untraced
overhead, plus Spark job statistics from an uncompressed event log.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. Every sample, the per-iteration
series including warm-up, and host load go to
``.bench_work/results/<workload>-seed<n>-trace<t>.json``. All files are
written under ``.bench_work/`` of the checkout.

Self-test (tiny sizes, every workload, traced and untraced):
``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Untimed warm-up iterations per workload. The first iteration is three to
#: five times slower than later ones (class loading, code generation,
#: interpreted code); the JIT then takes off about 40 % over the next
#: three to four iterations and a few percent per iteration after that,
#: for longer than one run's time budget can wait. A run has about a
#: minute, set-up included, so view_dag warms up until its ops are within
#: about 15 % of their plateau, and pipeline, whose iterations cost twice
#: as much, for two iterations (about 25 % above plateau). Each op reports
#: a low quartile of its samples. The per-iteration series in the result
#: file shows the warm-up. Self-test sizes warm up once.
WARMUP = {"view_dag": 4, "pipeline": 2, "interval_backfill": 1}
#: Measured iterations are at least this many, even past --seconds. On a
#: 4-core host about this many fit in 15 s; as the JIT still speeds later
#: iterations up, a fixed floor keeps a slow spell of the host from also
#: leaving fewer, less warm samples. Self-test sizes measure two.
MIN_ITERATIONS = {"view_dag": 4, "pipeline": 2, "interval_backfill": 2}

LAYER_UNITS = {
    "context.load_s": "s", "plan.plan_s": "s", "plan.promote_s": "s",
    "scheduler.run_s": "s", "scheduler.batches": "count", "scheduler.parallelism": "ratio",
    "scheduler.render_s": "s", "scheduler.audit_s": "s", "macros.render_s": "s",
    "transpile.s": "s", "state.s": "s", "state.calls": "count", "state.bytes_written": "bytes",
    "adapter.ddl_s": "s", "adapter.ddl_calls": "count", "adapter.write_s": "s",
    "adapter.write_calls": "count", "spark.jobs": "count", "spark.task_s": "s",
    "spark.shuffle_bytes": "bytes", "proc.py_cpu_s": "s", "proc.jvm_cpu_s": "s",
}


def lower_quartile(values) -> float:
    values = list(values)
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=4, method="inclusive")[0]


def _sandbox(work: str) -> None:
    """Keep every file the run writes inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile

    tempfile.tempdir = None
    # Every JVM, the launcher's too: no perf-data file, temp files here.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - the JVM did not exit on EOF
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test sizes")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sqlmesh_spark", "__init__.py")):
        print(f"perfbench: no sqlmesh_spark package beside {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _sandbox(work)
    try:
        result, report = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(ROOT, ".bench_work", "results")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    print(f"perfbench: samples in {os.path.relpath(path, ROOT)}", file=sys.stderr)
    print(json.dumps(result))
    return 0


def run(args, work: str) -> tuple[dict, dict]:
    import hoststat
    import workloads
    from loop import OPS, Loop
    from spans import Tracer, spark_event_conf, spark_job_metrics

    from sqlmesh_spark.session import build_session

    # Lint findings are logged per model on every plan; keep stderr readable.
    # The linter still runs.
    logging.getLogger("sqlmesh_spark.plan").setLevel(logging.ERROR)
    cpus = hoststat.nproc()
    event_dir = os.path.join(work, "eventlog")
    conf = {"spark.ui.showConsoleProgress": "false"}
    if args.trace:
        os.makedirs(event_dir)
        conf.update(spark_event_conf(event_dir))
    phases = {}
    t = time.perf_counter()
    spark = build_session(app_name="perfbench", cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    phases["session_s"] = time.perf_counter() - t
    try:
        t = time.perf_counter()
        wl = workloads.build(args.workload, args.seed, tiny=args.tiny)
        loop = Loop(spark, wl, work, jvm_pid)
        loop.write_inputs()
        phases["inputs_s"] = time.perf_counter() - t
        warmup = 1 if args.tiny else WARMUP[args.workload]
        min_iterations = 2 if args.tiny else MIN_ITERATIONS[args.workload]
        for _ in range(warmup):
            t = time.perf_counter()
            loop.iteration()
            warmup_iteration_s = time.perf_counter() - t
        setup_s = hoststat.proc_age_s()
        warm = len(loop.samples)

        tracer = Tracer() if args.trace else None
        ticks0 = hoststat.cpu_ticks()
        t0 = time.perf_counter()
        n, last = 0, warmup_iteration_s
        # Start an iteration only if it should end within --seconds.
        while n < min_iterations or time.perf_counter() - t0 + last <= args.seconds:
            t = time.perf_counter()
            # In a traced run every second iteration is traced, so traced and
            # untraced samples share the same host conditions.
            loop.iteration(tracer=tracer if n % 2 else None)
            last = time.perf_counter() - t
            n += 1
        measure_s = time.perf_counter() - t0
        steal = hoststat.steal_share(ticks0, hoststat.cpu_ticks())
        rss = hoststat.peak_rss_mb() + hoststat.peak_rss_mb(jvm_pid)
        t = time.perf_counter()
        loop.check_oracle()
        phases["oracle_s"] = time.perf_counter() - t
    finally:
        _stop(spark)

    measured = loop.samples[warm:]
    by_op = {op: [s for s in measured if s.op == op and not s.traced] for op in OPS}
    metrics: dict[str, dict] = {}
    if not args.trace:
        metrics["setup_s"] = {"value": setup_s, "unit": "s"}
        for op in OPS:
            metrics[f"{op}_s"] = {"value": lower_quartile(s.seconds for s in by_op[op]), "unit": "s"}
    else:
        traced = {op: [s for s in measured if s.op == op and s.traced] for op in OPS}
        windows = [s.epoch for op in OPS for s in traced[op]]
        jobs = iter(spark_job_metrics(event_dir, windows))
        for op in OPS:
            for s in traced[op]:
                s.layers.update(next(jobs))
                s.layers["proc.py_cpu_s"] = s.py_cpu_s
                s.layers["proc.jvm_cpu_s"] = s.jvm_cpu_s
            for name, unit in {**LAYER_UNITS, "trace.coverage": "ratio"}.items():
                value = statistics.median(s.layers[name] for s in traced[op])
                metrics[f"{op}.{name}"] = {"value": value, "unit": unit}
            overhead = lower_quartile(s.seconds for s in traced[op]) - lower_quartile(
                s.seconds for s in by_op[op]
            )
            metrics[f"{op}.trace.overhead_s"] = {"value": overhead, "unit": "s"}
        metrics["run.peak_rss_mb"] = {"value": rss, "unit": "MB"}
        metrics["host.steal_share"] = {"value": steal, "unit": "ratio"}

    result = {
        "correct": not loop.problems and loop.failed == 0,
        "attempted": len(OPS) * loop.iterations,
        "failed": loop.failed,
        "metrics": metrics,
    }
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "tiny": args.tiny, "nproc": cpus,
        "warmup_iterations": warmup, "measured_iterations": n,
        "measure_s": measure_s, "setup_s": setup_s, "setup_phases": phases,
        "untimed_per_iteration": loop.overhead, "host_steal_share": steal,
        "problems": loop.problems,
        "summary": {
            op: {
                "n": len(by_op[op]),
                "min": min(s.seconds for s in by_op[op]),
                "lower_quartile": lower_quartile(s.seconds for s in by_op[op]),
                "median": statistics.median(s.seconds for s in by_op[op]),
            }
            for op in OPS
        },
        "samples": [
            {**{k: v for k, v in vars(s).items() if k != "layers"}, "warmup": i < warm, "layers": s.layers}
            for i, s in enumerate(loop.samples)
        ],
        "result": result,
    }
    return result, report


if __name__ == "__main__":
    sys.exit(main())
