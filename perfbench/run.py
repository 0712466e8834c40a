"""bio2spark benchmark: one closed-loop client driving bio2bel_spark.

    python3 perfbench/run.py --workload catalog_query --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, sets the program up
(session start and populate, twice, then a warm-up op of
every class), then runs whole rounds of the workload's op mix until
``--seconds`` have passed, checking every answer.
The last line of stdout is one JSON object; the lines before it are a
human-readable report. ``--trace 1`` runs the same thing with spans and
counters around each layer and reports per-layer metrics instead.
The exit code is non-zero when any answer is wrong or any op failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: session start + populate passes per run; setup_s takes their median
SETUPS = 2

def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full")
    p.add_argument("--corrupt-expected", action="store_true",
                   help="falsify one expected answer (the smoke test's check "
                        "that wrong answers are counted)")
    return p.parse_args(argv)


def import_program():
    """Import bio2bel_spark from this checkout, or exit non-zero."""
    sys.path.insert(0, ROOT)
    try:
        import bio2bel_spark
    except ImportError as e:
        sys.exit(f"perfbench: cannot import bio2bel_spark from {ROOT}: {e}")
    where = os.path.dirname(os.path.abspath(bio2bel_spark.__file__))
    if os.path.dirname(where) != ROOT:
        sys.exit(f"perfbench: bio2bel_spark resolved to {where}, not this checkout")


def probe(args, host, tracer, work, name, results) -> None:
    """Traced runs only: set up every *other* workload at tiny scale and run
    one op of each of its classes, so that every per-layer metric is
    measured on every workload. A layer the workload itself calls is
    reported from the workload's own calls; the probe fills in the rest.
    Wrong probe answers count as failures like any other."""
    import gen
    import workloads
    from harness import Results, run_op

    from bio2bel_spark.operators.caching import release_cached

    scratch = Results()
    for other, cls in workloads.WORKLOADS.items():
        if other == name:
            continue
        sub = os.path.join(work, "probe", other)
        wl = cls(host, tracer, gen.Generator(os.path.join(sub, "inputs"), args.seed, "tiny"), sub)
        tracer.op = f"p-{other}"
        wl.setup("probe")
        for j, op in enumerate(wl.warmup()):
            run_op(op, scratch, tracer, host.spark, f"p-{other}-{j}",
                   lambda: release_cached(host.spark))
    results.failed += scratch.failed
    results.failures += scratch.failures


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    import_program()

    import workloads
    from harness import Results, SparkHost, Tracer, run_op
    from report import end_to_end, per_layer, print_report
    from tracing import install

    if args.workload not in workloads.WORKLOADS:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; "
                 f"choose from {sorted(workloads.WORKLOADS)}")
    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    # keep every scratch file of Python, the JVMs and Spark inside the checkout
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # drop a temp dir cached before this point
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    import gen

    tracer = Tracer(bool(args.trace))
    host = SparkHost(work, len(os.sched_getaffinity(0)), tracer)
    try:
        generator = gen.Generator(os.path.join(work, "inputs"), args.seed, args.scale)
        wl = workloads.WORKLOADS[args.workload](host, tracer, generator, work)
        if args.corrupt_expected:
            wl.corrupt()
        install(tracer)

        from bio2bel_spark.operators.caching import release_cached

        # set-up: session start + populate, SETUPS times (the first
        # launches the JVM), then one warm-up op of every class on the
        # last set-up's state; setup_s = median populate pass + warm-up
        results = Results()
        setup_times = []
        for k in range(SETUPS):
            t0 = time.perf_counter()
            tracer.op = f"setup{k}"
            with tracer.span("setup"):
                host.start(os.path.join(work, "spark-warehouse"))
                wl.setup(f"s{k}")
            setup_times.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        tracer.op = "warmup"
        with tracer.span("setup"):
            for j, op in enumerate(wl.warmup()):
                run_op(op, results, tracer, host.spark, f"warmup{j}",
                       lambda: release_cached(host.spark))
        warmup_time = time.perf_counter() - t0
        warm_failed, warm_failures = results.failed, list(results.failures)

        results = Results()
        t_start = time.perf_counter()
        i = 0
        while True:
            for j, op in enumerate(wl.round(i)):
                run_op(op, results, tracer, host.spark, f"r{i}o{j}",
                       lambda: release_cached(host.spark))
            i += 1
            if time.perf_counter() - t_start >= args.seconds:
                break
        results.rounds = i
        results.wall_s = time.perf_counter() - t_start
        results.failed += warm_failed
        results.failures = warm_failures + results.failures
        if args.trace:
            probe(args, host, tracer, work, wl.name, results)

        storage = host.storage_memory_bytes()
        rss = host.peak_rss_mb()
        stored = wl.stored_bytes()
    finally:
        tracer.unwrap_all()
        host.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass

    context = {"setup_times": setup_times, "warmup_time": warmup_time,
               "rss_mb": rss, "stored_bytes": stored,
               "storage_memory_bytes": storage}
    if args.trace:
        metrics, samples = per_layer(tracer, results, wl)
    else:
        metrics, samples = end_to_end(results, wl, context)
    print_report(args, wl, results, context, metrics, samples)
    correct = results.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": results.attempted,
        "failed": results.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
