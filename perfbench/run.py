"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve_hot --seed 1 --seconds 10 --trace 0

Run from the repository root.  ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` wraps the layer boundaries and reports the
per-layer metrics instead, and writes the spans to
``.perfbench_out/spans-<workload>-<seed>.jsonl``.  Every metric is
printed by name with its unit, and the last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
See perfbench/README.md for the workloads and the metrics.
"""

import time

T_PROCESS = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # import from the repository root, never shadow the standard library
    # with this directory's module names
    if sys.path and os.path.abspath(sys.path[0]) == os.path.dirname(os.path.abspath(__file__)):
        sys.path[0] = ROOT
    else:
        sys.path.insert(0, ROOT)
    try:
        import search_engine_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.stats import tail_percentile
    from perfbench.workload import WORKLOADS, Run, host_cpu_ticks, peak_rss_mb

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Spark's python workers import the engine too; keep every temp
    # file of Spark, the JVM and Python inside the work directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    steal0, total0 = host_cpu_ticks()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work, T_PROCESS)
    try:
        metrics = run.execute()
    finally:
        if getattr(run, "spark", None) is not None:
            run.stop_spark()
        if args.trace:
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            run.rec.write(os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl"))
        run.cleanup()

    ledger = run.ledger
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    n = len(run.steady_passes[0])
    print(f"steady loop: {len(run.steady_passes)} x {n} requests, the highest percentile "
          f"with ten beyond is p{tail_percentile(n):.2f}; "
          f"{len(run.latencies)} requests served in all")
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value} {unit}")
    print("phase seconds: " + ", ".join(f"{k} {v:.1f}" for k, v in run.phases.items())
          + f", process {time.perf_counter() - T_PROCESS:.1f}")
    # ru_maxrss is a peak: the oracle is built after the measurement, so
    # its memory shows only in the last figure
    print(f"driver peak RSS MB: after set-up {run.rss_setup_mb:.1f}, "
          f"at the end of the measurement {run.rss_measured_mb:.1f}, "
          f"after the checks {peak_rss_mb():.1f}")
    steal1, total1 = host_cpu_ticks()
    print(f"host: {100.0 * (steal1 - steal0) / max(1, total1 - total0):.1f}% of CPU time "
          f"stolen during the run, load average {os.getloadavg()[0]:.2f}")
    print(f"operations attempted {ledger.attempted}, failed {ledger.n_failed}")
    for shape, n in sorted(ledger.failed.items()):
        print(f"  failed {shape}: {n}")
    for defect, n in sorted(ledger.known.items()):
        print(f"  known defect {defect}: {n}")
    for line in ledger.unknown[:20]:
        print(f"perfbench: unexplained failure {line}", file=sys.stderr)
    result = {
        "correct": not ledger.unknown,
        "attempted": ledger.attempted,
        "failed": ledger.n_failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
