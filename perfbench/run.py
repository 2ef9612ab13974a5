"""Run one workload of the benchmark and print its metrics.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the repository; the program is
imported from there. With ``--trace 0`` the last line of standard output
is a JSON object holding every end-to-end metric declared in
``BENCHMARK.json``; with ``--trace 1`` it holds every per-layer metric,
and the spans are written to ``.bench_out/``. The lines before it print
each metric with its unit and sample count. All scratch files live under
``.bench_work/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=("serve_read", "serve_mixed"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def declared_metrics(trace: bool) -> dict[str, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import morphik_core_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    declared = declared_metrics(bool(args.trace))

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # keep every file Spark, the JVM and the Python workers write inside
    # the checkout, and fix the settings that change what is measured
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    from perfbench import workloads as W

    try:
        bench = W.Bench(work, args.seed, args.seconds, bool(args.trace))
        try:
            out = W.WORKLOADS[args.workload](bench)
            if args.trace:
                W.kernel_layers(bench, out)
        finally:
            rss = bench.close()
            bench.log("session stopped")
        if args.trace:
            values = {k: (v, None) for k, v in W.traced_layers(bench, out).items()}
            os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
            bench.tracer.dump(os.path.join(ROOT, ".bench_out", f"trace-{args.workload}-{args.seed}.json"))
        else:
            values = W.end_to_end(bench, out, rss)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if set(values) != set(declared):
        print(
            "perfbench: measured metrics differ from BENCHMARK.json: "
            f"undeclared {sorted(set(values) - set(declared))}, missing {sorted(set(declared) - set(values))}",
            file=sys.stderr,
        )
        return 3
    for failure in bench.failures:
        print(f"perfbench: {failure}", file=sys.stderr)
    attempted = len(bench.ops)
    failed = sum(1 for r in bench.ops if not r.ok)
    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print(f"# attempted={attempted} failed={failed} error_rate={failed / max(1, attempted):.4f}")
    for name in sorted(values):
        v, n = values[name]
        print(f"{name:48s} {v:14.4f} {declared[name]['unit']:8s}" + (f" n={n}" if n is not None else ""))
    result = {
        "correct": failed == 0 and not bench.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k][0]), "unit": declared[k]["unit"]} for k in sorted(values)},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
