"""Benchmark entry point.

    python3 perfbench/run.py --workload tokens_encode --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. With ``--trace 0`` it prints the
end-to-end metrics of ``BENCHMARK.json``; with ``--trace 1`` the per-layer
ones. Lines starting with ``#`` report the workload's own named figures;
the last line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Everything it writes goes under ``.perfbench_work/`` in the checkout and is
removed at the end.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", default="bench", help=argparse.SUPPRESS)
    ap.add_argument("--flip-byte", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    from perfbench.spark_env import ALLOCATOR_ENV

    if any(os.environ.get(k) != v for k, v in ALLOCATOR_ENV.items()):
        # glibc reads its allocator settings at start-up: restart under them
        os.execve(sys.executable, [sys.executable, *sys.argv], {**os.environ, **ALLOCATOR_ENV})

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}

    import orc_format_spark  # the program under test: fail before any set-up

    if not os.path.abspath(orc_format_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"orc_format_spark imported from {orc_format_spark.__file__}, not this checkout")

    from perfbench import procstat, spark_env, workloads

    run_workload, needs_spark = workloads.WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark_env.process_env(ROOT, work)
    ctx = workloads.Ctx(
        root=ROOT, work=work, seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
        scale=workloads.SCALES[args.scale], flip_byte=args.flip_byte,
    )
    spark = None
    try:
        if needs_spark:
            spark = spark_env.start_session(work)
        res = run_workload(ctx, spark)
    finally:
        if spark is not None:
            spark_env.stop_session(spark)
        procstat.reap_tree()
        shutil.rmtree(work, ignore_errors=True)

    missing = [n for n in declared if n not in res.metrics]
    if missing:
        raise SystemExit(f"workload {args.workload} did not measure {missing}")
    bad = [n for n, unit in declared.items()
           if not math.isfinite(res.metrics[n][0]) or res.metrics[n][1] != unit]
    if bad:
        raise SystemExit(f"workload {args.workload}: non-finite value or wrong unit for {bad}")
    for name, (value, unit) in res.report.items():
        print(f"# {args.workload} {name} = {value!r} {unit}")
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {n: {"value": res.metrics[n][0], "unit": unit} for n, unit in declared.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
