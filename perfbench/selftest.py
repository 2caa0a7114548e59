"""Self-test of the benchmark at the smallest scale.

    python3 perfbench/selftest.py

Runs every workload once on sf0.001-sized tables in both trace modes and
checks that the last line reports every metric ``BENCHMARK.json``
declares for that mode, with its unit and a finite value, and that the
run's checks passed. Then flips one byte of a sink blob in ``tokens_encode``
and checks that the run counts failed checks. Exits non-zero on
the first problem. Takes a few minutes (one Spark session per run).
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload: str, trace: int, flip: bool = False) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    if flip:
        cmd.append("--flip-byte")
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = run(w["name"], trace)
            declared = {m["name"]: m["unit"] for m in spec[key]}
            got = out["metrics"]
            problems = [n for n, unit in declared.items()
                        if n not in got or got[n].get("unit") != unit
                        or not math.isfinite(got[n].get("value", math.nan))]
            problems += [n for n in got if n not in declared]
            if problems or not out["correct"] or out["failed"] or out["attempted"] < 1:
                raise SystemExit(f"{w['name']} trace={trace}: bad metrics {problems} or checks {out}")
            print(f"ok {w['name']} trace={trace}: {len(got)} metrics, {out['attempted']} checks")
    out = run("tokens_encode", 0, flip=True)
    if out["correct"] or out["failed"] < 1:
        raise SystemExit(f"tokens_encode: a flipped sink byte went unnoticed: {out}")
    print(f"ok tokens_encode flipped byte: {out['failed']}/{out['attempted']} checks failed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
