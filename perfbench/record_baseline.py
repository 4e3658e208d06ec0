"""Record a baseline: one untraced and one traced run per workload.

    python3 perfbench/record_baseline.py --seed 1 [--out perfbench/baseline.json]

Runs ``perfbench/run.py`` from the checkout root for every workload listed
in ``BENCHMARK.json``, keeps each run's result line, and adds the tracing
overhead: traced ``trace.run_s`` minus untraced
``run_s`` of the same seed.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    result["log"] = lines[:-1]
    return result


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(HERE, "baseline.json"))
    args = ap.parse_args()

    out = {"seed": args.seed, "run_seconds": spec["run_seconds"], "workloads": {}}
    for w in (w["name"] for w in spec["workloads"]):
        plain = _run(w, args.seed, spec["run_seconds"], 0)
        traced = _run(w, args.seed, spec["run_seconds"], 1)
        run_s = plain["metrics"]["run_s"]["value"]
        traced_run_s = traced["metrics"]["trace.run_s"]["value"]
        out["workloads"][w] = {
            "end_to_end": plain,
            "per_layer": traced,
            "tracing_overhead_s": traced_run_s - run_s,
            "tracing_overhead_frac": (traced_run_s - run_s) / run_s,
        }
        print(f"{w}: run_s {run_s:.3f} s, traced {traced_run_s:.3f} s", flush=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
