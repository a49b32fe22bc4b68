#!/usr/bin/env python3
"""The benchmark's own smoke check.

    python3 perfbench/smoke.py                 # every workload, tiny inputs
    python3 perfbench/smoke.py --exact-counts  # full inputs, traced twice

Default mode runs ``run.py --tiny`` for every workload of BENCHMARK.json,
untraced and traced, and checks that each result line is well formed, that
every output check passed, and that every named metric printed with the
unit BENCHMARK.json gives it.

``--exact-counts`` makes two traced runs of each workload at one seed and
full size, and checks that the counts later changes may claim repeat
exactly (exec.jobs, exec.stages, exec.tasks, sink.bytes_written,
queries.build_jobs).

Run from the repository root; exits non-zero on the first failure.
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXACT = ("exec.jobs", "exec.stages", "exec.tasks", "sink.bytes_written",
         "queries.build_jobs")


def run(workload: str, seed: int, seconds: int, trace: int, tiny: bool) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if tiny:
        cmd.append("--tiny")
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}")
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        sys.exit(f"{workload}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        sys.exit(f"{workload} trace={trace}: output checks failed\n{p.stderr[-3000:]}")
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--exact-counts", action="store_true")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    for w in (x["name"] for x in spec["workloads"]):
        if args.exact_counts:
            a, b = (run(w, args.seed, spec["run_seconds"], 1, False)["metrics"]
                    for _ in range(2))
            for name in EXACT:
                if a[name]["value"] != b[name]["value"]:
                    sys.exit(f"{w}: {name} {a[name]['value']} != {b[name]['value']}")
            print(f"{w}: " + ", ".join(f"{n}={a[n]['value']:.0f}" for n in EXACT), flush=True)
            continue
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            got = run(w, args.seed, 2, trace, True)["metrics"]
            want = {m["name"]: m["unit"] for m in spec[key]}
            if sorted(got) != sorted(want):
                sys.exit(f"{w} trace={trace}: metrics {sorted(set(got) ^ set(want))} "
                         "missing or extra")
            for name, m in got.items():
                if m["unit"] != want[name] or not isinstance(m["value"], (int, float)):
                    sys.exit(f"{w} trace={trace}: {name} printed as {m}")
            print(f"{w} trace={trace}: {len(got)} metrics ok", flush=True)
    print("smoke ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
