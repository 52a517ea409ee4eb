"""Self-test: per-op Spark job counts repeat exactly across two traced
runs at one seed. Job counts do not move with host load, so a later
change that alters them shows as a count, not as noise.

    python3 perfbench/selftest.py [--workload NAME ...] [--seed N]

Run from the root of a checkout. Exits 1 if any op's job count differs
between the two runs, or if a run reports incorrect output.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import run


def traced_job_counts(workload: str, seed: int) -> list[tuple[str, int]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=run.ROOT, capture_output=True, text=True, check=True,
    )
    *_, info_line, result_line = proc.stdout.strip().splitlines()
    result, info = json.loads(result_line), json.loads(info_line)["info"]
    if not result["correct"]:
        raise SystemExit(f"{workload}: incorrect output: {info['failures']}")
    with open(os.path.join(run.ROOT, info["trace_file"])) as f:
        ops = json.load(f)["ops"]
    return [(op["op"], op["jobs"]) for op in ops]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", nargs="*", default=sorted(run.WORKLOADS))
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    ok = True
    for workload in args.workload:
        first = traced_job_counts(workload, args.seed)
        second = traced_job_counts(workload, args.seed)
        same = first == second
        ok &= same
        print(f"{workload}: {len(first)} ops, {sum(j for _, j in first)} jobs, "
              f"{'identical' if same else 'DIFFERENT'} across two runs")
        if not same:
            for a, b in zip(first, second):
                if a != b:
                    print(f"  {a} != {b}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
