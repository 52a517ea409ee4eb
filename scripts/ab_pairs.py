"""Alternating A/B of the benchmark on two checkouts.

    python scripts/ab_pairs.py --base DIR --change DIR --pairs 10 --seed 901 \
        [--workload etl_ticks ...] [--log FILE]

Runs ``perfbench/run.py`` once per side per pair, from each checkout's
root, with the same seed on both sides (seed, seed+1, ... per pair), the
base's ``run_seconds`` from BENCHMARK.json and no trace. The
side that runs first alternates pair by pair, so a drift in host load
falls on both sides alike. Prints, per workload and metric, each side's
median [Q1, Q3], the change's win count and the base's IQR; ``--log``
keeps every run's result line. Reads only the runs' stdout and the
base's BENCHMARK.json (run length, and which way each metric is better).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds),
    ]
    out = subprocess.run(
        cmd, cwd=checkout, capture_output=True, text=True, check=True
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def benchmark_spec(checkout: str) -> tuple[float, dict[str, bool]]:
    """(run_seconds, metric -> lower is better) from BENCHMARK.json."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = spec.get("end_to_end", []) + spec.get("per_layer", [])
    return spec["run_seconds"], {m["name"]: m["better"] == "lower" for m in metrics}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", action="append", help="repeatable; default etl_ticks")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True, help="seed of the first pair")
    ap.add_argument("--log", help="append every run's result line here")
    args = ap.parse_args(argv)
    seconds, lower = benchmark_spec(args.base)
    sides = {"base": args.base, "change": args.change}

    for workload in args.workload or ["etl_ticks"]:
        runs: dict[str, list[dict]] = {"base": [], "change": []}
        for i in range(args.pairs):
            seed = args.seed + i
            for side in ("base", "change") if i % 2 == 0 else ("change", "base"):
                res = run(sides[side], workload, seed, seconds)
                runs[side].append(res)
                if args.log:
                    with open(args.log, "a") as f:
                        line = {"workload": workload, "seed": seed, "side": side, **res}
                        f.write(json.dumps(line) + "\n")
                print(
                    f"# {workload} seed {seed} {side}: "
                    f"failed {res['failed']}/{res['attempted']}",
                    file=sys.stderr,
                )

        last = args.seed + args.pairs - 1
        print(f"{workload}: {args.pairs} pairs, seeds {args.seed}-{last}")
        summarize(runs, lower)
    return 0


def summarize(runs: dict[str, list[dict]], lower: dict[str, bool]) -> None:
    """Print failed ops and per-metric medians, quartiles and wins for the
    result lines of paired runs (``runs["base"][i]`` pairs ``runs["change"][i]``)."""
    for side in ("base", "change"):
        failed = [r["failed"] for r in runs[side]]
        print(f"  {side} failed ops per run: {failed} of {runs[side][0]['attempted']}")
    for metric in runs["base"][0]["metrics"]:
        b = [r["metrics"][metric]["value"] for r in runs["base"]]
        c = [r["metrics"][metric]["value"] for r in runs["change"]]
        low = lower[metric]
        wins = sum((y < x) if low else (y > x) for x, y in zip(b, c))
        bq, cq = quartiles(b), quartiles(c)
        gap = cq[1] - bq[1]
        rel = gap / bq[1] * 100 if bq[1] else float("nan")
        print(
            f"  {metric:<12} base {bq[1]:.3f} [{bq[0]:.3f}, {bq[2]:.3f}]  "
            f"change {cq[1]:.3f} [{cq[0]:.3f}, {cq[2]:.3f}]  "
            f"{rel:+.1f}%  wins {wins}/{len(b)}  "
            f"|gap| {abs(gap):.3f} vs base IQR {bq[2] - bq[0]:.3f}"
        )


if __name__ == "__main__":
    sys.exit(main())
