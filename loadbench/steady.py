#!/usr/bin/env python3
"""Steadiness check: run one workload R times, each with another seed, and
report every end-to-end metric against the bounds in BENCHMARK.json.

    python3 loadbench/steady.py --workload search --runs 10 [--first-seed 1]

For each metric it prints the median, the quartiles (as Python's
statistics.quantiles(values, n=4) gives them), the quartile spread and
the min/max spread as shares of the median, and the declared bound; each
run's line also shows the host canary and load average. A
spread is "ok" below a third of the bound, "near" up to the bound, and
"OVER" beyond it. Exits 1 if a run fails or a spread is over its bound.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    args = ap.parse_args()

    values = {m["name"]: [] for m in spec["end_to_end"]}
    for i in range(args.runs):
        seed = args.first_seed + i
        proc = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            print(f"seed {seed}: run failed (exit {proc.returncode})")
            sys.exit(1)
        lines = proc.stdout.strip().splitlines()
        host, result = json.loads(lines[-2]), json.loads(lines[-1])
        row = [f"canary_ms={host['canary_ms_start']:.0f}/{host['canary_ms_end']:.0f}",
               f"load={host['load_avg_start']:.2f}"]
        for name in values:
            values[name].append(result["metrics"][name]["value"])
            row.append(f"{name}={values[name][-1]:.4g}")
        print(f"seed {seed}: " + " ".join(row), flush=True)

    over = False
    print(f"\n{args.workload}: {args.runs} runs")
    print(f"{'metric':<16}{'median':>11}{'q1':>11}{'q3':>11}{'iqr/med':>9}"
          f"{'range/med':>11}{'bound':>7}  verdict")
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        iqr, rng = (q3 - q1) / med, (max(xs) - min(xs)) / med
        if iqr < m["bound"] / 3:
            verdict = "ok"
        elif iqr <= m["bound"]:
            verdict = "near"
        else:
            verdict, over = "OVER", True
        print(f"{m['name']:<16}{med:>11.4g}{q1:>11.4g}{q3:>11.4g}{iqr:>9.3f}"
              f"{rng:>11.3f}{m['bound']:>7}  {verdict}")
    sys.exit(1 if over else 0)


if __name__ == "__main__":
    main()
