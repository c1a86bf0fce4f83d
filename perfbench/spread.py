"""Run-to-run spread of the end-to-end metrics over several seeds.

Usage: python3 perfbench/spread.py --workload W --seeds 1 2 3 ... [--out FILE]

Runs the benchmark once per seed (sequentially, --trace 0, BENCHMARK.json's
run_seconds) and prints, per metric, the median and the quartile spread
(Q3 - Q1) / median next to the metric's bound. --out appends each run's
result line to FILE as JSON.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from stats import median, quartile_spread  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--out")
    args = ap.parse_args()
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in args.seeds:
        r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", args.workload,
                            "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                            "--trace", "0"], stdout=subprocess.PIPE, text=True)
        if r.returncode != 0:
            sys.exit(f"seed {seed}: exit {r.returncode}")
        result = json.loads(r.stdout.strip().splitlines()[-1])
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": seed, **result}) + "\n")
        print(f"seed {seed}: correct={result['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
        for k, v in result["metrics"].items():
            values[k].append(v["value"])
    if len(args.seeds) < 2:
        return
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        spread = quartile_spread(xs)
        print(f"{m['name']:14s} median={median(xs):.4g} spread={spread:.3f} "
              f"bound={m['bound']} {'ok' if spread <= m['bound'] / 3 else 'WIDE'}")


if __name__ == "__main__":
    main()
