#!/usr/bin/env python3
"""Runs one workload with several seeds and reports, per metric, the
median and the spread (quartile distance over the median) against the
bound in BENCHMARK.json — the steadiness check a benchmark run set must
pass. Every printed result line is appended to `<out>`.

    python3 perfbench/spread.py --workload ingest_drain --seeds 1-10 --out perfbench/results/x.jsonl
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    spec = stats.load_spec(os.path.join(ROOT, "BENCHMARK.json"))
    lines = []
    for seed in seeds(args.seeds):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                            "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                            "--trace", str(args.trace)],
                           cwd=ROOT, stdout=subprocess.PIPE, text=True)
        last = r.stdout.strip().splitlines()[-1] if r.returncode == 0 and r.stdout.strip() else None
        if last is None:
            print(f"seed {seed}: exit {r.returncode}, no result", flush=True)
            continue
        res = json.loads(last)
        res.update(workload=args.workload, seed=seed, trace=args.trace)
        lines.append(res)
        with open(args.out, "a") as f:
            f.write(json.dumps(res) + "\n")
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}/{res['attempted']} "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
    if len(lines) < 2 or args.trace:
        return
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in lines]
        sp = stats.spread(vals)
        print(f"{m['name']:>16}: median {statistics.median(vals):.4g} {m['unit']}, spread {sp:.3f} "
              f"(bound {m['bound']}, a third {m['bound'] / 3:.3f})")


if __name__ == "__main__":
    main()
