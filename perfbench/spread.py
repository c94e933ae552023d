#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, as the acceptance check
computes it: for each metric, the distance between the first and third
quartile of its values over several seeds, as a share of their median.

    python3 perfbench/spread.py --workloads ingest_mix --seeds 1 2 3 4 5

Reads the command, run length and bounds from BENCHMARK.json; prints one
line per workload and metric and writes every raw result to --out.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", nargs="+", type=int, default=list(range(1, 11)))
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out", default=os.path.join(ROOT, ".bench_build", "spread.jsonl"))
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "a") as log:
        for w in args.workloads:
            values = {}
            for seed in args.seeds:
                cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                          "--seconds", str(bench["run_seconds"]), "--trace", args.trace]
                p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
                last = p.stdout.strip().split("\n")[-1] if p.stdout.strip() else ""
                if p.returncode != 0 or not last.startswith("{"):
                    print(f"{w} seed {seed}: FAILED (exit {p.returncode})\n{p.stderr[-2000:]}", file=sys.stderr)
                    continue
                r = json.loads(last)
                log.write(json.dumps({"workload": w, "seed": seed, "result": r}) + "\n")
                log.flush()
                print(f"{w} seed {seed}: correct={r['correct']} " + " ".join(
                    f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
                for k, v in r["metrics"].items():
                    values.setdefault(k, []).append(v["value"])
            for k, vs in values.items():
                if len(vs) < 2:
                    continue
                q1, med, q3 = statistics.quantiles(vs, n=4)
                spread = (q3 - q1) / med if med else float("inf")
                b = bounds.get(k)
                flag = "" if b is None else (" ok" if spread < b / 3 else (" WITHIN" if spread < b else " OVER"))
                print(f"SPREAD {w} {k}: median={med:.5g} iqr/median={spread:.4f} bound={b}{flag}", flush=True)


if __name__ == "__main__":
    main()
