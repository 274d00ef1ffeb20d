#!/usr/bin/env python3
"""Run one workload over several seeds and summarise each metric.

    python3 hwbench/repeat.py --workload sql_mix --seeds 1-10 [--cores 2]
        [--trace 1] [--out hwbench/baseline/sql_mix-c4.json]

Prints every run's metrics, then per metric the median and the spread
(inter-quartile distance over the median, from statistics.quantiles) —
the figures a change's runs are compared against.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_of(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", default=json.load(
        open(os.path.join(HERE, "..", "BENCHMARK.json")))["run_seconds"])
    ap.add_argument("--trace", default="0")
    ap.add_argument("--cores", default=None)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    runs = []
    for seed in seeds_of(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", args.trace]
        if args.cores:
            cmd += ["--cores", args.cores]
        r = subprocess.run(cmd, capture_output=True, text=True)
        lines = r.stdout.strip().splitlines()
        env = next((json.loads(x[6:]) for x in lines if x.startswith("[env] ")), {})
        env.pop("confs", None)  # run-local paths; the run prints them
        if not lines or not lines[-1].startswith("{"):
            print(f"seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}", flush=True)
            sys.exit(1)
        res = json.loads(lines[-1])
        fails = [x.strip() for x in lines if x.strip().startswith("FAIL ")]
        runs.append({"seed": seed, "exit": r.returncode, "env": env, "result": res,
                     "failures": fails})
        print(seed, res["correct"], res["attempted"], res["failed"],
              {k: round(v["value"], 4) for k, v in res["metrics"].items()}, *fails, flush=True)
    summary = {}
    for k in runs[0]["result"]["metrics"]:
        vals = [r["result"]["metrics"][k]["value"] for r in runs]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
        summary[k] = {"median": med, "spread": (q[2] - q[0]) / med if med else None,
                      "unit": runs[0]["result"]["metrics"][k]["unit"]}
        print(f"{k:34s} median {med:.6g}  spread {summary[k]['spread']}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "cores": args.cores or runs[0]["env"].get("cores"),
                       "seconds": args.seconds, "trace": args.trace, "summary": summary,
                       "runs": runs}, f, indent=1)


if __name__ == "__main__":
    main()
