#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/sweep.py --workloads prep_small,ts_features \\
        --seeds 1-10 --seconds 10 --trace 0 --out sweep.json

For every workload and metric it reports the median, the quartiles and
the spread (third minus first quartile, over the median), the figures a
baseline or a before/after comparison needs.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "values": values}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    result = {}
    for w in a.workloads.split(","):
        runs = []
        for seed in seeds(a.seeds):
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(a.seconds),
                                "--trace", str(a.trace)], capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            last = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
            runs.append({"seed": seed, "exit": p.returncode, "result": last})
            print(f"{w} seed {seed}: exit {p.returncode} "
                  f"{json.dumps(last['metrics']) if last else p.stderr[-300:]}", flush=True)
        ok = [r["result"] for r in runs if r["result"]]
        names = sorted({k for r in ok for k in r["metrics"]})
        result[w] = {
            "runs": len(runs), "failed_runs": sum(r["exit"] != 0 for r in runs),
            "metrics": {k: summary([r["metrics"][k]["value"] for r in ok if k in r["metrics"]])
                        for k in names},
        }
    with open(a.out, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
