#!/usr/bin/env python3
"""Measure how steady the benchmark's end-to-end metrics are.

    python3 perfbench/steadiness.py [--runs 10] [--out FILE]

Run from the repository root. Runs each workload of BENCHMARK.json
once per seed (seeds 1..runs), then reports, per workload and
end-to-end metric, the median of the runs and the spread: the distance
between the first and third quartile (statistics.quantiles, n=4) as a
share of the median.
A metric is steady when its spread is below a third of the bound that
BENCHMARK.json fixes for it (setup_s is exempt from the spread rule).
"""
import argparse
import json
import statistics
import subprocess
import sys


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--out", default="")
    a = ap.parse_args()

    bench = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"runs": a.runs, "run_seconds": bench["run_seconds"], "workloads": {}}
    steady = True
    for w in (w["name"] for w in bench["workloads"]):
        values = {}
        for seed in range(1, a.runs + 1):
            cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                sys.exit(f"{w} seed {seed}: run failed (exit {r.returncode})")
            res = json.loads(lines[-1])
            if not res["correct"]:
                sys.exit(f"{w} seed {seed}: {res['failed']} of {res['attempted']} failed")
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        rows = {}
        for k, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            ok = k == "setup_s" or spread < bounds[k] / 3
            steady &= ok
            rows[k] = {"median": med, "q1": q1, "q3": q3, "spread": round(spread, 4),
                       "bound": bounds[k], "steady": ok, "values": vs}
            print(f"  {w:14s} {k:18s} median {med:10.4g} spread {spread:6.3f} "
                  f"bound {bounds[k]:.2f} {'ok' if ok else 'NOT STEADY'}", flush=True)
        report["workloads"][w] = rows
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(report, fh, indent=1)
            fh.write("\n")
    sys.exit(0 if steady else 1)


if __name__ == "__main__":
    main()
