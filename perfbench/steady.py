"""Steadiness check: run each workload once per seed and report, for every
metric, the median, the quartiles and the spread (interquartile range as
a share of the median, from statistics.quantiles(values, n=4)).

    python3 perfbench/steady.py --seeds 1-10 [--workloads a,b] [--trace 0]
        [--out perfbench/results/steadiness.json]

The target is a spread below a third of the metric's bound in
BENCHMARK.json; a spread above the bound fails the benchmark. Every run
must be correct; a failed run stops the check.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(text):
    out = []
    for part in text.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in spec["workloads"]])
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    report = {}
    for w in workloads:
        runs = []
        for seed in seeds_of(args.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                "--workload", w, "--seed", str(seed),
                                "--seconds", str(spec["run_seconds"]),
                                "--trace", str(args.trace)],
                               cwd=ROOT, stdout=subprocess.PIPE, text=True)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            res = json.loads(last) if last.startswith("{") else {}
            if p.returncode != 0 or not res.get("correct"):
                print(p.stdout[-3000:])
                sys.exit("run failed: %s seed %d" % (w, seed))
            res["seed"] = seed
            res["run_s"] = time.time() - t0
            runs.append(res)
            print("%s seed %d: %.1f s  %s" % (w, seed, res["run_s"], json.dumps(
                {k: round(v["value"], 4) for k, v in res["metrics"].items()})),
                flush=True)
        names = list(runs[0]["metrics"])
        stats = {}
        for n in names:
            s = spread([r["metrics"][n]["value"] for r in runs])
            s["bound"] = bounds.get(n)
            stats[n] = s
            verdict = ("" if s["bound"] is None else
                       "above bound" if s["spread"] > s["bound"] else
                       "above a third of bound" if s["spread"] > s["bound"] / 3 else
                       "steady")
            print("  %-24s median %.4f  spread %.3f  bound %s  %s" % (
                n, s["median"], s["spread"], s["bound"], verdict))
        report[w] = {"seeds": [r["seed"] for r in runs],
                     "run_s": spread([r["run_s"] for r in runs]),
                     "metrics": stats,
                     "values": {n: [r["metrics"][n]["value"] for r in runs] for n in names}}
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
