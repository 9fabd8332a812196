"""Run one workload once per seed and report each metric's spread.

    python3 perfbench/steady.py --workload W --seeds 1-10 [--seconds S]

For every end-to-end metric it prints the median, the quartiles (as
`statistics.quantiles(values, n=4)` gives them), the spread
(q3 - q1) / median, the number of runs, and the spread as a share of the
metric's bound in BENCHMARK.json. Each run's wall time is printed too, so
the cost of one run is visible.
"""
import argparse
import json
import os
import subprocess
import sys
import time

import stats

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {}
    for seed in seeds(a.seeds):
        t0 = time.time()
        out = subprocess.run(bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                                 "--seconds", str(seconds), "--trace", "0"],
                             cwd=ROOT, stdout=subprocess.PIPE, text=True)
        took = time.time() - t0
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        if out.returncode != 0 or not last.startswith("{"):
            sys.exit("seed %d: run failed (exit %d)" % (seed, out.returncode))
        res = json.loads(last)
        print("seed %d: %.1f s, correct=%s %s" % (seed, took, res["correct"], " ".join(
            "%s=%.4g" % (k, v["value"]) for k, v in res["metrics"].items())), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    summary = {}
    for k, vs in values.items():
        q1, q2, q3 = stats.quartiles(vs)
        sp = stats.spread(vs)
        summary[k] = {"median": stats.median(vs), "q1": q1, "q3": q3, "spread": sp,
                      "n": len(vs), "bound": bounds.get(k)}
        print("%-12s median %.4g  q1 %.4g  q3 %.4g  spread %.3f  n=%d  (%.2f of bound %s)" % (
            k, stats.median(vs), q1, q3, sp, len(vs), sp / bounds[k] if bounds.get(k) else 0,
            bounds.get(k)))
    os.makedirs(os.path.join(BENCH, ".work"), exist_ok=True)
    with open(os.path.join(BENCH, ".work", "steady-%s.json" % a.workload), "w") as f:
        json.dump({"values": values, "summary": summary}, f, indent=1)


if __name__ == "__main__":
    main()
