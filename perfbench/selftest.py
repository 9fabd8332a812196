"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py            # all tests (about 3 minutes)
    python3 perfbench/selftest.py --quick    # the ones that start no JVM

- the same seed gives a byte-identical recount3 mirror, another seed a
  different one;
- the median and quartile helpers agree with the standard library, and
  the interquartile mean drops the outer quarters;
- a fingerprint ignores row order and column order, and a perturbed
  result fails it (checked on the oracle's own rows);
- BENCHMARK.json lists exactly the metrics run.py reports;
- the harness fails a step whose result does not match its oracle
  fingerprint, and marks its pass not ok;
- evict-before-pass really rebuilds d00 and g00: every traced pass has
  every component span, and each pass's rebuild runs Spark jobs.
"""
import hashlib
import json
import os
import random
import statistics
import sys
import tempfile
import time
from decimal import ROUND_HALF_UP, Decimal

import gen_mirror
import oracle
import run
import stats

FAILURES = []


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        FAILURES.append(what)


def tree_hash(root):
    h = hashlib.sha256()
    for d, _, names in sorted(os.walk(root)):
        for n in sorted(names):
            p = os.path.join(d, n)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def test_mirror():
    with tempfile.TemporaryDirectory(dir=run.WORK) as d:
        a, b, c = (os.path.join(d, x) for x in "abc")
        ea = gen_mirror.build(a, 11)
        gen_mirror.build(b, 11)
        gen_mirror.build(c, 12)
        check(tree_hash(a) == tree_hash(b), "same seed gives an identical mirror")
        check(tree_hash(a) != tree_hash(c), "another seed gives a different mirror")
        check(ea["url_count"] == sum(len(f) for _, _, f in os.walk(os.path.join(a, "mirror")))
              - 1, "expected url_count equals the files in the mirror")
    rng = random.Random(3)
    xs = [rng.randint(0, 5000) * rng.uniform(0.001, 0.05) for _ in range(100000)]
    xs += [k + 0.5 for k in range(100)] + [0.49999999999999994, 2.5000000000000004]
    check(all(gen_mirror.round_half_up(x) == int(Decimal(repr(x)).quantize(
        Decimal(1), rounding=ROUND_HALF_UP)) for x in xs),
        "round_half_up is HALF_UP on the shortest decimal form")


def test_stats():
    rng = random.Random(5)
    ok = True
    for n in range(2, 25):
        xs = [rng.uniform(0, 100) for _ in range(n)]
        ok &= abs(stats.median(xs) - statistics.median(xs)) < 1e-12
        ok &= all(abs(a - b) < 1e-9 for a, b in zip(stats.quartiles(xs),
                                                   statistics.quantiles(xs, n=4)))
    check(ok, "median and quartiles agree with the statistics module, n = 2..24")
    check(stats.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == (2.75, 5.5, 8.25),
          "quartiles of 1..10 are 2.75, 5.5, 8.25")
    check(abs(stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) - 1.0) < 1e-12,
          "spread of 1..10 is 1.0")
    check(stats.iqm([10, 1, 2, 3, 4, 5, 6, 100]) == 4.5 and stats.iqm([7]) == 7,
          "iqm drops the lowest and highest quarter")


def test_fingerprint():
    import duckdb
    con = duckdb.connect()
    con.execute("CREATE VIEW lineitem AS SELECT * FROM '%s/lineitem.parquet'" % run.TABLES_1X)
    rel = con.sql("SELECT l_orderkey, l_linenumber, l_extendedprice, l_shipdate "
                  "FROM lineitem WHERE l_orderkey < 200")
    cols = list(rel.columns)
    rows = rel.fetchall()
    fp = oracle.fingerprint(cols, rows)
    shuffled = rows[:]
    random.Random(1).shuffle(shuffled)
    check(oracle.fingerprint(cols, shuffled) == fp, "fingerprint ignores row order")
    order = [2, 0, 3, 1]
    check(oracle.fingerprint([cols[i] for i in order],
                             [tuple(r[i] for i in order) for r in rows]) == fp,
          "fingerprint ignores column order")
    price = list(rows[7])
    price[2] = price[2] + 0.01
    check(oracle.fingerprint(cols, rows[:7] + [tuple(price)] + rows[8:]) != fp,
          "a perturbed value fails the fingerprint")
    check(oracle.fingerprint(cols, rows + [rows[0]]) != fp,
          "a duplicated row fails the fingerprint")
    stored = json.load(open(os.path.join(run.BENCH, "fingerprints.json")))
    check(all(set(v) == set(run.QUERIES) for v in stored.values()),
          "fingerprints.json covers every timed query on every dataset")


def test_benchmark_json():
    bench = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
    check([m["name"] for m in bench["per_layer"]] == [n for n, _ in run.PER_LAYER],
          "BENCHMARK.json per_layer matches run.PER_LAYER")
    check([m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END),
          "BENCHMARK.json end_to_end matches run.END_TO_END")
    check([w["name"] for w in bench["workloads"]] == run.WORKLOADS,
          "BENCHMARK.json workloads match run.WORKLOADS")


class Args:
    def __init__(self, workload, seed=1):
        self.workload, self.seed = workload, seed


def test_tampered_fingerprint(cp):
    fps = json.load(open(os.path.join(run.BENCH, "fingerprints.json")))
    fps["sf0.01x4"]["d07_dedup_clusters"] = "125:0000000000000000"
    tampered = os.path.join(run.WORK, "selftest-fingerprints.json")
    with open(tampered, "w") as f:
        json.dump(fps, f)
    run.scaleup_tables(cp)
    args = ["--workload", "graph_scaleup", "--seconds", "1", "--cpus", str(run.spark_cores())] \
        + run.scaleup_args(tampered)
    res = run.harness(cp, Args("graph_scaleup"), args, 0, time.time() + run.RUN_BUDGET_S)
    os.remove(tampered)
    failed = [s for p in res["passes"] for s in p["steps"] if not s["ok"]]
    check([s["name"] for s in failed] == ["step.d07_dedup_clusters"] * len(res["passes"]),
          "a result that does not match its fingerprint is a failed step")
    check(all(not p["ok"] for p in res["passes"]), "a pass with a failed step is not ok")
    check("fingerprint" in failed[0]["error"] if failed else False,
          "the failure names the fingerprint mismatch")


def test_rebuild(cp):
    run.scaleup_tables(cp)
    args = ["--workload", "graph_scaleup", "--seconds", "40", "--cpus", str(run.spark_cores())] \
        + run.scaleup_args(os.path.join(run.BENCH, "fingerprints.json"))
    res = run.harness(cp, Args("graph_scaleup"), args, 1, time.time() + run.RUN_BUDGET_S)
    passes = [s for s in res["spans"] if s["name"].startswith("pass.")]
    check(len(passes) >= 2, "the traced run made at least two passes (%d)" % len(passes))
    comps = ["prelude.d00.%s" % p for p in run.D00_PARTS] + \
        ["prelude.g00.%s" % p for p in run.G00_PARTS]
    jobs = []
    for p in passes:
        steps = {s["name"]: s for s in res["spans"] if s["parent"] == p["name"]}
        check(all(c in steps for c in comps), "%s has every d00/g00 component span" % p["name"])
        for memo in ("d00", "g00"):
            n = sum(steps[c]["counters"].get("jobs", 0) for c in comps if memo in c and c in steps)
            ms = sum(steps[c]["end_ms"] - steps[c]["start_ms"] for c in comps
                     if memo in c and c in steps)
            check(n > 0 and ms > 0, "%s rebuilds %s: %d jobs in %d ms" % (p["name"], memo, n, ms))
            jobs.append((p["name"], memo, n))
    first = {m: n for name, m, n in jobs if name == passes[0]["name"]}
    check(all(n >= first[m] // 2 for _, m, n in jobs),
          "later passes run at least half the first pass's rebuild jobs")


def main():
    os.makedirs(run.WORK, exist_ok=True)
    test_stats()
    test_mirror()
    test_fingerprint()
    test_benchmark_json()
    if "--quick" not in sys.argv:
        cp = run.build()
        test_tampered_fingerprint(cp)
        test_rebuild(cp)
    print("%d failed" % len(FAILURES))
    sys.exit(1 if FAILURES else 0)


if __name__ == "__main__":
    main()
