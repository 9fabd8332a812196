"""Benchmark entry point: build, make inputs, run one workload, report.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine and the harness
from source with sbt (offline) on the first run and whenever a source
file changed, makes the workload's inputs outside any timing, runs
`perfbench.Main` in one JVM, checks and reports. The last line of
standard output is one JSON object with `correct`, `attempted`, `failed`
and `metrics`: the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1` (which also writes the full trace to
perfbench/.work/trace/). See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import stats

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")

# Tables: a copy of the engine's seed-42 sf0.01 tables; graph_scaleup runs
# on a 4x copy of them made with graft.tools.BlowUp before set-up.
TABLES_1X = os.path.join(BENCH, "data", "sf0.01")
TABLES_4X = os.path.join(WORK, "sf0.01x4")
WORKLOADS = ["recount3_etl", "graph_scaleup"]

# JVM flags of the engine's own build (build.sbt javaOptions).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# A run must end within 180 s once built; the harness JVMs share this budget.
RUN_BUDGET_S = 170

END_TO_END = {"setup_s": "s", "wall_s": "s", "step_iqm_s": "s", "peak_rss_mb": "MB"}

D00_PARTS = ["lsh_candidates", "shingle_sets", "neardup_pairs", "neardup_cc",
             "sweep_candidates", "vecs_norm", "embed_pairs_exact", "quantizer"]
G00_PARTS = ["trade_pairs_w", "trade_pairs", "copurchase_pairs"]
QUERIES = ["g01_pagerank", "d07_dedup_clusters", "s28_lsh_persisted", "e05_stream_window",
           "p23_stream_decontam"]
RECOUNT3_STEPS = ["locate.discover", "locate.urls", "cache.cold", "loaders.metadata",
                  "loaders.project_init", "loaders.project_metadata", "loaders.gene",
                  "loaders.exon", "loaders.jxn_long", "loaders.jxn_wide", "loaders.bw",
                  "io.gtf", "io.counts", "io.mm", "io.recount3_scan", "io.recount3_pruned",
                  "transform.factors", "transform.scale_long", "transform.scale_wide",
                  "cache.warm"]

# Per-layer metrics of a traced run, with units. Every workload reports all
# of them; a layer a workload does not touch reads 0.
PER_LAYER = (
    [("session.build_s", "s"), ("session.warmup_s", "s")]
    + [(s + "_s", "s") for s in RECOUNT3_STEPS]
    + [("locate.url_count", "count"), ("cache.cold_files", "count"), ("cache.cold_mb", "MB"),
       ("cache.warm_hit_ratio", "ratio"), ("io.input_mb", "MB"), ("io.output_mb", "MB"),
       ("io.files_written", "count")]
    + [("prelude.evict_s", "s"), ("prelude.d00_s", "s")]
    + [("prelude.d00.%s_s" % p, "s") for p in D00_PARTS]
    + [("prelude.g00_s", "s")] + [("prelude.g00.%s_s" % p, "s") for p in G00_PARTS]
    + [("step.%s_s" % q, "s") for q in QUERIES]
    + [("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
       ("exec.task_busy_s", "s"), ("exec.gc_s", "s"), ("exec.shuffle_read_mb", "MB"),
       ("exec.shuffle_write_mb", "MB"), ("exec.spill_mb", "MB"),
       ("exec.peak_exec_mem_mb", "MB"), ("exec.core_util", "ratio"),
       ("driver.planning_s", "s"), ("driver.idle_s", "s"), ("driver.actions", "count"),
       ("stream.queries", "count"), ("stream.batches", "count"),
       ("stream.latest_offset_s", "s"), ("stream.query_planning_s", "s"),
       ("stream.add_batch_s", "s"), ("stream.wal_commit_s", "s"),
       ("stream.commit_offsets_s", "s"), ("stream.lifecycle_s", "s"),
       ("trace.untraced_wall_s", "s"), ("trace.traced_wall_s", "s"),
       ("trace.overhead_s", "s")])


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp():
    """Hash of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = list(tops)
    for t in trees:
        for d, _, names in os.walk(t):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail("engine sources not found (%s missing in %s)" % (need, ROOT))
    stamp = source_stamp()
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        cp = open(cp_file).read().strip()
        if all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                               "export perfbench/Runtime/fullClasspath"],
                              cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=out,
                              stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-3000:])
        fail("build failed (see %s)" % log)
    cp = own_classes(lines[-1])
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def own_classes(cp):
    """Copy the compiled class directories of the classpath into .work.

    sbt compiles the engine into the checkout's `target/`, which the
    engine's own build (tests, `graft.Bench`) also writes, possibly for
    another commit. Running from a copy taken right after this build means
    the classes always match the source stamp they are cached under.
    """
    dest = os.path.join(WORK, "classes")
    shutil.rmtree(dest, ignore_errors=True)
    entries = []
    for i, e in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(e):
            copy = os.path.join(dest, str(i))
            shutil.copytree(e, copy)
            e = copy
        entries.append(e)
    return os.pathsep.join(entries)


# ---------------------------------------------------------------- JVM

def driver_mem():
    """Half the host memory, clamped to 2..8 GB: the engine's test setting."""
    try:
        for line in open("/proc/meminfo"):
            if line.startswith("MemTotal:"):
                return "%dg" % min(8, max(2, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return "2g"


def java(cp, main, args, log, tmp, timeout):
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    mem = driver_mem()
    # a fixed heap layout, so the RSS high-water mark does not follow G1's
    # adaptive young-generation sizing
    cmd += ["-XX:TieredStopAtLevel=1", "-XX:CICompilerCount=2", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-Xms" + mem, "-Xmx" + mem, "-Xmn1g",
            "-Djava.io.tmpdir=" + tmp, "-cp", cp, main] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env, start_new_session=True)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    return code


def spark_cores():
    """Half the cores this process may use, at least one: the harness runs
    at local[spark_cores()], so its task threads leave cores free for the
    driver thread, the JIT compiler and the garbage collector."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def scaleup_tables(cp):
    """The deterministic 4x copy of the sf0.01 tables, made once per checkout."""
    done = os.path.join(TABLES_4X, "_COMPLETE")
    if os.path.exists(done):
        return
    shutil.rmtree(TABLES_4X, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp-blowup")
    code = java(cp, "graft.tools.BlowUp", [TABLES_1X, TABLES_4X, "4"],
                os.path.join(WORK, "blowup.log"), tmp, RUN_BUDGET_S)
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0:
        fail("BlowUp failed (see %s)" % os.path.join(WORK, "blowup.log"), 1)
    open(done, "w").close()


def scaleup_args(fingerprints):
    """Harness arguments of graph_scaleup: the 4x tables, and the 1x tables
    for the live-stream rows (the engine's stream source reads a table stored
    as one file, which a BlowUp copy is not)."""
    return ["--fingerprints", fingerprints, "--data", TABLES_4X, "--dataset", "sf0.01x4",
            "--stream-data", TABLES_1X, "--stream-dataset", "sf0.01"]


def mirror(seed):
    """The seed's mirror, generated once per seed and generator version."""
    import gen_mirror
    with open(gen_mirror.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(WORK, "mirror-%d-%s" % (seed, version))
    if not os.path.exists(os.path.join(out, "expected.json")):
        shutil.rmtree(out, ignore_errors=True)
        gen_mirror.build(out, seed)
    return out


# ---------------------------------------------------------------- metrics

def end_to_end(res):
    passes = res["passes"]
    good = [p for p in passes if p["ok"]] or passes
    return {
        "setup_s": res["setup"]["setup_s"],
        "wall_s": stats.median([p["wall_s"] for p in good]),
        "step_iqm_s": stats.median([stats.iqm([s["secs"] for s in p["steps"] if s["ok"]]
                                              or [p["wall_s"]]) for p in good]),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def layer_of(step):
    """prelude.d00.x -> prelude.d00; step.q01_filter_isin -> step.q (the
    query family); loaders.gene -> loaders."""
    parts = step.split(".")
    if parts[0] == "prelude" and len(parts) > 2:
        return ".".join(parts[:2])
    if parts[0] == "step":
        return "step." + parts[1][0]
    return parts[0]


def pass_layers(steps, wall, cores):
    """Per-layer metrics of one traced pass from its step spans."""
    m = {}
    tot = {}
    known = dict(PER_LAYER)
    for s in steps:
        dur = (s["end_ms"] - s["start_ms"]) / 1000.0
        c = s["counters"]
        if s["name"] + "_s" not in known:
            fail("step %s has no per-layer metric in PER_LAYER" % s["name"], 1)
        m[s["name"] + "_s"] = dur
        for k, v in c.items():
            tot[k] = tot.get(k, 0.0) + v
        tot["peak_exec_mem_max"] = max(tot.get("peak_exec_mem_max", 0.0),
                                       c.get("peak_exec_mem_bytes", 0.0))
        tot["idle_s"] = tot.get("idle_s", 0.0) + dur - c.get("job_busy_ms", 0.0) / 1000.0
        if c.get("stream_queries", 0) > 0:
            tot["lifecycle_s"] = tot.get("lifecycle_s", 0.0) + dur \
                - c.get("stream_triggerExecution_ms", 0.0) / 1000.0
        m.update({k: v for k, v in c.items() if k in known})  # counters a step noted
    for p in ("d00", "g00"):
        parts = [v for k, v in m.items() if k.startswith("prelude.%s." % p)]
        if parts:
            m["prelude.%s_s" % p] = sum(parts)
    mb = 1e6
    busy = tot.get("task_busy_ms", 0.0) / 1000.0
    m.update({
        "io.input_mb": tot.get("input_bytes", 0.0) / mb,
        "io.output_mb": tot.get("output_bytes", 0.0) / mb,
        "io.files_written": tot.get("files_written", 0.0),
        "exec.jobs": tot.get("jobs", 0.0),
        "exec.stages": tot.get("stages", 0.0),
        "exec.tasks": tot.get("tasks", 0.0),
        "exec.task_busy_s": busy,
        "exec.gc_s": tot.get("gc_ms", 0.0) / 1000.0,
        "exec.shuffle_read_mb": tot.get("shuffle_read_bytes", 0.0) / mb,
        "exec.shuffle_write_mb": tot.get("shuffle_write_bytes", 0.0) / mb,
        "exec.spill_mb": tot.get("spill_bytes", 0.0) / mb,
        "exec.peak_exec_mem_mb": tot.get("peak_exec_mem_max", 0.0) / mb,
        "exec.core_util": busy / (wall * cores) if wall > 0 else 0.0,
        "driver.planning_s": tot.get("planning_ms", 0.0) / 1000.0,
        "driver.idle_s": tot.get("idle_s", 0.0),
        "driver.actions": tot.get("actions", 0.0),
        "stream.queries": tot.get("stream_queries", 0.0),
        "stream.batches": tot.get("stream_batches", 0.0),
        "stream.latest_offset_s": tot.get("stream_latestOffset_ms", 0.0) / 1000.0,
        "stream.query_planning_s": tot.get("stream_queryPlanning_ms", 0.0) / 1000.0,
        "stream.add_batch_s": tot.get("stream_addBatch_ms", 0.0) / 1000.0,
        "stream.wal_commit_s": tot.get("stream_walCommit_ms", 0.0) / 1000.0,
        "stream.commit_offsets_s": tot.get("stream_commitOffsets_ms", 0.0) / 1000.0,
        "stream.lifecycle_s": tot.get("lifecycle_s", 0.0),
    })
    shares = {}
    for s in steps:
        layer = layer_of(s["name"])
        shares[layer] = shares.get(layer, 0.0) + (s["end_ms"] - s["start_ms"]) / 1000.0
    return m, {k: v / wall for k, v in shares.items()} if wall > 0 else {}


def per_layer(res, untraced_wall):
    """Per-layer metrics (median over the traced passes) and each layer's
    share of pass time; the overhead compares with an untraced run."""
    spans = res["spans"]
    passes = [s for s in spans if s["name"].startswith("pass.")]
    per_pass, share_pass = [], []
    for p in passes:
        steps = [s for s in spans if s["parent"] == p["name"]]
        m, sh = pass_layers(steps, p["counters"]["wall_s"], res["cores"])
        per_pass.append(m)
        share_pass.append(sh)
    med = lambda key, rows: stats.median([r.get(key, 0.0) for r in rows]) if rows else 0.0
    metrics = {name: med(name, per_pass) for name, _ in PER_LAYER}
    metrics["session.build_s"] = res["setup"]["build_s"]
    metrics["session.warmup_s"] = res["setup"]["warmup_s"]
    tw = end_to_end(res)["wall_s"]
    metrics.update({"trace.traced_wall_s": tw, "trace.untraced_wall_s": untraced_wall,
                    "trace.overhead_s": tw - untraced_wall})
    layers = sorted({k for sh in share_pass for k in sh})
    shares = {k: med(k, share_pass) for k in layers}
    return metrics, shares


# ---------------------------------------------------------------- main

def harness(cp, a, args, trace, deadline):
    """One perfbench.Main JVM; returns its result record."""
    tag = "%s-%d-%d-%d" % (a.workload, a.seed, trace, os.getpid())
    tmp = os.path.join(WORK, "tmp-" + tag)
    result = os.path.join(WORK, "result-%s.json" % tag)
    log = os.path.join(WORK, "run-%s.log" % tag)
    code = java(cp, "perfbench.Main", args + ["--trace", str(trace), "--work", tmp,
                                             "--result", result],
                log, tmp, max(1.0, deadline - time.time()))
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0 or not os.path.exists(result):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("harness %s (log %s)" % ("timed out" if code is None else "exited %s" % code), 1)
    with open(result) as f:
        res = json.load(f)
    os.replace(result, os.path.join(WORK, "last-%s-%d.json" % (a.workload, trace)))
    os.remove(log)
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    os.makedirs(WORK, exist_ok=True)
    cp = build()
    started = time.time()
    args = ["--workload", a.workload, "--seconds", str(a.seconds),
            "--cpus", str(spark_cores())]
    if a.workload == "recount3_etl":
        args += ["--mirror", mirror(a.seed)]
    else:
        scaleup_tables(cp)
        args += scaleup_args(os.path.join(BENCH, "fingerprints.json"))
    deadline = time.time() + RUN_BUDGET_S
    # a traced run is paired with an untraced one, each in a fresh JVM, so
    # the tracing overhead compares like with like
    runs = [harness(cp, a, args, t, deadline) for t in ([0, 1] if a.trace else [0])]
    res = runs[-1]
    steps = [s for r in runs for p in r["passes"] for s in p["steps"]]
    attempted = len(steps)
    failed = sum(1 for s in steps if not s["ok"])
    for s in steps:
        if not s["ok"]:
            print("FAILED %s: %s" % (s["name"], s["error"][:300]), file=sys.stderr)
    if a.trace:
        values, shares = per_layer(res, end_to_end(runs[0])["wall_s"])
        units = dict(PER_LAYER)
        trace_dir = os.path.join(WORK, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        trace_file = os.path.join(trace_dir, "%s-seed%d.json" % (a.workload, a.seed))
        with open(trace_file, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "run": res["run"],
                       "cores": res["cores"], "per_layer": values, "share_of_pass": shares,
                       "tracing_overhead_s": values["trace.overhead_s"],
                       "setup": res["setup"], "passes": res["passes"],
                       "spans": res["spans"]}, f, indent=1)
        print("trace written to %s" % os.path.relpath(trace_file, ROOT))
        for k, v in sorted(shares.items(), key=lambda kv: -kv[1]):
            print("share %-14s %5.1f%%" % (k, 100 * v))
    else:
        values = end_to_end(res)
        units = END_TO_END
    print("%s: %d passes in %.1f s, failed_ops_frac %.4f" % (
        a.workload, len(res["passes"]), time.time() - started, failed / max(1, attempted)))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))


if __name__ == "__main__":
    main()
