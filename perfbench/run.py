#!/usr/bin/env python3
"""The repository benchmark: one command that builds the program from source,
runs one workload closed-loop through its public entry points, checks every
output against a stored digest and prints the metrics as one JSON line.

Usage (from the repository root):
  python3 perfbench/run.py --workload tpcds --seed 1 --seconds 15 --trace 0

--trace 0 prints the end-to-end metrics (tracing off); --trace 1 prints the
per-layer metrics of a traced run. Every artifact goes to the run directory
(`--run-dir`, default `perfbench/.work/runs/<workload>-s<seed>-t<trace>`):
the raw samples and spans (`result.json`), the harness log, and the run
record with the session config, nproc, heap size and checkpoint-root kind
(`summary.json`, or `layers.json` with the per-query layer split and the
tracing overhead). Progress goes to stderr; the last line of stdout is the
result.

The workload seed picks the order in which the workload's fixed list of
queries runs (see `pick`); the program receives only those names and the
fixed tables `gen_data.py` writes.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import digest  # noqa: E402
import gen_data  # noqa: E402
import metrics  # noqa: E402

WORK = os.path.join("perfbench", ".work")
# relative on purpose: the program derives its TPC-DS scale from an `sf<x>`
# token in this path, and a token in the checkout's own path must not win
DATA = os.path.join(WORK, "sf0.1")
DATA_VERSION = f"gen{gen_data.VERSION}"
HEAP = "3g"
SETUP_ROUNDS = 3
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
HARNESS = os.path.join("perfbench", "harness")
CLASSPATH = os.path.join(HARNESS, "target", "runtime-classpath.txt")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def source_stamp():
    h = hashlib.sha256()
    files = ["build.sbt", os.path.join("project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for pat in ("src/main/**/*", os.path.join(HARNESS, "src", "**", "*")):
        files += sorted(p for p in glob.glob(pat, recursive=True) if os.path.isfile(p))
    for p in files:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the harness with sbt unless the sources are
    unchanged since the last build in this checkout."""
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.isfile(CLASSPATH):
        return
    log("building program and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=HARNESS, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=800)
    if r.returncode != 0:
        sys.exit(f"sbt compile failed ({r.returncode})")
    log(f"built in {time.time() - t0:.0f}s")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def pick(workload, seed):
    """The workload's query list in seed order. The family's queries,
    ordered by their stored warm cost, are cut into `picks` strata of
    neighbouring cost and the middle query of each is taken, so the list
    spans the family's cost range. The list is the same for every seed and
    only its order changes: with a per-seed draw of queries the median
    query time followed which query landed in the middle, and the spread
    between runs measured the draw instead of the program."""
    spec = load("workloads.json")["workloads"][workload]
    cost, k = spec["warm_s"], spec["picks"]
    qs = sorted(cost, key=lambda q: (cost[q], q))
    bounds = [round(i * len(qs) / k) for i in range(k + 1)]
    chosen = [qs[(a + b - 1) // 2] for a, b in zip(bounds, bounds[1:])]
    random.Random(f"{workload}:{seed}").shuffle(chosen)
    return chosen


def run_jvm(run_dir, args, log_name):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
              f"-Dderby.stream.error.file={run_dir}/derby.log",
              "-cp", cp, "perfbench.Harness", run_dir] + args)
    with open(os.path.join(run_dir, log_name), "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.exit(f"harness JVM exceeded {JVM_TIMEOUT_S}s; log in {run_dir}/{log_name}")
    if rc != 0:
        sys.exit(f"harness JVM exited {rc}; log in {run_dir}/{log_name}")


def check_outputs(res, run_dir, names):
    """Names of queries whose output does not match the stored digest (or
    that have no oracle); cache misses are computed in DuckDB."""
    stored = load("digests.json")
    local_path = os.path.join(WORK, "digests-local.json")
    local = json.load(open(local_path)) if os.path.isfile(local_path) else {}
    bad = []
    for q in sorted(set(names)):
        oracle = res["oracles"].get(q)
        if oracle is None:
            bad.append(q)
            continue
        key = digest.key(oracle["text"], DATA_VERSION)
        want = stored.get(key) or local.get(key)
        if want is None:
            log(f"no stored digest for {q}: running its oracle in DuckDB")
            tmp = os.path.join(WORK, "duckdb-tmp")
            want = dict(digest.of_oracle(oracle["sql"], DATA, tmp), query=q, source="duckdb")
            shutil.rmtree(tmp, ignore_errors=True)
            local[key] = want
            with open(local_path, "w") as f:
                json.dump(local, f, indent=1, sort_keys=True)
        if not digest.matches(digest.of_dump(os.path.join(run_dir, "out", q)), want):
            bad.append(q)
    return bad


def clean(run_dir):
    """Keep the run's records, drop its scratch space."""
    for p in glob.glob(os.path.join(run_dir, "*")):
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--run-dir")
    a = ap.parse_args()
    if not all(os.path.exists(p) for p in ("BENCHMARK.json", "build.sbt", "src/main/scala")):
        sys.exit("run from the repository root: BENCHMARK.json, build.sbt or src/main/scala missing")
    known = load("workloads.json")["workloads"]
    if a.workload not in known:
        sys.exit(f"unknown workload {a.workload}; known: {sorted(known)}")

    os.makedirs(WORK, exist_ok=True)
    build()
    gen_data.generate(DATA)
    names = pick(a.workload, a.seed)
    run_dir = os.path.abspath(a.run_dir or os.path.join(
        WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    log(f"{a.workload} seed {a.seed}: {','.join(names)}")
    rounds = 1 if a.trace else SETUP_ROUNDS
    run_jvm(run_dir, [DATA, a.workload, ",".join(names), str(a.seconds),
                      str(a.trace), str(rounds)], "harness.log")
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)

    mismatched = check_outputs(res, run_dir, names)
    failed = sorted(set(res["failed"]) | set(mismatched))
    for q in failed:
        log(f"FAILED {q}: {'output mismatch' if q in mismatched else 'threw'}")
    with open("BENCHMARK.json") as f:
        listed = json.load(f)["per_layer" if a.trace else "end_to_end"]
    stats = metrics.sample_stats(res)
    env = res["environment"]
    summary = {"workload": a.workload, "seed": a.seed, "queries": names,
               "failed": failed, "environment": env, "samples": stats}
    if a.trace:
        values, bases, split = metrics.per_layer(res)
        summary.update(ratio_bases=bases, tracing_overhead_s=values["trace.overhead_s"],
                       per_query_self_s=split)
    else:
        values = metrics.end_to_end(res)
    summary["metrics"] = values
    artifact = os.path.join(run_dir, "layers.json" if a.trace else "summary.json")
    with open(artifact, "w") as f:
        json.dump(summary, f, indent=1)
    log(f"run record in {artifact}")
    log(f"samples {stats}; nproc {env['nproc']}, heap {env['max_heap_mib']:.0f} MiB, "
        f"checkpoint root tmpfs {env['checkpoint_root_tmpfs']}")
    clean(run_dir)
    out = {"correct": not failed, "attempted": len(set(names)), "failed": len(failed),
           "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                       for m in listed}}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
