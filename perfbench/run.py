#!/usr/bin/env python3
"""The repository's benchmark: one workload, one run.

    python3 perfbench/run.py --workload <etl_chain|cohort_api|build_batch>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark with sbt (offline) into the checkout's target directories and
caches the launch classpath under .bench_build/; later runs reuse it until a
source file changes. Each run then

  1. generates the input tables from the seed (perfbench/gen_inputs.py);
     the generation time is part of set-up;
  2. starts one JVM (perfbench.Main) with the session graft.Bench uses
     and times operations from a single client thread until --seconds
     have passed, at least one; an operation here takes longer than the
     configured run_seconds, so a run times exactly one operation, the
     first in a fresh JVM;
  3. checks outputs outside the timed region: results of catalog entries
     against their DuckDB oracle with tools/compare_oracle.py, and
     repeated parameter sets against their first result;
  4. prints a summary line and, as the last line, the result JSON.

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json.
With --trace 1 the same operations run with the benchmark's listeners and
spans on, and the metrics are its per-layer metrics; the tracing overhead
is this run's operation time against the untraced run with the same seed
and build. A per-layer metric the workload exercises (EXERCISED) must be
produced by the run; the others read 0. Spans go to
.bench_build/runs/<workload>-<seed>-trace.json.spans.jsonl.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("etl_chain", "cohort_api", "build_batch")
# Input scale: the program's time goes to driver-side planning, job launch
# and codegen, not data (a chain at sf0.001 already takes most of its sf0.1
# time), and a run has to stay short enough to be repeated many times.
SF = 0.001
DEADLINE_S = 170
# Per-layer metrics (by name prefix) that every traced run produces, and
# those that only the named workload exercises.
EXERCISED_BY_ALL = ("spark.", "plans.", "sources.", "self_s.bench", "trace.")
EXERCISED = {
    "etl_chain": ("pipeline.", "builds.call_s.", "self_s.pipeline",
                  "self_s.builds"),
    "cohort_api": ("api.", "self_s.api"),
    "build_batch": ("builds.entry_s.", "qa.", "operators.", "streaming.",
                    "self_s.builds", "self_s.qa", "self_s.operators",
                    "self_s.streaming"),
}


def exercises(workload, metric):
    return metric.startswith(EXERCISED_BY_ALL + EXERCISED[workload])


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_key():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    h.update(os.environ.get("SPARK_DRIVER_MEM", "").encode())
    return h.hexdigest()[:16]


def launch_spec():
    """(classpath, JVM options) of the built benchmark; builds if stale."""
    spec = os.path.join(BUILD, f"launch-{source_key()}.txt")
    if not os.path.exists(spec):
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
        os.makedirs(BUILD, exist_ok=True)
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as out:
            rc = subprocess.call(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.autostart=false", f"-Dperfbench.spec={spec}.tmp",
                 "launchSpec"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT)
        if rc != 0 or not os.path.exists(spec + ".tmp"):
            with open(log) as fh:
                sys.stderr.write(fh.read()[-4000:])
            fail(f"build failed (rc {rc}); log in {log}")
        os.replace(spec + ".tmp", spec)
    with open(spec) as fh:
        lines = fh.read().splitlines()
    return lines[0], lines[1:]


def generate(seed, run_dir):
    """Write the seeded inputs; return (dir, seconds, rows, bytes)."""
    sys.path.insert(0, HERE)
    import gen_inputs
    d = os.path.join(run_dir, "inputs")
    t0 = time.perf_counter()
    rows, size = gen_inputs.write(d, seed, SF)
    return d, time.perf_counter() - t0, rows, size


def oracle_failures(check_dir, inputs, checked):
    """Names among `checked` whose result differs from its oracle."""
    out = os.path.join(check_dir, "compare.json")
    rc = subprocess.call(
        [sys.executable, os.path.join(ROOT, "tools", "compare_oracle.py"),
         check_dir, inputs, out], stdout=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(out):
        return list(checked)
    with open(out) as fh:
        res = json.load(fh)
    bad = [n for n in checked if not res.get(n, {}).get("hash_match", False)]
    for n in bad:
        print(f"perfbench: {n} differs from its oracle: {res.get(n)}",
              file=sys.stderr)
    return bad


def run_jvm(workload, seed, seconds, trace, started):
    """One JVM run with checks; returns its measurements as a dict."""
    cp, jvm_opts = launch_spec()
    runs = os.path.join(BUILD, "runs")
    tag = f"{workload}-{seed}-{'trace' if trace else 'e2e'}"
    run_dir = os.path.join(runs, tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    inputs, gen_s, rows, size = generate(seed, run_dir)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out_json = os.path.join(runs, f"{tag}.json")
    check_dir = os.path.join(run_dir, "check")
    log_path = os.path.join(runs, f"{tag}.log")
    if os.path.exists(out_json):
        os.remove(out_json)
    with open(log_path, "w") as log:
        launch_ms = int(time.time() * 1000)
        cmd = ["java", *jvm_opts, f"-Djava.io.tmpdir={tmp}", "-cp", cp,
               "perfbench.Main", workload, inputs, str(seed), str(seconds),
               str(trace), str(launch_ms), out_json, check_dir]
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log,
                                stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(10, DEADLINE_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {DEADLINE_S} s; log in {log_path}")
    if proc.returncode != 0 or not os.path.exists(out_json):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"benchmark JVM failed (rc {proc.returncode}); log in {log_path}")
    with open(out_json) as fh:
        r = json.load(fh)
    bad = oracle_failures(check_dir, inputs, r["checked"])
    for e in r["errors"]:
        print(f"perfbench: {e}", file=sys.stderr)
    shutil.rmtree(run_dir, ignore_errors=True)
    r.update(build=source_key(), seconds=seconds, gen_s=gen_s, rows=rows,
             bytes=size, failed=min(r["attempted"], r["failed_ops"] + len(bad)))
    with open(out_json, "w") as fh:
        json.dump(r, fh)
    return r


def untraced_op_s(workload, seed, seconds, started):
    """Median operation time of the untraced run of the same workload, seed
    and build: the kept one if there is one, else a fresh one."""
    path = os.path.join(BUILD, "runs", f"{workload}-{seed}-e2e.json")
    if os.path.exists(path):
        with open(path) as fh:
            r = json.load(fh)
        if r.get("build") == source_key() and r.get("seconds") == seconds:
            return statistics.median(r["op_s"])
    return statistics.median(run_jvm(workload, seed, seconds, 0, started)["op_s"])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    started = time.monotonic()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "tools/compare_oracle.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not a checkout of the program: {need} is missing")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    r = run_jvm(a.workload, a.seed, a.seconds, a.trace, started)
    op_s = statistics.median(r["op_s"])
    if a.trace:
        values = dict(r["layers"])
        values["trace.op_s"] = op_s
        values["trace.overhead_frac"] = (
            op_s / untraced_op_s(a.workload, a.seed, a.seconds, started) - 1)
        wanted = spec["per_layer"]
        for m in wanted:
            if m["name"] not in values:
                if exercises(a.workload, m["name"]):
                    fail(f"traced run produced no {m['name']}")
                values[m["name"]] = 0.0
    else:
        values = {"op_s": op_s, "setup_s": r["gen_s"] + r["setup_jvm_s"],
                  "live_heap_mb": r["live_heap_mb"]}
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values[m["name"]]),
                           "unit": m["unit"]} for m in wanted}
    attempted, failed = r["attempted"], r["failed"]
    print(f"# {a.workload} seed {a.seed} trace {a.trace}: {attempted} ops, "
          f"{failed} failed (ops_failed_frac {failed / attempted:.4f}); "
          f"op_s median of {len(r['op_s'])} {[round(x, 3) for x in r['op_s']]}; "
          f"setup: inputs {r['gen_s']:.3f} s, "
          f"jvm {r['setup_jvm_s']:.3f} s; inputs {r['rows']} rows, "
          f"{r['bytes']} bytes at sf{SF}; {len(r['checked'])} results "
          f"checked against oracles; {time.monotonic() - started:.1f} s")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
