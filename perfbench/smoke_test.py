"""Self-check of the benchmark.

Runs every workload of BENCHMARK.json once with tracing off and once with
tracing on (one second of timed work each), and fails if a run exits
non-zero, reports a failed operation, omits a metric BENCHMARK.json names or
its unit, or reads 0 on a per-layer metric its workload exercises (run.py's
EXERCISED) other than those that may be 0 (MAY_BE_ZERO). Then checks that
the benchmark refuses to run, without printing a result, in a directory
that holds only BENCHMARK.json and its own files.

    python3 perfbench/smoke_test.py      # from the root of a checkout
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from run import exercises  # noqa: E402

# No spill and no failed task at this input size; the overhead may be ~0.
MAY_BE_ZERO = {"spark.spill_bytes", "spark.tasks_failed", "trace.overhead_frac"}


def run(cwd, *args):
    return subprocess.run(["python3", "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=900)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for w in spec["workloads"]:
        for trace, wanted in (("0", spec["end_to_end"]), ("1", spec["per_layer"])):
            p = run(ROOT, "--workload", w["name"], "--seed", "1",
                    "--seconds", "1", "--trace", trace)
            where = f"{w['name']} trace {trace}"
            before = len(problems)
            if p.returncode != 0:
                problems.append(f"{where}: exit {p.returncode}: {p.stderr[-2000:]}")
                continue
            out = json.loads(p.stdout.strip().splitlines()[-1])
            if sorted(out) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{where}: result keys {sorted(out)}")
            if not out.get("correct") or out.get("failed") != 0:
                problems.append(f"{where}: failed operations: {p.stderr[-2000:]}")
            got = out.get("metrics", {})
            for m in wanted:
                v = got.get(m["name"])
                if v is None or not isinstance(v.get("value"), (int, float)):
                    problems.append(f"{where}: metric {m['name']} missing")
                elif v.get("unit") != m["unit"] or not v.get("unit"):
                    problems.append(f"{where}: metric {m['name']} has unit {v.get('unit')!r}")
                elif (trace == "1" and v["value"] == 0 and m["name"] not in MAY_BE_ZERO
                      and exercises(w["name"], m["name"])):
                    problems.append(f"{where}: metric {m['name']} reads 0")
            print(f"{where}: {'ok' if len(problems) == before else 'FAILED'}", flush=True)
    scratch = os.path.join(ROOT, ".bench_build")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
        p = run(bare, "--workload", spec["workloads"][0]["name"], "--seed", "1",
                "--seconds", "1", "--trace", "0")
        if p.returncode == 0 or '"metrics"' in p.stdout:
            problems.append("ran without the program's sources")
    for pr in problems:
        print("FAIL", pr)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
