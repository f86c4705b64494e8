"""Smoke-size self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload end to end at tiny input sizes with all checks on,
untraced and then traced (so the traced record carries the tracing
overhead), checks the printed result line of each run, diffs the two
records of one workload with diff.py, and checks that the benchmark fails
cleanly in a directory holding only BENCHMARK.json and perfbench/.
Exits 0 when everything holds.
"""
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def run(args, cwd=ROOT):
    return subprocess.run([sys.executable] + args, cwd=cwd, capture_output=True,
                          text=True, timeout=900)


def check_result(out, names):
    lines = out.stdout.strip().splitlines()
    if not lines:
        return "no output"
    try:
        res = json.loads(lines[-1])
    except json.JSONDecodeError:
        return f"last line is not JSON: {lines[-1][:200]}"
    if set(res) != RESULT_KEYS:
        return f"result keys {sorted(res)}"
    missing = [n for n in names if n not in res["metrics"]]
    if missing:
        return f"missing metrics {missing}"
    if not res["correct"] or res["failed"] or out.returncode != 0:
        return f"not correct: exit {out.returncode}, {lines[-1][:300]}"
    return None


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for w in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            t0 = time.time()
            out = run(["perfbench/run.py", "--workload", w, "--seed", "7", "--seconds", "3",
                       "--trace", str(trace), "--smoke"])
            err = check_result(out, [m["name"] for m in spec[key]])
            print(f"{w} trace={trace}: {'ok' if err is None else err} ({time.time() - t0:.0f} s)",
                  flush=True)
            if err:
                problems.append(f"{w} trace={trace}: {err}")
                sys.stderr.write(out.stderr[-3000:])
    res = os.path.join(HERE, "out", "results")
    base = os.path.join(res, f"{spec['workloads'][0]['name']}-seed7-trace0-smoke.json")
    traced = base.replace("trace0", "trace1")
    out = run(["perfbench/diff.py", base, traced])
    ok = out.returncode == 0 and "ratio=" in out.stdout
    print(f"diff.py: {'ok' if ok else 'failed'}")
    if not ok:
        problems.append("diff.py failed: " + out.stderr[-500:])
    with open(traced) as fh:
        if json.load(fh).get("tracing_overhead") is None:
            problems.append("traced record has no tracing overhead")

    # a directory holding only BENCHMARK.json and perfbench/ cannot build
    bare = os.path.join(HERE, "out", "tmp", f"bare-{os.getpid()}")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("out", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    out = run(["perfbench/run.py", "--workload", spec["workloads"][0]["name"], "--seed", "1",
               "--seconds", "1", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    printed = any(l.startswith("{") for l in out.stdout.splitlines())
    ok = out.returncode != 0 and not printed
    print(f"bare directory: {'ok' if ok else 'failed'} (exit {out.returncode})")
    if not ok:
        problems.append("bare directory did not fail cleanly")

    for p in problems:
        print("FAIL " + p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
