"""Run one workload of the VSS benchmark and print its metrics.

    python3 perfbench/run.py --workload serve_topk --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds (see build.py). The
run's scratch state (tables, index artifacts, checkpoints, Spark local
dirs) lives in perfbench/out/tmp/run-* and is deleted when the run ends.
The full record (env stamp, every metric, checks) is kept in
perfbench/out/results/, the traced run's spans in perfbench/out/traces/.

Prints every metric with its name and unit, then, as the last line, the
JSON result: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. Exits 1 when an operation failed or a check did not hold, 2 when
the checkout cannot be built.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

OUT = os.path.join(HERE, "out")
RUN_TIMEOUT_S = 170

# what the JVM needs when a SparkSession is created outside spark-submit
JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "--add-modules=jdk.incubator.vector", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData",
    "-Dspark.sql.session.timeZone=UTC"]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_rev(stamp):
    try:
        head = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        head = ""
    return f"{head or 'no-git'}+src:{stamp[:12]}"


def result_path(kind, workload, seed, trace, smoke):
    tag = "-smoke" if smoke else ""
    return os.path.join(OUT, kind, f"{workload}-seed{seed}-trace{trace}{tag}.json")


def run(workload, seed, seconds, trace, smoke=False):
    """Run one workload in its own JVM; returns the full record (dict)."""
    stamp = build.build()
    root = os.path.join(OUT, "tmp", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(root, "jtmp"))
    record = result_path("results", workload, seed, trace, smoke)
    if os.path.exists(record):
        os.remove(record)
    cmd = (["java"] + JAVA_OPTS + [
        f"-Djava.io.tmpdir={os.path.join(root, 'jtmp')}",
        f"-Dperfbench.rev={source_rev(stamp)}",
        "-cp", build.classpath(), "perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--root", root, "--record", record,
        "--spans", result_path("traces", workload, seed, trace, smoke)]
        + (["--smoke"] if smoke else []))
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=root)
    try:
        proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{workload} did not finish in {RUN_TIMEOUT_S} s", 1)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    if not os.path.exists(record):
        fail(f"{workload} wrote no record (JVM exit code {proc.returncode})", 1)
    with open(record) as fh:
        rec = json.load(fh)
    if trace:
        add_overhead(rec, result_path("results", workload, seed, 0, smoke))
        with open(record, "w") as fh:
            json.dump(rec, fh, indent=1)
    return rec


def add_overhead(rec, untraced_path):
    """Tracing overhead: the traced run's end-to-end metrics minus those of
    the untraced run of the same workload and seed, when one was made."""
    if not os.path.exists(untraced_path):
        rec["tracing_overhead"] = None
        return
    with open(untraced_path) as fh:
        base = json.load(fh).get("end_to_end", {})
    rec["tracing_overhead"] = {
        k: {"traced": v, "untraced": base[k], "delta": v - base[k],
            "ratio": v / base[k] if base[k] else None}
        for k, v in rec.get("end_to_end", {}).items()
        if isinstance(v, (int, float)) and isinstance(base.get(k), (int, float))}


def load_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(path) as fh:
        return json.load(fh)


def unit_of(name):
    """Unit of a named record metric, read from its suffix or, for names such
    as topk_p50_ms_4c, from the unit word inside it."""
    for suffix, unit in (("_per_s", "1/s"), ("_ms", "ms"), ("_us", "us"), ("_s", "s"),
                         ("_amp", "ratio"), ("_rate", "ratio"), ("recall_at_10", "ratio")):
        if name.endswith(suffix) or suffix + "_" in name:
            return unit
    return "count"


def report(rec, spec, trace):
    """Print the record's metrics with units; return the result object."""
    env = rec.get("env", {})
    print("env " + " ".join(f"{k}={v}" for k, v in env.items()))
    e2e = rec.get("end_to_end", {})
    for m in spec["end_to_end"]:
        print(f"e2e {m['name']} {e2e.get(m['name'])} {m['unit']}")
    for k, v in rec.get("named", {}).items():
        print(f"named {k} {v} {unit_of(k)}")
    for m in spec["per_layer"]:
        if "per_layer" in rec:
            print(f"layer {m['name']} {rec['per_layer'].get(m['name'])} {m['unit']}")
    for k, v in rec.get("checks", {}).items():
        print(f"check {k} {v}")
    for k, v in (rec.get("tracing_overhead") or {}).items():
        print(f"overhead {k} traced={v['traced']} untraced={v['untraced']} "
              f"delta={v['delta']}")
    source = rec.get("per_layer", {}) if trace else e2e
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]}
               for m in wanted if isinstance(source.get(m["name"]), (int, float))}
    complete = len(metrics) == len(wanted)
    return {"correct": bool(rec.get("correct")) and complete,
            "attempted": int(rec.get("attempted", 1)),
            "failed": int(rec.get("failed", 0)) + (0 if complete else 1),
            "metrics": metrics}


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--smoke", action="store_true", help="tiny input sizes (self-test)")
    a = p.parse_args()
    spec = load_spec()
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    try:
        rec = run(a.workload, a.seed, a.seconds, a.trace, a.smoke)
    except build.BuildError as e:
        fail(f"build failed: {e}")
    result = report(rec, spec, a.trace)
    print(json.dumps(result), flush=True)
    sys.exit(0 if result["correct"] and result["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
