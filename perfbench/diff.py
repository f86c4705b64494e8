"""Layer-by-layer diff of two benchmark result records.

    python3 perfbench/diff.py BASE.json NEW.json

BASE and NEW are full records from perfbench/out/results/ (one workload,
one seed each; typically the parent commit and a change). Every numeric
metric present in both is printed with its base value, the new value, the
ratio new/base and the difference: end-to-end metrics first (with the
direction and bound from BENCHMARK.json, flagged when the change is worse
than the bound), then the workload's named metrics, the per-layer metrics
and the per-span-name self times of a traced run.
"""
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def numeric(d):
    return {k: v for k, v in (d or {}).items()
            if isinstance(v, (int, float)) and not isinstance(v, bool)}


def row(name, base, new, note=""):
    ratio = f"{new / base:.4f}" if base else "n/a"
    return f"  {name:36s} base={base:<14.6g} new={new:<14.6g} ratio={ratio:<8s} delta={new - base:+.6g} {note}"


def section(title, base, new, spec=None):
    b, n = numeric(base), numeric(new)
    keys = [k for k in b if k in n]
    if not keys:
        return
    print(title)
    for k in keys:
        note = ""
        if spec and k in spec:
            m = spec[k]
            worse = (n[k] - b[k]) / b[k] if b[k] else 0.0
            if m["better"] == "higher":
                worse = -worse
            note = f"[{m['better']} is better, bound {m['bound']}]"
            if worse > m["bound"]:
                note += " WORSE BEYOND BOUND"
        print(row(k, b[k], n[k], note))


def main():
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    with open(sys.argv[1]) as fh:
        base = json.load(fh)
    with open(sys.argv[2]) as fh:
        new = json.load(fh)
    if base.get("workload") != new.get("workload"):
        print(f"note: workloads differ ({base.get('workload')} vs {new.get('workload')})")
    for rec, tag in ((base, "base"), (new, "new")):
        env = rec.get("env", {})
        print(f"{tag}: {rec.get('workload')} seed={rec.get('seed')} trace={rec.get('trace')} "
              f"rev={env.get('source_rev')} master={env.get('master')} "
              f"load={env.get('load_avg_before')}->{env.get('load_avg_after')} "
              f"steal%={env.get('steal_pct')} correct={rec.get('correct')}")
    spec = {}
    path = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(path):
        with open(path) as fh:
            spec = {m["name"]: m for m in json.load(fh)["end_to_end"]}
    section("end-to-end", base.get("end_to_end"), new.get("end_to_end"), spec)
    section("named", base.get("named"), new.get("named"))
    section("per-layer", base.get("per_layer"), new.get("per_layer"))
    section("self time by span (ms, summed)", base.get("layer_self_ms"), new.get("layer_self_ms"))


if __name__ == "__main__":
    main()
