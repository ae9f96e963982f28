#!/usr/bin/env python3
"""Per-layer deltas between two benchmark records.

Usage:

    python3 perfbench/diff.py <base record.json> <new record.json> [--all]

Records are the files run.py writes under .bench_build/records/. For every
metric present in either record (per-layer metrics of a traced run, the
end-to-end metrics, and the workload-specific figures) it prints the base
value, the new value, the difference and the ratio new/base together with
its base, so a change can be attributed to the layer that moved. Metrics
equal in both records are hidden unless --all is given.
"""
import json
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def fmt(v):
    if v is None:
        return "-"
    if float(v).is_integer() and abs(v) < 1e15:
        return str(int(v))
    return f"{v:.6g}"


def section(title, base, new, show_all):
    names = sorted(set(base) | set(new))
    rows = []
    for n in names:
        b, c = base.get(n), new.get(n)
        if not show_all and b == c:
            continue
        if b is None or c is None:
            rows.append((n, fmt(b), fmt(c), "-", "only in one record"))
            continue
        ratio = f"{c / b:.3f}x of base {fmt(b)}" if b else f"base is 0"
        rows.append((n, fmt(b), fmt(c), fmt(c - b), ratio))
    if not rows:
        return
    print(f"== {title}")
    w = max(len(r[0]) for r in rows)
    print(f"{'metric':<{w}}  {'base':>12}  {'new':>12}  {'delta':>12}  ratio")
    for n, b, c, d, r in rows:
        print(f"{n:<{w}}  {b:>12}  {c:>12}  {d:>12}  {r}")


def main():
    args = [a for a in sys.argv[1:] if a != "--all"]
    if len(args) != 2:
        print(__doc__.strip(), file=sys.stderr)
        sys.exit(2)
    base, new = load(args[0]), load(args[1])
    show_all = "--all" in sys.argv
    for key in ("workload", "seed", "trace", "cores", "spark_version"):
        if base.get(key) != new.get(key):
            print(f"note: {key} differs: {base.get(key)} vs {new.get(key)}")
    for key in ("git_sha", "source_sha256"):
        b = base.get("machine", {}).get(key)
        c = new.get("machine", {}).get(key)
        print(f"{key}: {b} -> {c}")
    section("per-layer", base.get("per_layer", {}), new.get("per_layer", {}),
            show_all)
    section("end-to-end", base.get("end_to_end", {}),
            new.get("end_to_end", {}), show_all)
    section("workload figures", base.get("extra", {}), new.get("extra", {}),
            show_all)
    ob = base.get("tracing_overhead", {}).get("overhead_frac")
    on = new.get("tracing_overhead", {}).get("overhead_frac")
    if ob is not None or on is not None:
        print(f"tracing overhead (share of untraced mean): {fmt(ob)} -> {fmt(on)}")


if __name__ == "__main__":
    main()
