#!/usr/bin/env python3
"""Compare two traced benchmark artifacts layer by layer.

    python3 perfbench/layer_diff.py <before.json> <after.json> [--top N]

The artifacts are the files `run.py --trace 1` writes under .perfbench_out/
(one per workload and seed). The report has three parts: the end-to-end
metrics of the traced runs, the per-layer totals, and, for the operations
whose wall time moved most (a query, a dataset ingest, the export, a first
GET), each operation's layer fields side by side, so a regression points
at the layer and module that moved rather than only at a query.
"""

import argparse
import json
import sys

OP_FIELDS = ("wall_ms", "build_ms", "materialize_ms", "driver_only_ms", "task_busy_ms",
             "task_run_ms", "task_cpu_ms", "gc_ms", "analysis_ms", "optimization_ms",
             "planning_ms", "executions", "jobs", "stages", "tasks", "in_bytes", "in_rows",
             "shuffle_write_bytes", "disk_spill_bytes")


def change(a, b):
    if a == b:
        return "="
    if not a:
        return "new"
    return f"{(b - a) / abs(a) * 100:+.1f}%"


def table(rows, header):
    widths = [max(len(str(r[i])) for r in rows + [header]) for i in range(len(header))]
    lines = ["  ".join(str(c).ljust(w) for c, w in zip(header, widths))]
    lines += ["  ".join(str(c).ljust(w) for c, w in zip(r, widths)) for r in rows]
    return "\n".join(lines)


def fmt(v):
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def op_fields(op):
    fields = {k: op.get(k, 0.0) for k in OP_FIELDS}
    for module, ms in op.get("module_ms", {}).items():
        fields[f"module:{module}_ms"] = ms
    return fields


def diff(a, b, top):
    out = [f"workload {a['workload']}: seed {a['seed']} vs seed {b['seed']}, "
           f"cores {a['cores']} vs {b['cores']}"]
    ea, eb = a["end_to_end_traced"], b["end_to_end_traced"]
    out.append("\nend to end (traced runs)")
    out.append(table([[k, fmt(ea.get(k)), fmt(eb.get(k)), change(ea.get(k), eb.get(k))]
                      for k in sorted(set(ea) | set(eb))], ["metric", "before", "after", "change"]))
    rows = []
    for k in sorted(set(a["per_layer"]) | set(b["per_layer"])):
        va, vb = a["per_layer"].get(k, 0.0), b["per_layer"].get(k, 0.0)
        if va or vb:
            rows.append([k, fmt(va), fmt(vb), change(va, vb)])
    out.append("\nper layer")
    out.append(table(rows, ["metric", "before", "after", "change"]))

    ops_a = {o["op"]: o for o in a["operations"]}
    ops_b = {o["op"]: o for o in b["operations"]}
    families = sorted({o.get("family", "") for o in a["operations"] + b["operations"]})
    out.append("\noperation wall time by family (ms)")
    out.append(table([[fam, fmt(wa), fmt(wb), change(wa, wb)] for fam in families
                      for wa, wb in [(sum(o["wall_ms"] for o in ops_a.values()
                                          if o.get("family", "") == fam),
                                      sum(o["wall_ms"] for o in ops_b.values()
                                          if o.get("family", "") == fam))]],
                     ["family", "before", "after", "change"]))
    only = sorted(set(ops_a) ^ set(ops_b))
    both = sorted(set(ops_a) & set(ops_b),
                  key=lambda k: -abs(ops_b[k]["wall_ms"] - ops_a[k]["wall_ms"]))
    out.append(f"\noperations whose wall time moved most (top {top} of {len(both)})")
    for name in both[:top]:
        fa, fb = op_fields(ops_a[name]), op_fields(ops_b[name])
        moved = sorted((k for k in set(fa) | set(fb) if fa.get(k, 0.0) != fb.get(k, 0.0)),
                       key=lambda k: -abs(fb.get(k, 0.0) - fa.get(k, 0.0))
                       if k.endswith("_ms") else 0.0)
        out.append(f"\n{name}")
        out.append(table([[k, fmt(fa.get(k, 0.0)), fmt(fb.get(k, 0.0)),
                           change(fa.get(k, 0.0), fb.get(k, 0.0))] for k in moved],
                         ["field", "before", "after", "change"]))
    if only:
        out.append("\noperations in one artifact only: " + ", ".join(only))
    return "\n".join(out)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--top", type=int, default=10)
    args = ap.parse_args(argv)
    with open(args.before) as f:
        a = json.load(f)
    with open(args.after) as f:
        b = json.load(f)
    if a["workload"] != b["workload"]:
        sys.exit(f"different workloads: {a['workload']} vs {b['workload']}")
    print(diff(a, b, args.top))


if __name__ == "__main__":
    main(sys.argv[1:])
