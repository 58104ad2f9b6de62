#!/usr/bin/env python3
"""Per-family comparison of two perfbench result files.

Usage:
    python3 scripts/bench_families.py PARENT.json CHANGE.json

Each argument is a raw result file a perfbench run writes under
`.bench_build/results/` (`<workload>.trace<0|1>.json`). For every op
family (`bm25_probe`, `pq_probe`, `matview_read`, a row name, ...) it
prints the number of timed ops, their median wall time, and, when the
file comes from a traced run, the Spark jobs and tasks per op. Ops that
threw are left out. The last line of each side names the family the
run's query median falls in, which is where a `query_p50_ms` change
comes from.
"""

import json
import statistics
import sys


def families(path):
    """{family: (kind, [ms], jobs per op or None, tasks per op or None)}."""
    with open(path) as fh:
        result = json.load(fh)
    ctr = {c["id"]: c for c in result.get("counters", [])}
    out = {}
    for op in result["ops"]:
        if op.get("error"):
            continue
        kind, ms, jobs, tasks = out.setdefault(op["family"], (op["kind"], [], [], []))
        ms.append(op["ms"])
        c = ctr.get(op["id"])
        if c is not None:
            jobs.append(c["jobs"])
            tasks.append(c["tasks"])
    return {f: (k, ms, statistics.mean(j) if j else None, statistics.mean(t) if t else None)
            for f, (k, ms, j, t) in out.items()}


def median_family(fams):
    """The family holding the median timed query (by the lower median)."""
    qs = sorted((m, f) for f, (k, ms, _, _) in fams.items() if k == "query" for m in ms)
    return qs[(len(qs) - 1) // 2][1] if qs else "-"


def cell(v, fmt):
    return "-" if v is None else fmt.format(v)


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    parent, change = families(argv[1]), families(argv[2])
    head = f"{'family':<24} {'kind':<6} | {'n':>4} {'p50 ms':>9} {'jobs':>6} {'tasks':>7}" \
           f" | {'n':>4} {'p50 ms':>9} {'jobs':>6} {'tasks':>7}"
    print(f"{'':<31} | {'parent':^29} | {'change':^29}")
    print(head)
    print("-" * len(head))
    for f in sorted(set(parent) | set(change)):
        sides = []
        kind = (parent.get(f) or change.get(f))[0]
        for fams in (parent, change):
            if f not in fams:
                sides.append(f"{'-':>4} {'-':>9} {'-':>6} {'-':>7}")
                continue
            _, ms, jobs, tasks = fams[f]
            sides.append(f"{len(ms):>4} {statistics.median(ms):>9.1f} "
                         f"{cell(jobs, '{:.2f}'):>6} {cell(tasks, '{:.1f}'):>7}")
        print(f"{f:<24} {kind:<6} | {sides[0]} | {sides[1]}")
    print(f"median query falls in: parent {median_family(parent)}, change {median_family(change)}")


if __name__ == "__main__":
    main(sys.argv)
