#!/usr/bin/env python3
"""Per-family comparison of perfbench result files, one or more pairs.

Usage:
    python3 scripts/bench_families.py PARENT.json CHANGE.json
    python3 scripts/bench_families.py P1.json C1.json P2.json C2.json ...

Each argument is a raw result file a perfbench run writes under
`.bench_build/results/` (`<workload>.trace<0|1>.json`; copy it away after
each run, the next run overwrites it). The files come as alternating
parent/change pairs, in the order they ran. For every op family
(`bm25_probe`, `pq_probe`, `matview_read`, a row name, ...) and each side
it prints the number of timed ops, the median over runs of the family's
median wall time, the interquartile range of those run medians, and, when
the files come from traced runs, the Spark jobs and tasks per op. The
last column counts the pairs in which the change's family median is the
lower one. Ops that threw are left out.

Below the table, the `query_p50_ms` row gives each run's query median the
way perfbench computes it (Harrell-Davis, over every timed query), and
says whether the change's median over runs is below the parent's by more
than the parent's IQR. The last lines name, for each pair, the family the
query median falls in on each side, which is where a `query_p50_ms`
change comes from.
"""

import json
import os
import statistics
import sys

sys.dont_write_bytecode = True  # importing report leaves no __pycache__ in perfbench/
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "perfbench"))
from report import percentile  # noqa: E402


def load(path):
    """(query ms, {family: (kind, [ms], jobs per op or None, tasks per op or None)})."""
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
    queries = [m for k, ms, _, _ in out.values() if k == "query" for m in ms]
    return queries, {f: (k, ms, statistics.mean(j) if j else None, statistics.mean(t) if t else None)
                     for f, (k, ms, j, t) in out.items()}


def median_family(fams):
    """The family holding the median timed query (by the lower median)."""
    qs = sorted((m, f) for f, (k, ms, _, _) in fams.items() if k == "query" for m in ms)
    return qs[(len(qs) - 1) // 2][1] if qs else "-"


def iqr(xs):
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q3 - q1


def mean_or_none(xs):
    xs = [x for x in xs if x is not None]
    return statistics.mean(xs) if xs else None


def cell(v, fmt):
    return "-" if v is None else fmt.format(v)


def side(medians, n, jobs, tasks):
    if not medians:
        return f"{'-':>5} {'-':>9} {'-':>7} {'-':>6} {'-':>7}"
    return (f"{n:>5} {statistics.median(medians):>9.1f} {iqr(medians):>7.1f} "
            f"{cell(jobs, '{:.2f}'):>6} {cell(tasks, '{:.1f}'):>7}")


def wins(parent, change):
    """Pairs in which the change's value is lower, and the pairs compared."""
    pairs = [(p, c) for p, c in zip(parent, change) if p is not None and c is not None]
    return f"{sum(1 for p, c in pairs if c < p)}/{len(pairs)}"


def main(argv):
    files = argv[1:]
    if not files or len(files) % 2:
        sys.exit(__doc__)
    runs = [load(f) for f in files]
    parents, changes = runs[0::2], runs[1::2]
    head = f"{'family':<24} {'kind':<6} | {'n':>5} {'p50 ms':>9} {'IQR':>7} {'jobs':>6} {'tasks':>7}" \
           f" | {'n':>5} {'p50 ms':>9} {'IQR':>7} {'jobs':>6} {'tasks':>7} | {'wins':>5}"
    print(f"{len(parents)} pair(s); p50 ms and IQR are over the runs' family medians")
    print(f"{'':<31} | {'parent':^38} | {'change':^38} |")
    print(head)
    print("-" * len(head))
    names = sorted({f for _, fams in runs for f in fams})
    for f in names:
        kind = next(fams[f][0] for _, fams in runs if f in fams)
        cols, per_run = [], []
        for group in (parents, changes):
            meds = [statistics.median(fams[f][1]) if f in fams else None for _, fams in group]
            per_run.append(meds)
            present = [fams[f] for _, fams in group if f in fams]
            cols.append(side([m for m in meds if m is not None], sum(len(p[1]) for p in present),
                             mean_or_none([p[2] for p in present]),
                             mean_or_none([p[3] for p in present])))
        print(f"{f:<24} {kind:<6} | {cols[0]} | {cols[1]} | {wins(*per_run):>5}")
    p50 = [[percentile(q, 50) for q, _ in group] for group in (parents, changes)]
    blank = f"{'':>6} {'':>7}"
    print("-" * len(head))
    print(f"{'query_p50_ms':<24} {'':<6} | {'':>5} {statistics.median(p50[0]):>9.1f} {iqr(p50[0]):>7.1f} "
          f"{blank} | {'':>5} {statistics.median(p50[1]):>9.1f} {iqr(p50[1]):>7.1f} {blank} | "
          f"{wins(*p50):>5}")
    gain = statistics.median(p50[0]) - statistics.median(p50[1])
    print(f"query_p50_ms per run: parent {' '.join(f'{x:.1f}' for x in p50[0])}; "
          f"change {' '.join(f'{x:.1f}' for x in p50[1])}")
    print(f"change median below parent median by {gain:.1f} ms, parent IQR {iqr(p50[0]):.1f} ms: "
          f"{'beyond' if gain > iqr(p50[0]) else 'not beyond'} the parent IQR")
    for i, ((_, pf), (_, cf)) in enumerate(zip(parents, changes), 1):
        print(f"pair {i}: median query falls in: parent {median_family(pf)}, change {median_family(cf)}")


if __name__ == "__main__":
    main(sys.argv)
