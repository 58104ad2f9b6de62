"""Turns one run's raw result file (written by graftbench.Main) into the
benchmark's metrics: failures judged against the golden digests, latency
percentiles, and per-layer self times derived from the traced spans."""

import math
import statistics

# Tail levels, highest last. The tail is the highest level with at least
# ten samples beyond it.
TAIL_LEVELS = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

# spans bill their self time to the layer of the same name, except these
LAYER_OF_SPAN = {"cleanup": "storage", "op": "unattributed"}


def layer_of(span_name):
    return LAYER_OF_SPAN.get(span_name, span_name)


def percentile(values, p):
    """Harrell-Davis estimate of the p-th percentile: a weighted mean of
    all order statistics with Beta(p(n+1), (1-p)(n+1)) weights. An
    operation mix has gaps between its kinds' times, and interpolating the
    two order statistics around a rank that falls in such a gap swings
    with every run; this estimate does not."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return float("nan")
    q = p / 100.0
    a, b = q * (n + 1), (1.0 - q) * (n + 1)
    cdf = [_ibeta(a, b, i / n) for i in range(n + 1)]
    return sum(x * (cdf[i + 1] - cdf[i]) for i, x in enumerate(xs))


def _ibeta(a, b, x):
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log(1.0 - x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def _betacf(a, b, x):
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 301):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 3e-14:
            break
    return h


def tail_level(n):
    """Highest level in TAIL_LEVELS with >= 10 of n samples beyond it, or
    None when n < 20 (not even the median has ten samples above it)."""
    best = None
    for p in TAIL_LEVELS:
        if n * (1.0 - p / 100.0) >= 10.0 - 1e-9:
            best = p
    return best


def judge(result, goldens):
    """Marks each timed op failed when it threw, or when its key's digest
    is missing, an error, or differs from the golden. Returns (ops with an
    added 'failed' reason or None, {key: reason} of the digest failures)."""
    digests = result.get("digests", {})
    bad = {}
    for key, d in digests.items():
        g = goldens.get(key)
        if d.startswith("ERROR"):
            bad[key] = d
        elif g is None:
            bad[key] = "no golden digest"
        elif d != g:
            bad[key] = "digest mismatch"
    # a write has no result of its own: it is judged by the state digests
    state_bad = next((f"{k}: {v}" for k, v in bad.items() if k.startswith("state:")), None)
    ops = []
    for op in result["ops"]:
        op = dict(op)
        if op.get("error"):
            op["failed"] = op["error"]
        elif op["kind"] == "write":
            op["failed"] = state_bad
        elif op["key"] not in digests:
            op["failed"] = "no digest taken"
        else:
            op["failed"] = bad.get(op["key"])
        ops.append(op)
    return ops, bad


def end_to_end(result, ops):
    """Untraced metrics. Failed ops never contribute a time."""
    ok = [o for o in ops if not o["failed"]]
    q = [o["ms"] for o in ok if o["kind"] == "query"]
    w = [o["ms"] for o in ok if o["kind"] == "write"]
    level = tail_level(len(q))
    m = {
        "setup_s": statistics.median(result["setup_s"]),
        "query_p50_ms": percentile(q, 50),
        "query_tail_ms": percentile(q, level) if level else float("nan"),
        "ops_per_s": len(ok) / result["window_s"],
        "retained_heap_mb": result["retained_heap_mb"],
    }
    extra = {
        "tail_level": level,
        "query_n": len(q),
        "write_n": len(w),
        "write_p50_ms": percentile(w, 50) if w else 0.0,
        "failed_frac": sum(1 for o in ops if o["failed"]) / max(1, len(ops)),
        "storage_left_bytes": result["storage_left_bytes"],
        "fresh_p50_ms": percentile([o["ms"] for o in ok if o.get("tag") == "fresh"], 50),
        "repeat_p50_ms": percentile([o["ms"] for o in ok if o.get("tag") == "repeat"], 50),
    }
    return m, extra


def self_times(spans):
    """Self time (ns) per span: its duration minus its children's. Spans
    are [name, start, end, parent, op], parent an index into the list or
    -1; the children of one span never overlap (one client thread)."""
    dur = [s[2] - s[1] for s in spans]
    child = [0] * len(spans)
    for i, s in enumerate(spans):
        if s[3] >= 0:
            child[s[3]] += dur[i]
    return [max(0, d - c) for d, c in zip(dur, child)]


def layer_totals(spans):
    """{layer: self time in ms} summed over all spans."""
    st = self_times(spans)
    out = {}
    for s, t in zip(spans, st):
        layer = layer_of(s[0])
        out[layer] = out.get(layer, 0.0) + t / 1e6
    return out


def per_layer(result, ops, baseline_ops_ms=None):
    """Traced metrics from spans and Spark-side counters."""
    wall_ms = result["window_s"] * 1e3
    tot = layer_totals(result["spans"])
    n = max(1, len(ops))
    cores = result["cores"]
    ctr = {c["id"]: c for c in result["counters"]}
    queries = [o for o in ops if o["kind"] == "query"]
    writes = [o for o in ops if o["kind"] == "write"]
    nq, nw = max(1, len(queries)), max(1, len(writes))

    def csum(field, subset=ops):
        return sum(ctr[o["id"]][field] for o in subset if o["id"] in ctr)

    def jobs_in(layer):
        return sum(ctr[o["id"]]["jobs_by_layer"].get(layer, 0) for o in ops if o["id"] in ctr)

    # sources self time within write ops only
    write_ids = {o["id"] for o in writes}
    st = self_times(result["spans"])
    src_write_ms = sum(t for s, t in zip(result["spans"], st)
                       if s[4] in write_ids and layer_of(s[0]) == "sources") / 1e6

    rows_returned = 0
    for o in queries:
        d = result["digests"].get(o["key"], "")
        for part in d.split(";"):
            bits = part.rsplit("|", 2)
            if len(bits) == 3 and bits[1].isdigit():
                rows_returned += int(bits[1])
    input_bytes = result.get("input_bytes", 0)
    rounds = max(1, result.get("rounds", 1))
    w = [o["ms"] for o in writes if not o["failed"]]
    exec_ms = tot.get("exec", 0.0)
    attributed = sum(v for k, v in tot.items() if k != "unattributed")
    m = {
        "catalog.resolve_ms": tot.get("catalog", 0.0) / n,
        "catalog.tables_per_query": result.get("tables", 0) / nq,
        "catalog.share": tot.get("catalog", 0.0) / wall_ms,
        "lexer.lex_us": tot.get("lexer", 0.0) * 1e3 / n,
        "lexer.tokens": result.get("tokens", 0) / nq,
        "parser.parse_us": tot.get("parser", 0.0) * 1e3 / n,
        "planner.plan_ms": tot.get("planner", 0.0) / n,
        "planner.eager_jobs": jobs_in("planner") / n,
        "planner.share": tot.get("planner", 0.0) / wall_ms,
        "entry.build_ms": tot.get("entry", 0.0) / n,
        "llmops.call_ms": tot.get("llmops", 0.0) / n,
        "llmops.eager_jobs": jobs_in("llmops") / n,
        "catalyst.analysis_ms": tot.get("catalyst.analysis", 0.0) / n,
        "catalyst.optimization_ms": tot.get("catalyst.optimization", 0.0) / n,
        "catalyst.planning_ms": tot.get("catalyst.planning", 0.0) / n,
        "codegen.compile_ms": tot.get("codegen", 0.0) / n,
        "codegen.classes": csum("codegen_classes") / n,
        "codegen.fallbacks": csum("codegen_fallbacks"),
        "exec.ms": exec_ms / n,
        "exec.jobs": csum("jobs") / n,
        "exec.stages": csum("stages") / n,
        "exec.tasks": csum("tasks") / n,
        "exec.task_busy_frac": (csum("exec_task_ms") / (exec_ms * cores)) if exec_ms else 0.0,
        "exec.cpu_ms": csum("cpu_ms") / n,
        "exec.gc_ms": csum("gc_ms") / n,
        "exec.shuffle_write_bytes": csum("shuffle_write_bytes") / n,
        "exec.shuffle_read_bytes": csum("shuffle_read_bytes") / n,
        "exec.spill_bytes": csum("spill_bytes") / n,
        "exec.rows_examined_per_row_returned":
            (csum("input_records", queries) / rows_returned) if rows_returned else 0.0,
        "sources.write_ms": src_write_ms / nw if writes else 0.0,
        "sources.bytes_written": csum("bytes_written", writes) / nw if writes else 0.0,
        "sources.files_written": csum("files_written", writes) / nw if writes else 0.0,
        "sources.bytes_stored": result.get("stored_bytes", 0) if writes else 0,
        "sources.probe_files_read": csum("files_read", queries) / nq,
        "sources.probe_bytes_read": csum("input_bytes", queries) / nq,
        "storage.cached_bytes_after_op": sum(o["cached_bytes"] for o in ops) / n,
        "storage.persisted_rdds_after_op": sum(o["persisted_rdds"] for o in ops) / n,
        "trace.unattributed_frac": max(0.0, 1.0 - attributed / wall_ms),
        "trace.overhead_frac": overhead(ops, baseline_ops_ms, tot.get("trace", 0.0) / wall_ms),
        "write_p50_ms": percentile(w, 50) if w else 0.0,
        "written_bytes_per_input_byte":
            csum("bytes_written", writes) / (input_bytes * rounds) if input_bytes else 0.0,
        "stored_bytes_per_input_byte":
            result.get("stored_bytes", 0) / input_bytes if input_bytes else 0.0,
        "storage_left_bytes": result["storage_left_bytes"],
        "peak_rss_mb": result["peak_rss_mb"],
        "failed_frac": sum(1 for o in ops if o["failed"]) / n,
    }
    return m, tot


def overhead(ops, baseline_ops_ms, trace_share):
    """Traced vs untraced wall per op: the median over op families of the
    ratio of their median times, minus one. Without an untraced run to
    compare with, the share of the window spent in the trace layer's own
    bookkeeping (a lower bound)."""
    if not baseline_ops_ms:
        return trace_share
    fam = {}
    for o in ops:
        if not o["failed"]:
            fam.setdefault(o["family"], []).append(o["ms"])
    ratios = [statistics.median(v) / statistics.median(baseline_ops_ms[f])
              for f, v in fam.items() if baseline_ops_ms.get(f)]
    return statistics.median(ratios) - 1.0 if ratios else trace_share
