#!/usr/bin/env python3
"""graft benchmark: builds the engine and the harness from source, runs one
workload in a fresh JVM and prints its metrics. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.

  python3 perfbench/run.py --workload kql_interactive --seed 1 --seconds 20 --trace 0
  python3 perfbench/run.py --all --seed 1                  # every workload, both modes
  python3 perfbench/run.py --record-goldens                 # rewrite goldens.json

See perfbench/README.md for what each workload and metric means.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")
DATA = os.path.join(HERE, "data")
GOLDENS = os.path.join(HERE, "goldens", "goldens.json")
WORKLOADS = ("kql_interactive", "batch_index")
CORES = 4          # local[4]: one fixed executor width on every host
HEAP = "4g"
JVM_TIMEOUT_S = 170

sys.dont_write_bytecode = True  # leave no __pycache__ beside the sources
sys.path.insert(0, HERE)
import report  # noqa: E402

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# repository's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME, then the
    spark-submit on PATH, then an installed pyspark."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sub = shutil.which("spark-submit")
    if sub:
        cands.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(sub))), "jars"))
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")) and glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    fail("no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def sources():
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC, ROOT)}")
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HARNESS_SRC, "**", "*.scala"), recursive=True))
    return files


def build(jars):
    """Compiles engine + harness with the distribution's own scalac into
    .bench_build/classes, skipped when the sources are unchanged."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", cp] + files
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=ROOT)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (see {os.path.relpath(log, ROOT)})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def jvm(jars, classes, args, work):
    """Runs graftbench.Main in a fresh JVM with its temp, warehouse and
    shuffle directories under `work`; waits for it to exit."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", "-Xss8m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dderby.system.home={work}",
            "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
            "graftbench.Main", "--cores", str(CORES), "--data", DATA, "--work", work] + args
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"JVM exceeded {JVM_TIMEOUT_S} s (log: {os.path.relpath(log, ROOT)})")
    if rc != 0:
        tail = open(log, errors="replace").read()[-3000:]
        sys.stderr.write(tail)
        fail(f"JVM exited with {rc} (log: {os.path.relpath(log, ROOT)})")


def load_goldens():
    if not os.path.exists(GOLDENS):
        return {}
    with open(GOLDENS) as fh:
        return json.load(fh)


def fmt(v):
    if isinstance(v, float):
        return f"{v:.6g}"
    return str(v)


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, or None where /proc/stat is absent."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return None


def run_one(jars, classes, workload, seed, seconds, trace):
    work = os.path.join(BUILD, "work", workload)
    out = os.path.join(BUILD, "results", f"{workload}.trace{trace}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    t0 = cpu_ticks()
    jvm(jars, classes, ["--workload", workload, "--seed", str(seed), "--seconds",
                        str(seconds), "--trace", str(trace), "--out", out], work)
    t1 = cpu_ticks()
    # CPU time the hypervisor gave other tenants while the run was on it:
    # the first thing to look at when a run reads slow
    steal = (t1[0] - t0[0]) / max(1, t1[1] - t0[1]) if t0 and t1 else float("nan")
    with open(out) as fh:
        result = json.load(fh)
    goldens = load_goldens().get(workload, {})
    ops, bad = report.judge(result, goldens)
    failed = [o for o in ops if o["failed"]]
    e2e, extra = report.end_to_end(result, ops)
    print(f"== {workload} seed={seed} trace={trace} window={result['window_s']:.2f}s "
          f"rounds={result['rounds']} ops={len(ops)} failed={len(failed)} "
          f"cpu_steal={100 * steal:.1f}%")
    print(f"   setup_s runs={['%.3f' % s for s in result['setup_s']]} "
          f"warm_s={result['warm_s']:.2f} first_op_s={result['first_op_s']:.2f}")
    lvl = extra["tail_level"]
    print(f"   query_tail_ms is p{lvl:g} of n={extra['query_n']} queries" if lvl else
          f"   query_tail_ms: n={extra['query_n']} supports no tail level")
    for k, v in e2e.items():
        unit = METRIC_UNITS[k]
        print(f"   {k:<34} {fmt(v):>14} {unit}")
    for k in ("write_p50_ms", "failed_frac", "storage_left_bytes", "fresh_p50_ms", "repeat_p50_ms"):
        print(f"   {k:<34} {fmt(extra[k]):>14}")
    for key, why in sorted(bad.items()):
        print(f"   FAILED digest {key}: {why}")
    thrown = {}
    for o in failed:
        if o.get("error"):
            thrown.setdefault((o["key"], o["error"]), 0)
            thrown[(o["key"], o["error"])] += 1
    for (key, err), n in sorted(thrown.items()):
        print(f"   FAILED op {key} x{n}: {err}")
    metrics = {k: {"value": v, "unit": METRIC_UNITS[k]} for k, v in e2e.items()}
    if trace:
        base = os.path.join(BUILD, "results", f"{workload}.trace0.json")
        base_ms = None
        if os.path.exists(base):
            with open(base) as fh:
                b = json.load(fh)
            bops, _ = report.judge(b, goldens)
            bm, _ = report.end_to_end(b, bops)
            print(f"   untraced run of this checkout (seed {b['seed']}): " +
                  ", ".join(f"{k}={fmt(v)} {METRIC_UNITS[k]}" for k, v in bm.items()))
            base_ms = {}
            for o in bops:
                if not o["failed"]:
                    base_ms.setdefault(o["family"], []).append(o["ms"])
        pl, tot = report.per_layer(result, ops, base_ms)
        wall = result["window_s"] * 1e3
        print(f"   layer self time over the {wall:.0f} ms traced window:")
        for layer, ms in sorted(tot.items(), key=lambda kv: -kv[1]):
            print(f"     {layer:<24} {ms:10.1f} ms  {100 * ms / wall:5.1f} %")
        print(f"     {'(sum)':<24} {sum(tot.values()):10.1f} ms  "
              f"{100 * sum(tot.values()) / wall:5.1f} %")
        for k, v in pl.items():
            print(f"   {k:<40} {fmt(v):>14} {LAYER_UNITS[k]}")
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in pl.items()}
    for m in metrics.values():  # JSON has no NaN: a value that could not be measured is null
        if isinstance(m["value"], float) and m["value"] != m["value"]:
            m["value"] = None
    return {"correct": not bad and not any(o.get("error") for o in ops),
            "attempted": len(ops), "failed": len(failed), "metrics": metrics}


METRIC_UNITS = {}  # end-to-end metric -> unit, from BENCHMARK.json
LAYER_UNITS = {}   # per-layer metric -> unit, from BENCHMARK.json


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS + ("selftest",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, help="window length (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true", help="run every workload, untraced then traced")
    ap.add_argument("--record-goldens", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    METRIC_UNITS.update({m["name"]: m["unit"] for m in bench["end_to_end"]})
    LAYER_UNITS.update({m["name"]: m["unit"] for m in bench["per_layer"]})
    if a.seconds is None:
        a.seconds = bench["run_seconds"]
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    classes = build(jars)
    if a.record_goldens:
        out = os.path.join(BUILD, "goldens.json")
        jvm(jars, classes, ["--record", out] +
            (["--workload", a.workload] if a.workload else []),
            os.path.join(BUILD, "work", "record"))
        merged = load_goldens()
        with open(out) as fh:
            merged.update(json.load(fh))
        with open(GOLDENS, "w") as fh:
            json.dump(merged, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote {os.path.relpath(GOLDENS, ROOT)}")
        return
    if a.all:
        summary = {}
        for w in WORKLOADS:
            for t in (0, 1):
                summary[f"{w}.trace{t}"] = run_one(jars, classes, w, a.seed, a.seconds, t)
        print(json.dumps(summary, allow_nan=False))
        return
    if not a.workload:
        ap.error("--workload is required")
    print(json.dumps(run_one(jars, classes, a.workload, a.seed, a.seconds, a.trace), allow_nan=False))


if __name__ == "__main__":
    main()
