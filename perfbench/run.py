#!/usr/bin/env python3
"""Benchmark of the graft engine, run from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

It builds the library and the benchmark program in perfbench/ from source with sbt
(once per source state), generates the workload's inputs from the seed,
times the workload's queries in one Spark process at local[nproc], checks
every query's output against DuckDB running SparkEntry.oracleSql, and
prints one JSON object as its last line of output: the end-to-end metrics
with --trace 0, the per-layer metrics of a traced run with --trace 1.
Workloads, metrics and their reasons are in perfbench/workloads.json.
Everything it writes goes under .bench_build/ in the checkout.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import inputs  # noqa: E402
import metrics  # noqa: E402
from oracle import Oracle  # noqa: E402

# JDK 17 module opens Spark needs outside spark-submit; the list of the
# repository's build.sbt, which applies them to `sbt run` and the tests.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
MAIN_CLASS = "perfbench.Runner"
READY = "PERFBENCH READY"


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def sources_key(root):
    """Digest of everything the build reads, to rebuild only on change."""
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt"),
             os.path.join(root, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for pattern in ("src/main/**/*.scala", "src/main/**/*.java"):
        files += glob.glob(os.path.join(root, pattern), recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, bb):
    """Compiles with sbt and returns the runtime classpath."""
    key = sources_key(root)
    cp_file = os.path.join(bb, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached_key, cp = f.read().split("\n", 1)
        if cached_key == key:
            return cp.strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    # resolution stays offline: only the local caches the toolchain ships
    cmd = [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.override.build.repos=true", "-Dsbt.boot.lock=false",
           "compile", "export Runtime/fullClasspath"]
    log = os.path.join(bb, "logs", "build.log")
    with open(log, "w") as lf:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=lf, text=True, timeout=800)
        lf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        fail("build failed, see %s" % log, 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(key + "\n" + cp + "\n")
    return cp


def java_cmd(cp, bb, cores, heap, young, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    if java is None:
        fail("java not found")
    # a fixed heap size: trial runs varied half as much in pass times; a
    # fixed young generation, so peak RSS does not follow the collector's
    # adaptive sizing
    cmd = [java, "-Xms" + heap, "-Xmx" + heap, "-Xmn" + young]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-Djava.io.tmpdir=" + os.path.join(bb, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, MAIN_CLASS, "--cores", str(cores),
            "--scratch", os.path.join(bb, "tmp")]
    return cmd + [str(a) for a in args]


def launch(cmd, env, log_path, timeout_s):
    """Runs the Spark process to its end. Returns (seconds from its start
    until its session was ready and its warm-up query done, exit code)."""
    with open(log_path, "w") as log:
        t0 = time.perf_counter()
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, env=env)
        watchdog = threading.Timer(timeout_s, p.kill)
        watchdog.start()
        ready = None
        try:
            for line in p.stdout:
                if line.strip() == READY and ready is None:
                    ready = time.perf_counter() - t0
            code = p.wait()
        finally:
            watchdog.cancel()
            if p.poll() is None:
                p.kill()
                p.wait()
    return ready, code


def cpu_ticks():
    """The machine's cumulative CPU ticks by state (user, nice, system, idle,
    iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    w = spec["workloads"].get(a.workload)
    if w is None:
        fail("unknown workload %r; known: %s" % (a.workload, sorted(spec["workloads"])))
    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.exists(os.path.join(root, need)):
            fail("no %s in %s: run from the root of a checkout of the program" % (need, root))

    bb = os.path.join(root, ".bench_build")
    tmp = os.path.join(bb, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    for d in ("logs", "tmp", "results", "trace"):
        os.makedirs(os.path.join(bb, d), exist_ok=True)
    t_build = time.perf_counter()
    cp = build(root, bb)
    build_s = time.perf_counter() - t_build

    base = os.path.join(HERE, "data", spec["base_data"])
    gen = None
    if w.get("documents_copies"):
        data = os.path.join(bb, "inputs", a.workload)
        shutil.rmtree(data, ignore_errors=True)
        gen = inputs.generate(base, data, a.seed, w["documents_copies"])
    else:
        data = base
    cores = len(os.sched_getaffinity(0))
    heap = spec["heap"]
    tag = "%s-s%d-t%d" % (a.workload, a.seed, a.trace)
    logs = os.path.join(bb, "logs")

    out = os.path.join(bb, "results", tag + ".raw.json")
    check_dir = os.path.join(tmp, "check")
    if os.path.exists(out):
        os.remove(out)
    # Spark takes its scratch directory from this variable when it is set
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    # set-up samples from processes that stop once set up, then the one
    # that goes on to run the workload; setup_s is their median
    setups = []
    for i in range(spec["setup_runs"] - 1):
        log = os.path.join(logs, "%s.setup%d.log" % (tag, i))
        ready, code = launch(java_cmd(cp, bb, cores, heap, spec["young"], [
            "--dir", data, "--setup-only", 1]), env, log, 60)
        if code != 0 or ready is None:
            fail("set-up process failed (exit %s), see %s" % (code, log), 1)
        setups.append(ready)
    cpu0 = cpu_ticks()
    ready, code = launch(java_cmd(cp, bb, cores, heap, spec["young"], [
        "--dir", data, "--queries", ",".join(w["queries"]),
        "--seed", a.seed, "--seconds", a.seconds, "--trace", a.trace,
        "--settle", spec["settle_passes"],
        "--out", out, "--check-dir", check_dir]),
        env, os.path.join(logs, tag + ".log"), 150)
    cpu = [b - a for a, b in zip(cpu0, cpu_ticks())]
    if code != 0 or ready is None or not os.path.exists(out):
        fail("benchmark process failed (exit %s), see %s" % (code, os.path.join(logs, tag + ".log")), 1)
    setups.append(ready)
    setup_s = statistics.median(setups)
    with open(out) as f:
        rec = json.load(f)

    # output check against the oracle
    orc = Oracle(data, os.path.join(bb, "oracle-cache"))
    verdicts = {}
    t_check = time.perf_counter()
    for c in rec["checks"]:
        q = c["q"]
        if not c["ok"]:
            verdicts[q] = "threw: " + c["error"]
        elif q not in rec["oracle_sql"]:
            verdicts[q] = "no oracle sql"
        else:
            try:
                verdicts[q] = orc.verdict(os.path.join(check_dir, q), rec["oracle_sql"][q])
            except Exception as e:  # an oracle error is a failed check, not a crash
                verdicts[q] = "oracle error: %s: %s" % (type(e).__name__, e)
    check_s = time.perf_counter() - t_check
    samples = rec["samples"]
    attempted, failed = metrics.failure_counts(samples, verdicts)

    detail = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "cores": rec["cores"], "heap_max_mb": rec["heap_max_mb"],
              "session": rec["session"], "build_s": build_s, "inputs": gen,
              "setup_s": setup_s, "setup_samples_s": setups, "verdicts": verdicts,
              "failed_frac": failed / attempted, "attempted": attempted,
              "failed": failed, "oracle_check_s": check_s,
              "oracle_cache_misses": orc.misses,
              # context for outliers: the machine's idle and stolen CPU share
              # while the Spark process ran (/proc/stat)
              "cpu_idle_share": cpu[3] / max(1, sum(cpu)),
              "cpu_steal_share": cpu[7] / max(1, sum(cpu)),
              "timed_errors": {s["q"]: s["error"] for s in samples if not s["ok"]}}
    if a.trace == 0:
        values, counts = metrics.end_to_end(samples, setup_s, len(setups),
                                            rec["vm_hwm_kb"], spec["settle_passes"])
        values["ok_frac"] = 1.0 - failed / attempted
        detail["sample_counts"] = counts
        names = bench["end_to_end"]
    else:
        values, summary = traced(rec, spec, cores)
        spans = summary.pop("spans")
        detail.update(summary)
        names = bench["per_layer"]
        with open(os.path.join(bb, "trace", tag + ".spans.json"), "w") as f:
            json.dump(spans, f)
        with open(os.path.join(bb, "trace", tag + ".layers.json"), "w") as f:
            json.dump(dict(summary, workload=a.workload, seed=a.seed, metrics=values), f, indent=1)
    detail["metrics"] = values
    with open(os.path.join(bb, "results", tag + ".json"), "w") as f:
        json.dump(detail, f, indent=1)

    for q in sorted(verdicts):
        if verdicts[q] != "pass":
            print("FAIL %s: %s" % (q, verdicts[q]))
    print("%s seed %d: %d/%d checks pass; detail in %s" % (
        a.workload, a.seed, sum(v == "pass" for v in verdicts.values()), len(verdicts),
        os.path.relpath(os.path.join(bb, "results", tag + ".json"), root)))
    correct = failed == 0 and not detail.get("coverage_gaps")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                                  for m in names}}))


def traced(rec, spec, cores):
    """Per-layer metrics of a traced run: medians over its traced later
    passes, plus the tracing overhead against its untraced later passes."""
    samples = rec["samples"]
    settle = spec["settle_passes"]
    by_pass = {}
    for s in samples:
        by_pass.setdefault(s["pass"], []).append(s)
    quantile_rows = set(spec["quantile_rows"])
    layers, spans_all, gaps = [], [], []
    for t in rec["traces"]:
        ss = by_pass[t["pass"]]
        spans = metrics.build_spans(ss, t["events"])
        gaps += metrics.coverage_gaps(spans)
        spans_all.append({"pass": t["pass"], "spans": spans})
        if t["pass"] > settle:
            layers.append(metrics.pass_layers(ss, spans, cores, quantile_rows,
                                              rec["parse_bytes"]))
    values = {k: statistics.median(l[k] for l in layers) for k in layers[0]}
    later = {p: t for p, t in metrics.pass_times(samples).items() if p > settle}
    traced_t = [t for p, t in later.items() if by_pass[p][0]["traced"]]
    plain_t = [t for p, t in later.items() if not by_pass[p][0]["traced"]]
    # means, not medians: the U T T U pass order cancels a linear trend
    values["trace.overhead_frac"] = statistics.mean(traced_t) / statistics.mean(plain_t) - 1
    # parse throughput per parser row: probed bytes / median later row time
    for q in spec["parse_rows"]:
        times = [metrics.wall_s(s) for s in samples if s["q"] == q and s["pass"] > settle]
        b = rec["parse_bytes"].get(q)
        values["sources.parse_mb_s." + q] = b / 1e6 / statistics.median(times) if b and times else 0.0
    return values, {"spans": spans_all, "coverage_gaps": gaps,
                    "traced_passes": len(traced_t), "untraced_passes": len(plain_t)}


if __name__ == "__main__":
    main()
