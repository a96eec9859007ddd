#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload fold_stream --seed 1 --seconds 12 --trace 0

Builds the engine and the harness from source on first use (sbt, into
`.bench_build/`), then runs one workload in a fresh JVM launched with plain
`java` and a fixed heap. Every file the run writes goes to one temp
directory under `.bench_build/runs/`, deleted before exit. The last line
of stdout is one JSON object: `correct`, `attempted`, `failed`, `metrics`.
With `--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json;
with `--trace 1` they are its per-layer metrics, and the span trace is
written to `.bench_build/traces/`. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("fold_stream", "flush_recover", "query_suite")
HEAP = "2g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 outside spark-submit needs these (the list Spark's own
# launcher passes, JavaModuleOptions.defaultModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    files = []
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def build():
    """Compile once per source tree; returns the runtime classpath."""
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        fail("SPARK_HOME must name the Spark install whose jars the engine builds against")
    log("building engine and harness with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, stdin=subprocess.DEVNULL,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or BUILD not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1].strip()


def run_jvm(cp, args, trace, trace_out=None):
    """One workload run in a fresh JVM. Returns (result dict, launch epoch s,
    peak RSS in MiB)."""
    run_dir = os.path.join(BUILD, "runs", f"{os.getpid()}-{int(trace)}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(int(trace)),
              "--dir", run_dir, "--cores", str(len(os.sched_getaffinity(0)))]
           + (["--trace-out", trace_out] if trace_out else []))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    launch = time.time()
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    timed_out = []

    def kill():
        timed_out.append(True)
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    watchdog = threading.Timer(JVM_TIMEOUT_S, kill)
    watchdog.start()
    try:
        out = proc.stdout.read()
        _, status, usage = os.wait4(proc.pid, 0)
        proc.returncode = os.waitstatus_to_exitcode(status)
    finally:
        watchdog.cancel()
        proc.stdout.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    if timed_out:
        fail(f"{args.workload}: JVM killed after {JVM_TIMEOUT_S} s", 3)
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not lines:
        fail(f"{args.workload}: JVM exited {proc.returncode} without a result", 3)
    return json.loads(lines[-1][len("PERFBENCH "):]), launch, usage.ru_maxrss / 1024.0


def tail(samples):
    """The highest percentile with at least ten samples beyond it: the
    (n-10)-th smallest of n; the slowest op when failed ops leave fewer
    than 11. Returns (value, percentile)."""
    s = sorted(samples)
    k = len(s) - 10 if len(s) > 10 else len(s)
    return s[k - 1], int(100 * k / len(s))


def end_to_end(res, launch, rss_mb):
    ops = res["op_ms"]
    if not ops:
        fail(f"{res['attempted']} ops attempted, none completed: {res['notes']}", 1)
    tail_ms, pct = tail(ops)
    log(f"{len(ops)} ops; tail = p{pct} ({len(ops) - 10} of {len(ops)} at or below); "
        f"fail_share = {res['failed']}/{res['attempted']}; notes = {res['notes']}")
    log("op ms in order: " + " ".join(f"{x:.0f}" for x in ops))
    return {
        "setup_s": res["first_op_epoch_ms"] / 1000.0 - launch,
        "work_s": res["work_s"],
        "op_p50_ms": statistics.median(ops),
        "op_tail_ms": tail_ms,
        "peak_rss_mb": rss_mb,
    }


def untraced_history(workload, work_s=None):
    """work_s of every untraced run of `workload` in this checkout."""
    path = os.path.join(BUILD, "untraced", f"{workload}.json")
    hist = []
    if os.path.exists(path):
        with open(path) as fh:
            hist = json.load(fh)
    if work_s is not None:
        hist.append(work_s)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(hist, fh)
    return hist


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(ENGINE_SRC) or not os.path.exists(spec_file):
        fail("run from the root of a full checkout: engine sources or BENCHMARK.json missing")
    with open(spec_file) as fh:
        spec = json.load(fh)
    cp = build()

    attempted = failed = 0
    correct = True

    def account(res):
        nonlocal attempted, failed, correct
        attempted += res["attempted"]
        failed += res["failed"]
        correct = correct and res["correct"] is True

    if not args.trace:
        res, launch, rss = run_jvm(cp, args, trace=False)
        account(res)
        values = end_to_end(res, launch, rss)
        untraced_history(args.workload, res["work_s"])
        wanted = spec["end_to_end"]
    else:
        hist = untraced_history(args.workload)
        if not hist:  # the overhead needs an untraced run of this checkout
            res, launch, rss = run_jvm(cp, args, trace=False)
            account(res)
            hist = untraced_history(args.workload, res["work_s"])
        trace_out = os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.json")
        res, launch, rss = run_jvm(cp, args, trace=True, trace_out=trace_out)
        account(res)
        values = dict(res["layers"])
        values["trace.overhead"] = res["work_s"] / statistics.median(hist)
        log(f"traced work_s {res['work_s']:.3f} vs untraced median "
            f"{statistics.median(hist):.3f} over {len(hist)} runs; spans in {trace_out}")
        wanted = spec["per_layer"]
        untouched = [m["name"] for m in wanted if m["name"] not in values]
        if untouched:
            log(f"not touched by {args.workload} (reported 0): {', '.join(untouched)}")

    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in wanted}
    if not args.trace:
        missing = [m["name"] for m in wanted if m["name"] not in values]
        if missing:
            fail(f"end-to-end metrics not measured: {missing}")
    print(json.dumps({"correct": bool(correct), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.stdout.flush()
    sys.exit(0 if correct and failed == 0 else 1)


if __name__ == "__main__":
    main()
