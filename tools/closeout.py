#!/usr/bin/env python3
"""One-driver round close-out: runs the CLAUDE.md checklist in order,
stops on any GATE failure, and collects every ratchet WARN into one
final list that needs adjudication (judge r15 #7 — the checklist grew
to 6 tools + one ratchet with five families + a merge, and a skipped
step is the likeliest process failure; the r14 flush ordering lesson is
baked in: the flush runs FIRST among the timed steps, before the x30
sweeps pollute the page cache).

Usage:
  python3 tools/closeout.py r<N> [--from STEP] [--only STEP[,STEP..]] [--list]

Steps (in order):
  test        sbt -batch test (all suites) + the ratchet's unit tests
  verify      Verify sf0.01 + check.py (oracle + run-bound runtime sweep)
  reliable    the same under SPARK_GRAFT_CHECKPOINT_DIR -> check.py ->
              reliable_parity.py -> RELIABLE_LINEAGE_PARITY.json
  planaudit   PlanAudit sf0.01, zero FAIL rows
  flush       perfbench flush_recover --trace 1, seeds 1-3 (idle-FIRST)
              -> ratchet.py flush record
  stream      perfbench fold_stream --trace 0, seeds 1-3
              -> ratchet.py stream record
  fx30        Footprint x30 FULL set -> ratchet.py footprint record r<N>
  fx90        Footprint x90 linear + pair families -> record r<N>_x90
  ivfcap      IvfCapBench (engaged pre-cut branch, sweep on)
  bpe         BpeFallbackBench -> ratchet.py bpe record
  benchsweep  SPARK_GRAFT_BENCH_SWEEP=1 Bench sf0.1 -> RUNTIME_SWEEP_bench.json
  merge       merge_sweeps.py over the five scale artifacts
  parity      LocalClusterParity full set (2 executor JVMs)
  execloss    ExecutorLossSmoke sf0.1 q_minhash_lsh (exit 2 = void -> WARN)
  streamkill  LocalClusterStreamSmoke midbatch (in-flight kill leg; a
              test-scope main, run from TEST_CLASSES: Test/compile first)
  bench       final sf0.1 Bench (idle, sweep OFF - the timed basis)
              -> ratchet.py warm record

Timed steps (flush, stream, bench) assume an otherwise-idle host: this
script runs everything serially, so that holds as long as nothing else
runs beside it. Logs land in /tmp/closeout/<step>.log. Each step runs
with a private temp dir (java.io.tmpdir of a java step, TMPDIR of any
step), deleted when the step ends: an executor a step kills with kill -9
never runs its exit hooks, and would leave the native libraries it
unpacked in a shared /tmp.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LOGDIR = "/tmp/closeout"
SPARK_JARS = "/opt/spark/jars/*"
CLASSES = f"{REPO}/target/scala-2.13/classes"
TEST_CLASSES = f"{REPO}/target/scala-2.13/test-classes"

ADD_OPENS = [f"--add-opens={p}=ALL-UNNAMED" for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]]

# the x90 linear-contract chain (r14) + the steep-skew pair family
# (r15 judge #2: the ~n^0.3-0.4 concentration axis needs an x90 ratchet
# row, not an argument from x30)
X90_FAMILY = ["q_dedup_auto_clusters", "q_dedup_auto_keep",
              "q_minhash_lsh", "q_dedup_ngram_auto", "q_containment",
              "q_substring_dup_fast"]


def java_cmd(main, *args, xmx="8g", env_extra=None):
    """Direct java -cp invocation (CLAUDE.md: scale runs MUST pass -Xmx8g
    — Spark's task page size scales with heap, and a 32 GiB default heap
    inflates peak_task_mem by a 64 MiB quantum)."""
    cmd = ["java", f"-Xmx{xmx}"] + ADD_OPENS + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{CLASSES}:{TEST_CLASSES}:{SPARK_JARS}", main] + list(args)
    return cmd, env_extra or {}


def sbt_cmd(task, env_extra=None):
    return ["sbt", "-batch", task], env_extra or {}


def run(step, cmd, env_extra, ok_codes=(0,), warn_codes=()):
    os.makedirs(LOGDIR, exist_ok=True)
    log = os.path.join(LOGDIR, f"{step}.log")
    tmp = tempfile.mkdtemp(prefix=f"closeout-{step}-")
    env = dict(os.environ, TMPDIR=tmp, **env_extra)
    if cmd[0] == "java":
        cmd = [cmd[0], f"-Djava.io.tmpdir={tmp}"] + cmd[1:]
    print(f"==> {step}: {' '.join(cmd)}" +
          (f"  [env {' '.join(f'{k}={v}' for k, v in env_extra.items())}]"
           if env_extra else ""))
    try:
        with open(log, "w") as f:
            p = subprocess.run(cmd, cwd=REPO, env=env, stdout=f,
                               stderr=subprocess.STDOUT)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    tail = open(log).read().splitlines()[-3:]
    for line in tail:
        print(f"    {line[:160]}")
    if p.returncode in warn_codes:
        print(f"    WARN {step}: exit {p.returncode} (non-fatal; see {log})")
        return "warn", log
    if p.returncode not in ok_codes:
        print(f"GATE FAILED at {step} (exit {p.returncode}) — see {log}")
        sys.exit(1)
    return "ok", log


# a WARN the ratchets ("WARN ...") or the smokes ("[execloss] WARN: ...")
# print as their own; Spark's and Hadoop's log4j lines ("26/10/19
# 17:45:08 WARN NativeCodeLoader: ...") are not adjudication items
OWN_WARN = re.compile(r"(\[\w+\] )?WARN\b")


def collect_warns(logs):
    warns = []
    for log in logs:
        if not os.path.exists(log):
            continue
        for line in open(log):
            if OWN_WARN.match(line):
                warns.append(f"{os.path.basename(log)}: {line.strip()[:200]}")
    return warns


def main():
    args = sys.argv[1:]
    if "--list" in args or not args:
        print(__doc__)
        return
    label = args[0]
    if not re.fullmatch(r"r\d+", label):
        print(f"label must look like r15, got {label}")
        sys.exit(2)
    start = None
    only = None
    if "--from" in args:
        start = args[args.index("--from") + 1]
    if "--only" in args:
        only = set(args[args.index("--only") + 1].split(","))

    sf001 = "/root/testdata/sf0.01"
    sf01 = "/root/testdata/sf0.1"
    x30, x90 = "/tmp/graft_scale/x30", "/tmp/graft_scale/x90"
    ckpt = "/tmp/closeout_reliable_ckpt"
    history_logs = []

    def history(step, family, *args):
        """A ratchet record: failures gate, WARNs collect."""
        _, log = run(step, ["python3", "tools/ratchet.py", family, "record",
                            *args], {})
        history_logs.append(log)

    steps = []

    def step(name, fn):
        steps.append((name, fn))

    def test():
        run("test", *sbt_cmd("test"))
        run("test_ratchet",
            ["python3", "-m", "unittest", "tools/test_ratchet.py"], {})
    step("test", test)

    def verify_leg(name, out, env):
        run(f"{name}_run", *sbt_cmd(f'runMain graft.Verify {sf001} {out}',
                                    env_extra=env))
        run(f"{name}_check",
            ["python3", "tools/check.py", sf001, out], {})
    step("verify", lambda: verify_leg("verify", "/tmp/closeout_verify", {}))

    def reliable():
        subprocess.run(["rm", "-rf", ckpt, "/tmp/closeout_verify_rel"])
        os.makedirs(ckpt, exist_ok=True)
        verify_leg("reliable", "/tmp/closeout_verify_rel",
                   {"SPARK_GRAFT_CHECKPOINT_DIR": ckpt})
        run("reliable_parity",
            ["python3", "tools/reliable_parity.py", label,
             f"{LOGDIR}/reliable_run.log", f"{LOGDIR}/reliable_check.log",
             ckpt, "/tmp/closeout_verify_rel"], {})
    step("reliable", reliable)

    def planaudit():
        _, log = run("planaudit", *sbt_cmd(f"runMain graft.PlanAudit {sf001}"))
        fails = [ln for ln in open(log) if ln.startswith("AUDIT FAIL")]
        if fails:
            print("GATE FAILED at planaudit:\n" + "".join(fails[:10]))
            sys.exit(1)
    step("planaudit", planaudit)

    def perfbench(name, workload, trace):
        """Seeds 1-3 of one perfbench workload, their logs joined into
        <name>.log. A run that exits 1 (a failed op or output check)
        still prints its result line: the ratchet refuses it."""
        logs = [run(f"{name}_seed{seed}",
                    ["python3", "perfbench/run.py", "--workload", workload,
                     "--seed", str(seed), "--seconds", "12",
                     "--trace", str(trace)], {}, ok_codes=(0, 1))[1]
                for seed in (1, 2, 3)]
        joined = f"{LOGDIR}/{name}.log"
        with open(joined, "w") as out:
            for log in logs:
                out.write(open(log).read())
        return joined

    step("flush", lambda: history("flush_record", "flush", label,
                                  perfbench("flush", "flush_recover", 1)))
    step("stream", lambda: history("stream_record", "stream", label,
                                   perfbench("stream", "fold_stream", 0)))

    def fx30():
        run("fx30", *java_cmd("graft.tools.Footprint", x30))
        history("fx30_record", "footprint", label)
    step("fx30", fx30)

    def fx90():
        run("fx90", *java_cmd("graft.tools.Footprint", x90, *X90_FAMILY))
        history("fx90_record", "footprint", f"{label}_x90")
    step("fx90", fx90)

    step("ivfcap", lambda: run("ivfcap",
        *java_cmd("graft.tools.IvfCapBench")))

    def bpe():
        run("bpe", *java_cmd("graft.tools.BpeFallbackBench",
                             "ignored", "1000", "60000"))
        history("bpe_record", "bpe", label, f"{LOGDIR}/bpe.log")
    step("bpe", bpe)

    step("benchsweep", lambda: run("benchsweep",
        *java_cmd("graft.Bench", env_extra={
            "SPARK_GRAFT_SF_DIR": sf01, "SPARK_GRAFT_CPUS": "32",
            "SPARK_GRAFT_BENCH_SWEEP": "1"}, xmx="8g")))

    def merge():
        # same input set as the r14 protocol (RUNTIME_SWEEP_bench.json
        # stays its own committed artifact); benchsweep must have
        # written a PASS report too
        run("merge", ["python3", "tools/merge_sweeps.py",
                      "RUNTIME_SWEEP_x30.json",
                      "RUNTIME_SWEEP_footprint_x30.json",
                      "RUNTIME_SWEEP_footprint_x90.json",
                      "RUNTIME_SWEEP_ivfcap.json",
                      "RUNTIME_SWEEP_bpe.json"], {})
        rep = json.load(open(os.path.join(REPO, "RUNTIME_SWEEP_bench.json")))
        if rep.get("status") != "PASS":
            print("GATE FAILED at merge: RUNTIME_SWEEP_bench.json status "
                  f"{rep.get('status')}")
            sys.exit(1)
    step("merge", merge)

    step("parity", lambda: run("parity",
        *java_cmd("graft.tools.LocalClusterParity", sf001,
                  env_extra={"SPARK_HOME": "/opt/spark",
                             "SPARK_SCALA_VERSION": "2.13"})))

    step("execloss", lambda: run("execloss",
        *java_cmd("graft.tools.ExecutorLossSmoke", sf01, "q_minhash_lsh",
                  env_extra={"SPARK_HOME": "/opt/spark",
                             "SPARK_SCALA_VERSION": "2.13"}),
        warn_codes=(2,)))

    step("streamkill", lambda: run("streamkill",
        *java_cmd("graft.streaming.LocalClusterStreamSmoke", "midbatch",
                  env_extra={"SPARK_HOME": "/opt/spark",
                             "SPARK_SCALA_VERSION": "2.13"}),
        warn_codes=(2,)))

    def bench():
        run("bench", *java_cmd("graft.Bench", env_extra={
            "SPARK_GRAFT_SF_DIR": sf01, "SPARK_GRAFT_CPUS": "32"}))
        # Bench prints the JSON line to stdout; the warm ratchet reads
        # BENCH_FULL.json which Bench writes in cwd
        history("warm_record", "warm", label)
    step("bench", bench)

    names = [n for n, _ in steps]
    if start and start not in names:
        print(f"unknown --from step {start}; steps: {names}")
        sys.exit(2)
    if only and not only.issubset(names):
        print(f"unknown --only step(s) {only - set(names)}; steps: {names}")
        sys.exit(2)
    active = False if start else True
    for name, fn in steps:
        if start and name == start:
            active = True
        if only is not None:
            if name in only:
                fn()
            continue
        if active:
            fn()

    warns = collect_warns(history_logs +
                          [f"{LOGDIR}/execloss.log", f"{LOGDIR}/streamkill.log",
                           f"{LOGDIR}/merge.log"])
    print("\n==== close-out complete ====")
    if warns:
        print(f"{len(warns)} WARN(s) need adjudication "
              "(tools/bench_history.md note or a fix):")
        for w in warns:
            print(f"  {w}")
    else:
        print("no WARNs — clean ratchets")


if __name__ == "__main__":
    main()
