"""Tests for tools/ratchet.py: output and history bytes on the committed
histories, one planted input per WARN rule, and the exit codes.

The warm, bpe and footprint strings, exit codes and history hashes were
captured from the per-family ratchet scripts ratchet.py replaced, run on
the same inputs; flush and stream record planted perfbench result lines.
A change in what a family prints or records shows here.

  python3 -m unittest tools/test_ratchet.py
"""
import contextlib
import hashlib
import io
import json
import os
import sys
import tempfile
import unittest
from unittest import mock

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import ratchet  # noqa: E402

PIN = "r16"  # the committed histories are read up to this entry
MiB = 1 << 20


def committed(family):
    with open(os.path.join(HERE, f"{family}_history.json")) as f:
        history = json.load(f)
    return history[:[e["label"] for e in history].index(PIN) + 1]


def source(family, e):
    """The source file text the pinned entry `e` was recorded from."""
    if family == "warm":
        return json.dumps({"basis": e["basis"], "sf": e["sf"],
                           "cold_total": e["cold_total"], "value": e["warm_total"],
                           "warm_total": e["warm_total"], "errors": e["errors"],
                           "failed": e["failed"],
                           "queries": {k: {"warm_best": v} for k, v in e["queries"].items()}})
    if family == "footprint":
        return json.dumps({"sf": e["sf"], "queries": {k: {
            "tasks": q["tasks"], "shuffle_read": q["shuffle_read"],
            "max_task_shuffle_read": q["max_task_read"],
            "peak_task_mem": q["peak_task_mem"], "spill_disk": q["spill_disk"]}
            for k, q in e["queries"].items()}})
    return (f"BPEFALLBACK {e['corpus']} cap={e['cap']} merges={e['merges']} "
            f"counting_jobs={e['counting_jobs']} actions={e['actions']} "
            f"merges_per_job={e['merges_per_job']} wall=9.9 s sf=ignored\n")


def warm(label, **q):
    return {"label": label, "warm_total": sum(q.values()), "queries": q}


def fp(label, sf="/x30", **q):
    return {"label": label, "sf": sf, "queries": {
        k: dict({"skew": None, "peak_task_mem": 0, "spill_disk": 0}, **v)
        for k, v in q.items()}}


CORES = 4  # the core count a planted record runs on


def run(family, history, args, files):
    """ratchet.py <family> <args> on a temp history ({dir} in args and in the
    output is that directory), on a CORES-core host -> (stdout, exit code,
    sha256 of the history)."""
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, f"{family}_history.json")
        if history is not None:
            with open(path, "w") as f:
                json.dump(history, f, indent=1, sort_keys=True)
        for name, text in files.items():
            with open(os.path.join(d, name), "w") as f:
                f.write(text)
        out, code = io.StringIO(), 0
        with mock.patch.object(ratchet, "HERE", d), \
                mock.patch.object(ratchet, "cores", lambda: CORES), \
                contextlib.redirect_stdout(out):
            try:
                ratchet.main([family] + [a.format(dir=d) for a in args])
            except SystemExit as e:
                code = e.code or 0
        sha = None
        if os.path.exists(path):
            with open(path, "rb") as f:
                sha = hashlib.sha256(f.read()).hexdigest()
        return out.getvalue().replace(d, "{dir}"), code, sha


def sha(text):
    return hashlib.sha256(text.encode()).hexdigest()


# Each case: (name, family, history, args, source files, expected stdout,
# exit code, sha256 of the history file afterwards). A stdout written as
# "sha256:<hex>" is compared by its hash (warm prints one line a query);
# None is not compared.
EMPTY = "4f53cda18c2baa0c0354bb5f9a3ecbe5ed12ab4d8e11ba873c2f11161202b945"  # "[]"


def pinned(family, verb, out, digest):
    if verb == "check":
        args, files = ["check"], {}
    else:
        args, files = ["record", PIN, "{dir}/src"], {"src": source(family, committed(family)[-1])}
    return (f"{family} {verb}", family, committed(family), args, files, out, 0, digest)


# Recording the pinned entry again rewrites each committed history byte for
# byte: the digests are those of the committed tools/*_history.json files.
# The flush and stream entries up to the pin came from the test-scope tools
# perfbench replaced (flush seconds and ingest rec/s on local[32]), whose
# logs no longer parse; they stay a closed chain that `check` still reads.
WARM_SHA = "0c7f822566fe38bbcbda54b7f3fcb15891fd5a4827e6057f0bec273525eb15d6"
FLUSH_SHA = "48264ed3ec5d58fa512314c0d849c3e4fa8e7b02af20d06bec597d1ead2c8df4"
STREAM_SHA = "de1625e7ab519d344ac1e500ac4f8597fd057707e606b81d0122b2909d8d769f"
BPE_SHA = "d36146c42310385bc6094335e819f39b8390758ca78bf9520331e0921e4d7c76"
FOOTPRINT_SHA = "9a002e533db7d3bbea250c76405aa4d27e651e1a591538f54ace9b2671a3ab87"
FLUSH_OUT = ("flush: r14 best 0.335 s -> r16 best 0.364 s (ratio vs reference 0.282 s: 1.29x)\n"
             "FLAGS: 0\n")
STREAM_OUT = ("stream: r10_inherited median 32500 rec/s -> r16 median 11716 rec/s "
              "(IQR spread 3%)\n"
              "WARN stream median 32500 -> 11716 rec/s (>1.3x drop round-over-round) — "
              "idle-host re-run + adjudication or fix required\n"
              "FLAGS: 1\n")
BPE_OUT = "bpe merges/job: r14=12.7 -> r16=12.7\nFLAGS: 0\n"
FOOTPRINT_OUT = ("footprints: r14 (195 queries, sf=/tmp/graft_scale/x30) -> "
                 "r16 (195 queries, sf=/tmp/graft_scale/x30)\n"
                 "WARN q_dedup_ngram_auto: peak task mem 171 -> 235 MiB (>1.3x)\n"
                 "WARN q_market_basket: peak task mem 191 -> 351 MiB (>1.3x)\n"
                 "FLAGS: 2\n")
COMMITTED = [
    # 81 lines: the r15 -> r16 totals, 79 "faster" notes, FLAGS: 0
    pinned("warm", "check",
           "sha256:c8def839dd358179309ad6f03339d8e697438e635d7e492d0efa8f3e63373cb8",
           WARM_SHA),
    pinned("warm", "record",
           "sha256:4a287761a27bab0748b9ac52164a8a6accb23b4cf443e2e47544fd9c4d1f8661",
           WARM_SHA),
    pinned("flush", "check", FLUSH_OUT, FLUSH_SHA),
    pinned("stream", "check", STREAM_OUT, STREAM_SHA),
    pinned("bpe", "check", BPE_OUT, BPE_SHA),
    pinned("bpe", "record",
           "recorded r16: merges/job=12.7 -> {dir}/bpe_history.json\n" + BPE_OUT, BPE_SHA),
    pinned("footprint", "check", FOOTPRINT_OUT, FOOTPRINT_SHA),
    pinned("footprint", "record",
           "recorded r16: 195 queries -> {dir}/footprint_history.json\n" + FOOTPRINT_OUT,
           FOOTPRINT_SHA),
]


def rule(name, family, history, out):
    return (name, family, history, ["check"], {}, out, 0, None)


RULES = [
    rule("warm slower", "warm", [warm("a", q1=1.0), warm("b", q1=1.5)],
         "warm totals: a=1.0s -> b=1.5s (1.50x, 1 vs 1 queries)\n"
         "WARN q1: warm 1.00s -> 1.50s (1.50x SLOWER)\n"
         "FLAGS: 1\n"),
    rule("warm failed pass", "warm", [warm("a", q1=1.0), warm("b", q1=0.0)],
         "warm totals: a=1.0s -> b=0.0s (0.00x, 1 vs 1 queries)\n"
         "WARN q1: failed pass present (prev=1.0, cur=0.0)\n"
         "FLAGS: 1\n"),
    rule("warm removed query", "warm", [warm("a", q1=1.0, q2=1.0), warm("b", q1=1.0)],
         "warm totals: a=2.0s -> b=1.0s (0.50x, 1 vs 2 queries)\n"
         "WARN queries removed since a: q2\n"
         "FLAGS: 1\n"),
    rule("warm quiet: sub-0.3 s, faster, new", "warm",
         [warm("a", q1=0.1, q3=2.0), warm("b", q1=0.25, q3=1.0, q4=1.0)],
         "warm totals: a=2.1s -> b=2.2s (1.07x, 3 vs 2 queries)\n"
         "note q3: warm 2.00s -> 1.00s (0.50x faster)\n"
         "new queries: q4\n"
         "FLAGS: 0\n"),
    # entries from before perfbench keep their own rules and chain
    rule("legacy stream drop", "stream", [{"label": "a", "median": 30000, "iqr_spread": 0.1},
                                          {"label": "b", "median": 20000, "iqr_spread": 0.1}],
         "stream: a median 30000 rec/s -> b median 20000 rec/s (IQR spread 10%)\n"
         "WARN stream median 30000 -> 20000 rec/s (>1.3x drop round-over-round) — "
         "idle-host re-run + adjudication or fix required\n"
         "FLAGS: 1\n"),
    rule("legacy flush read growth needs both reads", "flush",
         [{"label": "a", "best": 0.3, "read_latest": None},
          {"label": "b", "best": 0.3, "read_latest": 1.4}],
         "flush: a best 0.300 s -> b best 0.300 s (ratio vs reference 0.282 s: 1.06x)\n"
         "FLAGS: 0\n"),
    rule("bpe bar", "bpe", [{"label": "a", "merges_per_job": 10.5},
                            {"label": "b", "merges_per_job": 9.5}],
         "bpe merges/job: a=10.5 -> b=9.5\n"
         "WARN merges/job 9.5 below the r11 bar (10.0)\n"
         "FLAGS: 1\n"),
    rule("bpe drop", "bpe", [{"label": "a", "merges_per_job": 20.0},
                             {"label": "b", "merges_per_job": 14.0}],
         "bpe merges/job: a=20.0 -> b=14.0\n"
         "WARN merges/job dropped >1.3x vs a\n"
         "FLAGS: 1\n"),
    rule("footprint x30 skew bound", "footprint",
         [fp("a", q_minhash_lsh={"skew": 8.0}), fp("b", q_minhash_lsh={"skew": 9.0})],
         "footprints: a (1 queries, sf=/x30) -> b (1 queries, sf=/x30)\n"
         "WARN q_minhash_lsh: skew 9.0 exceeds documented cap-derived bound 8.5 "
         "(SCALING.md skew table)\n"
         "FLAGS: 1\n"),
    # 10.0 is inside q_containment's x30 bound (11.5): only the x90 table fires
    rule("footprint x90 skew bound", "footprint",
         [fp("a", "/x90", q_containment={"skew": 9.0}),
          fp("b", "/x90", q_containment={"skew": 10.0})],
         "footprints: a (1 queries, sf=/x90) -> b (1 queries, sf=/x90)\n"
         "WARN q_containment: skew 10.0 exceeds documented cap-derived bound 9.5 "
         "(SCALING.md skew table)\n"
         "FLAGS: 1\n"),
    rule("footprint skew growth", "footprint",
         [fp("a", q1={"skew": 2.0}), fp("b", q1={"skew": 3.5})],
         "footprints: a (1 queries, sf=/x30) -> b (1 queries, sf=/x30)\n"
         "WARN q1: skew 2.0 -> 3.5 (>1.5x round-over-round)\n"
         "FLAGS: 1\n"),
    rule("footprint peak memory", "footprint",
         [fp("a", q1={"peak_task_mem": 100 * MiB}), fp("b", q1={"peak_task_mem": 200 * MiB})],
         "footprints: a (1 queries, sf=/x30) -> b (1 queries, sf=/x30)\n"
         "WARN q1: peak task mem 100 -> 200 MiB (>1.3x)\n"
         "FLAGS: 1\n"),
    rule("footprint new spill", "footprint",
         [fp("a", q1={}), fp("b", q1={"spill_disk": 2048 * MiB})],
         "footprints: a (1 queries, sf=/x30) -> b (1 queries, sf=/x30)\n"
         "WARN q1: disk spill newly 2048 MiB (prev 0 MiB)\n"
         "FLAGS: 1\n"),
    rule("footprint coverage", "footprint", [fp("a", q1={}, q2={}), fp("b", q1={})],
         "footprints: a (2 queries, sf=/x30) -> b (1 queries, sf=/x30)\n"
         "WARN q2: present in a but missing from b — footprint coverage shrank\n"
         "FLAGS: 1\n"),
    # the x90 entry between them is a separate chain: c compares with a
    rule("footprint chains by sf", "footprint",
         [fp("a", q1={"peak_task_mem": 100 * MiB}),
          fp("b", "/x90", q1={"peak_task_mem": 1000 * MiB}),
          fp("c", q1={"peak_task_mem": 100 * MiB})],
         "footprints: a (1 queries, sf=/x30) -> c (1 queries, sf=/x30)\n"
         "FLAGS: 0\n"),
    rule("footprint lone entry keeps the bound", "footprint",
         [fp("a", "/x90", q_containment={"skew": 10.0})],
         "footprints: a (1 queries, sf=/x90) -> a (1 queries, sf=/x90)\n"
         "WARN q_containment: skew 10.0 exceeds documented cap-derived bound 9.5 "
         "(SCALING.md skew table)\n"
         "FLAGS: 1\n"),
]

OLD_WARM = json.dumps({"value": 5.0, "warm_total": 4.0,
                       "queries": {"q1": {"cold": 1.0, "warm": 0.5}}})
# The usage lines name ratchet.py, and a missing log is a message with exit
# 2 in every family.
INPUTS = [
    ("warm pre-r11 basis", "warm", [warm("a", q1=0.5)], ["record", "b", "{dir}/src"],
     {"src": OLD_WARM},
     "recorded b: warm_total=4.0s, 1 queries -> {dir}/warm_history.json\n"
     "warm totals: a=0.5s -> b=4.0s (8.00x, 1 vs 1 queries)\n"
     "FLAGS: 0\n",
     0, "4e4448705f37e3799ae241b7d9e6e10e6b2404c707c4281197ed4d4094460fdd"),
    ("warm blank label", "warm", [], ["record", " "], {},
     "usage: ratchet.py warm record <label> [BENCH_FULL.json]\n", 2, EMPTY),
    ("flush no log", "flush", [], ["record", "a"], {},
     "usage: ratchet.py flush record <label> <perfbench flush_recover --trace 1 log>\n",
     2, EMPTY),
    ("bpe missing log", "bpe", [], ["record", "a", "{dir}/missing.log"], {},
     "{dir}/missing.log not found — run BpeFallbackBench first "
     "(see CLAUDE.md close-out order)\n", 2, EMPTY),
    ("flush missing log", "flush", [], ["record", "a", "{dir}/missing.log"], {},
     "{dir}/missing.log not found — run perfbench flush_recover --trace 1 first "
     "(see CLAUDE.md close-out order)\n", 2, EMPTY),
    ("stream missing log", "stream", [], ["record", "a", "{dir}/missing.log"], {},
     "{dir}/missing.log not found — run perfbench fold_stream first "
     "(see CLAUDE.md close-out order)\n", 2, EMPTY),
    ("flush no lines", "flush", [], ["record", "a", "{dir}/src"], {"src": "nothing\n{}\n"},
     "no perfbench result line with snap.upsert_ms found in {dir}/src\n", 2, EMPTY),
    ("stream no lines", "stream", [], ["record", "a", "{dir}/src"], {"src": "nothing\n"},
     "no perfbench result line with op_p50_ms found in {dir}/src\n", 2, EMPTY),
    ("bpe no lines", "bpe", [], ["record", "a", "{dir}/src"], {"src": "nothing\n"},
     "no BPEFALLBACK line found in {dir}/src\n", 2, EMPTY),
    ("empty history", "flush", [], ["check"], {}, "no recorded entries\n", 0, EMPTY),
    ("unknown verb", "warm", None, ["show"], {}, None, 2, None),
    ("unknown family", "latency", None, ["check"], {}, None, 2, None),
]


def result(metrics, correct=True, failed=0):
    """One perfbench run as close-out logs it: run.py's stderr, then its
    JSON result line."""
    return ("[perfbench] 15 ops; tail = p33 (5 of 15 at or below); fail_share = 0/15\n"
            "26/10/21 19:40:30 WARN SparkConf: spark.local.dir will be overridden\n" +
            json.dumps({"correct": correct, "attempted": 15, "failed": failed,
                        "metrics": {k: {"value": v, "unit": "ms"}
                                    for k, v in metrics.items()}}) + "\n")


def flush_run(upsert_ms, read_ms=400.0, **kw):
    """A traced flush_recover run; a layer it does not touch reads 0."""
    return result({"snap.upsert_ms": upsert_ms, "snap.read_ms": read_ms,
                   "state.commit_ms": 0.0}, **kw)


def stream_run(op_p50_ms, **kw):
    """An untraced fold_stream run."""
    return result({"setup_s": 25.0, "work_s": 12.0, "op_p50_ms": op_p50_ms,
                   "op_tail_ms": op_p50_ms, "peak_rss_mb": 2590.0}, **kw)


def flushed(label, best, read=0.4, cores=CORES):
    return {"label": label, "harness": "perfbench", "cores": cores, "best": best,
            "read_latest": read}


def streamed(label, p50, spread=0.1, cores=CORES):
    return {"label": label, "harness": "perfbench", "cores": cores, "op_p50_ms": p50,
            "iqr_spread": spread}


def unchanged(history):
    """The sha256 of `history` as run() writes it: a refused record keeps it."""
    return sha(json.dumps(history, indent=1, sort_keys=True))


def recorded(name, family, history, log, out, code=0, digest=None):
    """ratchet.py <family> record b <log> on `history`."""
    return (name, family, history, ["record", "b", "{dir}/src"], {"src": log}, out, code,
            digest)


GROWTH = "(>1.3x round-over-round) — idle-host re-run + adjudication or fix required\n"
PERFBENCH = [
    recorded("flush: the best upsert and read of the runs; a lone entry keeps the bars",
             "flush", [], flush_run(310.0, 420.0) + flush_run(290.0, 405.0) + flush_run(300.0),
             "recorded b: best 0.290 s on 4 cores -> {dir}/flush_history.json\n"
             "flush: b best 0.290 s -> b best 0.290 s (ratio vs reference 0.282 s: 1.03x)\n"
             "FLAGS: 0\n",
             digest="db290a0c0940fd8956e0c8bcc4ba462085539f46abaa75201ee536aef89650cd"),
    recorded("flush growth", "flush", [flushed("a", 0.3)], flush_run(400.0),
             "recorded b: best 0.400 s on 4 cores -> {dir}/flush_history.json\n"
             "flush: a best 0.300 s -> b best 0.400 s (ratio vs reference 0.282 s: 1.42x)\n"
             "WARN flush best 0.300 -> 0.400 s " + GROWTH +
             "FLAGS: 1\n"),
    recorded("flush reference bar", "flush", [flushed("a", 0.58)], flush_run(600.0),
             "recorded b: best 0.600 s on 4 cores -> {dir}/flush_history.json\n"
             "flush: a best 0.580 s -> b best 0.600 s (ratio vs reference 0.282 s: 2.13x)\n"
             "WARN flush ratio 2.13x exceeds the 2.0x match-or-beat band vs the reference's "
             "published 0.282 s\n"
             "FLAGS: 1\n"),
    recorded("flush read growth", "flush", [flushed("a", 0.3, 1.0)], flush_run(300.0, 1400.0),
             "recorded b: best 0.300 s on 4 cores -> {dir}/flush_history.json\n"
             "flush: a best 0.300 s -> b best 0.300 s (ratio vs reference 0.282 s: 1.06x)\n"
             "WARN flush read_latest 1.000 -> 1.400 s " + GROWTH +
             "FLAGS: 1\n"),
    # an untraced run has no snap metrics; a traced fold_stream run reads 0
    recorded("flush reads traced flush_recover lines only", "flush", [flushed("a", 0.3)],
             stream_run(500.0) + result({"snap.upsert_ms": 0.0, "state.commit_ms": 17.5}) +
             flush_run(310.0),
             "recorded b: best 0.310 s on 4 cores -> {dir}/flush_history.json\n"
             "flush: a best 0.300 s -> b best 0.310 s (ratio vs reference 0.282 s: 1.10x)\n"
             "FLAGS: 0\n"),
    recorded("flush refuses a failed check", "flush", [flushed("a", 0.3)],
             flush_run(300.0) + flush_run(300.0, correct=False),
             "REFUSED: a perfbench run failed (correct=false, failed=0) — fix the engine "
             "before recording a number\n",
             1, unchanged([flushed("a", 0.3)])),
    recorded("stream: the median op_p50 of the runs and their spread", "stream", [],
             stream_run(310.0) + stream_run(300.0) + stream_run(330.0),
             "recorded b: op_p50 310.0 ms on 4 cores -> {dir}/stream_history.json\n"
             "stream: b op_p50 310.0 ms -> b op_p50 310.0 ms (IQR spread 10%)\n"
             "FLAGS: 0\n",
             digest="cc4925cb7d96bd742e23e23134e007acda7167eea971394b727f20ce0f701732"),
    recorded("stream growth", "stream", [streamed("a", 300.0)], stream_run(400.0),
             "recorded b: op_p50 400.0 ms on 4 cores -> {dir}/stream_history.json\n"
             "stream: a op_p50 300.0 ms -> b op_p50 400.0 ms (IQR spread n/a)\n"
             "WARN stream op_p50 300.0 -> 400.0 ms (>1.3x growth round-over-round) — "
             "idle-host re-run + adjudication or fix required\n"
             "FLAGS: 1\n"),
    recorded("stream spread", "stream", [streamed("a", 300.0)],
             stream_run(200.0) + stream_run(300.0) + stream_run(400.0),
             "recorded b: op_p50 300.0 ms on 4 cores -> {dir}/stream_history.json\n"
             "stream: a op_p50 300.0 ms -> b op_p50 300.0 ms (IQR spread 67%)\n"
             "WARN stream IQR spread 67% exceeds 35% — the median is noise; re-run idle\n"
             "FLAGS: 1\n"),
    recorded("stream refuses a failed op", "stream", [streamed("a", 300.0)],
             stream_run(300.0) + stream_run(300.0, failed=1),
             "REFUSED: a perfbench run failed (correct=true, failed=1) — fix the engine "
             "before recording a number\n",
             1, unchanged([streamed("a", 300.0)])),
    recorded("stream refuses a failed check", "stream", [], stream_run(300.0, correct=False),
             "REFUSED: a perfbench run failed (correct=false, failed=0) — fix the engine "
             "before recording a number\n",
             1, EMPTY),
]

# an entry compares only with entries of its harness and core count
CHAINS = [
    recorded("flush: a 32-core entry is no basis for a 4-core run", "flush",
             [flushed("a", 0.1, cores=32)], flush_run(300.0),
             "recorded b: best 0.300 s on 4 cores -> {dir}/flush_history.json\n"
             "flush: b best 0.300 s -> b best 0.300 s (ratio vs reference 0.282 s: 1.06x)\n"
             "FLAGS: 0\n"),
    rule("stream: a 4-core entry skips the 32-core and legacy ones between", "stream",
         [streamed("a", 300.0), streamed("b", 100.0, cores=32),
          {"label": "c", "median": 30000, "iqr_spread": 0.1}, streamed("d", 310.0)],
         "stream: a op_p50 300.0 ms -> d op_p50 310.0 ms (IQR spread 10%)\n"
         "FLAGS: 0\n"),
    rule("flush: a legacy entry compares with the legacy one before it", "flush",
         [{"label": "a", "best": 0.3}, flushed("b", 0.1), {"label": "c", "best": 0.35}],
         "flush: a best 0.300 s -> c best 0.350 s (ratio vs reference 0.282 s: 1.24x)\n"
         "FLAGS: 0\n"),
    ("flush: the first perfbench entry after the committed history stands alone", "flush",
     committed("flush"), ["record", "r17", "{dir}/src"], {"src": flush_run(300.0)},
     "recorded r17: best 0.300 s on 4 cores -> {dir}/flush_history.json\n"
     "flush: r17 best 0.300 s -> r17 best 0.300 s (ratio vs reference 0.282 s: 1.06x)\n"
     "FLAGS: 0\n", 0, None),
    ("stream: the first perfbench entry after the committed history stands alone",
     "stream", committed("stream"), ["record", "r17", "{dir}/src"],
     {"src": stream_run(300.0)},
     "recorded r17: op_p50 300.0 ms on 4 cores -> {dir}/stream_history.json\n"
     "stream: r17 op_p50 300.0 ms -> r17 op_p50 300.0 ms (IQR spread n/a)\n"
     "FLAGS: 0\n", 0, None),
]


class RatchetTest(unittest.TestCase):
    def check(self, cases):
        for name, family, history, args, files, out, code, digest in cases:
            with self.subTest(name):
                got_out, got_code, got_sha = run(family, history, args, files)
                if out is not None and out.startswith("sha256:"):
                    self.assertEqual(out, "sha256:" + sha(got_out), got_out)
                elif out is not None:
                    self.assertEqual(out, got_out)
                self.assertEqual(code, got_code)
                if digest is not None:
                    self.assertEqual(digest, got_sha)

    def test_committed_histories(self):
        self.check(COMMITTED)

    def test_each_rule_fires(self):
        self.check(RULES)

    def test_inputs_and_exit_codes(self):
        self.check(INPUTS)

    def test_perfbench_records(self):
        self.check(PERFBENCH)

    def test_chains(self):
        self.check(CHAINS)

    def test_bare_invocation_prints_usage(self):
        out = io.StringIO()
        with contextlib.redirect_stdout(out), self.assertRaises(SystemExit) as e:
            ratchet.main([])
        self.assertEqual(0, e.exception.code)
        self.assertIn("ratchet.py <family> record", out.getvalue())


if __name__ == "__main__":
    unittest.main()
