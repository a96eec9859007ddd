"""Tests for tools/ratchet.py: output and history bytes on the committed
histories, one planted input per WARN rule, and the exit codes.

The expected strings, exit codes and history hashes were captured from
the per-family ratchet scripts ratchet.py replaced, run on the same
inputs, so a change in what a family prints or records shows here.

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
    if family == "flush":
        return "".join(
            [f"FLUSHBENCH upsert run{i} {s:.3f} s (keys=2000 bytes=10240 parts=8)\n"
             for i, s in enumerate(e["runs"], 1)] +
            [f"FLUSHBENCH readLatest {e['read_latest']:.3f} s (2000 keys over 3 generations)\n",
             f"FLUSHBENCH best {e['best']:.3f} s vs reference 0.282-0.300 s\n"])
    if family == "stream":
        return (f"STREAMBENCH steady-state mean {e['mean']} rec/s, median {e['median']} "
                f"rec/s, IQR spread {e['iqr_spread'] * 100:.0f}% (range 1-2) over 8 steady "
                "batches of 11111 records (88888 records, 7.50 s); keys=1500 fold_check=true\n")
    return (f"BPEFALLBACK {e['corpus']} cap={e['cap']} merges={e['merges']} "
            f"counting_jobs={e['counting_jobs']} actions={e['actions']} "
            f"merges_per_job={e['merges_per_job']} wall=9.9 s sf=ignored\n")


def warm(label, **q):
    return {"label": label, "warm_total": sum(q.values()), "queries": q}


def fp(label, sf="/x30", **q):
    return {"label": label, "sf": sf, "queries": {
        k: dict({"skew": None, "peak_task_mem": 0, "spill_disk": 0}, **v)
        for k, v in q.items()}}


def run(family, history, args, files):
    """ratchet.py <family> <args> on a temp history ({dir} in args and in the
    output is that directory) -> (stdout, exit code, sha256 of the history)."""
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, f"{family}_history.json")
        if history is not None:
            with open(path, "w") as f:
                json.dump(history, f, indent=1, sort_keys=True)
        for name, text in files.items():
            with open(os.path.join(d, name), "w") as f:
                f.write(text)
        out, code = io.StringIO(), 0
        with mock.patch.object(ratchet, "HERE", d), contextlib.redirect_stdout(out):
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
    args = ["check"] if verb == "check" else ["record", PIN, "{dir}/src"]
    return (f"{family} {verb}", family, committed(family), args,
            {"src": source(family, committed(family)[-1])}, out, 0, digest)


# Recording the pinned entry again rewrites each committed history byte for
# byte: the digests are those of the committed tools/*_history.json files.
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
    pinned("flush", "record",
           "recorded r16: best 0.364 s -> {dir}/flush_history.json\n" + FLUSH_OUT, FLUSH_SHA),
    pinned("stream", "check", STREAM_OUT, STREAM_SHA),
    pinned("stream", "record",
           "recorded r16: median 11716 rec/s -> {dir}/stream_history.json\n" + STREAM_OUT,
           STREAM_SHA),
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
    rule("flush growth", "flush", [{"label": "a", "best": 0.3}, {"label": "b", "best": 0.4}],
         "flush: a best 0.300 s -> b best 0.400 s (ratio vs reference 0.282 s: 1.42x)\n"
         "WARN flush best 0.300 -> 0.400 s (>1.3x round-over-round) — idle-host re-run + "
         "adjudication or fix required\n"
         "FLAGS: 1\n"),
    rule("flush reference bar", "flush",
         [{"label": "a", "best": 0.58}, {"label": "b", "best": 0.6}],
         "flush: a best 0.580 s -> b best 0.600 s (ratio vs reference 0.282 s: 2.13x)\n"
         "WARN flush ratio 2.13x exceeds the 2.0x match-or-beat band vs the reference's "
         "published 0.282 s\n"
         "FLAGS: 1\n"),
    rule("flush read growth", "flush",
         [{"label": "a", "best": 0.3, "read_latest": 1.0},
          {"label": "b", "best": 0.3, "read_latest": 1.4}],
         "flush: a best 0.300 s -> b best 0.300 s (ratio vs reference 0.282 s: 1.06x)\n"
         "WARN flush read_latest 1.000 -> 1.400 s (>1.3x round-over-round) — idle-host "
         "re-run + adjudication or fix required\n"
         "FLAGS: 1\n"),
    rule("flush read growth needs both reads", "flush",
         [{"label": "a", "best": 0.3, "read_latest": None},
          {"label": "b", "best": 0.3, "read_latest": 1.4}],
         "flush: a best 0.300 s -> b best 0.300 s (ratio vs reference 0.282 s: 1.06x)\n"
         "FLAGS: 0\n"),
    rule("stream drop", "stream", [{"label": "a", "median": 30000, "iqr_spread": 0.1},
                                   {"label": "b", "median": 20000, "iqr_spread": 0.1}],
         "stream: a median 30000 rec/s -> b median 20000 rec/s (IQR spread 10%)\n"
         "WARN stream median 30000 -> 20000 rec/s (>1.3x drop round-over-round) — "
         "idle-host re-run + adjudication or fix required\n"
         "FLAGS: 1\n"),
    rule("stream spread", "stream", [{"label": "a", "median": 30000, "iqr_spread": 0.1},
                                     {"label": "b", "median": 30000, "iqr_spread": 0.5}],
         "stream: a median 30000 rec/s -> b median 30000 rec/s (IQR spread 50%)\n"
         "WARN stream IQR spread 50% exceeds 35% — the median is noise; re-run idle\n"
         "FLAGS: 1\n"),
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
REFUSED = ("STREAMBENCH steady-state mean 9 rec/s, median 9 rec/s, IQR spread 1% "
           "(range 1-2); keys=1 fold_check=false\n")
# The usage lines name ratchet.py, and a missing log is a message with exit
# 2 in every family (it was a traceback, exit 1, in flush and stream).
INPUTS = [
    ("warm pre-r11 basis", "warm", [warm("a", q1=0.5)], ["record", "b", "{dir}/src"],
     {"src": OLD_WARM},
     "recorded b: warm_total=4.0s, 1 queries -> {dir}/warm_history.json\n"
     "warm totals: a=0.5s -> b=4.0s (8.00x, 1 vs 1 queries)\n"
     "FLAGS: 0\n",
     0, "4e4448705f37e3799ae241b7d9e6e10e6b2404c707c4281197ed4d4094460fdd"),
    ("flush best from runs", "flush", [], ["record", "a", "{dir}/src"],
     {"src": "FLUSHBENCH upsert run1 0.500 s\nFLUSHBENCH upsert run2 0.400 s\n"},
     "recorded a: best 0.400 s -> {dir}/flush_history.json\n"
     "flush: a best 0.400 s -> a best 0.400 s (ratio vs reference 0.282 s: 1.42x)\n"
     "FLAGS: 0\n",
     0, "7b4b69783c4d8833b4da955bff2353d6d5db40b7a4a07c6cfb39fcee15ced7a0"),
    ("stream refuses a failed fold", "stream", [{"label": "a", "median": 1, "iqr_spread": 0.0}],
     ["record", "b", "{dir}/src"], {"src": REFUSED},
     "REFUSED: fold self-check failed — fix the fold before recording a throughput number\n",
     1, "66e7cf419bc5c6e3e631fa6f081e5780564ee8a86a83c114760349aa8d3b9bb3"),
    ("warm blank label", "warm", [], ["record", " "], {},
     "usage: ratchet.py warm record <label> [BENCH_FULL.json]\n", 2, EMPTY),
    ("flush no log", "flush", [], ["record", "a"], {},
     "usage: ratchet.py flush record <label> <FlushBench log>\n", 2, EMPTY),
    ("bpe missing log", "bpe", [], ["record", "a", "{dir}/missing.log"], {},
     "{dir}/missing.log not found — run BpeFallbackBench first "
     "(see CLAUDE.md close-out order)\n", 2, EMPTY),
    ("flush missing log", "flush", [], ["record", "a", "{dir}/missing.log"], {},
     "{dir}/missing.log not found — run FlushBench first (see CLAUDE.md close-out order)\n",
     2, EMPTY),
    ("stream missing log", "stream", [], ["record", "a", "{dir}/missing.log"], {},
     "{dir}/missing.log not found — run StreamBench first (see CLAUDE.md close-out order)\n",
     2, EMPTY),
    ("flush no lines", "flush", [], ["record", "a", "{dir}/src"], {"src": "nothing\n"},
     "no FLUSHBENCH lines found in {dir}/src\n", 2, EMPTY),
    ("stream no lines", "stream", [], ["record", "a", "{dir}/src"], {"src": "nothing\n"},
     "no STREAMBENCH summary line found in {dir}/src\n", 2, EMPTY),
    ("bpe no lines", "bpe", [], ["record", "a", "{dir}/src"], {"src": "nothing\n"},
     "no BPEFALLBACK line found in {dir}/src\n", 2, EMPTY),
    ("empty history", "flush", [], ["check"], {}, "no recorded entries\n", 0, EMPTY),
    ("unknown verb", "warm", None, ["show"], {}, None, 2, None),
    ("unknown family", "latency", None, ["check"], {}, None, 2, None),
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

    def test_bare_invocation_prints_usage(self):
        out = io.StringIO()
        with contextlib.redirect_stdout(out), self.assertRaises(SystemExit) as e:
            ratchet.main([])
        self.assertEqual(0, e.exception.code)
        self.assertIn("ratchet.py <family> record", out.getvalue())


if __name__ == "__main__":
    unittest.main()
