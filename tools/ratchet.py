#!/usr/bin/env python3
"""One per-round ratchet for every close-out number, with automatic WARNs.

Each family records its runs in tools/<family>_history.json and WARNs on
the newest entry against the previous one of its chain (footprint: the
same corpus, so an x90 run never ratchets against an x30 one; flush and
stream: the same harness and core count):

  warm       sf0.1 Bench's BENCH_FULL.json: warm per-query seconds
  flush      perfbench flush_recover --trace 1 log: `best` is the lowest
             snap.upsert_ms over the runs, the 2000 x 10 KiB state flush
             the reference publishes at 0.282 s; `read_latest` the lowest
             snap.read_ms, the recovery read
  stream     perfbench fold_stream log: the median op_p50_ms over the
             runs, one 10,000-record microbatch, and its IQR spread
  bpe        BpeFallbackBench log: merges per counting job
  footprint  Footprint's FOOTPRINT.json (x30 / x90): per-query skew, peak
             task memory, disk spill

A perfbench log holds one JSON result line per run (close-out runs seeds
1-3); a run whose output check failed or that failed an op is refused.
Entries from before perfbench (the r10-r16 test-scope tools on local[32]:
flush seconds, ingest rec/s; no harness or core count) form their own
closed chains.

The rules are the `rules` of each FAMILIES row. A WARN needs an idle-host
re-run and either a fix or an adjudication note in tools/bench_history.md.

Usage:
  python3 tools/ratchet.py <family> record <label> [source]
      # parse the source (warm and footprint default to the repo's
      # BENCH_FULL.json / FOOTPRINT.json), replace any entry with the
      # same label, then compare
  python3 tools/ratchet.py <family> check     # re-compare the newest entries

Exit code: 0 on success, flags included (a flag demands adjudication, not
an automatic failure); 1 when flush or stream refuses a failed perfbench
run; 2 on a usage error or a missing or unparseable source.
"""
import json
import os
import re
import statistics
import sys
from collections import namedtuple

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def die(msg, code=2):
    print(msg)
    sys.exit(code)


def read(path):
    with open(path) as f:
        return f.read()


# ---- parsers: source file -> the entry's recorded fields ----
def parse_warm(text, path):
    full = json.loads(text)
    # r11+ files carry a per-query warm_best and value = warm total; pre-r11
    # files a per-query warm and value = cold total. Old rounds stay readable.
    new_basis = full.get("basis") == "warm_best_of_2"
    return {"sf": full.get("sf"), "basis": full.get("basis", "warm_single"),
            "cold_total": round(full["cold_total"] if new_basis else full["value"], 3),
            "warm_total": round(full["warm_total"], 3),
            "errors": full.get("errors", 0), "failed": full.get("failed", []),
            "queries": {k: round(v.get("warm_best", v.get("warm")), 3)
                        for k, v in full["queries"].items()}}


def cores():
    """The host's core count, as perfbench sizes its session (local[n])."""
    return len(os.sched_getaffinity(0))


def perfbench_runs(text, path, metric):
    """The metrics of each perfbench JSON result line in `text` that measured
    `metric`: a line of another workload or trace mode lacks it or reads 0."""
    runs = []
    for line in text.splitlines():
        try:
            res = json.loads(line)
        except ValueError:
            continue
        if isinstance(res, dict) and res.get("metrics", {}).get(metric, {}).get("value"):
            runs.append(res)
    if not runs:
        die(f"no perfbench result line with {metric} found in {path}")
    for res in runs:
        if res.get("correct") is not True or res.get("failed", 0) > 0:
            die(f"REFUSED: a perfbench run failed (correct={json.dumps(res.get('correct'))}, "
                f"failed={res.get('failed')}) — fix the engine before recording "
                "a number", 1)
    return [{k: m["value"] for k, m in res["metrics"].items()} for res in runs]


def parse_flush(text, path):
    runs = perfbench_runs(text, path, "snap.upsert_ms")
    upserts = [round(r["snap.upsert_ms"] / 1000, 4) for r in runs]
    return {"harness": "perfbench", "cores": cores(), "best": min(upserts),
            "runs": upserts,
            "read_latest": round(min(r["snap.read_ms"] for r in runs) / 1000, 4)}


def parse_stream(text, path):
    p50 = [round(r["op_p50_ms"], 1) for r in perfbench_runs(text, path, "op_p50_ms")]
    median = statistics.median(p50)
    spread = None
    if len(p50) > 1:  # perfbench README's spread: quartile distance over the median
        q1, _, q3 = statistics.quantiles(p50, n=4)
        spread = round((q3 - q1) / median, 3)
    return {"harness": "perfbench", "cores": cores(), "op_p50_ms": median,
            "runs": p50, "iqr_spread": spread}


def parse_bpe(text, path):
    hits = re.findall(
        r"BPEFALLBACK\s+(\S+)\s+cap=(\d+)\s+merges=(\d+)\s+counting_jobs=(\d+)\s+"
        r"actions=(\d+)\s+merges_per_job=([\d.]+)", text)
    if not hits:
        die(f"no BPEFALLBACK line found in {path}")
    corpus, cap, merges, jobs, actions, mpj = hits[-1]
    return {"corpus": corpus, "cap": int(cap), "merges": int(merges),
            "counting_jobs": int(jobs), "actions": int(actions),
            "merges_per_job": float(mpj)}


READ_FLOOR = 8 << 20   # skew undefined below 8 MiB total shuffle read
MAX_FLOOR = 16 << 20   # ... or when the hottest task reads < 16 MiB: a
#                        4 MiB "hot" task is no straggler wall at any ratio


def derive(raw):
    """FOOTPRINT.json row -> the ratcheted signals."""
    tasks = max(raw.get("tasks", 0), 1)
    total = raw.get("shuffle_read", 0)
    mx = raw.get("max_task_shuffle_read", 0)
    skew = mx / (total / tasks) if total >= READ_FLOOR and mx >= MAX_FLOOR else None
    return {"skew": round(skew, 2) if skew is not None else None,
            "max_task_read": mx, "peak_task_mem": raw.get("peak_task_mem", 0),
            "spill_disk": raw.get("spill_disk", 0), "shuffle_read": total,
            "tasks": raw.get("tasks", 0)}


def parse_footprint(text, path):
    fp = json.loads(text)
    return {"sf": fp.get("sf"),
            "queries": {k: derive(v) for k, v in fp["queries"].items()}}


# ---- rules: (prev, cur, rule constants) -> WARN / note / header lines ----
def compare_warm(prev, cur, r):
    pq, cq = prev["queries"], cur["queries"]
    out = [f"warm totals: {prev['label']}={prev['warm_total']:.1f}s -> "
           f"{cur['label']}={cur['warm_total']:.1f}s "
           f"({cur['warm_total'] / max(prev['warm_total'], 1e-9):.2f}x, "
           f"{len(cq)} vs {len(pq)} queries)"]
    for name in sorted(set(pq) & set(cq)):
        p, c = pq[name], cq[name]
        if p <= 0 or c <= 0:
            out.append(f"WARN {name}: failed pass present (prev={p}, cur={c})")
        elif max(p, c) >= r["min_s"]:
            ratio = c / p
            if ratio > r["ratio"]:
                out.append(f"WARN {name}: warm {p:.2f}s -> {c:.2f}s ({ratio:.2f}x SLOWER)")
            elif ratio < 1 / r["ratio"]:
                out.append(f"note {name}: warm {p:.2f}s -> {c:.2f}s ({ratio:.2f}x faster)")
    gone, new = sorted(set(pq) - set(cq)), sorted(set(cq) - set(pq))
    if gone:
        out.append(f"WARN queries removed since {prev['label']}: {', '.join(gone)}")
    if new:
        out.append(f"new queries: {', '.join(new)}")
    return out


def compare_flush(prev, cur, r):
    ratio = cur["best"] / r["reference"]
    out = [f"flush: {prev['label']} best {prev['best']:.3f} s -> "
           f"{cur['label']} best {cur['best']:.3f} s "
           f"(ratio vs reference {r['reference']} s: {ratio:.2f}x)"]
    if cur["best"] > r["growth"] * prev["best"]:
        out.append(f"WARN flush best {prev['best']:.3f} -> {cur['best']:.3f} s "
                   f"(>{r['growth']}x round-over-round) — idle-host re-run + "
                   "adjudication or fix required")
    if ratio > r["ratio_bar"]:
        out.append(f"WARN flush ratio {ratio:.2f}x exceeds the {r['ratio_bar']}x "
                   "match-or-beat band vs the reference's published 0.282 s")
    # the recovery read, when both entries recorded one
    p_read, c_read = prev.get("read_latest"), cur.get("read_latest")
    if p_read and c_read and c_read > r["growth"] * p_read:
        out.append(f"WARN flush read_latest {p_read:.3f} -> {c_read:.3f} s "
                   f"(>{r['growth']}x round-over-round) — idle-host re-run + "
                   "adjudication or fix required")
    return out


def compare_stream(prev, cur, r):
    # an entry from before perfbench holds ingest rec/s (a drop is worse),
    # a perfbench one the op_p50_ms of a batch (growth is worse)
    legacy = "median" in cur
    key, name, unit, worse = (("median", "median", "rec/s", "drop") if legacy
                              else ("op_p50_ms", "op_p50", "ms", "growth"))
    p, c = prev[key], cur[key]
    spread = cur["iqr_spread"]
    out = [f"stream: {prev['label']} {name} {p} {unit} -> {cur['label']} {name} {c} {unit} "
           f"(IQR spread {'n/a' if spread is None else f'{spread * 100:.0f}%'})"]
    if (c * r["growth"] < p) if legacy else (c > r["growth"] * p):
        out.append(f"WARN stream {name} {p} -> {c} {unit} (>{r['growth']}x {worse} "
                   "round-over-round) — idle-host re-run + adjudication or fix required")
    if spread is not None and spread > r["spread_bar"]:
        out.append(f"WARN stream IQR spread {spread * 100:.0f}% exceeds "
                   f"{r['spread_bar'] * 100:.0f}% — the median is noise; re-run idle")
    return out


def compare_bpe(prev, cur, r):
    out = [f"bpe merges/job: {prev['label']}={prev['merges_per_job']} -> "
           f"{cur['label']}={cur['merges_per_job']}"]
    if cur["merges_per_job"] < r["bar"]:
        out.append(f"WARN merges/job {cur['merges_per_job']} below the r11 bar ({r['bar']})")
    if cur["merges_per_job"] * r["drop"] < prev["merges_per_job"]:
        out.append(f"WARN merges/job dropped >{r['drop']}x vs {prev['label']}")
    return out


# Documented cap-derived skew bounds (SCALING.md "Per-task skew" table): an
# explicit cap in the code bounds each hot task (population guards on (lang,
# band) blocks, 8x-block-cap LSH bucket caps), so max/avg stays under ~1.5x
# the measured concentration. A breach means a cap stopped binding.
SKEW_BOUNDS = {                     # x30, measured @ r13 HEAD
    "q_substring_dup_fast": 3.5,    # 2.06
    "q_minhash_lsh": 8.5,           # 5.72
    "q_dedup_ngram_auto": 13.5,     # 9.10
    "q_dedup_ngram": 9.5,           # 6.30
    "q_containment": 11.5,          # 7.53
    "q_dedup_lsh_verified": 7.0,    # 4.45
}
# The pair family's concentration grows ~n^0.3-0.4, so x90 runs get their
# own bounds. q_dedup_ngram_auto has none: its quadratic demo's x90 shuffle
# exceeds the host's disk (its linear twin q_dedup_auto_clusters is chained).
SKEW_BOUNDS_X90 = {                 # measured @ r15
    "q_substring_dup_fast": 3.5,    # 2.18
    "q_minhash_lsh": 8.5,           # 5.67 (5.7-6.2 across runs)
    "q_containment": 9.5,           # below the max-task floor (implied 6.3)
}


def compare_footprint(prev, cur, r):
    pq, cq = prev["queries"], cur["queries"]
    bounds = r["bounds_x90"] if cur.get("sf") and "x90" in cur["sf"] else r["bounds"]
    out = [f"footprints: {prev['label']} ({len(pq)} queries, sf={prev['sf']})"
           f" -> {cur['label']} ({len(cq)} queries, sf={cur['sf']})"]
    # a query dropped from the run list would otherwise exit the ratchet
    for name in sorted(set(pq) - set(cq)):
        out.append(f"WARN {name}: present in {prev['label']} but missing from "
                   f"{cur['label']} — footprint coverage shrank")
    for name in sorted(cq):
        c, p = cq[name], pq.get(name)
        if c["skew"] is not None:
            bound = bounds.get(name)
            if bound is not None and c["skew"] > bound:
                out.append(f"WARN {name}: skew {c['skew']:.1f} exceeds documented "
                           f"cap-derived bound {bound} (SCALING.md skew table)")
            if (p and p.get("skew") and c["skew"] > r["skew_growth"] * p["skew"]
                    and c["skew"] > 2.0):
                out.append(f"WARN {name}: skew {p['skew']:.1f} -> {c['skew']:.1f} "
                           f"(>{r['skew_growth']}x round-over-round)")
        if p:
            if (c["peak_task_mem"] > r["peak_floor"]
                    and c["peak_task_mem"] > r["peak_growth"] * max(p["peak_task_mem"], 1)):
                out.append(f"WARN {name}: peak task mem {p['peak_task_mem'] >> 20} -> "
                           f"{c['peak_task_mem'] >> 20} MiB (>{r['peak_growth']}x)")
            if c["spill_disk"] > r["spill_new"] and p["spill_disk"] < r["spill_new"] // 4:
                out.append(f"WARN {name}: disk spill newly {c['spill_disk'] >> 20} MiB "
                           f"(prev {p['spill_disk'] >> 20} MiB)")
    return out


# ---- the spec table, one row per family. source: the default source
# file (repo root), or None when one is required; producer: the close-out
# step that writes it; chain: the entry keys that split the history into
# separately ratcheted chains (none: one chain) ----
Family = namedtuple("Family", "source producer parse summary compare rules chain")
PERFBENCH_CHAIN = ("harness", "cores")

FAMILIES = {
    "warm": Family(
        "BENCH_FULL.json", "the sf0.1 Bench step", parse_warm,
        lambda e: f"warm_total={e['warm_total']}s, {len(e['queries'])} queries",
        compare_warm, {"ratio": 1.3, "min_s": 0.3}, ()),
    "flush": Family(
        None, "perfbench flush_recover --trace 1", parse_flush,
        lambda e: f"best {e['best']:.3f} s on {e['cores']} cores",
        compare_flush, {"growth": 1.3, "reference": 0.282, "ratio_bar": 2.0},
        PERFBENCH_CHAIN),
    "stream": Family(
        None, "perfbench fold_stream", parse_stream,
        lambda e: f"op_p50 {e['op_p50_ms']} ms on {e['cores']} cores",
        compare_stream, {"growth": 1.3, "spread_bar": 0.35}, PERFBENCH_CHAIN),
    "bpe": Family(
        None, "BpeFallbackBench", parse_bpe,
        lambda e: f"merges/job={e['merges_per_job']}",
        compare_bpe, {"bar": 10.0, "drop": 1.3}, ()),
    "footprint": Family(
        "FOOTPRINT.json", "the x30 Footprint step", parse_footprint,
        lambda e: f"{len(e['queries'])} queries",
        compare_footprint,
        {"bounds": SKEW_BOUNDS, "bounds_x90": SKEW_BOUNDS_X90,
         "skew_growth": 1.5,        # round-over-round max/avg growth
         "peak_growth": 1.3,        # round-over-round peak task memory growth
         "peak_floor": 64 << 20,    # ignore peak ratios under 64 MiB (allocator noise)
         "spill_new": 1 << 30},     # spill newly above 1 GiB
        ("sf",)),
}


def main(argv):
    if not argv or argv[0] not in FAMILIES or argv[1:2] not in (["record"], ["check"]):
        print(__doc__)
        sys.exit(2 if argv else 0)
    name, fam = argv[0], FAMILIES[argv[0]]
    path = os.path.join(HERE, f"{name}_history.json")
    history = json.loads(read(path)) if os.path.exists(path) else []
    if argv[1] == "record":
        if len(argv) < 3 or not argv[2].strip() or (len(argv) < 4 and not fam.source):
            source = f"[{fam.source}]" if fam.source else f"<{fam.producer} log>"
            die(f"usage: ratchet.py {name} record <label> {source}")
        label = argv[2]
        src = argv[3] if len(argv) > 3 else os.path.join(REPO, fam.source)
        if not os.path.exists(src):
            die(f"{src} not found — run {fam.producer} first "
                "(see CLAUDE.md close-out order)")
        entry = {"label": label, **fam.parse(read(src), src)}
        history = [e for e in history if e["label"] != label] + [entry]
        with open(path, "w") as f:
            json.dump(history, f, indent=1, sort_keys=True)
        print(f"recorded {label}: {fam.summary(entry)} -> {path}")
    if not history:
        print("no recorded entries")
        return
    # the newest entry against the previous one of its chain; a lone entry
    # is compared with itself, so the absolute bars still apply
    def key(e):
        return [e.get(k) for k in fam.chain]
    chain = [e for e in history if key(e) == key(history[-1])]
    lines = fam.compare(chain[-2] if len(chain) > 1 else chain[-1], chain[-1], fam.rules)
    for line in lines:
        print(line)
    print(f"FLAGS: {sum(line.startswith('WARN') for line in lines)}")


if __name__ == "__main__":
    main(sys.argv[1:])
