#!/usr/bin/env python3
"""Alternating parent/change pairs of one cdcbench workload, and the
verdict of the gain rule on them.

    python3 tools/ab_pairs.py --parent DIR --change DIR --workload tail \
        [--seeds 1-10] [--metric latency_p50_ms] [--out pairs.jsonl]

DIR is a checkout (a repository root). Each seed is one pair: both
checkouts run `python3 cdcbench/run.py` with that seed and the
`run_seconds` of the change's BENCHMARK.json, one JVM at a time; odd
seeds run the parent first, even seeds the change first. Every result
line is appended to --out (the format of cdcbench/sweep.py, plus a
"side" field), so an interrupted series keeps its finished pairs.

The report gives, for every end-to-end metric, the per-pair values, the
change's wins (ties count for neither side), each side's quartiles, and
for --metric whether the change won at least 9 of every 10 pairs and
its median differs from the parent's by more than the parent's
interquartile range. Exits 1 if a run failed or was incorrect.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def quart(xs):
    return tuple(statistics.quantiles(xs, n=4)) if len(xs) > 1 else (xs[0],) * 3


def run(checkout, bench, workload, seed):
    t0 = time.monotonic()
    p = subprocess.run(bench["command"] + ["--workload", workload, "--seed", str(seed),
                                           "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                       cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "null"
    rec = {"workload": workload, "seed": seed, "trace": 0, "rc": p.returncode,
           "wall_s": round(time.monotonic() - t0, 2),
           "result": json.loads(last) if p.returncode == 0 else None}
    if p.returncode != 0:
        rec["stderr"] = p.stderr[-2000:]
    return rec


def good(rec):
    r = rec["result"]
    return bool(r) and r["correct"] and not r["failed"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--metric", default="latency_p50_ms")
    ap.add_argument("--out", default="ab_pairs.jsonl")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(a.change, "BENCHMARK.json")))
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}

    pairs = {}
    for s in seeds(a.seeds):
        order = ["parent", "change"] if s % 2 else ["change", "parent"]
        for side in order:
            rec = run(sides[side], bench, a.workload, s)
            rec["side"] = side
            with open(a.out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            pairs.setdefault(s, {})[side] = rec
            r = rec["result"] or {}
            print(f"{a.workload} seed={s} {side} rc={rec['rc']} wall={rec['wall_s']}s "
                  f"correct={r.get('correct')}", file=sys.stderr, flush=True)

    ok = all(good(r) for p in pairs.values() for r in p.values())
    done = {s: p for s, p in pairs.items() if all(good(r) for r in p.values())}
    print(f"{a.workload}: {len(done)} complete pairs of {len(pairs)}")
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        par = [done[s]["parent"]["result"]["metrics"][name]["value"] for s in sorted(done)]
        chg = [done[s]["change"]["result"]["metrics"][name]["value"] for s in sorted(done)]
        if not par:
            continue
        wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
        (pq1, pmed, pq3), (cq1, cmed, cq3) = quart(par), quart(chg)
        print(f"\n{name} ({m['unit']}, {'lower' if lower else 'higher'} is better)")
        for s, p, c in zip(sorted(done), par, chg):
            print(f"  seed {s:>3}: parent {p:>10.4g}  change {c:>10.4g}  {c / p - 1 if p else 0:+.3f}")
        print(f"  parent q1/median/q3 {pq1:.4g} / {pmed:.4g} / {pq3:.4g}")
        print(f"  change q1/median/q3 {cq1:.4g} / {cmed:.4g} / {cq3:.4g}")
        print(f"  change wins {wins}/{len(par)}; median {cmed / pmed - 1 if pmed else 0:+.3f}")
        if name == a.metric:
            need = math.ceil(0.9 * len(par))
            improved = (cmed < pmed) if lower else (cmed > pmed)
            met = wins >= need and improved and abs(cmed - pmed) > pq3 - pq1
            print(f"  gain rule: wins {wins} >= {need} and |dmedian| {abs(cmed - pmed):.4g} > "
                  f"parent IQR {pq3 - pq1:.4g}: {'MET' if met else 'NOT MET'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
