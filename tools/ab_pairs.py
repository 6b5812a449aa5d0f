#!/usr/bin/env python3
"""Alternating parent/change pairs of one cdcbench workload, and the
verdict of the gain rule on them.

    python3 tools/ab_pairs.py --parent DIR --change DIR --workload tail \
        [--seeds 1-10] [--metric latency_p50_ms] [--trace 0|1] [--out pairs.jsonl]
        [--report]

DIR is a checkout (a repository root). Each seed is one pair: both
checkouts run `python3 cdcbench/run.py` with that seed and the
`run_seconds` of the change's BENCHMARK.json, one JVM at a time; odd
seeds run the parent first, even seeds the change first. Every result
line is appended to --out (the format of cdcbench/sweep.py, plus a
"side" field), so an interrupted series keeps its finished pairs. With
--report nothing is run: the report covers the pairs of those seeds
already in --out (for instance two series appended to one file).

With --trace 1 every run is traced and the result lines carry the
per-layer metrics instead of the end-to-end ones, so per-layer figures
come from the same alternation as the end-to-end series.

The report gives, for every metric the result lines carry (end-to-end,
or per-layer with --trace 1), the per-pair values, the change's wins
(ties count for neither side), each side's quartiles, and for --metric
whether the change won at least 9 of every 10 pairs and its median
differs from the parent's by more than the parent's interquartile
range. A per-layer metric that reads 0 on both sides of every pair (a
layer the workload does not call) is left out.

Every end-to-end metric also gets a no-regression verdict against its
BENCHMARK.json bound (a fraction of the parent's median):
  WORSE       the change's median is worse than the parent's by more
              than the bound;
  UNRESOLVED  otherwise, the parent's interquartile range is wider than
              the bound, unless every change run beats every parent run;
  OK          otherwise.
Exits 1 if a run failed or was incorrect.
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


def verdict(par, chg, lower, bound):
    """The no-regression verdict of one end-to-end metric (see above)."""
    (pq1, pmed, pq3), cmed = quart(par), statistics.median(chg)
    worse = cmed - pmed if lower else pmed - cmed
    if worse > bound * abs(pmed):
        return "WORSE"
    beats_all = max(chg) < min(par) if lower else min(chg) > max(par)
    if pq3 - pq1 > bound * abs(pmed) and not beats_all:
        return "UNRESOLVED"
    return "OK"


def run(checkout, bench, workload, seed, trace):
    t0 = time.monotonic()
    p = subprocess.run(bench["command"] + ["--workload", workload, "--seed", str(seed),
                                           "--seconds", str(bench["run_seconds"]),
                                           "--trace", str(trace)],
                       cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "null"
    rec = {"workload": workload, "seed": seed, "trace": trace, "rc": p.returncode,
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
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default="ab_pairs.jsonl")
    ap.add_argument("--report", action="store_true")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(a.change, "BENCHMARK.json")))
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}

    pairs = {}
    if a.report:
        with open(a.out) as f:
            for rec in map(json.loads, f):
                if (rec["workload"], rec["trace"]) == (a.workload, a.trace) and \
                        rec["seed"] in seeds(a.seeds):
                    pairs.setdefault(rec["seed"], {})[rec["side"]] = rec
    for s in [] if a.report else seeds(a.seeds):
        order = ["parent", "change"] if s % 2 else ["change", "parent"]
        for side in order:
            rec = run(sides[side], bench, a.workload, s, a.trace)
            rec["side"] = side
            with open(a.out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            pairs.setdefault(s, {})[side] = rec
            r = rec["result"] or {}
            print(f"{a.workload} seed={s} {side} rc={rec['rc']} wall={rec['wall_s']}s "
                  f"correct={r.get('correct')}", file=sys.stderr, flush=True)

    ok = all(good(r) for p in pairs.values() for r in p.values())
    done = {s: p for s, p in pairs.items() if len(p) == 2 and all(good(r) for r in p.values())}
    print(f"{a.workload}: {len(done)} complete pairs of {len(pairs)}")
    carried = {n for p in done.values() for r in p.values() for n in r["result"]["metrics"]}
    verdicts = {}
    for m in bench["end_to_end"] + bench["per_layer"]:
        name, lower = m["name"], m["better"] == "lower"
        if name not in carried:
            continue
        par = [done[s]["parent"]["result"]["metrics"][name]["value"] for s in sorted(done)]
        chg = [done[s]["change"]["result"]["metrics"][name]["value"] for s in sorted(done)]
        if not par or not any(par + chg):
            continue
        wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
        (pq1, pmed, pq3), (cq1, cmed, cq3) = quart(par), quart(chg)
        print(f"\n{name} ({m['unit']}, {'lower' if lower else 'higher'} is better)")
        for s, p, c in zip(sorted(done), par, chg):
            print(f"  seed {s:>3}: parent {p:>10.4g}  change {c:>10.4g}  {c / p - 1 if p else 0:+.3f}")
        print(f"  parent q1/median/q3 {pq1:.4g} / {pmed:.4g} / {pq3:.4g}")
        print(f"  change q1/median/q3 {cq1:.4g} / {cmed:.4g} / {cq3:.4g}")
        print(f"  change wins {wins}/{len(par)}; median {cmed / pmed - 1 if pmed else 0:+.3f}")
        if "bound" in m:
            verdicts[name] = verdict(par, chg, lower, m["bound"])
            print(f"  no regression (bound {m['bound']:.0%} of the parent median, "
                  f"parent IQR {(pq3 - pq1) / pmed if pmed else 0:.1%}): {verdicts[name]}")
        if name == a.metric:
            need = math.ceil(0.9 * len(par))
            improved = (cmed < pmed) if lower else (cmed > pmed)
            met = wins >= need and improved and abs(cmed - pmed) > pq3 - pq1
            print(f"  gain rule: wins {wins} >= {need} and |dmedian| {abs(cmed - pmed):.4g} > "
                  f"parent IQR {pq3 - pq1:.4g}: {'MET' if met else 'NOT MET'}")
    if verdicts:
        print("\nno regression: " + ", ".join(f"{n} {v}" for n, v in verdicts.items()))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
