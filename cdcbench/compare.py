#!/usr/bin/env python3
"""Summarise one or two sets of benchmark runs (JSON lines from sweep.py).

    python3 cdcbench/compare.py A.jsonl          # spread of one set
    python3 cdcbench/compare.py A.jsonl B.jsonl  # B against A

One row per workload and metric: median and quartiles of each set, the
spread (quartile distance over median), and a verdict against the metric's
bound in BENCHMARK.json. With one set the verdict is "steady" when the
spread is within the bound (setup_s is exempt: one set-up per run);
with two it is "ok" when B's median is not worse than A's by more than the
bound. Exits 1 if any verdict fails or any run failed its output check.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    runs = {}
    bad = 0
    for line in open(path):
        r = json.loads(line)
        res = r.get("result")
        if not res or not res["correct"] or res["failed"]:
            bad += 1
            continue
        for name, m in res["metrics"].items():
            runs.setdefault(r["workload"], {}).setdefault(name, []).append(m["value"])
    return runs, bad


def quart(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
    return q1, q2, q3


def main():
    bench = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    metrics = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    sets = [load(p) for p in sys.argv[1:3]]
    ok = all(bad == 0 for _, bad in sets)
    for i, (_, bad) in enumerate(sets):
        if bad:
            print(f"set {'AB'[i]}: {bad} runs failed or were incorrect")
    a = sets[0][0]
    b = sets[1][0] if len(sets) > 1 else None
    print(f"{'workload':10} {'metric':34} {'n':>3} {'A q1':>11} {'A median':>11} {'A q3':>11} "
          f"{'spread':>7} " + (f"{'B median':>11} {'B/A-1':>7} " if b else "") + "bound  verdict")
    for w in [x["name"] for x in bench["workloads"]]:
        for name, xs in sorted(a.get(w, {}).items()):
            m = metrics[name]
            q1, med, q3 = quart(xs)
            spread = (q3 - q1) / med if med else float("inf")
            bound = m.get("bound")
            row = f"{w:10} {name:34} {len(xs):>3} {q1:>11.4g} {med:>11.4g} {q3:>11.4g} {spread:>7.3f} "
            if bound is None:
                verdict = "-"
            elif b is None:
                verdict = "steady" if name == "setup_s" or spread <= bound else "UNSTEADY"
            if b is not None:
                ys = b.get(w, {}).get(name, [])
                if ys:
                    bmed = statistics.median(ys)
                    rel = bmed / med - 1 if med else float("inf")
                    worse = rel if m["better"] == "lower" else -rel
                    row += f"{bmed:>11.4g} {rel:>7.3f} "
                    if bound is not None:
                        verdict = "ok" if worse <= bound else "WORSE"
                else:
                    row += f"{'-':>11} {'-':>7} "
                    verdict = "MISSING"
            ok &= verdict not in ("UNSTEADY", "WORSE", "MISSING")
            print(row + f"{bound if bound is not None else '-':>5}  {verdict}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
