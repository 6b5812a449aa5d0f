#!/usr/bin/env python3
"""Full-catalog per-entry bench regression gate.

Usage: python3 tools/bench_regress.py <detail_prev.json> <detail_cur.json> [ratio=1.5] [floor=0.25]

Compares two Bench detail files (per-query Spark seconds) and reports
every entry whose wall grew by more than `ratio` over the prior
round — the query-plane twin of gate_regress.py, covering the catalog
entries the j-gate baseline does not. Entries where BOTH sides are
under `floor` seconds are ignored: sub-250 ms walls are scheduler
noise, not plan properties. Bench has no retries, so a flagged entry
gets an isolated re-measure on the same box
(GRAFT_ONLY=<name> sbt "runMain graft.Bench", several runs) before
bisecting; sweeps on one box drift 10-30% between runs. Compare detail
files from the same box only. Exits 1 on violations.
"""
import sys, json


def queries(path):
    d = json.load(open(path))
    return d["queries"] if "queries" in d else d


prev, cur = queries(sys.argv[1]), queries(sys.argv[2])
ratio = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
floor = float(sys.argv[4]) if len(sys.argv) > 4 else 0.25

viol, rows = [], []
for name in sorted(cur):
    c = float(cur[name])
    if name not in prev:
        rows.append(f"NEW       {name:34s} {c:8.3f}s (no baseline)")
        continue
    p = float(prev[name])
    if c < floor and p < floor:
        continue
    r = c / p if p > 0 else float("inf")
    if r > ratio:
        rows.append(f"VIOLATION {name:34s} {p:8.3f}s -> {c:8.3f}s ({r:5.2f}x)")
        viol.append(name)
ptot = sum(float(v) for v in prev.values())
ctot = sum(float(v) for v in cur.values())
common = sorted(set(prev) & set(cur))
pct = sum(float(prev[n]) for n in common)
cct = sum(float(cur[n]) for n in common)
print("\n".join(rows) if rows else "(no new entries, no violations)")
print(f"\ntotals: prev {ptot:.2f}s ({len(prev)} entries) -> "
      f"cur {ctot:.2f}s ({len(cur)} entries); "
      f"common-entry {pct:.2f}s -> {cct:.2f}s "
      f"({cct/pct if pct else float('inf'):.2f}x)")
print(f"{len(viol)} entries over {ratio}x: {viol or 'none'}")
sys.exit(1 if viol else 0)
