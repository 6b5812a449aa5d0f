#!/usr/bin/env python3
"""Gate-machinery regression gate.

Usage: python3 tools/gate_regress.py <jgate_prev.json> <jgate_cur.json> [ratio=1.5]

Compares two graft.GateBench outputs (per-gate isolated LIVE rebuild
cost) and reports every gate whose live cost grew by more than `ratio`
over the prior round — the streaming-machinery twin of the query
plane's isolated-remeasure protocol. Runs on one box drift 10-30%; a
flagged gate gets an isolated re-measure on the same box
(GRAFT_ONLY=<name> sbt "runMain graft.GateBench") before bisecting.
Exits 1 on violations; new gates (no baseline) are listed
informationally.
"""
import sys, json


def gates(path):
    d = json.load(open(path))
    return d["gates"] if "gates" in d else d


prev, cur = gates(sys.argv[1]), gates(sys.argv[2])
ratio = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5

viol, rows = [], []
for name in sorted(cur):
    c = float(cur[name]["live"])
    if name not in prev:
        rows.append(f"NEW       {name:34s} live={c:8.3f}s (no baseline)")
        continue
    p = float(prev[name]["live"])
    r = c / p if p > 0 else float("inf")
    flag = "VIOLATION" if r > ratio else "ok       "
    rows.append(f"{flag} {name:34s} live {p:8.3f}s -> {c:8.3f}s "
                f"({r:5.2f}x)")
    if r > ratio:
        viol.append(name)
print("\n".join(rows))
print(f"\n{len(cur)} gates, {len(viol)} over {ratio}x: {viol or 'none'}")
sys.exit(1 if viol else 0)
