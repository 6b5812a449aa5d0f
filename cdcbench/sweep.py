#!/usr/bin/env python3
"""Run the benchmark over several seeds and append each result line to a
JSON-lines file, the input of compare.py.

    python3 cdcbench/sweep.py --out runs.jsonl [--workloads sync,tail]
        [--seeds 1-10] [--trace 0|1]

Runs are sequential, one JVM at a time, from the repository root.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main():
    bench = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    for w in a.workloads.split(","):
        for s in seeds(a.seeds):
            t0 = time.monotonic()
            p = subprocess.run(bench["command"] + ["--workload", w, "--seed", str(s), "--seconds",
                                                   str(bench["run_seconds"]), "--trace", a.trace],
                               stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            wall = time.monotonic() - t0
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "null"
            rec = {"workload": w, "seed": s, "trace": int(a.trace), "rc": p.returncode,
                   "wall_s": round(wall, 2), "result": json.loads(last) if p.returncode == 0 else None}
            if p.returncode != 0:
                rec["stderr"] = p.stderr[-2000:]
            with open(a.out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            r = rec["result"] or {}
            print(f"{w} seed={s} rc={p.returncode} wall={wall:.1f}s correct={r.get('correct')}",
                  file=sys.stderr, flush=True)


if __name__ == "__main__":
    main()
