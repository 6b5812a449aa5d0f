#!/usr/bin/env python3
"""The repository benchmark: one run of one workload.

    python3 cdcbench/run.py --workload sync|tail|roundtrip|catalog \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark from source (`cdcbench/build.sbt`); later runs reuse the build
while the sources are unchanged. Each run starts one JVM with a fresh
scratch root under `.bench_build/`, removed afterwards, checks the
workload's output, and prints one JSON line as its last line of output:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("sync", "tail", "roundtrip", "catalog")
CATALOG_SCALE = 0.001
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"cdcbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def heap():
    """The JVM heap as the repository's test command derives
    SPARK_DRIVER_MEM: half the machine's memory, clamped to 2..8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def sources_digest(repo):
    h = hashlib.sha1()
    roots = [os.path.join(repo, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in files:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(repo, out):
    """Compile with sbt when the sources changed; return the classpath."""
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath.txt")
    digest = sources_digest(repo)
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                           f"{repos} -Dsbt.offline=true -Xmx2g")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l for l in p.stdout.splitlines() if not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed", 1)
    os.makedirs(out, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1].strip()


def catalog_tables(out):
    """The catalog's input tables, generated once per checkout: they depend
    on nothing but the fixed generator, like a checked-in test data set."""
    import catalog_data
    d = os.path.join(out, f"catalog-tables-{CATALOG_SCALE}")
    if not os.path.isdir(d):
        tmp = f"{d}.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        catalog_data.generate(tmp, CATALOG_SCALE)
        os.rename(tmp, d)
    return d


def check_catalog(res, data_dir, cache_file):
    """Row count of every entry against DuckDB running its oracle SQL over
    the same tables. Returns the names that disagree or have no oracle."""
    import duckdb
    cache = json.load(open(cache_file)) if os.path.exists(cache_file) else {}
    con = None
    bad = []
    for name, rows in sorted(res["counts"].items()):
        sql = res["oracle"].get(name)
        want = None
        if sql is not None:
            key = hashlib.sha1(f"{CATALOG_SCALE}\n{sql}".encode()).hexdigest()
            if key not in cache:
                if con is None:
                    con = duckdb.connect()
                    for t in os.listdir(data_dir):
                        con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                                    f"read_parquet('{os.path.join(data_dir, t)}')")
                cache[key] = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
            want = cache[key]
        if rows < 0 or want != rows:
            bad.append(name)
            print(f"cdcbench: catalog {name}: rows={rows} expected={want}", file=sys.stderr)
    with open(cache_file, "w") as f:
        json.dump(cache, f)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    t_start = time.monotonic()
    repo = os.getcwd()
    if not os.path.isdir(os.path.join(repo, "src", "main", "scala")):
        fail("run from the repository root: src/main/scala not found")
    bench = spec()
    out = os.path.join(repo, ".bench_build", "cdcbench")
    cp = build(repo, out)

    run_root = os.path.join(out, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(os.path.join(run_root, "tmp"))
    proc = None
    try:
        jargs = []
        if a.workload == "catalog":
            jargs = ["--data", catalog_tables(out)]
        # a fixed heap: with a growing heap, when G1 expands it varies from
        # run to run and moves both the times and the resident set. tail and
        # catalog also pre-touch it, since the page faults of a heap first
        # touched mid-run moved their times; sync and roundtrip were as
        # steady without, and pre-touching costs 2.5 s of start-up
        touch = ["-XX:+AlwaysPreTouch"] if a.workload in ("tail", "catalog") else []
        cmd = (["java", f"-Xms{heap()}", f"-Xmx{heap()}"] + touch +
               [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               [f"-Djava.io.tmpdir={os.path.join(run_root, 'tmp')}",
                "-Dspark.sql.codegen.cache.maxEntries=4000", "-XX:ReservedCodeCacheSize=512m",
                "-cp", cp, "cdcbench.Main",
                "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--root", run_root] + jargs)
        log = open(os.path.join(run_root, "jvm.log"), "w")
        proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=log, stderr=log)
        try:
            rc = proc.wait(timeout=max(10, RUN_TIMEOUT_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("run timed out", 1)
        log.close()
        res_file = os.path.join(run_root, "result.json")
        if rc != 0 or not os.path.exists(res_file):
            sys.stderr.write(open(os.path.join(run_root, "jvm.log")).read()[-4000:])
            fail(f"JVM exited with {rc}", 1)
        res = json.load(open(res_file))
        failed = int(res["failed"])
        if a.workload == "catalog":
            bad = check_catalog(res, catalog_tables(out), os.path.join(out, "oracle_counts.json"))
            failed = max(failed, len(bad))
        if failed:
            sys.stderr.write(open(os.path.join(run_root, "jvm.log")).read()[-6000:])
        spans = os.path.join(run_root, "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(out, "traces"), exist_ok=True)
            shutil.copy(spans, os.path.join(out, "traces", f"{a.workload}-{a.seed}.jsonl"))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_root, ignore_errors=True)

    values = dict(res["end_to_end"])
    values["setup_s"] = res["setup_s"]
    values["max_rss_mb"] = res["max_rss_mb"]
    if a.trace:
        # a layer this workload does not call reads 0
        values.update({m["name"]: 0.0 for m in bench["per_layer"]})
        values.update(res["per_layer"])
    group = bench["per_layer"] if a.trace else bench["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in group}
    for k, v in sorted(res["notes"].items()):
        print(f"note {k} = {v}")
    print(json.dumps({"correct": failed == 0, "attempted": int(res["attempted"]),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
