#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload lookup|churn --seed N \
        --seconds S --trace 0|1

Run it from the repository root. Steps:

1. build: `sbt perfbench/writeClasspath` in perfbench/, whose build
   depends on the repository's own build, so the repository compiles as
   it always does and the benchmark program under perfbench/src compiles
   against it; skipped when no source or build file changed since the
   last build;
2. generate the seeded inputs (datagen.py) in a fresh work directory
   under .perfbench_work/, which is removed when the run ends;
3. run the benchmark JVM (fixed heap, `local[N]`, N = min(cpus, 4)); its
   logs go to a file, its result to a JSON file;
4. check the recorded results outside the timed region: lookup results
   against the source parquet and its report query against DuckDB running
   the query's oracle SQL (churn checks itself against its model);
5. print `{"correct", "attempted", "failed", "metrics"}` as the last line.
   With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
   --trace 1 its per_layer list (0 = the layer is idle in this workload).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
TARGET = os.path.join(HERE, "target")
HEAP = "3g"
# the benchmark JVM is killed once inputs and JVM together take this long
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    out = [os.path.join(d, f) for d in (ROOT, HERE)
           for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def build():
    """Compile and write target/classpath.txt unless already current."""
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as lf:
        rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/writeClasspath"],
                      HERE, env, lf, BUILD_TIMEOUT_S)
    if rc != 0 or not os.path.exists(cp_file):
        die(f"build failed (exit {rc}); last lines of {log}:\n{tail(log)}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


def run_proc(cmd, cwd, env, logf, timeout):
    """Run `cmd` in its own process group; kill the whole group on timeout
    and wait for it, so nothing outlives the run."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=logf, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(n, 4))


# ---------------------------------------------------------------- checks

def check_lookup(data, checks):
    """Each recorded lookup result against the source parquet: a point
    lookup at snapshot s sees the key's rows among files 0..s-1."""
    files = sorted(glob.glob(os.path.join(data, "lineitem_ranges", "*.parquet")))
    parts = [pq.read_table(f, columns=["l_orderkey", "l_linenumber", "l_partkey",
                                       "l_extendedprice", "l_shipdate"]) for f in files]
    key = np.concatenate([t.column("l_orderkey").to_numpy() for t in parts])
    fidx = np.concatenate([np.full(t.num_rows, i) for i, t in enumerate(parts)])
    ln = np.concatenate([t.column("l_linenumber").to_numpy() for t in parts]).astype(np.int64)
    pk = np.concatenate([t.column("l_partkey").to_numpy() for t in parts])
    cents = np.round(np.concatenate(
        [t.column("l_extendedprice").to_numpy() for t in parts]) * 100).astype(np.int64)
    day = np.concatenate([t.column("l_shipdate").cast("int64").to_numpy() for t in parts]) \
        // (86_400 * 1_000_000)
    row_sum = ln * 1000003 + pk * 7 + cents
    order = np.argsort(key, kind="stable")
    key_sorted = key[order]
    bad = []
    for c in checks:
        if c["kind"] == "point":
            lo, hi = np.searchsorted(key_sorted, [c["key"], c["key"] + 1])
            idx = order[lo:hi]
            idx = idx[fidx[idx] < c["snap"]]
            exp = (len(idx), int(row_sum[idx].sum()))
        else:
            m = (day >= c["day"]) & (day < c["day"] + c["days"]) & \
                (key >= c["k0"]) & (key < c["k1"])
            exp = (int(m.sum()), int(cents[m].sum()))
        if (c["rows"], c["sum"]) != exp:
            bad.append(f"{c}: expected rows/sum {exp}")
    return bad


def canon(rows):
    return sorted((tuple(r) for r in rows),
                  key=lambda r: tuple((x is None, str(x)) for x in r))


def check_report(data, work):
    """The report query's first result against DuckDB running its oracle
    SQL on the same parquet: exact, order-insensitive."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM "
                f"read_parquet('{os.path.join(data, 'report', 'lineitem.parquet')}')")
    with open(os.path.join(work, "oracle.json")) as f:
        oracle = json.load(f)
    bad = []
    for q, sql in oracle.items():
        got = con.sql(f"SELECT * FROM read_parquet('{os.path.join(work, 'results', q)}/*.parquet')")
        exp = con.sql(sql)
        cols = sorted(got.columns)
        if sorted(exp.columns) != cols:
            bad.append(f"{q}: columns {cols} vs oracle {sorted(exp.columns)}")
            continue
        proj = ", ".join(f'"{c}"' for c in cols)
        g, e = canon(got.project(proj).fetchall()), canon(exp.project(proj).fetchall())
        if g != e:
            bad.append(f"{q}: {len(g)} rows differ from the oracle's {len(e)}")
    return bad


# ------------------------------------------------------------------ main

def main():
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["lookup", "churn"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) \
            or not os.path.exists(spec_path):
        die("run from a checkout of the repository: src/main/scala/graft "
            "or BENCHMARK.json is missing", 2)
    with open(spec_path) as f:
        spec = json.load(f)

    t_start = time.time()
    cp = build()
    os.makedirs(WORK_ROOT, exist_ok=True)
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    try:
        os.makedirs(work)
        data = os.path.join(work, "data")
        gen = [sys.executable, os.path.join(HERE, "datagen.py"), "--out", data,
               "--seed", str(a.seed)]
        t_gen = time.time()
        subprocess.run(gen, check=True)
        t_jvm = time.time()

        out = os.path.join(work, "result.json")
        jvm_log = os.path.join(work, "jvm.log")
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for o in JDK_OPENS:
            cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "graft.perfbench.PerfBench",
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--data", data, "--work", work, "--out", out, "--cores", str(cores())]
        # the run's own time limit starts after the build, which only the
        # first run in a checkout pays
        budget = RUN_TIMEOUT_S - (time.time() - t_gen)
        with open(jvm_log, "w") as lf:
            rc = run_proc(cmd, work, dict(os.environ), lf, budget)
        if rc != 0 or not os.path.exists(out):
            die(f"benchmark JVM failed (exit {rc}); last lines of its log:\n{tail(jvm_log)}")
        with open(out) as f:
            res = json.load(f)
        t_check = time.time()

        attempted, failed = res["attempted"], res["failed"]
        problems = list(res["errors"])
        if a.workload == "lookup":
            bad = check_lookup(data, res["checks"]) + check_report(data, work)
            failed += len(bad)
            problems += bad
        wall = {"build": t_gen - t_start, "datagen": t_jvm - t_gen,
                "jvm": t_check - t_jvm, "check": time.time() - t_check}
        if a.trace:
            shutil.copy(os.path.join(work, "trace.jsonl"),
                        os.path.join(WORK_ROOT, f"trace-{a.workload}-{a.seed}.jsonl"))

        names = spec["per_layer"] if a.trace else spec["end_to_end"]
        got = res["per_layer"] if a.trace else res["end_to_end"]
        metrics = {m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in names}
        for p in problems[:5]:
            print(f"perfbench: FAILED {p}", file=sys.stderr)
        print(json.dumps({"workload": a.workload, "seed": a.seed, "cores": res["cores"],
                          "heap": HEAP, "ops": res["ops"], "kind_p50_ms": res["kind_p50_ms"],
                          "tail_quantile": res["tail_quantile"],
                          "tail_samples": res["tail_samples"],
                          "setup_reps_s": res["setup_reps_s"],
                          "wall_s": {k: round(v, 2) for k, v in wall.items()},
                          "jvm_phases_s": {k: round(v, 2) for k, v in res["phases_s"].items()}}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
