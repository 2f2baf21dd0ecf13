#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one JSON line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload pipe_files --seed 1 --seconds 10 --trace 0

The first run builds the engine and this harness with sbt and prepares
the base fixture plus the DuckDB oracle answers; all of it is cached in
.bench_build/ and rebuilt when a source file changes. Each run then
starts one JVM on local[N], N = the number of cores, measures the
workload, checks its outputs and prints, as the last line of standard
output, {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the per-layer ones
of a traced run.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import metrics  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["pipe_files", "queries", "sink_stream"]
JVM_TIMEOUT_S = 170
HEAP = "3g"

# What the engine's build gives a forked JVM (see the root build.sbt):
# Spark on JDK 17 needs these when it is started outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, relative to the checkout root."""
    out = ["build.sbt", "project/build.properties",
           "perfbench/build.sbt", "perfbench/project/build.properties"]
    for tree in ("src/main", "perfbench/src"):
        for d, _, fs in os.walk(os.path.join(ROOT, tree)):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in fs]
    return sorted(out)


def fingerprint():
    h = hashlib.sha256()
    for rel in sources():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(fp):
    """Compile with sbt once per source state; returns the classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp_file = os.path.join(BUILD, "fingerprint")
    if os.path.exists(cp_file) and os.path.exists(fp_file):
        with open(fp_file) as f:
            if f.read() == fp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=500)
    lines = open(log).read().splitlines()
    cp = [ln for ln in lines if "perfbench" in ln and ".jar" in ln
          and not ln.startswith("[")]
    if r.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(fp_file, "w") as f:
        f.write(fp)
    return cp[-1].strip()


def java(cp, args, tmp, log, timeout):
    """Run the harness JVM; returns (exit code, peak RSS in MB).

    The engine reads SPARK_GRAFT_* and GRAFT_* variables that change
    what it runs (planner switches, extra timing jobs); none of them
    reaches the measured JVM.
    """
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "GRAFT_"))}
    env.update(LC_ALL="C.UTF-8", SPARK_LOCAL_DIRS=tmp)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", "-Dfile.encoding=UTF-8",
            "-Dsun.jnu.encoding=UTF-8", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main"] + args
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=out,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        deadline = time.time() + timeout
        while True:
            pid, status, ru = os.wait4(p.pid, os.WNOHANG)
            if pid:
                p.returncode = os.waitstatus_to_exitcode(status)
                return p.returncode, ru.ru_maxrss / 1024.0
            if time.time() > deadline:
                p.kill()
                os.wait4(p.pid, 0)
                p.returncode = -9
                return -9, 0.0
            time.sleep(0.05)


def canon(rows, cols):
    """tools/check.py's canon rules: columns by name, floats to 9 places,
    NaN as a string, rows sorted by their string form."""
    def norm(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else round(v, 9)
        if isinstance(v, list):
            return tuple(norm(x) for x in v)
        return v
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted((tuple(norm(r[i]) for i in order) for r in rows),
                 key=lambda t: tuple((v is None, str(v)) for v in t))
    return [cols[i] for i in order], out


def digest(cols, rows):
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def duckdb_con(fixture):
    import duckdb
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{fixture}/{t}.parquet')")
    return con


def prepare(cp, fp):
    """The base fixture and the expected answer of every checked query."""
    fixture = os.path.join(BUILD, "fixture")
    expected = os.path.join(BUILD, "expected.json")
    stamp = os.path.join(BUILD, "expected.fingerprint")
    if os.path.exists(expected) and os.path.exists(stamp) \
            and open(stamp).read() == fp:
        return fixture, json.load(open(expected))
    shutil.rmtree(fixture, ignore_errors=True)
    tmp = os.path.join(BUILD, "prep-tmp")
    os.makedirs(tmp, exist_ok=True)
    oracle = os.path.join(BUILD, "oracle.json")
    code, _ = java(cp, ["--mode", "prep", "--fixture", fixture,
                        "--out", oracle], tmp,
                   os.path.join(BUILD, "prep.log"), 200)
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0:
        fail("fixture preparation failed, see .bench_build/prep.log")
    con = duckdb_con(fixture)
    out = {}
    for name, sql in json.load(open(oracle)).items():
        cur = con.execute(sql)
        cols, rows = canon(cur.fetchall(), [d[0] for d in cur.description])
        out[name] = {"digest": digest(cols, rows), "rows": len(rows)}
    with open(expected, "w") as f:
        json.dump(out, f)
    with open(stamp, "w") as f:
        f.write(fp)
    return fixture, out


def oracle_checks(fixture, expected, pending):
    """Compare each dumped query result with its expected answer."""
    con = duckdb_con(fixture)
    checks = []
    for p in pending:
        name, want = p["name"], expected[p["name"]]
        try:
            cur = con.execute(
                f"SELECT * FROM read_parquet('{p['dir']}/*.parquet')")
            cols, rows = canon(cur.fetchall(), [d[0] for d in cur.description])
        except Exception as e:  # a missing or unreadable result
            checks.append({"name": f"oracle {name}", "ok": False,
                           "detail": str(e), "ops": 1})
            continue
        checks.append({"name": f"oracle {name}",
                       "ok": digest(cols, rows) == want["digest"],
                       "detail": f"{len(rows)} rows, oracle {want['rows']}",
                       "ops": 1})
    return checks


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    for rel in ("build.sbt", "src/main/scala/graft/Engine.scala"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            fail(f"{rel} not found: run from the root of an engine checkout")

    fp = fingerprint()
    cp = build(fp)
    fixture, expected = prepare(cp, fp)

    run_root = os.path.join(BUILD, "runs", str(os.getpid()))
    shutil.rmtree(run_root, ignore_errors=True)
    tmp = os.path.join(run_root, "tmp")
    os.makedirs(tmp)
    raw = os.path.join(run_root, "raw.json")
    log = os.path.join(BUILD, "last-run.log")
    t_start = time.time()
    try:
        code, rss = java(cp, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--root", os.path.join(run_root, "work"), "--fixture", fixture,
            "--out", raw], tmp, log, JVM_TIMEOUT_S)
        if code != 0 or not os.path.exists(raw):
            sys.stderr.write("".join(open(log).readlines()[-40:]))
            fail(f"harness JVM exited with {code}")
        shutil.copy(raw, os.path.join(BUILD, "last-raw.json"))
        rec = json.load(open(raw))
        t_jvm = time.time()
        rec["checks"] += oracle_checks(fixture, expected, rec["pending"])
        rec["phases"]["jvm_total"] = t_jvm - t_start
        rec["phases"]["oracle"] = time.time() - t_jvm
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
    if os.path.exists(run_root):
        fail(f"could not remove {run_root}")

    attempted, failed = metrics.attempts(rec)
    bad = [c for c in rec["checks"] if not c["ok"]]
    for c in bad:
        print(f"FAILED CHECK {c['name']}: {c['detail']}", file=sys.stderr)
    if a.trace:
        values = metrics.per_layer(rec, rss)
    else:
        values = metrics.end_to_end(rec)
    # the machine-load probe readings and the failure share, beside the
    # result line, so a run on a loaded box is visible from the output
    print(json.dumps({
        "workload": a.workload, "seed": a.seed,
        "probe_before_s": rec["probe_before"],
        "probe_after_s": rec["probe_after"],
        "fail_frac": failed / attempted, "peak_rss_mb": rss,
        "op_samples": metrics.op_samples(rec),
        "p50_tail_samples": metrics.samples_beyond(metrics.op_samples(rec), 50),
        "passes": len(rec["passes"]), "stats": rec.get("stats", {}),
        "phases": rec["phases"],
        "checks": len(rec["checks"]), "failed_checks": len(bad)}))
    print(json.dumps({
        "correct": failed == 0 and not bad,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in values.items()}}))


if __name__ == "__main__":
    main()
