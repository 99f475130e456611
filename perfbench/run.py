#!/usr/bin/env python3
"""Benchmark of the graft engine: one run of one workload.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload ladder|maintain|analytics|dedup \
        --seed N --seconds S --trace 0|1

Builds the engine and the benchmark program from the checkout's sources
(once; later runs reuse the build while the sources are unchanged), runs
the workload in one JVM, checks its outputs, and prints one JSON object as
the last line of standard output. With --trace 0 the metrics are the
end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer ones.
Generated inputs and stores live under .bench_work/ and are deleted on
exit; the traced run leaves its spans in .bench_out/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("ladder", "maintain", "analytics", "dedup")
JVM_LIMIT_S = 160  # a run must end within 180 s; a build has its own limit

# Spark on JDK 17 needs these opens when started outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

_child = None


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("no engine sources beside perfbench/ (build.sbt, src/main/scala/graft)")
    digest = source_digest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx1g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=800)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or "[" in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        die("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(digest)
    return lines[-1].strip()


def run_jvm(cp, args, work, timeout):
    """Run the benchmark program; returns its PERFRESULT object."""
    global _child
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dderby.system.home=" + tmp]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.PerfMain"] + args + ["--root", work]
    _child = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = _child.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop_child()
        die(f"run exceeded {timeout:.0f} s")
    code = _child.returncode
    _child = None
    results = [l for l in out.splitlines() if l.startswith("PERFRESULT ")]
    if code != 0 or not results:
        sys.stderr.write(out[-4000:])
        die(f"benchmark program exited with {code}")
    return json.loads(results[-1][len("PERFRESULT "):])


def stop_child():
    global _child
    if _child is not None and _child.poll() is None:
        try:
            os.killpg(_child.pid, signal.SIGTERM)
            _child.wait(timeout=20)
        except (subprocess.TimeoutExpired, ProcessLookupError):
            os.killpg(_child.pid, signal.SIGKILL)
            _child.wait()
    _child = None


def canon(rows, cols):
    """Columns sorted by name, rows sorted, floats by repr (as the repo's
    oracle checker compares)."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else repr(v)
            vals.append(str(v))
        out.append("\x01".join(vals))
    out.sort()
    return [cols[i] for i in idx], out


def oracle_check(extra):
    """DuckDB oracle of every panel query that has one, against the output
    the program wrote after its timed passes. Returns {query: error} for
    mismatches."""
    import duckdb
    con = duckdb.connect()
    tables = extra["tables_dir"]
    for t in sorted(os.listdir(tables)):
        if t.endswith(".parquet"):
            con.sql(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{tables}/{t}/*.parquet'")
    bad = {}
    for name, sql in sorted(extra["oracle_sql"].items()):
        try:
            o = con.sql(sql)
            oc, ov = canon(o.fetchall(), list(o.columns))
            s = con.sql(f"SELECT * FROM '{extra['oracle_dir']}/{name}/*.parquet'")
            sc, sv = canon(s.fetchall(), list(s.columns))
        except Exception as e:  # an oracle that cannot run is a failed check
            bad[name] = f"oracle error: {e}"
            continue
        if oc != sc:
            bad[name] = f"schema {sc} != oracle {oc}"
        elif ov != sv:
            bad[name] = f"{len(sv)} rows != oracle {len(ov)} rows"
    con.close()
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    t0 = time.monotonic()
    cp = build()
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    def cleanup(signum=None, _frame=None):
        stop_child()
        shutil.rmtree(work, ignore_errors=True)
        if signum is not None:
            sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, cleanup)
    signal.signal(signal.SIGINT, cleanup)
    try:
        res = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                           "--trace", str(a.trace)], work, JVM_LIMIT_S)
        failed = res["failed"]
        failures = list(res["failures"])
        if a.workload == "analytics":
            bad = oracle_check(res["extra"])
            for q, err in sorted(bad.items()):
                failures.append(f"{q}: {err}")
                failed += res["extra"]["ops_per_query"].get(q, 0)
            failed = min(failed, res["attempted"])
    finally:
        cleanup()
    for msg in failures:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
    want = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in want:
        got = res["metrics"].get(m["name"])
        if got is None or got["value"] is None:
            die(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    print(f"perfbench: {a.workload} seed={a.seed} samples={res['extra'].get('samples', '-')} "
          f"wall={time.monotonic() - t0:.1f}s", file=sys.stderr)
    print(json.dumps({"correct": failed == 0 and not failures, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
