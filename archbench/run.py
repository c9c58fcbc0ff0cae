#!/usr/bin/env python3
"""Benchmark entry point: builds the program from this checkout, runs one
workload in a fresh JVM and prints the result as the last stdout line.

    python3 archbench/run.py --workload archive-lifecycle --seed 1 \
        --seconds 10 --trace 0

The build (sbt, offline) compiles the program's sources together with the
benchmark's JVM code under archbench/ and is reused while no source changes.
Inputs are generated from --seed inside the JVM; nothing is downloaded.
With --trace 0 the result carries every end-to-end metric of
BENCHMARK.json, with --trace 1 every per-layer metric; a per-layer metric
of a layer the workload does not exercise reads 0.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "archbench.classpath")
STAMP_FILE = os.path.join(BUILD_DIR, "archbench.stamp")
# Not in BENCHMARK.json: archive-query, because the runs of three gated
# workloads do not fit the benchmark's 3420 s limit (its per-layer numbers
# come from the traced archive-lifecycle run); archive-lifecycle-compact,
# archive-lifecycle plus compactAvro and a final dry-run verify, because
# compactAvro leaves multi-tx txes chunks uncompacted, so both checks fail
# (README.md, Defect 1).
WORKLOADS = ("archive-lifecycle", "archive-query", "board", "archive-lifecycle-compact")
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (the program's own build passes the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[archbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def source_digest():
    """Digest of every input of the build: program and benchmark sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if os.path.isfile(r):
            files = [r]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the last build saw the same sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources next to the benchmark (src/main/scala)")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(os.path.join(BUILD_DIR, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one build per checkout at a time
        return build_locked()


def build_locked():
    digest = source_digest()
    if os.path.exists(STAMP_FILE) and os.path.exists(CLASSPATH_FILE):
        with open(STAMP_FILE) as f:
            if f.read().strip() == digest:
                with open(CLASSPATH_FILE) as c:
                    return c.read().strip()
    log("building (sbt compile)")
    t0 = time.time()
    try:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"build failed with exit code {r.returncode}")
    cps = [l.strip() for l in r.stdout.splitlines()
           if "scala-2.13" in l and os.pathsep in l and not l.startswith("[")]
    if not cps:
        sys.stderr.write(r.stdout[-4000:])
        fail("build printed no classpath")
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cps[-1])
    with open(STAMP_FILE, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f}s")
    return cps[-1]


def run_jvm(cp, workload, seed, seconds, trace, work_dir):
    """Run the workload JVM; returns its result dict."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", "-XX:+UseParallelGC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    tmp = os.path.join(work_dir, "tmp")  # native-library extraction, spills
    os.makedirs(tmp)
    cmd += ["-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
            "graft.archbench.Main",
            workload, str(seed), str(seconds), "1" if trace else "0", work_dir]
    t0 = time.monotonic()
    env = dict(os.environ, TMPDIR=tmp)
    proc = subprocess.Popen(cmd, cwd=work_dir, env=env, stdout=subprocess.PIPE,
                            stderr=None if os.environ.get("ARCHBENCH_VERBOSE")
                            else subprocess.DEVNULL,
                            stdin=subprocess.DEVNULL, text=True)
    watchdog = threading.Timer(JVM_TIMEOUT_S, proc.kill)
    watchdog.start()
    result = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("ARCHBENCH "):
                result = json.loads(line[len("ARCHBENCH "):])
            elif line:
                print(line, file=sys.stderr)
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if time.monotonic() - t0 >= JVM_TIMEOUT_S:
        fail(f"workload run exceeded {JVM_TIMEOUT_S}s")
    if proc.returncode != 0 or result is None:
        fail(f"workload JVM exited with code {proc.returncode} and no result")
    return result


def oracle_checks(result):
    """Compare each board op's result rows with its DuckDB oracle, using
    the normalisation of tools/oracle_check.py. Returns failed op ids."""
    board = result.get("board_results")
    if not board:
        return set()
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import oracle_check
    with open(os.path.join(board, "oracle.json")) as f:
        meta = json.load(f)
    con = duckdb.connect()
    for t in oracle_check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{meta['fixture']}/{t}.parquet')")
    failed = set()
    for op, sql in sorted(meta["oracle"].items()):
        try:
            exp = con.execute(sql).df()
            files = [os.path.join(board, op, f) for f in os.listdir(os.path.join(board, op))
                     if f.endswith(".parquet")]
            got = con.execute(f"SELECT * FROM read_parquet({files!r})").df()
            ec, er = oracle_check.norm(exp)
            gc, gr = oracle_check.norm(got)
            ok = [c.lower() for c in ec] == [c.lower() for c in gc] and er == gr
            detail = f"{len(er)} oracle rows vs {len(gr)} result rows"
        except Exception as e:  # a failing oracle or unreadable result is a failed check
            ok, detail = False, f"{type(e).__name__}: {e}"
        if not ok:
            log(f"check failed: op:{op}: oracle mismatch ({detail})")
            failed.add(op)
    return failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as f:
        spec = json.load(f)
    cp = build()

    load_start = os.getloadavg()[0]
    work_dir = os.path.join(BUILD_DIR, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    try:
        res = run_jvm(cp, a.workload, a.seed, a.seconds, bool(a.trace), work_dir)
        oracle_failed = oracle_checks(res)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    load_end = os.getloadavg()[0]

    checks = res["checks"]
    for c in checks:
        if c["name"].startswith("op:") and c["name"][3:] in oracle_failed:
            c["ok"] = False
    attempted = res["attempted"]
    failed = sum(1 for c in checks if not c["ok"])
    if attempted < 1 or len(checks) != attempted:
        fail(f"{attempted} operations attempted but {len(checks)} checks recorded")

    measured = res["metrics"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    if not a.trace:
        # CPU, like the other gated times: the VM's slow phases moved the
        # wall-time set-up median by up to 22% between sets of runs
        measured["setup_s"] = {
            "value": res["start_cpu_s"] + statistics.median(res["fixture_setup_s"]),
            "unit": "s"}
        measured["ok_op_share"] = {"value": 1.0 - failed / attempted, "unit": "share"}
    metrics = {}
    for m in wanted:
        v = measured.get(m["name"])
        if v is None and not a.trace:
            fail(f"end-to-end metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v["value"] if v else 0, "unit": m["unit"]}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "loadavg_start": load_start, "loadavg_end": load_end,
                      "failed_checks": [c["name"] + ": " + c["detail"]
                                        for c in checks if not c["ok"]][:10]}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
