#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the benchmark
from source with sbt (cached by a fingerprint of the sources, under
`.bench_build/`), generates the inputs from the seed, and runs
the workload in a fresh JVM with a fresh scratch root that is deleted
afterwards. Every line on stdout is one JSON object: first the host
context and per-run details, last the result, with exactly the keys
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the
metrics are the end-to-end metrics of BENCHMARK.json, with `--trace 1`
its per-layer metrics. Diagnostics go to stderr.
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("discover", "ingest", "query")
DEADLINE_S = 175
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these outside spark-submit (as the parent build's
# forked runs set them).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the program's and the benchmark's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dirpath, dirnames, filenames in os.walk(r):
            dirnames.sort()
            files += [os.path.join(dirpath, f) for f in sorted(filenames)]
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compile if the sources changed since the cached build. Returns the
    runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"[perfbench] no program sources: {need} is missing "
                             f"under {ROOT}")
    os.makedirs(WORK, exist_ok=True)
    out = os.path.join(WORK, f"build-{fingerprint()}")
    done = os.path.join(out, "classpath.txt")
    if os.path.exists(done):
        with open(done) as f:
            return f.read().strip()
    for old in os.listdir(WORK):  # earlier builds of other sources
        if old.startswith("build-"):
            shutil.rmtree(os.path.join(WORK, old), ignore_errors=True)
    os.makedirs(out)
    log("building the program and the benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.splitlines()
    cp_lines = [l for l in lines if not l.startswith("[") and os.pathsep in l
                and "scala-2.13" in l]
    if proc.returncode != 0 or not cp_lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("[perfbench] build failed")
    cp = cp_lines[-1].strip()
    log(f"build took {time.time() - t0:.0f} s")
    with open(done, "w") as f:
        f.write(cp)
    return cp


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return shutil.which("java") or "java"


def run_jvm(cp, args, scratch, deadline):
    cmd = [java_bin(), *ADD_OPENS, "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
           "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main", *args]
    log_path = os.path.join(WORK, f"last-{args[1]}.log")
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=scratch,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"[perfbench] run exceeded its deadline; log: {log_path}")
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"[perfbench] benchmark JVM exited with {rc}")


def check_queries(result, tables):
    """Oracle-compare the inventory queries' warm-up results and check
    every measured count against the oracle's row count; returns the
    number of failed operations."""
    import oracle
    res_dir = result["query_results"]
    with open(os.path.join(res_dir, "counts.json")) as f:
        counts = json.load(f)
    checked = oracle.check(tables, res_dir, sorted(counts))
    failed = 0
    for name, (ok, rows, msg) in sorted(checked.items()):
        # a wrong result fails every measured run of the query
        bad = counts[name] if not ok else [c for c in counts[name] if c != rows]
        if bad:
            failed += len(bad)
            log(f"query check failed: {name}: {msg}; counts {counts[name]} vs {rows}")
    return failed


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    deadline = time.time() + DEADLINE_S
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    sys.path.insert(0, HERE)
    cp = build()
    deadline = max(deadline, time.time() + DEADLINE_S - 30)
    scratch = os.path.join(WORK, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(os.path.join(scratch, "tmp"))
    try:
        tables = os.path.join(scratch, "tables")
        if a.workload in ("ingest", "query"):
            import gen_tables
            gen_tables.write(tables, a.seed)
        out = os.path.join(scratch, "result.json")
        run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--root", scratch, "--out", out, "--tables", tables],
                scratch, deadline)
        with open(out) as f:
            result = json.load(f)
        failed = result["failed"]
        if "query_results" in result:
            failed += check_queries(result, tables)
        if a.trace:
            traces = os.path.join(WORK, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(out + ".spans",
                        os.path.join(traces, f"{a.workload}-{a.seed}.spans.jsonl"))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    metrics = {}
    for m in wanted:
        got = result["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            raise SystemExit(f"[perfbench] metric {m['name']} missing from the run "
                             f"or not in {m['unit']}: {got}")
        metrics[m["name"]] = got
    for msg in result.get("failures", []):
        log(f"failed operation: {msg}")
    print(json.dumps({"context": result["context"], "workload": a.workload}))
    print(json.dumps({"correct": failed == 0, "attempted": result["attempted"],
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
