#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <etl_daily|queries> \
      --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the program and the harness with sbt
(perfbench/build.sbt); later runs reuse the build while the sources are
unchanged. ETL workloads also start the loopback DRM/DMP stub (stub.py) in
its own process. Everything a run writes stays under perfbench/work (removed
at the end) and, for traced runs, perfbench/traces.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

import results

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")
STAMP = os.path.join(BENCH, "target", "sources.sha256")
JVM_TIMEOUT_S = 170
# per-layer metric prefixes of the layers each workload leaves idle
IDLE_LAYERS = {
    "etl_daily": ("q.", "queries."),
    "queries": ("etl.", "ledger.", "stages.", "connect."),
}

# Spark on JDK 17 outside spark-submit needs these (same list as the
# program's build.sbt).
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
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def sources_digest():
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the sources match the last build."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail(f"program sources not found under {PROGRAM_SRC}")
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == digest:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=840)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        fail("build failed")
    with open(STAMP, "w") as f:
        f.write(digest)


def start_stub(seed, threads):
    p = subprocess.Popen([sys.executable, os.path.join(BENCH, "stub.py"),
                          "--seed", str(seed), "--threads", str(threads)],
                         stdout=subprocess.PIPE, text=True)
    line = p.stdout.readline().strip()
    if not line.isdigit():
        stop(p)
        fail("stub did not report its port")
    return p, f"http://127.0.0.1:{line}"


def stop(p):
    if p is None or p.poll() is not None:
        return
    p.terminate()
    try:
        p.wait(timeout=10)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()


def run_jvm(args, work, stub_url, cores):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--data", os.path.join(BENCH, "data"),
            "--cores", str(cores)]
    if stub_url:
        cmd += ["--stub", stub_url]
    if args.trace:
        traces = os.path.join(BENCH, "traces")
        os.makedirs(traces, exist_ok=True)
        cmd += ["--trace-out", os.path.join(traces, f"{args.workload}-{args.seed}.jsonl")]
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_") and k not in ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS")}
    env["SPARK_LOCAL_DIRS"] = tmp
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                         stderr=sys.stderr, text=True)
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"run exceeded {JVM_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(out)
        fail(f"harness exited with {p.returncode} and no result")
    print(lines[-1], file=sys.stderr)
    return json.loads(lines[-1][len("PERFBENCH_RESULT "):])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["etl_daily", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    build()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BENCH, "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    stub = None
    try:
        stub_url = None
        if args.workload != "queries":
            stub, stub_url = start_stub(args.seed, cores)
        r = run_jvm(args, work, stub_url, cores)
        attempted, failed = r["attempted"], r["failed"]
        if args.workload == "queries":
            a, f = results.check_queries(os.path.join(work, "results"),
                                         os.path.join(BENCH, "expected", "queries.json"))
            attempted += a
            failed += f
    finally:
        stop(stub)
        shutil.rmtree(work, ignore_errors=True)

    measured = dict(r["end_to_end"])
    wanted = spec["end_to_end"]
    if args.trace:
        # a layer the workload does not exercise did no work on it: its
        # counts, times and probes read 0
        measured = {m["name"]: 0.0 for m in spec["per_layer"]
                    if m["name"].startswith(IDLE_LAYERS[args.workload])}
        measured.update(r["per_layer"], error_rate=failed / attempted)
        wanted = spec["per_layer"]
    metrics = {}
    for m in wanted:
        v = measured.get(m["name"])
        if not isinstance(v, (int, float)):
            fail(f"metric {m['name']} was not measured ({v!r})")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
