#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload suite-sf0.001 --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run in a checkout builds the engine
and the benchmark program with sbt (`perfbench/build.sbt`); later runs reuse
the build while no source file has changed. Everything the build and the
run write goes under `.bench_build/` in the checkout.

The last line is one JSON object: `correct`, `attempted`, `failed` and
`metrics` (end-to-end metrics with `--trace 0`, per-layer metrics with
`--trace 1`). The exit code is 0 only when every output check passed.

`--break-digest QUERY` corrupts that query's expected digest: the run must
then report the mismatch and exit non-zero (a self-test of the check).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "sources.sha256")

RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
HEAP = "3g"

# The workloads `perfbench.Main` defines, in the order `--workload all` runs them.
WORKLOADS = ["suite-sf0.001", "color-rg100k"]

# Spark on JDK 17 needs these when the JVM is not started by spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def source_files():
    """Every file the build reads: the engine's build and sources, and ours."""
    for top in ("build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"):
        path = os.path.join(ROOT, top)
        if os.path.isfile(path):
            yield path
        for d, dirs, files in os.walk(path):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties", ".java")):
                    yield os.path.join(d, f)


def sources_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the recorded build matches the sources."""
    digest = sources_hash()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    print("[perfbench] building engine and benchmark with sbt", flush=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export perfbench/Runtime/fullClasspath"],
        cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_LIMIT_S)
    lines = [l.strip() for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("perfbench: build failed")
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1])
    with open(STAMP, "w") as f:
        f.write(digest)
    print(f"[perfbench] build took {time.time() - t0:.1f} s", flush=True)


def java(args, scratch):
    """The benchmark JVM's command line."""
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    # A fixed-size heap and the throughput collector: the heap never resizes
    # mid-run, and no concurrent GC threads compete with the four task
    # threads. Both narrowed the run-to-run spread of the suite on 4 cores.
    cmd = ["java", "-XX:+UseParallelGC", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Main"] + args


def run_one(workload, seed, seconds, trace, break_digest, scratch):
    """One benchmark JVM for one workload: (exit code, result line or None)."""
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    result = os.path.join(scratch, "result.json")
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", trace, "--root", ROOT, "--scratch", scratch, "--result", result]
    if break_digest:
        args += ["--break-digest", break_digest]
    proc = subprocess.Popen(java(args, scratch), cwd=ROOT)
    try:
        code = proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: {workload} exceeded {RUN_LIMIT_S} s", file=sys.stderr)
        return 1, None
    if not os.path.exists(result):
        print(f"perfbench: {workload} failed (exit {code}) without a result", file=sys.stderr)
        return code or 1, None
    with open(result) as f:
        return code, f.read().strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", help=f"one of {', '.join(WORKLOADS)}, or all")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--break-digest")
    ap.add_argument("--record", metavar="CORPUS",
                    help="write perfbench/expected/CORPUS.digests for every local query "
                         "from this build's outputs (only on code that passed the DuckDB oracle)")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no engine sources next to the benchmark")
    build()

    scratch = os.path.join(BUILD, "run")
    if a.record:
        shutil.rmtree(scratch, ignore_errors=True)
        os.makedirs(os.path.join(scratch, "tmp"))
        out = os.path.join(BENCH, "expected", f"{a.record}.digests")
        corpus = os.path.join(BENCH, "corpus", a.record)
        sys.exit(subprocess.call(java(["record", corpus, out], scratch), cwd=ROOT))
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")

    if a.workload != "all":
        code, line = run_one(a.workload, a.seed, a.seconds, a.trace, a.break_digest, scratch)
        if line is None:
            sys.exit(code or 1)
        sys.stdout.flush()
        print(line, flush=True)
        sys.exit(code)

    # Every workload in turn; the last line merges them, metric names
    # prefixed by the workload.
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    worst = 0
    for w in WORKLOADS:
        code, line = run_one(w, a.seed, a.seconds, a.trace, a.break_digest, scratch)
        worst = worst or code
        if line is None:
            merged["correct"] = False
            continue
        print(f"[perfbench] {w}: {line}", flush=True)
        r = json.loads(line)
        merged["correct"] = merged["correct"] and r["correct"]
        merged["attempted"] += r["attempted"]
        merged["failed"] += r["failed"]
        merged["metrics"].update({f"{w}.{k}": v for k, v in r["metrics"].items()})
    print(json.dumps(merged), flush=True)
    sys.exit(worst or (0 if merged["correct"] else 1))


if __name__ == "__main__":
    main()
