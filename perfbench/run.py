#!/usr/bin/env python3
"""Build and run the whisperspark benchmark.

    python3 perfbench/run.py --workload dashboard|corpus --seed N \
        --seconds S --trace 0|1

Builds the engine and the benchmark from source with sbt (cached by a hash
of the sources), runs one workload in one JVM on local[N] with
N = min(4, nproc), and prints two JSON lines: the record (host stamp, input
hash, samples, checks), then the result with the keys correct, attempted,
failed and metrics. Records are also kept in perfbench/out/.
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
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "work")
OUT = os.path.join(HERE, "out")
WORKLOADS = ("dashboard", "corpus")
HEAP = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


BUILD_FILES = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
               os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]


def source_files():
    """Every file the build reads: the engine's sources and build, and ours."""
    files = list(BUILD_FILES)
    for r in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compile with sbt unless the cached build matches the sources; returns
    (classpath, source hash)."""
    if not all(map(os.path.isfile, BUILD_FILES)) or not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources not found next to perfbench/ (need ../build.sbt and ../src/main/scala)")
    stamp = os.path.join(TARGET, "perfbench-build.json")
    digest = source_hash(source_files())
    try:
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached["hash"] == digest:
            return cached["classpath"], digest
    except (OSError, ValueError, KeyError):
        pass
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false", "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("sbt build timed out", 3)
    lines = [l.strip() for l in p.stdout.splitlines()]
    cps = [l for l in lines if os.pathsep in l and ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:])
        fail("sbt build failed", 3)
    os.makedirs(TARGET, exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"hash": digest, "classpath": cps[-1]}, fh)
    return cps[-1], digest


def git_head():
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as fh:
            head = fh.read().strip()
        if head.startswith("ref: "):
            ref = head[5:]
            path = os.path.join(ROOT, ".git", ref)
            if os.path.isfile(path):
                with open(path) as fh:
                    return fh.read().strip()
            with open(os.path.join(ROOT, ".git", "packed-refs")) as fh:
                for line in fh:
                    if line.strip().endswith(" " + ref):
                        return line.split()[0]
        return head
    except OSError:
        return "none"


def expected_metrics(traced):
    """Metric names BENCHMARK.json declares for this mode, if it is there."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except (OSError, ValueError):
        return None
    return [m["name"] for m in spec["per_layer" if traced else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath, digest = build()
    cores = min(4, os.cpu_count() or 1)
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.jsonl")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        # fixed, pre-touched heap: mem_mb leaves it out and counts native
        # memory and the live heap, not when the collector grew the heap
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
        # keeps the JVM from writing its perf-data file outside the checkout
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--cores", str(cores), "--work", work, "--out", out,
    ]
    started = time.time()
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=sys.stderr, stderr=sys.stderr)

    def stop(code, msg):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(msg, code)

    signal.signal(signal.SIGTERM, lambda *_: stop(143, "terminated"))
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop(4, f"run exceeded {RUN_TIMEOUT_S} s")
    except KeyboardInterrupt:
        stop(130, "interrupted")
    try:
        with open(out) as fh:
            record_line, result_line = fh.read().splitlines()[:2]
    except (OSError, ValueError):
        record_line = result_line = None
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or result_line is None:
        fail(f"benchmark program failed (exit {rc})", 5)

    record = json.loads(record_line)
    result = json.loads(result_line)
    expected = expected_metrics(args.trace == 1)
    if expected is not None and list(result["metrics"]) != expected:
        fail(f"metric names differ from BENCHMARK.json: {sorted(set(expected) ^ set(result['metrics']))}", 6)
    record.update({"nproc": os.cpu_count(), "git_head": git_head(), "source_hash": digest,
                   "run_wall_s": round(time.time() - started, 3)})
    os.makedirs(OUT, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json"
    with open(os.path.join(OUT, name), "w") as fh:
        json.dump({"record": record, "result": result}, fh, indent=1)
    print(json.dumps(record))
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
