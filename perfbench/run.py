#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload advise --seed 1 --seconds 20 --trace 0

Builds the library and the benchmark client with sbt (once per source
state; the classpath is cached under .bench_build/), generates the
workload's inputs from the seed, runs one closed-loop client for
`--seconds`, and prints every metric by name; the last line is one JSON
object {"correct", "attempted", "failed", "metrics"}. `--trace 1` runs the
traced variant and reports the per-layer metrics instead. The full record
(stamps, latencies, spans, Spark counters) goes to
.bench_build/results/<workload>-seed<seed>-trace<t>.json.

`--record` rewrites the committed expected outputs in perfbench/expected/
(run it with the default seed only after checking a change is intended).
"""
import argparse
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
sys.path.insert(0, HERE)
import gen  # noqa: E402

BUILD = ".bench_build"
DEFAULT_SEED = 1
# Inputs per workload: table scale factor and query-log size.
WORKLOADS = {
    "advise": dict(sf=0.01, log_rows=100_000, log_texts=3_000),
    "operator_surface": dict(sf=0.001, log_rows=0, log_texts=0),
}
GEN_REPEATS = 3
RUN_LIMIT_S = 170
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"] + [
    a for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
                "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
                "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar")
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main",
             "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build(src_sha):
    """Compile with sbt once per source state; return the runtime classpath."""
    cp_file = os.path.join(BUILD, f"classpath-{src_sha}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
        cwd="perfbench", env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=850)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def generate(workload, seed):
    """Generate the inputs GEN_REPEATS times; keep the first copy and report
    the median generation time."""
    size = WORKLOADS[workload]
    base = os.path.abspath(os.path.join(BUILD, "data", f"{workload}-seed{seed}"))
    shutil.rmtree(base, ignore_errors=True)
    times, digests = [], set()
    for k in range(GEN_REPEATS):
        t0 = time.perf_counter()
        digests.add(gen.generate(os.path.join(base, f"g{k}"), seed, size["sf"],
                                 size["log_rows"], size["log_texts"]))
        times.append(time.perf_counter() - t0)
    for k in range(1, GEN_REPEATS):
        shutil.rmtree(os.path.join(base, f"g{k}"))
    if len(digests) != 1:
        fail(f"input generation is not deterministic: {sorted(digests)}")
    print(f"inputs {workload} seed={seed} digest={digests.pop()}")
    return base, os.path.join(base, "g0"), statistics.median(times)


def main():
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala/graft")):
        fail("run from the repository root: the library sources are missing")
    src_sha = source_hash()
    cp = build(src_sha)
    # the run limit counts from here: the first run also builds
    started = time.monotonic()
    base, data, gen_s = generate(a.workload, a.seed)
    results = os.path.abspath(os.path.join(
        BUILD, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"))
    os.makedirs(os.path.dirname(results), exist_ok=True)
    # temporary files the library writes stay inside the checkout
    tmp = os.path.join(base, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Djava.io.tmpdir={tmp}"] + JVM_OPTS + ["-cp", cp, "perfbench.Main",
                                 "--workload", a.workload, "--data", data,
                                 "--results", results, "--seconds", str(a.seconds),
                                 "--trace", str(a.trace), "--seed", str(a.seed),
                                 "--gen-seconds", f"{gen_s:.6f}", "--source-sha", src_sha,
                                 "--keys", os.path.join(HERE, "surface.keys")]
    if a.seed == DEFAULT_SEED:
        cmd += ["--expected", os.path.join(HERE, "expected")]
    if a.record:
        if a.seed != DEFAULT_SEED:
            fail(f"--record needs the default seed {DEFAULT_SEED}")
        cmd.append("--record")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    # a client that hangs is killed, so the run still ends within its limit
    watchdog = threading.Timer(max(1.0, started + RUN_LIMIT_S - time.monotonic()), proc.kill)
    watchdog.start()
    last = ""
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                last = line
            else:
                print(line, flush=True)
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(base, ignore_errors=True)
    if proc.returncode != 0 or not last:
        fail(f"client exited with {proc.returncode} and no result")
    result = json.loads(last)
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
