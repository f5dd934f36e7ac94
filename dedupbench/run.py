#!/usr/bin/env python3
"""Dedup benchmark: one command per workload and seed.

    python3 dedupbench/run.py --workload <batch_base|batch_skew> \
        --seed <n> --seconds <n> --trace <0|1> [--cores <n>]

Run from the root of a checkout. The first run builds the program and the
benchmark harness from source with sbt (dedupbench/build.sbt) into
.bench_build/; later runs reuse that build while the sources are unchanged.
The harness (graftbench.DedupBench) generates the workload's corpus from the
seed, runs the DedupPipeline in one local Spark process, checks the clusters
against the generator's ground truth, and writes one JSON result, which this
script prints as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json; with
--trace 1 they are the per-layer ones, and the spans of the traced run are
written to .bench_build/traces/. The process exits 0 only when every
operation succeeded and every correctness check passed.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "dedupbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("batch_base", "batch_skew")
MAIN = "graftbench.DedupBench"
# Sources the benchmark runs: the program's own and the harness.
SOURCE_DIRS = (os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(BENCH, "src", "main", "scala"))
BUILD_FILES = (os.path.join(BENCH, "build.sbt"),
               os.path.join(BENCH, "project", "build.properties"))
JVM_OPTIONS = os.path.join(BENCH, "jvm.options")
REQUIRED = (os.path.join(ROOT, "src", "main", "scala", "graft", "dedup",
                         "DedupPipeline.scala"),
            os.path.join(ROOT, "src", "main", "scala", "graft", "synth",
                         "DeterministicCorpus.scala"))
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"dedupbench: {msg}", file=sys.stderr)
    sys.exit(code)


def parse_args(argv):
    p = argparse.ArgumentParser(description="Run one dedup benchmark workload.")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    # Spark's task threads: three, so that with the driver thread the run
    # keeps four cores busy (nproc = 4 where the baseline was measured)
    p.add_argument("--cores", type=int, default=3)
    a = p.parse_args(argv)
    if a.seed < 0:
        p.error(f"--seed must be >= 0, got {a.seed}")
    if not 1 <= a.seconds <= 600:
        p.error(f"--seconds must be in [1, 600], got {a.seconds}")
    nproc = os.cpu_count() or 1
    if not 1 <= a.cores <= nproc:
        p.error(f"--cores must be in [1, {nproc}] (this machine's cores), "
                f"got {a.cores}")
    return a


def source_stamp():
    h = hashlib.sha256()
    files = list(BUILD_FILES)
    for d in SOURCE_DIRS:
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout or
    interrupt and wait until it has ended."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except BaseException:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        raise


def jvm_options():
    with open(JVM_OPTIONS) as f:
        lines = [l.strip() for l in f]
    return [l for l in lines if l and not l.startswith("#")]


def build(stamp):
    """Compile the program and harness with sbt unless an up-to-date build
    exists; return the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    # digests recorded by an older build are not comparable with this one
    shutil.rmtree(os.path.join(BUILD, "digests"), ignore_errors=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    try:
        code, out = run_group(cmd, BUILD_TIMEOUT_S, cwd=BENCH, env=env,
                              stdout=subprocess.PIPE, stderr=sys.stderr,
                              stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        fail(f"build timed out after {BUILD_TIMEOUT_S} s", 3)
    sys.stderr.write(out)
    lines = [l.strip() for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or "classes" not in lines[-1]:
        fail(f"build failed (sbt exit code {code})", 3)
    with open(cp_file, "w") as f:
        f.write(lines[-1] + "\n")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return lines[-1]


def main(argv):
    # turn a termination request into SystemExit, so the harness's process
    # group is killed and the scratch stores are removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    a = parse_args(argv)
    missing = [os.path.relpath(f, ROOT) for f in REQUIRED if not os.path.isfile(f)]
    if missing:
        fail("run from the root of a checkout: missing " + ", ".join(missing), 3)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH", 3)
    if not os.environ.get("SPARK_HOME") and shutil.which("spark-submit") is None:
        fail("set SPARK_HOME or put Spark's spark-submit on PATH", 3)
    stamp = source_stamp()
    classpath = build(stamp)

    work = os.path.join(BUILD, "work", str(os.getpid()))
    result = os.path.join(BUILD, f"result-{os.getpid()}.json")
    trace_out = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json")
    jvm = jvm_options() + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(a.cores), "--work", work, "--result", result,
            "--digests", os.path.join(BUILD, "digests", stamp[:16])]
    if a.trace:
        args += ["--trace-out", trace_out]

    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        # the harness's stdout carries no result; keep ours for the JSON line
        code, _ = run_group(["java", *jvm, "-cp", classpath, MAIN, *args],
                            RUN_TIMEOUT_S, cwd=ROOT, env=env, stdout=sys.stderr,
                            stdin=subprocess.DEVNULL)
        if not os.path.exists(result):
            fail(f"the harness exited with code {code} and wrote no result", 1)
        with open(result) as f:
            res = json.loads(f.read())
    except subprocess.TimeoutExpired:
        fail(f"the harness timed out after {RUN_TIMEOUT_S} s", 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(result):
            os.remove(result)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result keys {sorted(res)}", 1)
    print(json.dumps(res))
    sys.exit(0 if res["correct"] and code == 0 else 1)


if __name__ == "__main__":
    main(sys.argv[1:])
