#!/usr/bin/env python3
"""Runs one benchmark workload against the library in the parent directory.

Usage (from the repository root):

    python3 perfbench/run.py --workload state --seed 1 --seconds 10 --trace 0

The first run in a checkout builds the library and the benchmark with sbt
(the benchmark is its own sbt build in this directory, with the repository
as a source dependency). Later runs reuse that build until a source file
changes. Each run starts one JVM on local[nproc] with the heap pinned to half
of RAM clamped to 2-8 GB, keeps every file it makes under perfbench/work/
(removed at exit), and prints as its last line one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics, or
with `--trace 1` the per-layer metrics. The line before it records the seed,
cores, heap and load average. The exit code is not 0 when a step failed or
the output does not match BENCHMARK.json.
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
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850


def fail(msg, code=1):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file that goes into the build, repository and benchmark."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles with sbt unless the sources match the last build."""
    runtime = os.path.join(HERE, "target", "runtime.txt")
    stamp_file = os.path.join(HERE, "target", "sources.sha256")
    want = stamp()
    if os.path.exists(runtime) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                return runtime
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx4g")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "exportRuntime"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        timeout=BUILD_LIMIT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout.decode(errors="replace")[-4000:])
        fail("build failed", 3)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(stamp_file, "w") as fh:
        fh.write(want + "\n")
    return runtime


def heap_gb():
    """Half of RAM, clamped to 2-8 GB."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return max(2, min(8, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    key = "per_layer" if trace else "end_to_end"
    return spec, {m["name"] for m in spec[key]}


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the library sources (../build.sbt, ../src) are not here", 2)
    try:
        spec, want = expected_metrics(a.trace == 1)
    except (OSError, ValueError, KeyError) as e:
        fail(f"cannot read BENCHMARK.json: {e}", 2)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}", 2)

    with open(build()) as fh:
        lines = fh.read().splitlines()
    start = time.time()
    classpath = lines[0]
    jvm_opts = [o for o in lines[1:] if o and not o.startswith("-Xmx")]

    work = os.path.join(HERE, "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trace_out = os.path.join(HERE, "out", f"trace-{a.workload}-{a.seed}.jsonl")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{heap_gb()}g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + \
        jvm_opts + ["-cp", classpath, "perfbench.Main",
                    "--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                    "--work", work, "--data", os.path.join(HERE, "data"),
                    "--trace-out", trace_out]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=max(10, RUN_LIMIT_S - (time.time() - start)))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("run timed out")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))

    text = out.decode(errors="replace").strip().splitlines()
    if not text:
        fail(f"no output (exit code {proc.returncode})")
    try:
        result = json.loads(text[-1])
    except ValueError:
        fail(f"last line is not JSON: {text[-1][:200]}")
    got = set(result.get("metrics", {}))
    if got != want:
        fail(f"metrics differ from BENCHMARK.json: missing {sorted(want - got)}, "
             f"extra {sorted(got - want)}")
    print("\n".join(text))
    sys.stdout.flush()
    if proc.returncode != 0 or not result.get("correct"):
        sys.exit(1)


if __name__ == "__main__":
    main()
