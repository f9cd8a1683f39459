#!/usr/bin/env python3
"""Run one workload of the repository benchmark and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run builds the program and the
benchmark from source with sbt (offline) into .bench_build/ and target/
directories; later runs reuse the build while no source file changed. Each run
starts one JVM with a fixed heap, runs the workload in one Spark session at
local[n] (n = the host's core count) and prints every metric by name with its
unit. The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. Run records (and, with --trace 1, the
spans) are written under .bench_build/runs/. See perfbench/NOTES.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
WORKLOADS = ("cashback_elt", "relational_queries", "corpus_operators")
# The module opens build.sbt gives forked runs: Spark on JDK 17 needs them
# when the session is not started through spark-submit.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_hash(root):
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]
    for top in tops:
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, cwd, env, timeout):
    """Run cmd in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} timed out after {timeout} s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def build(root, build_dir):
    """Compile with sbt once per source state; return the runtime classpath."""
    stamp = os.path.join(build_dir, "classpath.txt")
    digest = source_hash(root)
    if os.path.isfile(stamp):
        with open(stamp) as f:
            saved, cp = f.read().split("\n", 1)
        if saved == digest:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    code, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                           "compile", "export Runtime/fullClasspath"],
                          os.path.join(root, "perfbench"), env, BUILD_TIMEOUT_S)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out)
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(build_dir, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest + "\n" + cp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    root = os.getcwd()
    here = os.path.join(root, "perfbench")
    for need in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt", "perfbench/data/sf0.01"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the repository root of a full checkout")
    build_dir = os.path.join(root, ".bench_build", "perfbench")
    cp = build(root, build_dir)

    work = os.path.join(build_dir, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--data", os.path.join(here, "data", "sf0.01"),
        "--digests", os.path.join(here, "digests", "sf0.01.tsv"),
        "--work", work, "--out", os.path.join(build_dir, "runs")]
    try:
        code, out = run_group(cmd, root, dict(os.environ), RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = None
    if code == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(out)
        fail(f"benchmark exited with code {code} and no result")
    sys.stdout.write("\n".join(lines[:-1]) + "\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
