#!/usr/bin/env python3
"""Runs one workload of the repository benchmark and prints its result.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: refscale_snapshot, history_backfill, query_mix (see
perfbench/NOTES.md). The first run in a checkout compiles the engine's
sources together with the benchmark harness (sbt, offline) into
perfbench/target; later runs reuse that build while the sources are
unchanged. The harness runs in one JVM, prints notes as "# ..." lines and,
as its last line, one JSON object with the keys correct, attempted, failed
and metrics. --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer metrics of a traced run; spans of a traced run are written to
perfbench/.out/.
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "sources.sha256")
WORKLOADS = ("refscale_snapshot", "history_backfill", "query_mix")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    """SHA-256 over every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, limit_s, **kw):
    """Runs cmd in its own process group; kills the group at the limit."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} exceeded {limit_s} s", 1)
    return proc.returncode, out


def build(deadline):
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    if shutil.which("sbt") is None:
        fail("sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    limit = max(1, min(BUILD_LIMIT_S, int(deadline - time.time())))
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
        limit, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if code != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(out.decode(errors="replace")[-4000:])
        fail("build failed", 1)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")


def java_cmd(classpath, work, args):
    cmd = ["java"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # A fixed-size heap: the harness collects before every op, and a heap
    # G1 may shrink after that collection made each op regrow it.
    return cmd + [
        "-Xms3g", "-Xmx3g", "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={work}",
        "-cp", classpath, "graft.perfbench.Main",
        "--work", work] + args


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC)}")
    started = time.time()
    build(started + BUILD_LIMIT_S)

    with open(CLASSPATH) as fh:
        classpath = fh.read().strip()
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(HERE, ".out")
    os.makedirs(out_dir, exist_ok=True)
    cmd = java_cmd(classpath, work, [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", out_dir,
        "--data", os.path.join(HERE, "data", "sf0.01"),
        "--sample", os.path.join(HERE, "query_sample.tsv"),
    ])
    os.makedirs(work, exist_ok=True)
    try:
        code, out = run_bounded(cmd, RUN_LIMIT_S, cwd=ROOT, stdout=subprocess.PIPE)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.decode(errors="replace").strip().splitlines()
    if code != 0 or not lines:
        fail(f"harness exited with code {code}", 1)
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail("harness printed no result line", 1)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line", 1)
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
