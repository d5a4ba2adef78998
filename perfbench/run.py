#!/usr/bin/env python3
"""One command for graft's benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a graft checkout. It builds the benchmark (the
repository's main sources plus perfbench/src) with sbt when the sources
changed since the last build, then launches one JVM that runs the named
workload and prints one JSON result as the last line of standard output.
Everything it writes stays under perfbench/target and perfbench/out.
See perfbench/README.md for the workloads, metrics and traced runs.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

WORKLOADS = ("kg_build", "training", "near_dup", "graph_iter", "ann_search")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
STAMP = os.path.join(BENCH, "target", "perfbench-classpath.json")

JDK17_ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    """Hash of every input to the build, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    roots = [MAIN_SRC, os.path.join(BENCH, "src", "main"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group
    (sbt forks a JVM) and wait for it, so nothing outlives this script."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} exceeded {timeout} s")
    return p.returncode, out


def build():
    fp = source_fingerprint()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("fingerprint") == fp:
            return stamp["classpath"]
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"])
    print("perfbench: building (sbt compile)", file=sys.stderr)
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE,
        stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    classpath = lines[-1].strip()
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": classpath}, fh)
    return classpath


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(MAIN_SRC, "graft")):
        fail("no graft sources under src/main/scala; run from a repository checkout")
    if not os.path.isfile(os.path.join(BENCH, "build.sbt")):
        fail("perfbench/build.sbt missing")
    classpath = build()
    tmp = os.path.join(BENCH, "out", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JDK17_ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", os.path.join(BENCH, "out")]
    code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT,
                          stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                          text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if code != 0 or not lines:
        fail(f"benchmark JVM exited with {code}")
    print(lines[-1])


if __name__ == "__main__":
    main()
