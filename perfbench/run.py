#!/usr/bin/env python3
"""Repository benchmark entry point.

Run from the repository root:

    python3 perfbench/run.py --workload transcripts --seed 1 --seconds 8 --trace 0

Builds the engine and the harness from source with sbt on first use (or
when any source changed), then runs one benchmark process with plain
`java`. Everything it writes stays under perfbench/ (target/ for the
build, work/ for inputs, scratch and traces). The last stdout line is
the result JSON; see perfbench/METRICS.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "work")
CLASSPATH = os.path.join(TARGET, "runtime-classpath.txt")
STAMP = os.path.join(TARGET, "perfbench-build.stamp")

BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: engine and harness sources."""
    h = hashlib.sha256()
    files = []
    for base in (ENGINE_SRC, os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                return
    log("building engine + harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and "SBT_OPTS" not in env:
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    code, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                         "compile", "writeClasspath"],
                        BUILD_TIMEOUT_S, cwd=HERE, env=env,
                        stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.exists(CLASSPATH):
        log(f"build failed (exit {code})")
        sys.exit(3)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def java_cmd(main_args):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed set of JIT compiler threads: none exits, so the CPU they
    # used stays readable (cpu_s excludes it; see METRICS.md)
    return (["java", *opens, "-Xmx4g", "-XX:-UseDynamicNumberOfCompilerThreads",
             f"-Djava.io.tmpdir={WORK}/tmp", "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main"]
            + main_args)


def fresh_work():
    """Empty the per-run scratch; keep earlier traces."""
    os.makedirs(WORK, exist_ok=True)
    for name in os.listdir(WORK):
        if name != "traces":
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        log(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
        sys.exit(2)

    build()
    fresh_work()
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", WORK]
    env = dict(os.environ)
    # keep Spark's scratch inside the work directory
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    try:
        code, out = run_group(java_cmd(args), RUN_TIMEOUT_S, cwd=WORK, env=env,
                              stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        log(f"benchmark process exceeded {RUN_TIMEOUT_S}s and was killed")
        sys.exit(4)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if code != 0:
        sys.stderr.write("\n".join(lines) + "\n")
        log(f"benchmark process failed (exit {code})")
        sys.exit(5)
    result = json.loads(lines[-1]) if lines else {}
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        log("benchmark process printed no result line")
        sys.exit(6)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
