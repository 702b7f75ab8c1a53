#!/usr/bin/env python3
"""Run one benchmark workload against the code in this checkout.

    python3 aqpbench/run.py --workload aqp_interactive --seed 1 --seconds 15 --trace 0

Run it from the root of the repository. The first run compiles the
repository's main sources together with the harness (sbt, into
aqpbench/target) and later runs reuse that build until a source file
changes. The harness JVM prints a readable report and, as its last line,
one JSON object: {"correct", "attempted", "failed", "metrics"}. Untraced
runs (--trace 0) report the end-to-end metrics; traced runs (--trace 1)
report the per-layer metrics and write their spans under aqpbench/.work/spans.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")
STAMP = os.path.join(BENCH, "target", "build-stamp")
WORKLOADS = ["aqp_interactive", "ingest_mixed", "llm_pipeline"]
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840

# Spark 4 on JDK 17 needs these module openings outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"aqpbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


CHILD = None


def stop_child(signum, _frame):
    """Take the running build or harness down with this process."""
    if CHILD is not None and CHILD.poll() is None:
        os.killpg(CHILD.pid, signal.SIGKILL)
        CHILD.wait()
    sys.exit(128 + signum)


def spark_home():
    """SPARK_HOME, else the first spark-submit on PATH with a jars directory."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")


def run_bounded(cmd, limit_s, **kw):
    """Run cmd in its own process group; kill the group past limit_s."""
    global CHILD
    p = CHILD = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} exceeded {limit_s} s", 4)
    return p.returncode, out


def build():
    want = stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == want:
        return
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    code, out = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            BUILD_LIMIT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT)
    if code != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(out.decode(errors="replace")[-6000:])
        fail("build failed", 5)
    with open(STAMP, "w") as fh:
        fh.write(want)
    print(f"aqpbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no repository sources beside {BENCH} (expected build.sbt and src/main/scala/graft)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    build()

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={run_dir}/tmp"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "aqpbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", run_dir,
            "--spans", os.path.join(WORK, "spans")]
    code, out = run_bounded(cmd, RUN_LIMIT_S, cwd=ROOT, stdout=subprocess.PIPE)
    shutil.rmtree(run_dir, ignore_errors=True)
    text = out.decode(errors="replace")
    sys.stdout.write(text)
    sys.stdout.flush()
    if code != 0:
        fail(f"harness exited with {code}", code)
    last = text.strip().splitlines()[-1] if text.strip() else ""
    try:
        json.loads(last)
    except ValueError:
        fail("harness printed no result line", 6)


if __name__ == "__main__":
    main()
