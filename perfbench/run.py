#!/usr/bin/env python3
"""Run one workload of graft's benchmark and print its result line.

    python3 perfbench/run.py --workload corpus|pubsub --seed N --seconds S \
        --trace 0|1 [--out DIR]
    python3 perfbench/run.py --bootstrap-digests FILE   (see bootstrap.sh)

Run it from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. The JVM prints one JSON line, which
is relayed as the last line of standard output. Everything else a run
writes goes under --out (default .bench_build/perfbench-out).
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
WORKLOADS = ("corpus", "pubsub")
RUN_LIMIT_S = 180
BUILD_LIMIT_S = 900
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build, so an unchanged checkout skips it."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_limited(cmd, limit_s, **kw):
    """Run cmd in its own process group; kill the whole group at limit_s."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=max(1.0, limit_s))
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(limit_s):
    """Compile with sbt and return the runtime classpath."""
    target = os.path.join(BENCH, "target")
    cp_file = os.path.join(target, "bench-classpath.txt")
    stamp_file = os.path.join(target, "bench-build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building the engine and the benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    code, _ = run_limited(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
        limit_s, cwd=BENCH, env=env, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.exists(cp_file):
        sys.exit("perfbench: build failed" if code is not None else "perfbench: build timed out")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=os.path.join(".bench_build", "perfbench-out"))
    ap.add_argument("--bootstrap-digests", metavar="FILE",
                    help="write the digests of the corpus queries to FILE instead")
    args = ap.parse_args()
    if not args.bootstrap_digests and (args.workload is None or args.seconds is None):
        ap.error("--workload and --seconds are required")

    started = time.monotonic()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.exit("perfbench: the engine's sources (build.sbt, src/main/scala/graft) "
                 "are not next to perfbench/; run from a checkout of the repository")
    cp = build(BUILD_LIMIT_S - 60)
    built = time.monotonic() - started > 30
    out = os.path.abspath(args.out)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--out", out,
            "--data", os.path.join(BENCH, "data", "sf0.01")]
    if args.bootstrap_digests:
        cmd += ["--bootstrap-digests", os.path.abspath(args.bootstrap_digests)]
        sys.exit(subprocess.run(cmd, stdin=subprocess.DEVNULL).returncode)
    cmd += ["--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--digests", os.path.join(BENCH, "digests", "sf0.01.tsv")]
    limit = (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - started) - 5
    try:
        code, stdout = run_limited(cmd, limit, stdout=subprocess.PIPE,
                                   stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(os.path.join(out, "spark-local"), ignore_errors=True)
    if code is None:
        sys.exit(f"perfbench: the {args.workload} run did not finish in time")
    lines = [l for l in stdout.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.exit(f"perfbench: the {args.workload} run failed (exit {code})")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("perfbench: malformed result line")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
