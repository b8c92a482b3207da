#!/usr/bin/env python3
"""Run one workload of the VaR-chain benchmark from the root of a checkout.

    python3 varbench/run.py --workload mc-batch --seed 1 --seconds 12 --trace 0

Builds the benchmark (the library's sources plus varbench/src) into a jar
with sbt when the sources changed since the last build, together with a
class-data-sharing archive of the classes a run loads. Then runs one JVM
and prints two JSON lines on stdout: a context record (workload, seed,
cores, heap, Spark version, git SHA, source digest), then the benchmark
record as the last line. Everything it writes stays under varbench/target and varbench/work.
See varbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
JAR = os.path.join(HERE, "target", "varbench.jar")
# classes of Spark, Scala and the library as a run loads them, pre-parsed
# and verified: it cuts JVM and session start by a few seconds a run
CDS = os.path.join(HERE, "target", "varbench.jsa")
STAMP = os.path.join(HERE, "target", "varbench.stamp")

# tickers, indicators, business days, trials per run date (README.md says
# why these and not the reference shapes)
SHAPES = {
    "mc-batch": (27, 5, 521, 2000),
    "var-query": (27, 5, 521, 2000),
    "backtest": (100, 5, 2610, 250),
}
HEAP = "4g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 480
CDS_LIMIT_S = 120

# Spark 4 on JDK 17 outside spark-submit (same list as the library build)
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]


def log(msg):
    print(f"[varbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    tops = [LIB_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def java_cmd(spark_home, work, *jvm_flags):
    return ["java", *jvm_flags, f"-Xmx{HEAP}", f"-Xms{HEAP}", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false",
            *ADD_OPENS,
            "-cp", JAR + os.pathsep + os.path.join(spark_home, "jars", "*"),
            "varbench.Main"]


def run_jvm(cmd, work, limit_s):
    """Run the benchmark JVM in `work`, its output to work/jvm.log; the exit
    code, or None when it ran past `limit_s` and was killed."""
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def new_work(name):
    work = os.path.join(HERE, "work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    return work


def build(digest, spark_home):
    if os.path.exists(JAR) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log("building with sbt ...")
    t0 = time.time()
    res = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "-Dsbt.server.autostart=false", "package"],
                         cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=BUILD_LIMIT_S)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        log("build failed")
        sys.exit(3)
    # the archive: the classes a small var-query run loads (the chain, the
    # table write, every query kind, the checks), dumped when it exits
    for f in (CDS, STAMP):
        if os.path.exists(f):
            os.remove(f)
    work = new_work("cds")
    code = run_jvm(java_cmd(spark_home, work, f"-XX:ArchiveClassesAtExit={CDS}") + [
        "--workload", "var-query", "--seed", "1", "--seconds", "0", "--trace", "0",
        "--shape", "4,3,130,100", "--work", work, "--result", os.path.join(work, "result.json")],
        work, CDS_LIMIT_S)
    if code != 0 or not os.path.exists(CDS):
        log(f"no class-data archive (JVM exited with {code}); runs start without it")
    shutil.rmtree(work, ignore_errors=True)
    with open(STAMP, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.0f} s")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--shape", help="tickers,indicators,days,trials instead of the "
                    "workload's shape, e.g. 27,5,521,32000 for the reference batch")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(LIB_SRC, "graft", "risk")):
        log(f"no library sources under {os.path.relpath(LIB_SRC, ROOT)}: run from a full checkout")
        sys.exit(2)
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        log("SPARK_HOME must point at a Spark 4 installation")
        sys.exit(2)

    digest = source_digest()
    build(digest, spark_home)

    work = new_work(args.workload)
    result = os.path.join(work, "result.json")
    shape = args.shape.split(",") if args.shape else SHAPES[args.workload]
    cds = [f"-XX:SharedArchiveFile={CDS}"] if os.path.exists(CDS) else []
    cmd = java_cmd(spark_home, work, *cds) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--shape", ",".join(map(str, shape)),
        "--work", work, "--result", result]
    code = run_jvm(cmd, work, RUN_LIMIT_S)
    jvm_log = os.path.join(work, "jvm.log")
    if code != 0 or not os.path.exists(result):
        with open(jvm_log, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-60:]))
        log(f"benchmark JVM exited with {code}")
        sys.exit(4)

    with open(jvm_log, errors="replace") as fh:  # set-up and per-op times
        sys.stderr.write("".join(l for l in fh if l.startswith(("setup", "op ", "checks"))))
    with open(result) as fh:
        context, record = (json.loads(line) for line in fh.read().splitlines())
    if args.trace:
        kept = os.path.join(HERE, "work", f"trace-{args.workload}-{args.seed}.jsonl")
        shutil.copyfile(os.path.join(work, "trace.jsonl"), kept)
        context["trace_file"] = os.path.relpath(kept, ROOT)
    shutil.rmtree(work, ignore_errors=True)
    context["git_sha"] = git_sha()
    context["src_sha256"] = digest[:16]
    print(json.dumps(context, separators=(",", ":")))
    print(json.dumps(record, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
