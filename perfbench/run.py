#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload etl_docs --seed 1 --seconds 12 --trace 0

Builds the engine sources (src/main/scala) together with the harness
(perfbench/src) with the Scala compiler that ships in Spark's jar
directory, caches the classes under perfbench/.build keyed by a hash of
every source file, then runs the harness in one JVM. The last line of
standard output is the result JSON; the line before it is the run's
record (run quality, warm-up, content hashes). Exits non-zero, without a
result, when the build or the run fails.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(HERE, ".build")
EXPECTED = os.path.join(HERE, "expected", "registry_sync_round.tsv")
WORKLOADS = ("etl_docs", "registry_sync_round")
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark 4 on JDK 17 needs these when the session is made outside
# spark-submit; the same list as the project's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("cannot find Spark's jars (set SPARK_HOME)")


def sources():
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compiled classes dir, rebuilt when any source or jar changes."""
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC)}")
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(BUILD, ignore_errors=True)
    tmp = os.path.join(BUILD, "classes.tmp")
    os.makedirs(tmp)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    t = time.time()
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={BUILD}", "-cp", cp, "scala.tools.nsc.Main",
         "-d", tmp, "-classpath", cp, "@" + args_file],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed", 3)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t:.1f} s",
          file=sys.stderr)
    return classes


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--record-expected", action="store_true",
                    help="rewrite the registry fingerprints from this tree")
    a = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
              # C1 only: C2 kept compiling for minutes, so after the one
              # warm-up pass the time budget allows, 10-15 s of compiles fell
              # inside each ~10 s window and set the spread of pass_s
              "-XX:TieredStopAtLevel=1",
              "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
              "-cp", os.pathsep.join([classes, ENGINE_RES, os.path.join(jars, "*")]),
              "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", work, "--cores", str(cores()), "--expected", EXPECTED,
              "--record", "1" if a.record_expected else "0"])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still holds its directory there
    lines = out.splitlines()
    if proc.returncode != 0:
        sys.stdout.write("\n".join(l for l in lines if not l.startswith("{")) + "\n")
        fail(f"run exited with {proc.returncode}", 5)
    if a.record_expected:
        return
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        fail("run printed no result line", 6)
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
