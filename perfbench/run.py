#!/usr/bin/env python3
"""Build the engine and the benchmark from source, then run one workload.

    python3 perfbench/run.py --workload detect_protect --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The engine (src/main/scala) and the
benchmark (perfbench/src) are compiled together with the Scala compiler that
ships in Spark's jars directory, into $CARGO_TARGET_DIR (default
.bench_build); a stamp of the sources skips the build when nothing changed.
The last line of standard output is the run's JSON result; it is printed
only when the run succeeded.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HEAP = "2g"  # -Xms = -Xmx: a fixed heap
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars(root):
    """$SPARK_HOME/jars, else the jars directory build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    sys.exit("perfbench: no Spark jars directory (set SPARK_HOME)")


def sources(root):
    out = []
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, top)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, jars, out):
    """Compile into out/classes unless the stamp matches. Returns True if it built."""
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, "src/main/scala")) for s in srcs):
        sys.exit("perfbench: no engine sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(out, "stamp")
    classes = os.path.join(out, "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return False
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    scalac = [os.path.join(jars, j) for j in sorted(os.listdir(jars))
              if j.startswith(("scala-compiler_", "scala-compiler-", "scala-library", "scala-reflect"))]
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(scalac), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr, flush=True)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        sys.exit("perfbench: build failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed")
    ap.add_argument("--seconds")
    ap.add_argument("--trace", choices=["0", "1"])
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    root = os.getcwd()
    jars = spark_jars(root)
    out = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    out = os.path.join(root, out) if not os.path.isabs(out) else out
    os.makedirs(out, exist_ok=True)
    t0 = time.monotonic()
    built = build(root, jars, out)
    limit = (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - t0)

    tmp = os.path.join(root, ".bench_work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    here = os.path.dirname(os.path.abspath(__file__))
    # no hsperfdata file: it would land in /tmp, outside the checkout
    cmd = (["java", "-XX:-UsePerfData", "-Xms" + HEAP, "-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(here, "log4j2.properties"),
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", os.path.join(out, "classes") + os.pathsep + os.path.join(jars, "*"),
              "perfbench.Main"])
    cmd += ["--selftest"] if a.selftest else [
        "--workload", a.workload, "--seed", a.seed, "--seconds", a.seconds, "--trace", a.trace]

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    result = None
    deadline = time.monotonic() + max(limit, 30)
    try:
        for line in proc.stdout:
            if line.startswith('{"correct"'):
                result = line.rstrip("\n")
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
            if time.monotonic() > deadline:
                raise TimeoutError
        rc = proc.wait(timeout=max(deadline - time.monotonic(), 1))
    except (TimeoutError, subprocess.TimeoutExpired):
        proc.kill()
        proc.wait()
        sys.exit("perfbench: run exceeded its time limit")
    if rc != 0:
        sys.exit("perfbench: run failed with exit code %d" % rc)
    if a.selftest:
        return
    if result is None:
        sys.exit("perfbench: the run printed no result")
    r = json.loads(result)
    assert set(r) == {"correct", "attempted", "failed", "metrics"}, r.keys()
    print(result, flush=True)


if __name__ == "__main__":
    main()
