"""Build file of the session benchmark.

Compiles the engine (src/main/scala) together with the benchmark harness
(sessionbench/src) with the Scala compiler that ships in Spark's jars
directory (the one build.sbt compiles against), into .bench_build/classes
under the checkout. sbt is not
involved, so the build writes nothing outside the checkout and needs no
dependency resolution. A stamp over every source file's path and bytes
skips the compile when nothing changed.

Usage: python3 sessionbench/build.py   (run.py calls it before each run)
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]

# the JVM options build.sbt gives forked runs: Spark 4 on JDK 17 needs
# these opens when a SparkSession starts outside spark-submit
ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the `unmanagedBase` directory
    build.sbt compiles the engine against."""
    if "SPARK_HOME" in os.environ:
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        d = m.group(1) if m else ""
    if not os.path.isdir(d):
        raise SystemExit(f"sessionbench: Spark jars not found at '{d}' (set SPARK_HOME)")
    return sorted(os.path.join(d, j) for j in os.listdir(d) if j.endswith(".jar"))


def sources():
    found = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"sessionbench: missing source directory {d}")
        for dirpath, _, files in os.walk(d):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if the sources changed; return the classpath to run with.
    A lock file serializes runs that start together in one checkout."""
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build(log)


def _build(log):
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    stamp_file = os.path.join(CLASSES, ".stamp")
    cp = os.pathsep.join(jars)
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return CLASSES + os.pathsep + cp
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(["-nowarn", "-d", tmp, "-classpath", cp] + files) + "\n")
    print(f"sessionbench: compiling {len(files)} Scala files", file=log, flush=True)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
                        "scala.tools.nsc.Main",
                        "@" + argfile], stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"sessionbench: compile failed (exit {r.returncode})")
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(want)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return CLASSES + os.pathsep + cp


if __name__ == "__main__":
    build()
