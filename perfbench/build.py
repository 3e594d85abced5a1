"""Build file of the benchmark: compiles the engine's main sources and the
benchmark's own Scala sources with the Scala compiler that ships with
Spark's jars, into `.bench_build/perfbench/classes`.

The build is skipped when a stamp of every source file matches the last
build, so only the first run in a checkout pays for it. Spark's jars are
found through SPARK_HOME, else through the `unmanagedBase` line of the
repository's build.sbt.

Usage: python3 perfbench/build.py   (prints the classpath)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("Spark jars not found: set SPARK_HOME")


def sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"),
            os.path.join(ROOT, "perfbench", "scala")]
    for d in dirs:
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {d}")
    files = sorted(os.path.join(dp, f) for d in dirs
                   for dp, _, fs in os.walk(d) for f in fs
                   if f.endswith(".scala"))
    if not files:
        raise BuildError("no Scala sources")
    return files


def build(log=sys.stderr):
    """Compile if stale; return the classpath string."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp = CLASSES + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return cp
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    jcp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jcp,
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", jcp, "@" + argfile]
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with open(STAMP, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
