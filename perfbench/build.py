"""Build file of the benchmark: compiles the engine's sources (the repo's
src/main/scala) together with the benchmark client (perfbench/src) into one
class directory, with the Scala compiler that ships among the Spark jars.

Usage: python3 perfbench/build.py   (run.py calls build() itself)

The output goes to <checkout>/.bench_build/classes and is rebuilt only when
a source file, or the Spark jar set, changes.
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
CLASSES = os.path.join(BUILD, "classes")


class BuildError(Exception):
    pass


def spark_jars():
    """The directory of the Spark jars the engine compiles against:
    $SPARK_HOME/jars, else the build's `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("Spark jars not found: set SPARK_HOME")


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError("engine sources missing: %s" % ENGINE_SRC)
    found = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    found += sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    return found


def classpath():
    return os.pathsep.join([CLASSES, ENGINE_RES, os.path.join(spark_jars(), "*")])


def build(log=sys.stderr):
    """Compile if needed; return the runtime classpath."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in srcs + sorted(os.listdir(jars)):
        h.update(f.encode())
        if f.endswith(".scala"):
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp_file = os.path.join(BUILD, "classes.stamp")
    stamp = h.hexdigest()
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    print("building %d sources ..." % len(srcs), file=log, flush=True)
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", CLASSES, "-cp", cp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("compile failed:\n" + r.stdout[-4000:])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath()


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
