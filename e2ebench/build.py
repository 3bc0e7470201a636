"""Build file of the benchmark: compiles the program's sources together with
the benchmark's own (src/) into .build/classes with the Scala compiler and
the jars of the Spark install. Skips the compile when nothing changed.

Usage: python3 e2ebench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def spark_jars():
    """The jars of the Spark install: $SPARK_HOME/jars, else the install
    that holds the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("build: set SPARK_HOME or put spark-submit on PATH")
    return os.path.join(home, "jars")


JARS = spark_jars()
OUT = os.path.join(BENCH, ".build")
CLASSES = os.path.join(OUT, "classes")
SCALAC_FLAGS = ["-deprecation", "-nowarn", "-usejavacp:false"]


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    if not program:
        raise SystemExit(f"build: no program sources under {ROOT}/src/main/scala")
    own = sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    return program + own


def classpath():
    return CLASSES + os.pathsep + os.path.join(JARS, "*")


def build():
    srcs = sources()
    h = hashlib.sha256(" ".join(SCALAC_FLAGS).encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath()
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    shutil.rmtree(CLASSES, ignore_errors=True)  # no stale classes of deleted sources
    os.makedirs(CLASSES)
    compiler = [os.path.join(JARS, f"scala-{p}-2.13.17.jar") for p in ("compiler", "library", "reflect")]
    for j in compiler:
        if not os.path.exists(j):
            raise SystemExit(f"build: missing {j}")
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2500m", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", *SCALAC_FLAGS, "-classpath", os.path.join(JARS, "*"),
           "-d", CLASSES, "@" + args_file]
    with open(os.path.join(OUT, "build.log"), "w") as log:
        rc = subprocess.call(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=850)
    if rc != 0:
        sys.stderr.write(open(os.path.join(OUT, "build.log")).read()[-4000:])
        raise SystemExit(f"build: scalac exited with {rc}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath()


if __name__ == "__main__":
    print(build())
