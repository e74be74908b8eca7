"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark sources (perfbench/src) with the Scala compiler that ships in the
Spark distribution's jars, into .bench_build/perfbench/perfbench.jar.

    python3 perfbench/build.py      # prints the jar's path

A build is skipped when a stamp over every source file, the compiler jar and
this file matches the last successful build.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
SCALA_VERSION = "2.13.17"


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jars dir: $SPARK_HOME/jars, else the one
    beside `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def sources():
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise BuildError("engine sources not found under " + ENGINE_SRC)
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    return files


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(SCALA_VERSION.encode())
    h.update(str(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def build():
    """Compile if needed; returns (jar path, source stamp)."""
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    jar = os.path.join(OUT, "perfbench.jar")
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.isfile(stamp_file) and os.path.isfile(jar):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                return jar, want
    # a new build invalidates everything derived from the old one
    shutil.rmtree(OUT, ignore_errors=True)
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp)
    compiler_cp = os.pathsep.join(
        os.path.join(jars, f"scala-{m}-{SCALA_VERSION}.jar")
        for m in ("compiler", "library", "reflect"))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-Djava.io.tmpdir=" + tmp, "-cp", compiler_cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", jar,
           "-cp", os.path.join(jars, "*")] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError("scalac failed with exit code %d" % r.returncode)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return jar, want


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
