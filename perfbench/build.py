#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala)
and the benchmark (perfbench/src) from source into .bench_build/classes
with the Scala compiler that ships in Spark's jar directory, the same
jars the program runs on. Rebuilds only when a source file changed.

    python3 perfbench/build.py      # prints the runtime classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]
RESOURCES = "src/main/resources"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark jar directory with a Scala compiler: "
                         "set SPARK_HOME")
    return jars


def sources():
    files = []
    for d in SOURCE_DIRS:
        found = sorted(glob.glob(os.path.join(ROOT, d, "**", "*.scala"),
                                 recursive=True))
        if not found:
            raise BuildError(f"no Scala sources under {d}: run from the "
                             "root of a full checkout")
        files += found
    return files


def classpath(classes, jars):
    return os.pathsep.join([classes, os.path.join(ROOT, RESOURCES),
                            os.path.join(jars, "*")])


def build():
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(OUT, "classes.sha256")
    classes = os.path.join(OUT, "classes")
    if os.path.isdir(classes) and os.path.exists(stamp) and \
            open(stamp).read() == digest.hexdigest():
        return classpath(classes, jars)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
           "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout)
        raise BuildError("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return classpath(classes, jars)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build: {e}")
