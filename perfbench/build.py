"""Build file of the benchmark: compiles graft (`src/main/scala`) together
with the benchmark's own Scala sources (`perfbench/src`) into one class
directory under `.bench_build/`, with the Scala compiler and the Spark jars
that ship in `$SPARK_HOME/jars`. A build is keyed by a digest of every
source file, so an unchanged tree is compiled once.

    python3 perfbench/build.py        # prints the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD_DIR = os.path.join(REPO, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        raise BuildError("SPARK_HOME/jars not found; set SPARK_HOME to a Spark 4.1 install")
    return jars


def sources():
    roots = [os.path.join(REPO, "src", "main", "scala"), os.path.join(HERE, "src")]
    for r in roots:
        if not os.path.isdir(r):
            raise BuildError(f"missing source directory {os.path.relpath(r, REPO)}")
    found = []
    for r in roots:
        for d, _, files in os.walk(r):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Compile if needed; returns the class directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, REPO).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".ok")):
        return classes
    tmp = f"{classes}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = os.pathsep.join(os.path.join(jars, j) for j in sorted(os.listdir(jars))
                               if j.startswith(("scala-compiler", "scala-library",
                                                "scala-reflect")))
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main", "-d", tmp, "-classpath", os.path.join(jars, "*"),
           "-nowarn", "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    open(os.path.join(tmp, ".ok"), "w").close()
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    for old in os.listdir(BUILD_DIR):  # builds of earlier source trees
        if old.startswith("classes-") and os.path.join(BUILD_DIR, old) != classes:
            shutil.rmtree(os.path.join(BUILD_DIR, old), ignore_errors=True)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
