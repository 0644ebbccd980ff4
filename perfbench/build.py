"""Build file of the benchmark: compiles the engine's main sources together
with the benchmark's own sources into `perfbench/.build/classes`.

The Scala compiler and every runtime dependency come from the Spark jar
directory (`$SPARK_HOME/jars`, default `/opt/spark/jars`), the same jars
the engine's `build.sbt` compiles against, so nothing is fetched. The
build is skipped when its inputs have not changed since the last one.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "inputs.sha256")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def _sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: source directory {d} is missing")
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles if needed; returns the runtime classpath."""
    files = _sources()
    digest = _digest(files)
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", jars, "@" + args_file]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout)
        raise SystemExit(f"perfbench: compile failed ({proc.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    return classpath()


if __name__ == "__main__":
    print(build())
