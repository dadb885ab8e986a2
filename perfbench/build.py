"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's own JVM sources into ``perfbench/.build/classes``.

    python3 perfbench/build.py

Run from the repository root. It uses the Scala compiler and the Spark jars
that ship under ``$SPARK_HOME/jars`` or, when SPARK_HOME is unset, in the
directory the sbt build names as ``unmanagedBase``: the jars the sbt build
compiles against, so it needs no dependency resolution. A stamp over every
source file's path and content skips the compile when nothing changed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    with open("build.sbt") as f:
        return os.path.join(re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read()).group(1), "*")


def sources(root):
    found = []
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "scala")):
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(found)


def classpath():
    return CLASSES + os.pathsep + spark_jars()


def build(root):
    """Compile if any source changed; return the runtime classpath."""
    srcs = sources(root)
    if not glob.glob(os.path.join(root, "src", "main", "scala", "graft", "*.scala")):
        raise SystemExit("perfbench: graft sources not found under src/main/scala "
                         "(run from the repository root)")
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", spark_jars()] + srcs
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        raise SystemExit(f"perfbench: compile failed (exit {proc.returncode})")
    with open(STAMP, "w") as f:
        f.write(stamp)
    return classpath()


if __name__ == "__main__":
    print(build(os.getcwd()))
